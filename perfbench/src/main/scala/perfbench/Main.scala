package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.engine.{Caches, Sessions}

/** The repository benchmark: one seeded workload per run, closed loop,
  * one client, sequential.
  *
  * Untraced (`--trace 0`) a run starts a session three times (the median,
  * plus the index builds of the index workload, is `setup_s`), then does
  * the workload's fixed, seeded sequence of operations and reports the
  * end-to-end metrics. There is no separate warm pass: the first
  * operations run in a fresh JVM, as a scheduled batch job does, and the
  * medians keep most warm-up out of the per-step figures. Traced
  * (`--trace 1`) a run does a fixed suite with a `SparkListener` and a
  * `QueryExecutionListener` attached (see [[Traced]]) and reports the
  * per-span counters.
  *
  * Usage: Main --workload <medallion|index_lifecycle> --seed n --trace 0|1
  *   --data dir --expected file --root dir --out file
  *   | Main --selftest
  */
object Main {
  val workloads: Seq[String] = Seq("medallion", "index_lifecycle")

  /** Backfill shape: coins × days hourly ticks. */
  val coins = 300
  val backfillDays = 20
  /** Incremental days after the backfill, in every run; the first is a
    * warm-up day, left out of `step_s` because it is the first run of
    * the day-sized plans in the JVM.
    */
  val dayBatches = 6

  final case class Args(workload: String, seed: Long, trace: Boolean,
                        data: String, expected: String, root: String, out: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    // the arithmetic every metric rests on; microseconds, so every run checks it
    SelfTest.run()
    if (argv.contains("--selftest")) return
    val a = Args(kv("--workload"), kv("--seed").toLong, kv("--trace") == "1",
      kv("--data"), kv("--expected"), kv("--root"), kv("--out"))
    require(workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val result = if (a.trace) Traced.run(a) else untraced(a)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), result)
  }

  // ---------------------------------------------------------------- session

  val cores: Int = Runtime.getRuntime.availableProcessors()

  def session(root: String): SparkSession = {
    val s = Sessions.tune(SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse"),
      shufflePartitions = cores).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    Caches.releaseAll()
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  // ---------------------------------------------------------------- host

  /** Fixed-work single-core spin, as `graft.Bench` calibrates: seconds
    * on an idle host are constant, so an inflated reading marks a
    * contended run.
    */
  def spin(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L; var i = 0
    while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Cumulative CPU stall microseconds from `/proc/pressure/cpu`
    * (`some` line), or -1 where the kernel has no PSI.
    */
  def cpuPressureUs(): Long =
    try {
      val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/pressure/cpu"))
        .get(0)
      line.split(" ").find(_.startsWith("total=")).map(_.drop(6).toLong).getOrElse(-1L)
    } catch { case _: Throwable => -1L }

  /** Seconds the JVM has spent in garbage collection so far. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3
  }

  /** Heap in use after a forced collection, in MB. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  def treeBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val walk = java.nio.file.Files.walk(p)
      try walk.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally walk.close()
    }
  }

  /** Reads every byte of the data files once, so timed scans hit the
    * page cache.
    */
  def warmPageCache(dataDir: String): Unit = {
    val buf = new Array[Byte](1 << 20)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dataDir))
    try walk.filter(_.toString.endsWith(".parquet")).forEach { p =>
      val in = java.nio.file.Files.newInputStream(p)
      try while (in.read(buf) >= 0) () finally in.close()
    } finally walk.close()
  }

  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s] $msg")

  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // ---------------------------------------------------------------- untraced run

  /** Operation bookkeeping: every timed operation and every output check
    * is attempted once; one that throws or finds a wrong output counts as
    * failed, so `failed` never exceeds `attempted`.
    */
  final class Ops {
    var attempted = 0L
    var failed = 0L
    val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty[String]
    /** Runs one timed operation; returns its seconds, or None if it threw. */
    def timed(what: String)(body: => Unit): Option[Double] = {
      attempted += 1
      try {
        val t = secondsOf(body)._2
        log(f"$what: $t%.3f s")
        Some(t)
      } catch { case e: Throwable =>
        failed += 1
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        log(s"FAILED $what: $e")
        None
      }
    }
    /** Runs one output check, outside any timed window; `found` lists
      * the wrong outputs it found.
      */
    def checked(what: String)(found: => Seq[String]): Unit = {
      attempted += 1
      val wrong = try found catch { case e: Throwable => Seq(s"$what: $e") }
      if (wrong.nonEmpty) { failed += 1; failures ++= wrong }
    }
  }

  final case class Metric(name: String, value: Double, unit: String)

  private def untraced(a: Args): String = {
    val spinBefore = spin()
    val psi0 = cpuPressureUs()
    val jvmUp = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val ops = new Ops
    val (metrics, info) = a.workload match {
      case "medallion" => medallionRun(a, ops)
      case "index_lifecycle" => indexRun(a, ops)
    }
    log("workload done")
    val gcS = gcSeconds()
    val psi1 = cpuPressureUs()
    val spinAfter = spin()
    val host = Seq("jvm_start_s" -> jvmUp, "spin_before_s" -> spinBefore,
      "spin_after_s" -> spinAfter,
      "cpu_pressure_delta_s" -> (if (psi0 < 0 || psi1 < 0) -1.0 else (psi1 - psi0) / 1e6),
      "gc_s" -> gcS, "cores" -> cores.toDouble,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    Json.result(ops, metrics, info, host)
  }

  /** Set-up: three repetitions of a fresh session plus `prepare`, whose
    * median is added to the one-off `build` (the index builds, for the
    * index workload). Returns the live session of the last repetition,
    * what `build` made, `setup_s`, and its parts.
    */
  private def setup[T](a: Args, prepare: SparkSession => Unit)(build: SparkSession => T): (SparkSession, T, Double, Map[String, Double]) = {
    var spark: SparkSession = null
    val reps = (1 to 3).map { _ =>
      if (spark != null) stop(spark)
      secondsOf { spark = session(a.root); spark.range(1).count(); prepare(spark) }._2
    }
    log(f"session starts ${reps.mkString(" ")}")
    val (built, buildS) = secondsOf(build(spark))
    log(f"built in $buildS%.2f s")
    (spark, built, SpanMath.median(reps) + buildS, Map("setup_session_median_s" -> SpanMath.median(reps),
      "setup_session_max_s" -> reps.max, "setup_build_s" -> buildS))
  }

  private def medianOrNaN(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else SpanMath.median(xs)

  private def medallionRun(a: Args, ops: Ops): (Seq[Metric], Map[String, Double]) = {
    val noTrace = new Tracer
    val (spark, _, setupS, setupInfo) = setup(a, _ => ())(_ => ())
    val m = new Medallion(spark, s"${a.root}/medallion", a.seed, coins, backfillDays, noTrace)
    var ticks = 0L
    val backfill = ops.timed("backfill") { ticks = m.backfill() }
    val days = (1 to dayBatches).map(i => ops.timed(s"day $i") { m.day() })
    log("timed work done")
    ops.checked("medallion check")(m.check())
    log("checked")
    val stored = m.storedBytes.toDouble / m.ticksIngested
    val heap = liveHeapMb()
    stop(spark)
    val backfillS = backfill.getOrElse(Double.NaN)
    val dayS = medianOrNaN(days.drop(1).flatten)
    val metrics = Seq(Metric("setup_s", setupS, "s"), Metric("bulk_s", backfillS, "s"),
      Metric("step_s", dayS, "s"), Metric("live_heap_mb", heap, "MB"))
    (metrics, setupInfo ++ Map("backfill_ticks_per_s" -> ticks / backfillS,
      "day_batch_s" -> dayS, "stored_bytes_per_tick" -> stored,
      "backfill_ticks" -> ticks.toDouble, "days" -> days.flatten.size.toDouble))
  }

  /** Page-cache warm, then one load and count of each named table. */
  private def loadTables(s: SparkSession, data: String, names: Seq[String]): Unit = {
    warmPageCache(data)
    names.foreach(t => graft.Tables.load(s, data, t).count())
  }

  private def indexRun(a: Args, ops: Ops): (Seq[Metric], Map[String, Double]) = {
    val noTrace = new Tracer
    val (spark, idx, setupS, setupInfo) = setup(a,
        loadTables(_, a.data, Seq("documents", "embeddings"))) { s =>
      val il = new IndexLifecycle(s, a.data, s"${a.root}/index", a.seed, noTrace)
      il.build()
      il
    }
    val appends = mutable.ArrayBuffer.empty[Double]
    val probes = mutable.ArrayBuffer.empty[Double]
    val forgets = mutable.ArrayBuffer.empty[Double]
    (1 to IndexLifecycle.commitsPerRun).foreach { _ =>
      ops.timed("append") { idx.append() }.foreach(appends += _)
      ops.timed("probe") { idx.probe() }.foreach(probes += _)
      ops.timed("forget") { idx.forget() }.foreach(forgets += _)
    }
    ops.checked("index checks")(idx.failures.toSeq)
    val bytesPerDoc = idx.indexBytes.toDouble / idx.liveDocs
    val heap = liveHeapMb()
    stop(spark)
    val forgetS = if (forgets.isEmpty) Double.NaN else SpanMath.mean(forgets.toSeq)
    val metrics = Seq(Metric("setup_s", setupS, "s"), Metric("bulk_s", forgetS, "s"),
      Metric("step_s", medianOrNaN(appends.zip(probes).map { case (x, y) => x + y }.toSeq), "s"),
      Metric("live_heap_mb", heap, "MB"))
    (metrics, setupInfo ++ Map("append_s" -> medianOrNaN(appends.toSeq),
      "probe_s" -> medianOrNaN(probes.toSeq), "forget_cycle_s" -> forgetS,
      "index_bytes_per_doc" -> bytesPerDoc, "commits" -> forgets.size.toDouble))
  }
}
