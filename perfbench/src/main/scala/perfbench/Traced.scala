package perfbench

import org.apache.spark.sql.SparkSession

/** The traced run: one fixed suite that covers all 15 spans, whatever
  * the workload, so that every traced run reports every per-layer metric
  * and count counters can repeat exactly between two runs at one seed.
  * Like the untraced runs, the suite starts in a fresh JVM. The tracing
  * overhead is then read on the job-densest operations (a day, each
  * market query), each run untraced and traced in alternating order.
  * Every output, the overhead passes' included, is checked.
  */
object Traced {
  /** The published spans, in metric order. */
  val spans: Seq[String] = Seq("ingest", "clean", "compact", "gold", "export",
    "day.ingest", "day.clean", "day.compact", "day.gold", "day.export",
    "market", "corpus", "append", "probe", "forget")

  /** Runs one analytics query under `span` of `tr` and checks its
    * (rows, hash) against the recorded values.
    */
  private def query(spark: SparkSession, a: Main.Args, q: String, tr: Tracer, span: String,
                    expected: Map[String, (Long, BigDecimal)], ops: Main.Ops): Unit = {
    val got = tr.span(span) { Analytics.contentHash(Analytics.run(spark, a.data, q)) }
    ops.checked(q) {
      if (expected.get(q).contains(got)) Nil
      else Seq(s"$q: (rows, hash) $got, recorded ${expected.get(q)}")
    }
    Analytics.release(spark)
  }

  /** The suite under `tr`: a backfill and a day, one pass of both
    * analytics families, the index builds and the untraced runs'
    * commits. Returns the medallion and the index, checked later.
    */
  private def suite(spark: SparkSession, a: Main.Args, root: String, tr: Tracer,
                    expected: Map[String, (Long, BigDecimal)],
                    ops: Main.Ops): (Medallion, IndexLifecycle) = {
    val m = new Medallion(spark, s"$root/medallion", a.seed, Main.coins, Main.backfillDays, tr)
    m.backfill()
    m.day()
    Analytics.families.foreach { case (fam, qs) => qs.foreach(query(spark, a, _, tr, fam, expected, ops)) }
    val il = new IndexLifecycle(spark, a.data, s"$root/index", a.seed, tr)
    il.build()
    (1 to IndexLifecycle.commitsPerRun).foreach { _ => il.append(); il.probe(); il.forget() }
    (m, il)
  }

  def run(a: Main.Args): String = {
    val spinBefore = Main.spin()
    val psi0 = Main.cpuPressureUs()
    val spark = Main.session(a.root)
    Main.warmPageCache(a.data)
    val ops = new Main.Ops
    val expected = Analytics.loadExpected(a.expected)
    val tr = new Tracer
    tr.attach(spark)
    var medallion: Option[Medallion] = None
    ops.timed("traced suite") {
      val (m, il) = suite(spark, a, s"${a.root}/traced", tr, expected, ops)
      medallion = Some(m)
      ops.checked("index checks")(il.failures.toSeq)
    }
    tr.detach()
    // snapshot now: the overhead passes' day runs on the suite's medallion
    val tracedSpans = tr.allSpans
    val byName = SpanMath.byName(tracedSpans, tr.jobs, tr.plans)
    // overhead: the job-densest operations (a day, each market query),
    // each run once untraced and once traced, alternating which goes
    // first so that warm-up favours neither side
    val plain = new Tracer
    val again = new Tracer
    val dense: Seq[Tracer => Unit] =
      medallion.toSeq.map(m => (t: Tracer) => { t.span("day")(m.day()); () }) ++
        Analytics.market.map(q => (t: Tracer) => query(spark, a, q, t, q, expected, ops))
    ops.timed("overhead passes") {
      dense.zipWithIndex.foreach { case (op, i) =>
        val sides = if (i % 2 == 0) Seq(plain, again) else Seq(again, plain)
        sides.foreach { t =>
          if (t eq again) t.attach(spark)
          op(t)
          if (t eq again) t.detach()
        }
      }
    }
    // the medallion check covers the overhead passes' days too
    medallion.foreach(m => ops.checked("medallion check")(m.check()))
    Main.stop(spark)
    def top(t: Tracer) = t.allSpans.map(_.wallMs).sum
    val metrics = spans.flatMap(s => SpanMath.metricValues(s, byName.getOrElse(s, Counters.zero)))
      .map { case (n, v) => Main.Metric(n, v, unitOf(n)) } :+
      Main.Metric("trace.overhead_ratio", top(again) / top(plain) - 1, "ratio")
    val psi1 = Main.cpuPressureUs()
    val host = Seq("spin_before_s" -> spinBefore, "spin_after_s" -> Main.spin(),
      "cpu_pressure_delta_s" -> (if (psi0 < 0 || psi1 < 0) -1.0 else (psi1 - psi0) / 1e6),
      "cores" -> Main.cores.toDouble)
    val info = Map("overhead_untraced_s" -> top(plain) / 1e3, "overhead_traced_s" -> top(again) / 1e3)
    Json.result(ops, metrics, info, host, tracedSpans)
  }

  def unitOf(metric: String): String = metric.split('.').last match {
    case "jobs" | "tasks" => "count"
    case "shuffle_write_bytes" | "output_bytes" => "bytes"
    case _ => "s"
  }
}
