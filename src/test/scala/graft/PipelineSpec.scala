package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Layout, Upsert}
import graft.ops.{Clean, Ingest, Stats}

/** Reference-documented invariants (FIXTURES.md §A.4) for the medallion
  * stages, storage layout, and generator.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  def ts(s: String) = Timestamp.valueOf(s)

  // ── Scenario 1: duplicate (id, last_updated), latest _ingested_at wins ──
  test("dedup keeps the row with max version (latest ingestion wins)") {
    val df = Seq(
      ("btc", ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00"), 100.0),
      ("btc", ts("2024-01-01 00:00:00"), ts("2024-01-01 02:00:00"), 200.0), // latest
      ("eth", ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00"), 10.0)
    ).toDF("id", "last_updated", "_ingested_at", "price")
    val out = Clean.dedupLatest(df, Seq("id", "last_updated"), "_ingested_at")
      .select("id", "price").as[(String, Double)].collect().toMap
    assert(out === Map("btc" -> 200.0, "eth" -> 10.0))
  }

  // ── Scenario 2: volume tie at rank k admits >k rows (rank() semantics) ──
  test("rank() tie at the cut keeps all tied rows in the aggregate") {
    val d = Date.valueOf("2024-01-01")
    val rows = (1 to 4).map(i => (d, s"c$i", i * 100.0)) :+
      ((d, "c5", 100.0)) // ties with c1 at rank 4
    val df = rows.toDF("partition_date", "id", "volume")
    val top = Stats.topKPerDay(df, "partition_date", col("volume"), 4)
    assert(top.count() === 5) // 4 + 1 tied row survive
    val rn = Stats.dailyStats(top, "partition_date", "volume", "volume")
      .select("n_rows").as[Long].head()
    assert(rn === 5)
  }

  // ── Scenario 3: rows spanning 7 dates → exactly 7 Gold rows ──
  test("one Gold row per partition_date (7 days → 7 rows)") {
    val rows = for (d <- 1 to 7; i <- 1 to 3)
      yield (Date.valueOf(f"2024-01-$d%02d"), s"c$i", i * 10.0)
    val gold = Stats.dailyTopKStats(rows.toDF("partition_date", "id", "volume"),
      "partition_date", col("volume"), "volume", "volume")
    assert(gold.count() === 7)
  }

  // ── Scenario 4: null event time backfilled; partition from backfill ──
  test("enrich backfills null timestamps and derives partition_date from them") {
    val at = ts("2024-03-05 10:00:00")
    val df = Seq(("a", Some("2024-01-02T03:04:05.000+00:00")), ("b", None))
      .toDF("id", "last_updated")
    val out = Clean.enrich(df, "last_updated", Some(at))
      .select("id", "partition_date").as[(String, Date)].collect().toMap
    assert(out("a") === Date.valueOf("2024-01-02")) // event time, never run date
    assert(out("b") === Date.valueOf("2024-03-05")) // backfilled from ingestion
  }

  // ── Scenario 5: dynamic partition overwrite accumulates ──
  test("partition-scoped overwrite keeps untouched partitions (README.md:26)") {
    val dir = Files.createTempDirectory("graft_acc").toString + "/t"
    val day1 = Seq((Date.valueOf("2024-01-01"), "a", 1.0))
      .toDF("partition_date", "id", "v")
    val day2 = Seq((Date.valueOf("2024-01-02"), "b", 2.0),
      (Date.valueOf("2024-01-02"), "b2", 2.5)).toDF("partition_date", "id", "v")
    val day2v2 = Seq((Date.valueOf("2024-01-02"), "c", 3.0))
      .toDF("partition_date", "id", "v")
    Layout.upsertPartitions(day1.union(day2), dir)
    Layout.upsertPartitions(day2v2, dir) // rewrites only 01-02
    val out = spark.read.parquet(dir).select("id").as[String].collect().sorted
    assert(out === Array("a", "c")) // day1 survives, day2 replaced wholesale
  }

  // ── Scenario 6: empty input → empty output, same schema ──
  test("empty Silver input yields empty Gold with the full schema") {
    val empty = Seq.empty[(Date, String, Double)].toDF("partition_date", "id", "volume")
    val gold = Stats.dailyTopKStats(empty, "partition_date", col("volume"), "volume", "volume")
    assert(gold.count() === 0)
    assert(gold.columns.toSeq ===
      Seq("partition_date", "total_market_cap", "avg_price", "n_rows"))
  }

  // ── Upsert: MERGE rewrite semantics ──
  test("merge updates matched keys and inserts new ones") {
    val target = Seq(("k1", 1.0), ("k2", 2.0)).toDF("id", "v")
    val source = Seq(("k2", 20.0), ("k3", 30.0)).toDF("id", "v")
    val out = Upsert.merge(target, source, Seq("id"))
      .as[(String, Double)].collect().toMap
    assert(out === Map("k1" -> 1.0, "k2" -> 20.0, "k3" -> 30.0))
  }

  test("mergeLatest dedups a multi-version source before merging") {
    val target = Seq(("k1", 1L, 1.0)).toDF("id", "ver", "v")
    val source = Seq(("k1", 2L, 5.0), ("k1", 3L, 9.0)).toDF("id", "ver", "v")
    val out = Upsert.mergeLatest(target, source, Seq("id"), "ver")
      .select("id", "v").as[(String, Double)].collect()
    assert(out === Array(("k1", 9.0)))
  }

  test("changeCapture classifies insert/update/delete, drops unchanged, and replays") {
    val before = Seq(("k1", 1.0, "a"), ("k2", 2.0, "b"), ("k3", 3.0, "c"))
      .toDF("id", "v", "tag")
    val after = Seq(("k2", 2.0, "b"), ("k3", 30.0, "c"), ("k4", 4.0, "d"))
      .toDF("id", "v", "tag")
    val feed = Upsert.changeCapture(before, after, Seq("id"))
    val got = feed.as[(String, String, Double, String)].collect().toSet
    assert(got === Set(("k1", "delete", 1.0, "a"),
      ("k3", "update", 30.0, "c"), ("k4", "insert", 4.0, "d")))
    // replay law: before + feed ⇒ after (upserts via merge, then deletes)
    val rebuilt = Upsert.merge(before,
        feed.filter(col("change_type") =!= "delete").drop("change_type"), Seq("id"))
      .join(feed.filter(col("change_type") === "delete").select("id"),
        Seq("id"), "left_anti")
    assert(rebuilt.as[(String, Double, String)].collect().toSet ===
      after.as[(String, Double, String)].collect().toSet)
  }

  test("changeCapture compares null-safely: value↔null flips are updates") {
    val before = Seq(("k1", None), ("k2", None), ("k3", Some(3.0)))
      .toDF("id", "v")
    val after = Seq(("k1", None), ("k2", Some(2.0)), ("k3", None))
      .toDF("id", "v")
    val got = Upsert.changeCapture(before, after, Seq("id"))
      .select("id", "change_type").as[(String, String)].collect().toSet
    assert(got === Set(("k2", "update"), ("k3", "update"))) // k1 unchanged
  }

  test("changeCaptureCdf emits pre AND post images for updates; delta math retracts") {
    val before = Seq(("k1", 10L), ("k2", 20L), ("k3", 30L)).toDF("id", "v")
    val after = Seq(("k2", 20L), ("k3", 35L), ("k4", 40L)).toDF("id", "v")
    val feed = Upsert.changeCaptureCdf(before, after, Seq("id"))
      .as[(String, String, Long)].collect().toSet
    assert(feed === Set(
      ("k1", "delete", 10L),
      ("k3", "update_preimage", 30L), ("k3", "update_postimage", 35L),
      ("k4", "insert", 40L)))
    // the replay law must hold for the CDF vocabulary too: pre-image
    // rows are retractions, not upserts — k3 lands once, with 35
    val replayed = Upsert.applyChanges(before,
        Upsert.changeCaptureCdf(before, after, Seq("id")), Seq("id"))
      .as[(String, Long)].collect().toSet
    assert(replayed === Set(("k2", 20L), ("k3", 35L), ("k4", 40L)))
    // unknown change types must fail the delta job loudly, not skip
    val bad = Seq(("g", "update", 1L)).toDF("grp", "change_type", "v")
    val e = intercept[Exception] {
      graft.engine.Incremental.aggDelta(bad, Seq("grp"),
        Seq("total" -> col("v"))).collect()
    }
    assert(e.getMessage.contains("change_type"), e.getMessage)
    // ...and applyChanges refuses a feed row it cannot classify
    val e2 = intercept[Exception] {
      Upsert.applyChanges(before,
        Seq(("k1", "upsert", 1L)).toDF("id", "change_type", "v"),
        Seq("id")).collect()
    }
    assert(e2.getMessage.contains("change_type"), e2.getMessage)
  }

  test("strictNulls: null measures fail the feed loudly; default keeps the 0 contract") {
    import graft.engine.Incremental
    import org.apache.spark.sql.types.DecimalType
    val feed = Seq(("a", "insert", Some(1.0)), ("a", "insert", Option.empty[Double]))
      .toDF("grp", "change_type", "value")
    val ms = Seq("total" -> col("value").cast(DecimalType(18, 6)))
    // default: the DOCUMENTED null contract — null contributes 0, and
    // count/sum diverge from a fresh aggregation's NULL, silently
    val lax = Incremental.aggDelta(feed, Seq("grp"), ms)
      .as[(String, Long, Option[BigDecimal])].collect().head
    assert(lax === (("a", 2L, Some(BigDecimal("1.000000")))))
    // strict: the drift cannot happen silently
    val e = intercept[Exception] {
      Incremental.aggDelta(feed, Seq("grp"), ms, strictNulls = true).collect()
    }
    assert(e.getMessage.contains("NULL measure 'total'"), e.getMessage)
    val e2 = intercept[Exception] {
      Incremental.insertDelta(feed, Seq("grp"), ms, strictNulls = true).collect()
    }
    assert(e2.getMessage.contains("NULL measure 'total'"), e2.getMessage)
    // strict mode on a clean feed is a no-op
    val clean = feed.filter(col("value").isNotNull)
    assert(Incremental.aggDelta(clean, Seq("grp"), ms, strictNulls = true)
      .as[(String, Long, Option[BigDecimal])].collect().head ===
      (("a", 1L, Some(BigDecimal("1.000000")))))
  }

  test("incrementally maintained power sums reproduce keyMoments after churn") {
    import graft.engine.Incremental
    import org.apache.spark.sql.types.DecimalType
    val before = Seq((1L, "a", 10.0), (2L, "a", 14.0), (3L, "a", 12.0),
      (4L, "b", 5.0), (5L, "b", 5.0), (6L, "c", 1.0), (7L, "c", 2.0))
      .toDF("id", "grp", "value")
    // churn: id 2 revalued, id 6 deleted, id 8 inserted
    val after = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 12.0),
      (4L, "b", 5.0), (5L, "b", 5.0), (7L, "c", 2.0), (8L, "c", 4.0))
      .toDF("id", "grp", "value")
    val v = col("value").cast(DecimalType(18, 6))
    val ms = Seq("s1" -> v, "s2" -> (v * v).cast(DecimalType(38, 12)))
    val feed = Upsert.changeCaptureCdf(before, after, Seq("id"))
    val rollup = Incremental.applyDelta(
      Incremental.groupAgg(before, Seq("grp"), ms),
      Incremental.aggDelta(feed, Seq("grp"), ms), Seq("grp"), ms.map(_._1))
    val derived = Incremental.momentsFromSums(rollup, Seq("grp"), "s1", "s2")
      .as[(String, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    val direct = graft.ops.Stats.keyMoments(after, "grp", "value")
      .as[(String, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // bit-equal: same exact sums, same double derivation, same guards —
    // key b (zero variance) drops out of both
    assert(derived === direct)
    assert(!derived.contains("b"))
  }

  test("applyDelta keeps the maintained rollup's schema stable across many merges") {
    import graft.engine.Incremental
    import org.apache.spark.sql.types.DecimalType
    val v = col("value").cast(DecimalType(18, 6))
    val ms = Seq("total" -> v)
    var rollup = Incremental.groupAgg(
      Seq((1L, "a", 1.5)).toDF("id", "grp", "value"), Seq("grp"), ms)
    val schema0 = rollup.schema
    // decimal addition widens precision by one per merge — without the
    // cast-back, five commits would leave total at decimal(33,6) and a
    // changeFeed spanning rollup versions would refuse on schema drift
    for (i <- 2 to 6) {
      val inc = Seq((i.toLong, "a", 1.5)).toDF("id", "grp", "value")
      rollup = Incremental.applyDelta(rollup,
        Incremental.insertDelta(inc, Seq("grp"), ms), Seq("grp"), Seq("total"))
      assert(rollup.schema === schema0, s"schema drifted at merge $i")
    }
    val got = rollup.as[(String, Long, BigDecimal)].collect().head
    assert(got === (("a", 6L, BigDecimal("9.000000"))))
  }

  test("sketch rollup: merged HLL equals the one-shot sketch; small sets estimate exactly") {
    import graft.engine.Incremental
    val b1 = Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("grp", "user")
    val b2 = Seq(("a", 2L), ("a", 3L), ("c", 20L)).toDF("grp", "user")
    val rollup = Incremental.applySketchDelta(
      Incremental.sketchAgg(b1, Seq("grp"), col("user")),
      Incremental.sketchAgg(b2, Seq("grp"), col("user")), Seq("grp"))
    val got = Incremental.sketchEstimates(rollup, Seq("grp"))
      .as[(String, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // n counts rows; the sketch counts distinct users across batches —
    // tiny cardinalities are exact in HLL
    assert(got === Map("a" -> ((4L, 3L)), "b" -> ((1L, 1L)), "c" -> ((1L, 1L))))
    // order-insensitivity: merging per-batch sketches == sketching the union
    val oneShot = Incremental.sketchEstimates(
      Incremental.sketchAgg(b1.union(b2), Seq("grp"), col("user")), Seq("grp"))
      .as[(String, Long, Long)].collect()
      .map(t => t._1 -> t._3).toMap
    assert(got.map { case (k, (_, d)) => k -> d } === oneShot)
  }

  // ── Generator: volume + partition invariant + determinism ──
  test("generator emits coins×hours rows with partition_date = to_date(last_updated)") {
    val start = ts("2024-01-01 00:00:00").getTime / 1000
    val df = Ingest.generate(spark, numCoins = 5, days = 2, startEpoch = start).cache()
    assert(df.count() === 5 * 48)
    val bad = df.filter(to_date(to_timestamp(col("last_updated"),
      "yyyy-MM-dd'T'HH:mm:ss'Z'")) =!= col("partition_date")).count()
    assert(bad === 0)
    assert(df.select("partition_date").distinct().count() === 2)
    // same seed → same checksum; different seed → different
    def sig(seed: Long) = Ingest.generate(spark, 3, 1, start, seed)
      .repartition(1).agg(sum(col("current_price").cast(DecimalType(30, 10))))
      .head().getDecimal(0)
    assert(sig(7L) === sig(7L))
    assert(sig(7L) !== sig(8L))
  }

  // ── Layout: compaction preserves content; CSV export single file ──
  test("sort-clustered compaction preserves rows and values") {
    val dir = Files.createTempDirectory("graft_cmp").toString + "/t"
    val df = (1 to 100).map(i =>
      (Date.valueOf("2024-01-0" + (i % 3 + 1)), s"s$i", i.toDouble, i.toLong))
      .toDF("partition_date", "symbol", "price", "cap")
    Layout.overwritePartitioned(df, dir)
    Layout.compactPartitions(spark, dir, Seq("symbol", "price", "cap"),
      Seq("2024-01-01", "2024-01-02", "2024-01-03"))
    val back = spark.read.parquet(dir)
    assert(back.count() === 100)
    assert(back.agg(sum("price")).head().getDouble(0) === (1 to 100).sum.toDouble)
  }

  test("quality checks count nulls, duplicate keys, orphans, predicate failures") {
    import graft.engine.Quality
    val child = Seq((1, "a"), (1, "b"), (2, "c"), (9, null)).toDF("k", "v")
    val parent = Seq((1, "p1"), (2, "p2")).toDF("pk", "name")
    assert(Quality.nullViolations(child, "v") === 1)
    assert(Quality.uniquenessViolations(child, Seq("k")) === 1) // k=1 twice
    assert(Quality.referentialViolations(child, "k", parent, "pk") === 1) // k=9
    assert(Quality.predicateViolations(child, col("k") < 5) === 1) // k=9 (+ null→violation)
    val audit = Quality.audit(
      "nulls" -> (() => Quality.nullViolations(child, "v")),
      "orphans" -> (() => Quality.referentialViolations(child, "k", parent, "pk")))
    assert(audit === Seq("nulls" -> 1L, "orphans" -> 1L))
  }

  test("fusedAudit computes all single-table checks in one pass, same answers") {
    import graft.engine.Quality
    val child = Seq((1, "a"), (1, "b"), (2, "c"), (9, null)).toDF("k", "v")
    val fused = Quality.fusedAudit(child, Seq(
      "nulls" -> Quality.nullCount("v"),
      "dups" -> Quality.duplicateCount(Seq("k")),
      "range" -> Quality.failCount(col("k") < 5)))
    assert(fused === Seq("nulls" -> 1L, "dups" -> 1L, "range" -> 1L))
    // and on an empty table every counter is zero, not null
    val empty = child.filter(col("k") > 100)
    assert(Quality.fusedAudit(empty, Seq(
      "nulls" -> Quality.nullCount("v"),
      "range" -> Quality.failCount(col("k") < 5))) ===
      Seq("nulls" -> 0L, "range" -> 0L))
  }

  test("registration under withTimeout: a hang times out without failing the run") {
    import graft.engine.Orchestrate
    val dir = Files.createTempDirectory("graft_reg_to").toString
    Seq((1, "a")).toDF("k", "v").write.parquet(s"$dir/t")
    // hung metastore: the composed guard returns None and the caller
    // continues (the DevPipeline composition, main_pipeline.py:305-318)
    val hung = Orchestrate.withTimeout(200) {
      Thread.sleep(10000)
      Layout.registerTable(spark, "graft_to", "never_t", s"$dir/t")
    }
    assert(hung === None)
    // healthy metastore: registration completes under the same guard
    val ok = Orchestrate.withTimeout(120000) {
      Layout.registerTable(spark, "graft_to", "reg_to_t", s"$dir/t")
    }
    assert(ok === Some(()))
    assert(spark.table("graft_to.reg_to_t").count() === 1)
  }

  test("retry recovers from transient failures, rethrows after exhaustion") {
    import graft.engine.Orchestrate
    var calls = 0
    val got = Orchestrate.retry(attempts = 3, backoffMs = 1) {
      calls += 1
      if (calls < 3) sys.error("transient") else 42
    }
    assert(got === 42 && calls === 3)
    val ex = intercept[RuntimeException] {
      Orchestrate.retry(attempts = 2, backoffMs = 1) { sys.error("always") }
    }
    assert(ex.getMessage === "always")
  }

  test("withTimeout returns None on hang, propagates failures otherwise") {
    import graft.engine.Orchestrate
    assert(Orchestrate.withTimeout(50) { Thread.sleep(5000); 1 } === None)
    assert(Orchestrate.withTimeout(5000) { 7 } === Some(7))
    val ex = intercept[RuntimeException] {
      Orchestrate.withTimeout(5000) { sys.error("boom") }
    }
    assert(ex.getMessage === "boom")
  }

  test("parallel settles every branch, then rethrows the first failure with the rest suppressed") {
    import graft.engine.Orchestrate
    import scala.jdk.CollectionConverters._
    val settled = new java.util.concurrent.atomic.AtomicBoolean(false)
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    val ex = intercept[IllegalStateException] {
      Orchestrate.parallel(Seq(
        () => { threads.add(Thread.currentThread()); throw new IllegalStateException("first") },
        () => { threads.add(Thread.currentThread()); Thread.sleep(500); settled.set(true) },
        () => { threads.add(Thread.currentThread()); throw new IllegalArgumentException("second") }))
    }
    assert(ex.getMessage === "first")
    assert(ex.getSuppressed.map(_.getMessage).toSeq === Seq("second"))
    assert(settled.get(), "parallel threw while a sibling branch was still running")
    assert(threads.size === 3 && threads.asScala.forall(!_.isAlive),
      "a branch thread outlived parallel")
    assert(Orchestrate.parallel(Seq(() => 1, () => 2, () => 3)) === Seq(1, 2, 3))
  }

  test("write-manifest history records versions newest-first, invisible to scans (M5)") {
    val dir = Files.createTempDirectory("graft_hist").toString + "/t"
    val df = Seq((Date.valueOf("2024-01-01"), 1.0)).toDF("partition_date", "v")
    Layout.upsertPartitions(df, dir)
    Layout.upsertPartitions(
      Seq((Date.valueOf("2024-01-02"), 2.0)).toDF("partition_date", "v"), dir)
    val hist = Layout.history(spark, dir)
      .select("version", "operation").as[(Long, String)].collect()
    assert(hist.toSeq === Seq((1L, "OVERWRITE_PARTITIONS"), (0L, "OVERWRITE_PARTITIONS")))
    // the manifest dir must not leak into table reads
    assert(spark.read.parquet(dir).count() === 2)
    // write metrics present and sane: the second upsert touched exactly
    // one partition (one file, one row) — per-operation, not table state
    val m = Layout.history(spark, dir, 1)
      .select("metrics.num_files", "metrics.num_bytes", "metrics.num_rows")
      .as[(Long, Long, Long)].head()
    assert(m._1 === 1L && m._3 === 1L && m._2 > 0L, m)
  }

  /** (num_files, num_bytes, num_rows) of the newest manifest entry. */
  private def lastMetrics(dir: String): (Long, Long, Long) =
    Layout.history(spark, dir, 1)
      .select("metrics.num_files", "metrics.num_bytes", "metrics.num_rows")
      .as[(Long, Long, Long)].head()

  private def footerSweep(dirs: Seq[String]): (Long, Long, Long) =
    dirs.map(Layout.parquetStats(spark, _)).foldLeft((0L, 0L, 0L)) {
      case ((f, b, n), (f2, b2, n2)) => (f + f2, b + b2, n + n2) }

  test("upsert names its touched partitions with Spark's path encoding (escaped and null keys)") {
    val dir = Files.createTempDirectory("graft_enc").toString + "/t"
    val df = Seq[(String, Double)](("x:1", 1.0), ("y/2", 2.0), (null, 3.0), ("plain", 4.0))
      .toDF("k", "v")
    Layout.upsertPartitions(df, dir, Seq("k"))
    val onDisk = Layout.parquetStats(spark, dir)
    assert(onDisk._1 === 4L && onDisk._3 === 4L, onDisk)
    assert(lastMetrics(dir) === onDisk)
    assert(new java.io.File(s"$dir/k=__HIVE_DEFAULT_PARTITION__").isDirectory)
    assert(spark.read.parquet(dir).filter(col("k").isNull).count() === 1)
  }

  test("upsertPartitions and compactPartitions evaluate their input once") {
    val dir = Files.createTempDirectory("graft_once").toString + "/t"
    val rows = (1 to 300).map(i =>
      (Date.valueOf("2024-01-0" + (i % 3 + 1)), s"s$i", i.toDouble))
    val seen = spark.sparkContext.longAccumulator("upsert_input_rows")
    val counted = rows.toDF("partition_date", "symbol", "price")
      .as[(Date, String, Double)].map { r => seen.add(1); r }
      .toDF("partition_date", "symbol", "price")
    Layout.upsertPartitions(Layout.colocated(counted), dir)
    assert(seen.value === 300L)
    assert(lastMetrics(dir)._3 === 300L)
    // compactPartitions builds its own scan of the table: count the
    // records every task of the call reads from its input files
    val read = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => read.addAndGet(m.inputMetrics.recordsRead))
    }
    TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      Layout.compactPartitions(spark, dir, Seq("symbol"), Seq("2024-01-01", "2024-01-02"))
      TestBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(read.get === 200L)
    assert(lastMetrics(dir)._3 === 200L)
  }

  test("an empty write, known empty when planned or found empty at run time, logs zero promptly") {
    val dir = Files.createTempDirectory("graft_empty").toString + "/t"
    Layout.upsertPartitions(Seq((Date.valueOf("2024-01-01"), 1.0)).toDF("partition_date", "v"), dir)
    def timedUpsert(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      Layout.upsertPartitions(df, dir)
      (System.nanoTime() - t0) / 1e9
    }
    val planned = timedUpsert(Seq.empty[(Date, Double)].toDF("partition_date", "v"))
    assert(planned < 20.0, s"empty upsert took $planned s")
    assert(lastMetrics(dir) === ((0L, 0L, 0L)))
    // the filter is pushed into the shuffle's map stage; only once that
    // stage has run does AQE see an empty relation above it
    val runtime = timedUpsert(spark.range(1000)
      .select(lit(Date.valueOf("2024-01-01")).as("partition_date"), col("id").cast("double").as("v"))
      .repartition(4).filter(col("v") < 0))
    assert(runtime < 20.0, s"run-time-empty upsert took $runtime s")
    assert(lastMetrics(dir) === ((0L, 0L, 0L)))
    assert(spark.read.parquet(dir).count() === 1) // nothing replaced
  }

  test("every partitioned writer logs the footer stats of exactly the partitions it touched") {
    val dir = Files.createTempDirectory("graft_eqv").toString + "/t"
    def part(d: Int) = s"$dir/partition_date=2024-01-0$d"
    def rows(days: Seq[Int], n: Int) = (for (d <- days; i <- 1 to n)
      yield (Date.valueOf(s"2024-01-0$d"), s"s$i", i.toDouble))
      .toDF("partition_date", "symbol", "price")
    Layout.overwritePartitioned(rows(Seq(1, 2, 3), 40), dir)
    assert(lastMetrics(dir) === footerSweep(Seq(dir)))
    Layout.upsertPartitions(rows(Seq(3, 4), 25), dir)
    assert(lastMetrics(dir) === footerSweep(Seq(part(3), part(4))))
    Layout.compactPartitions(spark, dir, Seq("symbol", "price"), Seq("2024-01-01", "2024-01-04"))
    assert(lastMetrics(dir) === footerSweep(Seq(part(1), part(4))))
    Layout.compactFull(spark, dir, Seq("symbol"), targetPartitions = 3)
    assert(lastMetrics(dir) === footerSweep(Seq(dir)))
    assert(lastMetrics(dir)._3 === 40L * 2 + 25L * 2)
  }

  test("logWrite numbers versions past 51 entries (padded-filename guard regression)") {
    // the manifest writes 20-digit zero-padded names; a raw length<=18
    // guard excluded the log's own files, restarting discovery at 0 and
    // capping the log at the 50-attempt retry budget
    val dir = Files.createTempDirectory("graft_histlong").toString + "/t"
    Seq((1, "a")).toDF("k", "v").write.parquet(dir)
    (1 to 60).foreach(i => Layout.logWrite(spark, dir, "WRITE", Map("i" -> i.toString)))
    val versions = Layout.history(spark, dir, 100).select("version").as[Long].collect()
    assert(versions.length === 60 && versions.max === 59L)
  }

  test("concurrent logWrite claims distinct versions (atomic create-if-absent)") {
    val dir = Files.createTempDirectory("graft_histrace").toString + "/t"
    Seq((1, "a")).toDF("k", "v").write.parquet(dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (1 to 16).map { i =>
        pool.submit(new Runnable {
          def run(): Unit =
            Layout.logWrite(spark, dir, "WRITE", Map("writer" -> i.toString))
        })
      }
      futs.foreach(_.get())
    } finally pool.shutdown()
    // every writer got its own version: 16 entries, 16 distinct versions
    val versions = Layout.history(spark, dir, 100)
      .select("version").as[Long].collect().toSeq
    assert(versions.length === 16, versions)
    assert(versions.distinct.length === 16, versions)
    assert(versions.sorted === (0L until 16L))
  }

  test("registerTable exposes a parquet path through the catalog (K5)") {
    val dir = Files.createTempDirectory("graft_reg").toString
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(s"$dir/t")
    Layout.registerTable(spark, "graft_analytics", "reg_t", s"$dir/t")
    assert(spark.table("graft_analytics.reg_t").count() === 2)
  }

  test("bucketed tables equi-join with zero shuffle exchanges") {
    val facts = (1 to 1000).map(i => (i.toLong % 100, i.toLong)).toDF("k", "v")
    val dims = (0L until 100L).map(k => (k, s"name$k")).toDF("k", "name")
    Layout.bucketedSave(facts, "b_facts", Seq("k"), 8, sortCols = Seq("k"))
    Layout.bucketedSave(dims, "b_dims", Seq("k"), 8, sortCols = Seq("k"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_facts").join(spark.table("b_dims"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle, got:\n$plan")
      assert(joined.count() === 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("curated corpus lays out one file per (split, lang) partition dir") {
    // distinct token streams per doc — none are near-dups, all survive
    val docs = (0L until 40L).map(i =>
      (i, (1 to 30).map(j => s"tok${i}_$j").mkString(" "),
        if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    val out = Files.createTempDirectory("graft_corpus").toString + "/corpus"
    graft.text.Curation.curate(docs, "doc_id", "text",
        minTokens = 20, maxStopwordRatio = 1.0)
      .repartition(col("split"), col("lang"))
      .write.mode("overwrite").partitionBy("split", "lang").parquet(out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .flatMap(s => s.listFiles().filter(_.isDirectory)).toSeq
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val parts = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(parts === 1, s"${d.getPath} has $parts files — co-location lost")
    }
    assert(spark.read.parquet(out).count() === 40)
  }

  test("singleCsv writes exactly one csv file with header") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val f = s"$dir/report.csv"
    Layout.singleCsv(Seq((1, "a"), (2, "b")).toDF("k", "v"), f)
    val lines = scala.io.Source.fromFile(f).getLines().toList
    assert(lines.head === "k,v")
    assert(lines.size === 3)
  }

  test("singleCsv fails loudly and keeps the export in _tmp when the rename reports false") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.norename.impl", classOf[NoReportRenameFs].getName)
    val dir = Files.createTempDirectory("graft_csvfail").toString
    val ex = intercept[IllegalArgumentException] {
      Layout.singleCsv(Seq((1, "a")).toDF("k", "v"), s"norename://$dir/report.csv")
    }
    assert(ex.getMessage.contains("rename"), ex.getMessage)
    assert(new java.io.File(s"$dir/report.csv_tmp").listFiles()
      .exists(_.getName.startsWith("part-")))
  }
}

/** The local filesystem under its own scheme, where renaming onto a
  * final `.csv` name fails the way HDFS reports it: `false`, no
  * exception. Part-file renames of the write itself still succeed.
  */
class NoReportRenameFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def rename(src: Path, dst: Path): Boolean =
    if (dst.getName.endsWith(".csv") && !dst.getName.startsWith("part-")) false
    else super.rename(src, dst)
}
