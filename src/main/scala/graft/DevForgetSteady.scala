package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.IndexLifecycle

/** Steady-state FORGET-LOOP battery (round 13): the DevDeleteSteady
  * pattern with the audit in the loop — each commit is one
  * signature-tier [[IndexLifecycle.forgetAndVerify]] cycle (recovery
  * → tombstone record → deletion report → policy purge → fsck) over a
  * disjoint hash slice of the corpus, followed by the fixed indexed
  * append read. Healthy shape: cycle cost flat except policy-fired
  * purge commits (bounded, amortized), fsck_ok TRUE at EVERY commit
  * boundary, read cost flat. This is the operational cadence a
  * production forget pipeline runs, measured end to end.
  *
  * Usage: runMain graft.DevForgetSteady [nCommits] [maskedFractionPolicy] [tier]
  * `tier` = `sig` (default) or `bm25` — the lexical tier runs the same
  * cadence against a persisted BM25 index (BM25-tier forgetAndVerify
  * cycles over disjoint doc slices, fixed bm25Probe read after each).
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS — as Bench.
  */
object DevForgetSteady {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10)
    val policy = args.lift(1).map(_.toDouble).getOrElse(0.08)
    val tier = args.lift(2).getOrElse("sig")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.Sessions.tune(
      SparkSession.builder().master(s"local[$cpus]"),
      shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (tier == "bm25") { runBm25(spark, sfDir, n, policy); return }

    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter(col("source") =!= "src0")
    val batch = docs.filter(col("source") === "src0").limit(20)
    val dir = java.nio.file.Files.createTempDirectory("graft_forgetsteady")
      .toString + "/index"
    multimodal.Curate.buildSignatureIndex(spark, corpus, "doc_id", "text", dir)
    multimodal.Curate.appendManifestIndexed(spark, dir, batch,
      "doc_id", "text").count() // warm the read path once
    graft.engine.Caches.releaseAll()

    val (cycleTimes, readTimes) = (1 to n).map { i =>
      val dead = corpus.filter(
        pmod(xxhash64(col("doc_id")), lit(n * 2)) === (i - 1))
        .select("doc_id")
      val t0 = System.nanoTime()
      val rep = IndexLifecycle.forgetAndVerify(IndexLifecycle.Signature,
        spark, dir, dead, "doc_id", purgeAboveMaskedFraction = policy).head()
      val cycleS = (System.nanoTime() - t0) / 1e9
      require(rep.getAs[Boolean]("fsck_ok"),
        s"commit $i: fsck not green — ${rep.toString}")
      val t1 = System.nanoTime()
      val rows = multimodal.Curate.appendManifestIndexed(spark, dir, batch,
        "doc_id", "text").count()
      val readS = (System.nanoTime() - t1) / 1e9
      graft.engine.Caches.releaseAll()
      println(f"[forgetsteady] commit $i/$n cycle=$cycleS%.3f s " +
        f"read=$readS%.3f s rows=$rows " +
        f"masked=${rep.getAs[Double]("masked_fraction")}%.4f " +
        s"purged=${rep.getAs[Boolean]("purged")} " +
        s"pending=${rep.getAs[Long]("pending_tombstones")} fsck_ok=true")
      (cycleS, readS)
    }.unzip
    def stats(label: String, s: Seq[Double]): Unit = {
      val warm = s.drop(1)
      println(f"[forgetsteady] $label warm-mean=${warm.sum / warm.size}%.3f s " +
        f"max/min=${warm.max / warm.min}%.2f")
    }
    stats("cycle", cycleTimes); stats("read", readTimes)
    spark.stop()
  }

  /** The same steady cadence on the LEXICAL tier: forgetAndVerify
    * cycles over disjoint doc-hash slices with a fixed probe read
    * after each commit. Healthy shape identical to the signature
    * tier: flat cycle cost outside policy-fired purge commits, fsck
    * green at every boundary, probe cost flat.
    */
  private def runBm25(spark: SparkSession, sfDir: String, n: Int,
                      policy: Double): Unit = {
    import graft.text.TextStats
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_forgetsteady_bm")
      .toString + "/index"
    TextStats.buildBm25Index(docs, "doc_id", "text", dir)
    TextStats.bm25Probe(spark, dir, Seq("spark", "vector", "merge")).count()
    graft.engine.Caches.releaseAll()
    val (cycleTimes, readTimes) = (1 to n).map { i =>
      val dead = docs.filter(
        pmod(xxhash64(col("doc_id")), lit(n * 2)) === (i - 1))
        .select("doc_id")
      val t0 = System.nanoTime()
      val rep = IndexLifecycle.forgetAndVerify(IndexLifecycle.Bm25, spark,
        dir, dead, "doc_id", purgeAboveMaskedFraction = policy).head()
      val cycleS = (System.nanoTime() - t0) / 1e9
      require(rep.getAs[Boolean]("fsck_ok"),
        s"commit $i: fsck not green — ${rep.toString}")
      val t1 = System.nanoTime()
      val rows = TextStats.bm25Probe(spark, dir,
        Seq("spark", "vector", "merge")).count()
      val readS = (System.nanoTime() - t1) / 1e9
      graft.engine.Caches.releaseAll()
      println(f"[forgetsteady] bm25 commit $i/$n cycle=$cycleS%.3f s " +
        f"read=$readS%.3f s rows=$rows " +
        f"masked=${rep.getAs[Double]("masked_fraction")}%.4f " +
        s"purged=${rep.getAs[Boolean]("purged")} " +
        s"pending=${rep.getAs[Long]("pending_tombstones")} fsck_ok=true")
      (cycleS, readS)
    }.unzip
    def stats(label: String, s: Seq[Double]): Unit = {
      val warm = s.drop(1)
      println(f"[forgetsteady] bm25 $label warm-mean=${warm.sum / warm.size}%.3f s " +
        f"max/min=${warm.max / warm.min}%.2f")
    }
    stats("cycle", cycleTimes); stats("read", readTimes)
    spark.stop()
  }
}
