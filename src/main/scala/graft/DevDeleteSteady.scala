package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.IndexLifecycle

/** Steady-state DELETE benchmark (round 12): the recurring 100 TB
  * forget-request loop is delete → read → delete → … against a
  * standing signature index, with the purge cadence firing whenever
  * the tombstone set crosses the threshold. This driver runs N
  * delete commits (disjoint hash slices of the corpus), timing each
  * delete AND a fixed indexed-append read after it, and prints the
  * masked-row fraction and whether the commit's delete fired a purge.
  * Healthy shape: delete cost flat (tombstone append + count), read
  * cost flat with a bounded anti-join overlay, purge spikes periodic
  * and amortized — the compactFlat sawtooth, on the delete axis.
  *
  * Usage: runMain graft.DevDeleteSteady [nCommits] [purgeAboveRows]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS — as Bench.
  */
object DevDeleteSteady {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10)
    val purgeAbove = args.lift(1).map(_.toLong).getOrElse(60L)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.Sessions.tune(
      SparkSession.builder().master(s"local[$cpus]"),
      shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)

    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter(col("source") =!= "src0")
    val batch = docs.filter(col("source") === "src0").limit(20)
    val dir = java.nio.file.Files.createTempDirectory("graft_delsteady")
      .toString + "/index"
    multimodal.Curate.buildSignatureIndex(spark, corpus, "doc_id", "text", dir)
    // warm the read path once (JIT/codegen session cost, not per-commit)
    multimodal.Curate.appendManifestIndexed(spark, dir, batch,
      "doc_id", "text").count()
    graft.engine.Caches.releaseAll()

    val (delTimes, readTimes) = (1 to n).map { i =>
      val dead = corpus.filter(
        pmod(xxhash64(col("doc_id")), lit(n * 2)) === (i - 1))
        .select("doc_id")
      val t0 = System.nanoTime()
      IndexLifecycle.delete(IndexLifecycle.Signature, spark, dir, dead,
        "doc_id", purgeAboveRows = purgeAbove)
      val delS = (System.nanoTime() - t0) / 1e9
      // snapshot-scoped cleanup (round 13) leaves the dir and deletes
      // the folded files — "purged" = no pending tombstone data
      val purged = graft.engine.Layout.tombstones(spark, dir).isEmpty
      val t1 = System.nanoTime()
      val rows = multimodal.Curate.appendManifestIndexed(spark, dir, batch,
        "doc_id", "text").count()
      val readS = (System.nanoTime() - t1) / 1e9
      graft.engine.Caches.releaseAll()
      val masked = graft.engine.Layout.tombstones(spark, dir)
        .map(_.count()).getOrElse(0L)
      println(f"[delsteady] commit $i/$n delete=$delS%.3f s read=$readS%.3f s " +
        f"rows=$rows purged=$purged tombstones=$masked")
      (delS, readS)
    }.unzip
    def stats(label: String, s: Seq[Double]): Unit = {
      val warm = s.drop(1)
      val m = warm.sum / warm.size
      println(f"[delsteady] $label warm-mean=$m%.3f s " +
        f"max/min=${warm.max / warm.min}%.2f")
    }
    stats("delete", delTimes); stats("read", readTimes)
    spark.stop()
  }
}
