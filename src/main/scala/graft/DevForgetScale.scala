package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.IndexLifecycle

/** Forget-cycle scale battery (round-14 verdict item #3: the
  * "amortizes at scale" claim for the lifecycle verbs was argued from
  * partition economics but never measured — the DevRetrievalStress
  * battery covered build/probe only). Runs ONE audited forget cycle
  * per tier — signature, IVFADC, BM25, and the unified all-tiers verb
  * — on fresh copies of indexes built over a 1× and a 10× corpus, with
  * a ~10% delete set so the purge fires inside every cycle, and prints
  * warm-min wall times. Drive it at two core counts
  * (SPARK_GRAFT_CPUS=8 / 32) to read the core-scaling ratio at each
  * data scale: the claim under test is that the ratio moves toward the
  * core ratio as the data grows (at 1× the cycles are job-count-bound
  * — fixed scheduling/commit overhead — so near-flat ratios there are
  * expected and NOT the scale story).
  *
  * Usage: runMain graft.DevForgetScale [reps]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS — as Bench.
  */
object DevForgetScale {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.Sessions.tune(
      SparkSession.builder().master(s"local[$cpus]"),
      shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.multimodal.Curate
    import graft.text.TextStats
    import graft.vector.Similarity

    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    def copyOf(base: String, prefix: String): String = {
      val dst = java.nio.file.Files.createTempDirectory(prefix)
        .toString + "/index"
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(base), fs,
        new org.apache.hadoop.fs.Path(dst), false,
        spark.sparkContext.hadoopConfiguration)
      dst
    }
    def warmOn[S](label: String)(setup: => S)(f: S => Unit): Unit = {
      val ts = (1 to reps).map { _ =>
        val s = setup // index copies happen OUTSIDE the timed region
        val t0 = System.nanoTime()
        f(s)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[forgetscale] cpus=$cpus $label%-28s ${ts.min}%8.3f s warm-min of $reps")
      graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
    }

    val docs1 = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val emb1 = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val rep = spark.range(10).select(col("id").as("_r"))
    val docs10 = docs1.crossJoin(rep)
      .select((col("doc_id") * 16 + col("_r")).as("doc_id"),
        concat(col("text"), lit(" rep"), col("_r")).as("text"))
    val emb10 = emb1.crossJoin(rep)
      .select((col("vec_id") * 16 + col("_r")).as("vec_id"), col("embedding"))

    for ((scale, d, e) <- Seq(("1x", docs1, emb1), ("10x", docs10, emb10))) {
      val nDocs = d.count(); val nVecs = e.count()
      println(s"[forgetscale] ===== $scale: $nDocs docs, $nVecs vectors, cpus=$cpus =====")
      val dead = d.filter(col("doc_id") % 10 === 3).select("doc_id")
      val deadV = e.filter(col("vec_id") % 7 === 2).select("vec_id")
      val sigBase = java.nio.file.Files.createTempDirectory(s"graft_fscale_sig")
        .toString + "/index"
      Curate.buildSignatureIndex(spark, d, "doc_id", "text", sigBase)
      val bmBase = java.nio.file.Files.createTempDirectory(s"graft_fscale_bm")
        .toString + "/index"
      TextStats.buildBm25Index(d, "doc_id", "text", bmBase)
      val adcBase = java.nio.file.Files.createTempDirectory(s"graft_fscale_adc")
        .toString + "/index"
      Similarity.buildIvfAdcIndex(e, "vec_id", "embedding", adcBase)
      graft.engine.Caches.releaseAll(); spark.catalog.clearCache()

      warmOn(s"$scale sig_cycle")(copyOf(sigBase, "graft_fscale_s")) { dir =>
        IndexLifecycle.forgetAndVerify(IndexLifecycle.Signature, spark, dir, dead,
          "doc_id", purgeAboveMaskedFraction = 0.05).head()
      }
      warmOn(s"$scale ann_cycle")(copyOf(adcBase, "graft_fscale_a")) { dir =>
        IndexLifecycle.forgetAndVerify(IndexLifecycle.IvfAdc, spark, dir, deadV,
          "vec_id", purgeAboveMaskedFraction = 0.05).head()
      }
      warmOn(s"$scale bm25_cycle")(copyOf(bmBase, "graft_fscale_b")) { dir =>
        IndexLifecycle.forgetAndVerify(IndexLifecycle.Bm25, spark, dir, dead,
          "doc_id", purgeAboveMaskedFraction = 0.05).head()
      }
      warmOn(s"$scale all_tiers_cycle")((copyOf(sigBase, "graft_fscale_s2"),
          copyOf(adcBase, "graft_fscale_a2"),
          copyOf(bmBase, "graft_fscale_b2"))) { case (sig, ann, bm) =>
        Curate.forgetAndVerifyAll(spark, dead, "doc_id",
          signatureIndexPath = Some(sig), annIndexPath = Some(ann),
          bm25IndexPath = Some(bm), purgeAboveMaskedFraction = 0.05).count()
      }
    }
    spark.stop()
  }
}
