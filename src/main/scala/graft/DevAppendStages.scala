package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

// dev scratch — stage attribution for q162_multimodal_append (round-12
// verdict item #4: the registry's heaviest clean-close query at 6.4 s
// had never been split). Replays appendManifestIndexed's exact chain
// under the bench session, timing each stage in isolation: batch
// media decode, per-modality signature derivation, the three edge
// joins off the persisted index, and the component walk + verdicts.
// Intermediates persist through the tracked-cache registry so no
// stage re-pays an earlier one.
object DevAppendStages {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.Sessions.tune(
      SparkSession.builder().master(s"local[$cpus]"),
      shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.multimodal.{Curate, Media}
    import graft.text.{Clusters, Dedup}

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[stage] $label%-42s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }

    val docs = Tables.load(spark, sfDir, "documents")
    val standing = docs.filter(col("source") =!= "src0")
    val batch = docs.filter(col("source") === "src0")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val newIds = batch.select("doc_id")

    // once-per-corpus build — rep 1 of the bench pays this, medians
    // exclude it (the build/probe split); timed here for context only
    val indexPath = time("index_build (once, excluded from medians)") {
      val p = java.nio.file.Files.createTempDirectory("graft_sig_stage")
        .toString + "/index"
      Curate.buildSignatureIndex(spark, standing, "doc_id", "text", p)
      p
    }

    // ── stage 1: batch decode + signature derivation ──
    val bImg = time("decode_image_batch") {
      val d = graft.engine.Caches.persisted("stage.bimg",
        Media.imageHashes(spark,
          Media.imageHashTable(spark, batch, "doc_id")).toDF())
      d.count(); d
    }
    val bAud = time("decode_audio_batch") {
      val d = graft.engine.Caches.persisted("stage.baud",
        Media.audioHashes(spark,
          Media.audioHashTable(spark, batch, "doc_id")).toDF())
      d.count(); d
    }
    // mirrors the operator exactly: sAll persists (the real op's
    // Caches.persisted) so later stages read the cache, not re-derive
    val sAll = time("text_signatures_batch (sAll persist)") {
      val d = graft.engine.Caches.persisted("stage.sall",
        graft.engine.IndexTable.Shingles.read(spark, indexPath)
          .unionByName(Dedup.shingleSets(batch, "doc_id", "text", 5)))
      d.count(); d
    }
    val hNew = batch.select(col("doc_id"), md5(col("text")).as("h"))
    val hCorpus = graft.engine.IndexTable.TextHashes.read(spark, indexPath)
    val textEdges = time("edges_text (prefix join)") {
      val e = graft.engine.Caches.persisted("stage.te",
        Clusters.appendTextEdgesFromSignatures(sAll,
          hCorpus.unionByName(hNew), hNew, 0.5,
          graft.ops.GuardBounds.HotShingleCap,
          Curate.indexFreqFor(spark, indexPath,
            Dedup.shingleSets(batch, "doc_id", "text", 5))))
      e.count(); e
    }
    val imageEdges = time("edges_image (banded hamming)") {
      val e = graft.engine.Caches.persisted("stage.ie",
        Media.hammingBandedPairsIncremental(
            graft.engine.IndexTable.ImageHashes.read(spark, indexPath).unionByName(bImg),
            newIds, 3, graft.ops.GuardBounds.MaxChunkBucket, "stage.image")
          .select(col("id_a").as("src"), col("id_b").as("dst")))
      e.count(); e
    }
    val audioEdges = time("edges_audio (banded hamming)") {
      val e = graft.engine.Caches.persisted("stage.ae",
        Media.hammingBandedPairsIncremental(
            graft.engine.IndexTable.AudioHashes.read(spark, indexPath).unionByName(bAud),
            newIds, 3, graft.ops.GuardBounds.MaxChunkBucket, "stage.audio")
          .select(col("id_a").as("src"), col("id_b").as("dst")))
      e.count(); e
    }

    // ── stage 3: the component walk + verdicts on cached edges ──
    time("component_walk_verdicts") {
      Clusters.appendVerdicts(hCorpus.select("doc_id"), newIds,
        textEdges.union(imageEdges).union(audioEdges)).count()
    }

    graft.engine.Caches.releaseAll()
    spark.catalog.clearCache()

    // ── reference: the registry query end-to-end (rep 1 pays the
    // memoized index build; reps 2-3 are the bench's warm shape) ──
    for (i <- 1 to 3) {
      time(s"q162_full rep$i") {
        SparkEntry.queries("q162_multimodal_append")(spark, sfDir).count()
      }
      graft.engine.Caches.releaseAll()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
