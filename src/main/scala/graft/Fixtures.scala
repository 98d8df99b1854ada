package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.vector.Similarity

/** Shared per-JVM fixture builders for the query registry — the
  * build-once memos (persisted indexes, sketch files, CDC tables,
  * JSONL dumps) every registry shard draws on. Moved VERBATIM from
  * SparkEntry in the round-13 registry split; behavior unchanged.
  */
private[graft] object Fixtures {
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Build-once memo for q81's persisted IVF index: one index per sf dir
    * per JVM, so Verify/Bench pay the build a single time and every probe
    * exercises the pruned-scan path (the thing q81 exists to measure).
    */
  private val ivfIndexCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def ivfIndexFor(s: SparkSession, dir: String): String =
    ivfIndexCache.getOrElseUpdate(dir, {
      val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/index"
      graft.vector.Similarity.buildIvfIndex(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding", path)
      path
    })

  /** Build-once memo for q246's persisted BM25 index (the ivfIndexFor
    * discipline on the lexical tier): probes exercise the bucket-pruned
    * tf scan, the thing the build/probe split exists to measure.
    */
  private val bm25IndexCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def bm25IndexFor(s: SparkSession, dir: String): String =
    bm25IndexCache.getOrElseUpdate(dir, {
      val path = java.nio.file.Files.createTempDirectory("graft_bm25").toString + "/index"
      graft.text.TextStats.buildBm25Index(
        Tables.load(s, dir, "documents"), "doc_id", "text", path)
      path
    })

  /** Build-once memo for the persisted IVFADC index (the q190→q196
    * build/probe split): codes + codebook + centroids on disk, probes
    * partition-prune the cluster dirs and scan CODES only.
    */
  private val ivfAdcIndexCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def ivfAdcIndexFor(s: SparkSession, dir: String): String =
    ivfAdcIndexCache.getOrElseUpdate(dir, {
      val path = java.nio.file.Files.createTempDirectory("graft_ivfadc").toString + "/index"
      graft.vector.Similarity.buildIvfAdcIndex(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding", path)
      path
    })

  /** File-copy a pristine base index to a fresh per-call dir — the
    * shared mechanics of every mutating-cycle fixture (a forget cycle
    * purges; a second run on the same dir would find the rows already
    * gone and report a different cycle). Megabytes at gate scale —
    * far cheaper than a rebuild.
    */
  private def copyIndexDir(s: SparkSession, base: String,
                           prefix: String): String = {
    val dst = java.nio.file.Files.createTempDirectory(prefix)
      .toString + "/index"
    val conf = s.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), conf)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(base), fs,
      new org.apache.hadoop.fs.Path(dst), false, conf)
    dst
  }

  /** q241's per-CALL ANN index: the forget cycle mutates (purges), so
    * each call file-copies the pristine q196 base index to a fresh dir
    * — the forgetCycleIndexCopy discipline on the ANN tier.
    */
  private[graft] def forgetCycleAnnIndexCopy(s: SparkSession, dir: String): String =
    copyIndexDir(s, ivfAdcIndexFor(s, dir), "graft_forgetannrun")

  /** q248's per-CALL BM25 index: the lexical-tier forget cycle purges,
    * so each call copies a pristine base built once per JVM — NOT the
    * shared q246 probe index, which must never see deletes.
    */
  private val bm25ForgetBaseCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def forgetCycleBm25IndexCopy(s: SparkSession, dir: String): String = {
    val base = bm25ForgetBaseCache.getOrElseUpdate(dir, {
      val path = java.nio.file.Files.createTempDirectory("graft_bm25fbase")
        .toString + "/index"
      graft.text.TextStats.buildBm25Index(
        Tables.load(s, dir, "documents"), "doc_id", "text", path)
      path
    })
    copyIndexDir(s, base, "graft_bm25frun")
  }

  /** q250/q251's per-CALL drifted IVF index: the pristine base is the
    * q81-style build over the ORIGINAL embeddings, grown by an
    * [[graft.vector.Similarity.appendIvfIndex]] of a deterministically
    * SHIFTED twin batch (every element + 0.5f, ids offset by 100000 —
    * the "new crawl from a different distribution" scenario): the
    * stored stride centroids now represent only the original half, so
    * the standing drift cosine collapses (measured ≈ 0.03–0.10 at all
    * three sfs) and the 0.9 policy must fire. The rebuild mutates, so
    * each call copies the memoized base.
    */
  private[graft] def driftedBatch(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(
      (col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))

  private val driftIvfBaseCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def driftIvfIndexCopy(s: SparkSession, dir: String): String = {
    val base = driftIvfBaseCache.getOrElseUpdate(dir, {
      val path = java.nio.file.Files.createTempDirectory("graft_driftbase")
        .toString + "/index"
      graft.vector.Similarity.buildIvfIndex(
        t(s, dir, "embeddings"), "vec_id", "embedding", path)
      graft.vector.Similarity.appendIvfIndex(
        driftedBatch(s, dir), "vec_id", "embedding", path)
      path
    })
    copyIndexDir(s, base, "graft_driftrun")
  }

  /** q249's per-CALL index TRIO: one fresh copy of each tier's
    * pristine base (signature, IVFADC, BM25) for the unified
    * all-tiers forget cycle — each run must see the same first-cycle
    * state on every tier.
    */
  private[graft] def forgetCycleAllTiers(s: SparkSession, dir: String): (String, String, String) = {
    // overlap the three driver-side file copies (each tier's base is
    // memoized after the first call, so steady-state this is pure
    // single-threaded FileUtil.copy time × 3 when run serially)
    val Seq(sig, ann, bm) = graft.engine.Orchestrate.parallel(Seq(
      () => forgetCycleIndexCopy(s, dir),
      () => forgetCycleAnnIndexCopy(s, dir),
      () => forgetCycleBm25IndexCopy(s, dir)))
    (sig, ann, bm)
  }

  /** Build-once memo for the persisted per-source HLL register files
    * (the build/probe split applied to the sketch family, round-11):
    * registers derived once per sf dir; q228 estimates read the
    * 8 KB-per-source files alone — no corpus scan on the read path.
    */
  private val hllRegCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def hllRegistersFor(s: SparkSession, dir: String): String =
    hllRegCache.getOrElseUpdate(dir, {
      val path = java.nio.file.Files.createTempDirectory("graft_hllreg").toString + "/hll"
      text.TextStats.buildHllRegisters(t(s, dir, "documents"),
        "source", "text", n = 3, p = 10, path)
      path
    })

  /** Build-once memo for the persisted per-slice KMV bottom-k samples
    * (round-11, the register-file discipline for the overlap family):
    * k rows per slice on disk; q229 estimates read the samples alone.
    */
  private val kmvSampleCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def kmvSamplesFor(s: SparkSession, dir: String): String =
    kmvSampleCache.getOrElseUpdate(dir, {
      val path = java.nio.file.Files.createTempDirectory("graft_kmv").toString + "/kmv"
      text.TextStats.buildKmvSamples(t(s, dir, "documents"),
        "source", "text", n = 3, k = 64, path)
      path
    })

  /** Build-once memo for the persisted per-group quantile-sketch
    * samples (round-12; the sketch suite's fourth axis — quantiles
    * join counts/distincts/overlap): ≤ k rows per group on disk,
    * q233 estimates read the sample file alone.
    */
  private val quantileSketchCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def quantileSketchFor(s: SparkSession, dir: String): String =
    quantileSketchCache.getOrElseUpdate(dir, {
      val path = java.nio.file.Files.createTempDirectory("graft_qsk").toString + "/qsk"
      ops.Stats.buildQuantileSketch(t(s, dir, "events"),
        "event_type", "event_id", col("value"), k = 256, path)
      path
    })

  /** Build-once memo for the persisted CMS cell table (round-11; the
    * counting third of the sketch lifecycle trio).
    */
  private val cmsSketchCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def cmsSketchFor(s: SparkSession, dir: String): String =
    cmsSketchCache.getOrElseUpdate(dir, {
      val path = java.nio.file.Files.createTempDirectory("graft_cms").toString + "/cms"
      text.TextStats.buildCmsSketch(t(s, dir, "documents"),
        "text", n = 3, path)
      path
    })

  /** Build-once memos for the persisted multimodal SIGNATURE index
    * (the q196 build/probe discipline applied to the manifest family,
    * round-10): shingle/md5/perceptual-hash relations on disk, derived
    * once per (sf dir, corpus scope) per JVM — consumers (q160 full
    * manifest, q161 text append, q162 multimodal append) read
    * signatures instead of re-tokenizing and re-decoding the corpus
    * per call. Two scopes: the FULL corpus (q160) and the standing
    * corpus EXCLUDING src0 (the append queries' precondition state).
    */
  private val sigIndexCache = scala.collection.concurrent.TrieMap.empty[(String, Boolean), String]
  private[graft] def signatureIndexFor(s: SparkSession, dir: String,
                                excludeSrc0: Boolean): String =
    sigIndexCache.getOrElseUpdate((dir, excludeSrc0), {
      val path = java.nio.file.Files.createTempDirectory("graft_sig").toString + "/index"
      val docs = Tables.load(s, dir, "documents")
      val corpus = if (excludeSrc0) docs.filter(col("source") =!= "src0") else docs
      multimodal.Curate.buildSignatureIndex(s, corpus, "doc_id", "text", path)
      path
    })

  /** Build-once memo for the DELETED signature+edge index (round-12
    * deletion propagation, q235): the full-corpus two-tier index with
    * doc_id % 10 = 3 tombstoned via the lifecycle delete — its
    * manifest must answer exactly as an index built from the
    * remaining docs (the oracle replays q160's composition over the
    * filtered corpus). Built on its OWN path: deletes must never leak
    * into the shared q160/q161/q162 indexes.
    */
  private val delSigIndexCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def deletedSignatureIndexFor(s: SparkSession, dir: String): String =
    delSigIndexCache.getOrElseUpdate(dir, {
      val path = java.nio.file.Files.createTempDirectory("graft_delsig").toString + "/index"
      val docs = Tables.load(s, dir, "documents")
      multimodal.Curate.buildSignatureIndex(s, docs, "doc_id", "text", path)
      multimodal.Curate.buildEdgeIndex(s, path)
      graft.engine.IndexLifecycle.delete(graft.engine.IndexLifecycle.Signature,
        s, path, docs.filter(col("doc_id") % 10 === 3).select("doc_id"), "doc_id")
      path
    })

  /** q240's per-CALL index: the forget cycle MUTATES its index (it
    * purges), so unlike the read-only q235 fixtures it cannot share a
    * per-JVM memo across calls — a second run would find the rows
    * already gone and report a different cycle. A pristine base index
    * builds once per JVM; each call file-copies it to a fresh dir
    * (megabytes at gate scale — far cheaper than a rebuild) and runs
    * the cycle there, so every invocation reports the same
    * deterministic first-cycle outcome.
    */
  private val forgetBaseCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def forgetCycleIndexCopy(s: SparkSession, dir: String): String = {
    val base = forgetBaseCache.getOrElseUpdate(dir, {
      val path = java.nio.file.Files.createTempDirectory("graft_forgetbase")
        .toString + "/index"
      multimodal.Curate.buildSignatureIndex(s, Tables.load(s, dir, "documents"),
        "doc_id", "text", path)
      path
    })
    copyIndexDir(s, base, "graft_forgetrun")
  }

  /** Build-once memo for the DELETED IVFADC index (q236): the shared
    * build with vec_id % 7 = 2 tombstoned — probes must exclude the
    * deleted ids and refill the top-k from survivors under the same
    * frozen-codebook distance arithmetic.
    */
  private val delAdcIndexCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def deletedIvfAdcIndexFor(s: SparkSession, dir: String): String =
    delAdcIndexCache.getOrElseUpdate(dir, {
      val path = java.nio.file.Files.createTempDirectory("graft_deladc").toString + "/index"
      val emb = Tables.load(s, dir, "embeddings")
      graft.vector.Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding", path)
      graft.engine.IndexLifecycle.delete(graft.engine.IndexLifecycle.IvfAdc,
        s, path, emb.filter(col("vec_id") % 7 === 2).select("vec_id"), "vec_id")
      path
    })

  /** Second build tier on the FULL-corpus signature index: persisted
    * modality-tagged edges (q160 reads these — per call it pays only
    * the component walk and manifest assembly).
    */
  private val edgeIndexCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def edgeIndexFor(s: SparkSession, dir: String): String =
    edgeIndexCache.getOrElseUpdate(dir, {
      val path = signatureIndexFor(s, dir, excludeSrc0 = false)
      multimodal.Curate.buildEdgeIndex(s, path)
      path
    })

  /** Build-once memo for the persisted k-NN edge table (the q41→q81
    * build/probe split applied to graphs): q89/q90's iterative passes
    * read materialized edges — the pair join runs once per sf dir per
    * JVM, not once per query. PlanSpec asserts the consumers' scans.
    */
  private val knnGraphCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def knnGraphFor(s: SparkSession, dir: String): String =
    knnGraphCache.getOrElseUpdate(dir, {
      val path = java.nio.file.Files.createTempDirectory("graft_knn").toString + "/edges"
      graft.vector.Similarity.buildKnnGraph(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding", "label", 5, path)
      path
    })

  /** Build-once memo for the persisted dup-cluster assignment (the
    * build/probe split applied to dedup): q109's dashboard and q116's
    * canonical selection read the materialized table — the jaccard+CC
    * build runs once per sf dir per JVM, not inside every consumer
    * (q63 keeps the inline build as the self-contained oracle of the
    * machinery itself).
    */
  private val clustersCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def clustersFor(s: SparkSession, dir: String): String =
    clustersCache.getOrElseUpdate(dir, {
      val path = java.nio.file.Files.createTempDirectory("graft_clusters")
        .toString + "/clusters"
      text.Clusters.dupClusters(Tables.load(s, dir, "documents"),
        "doc_id", "text", 5, 0.5).write.parquet(path)
      path
    })

  /** Build-once memo for q92's two-version snapshot table: v1/v2 are
    * deterministic splits of `customer`, committed through the REAL
    * version store so the change feed reads actual manifests.
    */
  private val cdcCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def cdcTableFor(s: SparkSession, dir: String): String =
    cdcCache.getOrElseUpdate(dir, {
      import org.apache.spark.sql.functions.{col, lit, when}
      val path = java.nio.file.Files.createTempDirectory("graft_cdc").toString + "/customer"
      val cust = Tables.load(s, dir, "customer")
      engine.Snapshots.writeVersioned(
        cust.filter(col("c_custkey") % 10 =!= 3), path, 1L)
      engine.Snapshots.writeVersioned(
        cust.filter(col("c_custkey") % 10 =!= 4)
          .withColumn("c_acctbal",
            when(col("c_custkey") % 7 === 0, col("c_acctbal") + lit(100.0))
              .otherwise(col("c_acctbal"))), path, 2L)
      path
    })

  /** Build-once memo for q87's ORC copy of the events columns it
    * aggregates — the roundtrip write happens once per sf dir per JVM.
    */
  private val orcCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def orcEventsFor(s: SparkSession, dir: String): String =
    orcCache.getOrElseUpdate(dir, {
      val path = java.nio.file.Files.createTempDirectory("graft_orc").toString + "/events"
      graft.engine.Layout.writeOrc(
        Tables.load(s, dir, "events").select("event_type", "value", "user_id"), path)
      path
    })

  private val csvCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def csvBarsFor(s: SparkSession, dir: String): String =
    csvCache.getOrElseUpdate(dir, {
      val path = java.nio.file.Files.createTempDirectory("graft_csv").toString + "/bars.csv"
      graft.engine.Layout.singleCsv(
        graft.ops.Stats.ohlcBars(
          Tables.load(s, dir, "events").filter(col("value").isNotNull),
          Seq("event_type"), to_date(col("ts")),
          Seq(col("ts"), col("event_id")), "value"), path)
      path
    })

  private val jsonlCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def jsonlEventsFor(s: SparkSession, dir: String): String =
    jsonlCache.getOrElseUpdate(dir, {
      val path = java.nio.file.Files.createTempDirectory("graft_jsonl").toString + "/events"
      graft.engine.Layout.writeJsonl(
        Tables.load(s, dir, "events").select("event_type", "value", "user_id"), path)
      path
    })
}
