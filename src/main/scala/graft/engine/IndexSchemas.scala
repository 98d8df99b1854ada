package graft.engine

import org.apache.spark.sql.types._

/** Fixed on-disk schemas of every persisted index table, for EXPLICIT
  * read schemas on the hot paths (guide §1.2 per-task work → §6 I/O):
  * an un-schema'd `spark.read.parquet` runs a footer-inference Spark
  * job per call (~40 ms of pure scheduler round-trip), and the
  * operational verbs (delete/report/purge/fsck) plus every probe read
  * these tables 10-20 times per cycle — DevJobTrace measured the
  * inference jobs as a visible slice of the forget-cycle floor. The
  * layouts are fixed by the build functions, so the schemas are pinned
  * here once (field names, types, and partition columns exactly as
  * written; IndexSchemasSpec builds every index and checks each literal
  * against the files) and a mismatch surfaces as a loud read error, not
  * silent drift.
  */
object IndexSchemas {
  private def f(n: String, t: DataType) = StructField(n, t)

  /** All delete tiers write `(id: long)` tombstones. */
  val tombstones: StructType = StructType(Seq(f("id", LongType)))

  // ── signature tier (Curate.buildSignatureIndex layout) ──
  val shingles: StructType =
    StructType(Seq(f("doc", LongType), f("shingle", StringType)))
  val textHashes: StructType =
    StructType(Seq(f("doc_id", LongType), f("h", StringType)))
  val mediaHashes: StructType =
    StructType(Seq(f("media_id", LongType), f("phash", LongType)))
  val edges: StructType = StructType(Seq(
    f("src", LongType), f("dst", LongType), f("modality", StringType)))
  val shingleFreq: StructType =
    StructType(Seq(f("shingle", StringType), f("freq", LongType)))
  val sigMeta: StructType = StructType(Seq(f("shingle_n", IntegerType)))

  /** Signature-tier table name → schema (liveSig's dispatch). */
  val sigTables: Map[String, StructType] = Map(
    "shingles" -> shingles, "text_hashes" -> textHashes,
    "image_hashes" -> mediaHashes, "audio_hashes" -> mediaHashes,
    "edges" -> edges, "shingle_freq" -> shingleFreq)

  // ── BM25 tier (TextStats.buildBm25Index layout) ──
  val bm25Tf: StructType = StructType(Seq(f("doc_id", LongType),
    f("token", StringType), f("tf", LongType), f("bucket", IntegerType)))
  val bm25Df: StructType = StructType(Seq(
    f("token", StringType), f("dft", LongType), f("bucket", IntegerType)))
  val bm25Doclen: StructType = StructType(Seq(f("doc_id", LongType),
    f("dl", LongType), f("dbucket", IntegerType)))
  val bm25Totals: StructType = StructType(Seq(f("n_docs", LongType),
    f("sum_dl", LongType), f("n_buckets", IntegerType)))

  // ── IVF / IVFADC tiers (Similarity.buildIvf[Adc]Index layouts) ──
  val centroids: StructType = StructType(Seq(
    f("centroid_id", LongType), f("centroid_vec", ArrayType(FloatType))))
  val assignments: StructType = StructType(Seq(f("id", LongType),
    f("v", ArrayType(FloatType)), f("n", DoubleType),
    f("cluster", IntegerType)))
  val codebook: StructType = StructType(Seq(f("cs", IntegerType),
    f("code", LongType), f("cw", ArrayType(DoubleType))))
  val codes: StructType = StructType(Seq(f("id", LongType),
    f("codes", ArrayType(LongType)), f("cluster", IntegerType)))
}
