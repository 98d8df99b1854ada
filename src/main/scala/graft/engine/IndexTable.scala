package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** One persisted index table: its directory `name` under an index root,
  * its on-disk `schema`, its hive partition column and the id columns a
  * tombstone masks. The partitioning also fixes how a rewrite replaces
  * it: per partition ([[Layout.stagedPartitionReplace]]) or as a whole
  * dir ([[Layout.stagedReplace]]). The companion declares every index
  * table ONCE, and every reader and writer goes through these
  * declarations:
  *
  *   - [[read]] pins the schema: an un-schema'd `spark.read.parquet`
  *     runs a footer-inference Spark job per call (~40 ms of scheduler
  *     round-trip), and the lifecycle verbs plus every probe read these
  *     tables 10-20 times per cycle;
  *   - [[write]] takes the partitioning from the declaration and refuses
  *     a frame whose schema drifts from it (names, order and types;
  *     nullability ignored) on the driver, before any file is written —
  *     a layout change fails loudly at its writer, not as a read error
  *     somewhere downstream.
  *
  * IndexSchemasSpec builds every index and checks the files against
  * these declarations.
  */
final class IndexTable private (
    val name: String,
    val schema: StructType,
    val partitionCol: Option[String],
    val idKeys: Seq[String]) {
  import IndexTable._

  def path(root: String): String = s"$root/$name"

  def exists(spark: SparkSession, root: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(root))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(schema).parquet(path(root))

  /** A swap's entry-snapshot read: exactly `files` (basePath keeps the
    * partition column), or the whole table when the snapshot is empty.
    */
  def readSnapshot(spark: SparkSession, root: String,
                   files: Seq[String]): DataFrame =
    if (files.isEmpty) read(spark, root)
    else {
      val r = spark.read.schema(schema)
      (if (partitionCol.isDefined) r.option("basePath", path(root)) else r)
        .parquet(files: _*)
    }

  def write(df: DataFrame, root: String, mode: SaveMode): Unit =
    writeDir(df, path(root), mode)

  /** [[write]] into a swap's staging dir. */
  def stage(df: DataFrame, dir: String): Unit =
    writeDir(df, dir, SaveMode.Overwrite)

  private def writeDir(df: DataFrame, dir: String, mode: SaveMode): Unit = {
    // the files hold the partition column in directory names, after the
    // data columns; its values round-trip through any integral type
    val fields = df.schema.fields.toSeq
    val asWritten = partitionCol.fold(fields)(p =>
      fields.filterNot(_.name == p) ++ fields.filter(_.name == p))
    val ok = asWritten.map(_.name) == schema.fieldNames.toSeq &&
      asWritten.zip(schema.fields).forall { case (w, d) =>
        loose(w.dataType) == loose(d.dataType) ||
          (partitionCol.contains(d.name) && integral(w.dataType) &&
            integral(d.dataType))
      }
    require(ok, s"IndexTable $name: frame schema " +
      s"${StructType(asWritten).simpleString} drifts from the declared " +
      s"${schema.simpleString}; nothing written to $dir")
    val w = df.write.mode(mode)
    partitionCol.fold(w)(w.partitionBy(_)).parquet(dir)
  }

  /** In-flight swap remnants of this table (each fsck's
    * `no_swap_leftovers` input).
    */
  def leftovers: Seq[String] =
    if (partitionCol.isEmpty) Seq(s"${name}_swap_staging", s"${name}_swap_old")
    else Seq(s"${name}_pswap_staging", s"${name}_pswap_old")

  /** Finish or discard an interrupted swap of this table. Readers leave
    * a marker-less staging dir alone (it may be a live writer's); the
    * `writer` role — held by whoever owns the table's single-writer
    * slot — discards it as a dead crash.
    */
  def heal(spark: SparkSession, root: String, writer: Boolean = false): Unit =
    if (partitionCol.isEmpty)
      Layout.healStagedReplace(spark, path(root), discardMarkerless = writer)
    else Layout.healStagedPartitionSwap(spark, path(root),
      discardMarkerless = writer, writerRole = writer)
}

object IndexTable {

  // the declared tables nest nothing but arrays of atoms
  private def loose(t: DataType): DataType = t match {
    case a: ArrayType => ArrayType(a.elementType)
    case o => o
  }

  private def integral(t: DataType) = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def table(name: String, cols: Seq[(String, DataType)],
                    idKeys: Seq[String] = Nil,
                    partitionCol: Option[String] = None) =
    new IndexTable(name, StructType(cols.map { case (n, t) => StructField(n, t) }),
      partitionCol, idKeys)

  private val vec = ArrayType(FloatType)

  /** Forget requests of every tier: `(id)` rows, masked on read. */
  val Tombstones: IndexTable = table("tombstones", Seq("id" -> LongType), Seq("id"))

  // ── signature tier (graft.multimodal.Curate.buildSignatureIndex) ──
  val Shingles: IndexTable = table("shingles",
    Seq("doc" -> LongType, "shingle" -> StringType), Seq("doc"))
  val TextHashes: IndexTable = table("text_hashes",
    Seq("doc_id" -> LongType, "h" -> StringType), Seq("doc_id"))
  val ImageHashes: IndexTable = table("image_hashes",
    Seq("media_id" -> LongType, "phash" -> LongType), Seq("media_id"))
  val AudioHashes: IndexTable = table("audio_hashes",
    Seq("media_id" -> LongType, "phash" -> LongType), Seq("media_id"))
  /** Persisted modality-tagged edges ([[graft.multimodal.Curate.buildEdgeIndex]]). */
  val Edges: IndexTable = table("edges",
    Seq("src" -> LongType, "dst" -> LongType, "modality" -> StringType),
    Seq("src", "dst"))
  /** SUM-mergeable corpus shingle frequencies (delta segments per append). */
  val ShingleFreq: IndexTable = table("shingle_freq",
    Seq("shingle" -> StringType, "freq" -> LongType))
  /** The build's shingle width, validated by every consumer. */
  val SigMeta: IndexTable = table("meta", Seq("shingle_n" -> IntegerType))

  // ── BM25 tier (graft.text.TextStats.buildBm25Index) ──
  val Bm25Tf: IndexTable = table("tf", Seq("doc_id" -> LongType,
    "token" -> StringType, "tf" -> LongType, "bucket" -> IntegerType),
    Seq("doc_id"), Some("bucket"))
  val Bm25Df: IndexTable = table("df", Seq("token" -> StringType,
    "dft" -> LongType, "bucket" -> IntegerType), partitionCol = Some("bucket"))
  val Bm25Doclen: IndexTable = table("doclen", Seq("doc_id" -> LongType,
    "dl" -> LongType, "dbucket" -> IntegerType), Seq("doc_id"), Some("dbucket"))
  val Bm25Totals: IndexTable = table("totals", Seq("n_docs" -> LongType,
    "sum_dl" -> LongType, "n_buckets" -> IntegerType))

  // ── IVF / IVF-ADC tiers (graft.vector.Similarity.buildIvf[Adc]Index) ──
  val Centroids: IndexTable = table("centroids",
    Seq("centroid_id" -> LongType, "centroid_vec" -> vec))
  val Assignments: IndexTable = table("assignments", Seq("id" -> LongType,
    "v" -> vec, "n" -> DoubleType, "cluster" -> IntegerType),
    Seq("id"), Some("cluster"))
  val Codebook: IndexTable = table("codebook", Seq("cs" -> IntegerType,
    "code" -> LongType, "cw" -> ArrayType(DoubleType)))
  val Codes: IndexTable = table("codes", Seq("id" -> LongType,
    "codes" -> ArrayType(LongType), "cluster" -> IntegerType),
    Seq("id"), Some("cluster"))
}
