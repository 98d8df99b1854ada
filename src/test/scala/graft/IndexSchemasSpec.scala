package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{IndexLifecycle, IndexTable}
import graft.engine.IndexTable._
import graft.multimodal.Curate
import graft.text.TextStats
import graft.vector.Similarity

/** Ground truth for the [[graft.engine.IndexTable]] declarations: every
  * index is built on a small inline corpus, every directory under its
  * root must be a declared table (the streaming promote's
  * `_graft_manifest` is the one exception), and each table's physical
  * schema and partition column must equal its declaration — so a writer
  * that changes a layout fails here instead of at a pinned-schema read.
  */
class IndexSchemasSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString + "/index"

  private def dirs(p: String): Set[String] =
    fs.listStatus(new org.apache.hadoop.fs.Path(p)).filter(_.isDirectory)
      .map(_.getPath.getName).toSet

  /** Every table [[graft.engine.IndexTable]] declares. */
  private val declared: Seq[IndexTable] = Seq(Tombstones, Shingles,
    TextHashes, ImageHashes, AudioHashes, Edges, ShingleFreq, SigMeta,
    Bm25Tf, Bm25Df, Bm25Doclen, Bm25Totals, Centroids, Assignments,
    Codebook, Codes)

  /** The dirs under `root` are exactly `expected` (plus, optionally,
    * `_graft_manifest`), and each reads back as its declaration.
    */
  private def assertDeclared(root: String, expected: Seq[IndexTable]): Unit = {
    val tables = dirs(root) - "_graft_manifest"
    assert(tables.subsetOf(declared.map(_.name).toSet),
      s"undeclared dirs under $root: ${tables -- declared.map(_.name)}")
    assert(tables === expected.map(_.name).toSet, s"missing tables under $root")
    expected.foreach { t =>
      assert(spark.read.parquet(t.path(root)).schema === t.schema,
        s"${t.name} schema drifted")
      val partDirs = dirs(t.path(root)).map(_.takeWhile(_ != '='))
        .filterNot(_.startsWith("_"))
      assert(partDirs === t.partitionCol.toSet,
        s"${t.name} partition columns drifted")
    }
  }

  private val docs = Seq(
    1L -> "alpha beta gamma delta epsilon zeta eta theta",
    2L -> "alpha beta gamma delta epsilon zeta eta theta",
    3L -> "red orange yellow green blue indigo violet white",
    4L -> "one two three four five six seven eight"
  ).toDF("doc_id", "text")

  private val emb = (0L until 32L).map(i =>
      (i, List.tabulate(8)(j => ((i * 31 + j * 17) % 97).toFloat + 1f)))
    .toDF("vec_id", "embedding")

  test("signature index tables (with edges and a tombstone) match their declarations") {
    val dir = tmp("graft_schema_sig")
    Curate.buildSignatureIndex(spark, docs, "doc_id", "text", dir)
    Curate.buildEdgeIndex(spark, dir)
    IndexLifecycle.delete(IndexLifecycle.Signature, spark, dir,
      Seq(4L).toDF("doc_id"), "doc_id")
    assertDeclared(dir, Seq(Shingles, TextHashes, ImageHashes, AudioHashes,
      Edges, ShingleFreq, SigMeta, Tombstones))
  }

  test("BM25 index tables (with a streamed batch) match their declarations") {
    val dir = tmp("graft_schema_bm25")
    TextStats.buildBm25Index(docs.filter(col("doc_id") < 4), "doc_id",
      "text", dir, nBuckets = 4)
    graft.streaming.EventStream.appendBm25BatchIdempotent(
      docs.filter(col("doc_id") === 4), dir, batchId = 0L)
    assert(dirs(dir).contains("_graft_manifest"))
    assertDeclared(dir, Seq(Bm25Tf, Bm25Df, Bm25Doclen, Bm25Totals))
    graft.engine.Caches.releaseAll()
  }

  test("IVF and IVF-ADC index tables match their declarations") {
    val ivf = tmp("graft_schema_ivf")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", ivf, nCentroids = 2)
    assertDeclared(ivf, Seq(Assignments, Centroids))
    val adc = tmp("graft_schema_adc")
    Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding", adc,
      nCentroids = 2, nSub = 2, nCodes = 4)
    assertDeclared(adc, Seq(Codes, Codebook, Centroids))
    graft.engine.Caches.releaseAll()
  }

  test("a write whose schema drifts from the declaration throws and leaves no files") {
    val root = tmp("graft_schema_drift")
    val good = Seq((1L, "t", 2L, 0)).toDF("doc_id", "token", "tf", "bucket")
    val drifted = Seq(
      "type" -> good.withColumn("tf", col("tf").cast("int")),
      "name" -> good.withColumnRenamed("tf", "count"),
      "extra column" -> good.withColumn("x", lit(1)),
      "missing column" -> good.drop("token"))
    drifted.foreach { case (what, df) =>
      val e = intercept[IllegalArgumentException](
        Bm25Tf.write(df, root, SaveMode.Overwrite))
      assert(e.getMessage.contains("drifts from the declared"), what)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(root)),
        s"a $what drift left files behind")
    }
    // nullability is not layout: a non-nullable frame writes, and the
    // partition column reads back as declared from any integral type
    Bm25Tf.write(good.withColumn("bucket", col("bucket").cast("long")), root,
      SaveMode.Overwrite)
    assert(Bm25Tf.read(spark, root).as[(Long, String, Long, Int)].collect()
      .toSeq === Seq((1L, "t", 2L, 0)))
  }
}
