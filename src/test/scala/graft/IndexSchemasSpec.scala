package graft

import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{IndexLifecycle, IndexSchemas}
import graft.multimodal.Curate
import graft.text.TextStats
import graft.vector.Similarity

/** Ground truth for [[graft.engine.IndexSchemas]]: every index is built
  * on a small inline corpus and each table's physical schema and
  * partition columns must equal the pinned literal, so a writer that
  * changes a layout fails here instead of at a pinned-schema read.
  */
class IndexSchemasSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString + "/index"

  /** Every table dir under `root` reads exactly as `expected` pins it;
    * `partitionCols` names the hive-partitioned tables' partition column.
    */
  private def assertPinned(root: String, expected: Map[String, StructType],
                           partitionCols: Map[String, String]): Unit = {
    val tables = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName).toSet
    assert(tables === expected.keySet, s"unpinned or missing tables under $root")
    expected.foreach { case (table, schema) =>
      val p = s"$root/$table"
      assert(spark.read.parquet(p).schema === schema, s"$table schema drifted")
      val partDirs = fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .filter(_.isDirectory).map(_.getPath.getName.takeWhile(_ != '='))
        .filterNot(_.startsWith("_")).toSet
      assert(partDirs === partitionCols.get(table).toSet,
        s"$table partition columns drifted")
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

  test("signature index tables (with edges and a tombstone) match IndexSchemas") {
    val dir = tmp("graft_schema_sig")
    Curate.buildSignatureIndex(spark, docs, "doc_id", "text", dir)
    Curate.buildEdgeIndex(spark, dir)
    IndexLifecycle.delete(IndexLifecycle.Signature, spark, dir,
      Seq(4L).toDF("doc_id"), "doc_id")
    assertPinned(dir, IndexSchemas.sigTables ++ Map(
      "meta" -> IndexSchemas.sigMeta, "tombstones" -> IndexSchemas.tombstones),
      Map.empty)
  }

  test("BM25 index tables match IndexSchemas") {
    val dir = tmp("graft_schema_bm25")
    TextStats.buildBm25Index(docs, "doc_id", "text", dir, nBuckets = 4)
    assertPinned(dir, Map("tf" -> IndexSchemas.bm25Tf,
        "df" -> IndexSchemas.bm25Df, "doclen" -> IndexSchemas.bm25Doclen,
        "totals" -> IndexSchemas.bm25Totals),
      Map("tf" -> "bucket", "df" -> "bucket", "doclen" -> "dbucket"))
  }

  test("IVF and IVF-ADC index tables match IndexSchemas") {
    val ivf = tmp("graft_schema_ivf")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", ivf, nCentroids = 2)
    assertPinned(ivf, Map("assignments" -> IndexSchemas.assignments,
        "centroids" -> IndexSchemas.centroids),
      Map("assignments" -> "cluster"))
    val adc = tmp("graft_schema_adc")
    Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding", adc,
      nCentroids = 2, nSub = 2, nCodes = 4)
    assertPinned(adc, Map("codes" -> IndexSchemas.codes,
        "codebook" -> IndexSchemas.codebook,
        "centroids" -> IndexSchemas.centroids),
      Map("codes" -> "cluster"))
    graft.engine.Caches.releaseAll()
  }
}
