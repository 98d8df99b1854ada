package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry
import graft.engine.Caches

/** Read-only registry queries over the benchmark's copy of the sf0.01
  * testdata, with the caches released between queries as `graft.Bench`
  * does. Each query is forced by its [[contentHash]]: one aggregate
  * action like `.count()`, but over every output column, so the timed
  * execution computes the whole result and is checked against the
  * recorded values.
  */
object Analytics {
  /** `ops.Stats`/`Risk`/`Windows`/`Joins` queries: sub-second, bound by
    * planning and job count.
    */
  val market: Seq[String] = Seq("q01_gold_daily_stats", "q02_dedup_latest",
    "q09_pipeline_gold", "q11_join_fact", "q22_asof_join", "q25_sessionize",
    "q59_ohlc_bars", "q82_vwap", "q106_corr_matrix")

  /** Text and vector queries: CPU in the `graft.functions` kernels. */
  val corpus: Seq[String] = Seq("q38_embed_neardup", "q67_tfidf",
    "q199_text_ann", "q200_text_semantic_dedup", "q204_semantic_clusters")

  val families: Seq[(String, Seq[String])] = Seq("market" -> market, "corpus" -> corpus)

  private lazy val registry = SparkEntry.queries

  def run(spark: SparkSession, dataDir: String, name: String): DataFrame =
    registry(name)(spark, dataDir)

  /** Releases what a query left cached, outside any timed window. */
  def release(spark: SparkSession): Unit = {
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  /** Order-independent content hash: the exact sum of a 64-bit hash of
    * each row's JSON rendering, with the row count.
    */
  def contentHash(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(xxhash64(to_json(struct(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*))).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast(DecimalType(38, 0))),
        lit(0).cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Recorded (rows, hash) per query, from `expected/analytics.tsv`. */
  def loadExpected(path: String): Map[String, (Long, BigDecimal)] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, h) = l.split("\t")
        n -> (rows.toLong, BigDecimal(h))
      }.toMap
  }
}
