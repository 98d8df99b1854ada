package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.Curate
import graft.text.TextStats
import graft.vector.Similarity

/** The index write path over the benchmark's copy of the `documents` and
  * `embeddings` tables: signature, BM25 and IVF-ADC indexes, then a
  * seeded sequence of commits, each an append, a probe and a forget.
  *
  * The seed shuffles the documents into an append pool (held out of the
  * signature index at build time) and disjoint forget slices drawn from
  * the rest. Each slice masks `slice` of the corpus, so with the purge
  * policy at `purgeAbove` every second forget fires a purge, whatever
  * the seed.
  */
final class IndexLifecycle(spark: SparkSession, dataDir: String, root: String,
                           seed: Long, tr: Tracer) {
  import IndexLifecycle._

  private val docs = Tables.load(spark, dataDir, "documents")
  private val emb = Tables.load(spark, dataDir, "embeddings")
  private val ids: Vector[Long] = docs.select("doc_id").collect().map(_.getLong(0)).sorted.toVector
  private val shuffled = new scala.util.Random(seed).shuffle(ids)
  private val poolSize = ids.size / 10
  private val appendPool = shuffled.take(poolSize)
  private val forgetPool = shuffled.drop(poolSize)
  private val batchSize = math.max(1, poolSize / commitsPerRun)
  private val sliceSize = math.max(1, math.ceil(ids.size * slice).toInt)
  private val vectors: Map[Long, Seq[Double]] = emb.select("vec_id", "embedding").collect()
    .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
  private val rng = new scala.util.Random(seed ^ 0x5DEECE66DL)

  val sig = s"$root/signature"
  val ann = s"$root/ann"
  val bm25 = s"$root/bm25"

  private var commits = 0
  private val forgotten = mutable.LinkedHashSet.empty[Long]
  val failures = mutable.ArrayBuffer.empty[String]

  def build(): Unit = {
    val pool = appendPool.toSet
    Curate.buildSignatureIndex(spark, docs.filter(!col("doc_id").isin(pool.toSeq: _*)),
      "doc_id", "text", sig)
    TextStats.buildBm25Index(docs, "doc_id", "text", bm25)
    Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding", ann)
  }

  private def idFrame(xs: Seq[Long]): DataFrame = {
    import spark.implicits._
    xs.toDF("doc_id")
  }

  /** Appends the next pool batch: the indexed manifest verdict, then the
    * signature commit.
    */
  def append(): Unit = tr.span("append") {
    val batchIds = appendPool.slice(commits * batchSize, (commits + 1) * batchSize)
    val batch = docs.filter(col("doc_id").isin(batchIds: _*))
    val verdict = Curate.appendManifestIndexed(spark, sig, batch, "doc_id", "text")
    val n = verdict.count()
    Curate.appendSignatures(spark, batch, "doc_id", "text", sig)
    if (n != batchIds.size)
      failures += s"append: $n verdict rows for a batch of ${batchIds.size}"
  }

  /** BM25 and IVF-ADC probes; no forgotten id may come back. */
  def probe(): Unit = {
    val terms = rng.shuffle(vocabulary).take(3)
    val live = ids.filterNot(forgotten.contains)
    val q = live(rng.nextInt(live.size))
    val (lexical, nearest) = tr.span("probe") {
      (TextStats.bm25Probe(spark, bm25, terms).select("doc_id").collect().map(_.getLong(0)),
        Similarity.ivfAdcProbe(spark, ann, vectors(q), 10, idName = "doc_id")
          .select("doc_id").collect().map(_.getLong(0)))
    }
    val leaked = (lexical ++ nearest).filter(forgotten.contains)
    if (leaked.nonEmpty) failures += s"probe: forgotten ids returned: ${leaked.distinct.mkString(",")}"
    if (nearest.isEmpty) failures += "probe: ANN probe returned no neighbours"
  }

  /** Forgets the next disjoint id slice on all three tiers, then audits
    * the report: fsck green on every tier, and no tombstone pending after
    * a purge fired.
    */
  def forget(): Unit = {
    val slice = forgetPool.filterNot(forgotten.contains).take(sliceSize)
    val report = tr.span("forget") {
      Curate.forgetAndVerifyAll(spark, idFrame(slice), "doc_id",
        signatureIndexPath = Some(sig), annIndexPath = Some(ann),
        bm25IndexPath = Some(bm25), purgeAboveMaskedFraction = purgeAbove)
        .collect()
    }
    forgotten ++= slice
    commits += 1
    if (report.length != 3) failures += s"forget: ${report.length} report rows, expected 3"
    report.foreach { r =>
      val tier = r.getAs[String]("tier")
      if (!r.getAs[Boolean]("fsck_ok")) failures += s"forget: fsck failed on $tier"
      if (r.getAs[Boolean]("purged") && r.getAs[Long]("pending_tombstones") != 0L)
        failures += s"forget: ${r.getAs[Long]("pending_tombstones")} tombstones pending on $tier after a purge"
    }
  }

  def indexBytes: Long = Seq(sig, ann, bm25).map(Main.treeBytes).sum

  /** Documents live in the index set: the corpus plus appended batches'
    * signature rows are the same doc ids, so the live set is the corpus
    * minus what was forgotten.
    */
  def liveDocs: Long = ids.size.toLong - forgotten.size
}

object IndexLifecycle {
  /** Commits in every run: one purge period, the first forget under
    * `purgeAbove` and the second over it.
    */
  val commitsPerRun = 2
  val purgeAbove = 0.05
  val slice = 0.03
  /** Probe terms; every one occurs in the testdata corpus. */
  val vocabulary: Seq[String] = Seq("spark", "vector", "merge", "data",
    "query", "stream", "table", "join")
}
