package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** The delete / purge / forget-cycle lifecycle shared by every persisted
  * index tier — the LSM shape, because the alternatives don't survive
  * 100 TB: an eager rewrite pays index-sized work per delete batch, and
  * "filter at the application layer" leaks the rows through every reader
  * that forgets.
  *
  *   - [[delete]] appends ids to `$indexPath/tombstones`
  *     (delete-proportional); every reader of the tier anti-joins them
  *     out from that moment. Past `purgeAboveRows` it purges.
  *   - [[purge]] takes an entry-time tombstone snapshot, runs the tier's
  *     rewrite (crash-safe staged swaps only) and clears the snapshot's
  *     tombstone files LAST, so a crash at any earlier point leaves every
  *     read correct and the purge idempotent.
  *   - [[forgetAndVerify]] is the operational cycle: heal every declared
  *     table plus `tombstones` (the cycle holds the tier's single-writer
  *     role, so a marker-less staging remnant is a dead crash), record,
  *     read the masked fraction, purge past policy, fsck. ForgetCycleSpec
  *     kills it between every stage; the next cycle's entry completes the
  *     interrupted work.
  *   - [[forgetSink]] is the streaming face: each micro-batch runs
  *     [[delete]]. A tombstone append is set-idempotent (readers consume
  *     the distinct id set), so a crash-retried batch changes nothing
  *     observable — at-least-once is exactly-once here by algebra.
  *
  * Tier-specific logic lives only in each [[IndexTier]]'s rewrite body,
  * masked-fraction query and fsck.
  */
object IndexLifecycle {
  import IndexTable._

  /** One index tier: its declared tables, its
    * masked-fraction query, its purge rewrite (folds a materialized
    * `(id)` tombstone snapshot into the tables through staged swaps),
    * its fsck, and whether its purge runs under
    * [[Layout.withWriterLease]] (tiers whose rewrite recomputes DERIVED
    * partials that a concurrent append would otherwise double-count).
    */
  final class IndexTier private[engine] (
      val name: String,
      private[engine] val tables: Seq[IndexTable],
      private[engine] val maskedFraction: (SparkSession, String) => Double,
      private[engine] val rewrite: (SparkSession, String, DataFrame) => Unit,
      private[engine] val fsck: (SparkSession, String) => DataFrame,
      private[engine] val leasedPurge: Boolean)

  /** Signature index ([[graft.multimodal.Curate.buildSignatureIndex]]). */
  val Signature: IndexTier = new IndexTier("signature",
    Seq(Shingles, TextHashes, ImageHashes, AudioHashes, Edges, ShingleFreq),
    (s, p) => graft.multimodal.Curate.deletionReport(s, p)
      .agg(coalesce(max(col("masked_fraction")), lit(0.0))).head().getDouble(0),
    (s, p, ts) => graft.multimodal.Curate.rewriteSignatureTables(s, p, ts),
    (s, p) => graft.multimodal.Curate.fsckSignatureIndex(s, p),
    leasedPurge = false)

  /** Lexical index ([[graft.text.TextStats.buildBm25Index]]). One doclen
    * row per doc, so its masked fraction is the doc-level garbage ratio.
    */
  val Bm25: IndexTier = new IndexTier("bm25",
    Seq(Bm25Tf, Bm25Df, Bm25Doclen, Bm25Totals),
    maskedFraction(Bm25Doclen),
    (s, p, ts) => graft.text.TextStats.rewriteBm25Tables(s, p, ts),
    (s, p) => graft.text.TextStats.fsckBm25Index(s, p),
    leasedPurge = true)

  /** Raw-vector IVF index ([[graft.vector.Similarity.buildIvfIndex]]):
    * the purge makes the deleted VECTORS physically leave the disk, and a
    * drift rebuild trains on the survivors only.
    */
  val Ivf: IndexTier = new IndexTier("ivf", Seq(Assignments),
    maskedFraction(Assignments), clusterRewrite(Assignments),
    (s, p) => graft.vector.Similarity.fsckIvfIndex(s, p),
    leasedPurge = false)

  /** IVF-ADC index ([[graft.vector.Similarity.buildIvfAdcIndex]]). The
    * codebook and centroids are untouched by design: trained artifacts
    * that memorize no individual vector, and retraining them would
    * invalidate every stored code.
    */
  val IvfAdc: IndexTier = new IndexTier("ann", Seq(Codes),
    maskedFraction(Codes), clusterRewrite(Codes),
    (s, p) => graft.vector.Similarity.fsckIvfAdcIndex(s, p),
    leasedPurge = false)

  /** Record forget requests: append the distinct ids as tombstones,
    * compact the tombstone table past 48 files (many small forget
    * batches), and purge once it holds more than `purgeAboveRows` rows.
    */
  def delete(tier: IndexTier, spark: SparkSession, indexPath: String,
             ids: DataFrame, idColName: String,
             purgeAboveRows: Long = 100000L): Unit = {
    Tombstones.write(ids.select(col(idColName).cast("long").as("id"))
      .distinct().coalesce(1), indexPath, SaveMode.Append)
    if (Layout.flatFileCount(spark, Tombstones.path(indexPath)) > 48)
      Layout.compactFlat(spark, Tombstones.path(indexPath), targetFiles = 1)
    if (Tombstones.read(spark, indexPath).count() > purgeAboveRows)
      purge(tier, spark, indexPath)
  }

  /** Fold the tombstones into the tier's data files. The snapshot gives
    * every rewrite one id universe immune to a concurrent deleter, and
    * only the snapshot's files clear, so a forget request appended
    * mid-purge is never lost.
    */
  def purge(tier: IndexTier, spark: SparkSession, indexPath: String): Unit = {
    def body(): Unit = {
      tier.tables.foreach(_.heal(spark, indexPath, writer = true))
      Layout.tombstoneSnapshot(spark, indexPath).foreach { case (ts, files) =>
        tier.rewrite(spark, indexPath, ts)
        Layout.clearTombstoneFiles(spark, indexPath, files)
      }
    }
    if (tier.leasedPurge) Layout.withWriterLease(spark, indexPath)(body())
    else body()
  }

  /** One audited forget cycle. Returns one row: `(n_requested,
    * masked_fraction, purged, pending_tombstones, fsck_ok,
    * failing_checks)`, where `masked_fraction` is the pre-purge garbage
    * ratio the policy fires on.
    */
  def forgetAndVerify(tier: IndexTier, spark: SparkSession, indexPath: String,
                      ids: DataFrame, idColName: String,
                      purgeAboveMaskedFraction: Double = 0.25,
                      purgeAboveRows: Long = 100000L): DataFrame = {
    (tier.tables :+ Tombstones).foreach(_.heal(spark, indexPath, writer = true))
    val nRequested = ids.select(col(idColName)).distinct().count()
    if (nRequested > 0)
      delete(tier, spark, indexPath, ids, idColName, purgeAboveRows)
    val worst = tier.maskedFraction(spark, indexPath)
    val purged = worst > purgeAboveMaskedFraction
    if (purged) purge(tier, spark, indexPath)
    val failing = tier.fsck(spark, indexPath).filter(!col("ok")).count()
    val pending = Layout.tombstones(spark, indexPath)
      .map(_.count()).getOrElse(0L)
    spark.range(1).select(
      lit(nRequested).as("n_requested"),
      lit(worst).as("masked_fraction"),
      lit(purged).as("purged"),
      lit(pending).as("pending_tombstones"),
      lit(failing == 0L).as("fsck_ok"),
      lit(failing).as("failing_checks"))
  }

  /** Streaming forget requests: every micro-batch of ids runs [[delete]]
    * against the standing index.
    */
  def forgetSink(tier: IndexTier, ids: DataFrame, indexPath: String,
                 checkpoint: String, idCol: String,
                 purgeAboveRows: Long = 100000L): StreamingQuery =
    ids.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          delete(tier, batch.sparkSession, indexPath, batch, idCol,
            purgeAboveRows)
        ()
      }
      .start()

  /** In-flight swap remnants of the tier's tables and its tombstones —
    * each fsck's `no_swap_leftovers` input.
    */
  private[graft] def swapLeftovers(tier: IndexTier, spark: SparkSession,
                                   indexPath: String): Seq[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(indexPath),
      spark.sparkContext.hadoopConfiguration)
    (tier.tables :+ Tombstones).flatMap(_.leftovers)
      .filter(t => fs.exists(new org.apache.hadoop.fs.Path(s"$indexPath/$t")))
  }

  /** Masked fraction of a tier whose `table` holds one row per id key:
    * total and masked rows in ONE aggregate pass. The tombstone side
    * deduplicates before the broadcast left join, so repeated forget
    * requests for one id cannot inflate the count.
    */
  private def maskedFraction(table: IndexTable)
                            (spark: SparkSession, indexPath: String): Double =
    Layout.tombstones(spark, indexPath) match {
      case Some(ts) =>
        val key = table.idKeys.head
        val r = table.read(spark, indexPath)
          .select(col(key))
          .join(broadcast(ts.select(col("id").as(key)).distinct()
              .withColumn("_dead", lit(1))),
            Seq(key), "left")
          .agg(count(lit(1)).as("_t"), count(col("_dead")).as("_m")).head()
        val total = r.getLong(0)
        if (total == 0L) 0.0 else r.getLong(1).toDouble / total
      case None => 0.0
    }

  /** The IVF / IVF-ADC rewrite: only the cluster partitions that hold a
    * deleted vector rewrite (at 100 TB a delete batch touches a handful
    * of coarse lists).
    */
  private def clusterRewrite(table: IndexTable)
                            (spark: SparkSession, indexPath: String,
                             ts: DataFrame): Unit = {
    // ≤ nCentroids partition values — bounded driver state
    val affected = table.read(spark, indexPath).join(broadcast(ts), Seq("id"))
      .select(col(table.partitionCol.get).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    dropFromPartitions(spark, indexPath, table, affected, ts)
  }

  /** Rewrite the `affected` partitions of a partitioned `table` without
    * the rows whose id key is in the `(id)` frame `ts`. The rewrite
    * reads EXACTLY the swap's entry snapshot, so files a concurrent
    * appender lands meanwhile carry over through the swap.
    */
  private[graft] def dropFromPartitions(spark: SparkSession, indexPath: String,
                                        table: IndexTable,
                                        affected: Seq[String],
                                        ts: DataFrame): Unit =
    if (affected.nonEmpty) {
      val partCol = table.partitionCol.get
      val key = table.idKeys.head
      Layout.stagedPartitionReplace(spark, table.path(indexPath)) { (stg, snapshot) =>
        table.stage(table.readSnapshot(spark, indexPath, snapshot)
          .filter(col(partCol).cast("string").isin(affected: _*))
          .join(broadcast(ts.select(col("id").as(key))), Seq(key), "left_anti"),
          // no repartition (r15): the snapshot scan is
          // already dir-partitioned and the broadcast anti-join is
          // narrow — the dynamic-partition writer's per-task sort groups
          // rows without a second full shuffle
          stg)
        stageEmpties(spark, stg, table, affected)
      }
    }

  /** A partition emptied by a rewrite writes no dir — stage an empty one
    * so the swap REPLACES the live partition with emptiness instead of
    * leaving its deleted rows live.
    */
  private[graft] def stageEmpties(spark: SparkSession, stg: String,
                                  table: IndexTable, values: Seq[String]): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(stg),
      spark.sparkContext.hadoopConfiguration)
    values.foreach { v =>
      val p = new org.apache.hadoop.fs.Path(stg, s"${table.partitionCol.get}=$v")
      if (!fs.exists(p)) fs.mkdirs(p)
    }
  }
}
