package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming surface (SURVEY §2.11 — extension beyond the
  * reference, which is batch-only; the driver's north star asks for a
  * streaming ingestion path over the `events` table).
  *
  * Every transform here is source-agnostic: the same function works on a
  * batch DataFrame (for oracle-style tests) and on `readStream` input —
  * that is the Structured Streaming contract, and the ScalaTest suite
  * exercises both via MemoryStream.
  *
  * Scale posture: all aggregations are keyed on (window, type) so state is
  * bounded by (windows in watermark) × (key cardinality); the watermark
  * evicts state, which is what lets a 100 TB/day stream run with bounded
  * executor memory. Sums are per-row decimal casts — exact under
  * incremental (partial) aggregation.
  */
object EventStream {

  /** Tumbling-window per-type stats with a watermark for state eviction
    * and late-data cutoff.
    */
  def tumblingStats(events: DataFrame, window_ : String = "1 hour",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("total_value"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Sliding-window variant (overlap = window/slide state amplification —
    * sized by the watermark).
    */
  def slidingStats(events: DataFrame, window_ : String = "1 hour",
                   slide: String = "15 minutes",
                   watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("n_events"))

  /** Session windows per user (gap-based) — the streaming analog of
    * [[graft.ops.Windows.sessionize]].
    */
  def sessionStats(events: DataFrame, gap: String = "30 minutes",
                   watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("total_value"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Streaming tick→bar OHLC resample — [[graft.ops.Stats.ohlcBars]] on
    * the live path: per (key, event-time window) open/high/low/close/
    * volume with watermark-bounded state. Open and close are
    * `min_by`/`max_by` over the struct (ts, seq): the batch operator
    * avoids min_by because bare timestamps tie, but the struct carries
    * the unique tiebreak, so the pick is the same deterministic total
    * order as the batch row_number pair — spec'd equal on the same
    * ticks. Volume is the batch's exact decimal sum, presented
    * identically.
    */
  def ohlcBarsStream(events: DataFrame, keyCol: String, seqCol: String,
                     valueCol: String, window_ : String = "1 minute",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col(keyCol))
      .agg(
        min_by(col(valueCol), struct(col("ts"), col(seqCol))).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), struct(col("ts"), col(seqCol))).as("close"),
        round(sum(col(valueCol).cast(DecimalType(18, 2))).cast("double"), 2)
          .as("volume"),
        count(lit(1)).as("n_ticks"))
      .select(col("window.start").as("bar"), col(keyCol), col("open"),
        col("high"), col("low"), col("close"), col("volume"), col("n_ticks"))

  /** Streaming dedup on (user_id, ts) within the watermark horizon — the
    * streaming form of the reference's W1 dedup (state = keys seen inside
    * the watermark, evicted automatically).
    */
  def dedupStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "ts")

  /** Streaming Bronze ingest sink: lands each micro-batch in the
    * date-partitioned Bronze table, rows co-located per partition before
    * the write ([[graft.engine.Layout.colocated]] — the small-files
    * discipline the native parquet sink lacks: one file per touched date
    * per batch instead of one per shuffle partition per date).
    * Exactly-once under micro-batch retries via [[appendBatchIdempotent]].
    */
  def sinkBronze(events: DataFrame, path: String, checkpoint: String,
                 tsCol: String = "ts"): org.apache.spark.sql.streaming.StreamingQuery =
    events.withColumn("partition_date", to_date(col(tsCol)))
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        appendBatchIdempotent(batch, path, id)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** Idempotent micro-batch append: a committed batch leaves a marker
    * (`_graft_manifest/batch-<id>`, hidden from scans); a retried batch
    * id is skipped, so foreachBatch gets the exactly-once effect the
    * built-in file sink achieves with its commit log. The batch is
    * written to a staging dir and PROMOTED into the live tree by
    * [[idempotentPromote]], so a crash anywhere between the write and
    * the marker cannot duplicate rows on retry (the naïve
    * append-then-marker shape had exactly that window).
    */
  def appendBatchIdempotent(batch: DataFrame, path: String, batchId: Long): Unit =
    idempotentPromote(batch.sparkSession, path, path, batchId) { staging =>
      graft.engine.Layout.colocated(batch)
        .write.mode("overwrite").partitionBy("partition_date").parquet(staging)
    }

  /** Crash-safe idempotent promote of one micro-batch into a live
    * partitioned parquet dir. Exactly-once effect per `batchId`, even
    * across crashes at ANY point, via a three-phase commit on the
    * filesystem:
    *
    *   1. `writeStaged(stagingDir)` produces the batch's files under
    *      `markerRoot/_graft_staging/batch-<id>` (partition subdirs
    *      preserved);
    *   2. the list of TARGET paths is recorded atomically
    *      (`_graft_manifest/batch-<id>.files`, written to `.tmp` then
    *      renamed), then each staged file is renamed into the live tree
    *      as `graft-batch-<id>-<name>` (per-file rename is atomic on
    *      HDFS/posix; on an object store without atomic rename this
    *      degrades to copy — still duplicate-free, not atomic per file);
    *   3. the commit marker `_graft_manifest/batch-<id>` is created and
    *      staging + filelist removed.
    *
    * Retry after a crash: marker present ⇒ committed, only leftovers
    * are swept; filelist present without marker ⇒ a promote died
    * mid-rename — every LISTED target is deleted (undo), then the batch
    * is re-staged and re-promoted; neither ⇒ stale staging (died during
    * the write, nothing live) is deleted and the batch runs fresh.
    * Readers concurrent with a promote may see a PREFIX of the batch's
    * files (same visibility as any multi-file append) — never
    * duplicates. Structured Streaming runs one query's micro-batches
    * serially, so no two writers share a batchId.
    */
  def idempotentPromote(spark: org.apache.spark.sql.SparkSession,
                        markerRoot: String, liveDir: String, batchId: Long)
                       (writeStaged: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(markerRoot), conf)
    val manifest = new Path(markerRoot, "_graft_manifest")
    val marker = new Path(manifest, s"batch-$batchId")
    val filelist = new Path(manifest, s"batch-$batchId.files")
    val staging = new Path(markerRoot, s"_graft_staging/batch-$batchId")
    if (fs.exists(marker)) { // committed — sweep leftovers, done
      fs.delete(staging, true); fs.delete(filelist, false)
      return
    }
    if (fs.exists(filelist)) { // promote died mid-rename: undo targets
      val in = fs.open(filelist)
      val listed = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toVector finally in.close()
      listed.foreach(p => fs.delete(new Path(p), false))
      fs.delete(filelist, false)
    }
    fs.delete(staging, true)
    writeStaged(staging.toString)
    // enumerate staged data files → (src, live target) pairs; the
    // batch-id file-name prefix makes targets collision-free and
    // identifiable (the undo above relies only on the filelist)
    val stagePrefix = staging.toUri.getPath.stripSuffix("/")
    val moves = scala.collection.mutable.ArrayBuffer[(Path, Path)]()
    val it = fs.listFiles(staging, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        val rel = f.getPath.getParent.toUri.getPath
          .stripPrefix(stagePrefix).stripPrefix("/")
        val dir = if (rel.isEmpty) new Path(liveDir) else new Path(liveDir, rel)
        moves += ((f.getPath, new Path(dir, s"graft-batch-$batchId-$name")))
      }
    }
    fs.mkdirs(manifest)
    val tmp = new Path(manifest, s"batch-$batchId.files.tmp")
    val out = fs.create(tmp, true)
    try out.write(moves.map(_._2.toString).mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    finally out.close()
    fs.delete(filelist, false)
    if (!fs.rename(tmp, filelist))
      throw new java.io.IOException(s"idempotentPromote: rename $tmp failed")
    moves.foreach { case (src, dst) =>
      fs.mkdirs(dst.getParent)
      if (!fs.rename(src, dst))
        throw new java.io.IOException(
          s"idempotentPromote: rename $src -> $dst failed")
    }
    fs.create(marker, true).close()
    fs.delete(staging, true); fs.delete(filelist, false)
    // sweep the (now empty) staging parent only if nothing else stages
    val stagingRoot = staging.getParent
    if (fs.exists(stagingRoot) && !fs.listFiles(stagingRoot, true).hasNext)
      fs.delete(stagingRoot, true)
    ()
  }

  /** Streaming IVFADC index maintenance: each micro-batch of vectors
    * appends into a persisted [[graft.vector.Similarity.buildIvfAdcIndex]]
    * layout through the frozen-codebook path
    * ([[graft.vector.Similarity.appendIvfAdcIndex]]) — the continuous-
    * ingest face of the ANN family: vectors become probe-visible at
    * micro-batch latency with batch-shaped cost, and probes running
    * between batches keep seeing a consistent directory tree (appends
    * only add files inside cluster dirs). Exactly-once under
    * micro-batch retries via the same marker discipline as
    * [[sinkBronze]] (markers live under the index root; the codes
    * scans read `codes/` and never see them). Drift stays the CALLER's
    * scheduled concern — run
    * [[graft.vector.Similarity.maintainIvfAdcIndex]] out-of-band; a
    * streaming sink must never block a micro-batch on a corpus-shaped
    * retrain.
    */
  def sinkIvfAdcAppend(vectors: DataFrame, indexPath: String,
                       checkpoint: String, idCol: String = "vec_id",
                       vecCol: String = "embedding"): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        appendIvfAdcBatchIdempotent(batch, indexPath, id, idCol, vecCol)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** Streaming ANN serving — the READ face beside [[sinkIvfAdcAppend]]'s
    * write face: each micro-batch of query vectors probes the PERSISTED
    * IVFADC index as ONE join plan
    * ([[graft.vector.Similarity.ivfAdcProbeJoin]] — linear in batch
    * size, law-proven equal to per-query probes, tombstone-aware) and
    * appends the per-query top-k — tagged with the probe epoch so a
    * consumer can correlate results with index maintenance commits —
    * exactly once under micro-batch retries ([[idempotentPromote]]'s
    * three-phase marker discipline; results are k-row-per-query flat
    * parquet, not the Bronze date-partitioned layout, so the promote is
    * used directly rather than through [[appendBatchIdempotent]]).
    * Together with the append sink and the forget sink this completes
    * the online index lifecycle: serve, grow, and forget, all as
    * streams against one persisted index.
    */
  def annProbeSink(queries: DataFrame, indexPath: String, outPath: String,
                   checkpoint: String, k: Int = 10,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   nProbe: Int = 4): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          val res = graft.vector.Similarity.ivfAdcProbeJoin(
              batch.sparkSession, indexPath, batch, idCol, vecCol, k,
              nProbe, idName = idCol)
            .withColumn("probe_epoch", lit(id))
          idempotentPromote(batch.sparkSession, outPath, outPath, id) {
            staging => res.coalesce(1).write.mode("overwrite").parquet(staging)
          }
        }
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** Streaming HYBRID serving — [[annProbeSink]]'s discipline over
    * BOTH persisted index tiers at once: each micro-batch of queries
    * (`query_id` = a vec_id in `emb`, `terms` = its lexical terms)
    * runs ONE fused plan ([[graft.ops.Retrieval.hybridProbeJoin]] —
    * bucket-pruned multi-query BM25 probe + partition-pruned
    * multi-query IVF probe + per-query RRF, corpus cost paid once per
    * batch) and appends the per-query fused top-k tagged with the
    * probe epoch, exactly once under micro-batch retries (the
    * [[idempotentPromote]] three-phase marker discipline). Per-batch
    * output equals the batch [[graft.ops.Retrieval.hybridProbeJoin]]
    * verbatim (VectorStreamSpec), which is itself law-equal to
    * per-query [[graft.ops.Retrieval.hybridProbeTopK]].
    */
  def hybridProbeSink(queries: DataFrame, bm25IndexPath: String,
                      ivfIndexPath: String, emb: DataFrame,
                      outPath: String, checkpoint: String,
                      vecIdCol: String = "vec_id",
                      vecCol: String = "embedding",
                      perList: Int = 10, topK: Int = 10,
                      nProbe: Int = 4): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          // scoped cache hygiene: the probe join registers its internal
          // persist; a long-running sink must release per batch, never
          // accumulate (and never releaseAll — a concurrent operator's
          // frames are not this sink's to kill)
          val m = graft.engine.Caches.mark()
          try {
            val res = graft.ops.Retrieval.hybridProbeJoin(
                batch.sparkSession, bm25IndexPath, ivfIndexPath, emb,
                vecIdCol, vecCol, batch, perList = perList, topK = topK,
                nProbe = nProbe)
              .withColumn("probe_epoch", lit(id))
            idempotentPromote(batch.sparkSession, outPath, outPath, id) {
              staging => res.coalesce(1).write.mode("overwrite").parquet(staging)
            }
          } finally graft.engine.Caches.releaseSince(m)
        }
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** Streaming LEXICAL index growth — [[sinkIvfAdcAppend]]'s write
    * face on the BM25 tier, completing the lexical streaming
    * lifecycle (serve: [[hybridProbeSink]]; grow: this; forget: the
    * batch delete verbs under the writer lease): each micro-batch of
    * NEW documents appends its tf/df/doclen/totals deltas to a
    * persisted [[graft.text.TextStats.buildBm25Index]] layout, probe-
    * visible at micro-batch latency with batch-shaped cost.
    * Exactly-once via [[appendBm25BatchIdempotent]].
    */
  def sinkBm25Append(docs: DataFrame, indexPath: String, checkpoint: String,
                     idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        appendBm25BatchIdempotent(batch, indexPath, id, idCol, textCol)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** The marker-guarded body of [[sinkBm25Append]]: the batch's four
    * delta frames ([[graft.text.TextStats.bm25BatchDeltas]]) are
    * staged as ONE directory tree mirroring the index layout and
    * promoted by [[idempotentPromote]] under the index WRITER LEASE —
    * which closes the non-atomicity the plain
    * [[graft.text.TextStats.appendBm25Index]] accepts: that verb's
    * four sequential writes leave a crashed append half-landed
    * (benignly probe-invisible, but unable to retry past the new-ids
    * require), whereas here a crash at ANY point either undoes the
    * listed renames or skips the committed marker — the retried batch
    * id is exactly-once across all four tables at once. The new-ids
    * require runs only for FRESH batches (no marker, no filelist): on
    * a retry the ids are legitimately present mid-promote and the
    * check would misfire.
    */
  def appendBm25BatchIdempotent(batch: DataFrame, indexPath: String,
                                batchId: Long, idCol: String = "doc_id",
                                textCol: String = "text"): Unit = {
    val spark = batch.sparkSession
    graft.engine.Layout.withWriterLease(spark, indexPath) {
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(indexPath),
        spark.sparkContext.hadoopConfiguration)
      def mf(name: String) = new org.apache.hadoop.fs.Path(
        s"$indexPath/_graft_manifest/$name")
      val fresh = !fs.exists(mf(s"batch-$batchId")) &&
        !fs.exists(mf(s"batch-$batchId.files"))
      if (fresh) graft.text.TextStats.requireNewDocs(batch, idCol, indexPath,
        "appendBm25BatchIdempotent")
      val nBuckets = graft.text.TextStats.bm25Buckets(spark, indexPath)
      val m = graft.engine.Caches.mark()
      try {
        idempotentPromote(spark, indexPath, indexPath, batchId) { staging =>
          graft.text.TextStats.writeBm25Deltas(batch, idCol, textCol, nBuckets,
            staging, org.apache.spark.sql.SaveMode.Overwrite)
        }
      } finally graft.engine.Caches.releaseSince(m)
      graft.text.TextStats.boundTotalsSegments(spark, indexPath)
    }
  }

  /** The marker-guarded body of [[sinkIvfAdcAppend]] —
    * [[appendBatchIdempotent]]'s discipline applied to the index
    * append, exposed so retry semantics are directly testable. The
    * encoded batch is staged (frozen-codebook encode writes to the
    * staging dir via `codesOut`) and promoted into `indexPath/codes` by
    * [[idempotentPromote]] — a crash between the codes write and the
    * marker can no longer re-append the batch and duplicate probe
    * results on retry.
    */
  def appendIvfAdcBatchIdempotent(batch: DataFrame, indexPath: String,
                                  batchId: Long, idCol: String = "vec_id",
                                  vecCol: String = "embedding"): Unit =
    idempotentPromote(batch.sparkSession, indexPath,
      graft.engine.IndexTable.Codes.path(indexPath), batchId) { staging =>
      graft.vector.Similarity.appendIvfAdcIndex(batch, idCol, vecCol,
        indexPath, codesOut = Some(staging))
      ()
    }

  /** Stream–static enrichment: each micro-batch equi-joins the stream
    * against a small static dimension, explicitly broadcast — the
    * dimension ships once per executor and the stream side never
    * shuffles. The standard pattern for attaching slowly-changing
    * reference data (instrument metadata, user attributes) to a tick
    * stream.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey), "left")

  /** Stream–stream interval join (click→purchase attribution shape):
    * right rows join left rows with the same key and right.ts within
    * [left.ts − horizon, left.ts]. Both sides carry watermarks and the
    * join condition time-bounds both event times, so buffered join state
    * is evicted once the watermark passes the horizon — bounded executor
    * memory on an unbounded stream. Right columns return `r_`-prefixed.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   tsCol: String, horizonSeconds: Long = 3600,
                   watermark: String = "2 hours"): DataFrame = {
    val r = right.columns.foldLeft(right)((df, c) => df.withColumnRenamed(c, s"r_$c"))
    left.withWatermark(tsCol, watermark)
      .join(r.withWatermark(s"r_$tsCol", watermark),
        col(key) === col(s"r_$key")
          && col(s"r_$tsCol") >= col(tsCol) - expr(s"INTERVAL $horizonSeconds SECONDS")
          && col(s"r_$tsCol") <= col(tsCol))
  }

  case class UserState(n: Long, total: Double)
  case class UserUpdate(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed streaming state via flatMapGroupsWithState: per-user
    * running event count + value total, emitted once per user per
    * micro-batch (Update mode). The pattern to reach for when windowed
    * built-ins can't express the state machine. State size = one small
    * record per active user — keep a timeout in production if the key
    * space is unbounded.
    */
  def runningUserTotals(spark: SparkSession, events: DataFrame): Dataset[UserUpdate] = {
    import spark.implicits._
    events.selectExpr("user_id", "cast(value as double) as value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserState, UserUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          val (dn, dv) = rows.foldLeft((0L, 0.0)) {
            case ((n, v), (_, value)) => (n + 1, v + value)
          }
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          val next = UserState(prev.n + dn, prev.total + dv)
          state.update(next)
          Iterator(UserUpdate(uid, next.n, next.total))
      }
  }

  case class EwmaState(acc: Double, seen: Boolean)
  case class EwmaTick(key: String, seq: Long, value: Double, ewma: Double)

  /** Per-instrument recursive EWMA on the live path with REAL streaming
    * state: `acc = acc·(1−α) + α·x` folded across micro-batches via
    * flatMapGroupsWithState, seeded with each key's first-ever tick —
    * the unbounded-history semantics a live smoother wants (the batch
    * [[graft.ops.Stats.ewma]] restarts at its frame edge; with a frame
    * wider than the history the two agree exactly, which is the
    * batch-equivalence law the spec pins). Rows are folded in `seqCol`
    * order WITHIN each micro-batch (the iterator's arrival order is not
    * a contract); cross-batch order is the source's responsibility, as
    * for any streaming fold. State = one (double, flag) per key.
    * Null-keyed/null-valued ticks are dropped up front: a null cannot
    * enter the fold, and letting it reach the non-nullable tuple
    * encoder would kill the long-running query instead.
    */
  def ewmaStream(spark: SparkSession, ticks: DataFrame, keyCol: String,
                 seqCol: String, valueCol: String,
                 alpha: Double): Dataset[EwmaTick] = {
    import spark.implicits._
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    ticks.select(col(keyCol).cast("string").as("k"),
        col(seqCol).cast("long").as("seq"),
        col(valueCol).cast("double").as("v"))
      .filter(col("k").isNotNull && col("seq").isNotNull && col("v").isNotNull)
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[EwmaState, EwmaTick](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (k, rows, state) =>
          var st = state.getOption.getOrElse(EwmaState(0.0, seen = false))
          val out = rows.toSeq.sortBy(_._2).map { case (_, seq, v) =>
            st = if (!st.seen) EwmaState(v, seen = true)
                 else EwmaState(st.acc * (1 - alpha) + alpha * v, seen = true)
            // state stays UNROUNDED (the batch fold recurses on raw
            // doubles); only the emission is rounded, exactly as the
            // batch operator rounds each row's fold — stream and batch
            // agree bit-for-bit, not within a tolerance
            EwmaTick(k, seq, v,
              BigDecimal(st.acc).setScale(6,
                BigDecimal.RoundingMode.HALF_UP).toDouble)
          }
          state.update(st)
          out.iterator
      }
  }

  case class RsiState(lastMicros: Long, seen: Boolean, deltas: List[Long])
  case class RsiTick(key: String, seq: Long, value: Double,
                     n_deltas: Long, rsi: Option[Double])

  /** Per-instrument RSI on the live path: streaming state = the
    * previous tick + the trailing `period` deltas per key, exactly the
    * batch frame ([[graft.ops.Stats.rsi]]'s ROWS BETWEEN period-1
    * PRECEDING) maintained incrementally — so tick m carries
    * min(period, m−1) deltas and the stream agrees with the batch
    * operator tick-for-tick (spec'd, including sub-6dp inputs). Rows
    * fold in `seqCol` order within each micro-batch, null ticks are
    * dropped as in [[ewmaStream]]. State per key = period + 2 numbers.
    *
    * Numerics contract: the batch operator quantizes values through
    * DECIMAL(18,6) and sums deltas exactly — so the stream ingests the
    * SAME decimal cast and carries it as an exact `BigDecimal` all the
    * way into the fold (never a lossy double round-trip: the double ulp
    * at 1e10 is ~2e-6, coarser than the 6th decimal the batch side
    * still resolves). The delta deque lives in exact 1e-6 integer units
    * (`Long` micros — `toLongExact` covers all of DECIMAL(18,6));
    * gain/loss sums go through `BigInt` (14 full-range deltas can
    * overflow a Long), and the final `100·g/(g+l)` rounds from the same
    * doubles the batch side rounds. State-schema note: the micros
    * representation replaced a double deque — restarting from a
    * checkpoint written by the double-era build is not supported; use a
    * fresh checkpoint.
    */
  def rsiStream(spark: SparkSession, ticks: DataFrame, keyCol: String,
                seqCol: String, valueCol: String,
                period: Int = 14): Dataset[RsiTick] = {
    import spark.implicits._
    require(period > 0, s"period must be positive, got $period")
    ticks.select(col(keyCol).cast("string").as("k"),
        col(seqCol).cast("long").as("seq"),
        col(valueCol).cast("decimal(18,6)").as("v"))
      .filter(col("k").isNotNull && col("seq").isNotNull && col("v").isNotNull)
      .as[(String, Long, BigDecimal)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[RsiState, RsiTick](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (k, rows, state) =>
          var st = state.getOption.getOrElse(RsiState(0L, seen = false, Nil))
          val out = rows.toSeq.sortBy(_._2).map { case (_, seq, v) =>
            val vm = (v * 1000000).toLongExact // exact across DECIMAL(18,6)
            val deltas =
              (if (st.seen) st.deltas :+ (vm - st.lastMicros) else st.deltas)
                .takeRight(period)
            st = RsiState(vm, seen = true, deltas)
            val g = deltas.filter(_ > 0).map(BigInt(_)).sum
            val l = -deltas.filter(_ < 0).map(BigInt(_)).sum
            val rsi = if (g + l > 0)
              Some(BigDecimal(100.0 * (BigDecimal(g) / 1000000).toDouble /
                  (BigDecimal(g + l) / 1000000).toDouble)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
            else None
            RsiTick(k, seq, v.toDouble, deltas.size.toLong, rsi)
          }
          state.update(st)
          out.iterator
      }
  }

  case class BollState(values: List[Long])
  case class BollTick(key: String, seq: Long, value: Double, roll_n: Long,
                      bb_mid: Double, bb_upper: Option[Double],
                      bb_lower: Option[Double], pct_b: Option[Double])

  /** Per-instrument Bollinger bands on the live path: streaming state =
    * the trailing `window` values per key — exactly the batch frame
    * ([[graft.ops.Stats.bollinger]]'s ROWS BETWEEN window-1 PRECEDING)
    * maintained incrementally, so the stream agrees with the batch
    * operator tick-for-tick (spec'd). Rows fold in `seqCol` order
    * within each micro-batch; null ticks drop as in [[ewmaStream]].
    * State per key = `window` longs.
    *
    * Numerics contract (the [[rsiStream]] discipline): values quantize
    * through DECIMAL(18,6) and live as exact 1e-6 integer units in
    * state; the power sums Σv and Σv² run in `BigInt` (a squared
    * full-range DECIMAL(18,6) micro-value overflows a Long), convert to
    * the SAME doubles the batch side's decimal→double casts produce
    * (both correctly rounded), and every rounding step replays the
    * batch formula shape — mean, std, bands at 6 dp, %B only when the
    * window has spread.
    */
  def bollingerStream(spark: SparkSession, ticks: DataFrame, keyCol: String,
                      seqCol: String, valueCol: String,
                      window: Int = 20, k: Double = 2.0): Dataset[BollTick] = {
    import spark.implicits._
    require(window > 0, s"window must be positive, got $window")
    require(k > 0, s"band width multiple must be positive, got $k")
    def r6(d: Double): Double =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    ticks.select(col(keyCol).cast("string").as("k"),
        col(seqCol).cast("long").as("seq"),
        col(valueCol).cast("decimal(18,6)").as("v"))
      .filter(col("k").isNotNull && col("seq").isNotNull && col("v").isNotNull)
      .as[(String, Long, BigDecimal)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[BollState, BollTick](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          var st = state.getOption.getOrElse(BollState(Nil))
          val out = rows.toSeq.sortBy(_._2).map { case (_, seq, v) =>
            val vm = (v * 1000000).toLongExact
            val vals = (st.values :+ vm).takeRight(window)
            st = BollState(vals)
            val n = vals.size
            // exact integer power sums → the same correctly-rounded
            // doubles the batch side's decimal casts yield
            val s1d = (BigDecimal(vals.map(BigInt(_)).sum) / 1000000).toDouble
            val s2d = (BigDecimal(vals.map(m => BigInt(m) * BigInt(m)).sum) /
              BigDecimal(1000000000000L)).toDouble
            val mean = r6(s1d / n)
            val std = if (n > 1)
              Some(r6(math.sqrt(math.max(0.0,
                (s2d - s1d * s1d / n) / (n - 1))))) else None
            val up = std.map(s => r6(mean + k * s))
            val lo = std.map(s => r6(mean - k * s))
            // guard on the ROUNDED band width, as batch does: a small
            // k·std can round both bands onto the mid even with std > 0,
            // and a zero-width division here is Infinity → r6 throws,
            // killing the stream
            val pctB = for { u <- up; l <- lo if u > l }
              yield r6((v.toDouble - l) / (u - l))
            BollTick(key, seq, v.toDouble, n.toLong, mean, up, lo, pctB)
          }
          state.update(st)
          out.iterator
      }
  }

  // accumulators as decimal strings for the same encoder-cap reason as
  // VwapState: Σr² of full-range returns exceeds DECIMAL(38,18)
  case class SharpeState(lastMicros: Long, seen: Boolean,
                         n: Long, s1: String, s2: String)
  case class SharpeTick(key: String, seq: Long, n_returns: Long,
                        mean_return: Option[Double], sharpe: Option[Double])

  /** Per-instrument RUNNING Sharpe ratio on the live path: streaming
    * state = the previous tick plus exact power sums (n, Σr, Σr²) of
    * the tick returns seen so far — the incremental face of
    * [[graft.ops.Stats.sharpe]]; after any prefix of ticks the latest
    * emission per key equals the batch aggregate over that prefix
    * (spec'd — the [[vwapStream]] prefix-equality law).
    *
    * Numerics contract: values quantize through DECIMAL(18,6) as the
    * batch cast does; each return is ONE double division rounded to
    * 9 dp and fixed as an exact decimal (the batch `tickReturn`
    * formula, replayed bit-for-bit from the same decimal inputs), and
    * the power sums accumulate as exact BigDecimals. Mean and the
    * guarded Sharpe quotient are the only double math, rounded as the
    * batch side rounds. Undefined returns (first tick, non-positive
    * previous price) are skipped exactly as batch returns filter out.
    */
  def sharpeStream(spark: SparkSession, ticks: DataFrame, keyCol: String,
                   seqCol: String, valueCol: String): Dataset[SharpeTick] = {
    import spark.implicits._
    def r = (d: Double, s: Int) =>
      BigDecimal(d).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    ticks.select(col(keyCol).cast("string").as("k"),
        col(seqCol).cast("long").as("seq"),
        col(valueCol).cast("decimal(18,6)").as("v"))
      .filter(col("k").isNotNull && col("seq").isNotNull && col("v").isNotNull)
      .as[(String, Long, BigDecimal)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SharpeState, SharpeTick](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          var st = state.getOption.getOrElse(
            SharpeState(0L, seen = false, 0L, "0", "0"))
          var s1 = BigDecimal(st.s1)
          var s2 = BigDecimal(st.s2)
          var n = st.n
          val out = rows.toSeq.sortBy(_._2).map { case (_, seq, v) =>
            val vm = (v * 1000000).toLongExact
            if (st.seen && st.lastMicros > 0) {
              // the batch tickReturn: (v - prev)/prev in double, round 9,
              // fix as decimal — prev > 0 or the return is undefined
              val prev = BigDecimal(st.lastMicros) / 1000000
              val ret = BigDecimal(
                r(((v - prev).toDouble / prev.toDouble), 9))
              s1 += ret
              s2 += ret * ret
              n += 1
            }
            st = SharpeState(vm, seen = true, n, s1.toString, s2.toString)
            val mean = if (n > 0) Some(r(s1.toDouble / n, 9)) else None
            val sharpe = if (n > 1) {
              val s1d = s1.toDouble
              val varE = math.max(0.0,
                (s2.toDouble - s1d * s1d / n) / (n - 1))
              if (varE > 0) Some(r((s1d / n) / math.sqrt(varE), 6)) else None
            } else None
            SharpeTick(key, seq, n, mean, sharpe)
          }
          state.update(st)
          out.iterator
      }
  }

  case class DrawdownState(peakMicros: Long, maxDdMicros: Long, n: Long)
  case class DrawdownTick(key: String, seq: Long, n_ticks: Long,
                          peak: Double, drawdown: Double,
                          max_drawdown: Double)

  /** Per-instrument RUNNING drawdown on the live path: streaming state =
    * the running peak and the deepest peak-to-trough fall so far — the
    * incremental face of [[graft.ops.Stats.maxDrawdown]]; after any
    * prefix of ticks the latest emission per key equals the batch
    * aggregate over that prefix (the [[vwapStream]] prefix-equality
    * law), and each tick additionally carries its CURRENT drawdown,
    * which the batch all-at-once shape never surfaces. Prices quantize
    * through DECIMAL(18,6) exactly as the batch cast does and ride as
    * exact micro-units in state; the only doubles are the rounded
    * presentation values.
    */
  def drawdownStream(spark: SparkSession, ticks: DataFrame, keyCol: String,
                     seqCol: String, valueCol: String): Dataset[DrawdownTick] = {
    import spark.implicits._
    def r6(m: Long): Double =
      (BigDecimal(m) / 1000000).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
    ticks.select(col(keyCol).cast("string").as("k"),
        col(seqCol).cast("long").as("seq"),
        col(valueCol).cast("decimal(18,6)").as("v"))
      .filter(col("k").isNotNull && col("seq").isNotNull && col("v").isNotNull)
      .as[(String, Long, BigDecimal)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[DrawdownState, DrawdownTick](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          var st = state.getOption.getOrElse(DrawdownState(0L, 0L, 0L))
          val out = rows.toSeq.sortBy(_._2).map { case (_, seq, v) =>
            val vm = (v * 1000000).toLongExact
            val peak = if (st.n > 0) math.max(st.peakMicros, vm) else vm
            val dd = peak - vm
            st = DrawdownState(peak, math.max(st.maxDdMicros, dd), st.n + 1)
            DrawdownTick(key, seq, st.n, r6(peak), r6(dd),
              r6(st.maxDdMicros))
          }
          state.update(st)
          out.iterator
      }
  }

  case class RvState(lastMicros: Long, seen: Boolean, bucket: Long,
                     inBucket: Boolean, n: Long, s2: String)
  case class RvTick(key: String, seq: Long, bucket: Long, n_returns: Long,
                    realized_variance: Double, realized_vol: Double)

  /** Per-(instrument, bucket) RUNNING realized variance on the live
    * path: the incremental face of [[graft.ops.Stats.realizedVariance]]
    * — live RV/vol is THE number a risk screen watches intraday, and
    * the batch all-at-once shape only surfaces it after the bucket
    * closes. After any prefix of ticks the latest emission per
    * (key, bucket) equals the batch aggregate over that prefix
    * (spec'd — the [[vwapStream]] prefix-equality law, per bucket).
    *
    * Semantics mirror batch exactly: the return STRADDLING a bucket
    * boundary belongs to the bucket of its LATER tick (the market-open
    * convention — the last-price chain crosses buckets, only the
    * accumulators reset), undefined returns (first tick, non-positive
    * previous price) are skipped, and null-priced ticks drop before
    * the chain. `bucketCol` must be bucket-monotone per key in seq
    * order (any time-derived bucket is); state = last price + the OPEN
    * bucket's (n, Σr²) — O(1) per key, buckets close themselves when
    * the next one opens.
    *
    * Numerics contract (the [[sharpeStream]] discipline): prices
    * quantize through DECIMAL(18,6); each return is the batch
    * `tickReturn` double division rounded to 9 dp and fixed exact;
    * Σr² accumulates as an exact BigDecimal string; the presented
    * variance/vol replay the batch decimal→double casts bit-for-bit.
    */
  def realizedVarianceStream(spark: SparkSession, ticks: DataFrame,
                             keyCol: String, seqCol: String,
                             valueCol: String,
                             bucketCol: String): Dataset[RvTick] = {
    import spark.implicits._
    def r9(d: Double): Double =
      BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    ticks.select(col(keyCol).cast("string").as("k"),
        col(seqCol).cast("long").as("seq"),
        col(valueCol).cast("decimal(18,6)").as("v"),
        col(bucketCol).cast("long").as("b"))
      .filter(col("k").isNotNull && col("seq").isNotNull &&
        col("v").isNotNull && col("b").isNotNull)
      .as[(String, Long, BigDecimal, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[RvState, RvTick](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          var st = state.getOption.getOrElse(
            RvState(0L, seen = false, 0L, inBucket = false, 0L, "0"))
          var s2 = BigDecimal(st.s2)
          val out = rows.toSeq.sortBy(_._2).flatMap { case (_, seq, v, b) =>
            val vm = (v * 1000000).toLongExact
            if (st.seen && st.lastMicros > 0) {
              // a return materializes IN bucket b (the later tick's
              // bucket, batch's straddle convention) — roll the
              // accumulators iff the return's bucket is new
              if (!st.inBucket || b != st.bucket) {
                s2 = BigDecimal(0)
                st = st.copy(bucket = b, inBucket = true, n = 0L)
              }
              val prev = BigDecimal(st.lastMicros) / 1000000
              val ret = BigDecimal(
                r9((v - prev).toDouble / prev.toDouble))
              s2 += ret * ret
              st = st.copy(lastMicros = vm, n = st.n + 1, s2 = s2.toString)
              Some(RvTick(key, seq, b, st.n, s2.toDouble,
                r9(math.sqrt(s2.toDouble))))
            } else { // undefined return: chain advances, sums untouched
              st = st.copy(lastMicros = vm, seen = true)
              None
            }
          }
          state.update(st)
          out.iterator
      }
  }

  case class AtrState(lastCloseMicros: Long, seen: Boolean,
                      trs: List[Long], highs: List[Long], lows: List[Long])
  case class AtrTick(key: String, bar: Long, high: Double, low: Double,
                     close: Double, atr: Option[Double],
                     donchian_high: Option[Double],
                     donchian_low: Option[Double],
                     breakout_up: Option[Int], breakout_down: Option[Int])

  /** Per-instrument ATR + Donchian channels on the live path: streaming
    * state = the previous close, the trailing `nBars` true ranges, and
    * the trailing `nBars` (high, low) pairs — exactly the frames
    * [[graft.ops.Risk.atrChannels]] rolls ([[bollingerStream]]'s
    * discipline applied to bar streams), maintained incrementally so
    * the stream agrees with the batch operator bar-for-bar (spec'd).
    * Bars fold in `barCol` order within each micro-batch; bars with
    * any null OHLC field drop (they carry no range information).
    * State per key = O(nBars) longs.
    *
    * Numerics contract: prices quantize through DECIMAL(18,6) and live
    * as exact micro-units; the true range is exact long arithmetic
    * (max of differences); the ATR mean replays the batch formula
    * shape — Σtr as an exact decimal converted once to double, divided
    * by nBars, rounded to 6 dp — and the Donchian comparisons are
    * exact integer compares, so breakout flags can never flip on a
    * float epsilon.
    */
  def atrStream(spark: SparkSession, bars: DataFrame, keyCol: String,
                barCol: String, highCol: String, lowCol: String,
                closeCol: String, nBars: Int = 5): Dataset[AtrTick] = {
    import spark.implicits._
    require(nBars >= 1, s"nBars must be >= 1, got $nBars")
    def r6d(m: Long): Double =
      (BigDecimal(m) / 1000000).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
    bars.select(col(keyCol).cast("string").as("k"),
        col(barCol).cast("long").as("bar"),
        col(highCol).cast("decimal(18,6)").as("h"),
        col(lowCol).cast("decimal(18,6)").as("l"),
        col(closeCol).cast("decimal(18,6)").as("c"))
      .filter(col("k").isNotNull && col("bar").isNotNull &&
        col("h").isNotNull && col("l").isNotNull && col("c").isNotNull)
      .as[(String, Long, BigDecimal, BigDecimal, BigDecimal)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AtrState, AtrTick](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          var st = state.getOption.getOrElse(
            AtrState(0L, seen = false, Nil, Nil, Nil))
          val out = rows.toSeq.sortBy(_._2).map { case (_, bar, h, l, c) =>
            val hm = (h * 1000000).toLongExact
            val lm = (l * 1000000).toLongExact
            val cm = (c * 1000000).toLongExact
            val tr = if (st.seen)
              math.max(hm - lm, math.max(math.abs(hm - st.lastCloseMicros),
                math.abs(lm - st.lastCloseMicros)))
            else hm - lm
            // Donchian channel = the PRIOR nBars bars (current excluded)
            val dh = if (st.highs.nonEmpty) Some(st.highs.max) else None
            val dl = if (st.lows.nonEmpty) Some(st.lows.min) else None
            val trs = (st.trs :+ tr).takeRight(nBars)
            val atr = if (trs.size == nBars) {
              val s = (BigDecimal(trs.map(BigInt(_)).sum) / 1000000).toDouble
              Some(BigDecimal(s / nBars).setScale(6,
                BigDecimal.RoundingMode.HALF_UP).toDouble)
            } else None
            st = AtrState(cm, seen = true, trs,
              (st.highs :+ hm).takeRight(nBars),
              (st.lows :+ lm).takeRight(nBars))
            AtrTick(key, bar, r6d(hm), r6d(lm), r6d(cm), atr,
              dh.map(r6d), dl.map(r6d),
              dh.map(d => if (cm > d) 1 else 0),
              dl.map(d => if (cm < d) 1 else 0))
          }
          state.update(st)
          out.iterator
      }
  }

  case class FlowState(lastMicros: Long, seen: Boolean, lastSign: Int,
                       signed: String, total: String, n: Long)
  case class FlowTick(key: String, seq: Long, n_ticks: Long,
                      signed_qty: Double, total_qty: Double,
                      ofi: Option[Double])

  /** Per-instrument RUNNING order-flow imbalance on the live path: the
    * incremental face of [[graft.ops.Risk.flowImbalance]] with a single
    * session bucket — streaming state carries the last price, the last
    * non-zero tick sign (the Lee-Ready carry), and exact Σ(sign·qty) /
    * Σqty accumulators. After any prefix of ticks the latest emission
    * per key equals the batch aggregate over that prefix (spec'd — the
    * [[vwapStream]] prefix-equality law). Prices quantize through
    * DECIMAL(18,6) exactly as the batch cast does, so the sign decision
    * compares the same decimals; a tick that is unsignable (no non-zero
    * change seen yet) or has a null quantity updates the sign chain but
    * not the sums, mirroring the batch post-window filter. Quantities
    * quantize through DECIMAL(28,6) exactly as the batch twin's cast
    * (fractional qty is the crypto norm — a long cast would truncate
    * it); sums ride as decimal strings (the [[VwapState]] overflow
    * argument: Σqty of valid DECIMAL(28,6) values can pass 38 digits
    * at stream lifetime).
    */
  def flowImbalanceStream(spark: SparkSession, ticks: DataFrame,
                          keyCol: String, seqCol: String, valueCol: String,
                          qtyCol: String): Dataset[FlowTick] = {
    import spark.implicits._
    def r6(d: Double): Double =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    ticks.select(col(keyCol).cast("string").as("k"),
        col(seqCol).cast("long").as("seq"),
        col(valueCol).cast("decimal(18,6)").as("v"),
        // DECIMAL(28,6), not LONG: the batch twin casts qty to the same
        // type, and a long cast would silently truncate fractional
        // quantities (normal in crypto feeds), breaking prefix equality
        col(qtyCol).cast("decimal(28,6)").as("q"))
      .filter(col("k").isNotNull && col("seq").isNotNull && col("v").isNotNull)
      .as[(String, Long, BigDecimal, Option[BigDecimal])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FlowState, FlowTick](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          var st = state.getOption.getOrElse(
            FlowState(0L, seen = false, 0, "0", "0", 0L))
          var signed = BigDecimal(st.signed)
          var total = BigDecimal(st.total)
          var n = st.n
          val out = rows.toSeq.sortBy(_._2).map { case (_, seq, v, qOpt) =>
            val vm = (v * 1000000).toLongExact
            // the batch tick rule on the same decimals: uptick +1,
            // downtick −1, zero tick inherits the last non-zero sign
            val sign =
              if (!st.seen) st.lastSign
              else if (vm > st.lastMicros) 1
              else if (vm < st.lastMicros) -1
              else st.lastSign
            qOpt match {
              case Some(qd) if sign != 0 =>
                signed += (if (sign > 0) qd else -qd)
                total += qd
                n += 1
              case _ => // unsignable or null qty: sign chain only
            }
            st = FlowState(vm, seen = true, sign,
              signed.toString, total.toString, n)
            FlowTick(key, seq, n, r6(signed.toDouble), r6(total.toDouble),
              if (total > 0) Some(r6(signed.toDouble / total.toDouble))
              else None)
          }
          state.update(st)
          out.iterator
      }
  }

  // accumulators as decimal STRINGS: Spark's state encoder caps a
  // BigDecimal field at DECIMAL(38,18), which a running Σp·q of valid
  // DECIMAL(18,6) ticks can overflow (p·q alone reaches ~1e24); the
  // string round-trips any magnitude exactly and parses once per
  // micro-batch per key
  case class VwapState(pq: String, qty: String, n: Long)
  case class VwapTick(key: String, seq: Long, n_trades: Long,
                      total_qty: Double, vwap: Option[Double])

  /** Per-instrument RUNNING session VWAP on the live path: streaming
    * state = (Σ price·qty, Σ qty, count) per key, emitted per tick — the
    * incremental face of [[graft.ops.Stats.vwap]]; after any prefix of
    * ticks the latest emission per key equals the batch aggregate over
    * that prefix (spec'd). Zero accumulated volume → vwap None, as the
    * batch NULL. State per key = three numbers, any tick volume.
    *
    * Numerics contract (the [[rsiStream]] discipline): price and qty
    * quantize through DECIMAL(18,6) at ingestion exactly as the batch
    * operator's casts do and stay EXACT `BigDecimal`s from the plan
    * into the accumulator — never a lossy double round-trip, so the
    * prefix-equality law holds across the full decimal domain. Doubles
    * appear only in the final quotient, rounded as the batch side
    * rounds. State-schema note: the BigDecimal accumulators replaced
    * doubles — restart from a double-era checkpoint is not supported;
    * use a fresh checkpoint.
    */
  def vwapStream(spark: SparkSession, ticks: DataFrame, keyCol: String,
                 seqCol: String, priceCol: String,
                 qtyCol: String): Dataset[VwapTick] = {
    import spark.implicits._
    ticks.select(col(keyCol).cast("string").as("k"),
        col(seqCol).cast("long").as("seq"),
        col(priceCol).cast("decimal(18,6)").as("p"),
        col(qtyCol).cast("decimal(18,6)").as("q"))
      .filter(col("k").isNotNull && col("seq").isNotNull &&
        col("p").isNotNull && col("q").isNotNull)
      .as[(String, Long, BigDecimal, BigDecimal)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[VwapState, VwapTick](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (k, rows, state) =>
          val st0 = state.getOption.getOrElse(VwapState("0", "0", 0L))
          var pq = BigDecimal(st0.pq)
          var qty = BigDecimal(st0.qty)
          var n = st0.n
          val out = rows.toSeq.sortBy(_._2).map { case (_, seq, p, q) =>
            pq += p * q
            qty += q
            n += 1
            val vwap = if (qty.signum != 0)
              Some(BigDecimal(pq.toDouble / qty.toDouble)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
            else None
            VwapTick(k, seq, n,
              BigDecimal(qty.toDouble).setScale(6,
                BigDecimal.RoundingMode.HALF_UP).toDouble, vwap)
          }
          state.update(VwapState(pq.toString, qty.toString, n))
          out.iterator
      }
  }

  /** Exactly-once streaming snapshot sink: micro-batch N commits
    * snapshot version N+1 through [[graft.engine.Snapshots.writeVersioned]],
    * tagged `<appId>#batch-N` (Delta's txnAppId pattern). The app id
    * defaults to a random UUID PERSISTED INSIDE the checkpoint
    * directory, so it shares the checkpoint's lifecycle exactly: a
    * restart of the same stream reads the same id back and recognizes
    * its own replays, while a recreated/deleted checkpoint — or any
    * other foreign writer — gets a fresh id and a version collision
    * throws instead of silently dropping its batch. Concurrent readers
    * get full snapshot isolation: they only ever see committed
    * versions.
    */
  def sinkSnapshots(events: DataFrame, path: String, checkpoint: String,
                    appId: Option[String] = None): StreamingQuery = {
    val app = appId.getOrElse(ensureAppId(events.sparkSession, checkpoint))
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.engine.Snapshots.writeVersioned(batch, path, batchId + 1,
          tag = Some(s"$app#batch-$batchId"))
        ()
      }
      .start()
  }

  /** Streaming rollup maintenance — [[graft.engine.Incremental]] on the
    * live path: micro-batch N's [[graft.engine.Incremental.insertDelta]]
    * (batch rows are append-only inserts) merges into the rollup
    * snapshot version N (the state after batch N−1) and commits version
    * N+1. Per batch the work is one churn-sized aggregation plus a join
    * of two AGGREGATE-sized frames — the 100 TB history is never
    * rescanned, which is the entire point.
    *
    * Exactly-once by construction: the base is read at the
    * DETERMINISTIC version `batchId` (never "latest"), so a replayed
    * batch recomputes byte-identical output and its tagged
    * `writeVersioned` commit is recognized and skipped — replay cannot
    * double-count even though the sink is read-modify-write. Version
    * continuity is enforced by `readVersion` failing loudly if the
    * expected base version is missing (a foreign writer or manual
    * surgery broke the chain).
    */
  def sinkRollup(events: DataFrame, rollupPath: String, checkpoint: String,
                 dims: Seq[String],
                 measures: Seq[(String, org.apache.spark.sql.Column)],
                 appId: Option[String] = None): StreamingQuery = {
    val app = appId.getOrElse(ensureAppId(events.sparkSession, checkpoint))
    val measureNames = measures.map(_._1)
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.engine.{Incremental, Snapshots}
        val spark = batch.sparkSession
        val next =
          if (batchId == 0L) Incremental.groupAgg(batch, dims, measures)
          else Incremental.applyDelta(
            Snapshots.readVersion(spark, rollupPath, batchId),
            Incremental.insertDelta(batch, dims, measures),
            dims, measureNames)
        Snapshots.writeVersioned(next, rollupPath, batchId + 1,
          tag = Some(s"$app#batch-$batchId"))
        ()
      }
      .start()
  }

  /** Streaming COUNT-DISTINCT rollup — [[sinkRollup]]'s discipline
    * (deterministic base version `batchId`, tagged replay-safe commits)
    * with [[graft.engine.Incremental.sketchAgg]] measures: each batch's
    * per-group HLL sketches merge into the maintained rollup, so
    * "distinct users per type, ever" stays queryable at O(kB)/group
    * state with no rescan and no exploding distinct-set state. The
    * sketch is order-insensitive, so a replayed batch re-merges to the
    * identical rollup even before the tag check skips its commit.
    */
  def sinkDistinctRollup(events: DataFrame, rollupPath: String,
                         checkpoint: String, dims: Seq[String],
                         distinctCol: org.apache.spark.sql.Column,
                         lgK: Int = 12,
                         appId: Option[String] = None): StreamingQuery = {
    val app = appId.getOrElse(ensureAppId(events.sparkSession, checkpoint))
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.engine.{Incremental, Snapshots}
        val spark = batch.sparkSession
        val delta = Incremental.sketchAgg(batch, dims, distinctCol, lgK)
        val next =
          if (batchId == 0L) delta
          else Incremental.applySketchDelta(
            Snapshots.readVersion(spark, rollupPath, batchId), delta, dims)
        Snapshots.writeVersioned(next, rollupPath, batchId + 1,
          tag = Some(s"$app#batch-$batchId"))
        ()
      }
      .start()
  }

  /** Stable per-checkpoint app id for [[sinkSnapshots]]' idempotence
    * tags, established once under the checkpoint dir. A NON-EMPTY marker
    * is immutable: it is adopted as-is and never deleted or replaced —
    * only an absent marker (or an empty one a crash left behind) is
    * (re)created, via tmp + rename so content is never observable
    * half-written, with the emptiness re-checked immediately before the
    * swap so a marker a concurrent starter just committed survives. The
    * final id is whatever the marker holds after the dust settles —
    * racing starters converge on one id instead of proceeding with two
    * (concurrent same-checkpoint starters are invalid anyway — Spark's
    * own checkpoint lock arbitrates who actually runs — so this guards
    * the id, not the stream).
    */
  private[graft] def ensureAppId(spark: SparkSession, checkpoint: String): String = {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(checkpoint),
      spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(checkpoint, "_graft_app_id")
    def readMarker(): String =
      if (!fs.exists(marker)) "" else {
        val in = fs.open(marker)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      }
    var id = readMarker()
    if (id.isEmpty) { // absent, or a crash left it empty: (re)create
      fs.mkdirs(new org.apache.hadoop.fs.Path(checkpoint))
      val tmp = new org.apache.hadoop.fs.Path(checkpoint,
        s"._graft_app_id-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, false)
      try out.write(s"app-${java.util.UUID.randomUUID()}".getBytes("UTF-8"))
      finally out.close()
      // never replace a non-empty marker: re-check emptiness right
      // before the swap — a racer may have committed one since our read
      if (fs.exists(marker) && readMarker().isEmpty) fs.delete(marker, false)
      // no-overwrite rename: where the store refuses an existing
      // destination, a racing committed marker survives and is adopted
      // by the re-read below
      fs.rename(tmp, marker)
      fs.delete(tmp, false) // no-op when the rename moved it
      id = readMarker()
    }
    require(id.nonEmpty, s"could not establish an app id under $checkpoint")
    id
  }

  case class CuratedDoc(doc_id: Long, text: String, n_tokens: Long)

  /** Streaming corpus-drift monitor: every micro-batch's bucket
    * distribution compared against a STATIC reference histogram via
    * [[graft.text.TextStats.distributionDrift]] — the live face of the
    * q147 drift report, answering "is the feed we are ingesting RIGHT
    * NOW drifting from the corpus we trained on" while the batch twin
    * answers it version-over-version. The foreachBatch shape is the
    * [[sinkBronze]]/[[sinkRollup]] discipline: the BATCH operator runs
    * verbatim on each micro-batch (identical numerics, no stream/batch
    * skew possible by construction), and each batch appends its drift
    * rows stamped with `batch_id` — the sink is the drift time series.
    * `baselinePath` holds the reference corpus SLICE (raw rows; point a
    * large deployment at a hash-sampled slice — the drift shares are
    * scale-free, so a sample changes nothing but the smoothing ε); its
    * histogram is re-aggregated per batch, one scan of the slice.
    */
  def driftSink(docs: DataFrame, baselinePath: String, outPath: String,
                checkpoint: String,
                bucket: org.apache.spark.sql.Column): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val baseline = spark.read.parquet(baselinePath)
          graft.text.TextStats.distributionDrift(batch, baseline, bucket)
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(outPath)
        }
        ()
      }
      .start()

  /** Streaming vocabulary-churn monitor — the [[driftSink]] discipline
    * on the FEATURE axis: each micro-batch's top-V vocabulary against
    * the static baseline corpus via
    * [[graft.text.TextStats.vocabChurn]] (the live face of q148,
    * catching swapped WORDS even when the length distribution
    * [[driftSink]] watches looks stable). foreachBatch runs the batch
    * operator verbatim — identical numerics, stream/batch skew
    * impossible by construction — and appends one churn row per batch
    * stamped `batch_id`; the sink is the churn time series.
    */
  def vocabChurnSink(docs: DataFrame, baselinePath: String, outPath: String,
                     checkpoint: String, textCol: String,
                     vocabSize: Int): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          graft.text.TextStats.vocabChurn(batch,
              spark.read.parquet(baselinePath), textCol, vocabSize)
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(outPath)
        }
        ()
      }
      .start()

  /** Streaming embedding-drift monitor — the [[driftSink]] discipline
    * on the SEMANTIC axis: each micro-batch's centroid against the
    * static baseline slice via
    * [[graft.vector.Similarity.centroidDrift]] (the live face of q149,
    * catching rotated TOPICS even when lengths and vocabulary look
    * stable). With [[driftSink]] and [[vocabChurnSink]] this closes the
    * streaming face of the three-axis corpus-drift family — one sink
    * per batch operator, batch numerics verbatim.
    */
  def centroidDriftSink(docs: DataFrame, baselinePath: String,
                        outPath: String, checkpoint: String,
                        vecCol: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          graft.vector.Similarity.centroidDrift(batch,
              spark.read.parquet(baselinePath), vecCol)
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(outPath)
        }
        ()
      }
      .start()

  /** Streaming quantile-drift monitor — the [[driftSink]] discipline
    * on the DISTRIBUTION-SHAPE axis (round 12, completing the live QA
    * family the r11 verdict asked for once the quantile sketch
    * existed): each micro-batch's bottom-k sample-sketch quantiles
    * against the static baseline corpus's via
    * [[graft.ops.Stats.quantileDrift]] — catching a value distribution
    * that SHIFTS (fat tails, level moves) even when bucket shares
    * ([[driftSink]]), vocabulary ([[vocabChurnSink]]), and centroids
    * ([[centroidDriftSink]]) all look stable. foreachBatch runs the
    * batch operator verbatim — identical numerics, stream/batch skew
    * impossible by construction — and appends one row per group per
    * batch stamped `batch_id`; the sink is the shift time series.
    * The baseline side re-derives its k-row sample per batch (one
    * scan of the baseline slice); point a large deployment at a
    * [[graft.ops.Stats.buildQuantileSketch]] sample file instead and
    * the numbers are identical by the indexed ≡ inline law.
    */
  def quantileDriftSink(events: DataFrame, baselinePath: String,
                        outPath: String, checkpoint: String,
                        keyCol: String, idCol: String, valueCol: String,
                        k: Int = 256): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          graft.ops.Stats.quantileDrift(batch,
              spark.read.parquet(baselinePath), keyCol, idCol,
              col(valueCol), k)
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(outPath)
        }
        ()
      }
      .start()

  /** The forget loop CLOSED end to end (round-13): each micro-batch
    * of doc ids runs one full signature-tier
    * [[graft.engine.IndexLifecycle.forgetAndVerify]] cycle — recovery,
    * tombstone record, deletion report, policy-gated purge, fsck —
    * and appends the cycle's one-row operational report (plus the
    * micro-batch `epoch_id`) to `reportPath`, giving operators a
    * persisted audit trail of every forget batch: what was requested,
    * what the garbage ratio was, whether the purge fired, and whether
    * the index audited green afterward. Deletion semantics keep
    * [[graft.engine.IndexLifecycle.forgetSink]]'s set-idempotent retry
    * algebra (a crash-retried batch re-appends the same tombstones — no
    * observable change);
    * the REPORT append is at-least-once, keyed by `epoch_id`, so a
    * retried epoch can log two rows — consumers of the audit trail
    * read the LAST row per epoch (the one whose cycle completed).
    */
  def forgetAndVerifyStream(ids: DataFrame, indexPath: String,
                            checkpoint: String, reportPath: String,
                            idCol: String = "doc_id",
                            purgeAboveMaskedFraction: Double = 0.25,
                            purgeAboveRows: Long = 100000L): StreamingQuery =
    ids.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        graft.engine.IndexLifecycle.forgetAndVerify(
            graft.engine.IndexLifecycle.Signature, batch.sparkSession,
            indexPath, batch, idCol, purgeAboveMaskedFraction, purgeAboveRows)
          .withColumn("epoch_id", lit(epochId))
          .coalesce(1).write.mode("append").parquet(reportPath)
        ()
      }
      .start()

  /** Streaming corpus curation: quality-gate each arriving document
    * (stateless, map-side) then drop any doc whose exact text hash was
    * already seen in ANY earlier micro-batch — cross-batch exact dedup
    * as keyed streaming state (first-seen doc wins, later copies are
    * suppressed forever). State = one boolean per distinct content
    * hash, partitioned by hash — the streaming twin of
    * [[graft.text.Dedup.exactGroups]]; near-dup clustering stays a
    * batch concern (it needs the corpus-wide pair graph).
    */
  def curateStream(spark: SparkSession, docs: DataFrame,
                   minTokens: Int): Dataset[CuratedDoc] = {
    import spark.implicits._
    docs
      .withColumn("n_tokens",
        graft.text.TextStats.tokenCount(col("text")).cast("long"))
      .filter(col("n_tokens") >= minTokens)
      .select(md5(col("text")).as("text_hash"),
        col("doc_id").cast("long").as("doc_id"), col("text"), col("n_tokens"))
      .as[(String, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, CuratedDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state) =>
          if (state.exists) Iterator.empty // hash already emitted
          else {
            // first occurrence in THIS batch too: min doc_id wins,
            // deterministic regardless of batch-internal row order
            val first = rows.minBy(_._2)
            state.update(true)
            Iterator(CuratedDoc(first._2, first._3, first._4))
          }
      }
  }
}
