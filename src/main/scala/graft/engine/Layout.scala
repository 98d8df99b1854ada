package graft.engine

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.hadoop.fs.{FileSystem, LocatedFileStatus, Path}
import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** Physical-layout operators: partitioned accumulating writes, partition-
  * scoped overwrite, sort-clustered compaction, and single-file CSV export.
  *
  * Replaces the reference's Delta-specific storage layer with plain
  * partitioned Parquet (SURVEY §1.4, §2.2, §2.10):
  *   - K1 full overwrite       — `extract_crypto_data.py:215-224`
  *   - K2 replaceWhere         — `extract_crypto_data.py:226-241` →
  *     dynamic partition overwrite (replaces exactly the partitions present
  *     in the batch; untouched partitions survive — `README.md:26`)
  *   - M1-M3 OPTIMIZE+ZORDER   — `main_pipeline.py:124-183`,
  *     `delta_vacuum.py:48-75` → sort-clustered rewrite; Parquet row-group
  *     min/max stats then give the same data skipping for 1-3 col cases
  *   - K4 single-file CSV      — `silver_to_gold_crypto_stats.py:104-111`
  *
  * Scale posture: every write path is executor-side (no driver collect);
  * partition counts are explicit so a 100 TB table writes with bounded
  * file sizes rather than one file per shuffle partition per date.
  */
object Layout {

  /** Co-locate rows by their partition column(s) before a partitioned
    * write: without this, every partition dir receives one file per
    * shuffle partition (dates × shuffle tiny files — the small-files
    * degradation that kills scan throughput as partitions accumulate).
    * For partition values far larger than the 128 MB target file size,
    * repartition explicitly to (n, cols) instead.
    */
  def colocated(df: DataFrame,
                partitionCols: Seq[String] = Seq("partition_date")): DataFrame =
    df.repartition(partitionCols.map(col): _*)

  /** Scale-adaptive compute spread for a CPU-heavy map stage (guide
    * §2.2/§6): when the physical plan under `df` yields fewer
    * partitions than the session's parallelism — a single-file,
    * single-row-group input, which is every local testdata table, or a
    * small batch — any expensive projection fused into that scan
    * (per-gram md5, winnow folds, media decode, pairwise dot products)
    * runs on ONE core no matter how many the session has; the round-14
    * driver measured ≈1.0 8→32-core ratios across the whole map-heavy
    * family because of exactly this. A round-robin repartition to the
    * default parallelism spreads the rows for tens of ms of exchange
    * on MB-sized inputs. At scale the condition is false (a 100 TB
    * scan already yields thousands of splits) and this is the
    * IDENTITY — no exchange is added, so it never turns into a full
    * corpus shuffle. Row-level results are unchanged (round-robin
    * repartition reorders rows only; callers are order-independent
    * operators or sort their output).
    *
    * Non-narrow frames pass through UNTOUCHED, decided on the ANALYZED
    * logical plan (no optimizer run): the partition-count probe
    * materializes the physical plan, and on a frame with exchanges
    * under AQE that would execute its query stages right at the probe
    * — the whole upstream pipeline would run twice (measured: q200
    * embedNearDup-over-hashedTfidfEmbed 1.9 → 2.9 s). Even a guard
    * that merely FORCES physical planning of a big tree pays a full
    * optimizer pass the caller's own action then re-pays (measured
    * ~+0.5-1.0 s on q200/q204) — so the gate must look at the
    * analyzed plan only. A plan that shuffles has downstream
    * parallelism anyway; the single-task pathology this helper exists
    * for is scan-only lineage, and physical planning of THAT is
    * milliseconds.
    */
  def spreadForCompute(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def narrow(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case _: Project | _: Filter | _: Generate | _: SubqueryAlias |
           _: Union | _: DeserializeToObject | _: SerializeFromObject |
           _: MapPartitions | _: TypedFilter =>
        p.children.forall(narrow)
      case _ => false
    }
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (!narrow(df.queryExecution.analyzed)) df
    else if (df.queryExecution.toRdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  /** K1: full overwrite of a date-partitioned table. */
  def overwritePartitioned(df: DataFrame, path: String,
                           partitionCols: Seq[String] = Seq("partition_date")): Unit =
    observedWrite(df, path, partitionCols, "WRITE",
      Map("mode" -> "Overwrite", "partitionBy" -> partitionCols.mkString(","))) {
      _.write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCols: _*)
        .parquet(path)
    }

  /** K2: partition-scoped overwrite — only the partitions present in `df`
    * are replaced; all others accumulate across runs (replaceWhere
    * semantics without the predicate). Requires
    * `spark.sql.sources.partitionOverwriteMode=dynamic` (set by
    * [[Sessions.tune]]); asserted here so a mis-built session fails fast
    * instead of silently truncating the table.
    *
    * The logged metrics cover only the partitions this write replaced:
    * the write's own job observes its row count and the partition
    * values it wrote (the touched-partition list the reference gets
    * from replaceWhere discovery), and only those dirs are listed — the
    * input plan runs once, and the work stays proportional to the
    * write, never to table age.
    */
  def upsertPartitions(df: DataFrame, path: String,
                       partitionCols: Seq[String] = Seq("partition_date")): Unit = {
    val mode = df.sparkSession.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    require(mode.equalsIgnoreCase("dynamic"),
      s"partitionOverwriteMode must be dynamic for accumulating writes, got $mode")
    observedWrite(df, path, partitionCols, "OVERWRITE_PARTITIONS",
      Map("partitionBy" -> partitionCols.mkString(","))) {
      _.write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCols: _*)
        .parquet(path)
    }
  }

  /** M1-M3: sort-clustered compaction of selected partitions (incremental
    * OPTIMIZE + Z-ORDER equivalent). Reads only the touched partitions
    * (partition pruning via the IN filter), range-partitions by the cluster
    * columns, sorts within partitions, and rewrites just those partitions.
    * For the reference's 1-3 column Z-ORDER sets, lexicographic sort
    * clustering yields equivalent Parquet min/max data skipping
    * (SURVEY §2.10 M1). `filesPerPartition` caps output file count the way
    * the reference caps compacted file size at 128 MB.
    */
  def compactPartitions(spark: SparkSession, path: String,
                        clusterCols: Seq[String],
                        dates: Seq[String],
                        partitionCol: String = "partition_date",
                        filesPerPartition: Int = 1): Unit = {
    val touched = spark.read.parquet(path)
      .filter(col(partitionCol).isin(dates: _*))
    val staging = path + "_compact_staging"
    observedWrite(touched, path, Seq(partitionCol), "OPTIMIZE",
      Map("zOrderBy" -> clusterCols.mkString(","), "partitions" -> dates.mkString(","))) { df =>
      df.repartition(math.max(1, dates.size * filesPerPartition), col(partitionCol))
        .sortWithinPartitions((partitionCol +: clusterCols).map(col): _*)
        .write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCol)
        .parquet(staging)
      swapPartitionDirs(spark, staging, path)
    }
  }

  /** M3 full-table variant: compaction + sort clustering of everything. */
  def compactFull(spark: SparkSession, path: String, clusterCols: Seq[String],
                  partitionCol: String = "partition_date",
                  targetPartitions: Int = 32): Unit = {
    val staging = path + "_compact_staging"
    observedWrite(spark.read.parquet(path), path, Seq(partitionCol), "OPTIMIZE_FULL",
      Map("zOrderBy" -> clusterCols.mkString(","))) { df =>
      df.repartition(targetPartitions, col(partitionCol))
        .sortWithinPartitions((partitionCol +: clusterCols).map(col): _*)
        .write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCol)
        .parquet(staging)
      swapPartitionDirs(spark, staging, path)
    }
  }

  /** Bound on the wait for a write's observed metrics. They arrive with
    * the completion event of the write's own job, normally milliseconds
    * after it; a missing one fails the verb instead of hanging it.
    */
  private val ObservedMetricsWait: FiniteDuration = 60.seconds

  /** The shared body of the partitioned writers: runs `write` over `df`
    * observed for its row count and the set of partition values it
    * carries, both aggregated by the write's own job (`Dataset.observe`
    * — no second evaluation of the input plan, which for a Silver write
    * would repeat the Bronze scan and the dedup shuffle). The touched
    * partition dirs are named with Spark's own path encoding (values
    * cast to string in the session time zone, escaped, null as
    * `__HIVE_DEFAULT_PARTITION__`) and only listed, never opened, for
    * the file and byte counts [[logWrite]] records under `path`.
    * `write` must run exactly one action over the frame it is given and
    * leave the result under `path` when it returns.
    */
  private def observedWrite(df: DataFrame, path: String, partitionCols: Seq[String],
                            operation: String, params: Map[String, String])
                           (write: DataFrame => Unit): Unit = {
    val spark = df.sparkSession
    val obs = Observation()
    write(df.observe(obs, count(lit(1)),
      collect_set(struct(partitionCols.map(c => col(c).cast("string")): _*))))
    val m = try Await.result(obs.future, ObservedMetricsWait) catch {
      case e: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(s"$operation $path: the write's observed " +
          s"metrics did not arrive within $ObservedMetricsWait", e)
    }
    val dirs = m.getSeq[Row](1).map(r => partitionCols.indices
      .map(i => ExternalCatalogUtils.getPartitionPathString(partitionCols(i), r.getString(i)))
      .mkString("/"))
    val files = dirs.flatMap(d => parquetFiles(spark, s"$path/$d"))
    logWrite(spark, path, operation, params,
      Map("num_files" -> files.size.toLong, "num_bytes" -> files.map(_.getLen).sum,
        "num_rows" -> m.getLong(0)))
  }

  /** Number of top-level parquet data files in a FLAT (unpartitioned)
    * table dir — the cadence signal for [[compactFlat]]. Listing only;
    * no footers are opened.
    */
  def flatFileCount(spark: SparkSession, path: String): Int = {
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    val p = new Path(path)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  /** Marker file a [[stagedReplace]] writer drops into its staging dir
    * AFTER the staged write fully materializes: its presence is the
    * only license to swap the staging dir live (a crash mid-staging
    * leaves no marker, so heal discards the partial write and the
    * live table is untouched).
    */
  private val StagedCompleteMarker = "_graft_staged_complete"

  private def swapStagingPath(path: String) = path + "_swap_staging"
  private def swapOldPath(path: String) = path + "_swap_old"

  /** Complete or discard a [[stagedReplace]] interrupted by a crash —
    * called on entry by every stagedReplace (and cheap enough for read
    * paths): after it returns, `path` exists and reads one complete,
    * consistent dataset (ADVICE r11: the delete-then-rename swap could
    * leave a live signature index EMPTY with only manual recovery from
    * the staging dir; this self-heals on the next call instead).
    *
    * Crash-state table (the protocol is: write staging → marker →
    * rename live→old → rename staging→live → move `_`-entries old→live
    * → delete old):
    *  - staging only (incomplete OR complete), live intact: the crash
    *    hit before the live dir moved — discard staging, live wins
    *    (the caller re-derives; nothing was promised yet).
    *  - old + complete staging, live MISSING: crash between the two
    *    renames — finish: staging becomes live, `_`-entries move over,
    *    old is dropped.
    *  - old + live, no staging: crash after the second rename — move
    *    remaining `_`-entries, drop old.
    *  - old only, live MISSING, staging missing/incomplete: cannot
    *    happen under the protocol (live is only renamed away after the
    *    marker exists) — defensively roll old back to live.
    */
  /** Top-level data files of a flat dir (non-underscore, non-hidden). */
  private def dataFileStatuses(fs: FileSystem, dir: Path) =
    if (!fs.exists(dir)) Array.empty[org.apache.hadoop.fs.FileStatus]
    else fs.listStatus(dir).filter(s => s.isFile &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))

  /** The snapshot file-name set a [[stagedReplaceSnapshot]] writer
    * recorded in its completion marker — empty for legacy markers
    * (plain [[stagedReplace]], whose contract is single-writer).
    */
  private def markerSnapshot(fs: FileSystem, live: Path): Set[String] = {
    val m = new Path(live, StagedCompleteMarker)
    if (!fs.exists(m)) Set.empty
    else {
      val in = fs.open(m)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toSet
      finally in.close()
    }
  }

  /** Post-swap completion, shared by [[stagedReplace]]'s happy path
    * and [[healStagedReplace]]'s resume: carry over (a) data files the
    * staged write never saw — present in old but NOT in the marker's
    * snapshot list, i.e. appended concurrently with the snapshot-read
    * rewrite; renamed in exactly once, closing the lost-update window
    * a concurrent appender would otherwise hit — and (b) the
    * `_`-prefixed entries (manifest history), then drop the old dir.
    * Legacy markers carry no snapshot → (a) is empty → the
    * single-writer semantics are unchanged.
    */
  private def finishSwap(fs: FileSystem, live: Path, old: Path): Unit = {
    val snap = markerSnapshot(fs, live)
    if (snap.nonEmpty)
      dataFileStatuses(fs, old)
        .filterNot(s => snap.contains(s.getPath.getName))
        .foreach { s =>
          val dst = new Path(live, s.getPath.getName)
          if (!fs.exists(dst))
            require(fs.rename(s.getPath, dst),
              s"finishSwap: carry-over rename ${s.getPath} -> $dst failed")
        }
    fs.listStatus(old)
      .filter(s => s.getPath.getName.startsWith("_") &&
        // never resurrect committer scratch: a `_temporary` left by an
        // appender whose in-flight write straddled the swap is dead
        // staging of a failed attempt (its retry re-creates its own),
        // not table state — carrying it over would plant stale attempt
        // dirs in the new live table
        s.getPath.getName != "_temporary")
      .foreach { s =>
        val dst = new Path(live, s.getPath.getName)
        if (!fs.exists(dst)) fs.rename(s.getPath, dst)
      }
    fs.delete(old, true)
  }

  /** `discardMarkerless` (ADVICE r12): a staging dir WITHOUT a
    * completion marker is indistinguishable from (a) a crashed write —
    * dead, safe to discard — and (b) a concurrent writer's staged
    * write still materializing. Only a WRITER entering the protocol
    * (which holds the single-writer role for this table and therefore
    * knows no other write is in flight) or an explicit operator heal
    * may discard it; read paths call with the default `false` and
    * leave marker-less staging alone — it is a sibling dir the live
    * read never lists, so skipping it costs readers nothing, while
    * deleting it mid-write would fail the in-flight writer's
    * post-write `require`.
    */
  def healStagedReplace(spark: SparkSession, path: String,
                        discardMarkerless: Boolean = false): Unit = {
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    val live = new Path(path)
    val stg = new Path(swapStagingPath(path))
    val old = new Path(swapOldPath(path))
    if (fs.exists(old)) {
      val stagedComplete = fs.exists(stg) &&
        fs.exists(new Path(stg, StagedCompleteMarker))
      if (!fs.exists(live)) {
        if (stagedComplete)
          require(fs.rename(stg, live),
            s"healStagedReplace: rename $stg -> $live failed")
        else require(fs.rename(old, live),
          s"healStagedReplace: rollback rename $old -> $live failed")
      }
      // idempotent completion: carry-over + `_`-entry move + drop old
      if (fs.exists(old)) finishSwap(fs, live, old)
    }
    // a completed-but-never-promoted staging (marker present, live
    // intact, no old) made no promise either — but only a writer may
    // clear it, same in-flight ambiguity as the marker-less case
    if (discardMarkerless && fs.exists(stg)) fs.delete(stg, true)
  }

  /** Crash-safe full replacement of a FLAT table dir (round-12; the
    * streaming sinks' idempotentPromote discipline adapted to REPLACE
    * semantics): `write` materializes the new contents into a staging
    * dir, a completion marker licenses the swap, and the swap itself
    * is two ATOMIC directory renames (live→old, staging→live) instead
    * of a delete-loop + rename-loop over data files. A crash anywhere
    * leaves a state [[healStagedReplace]] finishes or discards on the
    * next call — a reader can race the µs-wide rename window into a
    * FileNotFound (retryable), but never observes an empty-yet-present
    * or mixed-file table, which the old protocol could produce for the
    * whole delete-loop duration. Underscore-prefixed entries of the
    * old dir (`_graft_manifest` history) are carried over after the
    * swap; a crash there self-heals idempotently.
    */
  def stagedReplace(spark: SparkSession, path: String)
                   (write: String => Unit): Unit = {
    stagedReplaceImpl(spark, path, snapshot = false)((stg, _) => write(stg))
    ()
  }

  /** [[stagedReplace]] that is additionally safe under CONCURRENT
    * APPENDERS (round 12): the rewrite reads EXACTLY the data files
    * listed at entry (passed to `write` as full paths), the completion
    * marker records their names, and after the swap any data file of
    * the old dir NOT in that snapshot — i.e. appended while the
    * rewrite ran — is renamed into the new live dir, exactly once. A
    * crash anywhere still heals ([[healStagedReplace]] performs the
    * same carry-over from the marker), so a maintenance rewrite racing
    * a streaming appender can no longer lose the appender's committed
    * batch — the lost-update window plain dir-read compaction has.
    * (An appender whose IN-FLIGHT `_temporary` staging straddles the
    * live→old rename fails before committing anything and succeeds on
    * the standard Spark task/job retry against the new live dir — the
    * appender-side twin of the reader's µs-wide FileNotFound window,
    * raced cross-process in ConcurrencySpec.)
    * `write` receives (stagingDir, snapshotFilePaths); it MUST read
    * only the snapshot files (reading the live dir would race new
    * appends into BOTH the staged content and the carry-over,
    * duplicating them).
    *
    * Returns the live-rooted paths of the STAGED data files (the
    * rewrite's own output, excluding any carried-over appends) — a
    * caller deriving a second table from the rewrite's exact content
    * (the purge's freq recompute) reads these instead of the live dir,
    * so concurrent appends influence it only through their own
    * carried-over delta segments, never twice.
    */
  def stagedReplaceSnapshot(spark: SparkSession, path: String)
                           (write: (String, Seq[String]) => Unit): Seq[String] =
    stagedReplaceImpl(spark, path, snapshot = true)(write)

  private def stagedReplaceImpl(spark: SparkSession, path: String,
                                snapshot: Boolean)
                               (write: (String, Seq[String]) => Unit): Seq[String] = {
    healStagedReplace(spark, path, discardMarkerless = true)
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    val live = new Path(path)
    val stg = new Path(swapStagingPath(path))
    val old = new Path(swapOldPath(path))
    val snapFiles =
      if (snapshot) dataFileStatuses(fs, live).toSeq else Seq.empty
    write(swapStagingPath(path),
      if (snapshot) snapFiles.map(_.getPath.toString) else Seq.empty)
    require(fs.exists(stg), s"stagedReplace: $stg missing after write")
    val stagedNames = dataFileStatuses(fs, stg).map(_.getPath.getName).toSeq
    val out = fs.create(new Path(stg, StagedCompleteMarker), true)
    if (snapshot)
      out.write(snapFiles.map(_.getPath.getName)
        .mkString("\n").getBytes("UTF-8"))
    out.close()
    if (fs.exists(live))
      require(fs.rename(live, old),
        s"stagedReplace: rename $live -> $old failed; live intact, " +
          s"new contents preserved in $stg")
    require(fs.rename(stg, live),
      s"stagedReplace: rename $stg -> $live failed; old contents " +
        s"preserved in $old — healStagedReplace recovers on next call")
    if (fs.exists(old)) finishSwap(fs, live, old)
    stagedNames.map(n => s"$path/$n")
  }

  private def pswapStagingPath(path: String) = path + "_pswap_staging"
  private def pswapOldPath(path: String) = path + "_pswap_old"
  private def pswapLeasePath(path: String) = path + "_pswap_lease"

  /** Age past which a swap lease counts as a dead holder. Readers
    * defer resuming a MARKED swap while a fresh lease exists (the
    * writer is alive and will finish its own swap — two healers
    * racing one swap can nest a partition dir through posix
    * rename-into-existing-dir and then miss it in the carry-over
    * scan, silently losing a concurrent append); past the TTL the
    * holder is presumed crashed and a reader may take over. Writer
    * entries ignore the lease entirely — the single-purger contract
    * says any marked swap they find is a dead predecessor's.
    */
  val PswapLeaseTtlMs: Long = 120000L

  /** Exclusive WRITER lease over an index root — the serialization
    * verb for index tiers whose maintenance rewrites DERIVED state
    * (the BM25 df/totals partials): a purge that recomputes df from
    * tf while an append is mid-flight can fold the batch's tf rows
    * into the recomputation AND then receive the batch's own df
    * partial — a double count no snapshot carry-over can prevent,
    * because the race is algebraic (recompute vs delta), not a file
    * race. Writers (build/append/purge) of such a tier take this
    * lease; READERS NEVER DO — probes stay lock-free and correct via
    * tombstone masking + live-row re-derivation. Per-id-row tiers
    * (ANN codes/assignments) don't need it: their purge∥append
    * commutes through the partition-swap carry-over.
    *
    * Protocol: create-if-absent (atomic on every Hadoop FS); a holder
    * whose body outlives `ttlMs` is kept alive by a heartbeat thread
    * touching the lease mtime, so only a CRASHED holder ever goes
    * stale; stale leases are claimed by the [[healStagedPartitionSwap]]
    * rename-aside idiom (exactly one claimer wins). Waiters poll up to
    * `waitMs`, then REFUSE loudly naming the holder file — a stuck
    * queue must be an operator page, not a silent pile-up.
    */
  def withWriterLease[T](spark: SparkSession, root: String,
                         ttlMs: Long = PswapLeaseTtlMs,
                         waitMs: Long = 120000L)(body: => T): T = {
    val fs = FileSystem.get(new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(root))
    val lease = new Path(root, "_writer.lease")
    val deadline = System.currentTimeMillis() + waitMs
    var acquired = false
    while (!acquired) {
      acquired =
        try { fs.create(lease, false).close(); true }
        catch { case _: java.io.IOException => false }
      if (!acquired) {
        val st = try Some(fs.getFileStatus(lease))
          catch { case _: java.io.IOException => None }
        st match {
          case Some(s) if System.currentTimeMillis() -
              s.getModificationTime > ttlMs =>
            // stale holder: claim by renaming aside — one winner
            val claim = new Path(root, "_writer.lease.takeover")
            val claimed = try fs.rename(lease, claim)
              catch { case _: java.io.IOException => false }
            if (claimed) {
              try fs.delete(claim, false)
              catch { case _: java.io.IOException => () }
            }
          case _ => ()
        }
        require(System.currentTimeMillis() < deadline,
          s"withWriterLease: could not acquire $lease within ${waitMs} ms " +
            "— another writer holds it (alive via heartbeat); serialize " +
            "writers or investigate the holder")
        Thread.sleep(100)
      }
    }
    // heartbeat: a long body (corpus-sized purge) must not go stale
    // under a waiting writer's TTL check
    val beat = new Thread(() => {
      try while (!Thread.interrupted()) {
        Thread.sleep(math.max(ttlMs / 3, 1000L))
        val now = System.currentTimeMillis()
        fs.setTimes(lease, now, now)
      } catch { case _: InterruptedException => () }
    }, s"graft-writer-lease-heartbeat")
    beat.setDaemon(true)
    beat.start()
    try body
    finally {
      beat.interrupt()
      try fs.delete(lease, false)
      catch { case _: java.io.IOException => () }
    }
  }

  /** Complete or discard an interrupted [[stagedPartitionReplace]] —
    * called on entry by the replace itself AND by index read paths
    * (two FS existence checks when no swap is in flight). The
    * partition-level crash-state table (protocol: write staging →
    * marker → per-partition {rename live/P → old/P, rename stg/P →
    * live/P} → delete staging+old roots):
    *  - staging root without marker: the staged write died — discard
    *    it; every live partition is the untouched original.
    *  - staging root with marker: resume the per-partition swaps. For
    *    each partition dir still in staging, the live dir is either
    *    the original (crash before its first rename — move it aside)
    *    or already absent (crash between its two renames); either way
    *    the staged dir becomes live. Partitions already swapped are
    *    no longer in staging, so the loop is idempotent.
    *  - old root alone: all swaps completed — drop it.
    * A reader races only the per-partition atomic renames (µs-wide,
    * FileNotFound retryable) and otherwise sees each partition dir
    * entirely-old or entirely-new — and the tombstone filter makes
    * BOTH reads correct for the purge path, which is why tombstones
    * are only cleared after the swap fully completes.
    *
    * `discardMarkerless` (ADVICE r12): a marker-less staging root is
    * ambiguous between a crashed write (dead) and a concurrent purge's
    * staged write STILL RUNNING — and this heal is invoked from read
    * paths (Similarity.liveRows on every probe), which used to
    * discard an in-flight purge's staging mid-write and fail its
    * post-write `require`. Readers now leave marker-less staging
    * untouched (it is a sibling dir the live read never lists); only
    * the writer's own entry — which holds the single-purger role and
    * knows no other write is in flight — or an explicit operator heal
    * passes `true`.
    */
  def healStagedPartitionSwap(spark: SparkSession, path: String,
                              discardMarkerless: Boolean = false,
                              writerRole: Boolean = false): Unit = {
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    val stg = new Path(pswapStagingPath(path))
    val old = new Path(pswapOldPath(path))
    if (fs.exists(stg)) {
      val marker = new Path(stg, StagedCompleteMarker)
      if (!fs.exists(marker)) {
        if (discardMarkerless) fs.delete(stg, true)
      } else {
        // lease gate (round 13, found by the cross-JVM race): a READER
        // may resume a marked swap only when its holder is dead — a
        // fresh lease means the writer is alive mid-swap and a second
        // healer would race its renames (the nesting hazard documented
        // at PswapLeaseTtlMs). No lease at all = a crash state from a
        // pre-lease writer or a fabricated recovery scenario — resume.
        if (!writerRole) {
          val lease = new Path(pswapLeasePath(path))
          val st =
            try Some(fs.getFileStatus(lease))
            catch { case _: java.io.IOException => None } // vanished = done
          st match {
            case Some(s) if System.currentTimeMillis() -
                s.getModificationTime < PswapLeaseTtlMs =>
              return // holder alive mid-swap — it finishes its own swap
            case Some(_) =>
              // stale holder: claim the takeover ATOMICALLY by renaming
              // the stale lease aside — exactly one healer's rename
              // succeeds, every loser returns (ADVICE r13: two readers
              // past the TTL used to both delete-and-resume, crashing
              // one on the anti-nesting require)
              val claim = new Path(pswapLeasePath(path) + ".takeover")
              val claimed =
                try fs.rename(lease, claim)
                catch { case _: java.io.IOException => false }
              if (!claimed) return
              // hold OUR OWN fresh lease for the resumed swap so later
              // healers defer to us; the completion path releases it
              try { fs.create(lease, true).close(); fs.delete(claim, false) }
              catch { case _: java.io.IOException => () }
            case None =>
              // no lease (pre-lease crash state): claim via
              // create-if-absent — a racing healer's create throws
              val created =
                try { fs.create(lease, false).close(); true }
                catch { case _: java.io.IOException => false }
              if (!created) return
          }
        }
        fs.listStatus(stg).filter(_.isDirectory).foreach { s =>
          val name = s.getPath.getName
          val liveP = new Path(path, name)
          if (fs.exists(liveP)) {
            fs.mkdirs(old)
            val oldName = new Path(old, name)
            // fail LOUDLY instead of nesting: posix rename into an
            // existing dir moves the source INSIDE it, and the
            // carry-over scan below would then miss those files
            require(!fs.exists(oldName),
              s"healStagedPartitionSwap: $oldName already exists — " +
                "another healer raced this swap (lease protocol violated)")
            require(fs.rename(liveP, oldName),
              s"healStagedPartitionSwap: rename $liveP aside failed")
          }
          require(fs.rename(s.getPath, liveP),
            s"healStagedPartitionSwap: rename ${s.getPath} -> $liveP failed")
        }
        // carry-over (the stagedReplaceSnapshot discipline at partition
        // level): the marker records the per-partition data files the
        // rewrite read ("cluster=3/part-….parquet"); any file now in an
        // old partition dir but NOT in that snapshot was appended while
        // the rewrite ran (the streaming ANN appender) — rename it into
        // the new live partition, exactly once. Ordered BEFORE the
        // staging delete so a crash here re-enters this branch.
        val snap = {
          val in = fs.open(marker)
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().filter(_.nonEmpty).toSet
          finally in.close()
        }
        // empty marker = legacy/no-snapshot swap: no carry-over (the
        // single-writer semantics those writers were promised)
        if (snap.nonEmpty && fs.exists(old))
          fs.listStatus(old).filter(_.isDirectory).foreach { d =>
            dataFileStatuses(fs, d.getPath)
              .filterNot(f =>
                snap.contains(s"${d.getPath.getName}/${f.getPath.getName}"))
              .foreach { f =>
                val liveDir = new Path(path, d.getPath.getName)
                fs.mkdirs(liveDir)
                val dst = new Path(liveDir, f.getPath.getName)
                if (!fs.exists(dst))
                  require(fs.rename(f.getPath, dst),
                    s"healStagedPartitionSwap: carry-over ${f.getPath} failed")
              }
          }
        if (fs.exists(old)) fs.delete(old, true)
        fs.delete(stg, true)
        // swap fully complete — release the holder's lease (ours on a
        // takeover, the writer's own when called from its entry) and
        // any takeover-claim remnant a crashed taker left behind
        try fs.delete(new Path(pswapLeasePath(path)), false)
        catch { case _: java.io.IOException => () }
        try fs.delete(new Path(pswapLeasePath(path) + ".takeover"), false)
        catch { case _: java.io.IOException => () }
      }
    }
    if (fs.exists(old)) fs.delete(old, true)
  }

  /** Crash-safe replacement of a SUBSET of a partitioned table's
    * partition dirs ([[stagedReplace]]'s discipline at partition
    * granularity — the shape a delete-purge needs at 100 TB, where
    * rewriting the whole table for a batch of deletes touching a few
    * partitions would be table-sized work): `write` materializes ONLY
    * the partitions being replaced into a staging root (sibling of the
    * table dir, so partition discovery on the live table never sees
    * it), a completion marker licenses the swap, and each staged
    * partition dir swaps in via two atomic renames. An empty staged
    * partition dir (mkdirs, no files) REPLACES the live partition with
    * emptiness — the representation of "every row of this partition
    * was deleted". Crash anywhere → [[healStagedPartitionSwap]]
    * finishes or discards on the next call; untouched partitions are
    * never read, written, or renamed.
    */
  def stagedPartitionReplace(spark: SparkSession, path: String)
                            (write: (String, Seq[String]) => Unit): Unit = {
    healStagedPartitionSwap(spark, path, discardMarkerless = true,
      writerRole = true)
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    val live = new Path(path)
    val stg = new Path(pswapStagingPath(path))
    // per-partition snapshot at entry — `write` must read EXACTLY these
    // files (via option("basePath", path) to keep the partition
    // column); files appended after this listing carry over through
    // the swap, so a purge racing the streaming ANN appender loses
    // neither side
    val snapshot =
      if (!fs.exists(live)) Seq.empty[(String, Path)]
      else fs.listStatus(live).filter(_.isDirectory).toSeq.flatMap { d =>
        dataFileStatuses(fs, d.getPath).toSeq
          .map(f => (s"${d.getPath.getName}/${f.getPath.getName}", f.getPath))
      }
    write(pswapStagingPath(path), snapshot.map(_._2.toString))
    require(fs.exists(stg), s"stagedPartitionReplace: $stg missing after write")
    // lease BEFORE marker: from the instant the marker licenses the
    // swap, no reader-healer may race our renames while we are alive
    // (PswapLeaseTtlMs); the heal releases it when the swap completes
    val lease = fs.create(new Path(pswapLeasePath(path)), true)
    lease.close()
    val out = fs.create(new Path(stg, StagedCompleteMarker), true)
    out.write(snapshot.map(_._1).mkString("\n").getBytes("UTF-8"))
    out.close()
    // marker present ⇒ performs the swap (writer role: our own lease)
    healStagedPartitionSwap(spark, path, writerRole = true)
  }

  /** The tombstone id set of an index root — the LSM-style delete
    * record: a delete verb appends ids here (delete-proportional
    * work), every index read anti-joins them out (tombstone tables are
    * bounded by the verbs' auto-purge threshold, so the anti-join
    * broadcasts), and the purge verb rewrites the data files and
    * clears them. None when no deletes were ever recorded — existing
    * indexes pay only this listing probe.
    */
  def tombstones(spark: SparkSession, indexRoot: String): Option[DataFrame] = {
    val fs = FileSystem.get(new java.net.URI(indexRoot),
      spark.sparkContext.hadoopConfiguration)
    // data-file check, not dir existence: a snapshot-scoped purge
    // deletes the FILES it folded in and leaves the dir — an emptied
    // dir means no pending deletes (and parquet cannot infer a schema
    // from zero files anyway)
    if (dataFileStatuses(fs, new Path(IndexTable.Tombstones.path(indexRoot))).isEmpty) None
    else Some(IndexTable.Tombstones.read(spark, indexRoot)
      .select(col("id")).distinct())
  }

  /** Entry-time snapshot of an index's tombstone state, for purge and
    * rebuild verbs: the distinct id set MATERIALIZED on the driver
    * from exactly the data files present at entry, plus those files'
    * paths. Closes two concurrency defects of the lazy
    * [[tombstones]]+delete-the-dir protocol (ADVICE r12):
    *  - a lazy tombstone frame re-reads the dir on every action, so a
    *    concurrent deleteFrom* whose file-count compaction fires can
    *    remove files a running purge plan references (FileNotFound
    *    task failures), and the id set can GROW between the purge's
    *    affected-partition computation and its anti-join — clearing
    *    tombstones for ids that were never folded into the rewrite.
    *    The materialized set gives every purge stage one consistent
    *    id universe, immune to concurrent dir churn;
    *  - deleting the ENTIRE tombstone dir at purge end discards ids a
    *    concurrent deleter appended after the purge's read — a
    *    silently lost forget request whose rows remain in the data
    *    files. [[clearTombstoneFiles]] removes only the snapshot
    *    files; newer appends survive to drive the next purge.
    * If a concurrent compaction merged a snapshot file away mid-purge,
    * its cleanup is a no-op and the already-purged ids remain as
    * tombstones masking absent ids — benign (fsck's
    * `tombstones_benign` row) until the next purge clears them; no id
    * is ever resurrected or lost. The set is bounded by the delete
    * verbs' auto-purge threshold (~1e5 long ids), so driver
    * materialization is broadcast-sized. None when the index has no
    * tombstone data files.
    */
  def tombstoneSnapshot(spark: SparkSession, indexRoot: String)
      : Option[(DataFrame, Seq[Path])] = {
    val fs = FileSystem.get(new java.net.URI(indexRoot),
      spark.sparkContext.hadoopConfiguration)
    val files = dataFileStatuses(fs,
      new Path(IndexTable.Tombstones.path(indexRoot))).map(_.getPath).toSeq
    if (files.isEmpty) None
    else {
      val ids = IndexTable.Tombstones
        .readSnapshot(spark, indexRoot, files.map(_.toString))
        .select(col("id").cast("long").as("id"))
        .filter(col("id").isNotNull).distinct()
        .collect().map(_.getLong(0)).toSeq
      import spark.implicits._
      Some((ids.toDF("id"), files))
    }
  }

  /** Delete exactly the tombstone files a [[tombstoneSnapshot]] read —
    * the cleanup side of the snapshot contract. Files already gone
    * (merged away by a concurrent deleter's compaction) are skipped;
    * an emptied dir is left in place (a listing probe, not a marker).
    */
  def clearTombstoneFiles(spark: SparkSession, indexRoot: String,
                          files: Seq[Path]): Unit = {
    val fs = FileSystem.get(new java.net.URI(indexRoot),
      spark.sparkContext.hadoopConfiguration)
    files.foreach(f => if (fs.exists(f)) fs.delete(f, false))
  }

  /** Total bytes of the top-level data files in a FLAT table dir —
    * free metadata (one listing, no footers), used as a plan-shape
    * signal (e.g. the indexed append's prefix-window restriction
    * threshold) where a count() action would cost a Spark job.
    */
  def flatDirBytes(spark: SparkSession, path: String): Long = {
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    val p = new Path(path)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getLen).sum
  }

  /** M1-family compaction for a FLAT (unpartitioned) parquet dir — the
    * maintenance verb for signature/edge index tables, whose append
    * cadence accretes batch-sized files (round-10 verdict: the
    * steady-append loop drifted 6.1→7.7 s over 10 commits purely from
    * file-count growth). Round 12: rides [[stagedReplace]] — the
    * staging write fully materializes (reading the live table, which
    * stays untouched), then two atomic dir renames swap it in; a crash
    * at any point self-heals on the next call (the previous
    * delete-then-rename swap could leave the live table empty with
    * only manual recovery — r11 verdict defect #1).
    */
  def compactFlat(spark: SparkSession, path: String,
                  targetFiles: Int = 8): Unit = {
    // snapshot-read rewrite (round 12): the compaction reads exactly
    // the files listed at entry; anything appended while it runs
    // carries over through the swap — safe under concurrent appenders
    stagedReplaceSnapshot(spark, path) { (staging, files) =>
      (if (files.isEmpty) spark.read.parquet(path)
       else spark.read.parquet(files: _*))
        .repartition(math.max(1, targetFiles))
        .write.mode(SaveMode.Overwrite).parquet(staging)
    }
    val (nf, nb, nr) = parquetStats(spark, path)
    // params must be non-empty: history()'s JSON scan drops an
    // all-empty struct field and then can't project `params`
    logWrite(spark, path, "OPTIMIZE_FLAT",
      Map("targetFiles" -> targetFiles.toString),
      Map("num_files" -> nf, "num_bytes" -> nb, "num_rows" -> nr))
  }

  /** Compaction commit: move every `col=value` partition dir from the
    * fully-materialized staging write into the live table, replacing the
    * old dir of the same partition. Overwriting `path` in place would
    * delete the table BEFORE the lazy self-scan runs whenever the session
    * is in static partitionOverwriteMode (total data loss); staging+swap
    * is mode-independent and shrinks the non-atomic window to one rename
    * per touched partition. Untouched partitions and `_graft_manifest`
    * are never disturbed. (No snapshot isolation — see README.)
    */
  private def swapPartitionDirs(spark: SparkSession, staging: String,
                                path: String): Unit = {
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new Path(staging))
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
    require(parts.nonEmpty, s"staging write $staging produced no partitions")
    parts.foreach { s =>
      val dst = new Path(path, s.getPath.getName)
      // HDFS-style filesystems report failure via `false`, not an
      // exception — an unchecked rename after the delete would silently
      // drop the partition. Failing here leaves the compacted copy in
      // staging, so nothing is lost and the swap can be retried.
      require(!fs.exists(dst) || fs.delete(dst, true),
        s"compaction swap: could not remove old partition $dst")
      require(fs.rename(s.getPath, dst),
        s"compaction swap: rename ${s.getPath} -> $dst failed; " +
          s"compacted data preserved in $staging")
    }
    fs.delete(new Path(staging), true)
  }

  /** Exact two-column Z-ORDER clustering (the sort-based
    * [[compactPartitions]] only data-skips on its leading column): each
    * column is min/max-quantized to a 16-bit rank (one cheap global agg
    * — the same kind of pre-pass AQE stats cost), the ranks are Morton-
    * interleaved into one key ([[graft.functions.InterleaveBits]],
    * codegen'd O(1)/row), and the data is range-partitioned + sorted by
    * that key. Parquet row-group min/max stats then prune selective
    * predicates on EITHER column. Returns the clustered frame for the
    * caller to write.
    */
  def zOrderCluster(df: DataFrame, c1: String, c2: String,
                    targetPartitions: Int = 32): DataFrame = {
    import org.apache.spark.sql.GraftColumn
    val r = df.agg(
      min(col(c1)).cast("double"), max(col(c1)).cast("double"),
      min(col(c2)).cast("double"), max(col(c2)).cast("double")).head()
    def quant(c: String, lo: Double, hi: Double) =
      if (r.anyNull || hi <= lo) lit(0)
      else ((col(c).cast("double") - lit(lo)) / lit(hi - lo) * lit(65535.0)).cast("int")
    val zkey = GraftColumn(graft.functions.InterleaveBits(
      GraftColumn.expr(quant(c1, r.getDouble(0), r.getDouble(1))),
      GraftColumn.expr(quant(c2, r.getDouble(2), r.getDouble(3)))))
    df.withColumn("_zkey", zkey)
      .repartitionByRange(targetPartitions, col("_zkey"))
      .sortWithinPartitions(col("_zkey"))
      .drop("_zkey")
  }

  /** Two-column HILBERT clustering — [[zOrderCluster]] with the
    * Hilbert key ([[graft.functions.HilbertIndex]]) in place of the
    * Morton interleave: consecutive keys are always grid-adjacent, so
    * the range-partitioned files carry tighter per-file bounding boxes
    * than the Z-curve's quadrant-seam jumps allow (LayoutSpec measures
    * both against a lexicographic sort on the same data). Same
    * quantization pre-pass, same writer contract.
    */
  def hilbertCluster(df: DataFrame, c1: String, c2: String,
                     targetPartitions: Int = 32): DataFrame = {
    import org.apache.spark.sql.GraftColumn
    val r = df.agg(
      min(col(c1)).cast("double"), max(col(c1)).cast("double"),
      min(col(c2)).cast("double"), max(col(c2)).cast("double")).head()
    def quant(c: String, lo: Double, hi: Double) =
      if (r.anyNull || hi <= lo) lit(0)
      else ((col(c).cast("double") - lit(lo)) / lit(hi - lo) * lit(65535.0)).cast("int")
    val hkey = GraftColumn(graft.functions.HilbertIndex(
      GraftColumn.expr(quant(c1, r.getDouble(0), r.getDouble(1))),
      GraftColumn.expr(quant(c2, r.getDouble(2), r.getDouble(3)))))
    df.withColumn("_hkey", hkey)
      .repartitionByRange(targetPartitions, col("_hkey"))
      .sortWithinPartitions(col("_hkey"))
      .drop("_hkey")
  }

  /** Three-column exact Z-order clustering — the reference's Silver
    * Z-ORDER set is (symbol, current_price, market_cap). Numeric columns
    * are min/max-quantized to a 21-bit rank (range locality → min/max
    * skipping); string columns are hash-bucketed (equality locality —
    * what Z-order on a categorical column effectively provides). Keys are
    * Morton-interleaved via [[graft.functions.InterleaveBits3]].
    */
  def zOrderCluster3(df: DataFrame, c1: String, c2: String, c3: String,
                     targetPartitions: Int = 32): DataFrame = {
    import org.apache.spark.sql.GraftColumn
    import org.apache.spark.sql.types.StringType
    val cs = Seq(c1, c2, c3)
    val numeric = cs.filter(c => df.schema(c).dataType != StringType)
    val stats: Map[String, (Double, Double)] =
      if (numeric.isEmpty) Map.empty
      else {
        val aggs = numeric.flatMap(c =>
          Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        numeric.zipWithIndex.map { case (c, i) =>
          def d(j: Int) = if (row.isNullAt(j)) 0.0 else row.getDouble(j)
          c -> (d(2 * i), d(2 * i + 1))
        }.toMap
      }
    def quant(c: String) = df.schema(c).dataType match {
      case StringType => pmod(xxhash64(col(c)), lit(2097152L)).cast("int")
      case _ =>
        val (lo, hi) = stats(c)
        if (hi <= lo) lit(0)
        else ((col(c).cast("double") - lit(lo)) / lit(hi - lo) * lit(2097151.0)).cast("int")
    }
    val zkey = GraftColumn(graft.functions.InterleaveBits3(
      GraftColumn.expr(quant(c1)), GraftColumn.expr(quant(c2)), GraftColumn.expr(quant(c3))))
    df.withColumn("_zkey", zkey)
      .repartitionByRange(targetPartitions, col("_zkey"))
      .sortWithinPartitions(col("_zkey"))
      .drop("_zkey")
  }

  /** Bucketed table write: pre-shuffles once at write time into a fixed
    * number of hash buckets on the join key (optionally bucket-sorted).
    * Two tables bucketed on the same key with the same bucket count then
    * equi-join with ZERO runtime shuffle — the scan's HashPartitioning
    * already satisfies the join's distribution requirement. This is the
    * 100 TB answer for a fact⋈fact join that recurs across queries: pay
    * the shuffle once at ingest, never at read. (Bucketing requires the
    * catalog write path — `saveAsTable` — because bucket metadata lives
    * in the table catalog, not the parquet files.)
    */
  def bucketedSave(df: DataFrame, table: String, bucketCols: Seq[String],
                   buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** ORC sink (optionally partitioned) — same layout discipline as the
    * parquet writers: co-locate by partition column first
    * ([[colocated]]) or accept one file per shuffle partition per dir.
    * Read half: [[graft.ops.Ingest.fromOrc]].
    */
  def writeOrc(df: DataFrame, path: String,
               partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .orc(path)
  }

  /** JSON-lines sink (optionally partitioned) — the interchange format
    * LLM-corpus tooling actually exchanges (one JSON object per line;
    * null fields are OMITTED, Spark's json convention). Doubles print
    * shortest-round-trip, so a read-back with schema inference
    * ([[graft.ops.Ingest.fromJsonDir]]) is value-identical — q173
    * proves it against the DuckDB oracle on the parquet original.
    */
  def writeJsonl(df: DataFrame, path: String,
                 partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .json(path)
  }

  /** K4: single-file CSV export with header — `coalesce(1)` write + rename
    * of the part file (the executor-side equivalent of the reference's
    * driver-side `toPandas().to_csv`, which would OOM the driver at scale).
    * Only valid for small final results (the Gold report is one row per
    * date).
    */
  def singleCsv(df: DataFrame, outFile: String): Unit = {
    val spark = df.sparkSession
    val tmp = outFile + "_tmp"
    df.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true").csv(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new java.net.URI(tmp), conf)
    val parts = fs.globStatus(new Path(tmp, "part-*.csv"))
    require(parts != null && parts.length == 1,
      s"singleCsv: expected one part file in $tmp, found " +
        Option(parts).fold(0)(_.length))
    val dst = new Path(outFile)
    // HDFS-style filesystems report a failed rename via `false`, not an
    // exception: fail with the export still in `_tmp` (the
    // swapPartitionDirs discipline) instead of leaving no report
    require(!fs.exists(dst) || fs.delete(dst, false),
      s"singleCsv: could not remove old report $dst")
    require(fs.rename(parts(0).getPath, dst),
      s"singleCsv: rename ${parts(0).getPath} -> $dst failed; export preserved in $tmp")
    fs.delete(new Path(tmp), true)
  }

  /** Footer-level stats of a parquet tree: (files, bytes, rows). Rows
    * come from footer record counts — metadata reads only, never data
    * pages; O(#files) listing + one footer read per file, proportional
    * to the write the caller just performed. The operation-metrics
    * source for `Snapshots` manifests and [[compactFlat]]'s log entry
    * (whose table can hold files appended concurrently that its own
    * write never saw); the partitioned writers observe their row counts
    * instead (the reference surfaces these via Delta's history
    * operationMetrics, `view_delta_history.py:60-71`).
    */
  def parquetStats(spark: SparkSession, dir: String): (Long, Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = parquetFiles(spark, dir)
    val rows = files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
      try r.getRecordCount finally r.close()
    }.sum
    (files.size.toLong, files.map(_.getLen).sum, rows)
  }

  /** The `.parquet` files anywhere under `dir` (none when it is absent);
    * one recursive listing, no file opened.
    */
  private def parquetFiles(spark: SparkSession, dir: String): Seq[LocatedFileStatus] = {
    val root = new Path(dir)
    val fs = FileSystem.get(root.toUri, spark.sparkContext.hadoopConfiguration)
    val out = Seq.newBuilder[LocatedFileStatus]
    if (fs.exists(root)) {
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) out += f
      }
    }
    out.result()
  }

  /** M5 analog: append an entry to the table's write-manifest log
    * (`_graft_manifest/` — underscore-prefixed, so Spark's hidden-file
    * filter keeps it invisible to `spark.read.parquet` on the table
    * path, the same trick as Delta's `_delta_log`). Gives the
    * reference's `DeltaTable.history()` surface — version, timestamp,
    * operation, parameters, operation metrics — without a transaction
    * log. A FULL overwrite deletes the table dir including the manifest,
    * so its history restarts at 0 — log entries describe the current
    * table incarnation.
    *
    * `metrics` (num_files / num_bytes / num_rows) cover the data the
    * operation touched: the whole table for full overwrites (there the
    * table IS the write), only the replaced/compacted partitions for
    * partition-scoped ops — stats proportional to the operation, never
    * a table-age-sized sweep.
    *
    * Version claim is atomic: the next version file is created with
    * overwrite=false (HDFS create-if-absent semantics), and a loss to a
    * concurrent writer retries the next number — two processes logging
    * simultaneously get two distinct versions, mirroring `Snapshots`'
    * commit discipline instead of the old count-then-overwrite race.
    * Like Snapshots' commit, a per-URI JVM lock additionally serializes
    * racing threads of one driver, because local file:// create does not
    * refuse an existing destination atomically.
    */
  def logWrite(spark: SparkSession, path: String, operation: String,
               params: Map[String, String] = Map.empty,
               metrics: Map[String, Long] = Map.empty): Unit = {
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    val dir = new Path(path, "_graft_manifest")
    fs.mkdirs(dir)
    val paramsJson = params.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val metricsJson = metrics.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val LogRe = """(\d+)\.json""".r
    UriLocks.forPath(fs, dir).synchronized {
      val existing = fs.listStatus(dir).map(_.getPath.getName)
        // Long-overflow guard on the SIGNIFICANT digits: our own entries
        // are zero-padded to 20 chars, so a raw length test would exclude
        // every file this log writes (restarting versions at 0 forever);
        // only a foreign name overflowing Long is treated as not ours
        .collect { case LogRe(v) if v.dropWhile(_ == '0').length <= 18 => v.toLong }
      var version = existing.maxOption.getOrElse(-1L) + 1L
      var attempts = 0
      var done = false
      while (!done) {
        val json = s"""{"version":$version,"timestamp":"${java.time.Instant.now()}",""" +
          s""""operation":"$operation","params":$paramsJson,"metrics":$metricsJson}"""
        try {
          val out = fs.create(new Path(dir, f"$version%020d.json"), false)
          try out.write(json.getBytes("UTF-8")) finally out.close()
          done = true
        } catch {
          case e: java.io.IOException => // claimed by a cross-process racer
            attempts += 1
            if (attempts > 50) throw new IllegalStateException(
              s"logWrite to $path lost $attempts version claims", e)
            version += 1
        }
      }
    }
  }


  /** M5: latest `n` manifest entries, newest first
    * (`view_delta_history.py:44-75` analog). Surfaces operation
    * `metrics` (post-write table num_files/num_bytes/num_rows) when any
    * entry carries them.
    */
  def history(spark: SparkSession, path: String, n: Int = 5): DataFrame = {
    import org.apache.spark.sql.functions.col
    val log = spark.read.json(s"$path/_graft_manifest/*.json")
    val cols = Seq("version", "timestamp", "operation", "params") ++
      (if (log.columns.contains("metrics")) Seq("metrics") else Nil)
    log.select(cols.head, cols.tail: _*)
      .orderBy(col("version").desc).limit(n)
  }

  /** K5: catalog registration of a path-backed table
    * (`main_pipeline.py:189-218` without the Hive/JDBC dependency — the
    * in-session catalog; on a cluster the same SQL goes to the shared
    * metastore).
    */
  def registerTable(spark: SparkSession, db: String, table: String,
                    path: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"CREATE TABLE IF NOT EXISTS $db.$table USING PARQUET LOCATION '$path'")
    val registered = spark.sql(s"SHOW TABLES IN $db")
      .select("tableName").collect().map(_.getString(0))
    require(registered.contains(table),
      s"registration of $db.$table failed verification")
  }

  /** K5 with the reference's hang guard: the same registration SQL run
    * under [[Orchestrate.withTimeout]] (`main_pipeline.py:305-318` wraps
    * its Hive registration in a 120 s timeout thread because a dead
    * metastore otherwise hangs the whole pipeline). Returns false on
    * timeout — callers continue like the reference does, with the table
    * written but unregistered. Pair with [[Sessions.withHiveMetastore]]
    * for a catalog that outlives the session.
    */
  def registerTableGuarded(spark: SparkSession, db: String, table: String,
                           path: String, timeoutMs: Long = 120000L): Boolean =
    Orchestrate.withTimeout(timeoutMs) {
      registerTable(spark, db, table, path)
    }.isDefined

  /** M6: table existence probe (`DeltaTable.isDeltaTable` analog). */
  def tableExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }
}
