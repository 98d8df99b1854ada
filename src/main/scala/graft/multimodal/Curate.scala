package graft.multimodal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.IndexTable
import graft.engine.IndexTable._
import graft.text.{Clusters, Curation, Dedup}

/** Unified MULTIMODAL corpus curation: one keep/drop/split manifest
  * across every modality of a document — text near-dups (exact-hash ∪
  * n-gram Jaccard), perceptual image near-dups (aHash banding), and
  * perceptual audio near-dups (energy-hash banding) — composed into a
  * single transitive cluster graph.
  *
  * Why one graph instead of per-modality passes: a training document is
  * a leak if ANY of its modalities near-duplicates a document in
  * another split — two pages with different text but the same photo
  * must not straddle train/test. Unioning the modality edge lists
  * before the connected-components walk makes the cluster the unit of
  * atomicity for every modality at once, so hashing the cluster id for
  * split assignment gives ZERO cross-split near-dup pairs in each
  * modality by construction (the [[graft.text.Clusters.clusterSafeSplits]]
  * argument, extended to the union graph; spec-asserted per modality).
  *
  * Scale posture: every edge source is the guarded sub-quadratic
  * variant — Jaccard via the shared-shingle equi-join, image/audio via
  * 16-bit-chunk pigeonhole banding with hot-chunk refusal — the
  * component walk is the hybrid driver/star dispatch, and the split is
  * a map-only hash of the cluster id. Nothing new is quadratic; the
  * composition adds two unions and one left-join per modality flag.
  */
object Curate {

  /** The manifest: one row per doc — `(doc_id, cluster_id, keep,
    * split, text_dup, image_dup, audio_dup)` where `keep` marks the
    * min-id canonical of each unified cluster (the drop list IS the
    * dedup delete set), `split` hashes the cluster id, and the flags
    * say which modality made the doc a duplicate of anything.
    *
    * `imageMedia`/`audioMedia` are the per-modality payload tables
    * (`media_id` keyed to `docs`' ids, `format`, binary `payload` —
    * the [[Media]] row shape). They DEFAULT to the deterministic
    * id-derived fixture tables so the driver gate can verify the whole
    * composition against a closed-form oracle; a production corpus
    * passes its real payload tables here — with the defaults, the
    * perceptual edges describe the fixture, not any actual media.
    */
  def unifiedManifest(spark: SparkSession, docs: DataFrame, idCol: String,
                      textCol: String, pcts: Seq[(String, Int)],
                      shingleN: Int = 5, threshold: Double = 0.5,
                      maxDist: Int = 3,
                      maxChunkBucket: Long = graft.ops.GuardBounds.MaxChunkBucket,
                      imageMedia: Option[DataFrame] = None,
                      audioMedia: Option[DataFrame] = None): DataFrame =
   graft.engine.Caches.scopedMaterialized("unifiedManifest.result") {
    val ids = docs.select(col(idCol).cast("long").as("doc_id"))

    // text edges: exact-dup stars (min id ← members) ∪ Jaccard pairs —
    // the dupClusters edge recipe, kept here so the modality flag can
    // see the text edge list before the union erases provenance
    val jac = Dedup.jaccardPairs(docs, idCol, textCol, shingleN, threshold)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val byHash = docs.select(col(idCol).cast("long").as("id"),
      md5(col(textCol)).as("h"))
    val exact = byHash
      .withColumn("src", min(col("id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .filter(col("id") =!= col("src"))
      .select(col("src"), col("id").as("dst"))
    val textEdges = jac.union(exact)

    // perceptual edges, one banded pass per modality (both inherit the
    // pigeonhole completeness law and the hot-chunk refusal)
    val imageEdges = Media.phashBandedPairs(spark,
        imageMedia.getOrElse(Media.imageHashTable(spark, docs, idCol)),
        maxDist, maxChunkBucket)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val audioEdges = Media.audioHashBandedPairs(spark,
        audioMedia.getOrElse(Media.audioHashTable(spark, docs, idCol)),
        maxDist, maxChunkBucket)
      .select(col("id_a").as("src"), col("id_b").as("dst"))

    // Each edge frame feeds the walk AND its provenance flag. They are
    // deliberately NOT persisted: every frame is two cheap joins over
    // base relations that ARE cached (the shingle and chunk relations),
    // and measured at sf0.1 an extra cache layer here made the whole
    // manifest ~50% slower (serialize+materialize ahead of the CC
    // checkpoint) than recomputing from those caches per consumer.
    val comp = Clusters.connectedComponents(
      textEdges.union(imageEdges).union(audioEdges), "src", "dst")

    val assigned = ids
      .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
    withModalityFlags(Curation.splitAssign(assigned, "cluster_id", pcts),
        textEdges, imageEdges, audioEdges)
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("keep"), col("split"),
        col("text_dup"), col("image_dup"), col("audio_dup"))
   }

  /** Join the three modality incidence flags onto a per-doc frame —
    * a doc is `<modality>_dup` iff it is incident to an edge of that
    * family. ONE definition shared by [[unifiedManifest]] and
    * [[appendManifest]] so flag semantics cannot desync.
    */
  private def withModalityFlags(docs: DataFrame, textEdges: DataFrame,
                                imageEdges: DataFrame,
                                audioEdges: DataFrame): DataFrame = {
    def dupFlag(e: DataFrame, name: String): DataFrame =
      e.select(col("src").as("doc_id"))
        .union(e.select(col("dst").as("doc_id")))
        .distinct().withColumn(name, lit(true))
    docs
      .join(dupFlag(textEdges, "text_dup"), Seq("doc_id"), "left")
      .join(dupFlag(imageEdges, "image_dup"), Seq("doc_id"), "left")
      .join(dupFlag(audioEdges, "audio_dup"), Seq("doc_id"), "left")
      .withColumn("text_dup", coalesce(col("text_dup"), lit(false)))
      .withColumn("image_dup", coalesce(col("image_dup"), lit(false)))
      .withColumn("audio_dup", coalesce(col("audio_dup"), lit(false)))
  }

  /** Incremental MULTIMODAL append: [[graft.text.Clusters.appendDedup]]
    * extended to every modality — a batch doc is a duplicate if its
    * text, image, OR audio near-duplicates the corpus or another batch
    * doc, and the verdict component is walked over the union of the
    * three incremental edge families (text via the asymmetric prefix
    * join, image/audio via the asymmetric chunk joins — every family
    * scales with the batch, never corpus²). One row per batch doc:
    * `(doc_id, dup_of, keep, text_dup, image_dup, audio_dup)` — the
    * verdict columns follow appendDedup's contract and the flags say
    * which modality made the doc a duplicate of anything. Same
    * deduped-corpus precondition per modality; same fixture-default
    * media tables as [[unifiedManifest]] (pass real payload tables in
    * production). Cache contract: SELF-CLEANING — the recurring
    * operator (once per ingest batch) materializes its batch-sized
    * verdict eagerly and releases every internal cache before
    * returning ([[graft.engine.Caches.scopedMaterialized]]), so N
    * consecutive appends hold batch-sized state only.
    */
  def appendManifest(spark: SparkSession, corpus: DataFrame,
                     batch: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 5, threshold: Double = 0.5,
                     maxDist: Int = 3, maxChunkBucket: Long = graft.ops.GuardBounds.MaxChunkBucket,
                     hotShingleCap: Int = graft.ops.GuardBounds.HotShingleCap,
                     imageMedia: Option[DataFrame] = None,
                     audioMedia: Option[DataFrame] = None): DataFrame =
   graft.engine.Caches.scopedMaterialized("appendManifest.result") {
    val c = corpus.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"))
    val b = batch.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"))
    val all = c.union(b)
    val newIds = b.select("doc_id")
    val textEdges = Clusters.appendTextEdges(all, b, shingleN, threshold,
      hotShingleCap)
    val imageEdges = Media.phashBandedPairsIncremental(spark,
        imageMedia.getOrElse(Media.imageHashTable(spark, all, "doc_id")),
        newIds, maxDist, maxChunkBucket)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val audioEdges = Media.audioHashBandedPairsIncremental(spark,
        audioMedia.getOrElse(Media.audioHashTable(spark, all, "doc_id")),
        newIds, maxDist, maxChunkBucket)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    // NOT persisted — same measured tradeoff as unifiedManifest: the
    // frames recompute from cached shingle/chunk relations cheaper
    // than an extra cache layer
    withModalityFlags(
        Clusters.appendVerdicts(c.select("doc_id"), newIds,
          textEdges.union(imageEdges).union(audioEdges)),
        textEdges, imageEdges, audioEdges)
      .select(col("doc_id"), col("dup_of"), col("keep"),
        col("text_dup"), col("image_dup"), col("audio_dup"))
   }

  /** Persist the SIGNATURE INDEX of a standing corpus — the build half
    * of the build/probe split applied to the manifest family (the
    * [[graft.vector.Similarity.buildIvfAdcIndex]] discipline): every
    * derived signature the dedup/manifest operators consume, written
    * once so consumers stop re-deriving them per call. Layout:
    *
    *   - `shingles`     `(doc, shingle)` — the text n-gram set relation
    *   - `text_hashes`  `(doc_id, h)`    — md5 exact-dup keys
    *   - `image_hashes` `(media_id, phash)` — perceptual aHash64
    *   - `audio_hashes` `(media_id, phash)` — energy hash64
    *   - `meta`         `(shingle_n)`    — build parameter, validated
    *                                        by consumers
    *
    * Signatures are deterministic functions of the corpus, so an
    * indexed consumer's output is bit-identical to its self-deriving
    * twin (law-tested) and the existing DuckDB oracles — which recompute
    * from raw documents — keep gating the indexed paths end to end.
    * Media defaults are the id-derived fixture tables, as everywhere in
    * this family; pass real payload tables in production.
    */
  def buildSignatureIndex(spark: SparkSession, corpus: DataFrame,
                          idCol: String, textCol: String, path: String,
                          shingleN: Int = 5,
                          imageMedia: Option[DataFrame] = None,
                          audioMedia: Option[DataFrame] = None): Unit = {
    val c = corpus.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"))
    Shingles.write(Dedup.shingleSets(c, "doc_id", "text", shingleN), path,
      SaveMode.Overwrite)
    // corpus shingle frequencies (round 12): counts are SUM-mergeable,
    // so the index carries them as a first-class relation — the append
    // path's canonical rarest-first ordering then reads vocabulary-
    // sized state instead of re-aggregating the corpus-sized
    // (doc, shingle) relation per call. Derived from the just-written
    // parquet (a read-back, not a second tokenization).
    ShingleFreq.write(Shingles.read(spark, path)
      .groupBy(col("shingle")).agg(count(lit(1)).as("freq")), path,
      SaveMode.Overwrite)
    TextHashes.write(c.select(col("doc_id"), md5(col("text")).as("h")), path,
      SaveMode.Overwrite)
    ImageHashes.write(Media.imageHashes(spark,
        imageMedia.getOrElse(Media.imageHashTable(spark, c, "doc_id"))).toDF(),
      path, SaveMode.Overwrite)
    AudioHashes.write(Media.audioHashes(spark,
        audioMedia.getOrElse(Media.audioHashTable(spark, c, "doc_id"))).toDF(),
      path, SaveMode.Overwrite)
    SigMeta.write(spark.range(1).select(lit(shingleN).as("shingle_n")), path,
      SaveMode.Overwrite)
  }

  /** The index's recorded shingle width — consumers validate their
    * `shingleN` against it instead of silently mixing n-gram widths.
    */
  private[graft] def indexShingleN(spark: SparkSession, path: String): Int =
    SigMeta.read(spark, path).head().getInt(0)

  /** GLOBAL shingle frequencies for an indexed append: the persisted
    * vocabulary-sized counts (possibly multi-segment — freq deltas
    * append per commit) SUM-merged with the batch's own deltas —
    * exactly the counts a corpus-relation aggregation would produce
    * (counts of disjoint doc sets add), at vocabulary-relation cost.
    * None when the index predates the freq relation (round-12);
    * consumers then fall back to aggregating the shingle relation.
    */
  private[graft] def indexFreqFor(spark: SparkSession, indexPath: String,
                                  batchShingles: DataFrame): Option[DataFrame] = {
    if (!ShingleFreq.exists(spark, indexPath)) None
    else {
      ShingleFreq.heal(spark, indexPath)
      Some(ShingleFreq.read(spark, indexPath)
        .unionByName(batchShingles.groupBy(col("shingle"))
          .agg(count(lit(1)).as("freq")))
        .groupBy(col("shingle")).agg(sum(col("freq")).as("freq")))
    }
  }

  /** Append a committed batch's signatures INTO the index — the
    * maintenance half that keeps N appends batch-proportional: each
    * call derives signatures for the BATCH only and parquet-appends
    * them. Call after [[appendManifestIndexed]]'s verdicts are acted
    * on (typically with the kept docs).
    *
    * File hygiene is part of the contract (round-10 verdict: the
    * steady-append loop drifted 6.1→7.7 s over 10 commits purely from
    * small-file accretion — the one scale-with-time leak left):
    * batch-sized writes land as `filesPerCommit` files (a batch never
    * needs a shuffle-partition-count fan-out), and any signature
    * table whose file count exceeds `compactAbove` is rewritten by
    * [[graft.engine.Layout.compactFlat]] before returning — so the
    * per-commit cost is flat-with-batches plus an amortized
    * compaction whose cadence is every `compactAbove/filesPerCommit`
    * commits, and consumer scan cost is bounded regardless of commit
    * count. Pass `compactAbove = Int.MaxValue` to manage compaction
    * externally.
    *
    * Interaction with deletes ([[graft.engine.IndexLifecycle]]): an
    * appended doc whose id is currently TOMBSTONED stays masked until a
    * purge folds the tombstones in — ids are identities here, so
    * re-using a deleted id for new content requires a purge first
    * (refusing silent resurrection is the right default for a
    * forget-request pipeline).
    */
  def appendSignatures(spark: SparkSession, batch: DataFrame,
                       idCol: String, textCol: String, path: String,
                       imageMedia: Option[DataFrame] = None,
                       audioMedia: Option[DataFrame] = None,
                       filesPerCommit: Int = 4,
                       compactAbove: Int = 48): Unit = {
    val shingleN = indexShingleN(spark, path)
    require(filesPerCommit >= 1, s"filesPerCommit must be >= 1")
    val b = batch.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"))
    def append(t: IndexTable, df: DataFrame): Unit =
      t.write(df.repartition(filesPerCommit), path, SaveMode.Append)
    append(Shingles, Dedup.shingleSets(b, "doc_id", "text", shingleN))
    // freq DELTAS append as segments (batch-proportional work; readers
    // SUM across segments — counts merge exactly); the compaction
    // cadence below re-aggregates so the table stays vocabulary-sized
    append(ShingleFreq, Dedup.shingleSets(b, "doc_id", "text", shingleN)
      .groupBy(col("shingle")).agg(count(lit(1)).as("freq")))
    append(TextHashes, b.select(col("doc_id"), md5(col("text")).as("h")))
    append(ImageHashes, Media.imageHashes(spark,
      imageMedia.getOrElse(Media.imageHashTable(spark, b, "doc_id"))).toDF())
    append(AudioHashes, Media.audioHashes(spark,
      audioMedia.getOrElse(Media.audioHashTable(spark, b, "doc_id"))).toDF())
    Seq(Shingles, TextHashes, ImageHashes, AudioHashes).foreach { t =>
      if (graft.engine.Layout.flatFileCount(spark, t.path(path)) > compactAbove)
        graft.engine.Layout.compactFlat(spark, t.path(path),
          targetFiles = filesPerCommit * 2)
    }
    // the freq table compacts by RE-AGGREGATION (segments carry
    // per-commit deltas; the sum-merge collapses them back to one row
    // per shingle), so its steady-state size is the vocabulary, not
    // vocabulary × commits — same crash-safe swap as compactFlat
    if (graft.engine.Layout.flatFileCount(spark, ShingleFreq.path(path)) >
        compactAbove)
      // snapshot-read re-aggregation: delta segments appended while
      // the merge runs carry over as extra segments — the SUM-merge
      // read semantics absorb them exactly
      graft.engine.Layout.stagedReplaceSnapshot(spark, ShingleFreq.path(path)) {
        (stg, files) =>
          ShingleFreq.stage(ShingleFreq.readSnapshot(spark, path, files)
            .groupBy(col("shingle")).agg(sum(col("freq")).as("freq"))
            .repartition(filesPerCommit * 2), stg)
      }
  }

  /** A signature table read through the index's tombstone filter:
    * deleted docs vanish from every consumer (edges, manifests,
    * appends) the moment [[graft.engine.IndexLifecycle.delete]]
    * returns, without touching a data file — the anti-join side is
    * bounded by the delete verb's auto-purge threshold, so it
    * broadcasts. Indexes with no delete history skip the join entirely
    * (one listing probe).
    */
  private[graft] def liveSig(spark: SparkSession, path: String,
                             table: IndexTable): DataFrame = {
    val df = table.read(spark, path)
    graft.engine.Layout.tombstones(spark, path) match {
      case Some(ts) => table.idKeys.foldLeft(df)((d, k) =>
        d.join(broadcast(ts.withColumnRenamed("id", k)), Seq(k), "left_anti"))
      case None => df
    }
  }

  /** The signature tier's purge rewrite
    * ([[graft.engine.IndexLifecycle.Signature]]): each signature table
    * rewrites WITHOUT the tombstoned docs through a crash-safe
    * [[graft.engine.Layout.stagedReplaceSnapshot]] swap, `shingle_freq`
    * re-derives exactly from the purged shingle relation, and a
    * persisted edge tier (if built) drops every edge touching a deleted
    * doc. Between delete and purge `shingle_freq` stays STALE: the counts
    * feed only the AllPairs prefix ordering, whose completeness holds
    * under any consistent total order (Dedup.jaccardPairsFromShingles's
    * citation), so verdicts off a tombstoned index equal the
    * rebuild-on-remaining form (law-tested).
    */
  private[graft] def rewriteSignatureTables(spark: SparkSession, path: String,
                                            ts0: DataFrame): Unit = {
    val ts = broadcast(ts0)
    // snapshot-read rewrites: each table rewrite reads exactly the
    // files listed at its swap's entry; files appended concurrently
    // carry over through the swap unfiltered (appends of tombstoned
    // ids are contract-forbidden pre-purge, so carried-over rows are
    // clean) — a forget-request purge racing a streaming appender
    // loses neither side
    def purge(table: IndexTable): Seq[String] =
      if (!table.exists(spark, path)) Seq.empty
      else graft.engine.Layout.stagedReplaceSnapshot(spark, table.path(path)) {
        (stg, files) =>
          table.stage(table.idKeys.foldLeft(
              table.readSnapshot(spark, path, files)) { (df, k) =>
            df.join(ts.withColumnRenamed("id", k), Seq(k), "left_anti")
          } // each USING join moves its key first: restore the declared order
            .select(table.schema.fieldNames.toSeq.map(col): _*)
            .repartition(PurgeTargetFiles), stg)
      }
    // freq recompute reads the shingle purge's STAGED output only
    // (its exact post-delete content — never the live dir, where a
    // concurrent append may already have landed and would be counted
    // twice once its own freq deltas carry over); stateless, so a
    // crash-retried purge recomputes identically. Residual race
    // (documented, bounded): an append whose shingle write precedes
    // the shingle swap while its delta write follows the freq swap's
    // listing gets that one batch's counts twice — frequencies feed
    // only the AllPairs prefix ORDERING, whose completeness holds
    // under any consistent total order, so verdicts are unaffected;
    // exact counts need a quiesced purge (or a rebuild)
    def shinglesThenFreq(): Unit = {
      val purgedShingles = purge(Shingles)
      if (ShingleFreq.exists(spark, path) && purgedShingles.nonEmpty)
        graft.engine.Layout.stagedReplaceSnapshot(spark, ShingleFreq.path(path)) {
          (stg, _) =>
            ShingleFreq.stage(Shingles.readSnapshot(spark, path, purgedShingles)
              .groupBy(col("shingle")).agg(count(lit(1)).as("freq"))
              .repartition(PurgeTargetFiles), stg)
        }
    }
    // the table rewrites are INDEPENDENT (separate dirs, each crash-safe
    // on its own; reads stay correct under any completed subset because
    // the tombstones — cleared LAST, after every branch settled — keep
    // masking), so they overlap on driver threads (q240's
    // purge stage measured 2.7 s / 23 near-serial jobs serially). The
    // freq recompute needs only the shingle swap's staged files, so it
    // chains inside that branch.
    graft.engine.Orchestrate.parallel(Seq(
      () => shinglesThenFreq(),
      () => { purge(TextHashes); () },
      () => { purge(ImageHashes); () },
      () => { purge(AudioHashes); () },
      () => { purge(Edges); () }))
  }

  /** Files per rewritten signature table. */
  private val PurgeTargetFiles = 8

  /** The deletion-state report of a signature index — the operational
    * signal that drives purge cadence (the q186 guard-report
    * discipline applied to the delete family): one row per signature
    * table with its total, tombstone-masked, and live row counts.
    * `masked_fraction` is the garbage ratio every read pays the
    * anti-join for; a production pipeline purges when it (or the
    * absolute masked count) crosses policy. Aggregate-only: four
    * count jobs, nothing corpus-sized leaves the executors.
    */
  def deletionReport(spark: SparkSession, indexPath: String): DataFrame = {
    import spark.implicits._
    val ts = graft.engine.Layout.tombstones(spark, indexPath)
    // ONE tombstone broadcast + one aggregation over the tagged union
    // of all four key columns (r15): the per-table form built FOUR
    // separate broadcast exchanges of the same tombstone set — each a
    // driver round-trip at cycle cadence (q240's report stage measured
    // 1.67 s / 12 jobs). Per-table counts are identical: the left join
    // + count(_dead) runs per tagged row exactly as it did per table
    // (dup tombstone ids fan out identically), and the static name
    // frame re-attaches empty tables so they keep reporting a zero row
    // with the same 0/0 masked_fraction expression.
    val tables = Seq(AudioHashes, ImageHashes, Shingles, TextHashes)
    val tagged = tables.map(t => t.read(spark, indexPath)
        .select(lit(t.name).as("table_name"), col(t.idKeys.head).as("_k")))
      .reduce(_ unionByName _)
    val flagged = ts match {
      case Some(t) => tagged.join(
        broadcast(t.withColumnRenamed("id", "_k").withColumn("_dead", lit(1))),
        Seq("_k"), "left")
      case None => tagged.withColumn("_dead", lit(null).cast("int"))
    }
    val counts = flagged.groupBy(col("table_name")).agg(
      count(lit(1)).as("_t"), count(col("_dead")).as("_m"))
    tables.map(_.name).toDF("table_name")
      .join(counts, Seq("table_name"), "left")
      .select(col("table_name"),
        coalesce(col("_t"), lit(0L)).as("total_rows"),
        coalesce(col("_m"), lit(0L)).as("masked_rows"))
      .select(col("table_name"), col("total_rows"), col("masked_rows"),
        (col("total_rows") - col("masked_rows")).as("live_rows"),
        (col("masked_rows").cast("double") /
          col("total_rows").cast("double")).as("masked_fraction"))
      .orderBy(col("table_name"))
  }

  /** Integrity audit (fsck) of a signature index — the
    * [[graft.vector.Similarity.fsckIvfAdcIndex]] discipline for the
    * manifest tier: one row per invariant,
    * `(check, ok, n_violations, detail)`, aggregate-sized.
    * Checks: the four signature tables + meta exist; every shingle row
    * belongs to a doc in `text_hashes` (the id universe — an orphan
    * means a partial append or a half-completed purge); one md5 row
    * per doc; `shingle_freq` sums to the shingle row count when no
    * tombstones are pending (under tombstones freq is stale by
    * documented design — the check reports ok with the reason);
    * no in-flight swap leftovers (healable, named per table).
    */
  def fsckSignatureIndex(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val missing = Seq(Shingles, TextHashes, ImageHashes, AudioHashes, SigMeta)
      .filterNot(_.exists(spark, path)).map(_.name)
    val layoutRow = Seq(("layout_parts", missing.isEmpty,
      missing.size.toLong,
      if (missing.isEmpty) "all signature tables present"
      else s"missing: ${missing.mkString(",")}"))
    if (missing.nonEmpty)
      return layoutRow.toDF("check_name", "ok", "n_violations", "detail")
    val hashes = TextHashes.read(spark, path)
    // ONE doc-keyed pass + aggregate branches unioned into a single
    // collect (r15, the fsckBm25Index r14 consolidation applied to
    // this tier: the check-per-action form ran ~5 sequential driver
    // round-trips, scanning shingles twice — q240's fsck stage
    // measured 1.4 s / 15 jobs). Counts are BIT-IDENTICAL to the
    // originals (FsckSpec fault injection is the regression):
    //   orphans — shingle docs absent from text_hashes; the old
    //             distinct+left_anti counted a null shingle doc
    //             ALWAYS (null never joins), and the full-outer join
    //             reproduces that: null keys stay unmatched per side,
    //             so a shingle-side null row has _hrows null
    //   dup_docs — text_hashes docs with >1 md5 rows (null group
    //             behaves as in the old groupBy)
    //   shingle row total — Σ per-doc counts == the old raw count()
    val hasFreq = ShingleFreq.exists(spark, path)
    val docChecks = Shingles.read(spark, path)
      .groupBy(col("doc").as("doc_id")).agg(count(lit(1)).as("_srows"))
      .join(hashes.groupBy(col("doc_id")).agg(count(lit(1)).as("_hrows")),
        Seq("doc_id"), "full_outer")
      .agg(
        coalesce(sum(when(col("_srows").isNotNull && col("_hrows").isNull,
          lit(1L)).otherwise(lit(0L))), lit(0L)).as("c1"),
        coalesce(sum(when(col("_hrows") > 1, lit(1L)).otherwise(lit(0L))),
          lit(0L)).as("c2"),
        coalesce(sum(col("_srows")), lit(0L)).as("c3"))
      .select(lit("doc").as("chk"), col("c1"), col("c2"), col("c3"))
    val branches = Seq(Some(docChecks),
      graft.engine.Layout.tombstones(spark, path).map(
        _.agg(count(lit(1)).as("c1"))
          .select(lit("ts").as("chk"), col("c1"), lit(0L).as("c2"),
            lit(0L).as("c3"))),
      (if (hasFreq)
        Some(ShingleFreq.read(spark, path)
          .agg(coalesce(sum(col("freq")), lit(0L)).as("c1"))
          .select(lit("freq").as("chk"), col("c1"), lit(0L).as("c2"),
            lit(0L).as("c3")))
      else None)).flatten
    val rows = branches.reduce(_ unionByName _).collect()
      .map(r => r.getString(0) -> r).toMap
    val orphanShingles = rows("doc").getLong(1)
    val dupDocs = rows("doc").getLong(2)
    val tombstoned = rows.get("ts").map(_.getLong(1)).getOrElse(0L)
    val (freqOk, freqN, freqDetail) =
      if (!hasFreq)
        (true, 0L, "no freq relation (pre-round-12 index)")
      else if (tombstoned > 0)
        (true, 0L, s"stale by design under $tombstoned pending tombstones")
      else {
        val sumFreq = rows("freq").getLong(1)
        val nRows = rows("doc").getLong(3)
        (sumFreq == nRows, math.abs(sumFreq - nRows),
          s"freq segments sum to $sumFreq vs $nRows shingle rows")
      }
    val leftovers = graft.engine.IndexLifecycle.swapLeftovers(
      graft.engine.IndexLifecycle.Signature, spark, path)
    (layoutRow ++ Seq(
      ("doc_universe", orphanShingles == 0L, orphanShingles,
        "every shingle doc exists in text_hashes"),
      ("docs_unique", dupDocs == 0L, dupDocs, "one md5 row per doc"),
      ("freq_consistent", freqOk, freqN, freqDetail),
      ("no_swap_leftovers", leftovers.isEmpty, leftovers.size.toLong,
        if (leftovers.isEmpty) "no in-flight staged swap"
        else s"run healStagedReplace: ${leftovers.mkString(",")}"),
      ("tombstones_pending", true, tombstoned,
        "pending forget requests (anti-joined on read; purge folds them)")))
      .toDF("check_name", "ok", "n_violations", "detail")
      .orderBy(col("check_name"))
  }

  /** The unified forget verb across ALL index tiers a corpus may have
    * standing — one [[graft.engine.IndexLifecycle.forgetAndVerify]]
    * cycle per tier (signature, ANN = IVF-ADC, lexical BM25), one forget
    * request, one audited report row PER TIER:
    * `(tier, n_requested, masked_fraction, purged, pending_tombstones,
    * fsck_ok, failing_checks)`. A compliance run that forgot a document
    * from the signature and ANN tiers alone would silently leave its
    * tokens probe-visible in any BM25 index built over the same corpus
    * (the r13 verdict's first gap) — this verb makes "the corpus forgot
    * doc X" one call whose report names every index that still holds
    * state. Tiers are opt-in by path: pass the indexes that exist;
    * at least one is required (an empty call would report a forget
    * that touched nothing).
    */
  def forgetAndVerifyAll(spark: SparkSession, ids: DataFrame,
                         idColName: String,
                         signatureIndexPath: Option[String] = None,
                         annIndexPath: Option[String] = None,
                         bm25IndexPath: Option[String] = None,
                         purgeAboveMaskedFraction: Double = 0.25,
                         purgeAboveRows: Long = 100000L): DataFrame = {
    import graft.engine.IndexLifecycle
    val tiers = Seq(signatureIndexPath.map(IndexLifecycle.Signature -> _),
      annIndexPath.map(IndexLifecycle.IvfAdc -> _),
      bm25IndexPath.map(IndexLifecycle.Bm25 -> _)).flatten
    require(tiers.nonEmpty,
      "forgetAndVerifyAll: at least one index tier path is required — " +
        "a forget cycle over zero indexes audits nothing")
    // the tiers are INDEPENDENT cycles over disjoint index roots (each
    // report is a function of its own index + the shared request set
    // alone), so they overlap on driver threads (guide §2.6; r15 —
    // serially q249 was the #1 bench row at 11 s while most of each
    // cycle's jobs leave the cluster near-idle). Caches entries are
    // keyed by registering thread, Layout swap locks are per-path, and
    // each tier writes only under its own root.
    graft.engine.Orchestrate.parallel(tiers.map { case (tier, path) =>
        () => IndexLifecycle.forgetAndVerify(tier, spark, path, ids,
            idColName, purgeAboveMaskedFraction, purgeAboveRows)
          .withColumn("tier", lit(tier.name))
      })
      .reduce(_ unionByName _)
      .select(col("tier"), col("n_requested"), col("masked_fraction"),
        col("purged"), col("pending_tombstones"), col("fsck_ok"),
        col("failing_checks"))
      .orderBy(col("tier"))
  }

  /** [[appendManifest]] against a persisted signature index: the
    * standing corpus contributes its PRE-DERIVED shingle/md5/perceptual
    * signatures from [[buildSignatureIndex]]'s layout, so an append
    * tokenizes, hashes, and decodes only the BATCH — the re-derivation
    * the round-9 bench measured as the family's dominant cost (q196
    * precedent: probe 3.5× cheaper than inline). Verdicts are identical
    * to `appendManifest(corpus, batch)` whenever the index was built
    * from that corpus with the same parameters (law-tested; shingle
    * width validated against the index meta). `imageMedia`/`audioMedia`
    * here are the BATCH's payload tables (corpus media signatures live
    * in the index); defaults are the usual id-derived fixtures. Same
    * self-cleaning cache contract as [[appendManifest]].
    */
  def appendManifestIndexed(spark: SparkSession, indexPath: String,
                            batch: DataFrame, idCol: String, textCol: String,
                            shingleN: Int = 5, threshold: Double = 0.5,
                            maxDist: Int = 3,
                            maxChunkBucket: Long = graft.ops.GuardBounds.MaxChunkBucket,
                            hotShingleCap: Int = graft.ops.GuardBounds.HotShingleCap,
                            imageMedia: Option[DataFrame] = None,
                            audioMedia: Option[DataFrame] = None): DataFrame =
   graft.engine.Caches.scopedMaterialized("appendManifestIndexed.result") {
    val storedN = indexShingleN(spark, indexPath)
    require(storedN == shingleN,
      s"appendManifestIndexed: index at $indexPath was built with " +
        s"shingleN=$storedN, caller asked for $shingleN")
    val b = batch.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"))
    val newIds = b.select("doc_id")
    val hCorpus = liveSig(spark, indexPath, TextHashes)
    val hNew = b.select(col("doc_id"), md5(col("text")).as("h"))
    // The three modality edge families are INDEPENDENT subtrees (each a
    // function of its own signature relation + the shared batch), and
    // each family is consumed TWICE downstream — once in the union the
    // component walk canonicalizes, once by its modality flag. Derive
    // each family ONCE (eager batch-sized checkpoint) on overlapped
    // driver threads (r15 — serially the edge chains were
    // q162's dominant stages: text 5.3 s, image 3.7 s, audio 1.1 s
    // isolated at sf0.1, each leaving the cluster near-idle between its
    // small jobs). Thread safety is the forgetAndVerifyAll pattern:
    // Caches entries are thread-keyed, so each thread mark/releases its
    // OWN internals after its checkpoint materializes; the checkpoint
    // releases are re-registered on the calling thread so the enclosing
    // scopedMaterialized frees them once the result is materialized.
    def materializedEdges(build: => DataFrame) = () => {
      val m = graft.engine.Caches.mark()
      val (cp, release) = org.apache.spark.sql.GraftCheckpoint.withHandle(
        build, eager = true)
      graft.engine.Caches.releaseSince(m)
      (cp, release)
    }
    val textF = materializedEdges {
      val bShingles = Dedup.shingleSets(b, "doc_id", "text", shingleN)
      val sAll = graft.engine.Caches.persisted(
        "appendManifestIndexed.shingles",
        liveSig(spark, indexPath, Shingles).unionByName(bShingles))
      Clusters.appendTextEdgesFromSignatures(sAll,
        hCorpus.unionByName(hNew), hNew, threshold, hotShingleCap,
        indexFreqFor(spark, indexPath, bShingles),
        restrict = graft.engine.Layout.flatDirBytes(spark,
          Shingles.path(indexPath)) >
          graft.ops.GuardBounds.PrefixRestrictAboveBytes)
    }
    val imageF = materializedEdges {
      val bImg = Media.imageHashes(spark,
        imageMedia.getOrElse(Media.imageHashTable(spark, b, "doc_id"))).toDF()
      Media.hammingBandedPairsIncremental(
          liveSig(spark, indexPath, ImageHashes).unionByName(bImg),
          newIds, maxDist, maxChunkBucket, "appendManifestIndexed.image")
        .select(col("id_a").as("src"), col("id_b").as("dst"))
    }
    val audioF = materializedEdges {
      val bAud = Media.audioHashes(spark,
        audioMedia.getOrElse(Media.audioHashTable(spark, b, "doc_id"))).toDF()
      Media.hammingBandedPairsIncremental(
          liveSig(spark, indexPath, AudioHashes).unionByName(bAud),
          newIds, maxDist, maxChunkBucket, "appendManifestIndexed.audio")
        .select(col("id_a").as("src"), col("id_b").as("dst"))
    }
    val Seq((textEdges, tRel), (imageEdges, iRel), (audioEdges, aRel)) =
      graft.engine.Orchestrate.parallel(Seq(textF, imageF, audioF))
    graft.engine.Caches.trackRelease("appendManifestIndexed.textEdges")(tRel)
    graft.engine.Caches.trackRelease("appendManifestIndexed.imageEdges")(iRel)
    graft.engine.Caches.trackRelease("appendManifestIndexed.audioEdges")(aRel)
    withModalityFlags(
        Clusters.appendVerdicts(hCorpus.select("doc_id"), newIds,
          textEdges.union(imageEdges).union(audioEdges)),
        textEdges, imageEdges, audioEdges)
      .select(col("doc_id"), col("dup_of"), col("keep"),
        col("text_dup"), col("image_dup"), col("audio_dup"))
   }

  /** [[unifiedManifest]] over a persisted signature index covering the
    * WHOLE corpus: every edge family starts from the indexed signature
    * relations (shingle prefix self-join, md5 stars, banded chunk
    * joins), so the full-manifest rebuild pays the component walk and
    * the pair joins but never re-tokenizes or re-decodes the corpus.
    * Output identical to `unifiedManifest` over the indexed corpus
    * (law-tested); the doc universe is the index's own id set.
    */
  def unifiedManifestFromIndex(spark: SparkSession, indexPath: String,
                               pcts: Seq[(String, Int)],
                               threshold: Double = 0.5, maxDist: Int = 3,
                               maxChunkBucket: Long = graft.ops.GuardBounds.MaxChunkBucket,
                               hotShingleCap: Int = graft.ops.GuardBounds.HotShingleCap): DataFrame =
   graft.engine.Caches.scopedMaterialized("unifiedManifestFromIndex.result") {
    val ids = liveSig(spark, indexPath, TextHashes)
      .select(col("doc_id"))
    val (textEdges, imageEdges, audioEdges) = indexEdges(spark, indexPath,
      threshold, maxDist, maxChunkBucket, hotShingleCap)
    val comp = Clusters.connectedComponents(
      textEdges.union(imageEdges).union(audioEdges), "src", "dst")
    val assigned = ids
      .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
    withModalityFlags(Curation.splitAssign(assigned, "cluster_id", pcts),
        textEdges, imageEdges, audioEdges)
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("keep"), col("split"),
        col("text_dup"), col("image_dup"), col("audio_dup"))
   }

  /** The three modality edge families derived FROM the signature index
    * — one definition shared by [[unifiedManifestFromIndex]] (consumes
    * them inline) and [[buildEdgeIndex]] (persists them), so the two
    * paths cannot diverge on what counts as an edge.
    */
  private def indexEdges(spark: SparkSession, indexPath: String,
                         threshold: Double, maxDist: Int,
                         maxChunkBucket: Long,
                         hotShingleCap: Int): (DataFrame, DataFrame, DataFrame) = {
    val byHash = liveSig(spark, indexPath, TextHashes)
    val sAll = graft.engine.Caches.persisted("indexEdges.shingles",
      liveSig(spark, indexPath, Shingles))
    val jac = Dedup.jaccardPairsFromShingles(sAll, threshold, hotShingleCap)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val exact = byHash.select(col("doc_id").as("id"), col("h"))
      .withColumn("src", min(col("id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .filter(col("id") =!= col("src"))
      .select(col("src"), col("id").as("dst"))
    val imageEdges = Media.hammingBandedPairs(
        liveSig(spark, indexPath, ImageHashes), maxDist,
        maxChunkBucket, "indexEdges.image")
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val audioEdges = Media.hammingBandedPairs(
        liveSig(spark, indexPath, AudioHashes), maxDist,
        maxChunkBucket, "indexEdges.audio")
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    (jac.union(exact), imageEdges, audioEdges)
  }

  /** Persist the modality-tagged EDGE relation on top of a signature
    * index — the second build tier: signatures answer "what does each
    * doc look like", edges answer "who near-duplicates whom", and both
    * are deterministic corpus functions a production pipeline
    * materializes once per corpus version. After this,
    * [[manifestFromEdgeIndex]] pays only the component walk and the
    * manifest assembly per call. Edge rows: `(src, dst, modality)`.
    */
  def buildEdgeIndex(spark: SparkSession, indexPath: String,
                     threshold: Double = 0.5, maxDist: Int = 3,
                     maxChunkBucket: Long = graft.ops.GuardBounds.MaxChunkBucket,
                     hotShingleCap: Int = graft.ops.GuardBounds.HotShingleCap): Unit = {
    val m = graft.engine.Caches.mark()
    try {
      val (t, i, a) = indexEdges(spark, indexPath, threshold, maxDist,
        maxChunkBucket, hotShingleCap)
      Edges.write(t.withColumn("modality", lit("text"))
        .unionByName(i.withColumn("modality", lit("image")))
        .unionByName(a.withColumn("modality", lit("audio"))), indexPath,
        SaveMode.Overwrite)
    } finally graft.engine.Caches.releaseSince(m)
  }

  /** The manifest off persisted edges ([[buildEdgeIndex]]): read the
    * modality-tagged edge relation, walk components, assign splits,
    * derive flags — no signature derivation, no pair joins. Identical
    * output to [[unifiedManifest]] over the indexed corpus
    * (law-tested): flags come from the SAME edge rows via the shared
    * [[withModalityFlags]], and the component walk is the same
    * dispatch. The per-call cost a 100 TB pipeline actually pays when
    * it re-cuts splits or re-materializes the keep list from a
    * committed corpus version.
    */
  def manifestFromEdgeIndex(spark: SparkSession, indexPath: String,
                            pcts: Seq[(String, Int)]): DataFrame =
   graft.engine.Caches.scopedMaterialized("manifestFromEdgeIndex.result") {
    val ids = liveSig(spark, indexPath, TextHashes)
      .select(col("doc_id"))
    val edges = graft.engine.Caches.persisted("manifestFromEdgeIndex.edges",
      liveSig(spark, indexPath, Edges))
    def family(mod: String): DataFrame =
      edges.filter(col("modality") === mod).select(col("src"), col("dst"))
    val (textEdges, imageEdges, audioEdges) =
      (family("text"), family("image"), family("audio"))
    val comp = Clusters.connectedComponents(
      edges.select(col("src"), col("dst")), "src", "dst")
    val assigned = ids
      .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
    withModalityFlags(Curation.splitAssign(assigned, "cluster_id", pcts),
        textEdges, imageEdges, audioEdges)
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("keep"), col("split"),
        col("text_dup"), col("image_dup"), col("audio_dup"))
   }
}
