package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.IndexLifecycle
import graft.ops.{Clean, Guards, Ingest, Joins, Risk, Stats, Windows}
import graft.text.{Dedup, TextStats}
import graft.text.Curation.FixedBpeMerges
import graft.vector.Similarity
import graft.Fixtures._

/** Registry shard: Similarity search, ANN index tiers, market econometrics, sketches, deletion family.
  *
  * Split VERBATIM from SparkEntry's single 3,200-line map (round 13,
  * the OraclesA/B/C precedent): entries and their comments are
  * unchanged; [[SparkEntry.queries]] concatenates the four shards and
  * asserts key-disjointness, so the driver contract (keys, closures,
  * oracle pairing) is byte-identical to the pre-split registry.
  * 129 entries (q248–q251: lexical/unified forget cycles + drift-rebuild, r14).
  */
private[graft] object RegistryC {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── Similarity search (north star) ──────────────────────────────────
    "q40_cosine_topk" -> ((s, dir) => {
      Similarity.cosineTopK(t(s, dir, "embeddings"), "vec_id", "embedding", 0L, 10)
    }),

    "q41_ivf_topk" -> ((s, dir) => {
      // IVF probe search; shares q40's exact oracle — on this corpus the
      // probe's recall is total, so the gate asserts pruning loses nothing
      Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding", 0L, 10)
    }),

    "q81_ivf_probe" -> ((s, dir) => {
      // the production ANN shape: index built ONCE (cluster-partitioned
      // persisted assignments), probe partition-prunes to nProbe cluster
      // dirs — same oracle as q40/q41, pruning must lose nothing here
      Similarity.ivfProbeById(s, ivfIndexFor(s, dir),
        t(s, dir, "embeddings"), "vec_id", "embedding", 0L, 10)
    }),

    "q82_vwap" -> ((s, dir) => {
      // volume-weighted average price per (instrument, day): quantity
      // from the props JSON, exact decimal Σpq/Σq, NULL on zero volume
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
        .withColumn("day", to_date(col("ts")))
        .withColumn("qty", get_json_object(col("props"), "$.k").cast("long"))
        .filter(col("qty").isNotNull)
      Stats.vwap(ev, Seq("event_type", "day"), col("value"), col("qty"))
        .orderBy("event_type", "day")
    }),

    "q83_rolling_volatility" -> ((s, dir) => {
      // trailing-20-tick rolling mean/stddev per instrument from exact
      // decimal power sums over the frame (order-independent — the
      // window twin of q49's moment computation)
      Stats.rollingStats(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", Seq(col("ts"), col("event_id")), col("value"), 20)
        .select(col("event_id"), col("event_type"), col("roll_n"),
          col("roll_mean"), col("roll_std"))
        .orderBy("event_id")
    }),

    "q84_max_drawdown" -> ((s, dir) => {
      // largest peak-to-trough decline per instrument: expanding-max
      // running peak, exact decimals end to end, one shuffle
      Stats.maxDrawdown(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", Seq(col("ts"), col("event_id")), col("value"))
        .orderBy("event_type")
    }),

    "q85_dup_shingles" -> ((s, dir) => {
      // cross-doc duplicated 5-gram fraction per doc (Lee et al. span-
      // duplication signal): inverted-index shape, no pair space
      text.Dedup.dupShingleFraction(t(s, dir, "documents"), "doc_id", "text", 5)
        .orderBy("doc_id")
    }),

    "q86_quantize_embeddings" -> ((s, dir) => {
      // int8 storage-compression audit: per-vector scale, dot-identity
      // MSE, worst per-element error — exact floor arithmetic, map-only
      Similarity.quantizeAudit(t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("vec_id")
    }),

    "q90_label_prop" -> ((s, dir) => {
      // semi-supervised label spreading: 10% of vectors seed their true
      // label, 3 synchronous iterations over the k-NN graph; integer
      // counts + smallest-label tiebreak → fully deterministic
      val edges = Similarity.readKnnGraph(s, knnGraphFor(s, dir))
        .select("src", "dst")
      val seeds = t(s, dir, "embeddings")
        .filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"), col("label"))
      text.Clusters.labelPropagation(edges, "src", "dst",
          seeds, "vec_id", "label", 3)
        .select(col("node").as("vec_id"), col("label").as("pred_label"))
        .orderBy("vec_id")
    }),

    "q91_twap" -> ((s, dir) => {
      // time-weighted average price per (instrument, day): each tick
      // weighted by microseconds until the next tick; exact decimals
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
        .withColumn("day", to_date(col("ts")))
      Stats.twap(ev, Seq("event_type", "day"), col("ts"), col("event_id"),
          col("value"))
        .orderBy("event_type", "day")
    }),

    "q92_change_capture" -> ((s, dir) => {
      // CDC diff between two REAL committed snapshot versions (the memo
      // commits v1/v2 once per JVM): Snapshots.changeFeed = one
      // full-outer join on the key over the two version scans, null-safe
      // struct compare — Delta CDF's table_changes surface. The oracle
      // diffs the same two states straight off the source table, so a
      // hash match also proves the version store loses nothing.
      engine.Snapshots.changeFeed(s, cdcTableFor(s, dir), 1L, 2L,
          Seq("c_custkey"))
        .orderBy("c_custkey")
    }),

    "q93_bloom_decontaminate" -> ((s, dir) => {
      // q65's exact decontamination behind a Bloom pre-filter: the eval
      // shingle sketch (one distributed aggregate, ~MiB) prunes the
      // corpus shingle stream map-side BEFORE any join; the exact join
      // then erases false positives, so the result is bit-identical
      text.Curation.contaminationBloom(t(s, dir, "documents"), "doc_id",
          "text", col("source") === "src0", 5)
        .orderBy("doc_id")
    }),

    "q94_rsi" -> ((s, dir) => {
      // 14-tick relative strength index per instrument: exact decimal
      // gain/loss frame sums (order-independent), double only at present
      Stats.rsi(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", Seq(col("ts"), col("event_id")), col("value"), 14)
        .select(col("event_id"), col("event_type"), col("n_deltas"), col("rsi"))
        .orderBy("event_id")
    }),

    "q95_fuzzy_match" -> ((s, dir) => {
      // Blocked entity resolution, the scale-correct way: collapse the n
      // records to DISTINCT names first (min-id representative + record
      // count — one shuffle, output bounded by the name VOCABULARY), then
      // fuzzy-match the distinct names and carry multiplicities. Measured
      // on this testdata: the old record-level first-token key had 8
      // blocks at EVERY sf (Σblock² = 501,570 pairs at sf0.01 →
      // 50,015,406 at sf0.1 — O(n²/8), 19.2 s), while distinct names
      // number 64 at both sfs, so the match cost here is O(V²/B) —
      // independent of record count. Blocker = last token (the noun):
      // close variants differ in the ADJECTIVE ("cold anvil" ~
      // "old anvil", d=1), which first-token blocking misses entirely.
      val names = t(s, dir, "part")
        .groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("rep_id"), count(lit(1)).as("n_recs"))
      val cnt = names.select(col("p_name").as("nm"), col("n_recs"))
      Joins.fuzzyPairs(names, "rep_id", "p_name",
          element_at(split(col("p_name"), " "), -1), 2)
        .join(broadcast(cnt), col("a_name") === col("nm"))
        .withColumnRenamed("n_recs", "a_recs").drop("nm")
        .join(broadcast(cnt), col("b_name") === col("nm"))
        .withColumnRenamed("n_recs", "b_recs").drop("nm")
        .select(col("a_id"), col("b_id"), col("a_name"), col("b_name"),
          col("edit_dist"), col("a_recs"), col("b_recs"))
        .orderBy("a_id", "b_id")
    }),

    "q96_hash_sample" -> ((s, dir) => {
      // reproducible per-source 5-doc sample: smallest multiplicative
      // id-hash wins — stable under reruns/repartitioning, unlike rand()
      text.Curation.hashSample(t(s, dir, "documents"), "source", "doc_id", 5)
        .select("source", "doc_id", "sample_rank")
        .orderBy("source", "sample_rank")
    }),

    "q97_ewma" -> ((s, dir) => {
      // exponentially weighted moving average per instrument: bounded
      // 20-tick frame folded oldest→newest in fixed order (deterministic
      // doubles), the smoothing twin of q83's rolling moments
      Stats.ewma(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", Seq(col("ts"), col("event_id")), col("value"),
          alpha = 0.25, window = 20)
        .select(col("event_id"), col("event_type"), col("ewma"))
        .orderBy("event_id")
    }),

    "q98_beta" -> ((s, dir) => {
      // per-instrument beta vs the hourly cross-instrument market mean:
      // q54's exact power-sum discipline over a joined two-series frame
      Stats.betaVsMarket(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", date_trunc("hour", col("ts")), col("value"))
        .orderBy("event_type")
    }),

    "q99_up_streaks" -> ((s, dir) => {
      // longest strictly-rising tick run per instrument: gaps-and-islands
      // via cumulative non-up count as the island id, exact decimal deltas
      Windows.longestUpStreak(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", Seq(col("ts"), col("event_id")), col("value"))
        .orderBy("event_type")
    }),

    "q101_split_assign" -> ((s, dir) => {
      // deterministic train/val/test assignment: multiplicative id-hash
      // bucket, map-only (fuses into the scan — no shuffle at any scale);
      // per-source proportions are statistically exact because the hash
      // is independent of source
      text.Curation.splitAssign(t(s, dir, "documents"), "doc_id",
          Seq(("train", 80), ("val", 10), ("test", 10)))
        .select("doc_id", "source", "split")
        .orderBy("doc_id")
    }),

    "q102_heavy_hitters" -> ((s, dir) => {
      // exact bigram heavy hitters via the two-pass Count-Min scheme:
      // sketch pass → codegen'd CmsEstimate candidate filter map-side →
      // exact count of survivors. CMS never under-counts, so candidates
      // ⊇ true heavy hitters and the final HAVING is exact — the shuffle
      // carries candidates, not the full vocabulary
      val docs = t(s, dir, "documents")
        .filter(size(text.TextStats.tokens(col("text"))) >= 2)
      text.TextStats.heavyHitters(docs,
          text.Dedup.shingles(lower(col("text")), 2), minCount = 30L)
        .select(col("token").as("bigram"), col("freq"))
        .orderBy("bigram")
    }),

    "q103_epoch_shuffle" -> ((s, dir) => {
      // reproducible epoch-3 permutation as a (shard, shard_pos) layout:
      // per-shard sorts, never a single-partition global window — the
      // epoch order a training job actually reads off disk
      text.Curation.epochShuffle(t(s, dir, "documents"), "doc_id",
          epoch = 3, shards = 8)
        .select("doc_id", "shard", "shard_pos")
        .orderBy("doc_id")
    }),

    "q104_length_quantiles" -> ((s, dir) => {
      // per-source token-count distribution audit: EXACT p50/p90/p99 —
      // exact percentile state is bounded by DISTINCT lengths, not rows,
      // so it stays cheap at any corpus size; one hash aggregation
      text.TextStats.lengthQuantiles(t(s, dir, "documents"), "source", "text")
        .orderBy("source")
    }),

    "q105_incremental_agg" -> ((s, dir) => {
      // materialized-view maintenance: the per-type rollup of the AFTER
      // state computed as base-aggregate + signed CDC delta (inserts at
      // event_id%10=3, value-doubling updates at %10=7) — never a rescan
      // of the after table. The oracle aggregates the after state
      // directly, so a hash match proves the delta algebra is exact.
      // All arithmetic is exact decimal; only the FINAL projection casts
      // to double (the result-surface convention every query follows —
      // a raw wide decimal in the dump compares rep-sensitively).
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"),
          col("value").cast("decimal(18,6)").as("value"))
      val before = ev.filter(pmod(col("event_id"), lit(10)) =!= 3)
      val after = ev.withColumn("value",
        when(pmod(col("event_id"), lit(10)) === 7, col("value") * 2)
          .otherwise(col("value")).cast("decimal(18,6)"))
      val feed = engine.Upsert.changeCaptureCdf(before, after, Seq("event_id"))
      val base = engine.Incremental.groupAgg(before, Seq("event_type"),
        Seq("total" -> col("value")))
      val delta = engine.Incremental.aggDelta(feed, Seq("event_type"),
        Seq("total" -> col("value")))
      engine.Incremental.applyDelta(base, delta, Seq("event_type"), Seq("total"))
        .select(col("event_type"), col("n"),
          col("total").cast("double").as("total"))
        .orderBy("event_type")
    }),

    "q106_corr_matrix" -> ((s, dir) => {
      // pairwise instrument correlation over hourly-aligned means: raw
      // ticks reduce to the bucket-mean frame once; the k(k-1)/2 pair
      // expansion broadcast-joins that aggregate-sized frame only
      Stats.corrMatrix(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", date_trunc("hour", col("ts")), col("value"))
        .orderBy("key_a", "key_b")
    }),

    "q107_skew_report" -> ((s, dir) => {
      // pre-join skew diagnostic: hottest user_ids with share and
      // imbalance factor (count / fair-share) — hot keys come off the
      // count table via TakeOrderedAndProject, never a global sort
      Joins.skewReport(t(s, dir, "events"), Seq("user_id"), topK = 20)
        .select("user_id", "cnt", "rank", "share", "imbalance")
        .orderBy("rank")
    }),

    "q108_underwater_spell" -> ((s, dir) => {
      // drawdown DURATION per instrument (q84 measures depth): longest
      // run of ticks strictly below the running peak — gaps-and-islands,
      // all-exact arithmetic, one hash Exchange end-to-end
      Windows.longestUnderwaterSpell(
          t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", Seq(col("ts"), col("event_id")), col("value"))
        .orderBy("event_type")
    }),

    "q109_dedup_rate" -> ((s, dir) => {
      // curation dashboard: per-source duplicate share from the
      // transitive cluster assignment (q63's machinery aggregated) —
      // the number that tells you which ingest source is polluting the
      // corpus. dup_share is an unrounded quotient of exact integers
      // (bit-deterministic across engines). Reads the MATERIALIZED
      // cluster table (built once per JVM) — the dashboard never
      // re-runs the jaccard+CC build it reports on
      val docs = t(s, dir, "documents")
      val clusters = s.read.parquet(clustersFor(s, dir))
      docs.select(col("doc_id").cast("long").as("doc_id"), col("source"))
        .join(clusters, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_canonical"), 1L).otherwise(0L)).as("n_canonical"))
        .withColumn("dup_share",
          (col("n_docs") - col("n_canonical")).cast("double") / col("n_docs"))
        .orderBy("source")
    }),

    "q110_split_leakage" -> ((s, dir) => {
      // eval-hygiene audit: near-dup pairs that STRADDLE the
      // train/val/test boundary — each row is a leak where eval content
      // has a training near-duplicate (the contamination q65 catches
      // for external benchmarks, applied to the split itself)
      val docs = t(s, dir, "documents")
      val pairs = text.Dedup.jaccardPairs(docs, "doc_id", "text", 5, 0.5)
        .select(col("doc_a"), col("doc_b"))
      val sp = text.Curation.splitAssign(docs, "doc_id",
          Seq(("train", 80), ("val", 10), ("test", 10)))
        .select(col("doc_id").cast("long").as("doc_id"), col("split"))
      pairs
        .join(sp.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
          "doc_a")
        .join(sp.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
          "doc_b")
        .filter(col("split_a") =!= col("split_b"))
        .select("doc_a", "doc_b", "split_a", "split_b")
        .orderBy("doc_a", "doc_b")
    }),

    "q111_token_budget" -> ((s, dir) => {
      // the number every training run starts from: whitespace and
      // BPE-ish token totals per split — splitAssign (map-only) feeding
      // one aggregation, with docs-per-split for sanity
      val docs = text.Curation.splitAssign(t(s, dir, "documents"),
        "doc_id", Seq(("train", 80), ("val", 10), ("test", 10)))
      docs.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(text.TextStats.tokenCount(col("text")).cast("long"))
            .as("ws_tokens"),
          sum(text.TextStats.bpeTokenCount(col("text")).cast("long"))
            .as("bpe_tokens"))
        .orderBy("split")
    }),

    "q112_volume_concentration" -> ((s, dir) => {
      // daily volume concentration across instruments (Herfindahl
      // index): exact integer power sums, ONE final bit-deterministic
      // division — flags the days one instrument dominated the tape
      val ev = t(s, dir, "events")
        .withColumn("qty", get_json_object(col("props"), "$.k").cast("long"))
        .filter(col("qty").isNotNull)
        .withColumn("day", to_date(col("ts")))
      Stats.concentration(ev, Seq("day"), "event_type", col("qty"))
        .orderBy("day")
    }),

    "q113_bollinger" -> ((s, dir) => {
      // 20-tick Bollinger envelope + %B per instrument: derived map-side
      // from q83's exact rolling moments — same single shuffle, bands on
      // the rounded presentation values so both engines agree bit-for-bit
      Stats.bollinger(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", Seq(col("ts"), col("event_id")), col("value"),
          window = 20, k = 2.0)
        .select(col("event_id"), col("event_type"), col("bb_mid"),
          col("bb_upper"), col("bb_lower"), col("pct_b"))
        .orderBy("event_id")
    }),

    "q114_sharpe" -> ((s, dir) => {
      // per-instrument Sharpe over tick returns: returns fixed as rounded
      // decimals once (one map-side division), then exact power sums —
      // one window shuffle, aggregation clusters on the same key
      Stats.sharpe(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", Seq(col("ts"), col("event_id")), col("value"))
        .orderBy("event_type")
    }),

    "q115_return_autocorr" -> ((s, dir) => {
      // lag-1 autocorrelation of tick returns (momentum vs reversion):
      // q54's power-sum Pearson over (r_t, r_{t-1}) pairs; both window
      // passes and the aggregation ride one partition-by-key shuffle
      Stats.returnAutocorr(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", Seq(col("ts"), col("event_id")), col("value"))
        .orderBy("event_type")
    }),

    "q116_canonical_docs" -> ((s, dir) => {
      // dedup with a brain: q63's transitive clusters, but the kept doc
      // is the argmax-token-count member (min id on ties) — the drop
      // list IS the dedup delete set a curation pipeline applies.
      // Reads the MATERIALIZED cluster assignment (clustersFor — built
      // once per corpus, shared with q109): the CC walk runs once, and
      // this consumer is a key-join + two windows on one shuffle
      text.Clusters.canonicalFromClusters(t(s, dir, "documents"), "doc_id",
          s.read.parquet(clustersFor(s, dir)),
          size(text.TextStats.tokens(col("text"))).cast("long"))
        .orderBy("doc_id")
    }),

    "q117_inverted_index" -> ((s, dir) => {
      // corpus search structure: per-token document frequency + ordered
      // posting list, postings capped PRE-aggregation (row_number over
      // the token partition) so a stop-word's list can't OOM a buffer;
      // df still counts every doc and `truncated` marks capped tokens
      // result-surface convention: the driver comparer hashes scalar
      // columns only, so the posting list ships serialized (CSV) — same
      // information, hashable surface (oracle mirrors via array_to_string)
      text.TextStats.invertedIndex(t(s, dir, "documents"), "doc_id",
          "text", minDf = 10, maxPostings = 20)
        .withColumn("postings",
          array_join(col("postings").cast("array<string>"), ","))
        .orderBy("token")
    }),

    "q118_semantic_dedup" -> ((s, dir) => {
      // SemDeDup: stride centroids → broadcast argmax assignment →
      // within-cluster-only cosine pairs (Σ cluster², never n²) →
      // drop every doc with a smaller-id near-dup in its cluster
      Similarity.semanticDedup(t(s, dir, "embeddings"), "vec_id",
          "embedding", nCentroids = 8, threshold = 0.4)
        .orderBy("vec_id")
    }),

    "q119_winsorized_stats" -> ((s, dir) => {
      // outlier-robust per-instrument mean: clip at the key's own exact
      // [p05, p95] percentiles (cut points fixed as rounded decimals so
      // the clip compares exactly), winsorized sum stays an exact
      // decimal — the quality-pipeline answer to fat-fingered ticks
      Stats.winsorizedStats(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", col("value"), pLo = 0.05, pHi = 0.95,
          // the scale degrade is WIRED (cuts fall back to the bottom-k
          // quantile-sketch sample past the distinct-count guard); at
          // gate scale the guard stays under, so the exact-percentile
          // oracle applies unchanged — the contamination fallback shape
          idCol = Some("event_id"))
        .orderBy("event_type")
    }),

    "q120_temperature_mixture" -> ((s, dir) => {
      // α-sampling weights per source (pₛ^α, α=0.5): the multilingual
      // mixture rule — token totals exact, pow() output fixed as a
      // rounded decimal BEFORE the normalizing sum so the denominator
      // is order-independent; rate feeds mixtureSample's weight map
      text.Curation.temperatureWeights(t(s, dir, "documents"),
          "source", "text", alpha = 0.5)
        .orderBy("source")
    }),

    "q121_realized_variance" -> ((s, dir) => {
      // daily realized variance/vol per instrument: Σr² over the day's
      // tick returns (overnight return counts toward the later day) —
      // exact decimal power sums, sqrt only at presentation
      Stats.realizedVariance(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", Seq(col("ts"), col("event_id")), col("value"),
          to_date(col("ts")))
        .orderBy("event_type", "bucket")
    }),

    "q122_cross_source_dups" -> ((s, dir) => {
      // provenance matrix: near-dup pair counts by unordered source
      // pair — which feeds mirror each other (q109's per-source rate,
      // resolved to the source×source cell level)
      text.Dedup.crossSourceDupMatrix(t(s, dir, "documents"), "doc_id",
          "text", "source", n = 5, threshold = 0.5)
        .orderBy("source_a", "source_b")
    }),

    "q124_audio_features" -> ((s, dir) => {
      // REAL audio decode, oracle-gated end-to-end (the q43 move for
      // sound): one WAV per doc_id is encoded executor-side — 1+id%256
      // samples of a seeded ramp — and extractAudioFeatures reads the
      // true sample count AND the PCM RMS back out via
      // javax.sound.sampled; both are SQL-expressible from the ids, so
      // the hash gate proves the decode (not just the header) is real
      import graft.multimodal.Media
      val media = Media.audioTable(s, t(s, dir, "documents"), "doc_id")
      Media.extractAudioFeatures(s, media).toDF()
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_samples"), col("rms"), col("decoded"))
        .orderBy("media_id")
    }),

    "q141_video_features" -> ((s, dir) => {
      // REAL RIFF/AVI container parse, oracle-gated end-to-end (the
      // q43/q124 move for video): one minimal-but-conforming AVI per
      // doc_id with id-derived geometry; the chunk walk reads the true
      // avih fields back out, and every field is SQL-expressible from
      // the ids, so the hash gate proves the container parse is real
      import graft.multimodal.Media
      val media = Media.videoTable(s, t(s, dir, "documents"), "doc_id")
      Media.extractVideoFeatures(s, media).toDF()
        .select(col("media_id"), col("n_bytes"), col("width"),
          col("height"), col("n_frames"), col("duration_ms"),
          col("decoded"))
        .orderBy("media_id")
    }),

    "q142_video_frames" -> ((s, dir) => {
      // REAL frame PIXEL decode, oracle-gated: BI_RGB AVIs with
      // id-derived frame colors; the decoder walks actual bottom-up
      // padded BGR rows (first stored pixel inverted — a header-only or
      // solid-color shortcut gets different sums), and every channel
      // sum is SQL-expressible from the ids
      import graft.multimodal.Media
      val media = Media.videoFrameTable(s, t(s, dir, "documents"), "doc_id")
      Media.extractVideoFrameFeatures(s, media).toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("n_frames"), col("r_sum"), col("g_sum"), col("b_sum"),
          col("decoded"))
        .orderBy("media_id")
    }),

    "q152_phash_pairs" -> ((s, dir) => {
      // perceptual image dedup, exact twin: aHash the bit-grid PNG
      // fixture (hash == id by construction, across three scales — so
      // the oracle is popcount(xor) arithmetic and the gate proves the
      // decode → 8×8 block-average → threshold pipeline end to end)
      import graft.multimodal.Media
      Media.phashExactPairs(s,
          Media.imageHashTable(s, t(s, dir, "documents"), "doc_id"))
        .orderBy("id_a", "id_b")
    }),

    "q153_phash_banded" -> ((s, dir) => {
      // the 100 TB path: 4×16-bit chunk blocking — pigeonhole-total for
      // hamming <= 3 (a PROVABLE law, so unlike q39's LSH premise the
      // exact oracle applies on every corpus, no oracleMeasuredOn tie)
      import graft.multimodal.Media
      Media.phashBandedPairs(s,
          Media.imageHashTable(s, t(s, dir, "documents"), "doc_id"))
        .orderBy("id_a", "id_b")
    }),

    "q194_span_burden_by_source" -> ((s, dir) => {
      // provenance of span duplication: per source, the token mass the
      // exact-substring dedup (q189) would strip — the crawl-operator
      // view that says WHICH feed ships boilerplate (the q109 dedup-
      // rate question at span granularity). removed_fraction is an
      // unrounded exact-integer quotient (q107 discipline).
      val docs = t(s, dir, "documents")
      Dedup.stripDupSpans(docs, "doc_id", "text", 5)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_removed")).as("removed_tokens"))
        .withColumn("removed_fraction",
          col("removed_tokens").cast("double") / col("total_tokens"))
        .orderBy("source")
    }),

    "q193_decontaminate_spans" -> ((s, dir) => {
      // SURGICAL decontamination: q65 flags whole docs that share any
      // 5-gram with the src0 "benchmark" slice; this reports the exact
      // token spans to excise (stripSpans applies them) — quote-level
      // precision instead of document drops
      Dedup.contaminationSpans(t(s, dir, "documents"), "doc_id", "text",
          col("source") === "src0", 5)
        .orderBy("doc_id", "span_start")
    }),

    "q192_append_dup_spans" -> ((s, dir) => {
      // append-time exact-span dedup: spans in the arriving src0 batch
      // against the standing corpus + itself — batch-proportional
      // marking join over the one linear gram index; identical rows to
      // the symmetric q188 filtered to batch docs (law-proven), which
      // is exactly what the oracle computes
      val docs = t(s, dir, "documents")
      Dedup.incrementalDupSpans(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", 5)
        .orderBy("doc_id", "span_start")
    }),

    "q188_dup_spans" -> ((s, dir) => {
      // exact duplicated-SPAN detection (Lee et al. ACL'22 ExactSubstr,
      // positional-n-gram formulation): every non-first occurrence of a
      // 5-token window marks its range; islands merge per doc. One
      // shuffle by shingle + one window by doc — no pair space.
      Dedup.dupSpans(t(s, dir, "documents"), "doc_id", "text", 5)
        .orderBy("doc_id", "span_start")
    }),

    "q195_top_dup_spans" -> ((s, dir) => {
      // boilerplate extraction: the distinct duplicated-span STRINGS
      // ranked by token burden — what exactly is being re-ingested
      // (license headers, chrome, quotes), before deciding to strip
      Dedup.topDupSpans(t(s, dir, "documents"), "doc_id", "text", 5, 20)
    }),

    "q198_hashed_tfidf" -> ((s, dir) => {
      // hashing-trick TF-IDF (Weinberger et al. 2009): model-free
      // document vectors in sparse (doc, bucket, weight) form —
      // deterministic md5 buckets, exact-decimal collision sums,
      // 12-dp-fixed smoothed idf
      TextStats.hashedTfidf(t(s, dir, "documents"), "doc_id", "text", 64)
        .filter(col("doc_id") < 10)
        .orderBy("doc_id", "bucket")
    }),

    "q200_text_semantic_dedup" -> ((s, dir) => {
      // model-free semantic near-dup, end to end: hashed TF-IDF
      // embeddings feed the exact cosine pair baseline — textual
      // near-dup PAIRS with no trained model anywhere in the loop
      // (the scale path swaps in embedNearDupLsh/semanticDedup over
      // the same embed step)
      Similarity.embedNearDup(
        TextStats.hashedTfidfEmbed(t(s, dir, "documents"),
          "doc_id", "text", 64),
        "doc_id", "embedding", 0.95)
        .orderBy("id_a", "id_b")
    }),

    "q199_text_ann" -> ((s, dir) => {
      // text→vector bridge, end to end: hash-embed every document
      // (dense assembly over q198's sparse rows) and rank doc 0's
      // nearest neighbours by cosine — similarity search over raw text
      // with NO trained model in the loop
      val emb = TextStats.hashedTfidfEmbed(
        t(s, dir, "documents"), "doc_id", "text", 64)
        .filter(Similarity.dot(col("embedding"), col("embedding")) > 0)
      Similarity.cosineTopK(emb, "doc_id", "embedding", 0L, 10)
    }),

    "q189_strip_dup_spans" -> ((s, dir) => {
      // exact-substring dedup applied: strip the q188 spans (first
      // occurrence kept corpus-wide), emit surviving text + counts
      Dedup.stripDupSpans(t(s, dir, "documents"), "doc_id", "text", 5)
        .orderBy("doc_id")
    }),

    "q186_guard_report" -> ((s, dir) => {
      // pre-flight guard headroom: every refusal guard's measured load
      // on this corpus in one table (the q107 discipline applied to the
      // guard family) — read BEFORE shipping a 100 TB job. The oracle
      // recomputes each linear pre-pass, with the perceptual-hash
      // chunk distribution replayed through the fixture's spread-bits
      // law in straight-line SQL.
      Guards.guardReport(s, t(s, dir, "documents"), t(s, dir, "embeddings"),
        t(s, dir, "events"), t(s, dir, "part"))
    }),

    "q185_dedup_funnel" -> ((s, dir) => {
      // the curation survivorship report: docs/tokens remaining under
      // the CUMULATIVE intersection of the three dedup stages (exact
      // hash keep → near-dup canonical keep → SemDeDup keep, each
      // computed corpus-wide as its own gate already proves) — ONE
      // corpus pass of conditional sums, stacked to stage rows; the
      // oracle splices all three component oracles (embeddings align
      // with documents by id in this corpus)
      val docs = t(s, dir, "documents")
      val base = docs.select(col("doc_id"),
        size(text.TextStats.tokens(col("text"))).cast("long").as("_nt"))
      val exactKeep = text.Dedup.exactGroups(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"), lit(1).as("_ex"))
      val nearKeep = text.Clusters.canonicalFromClusters(docs, "doc_id",
          s.read.parquet(clustersFor(s, dir)),
          size(text.TextStats.tokens(col("text"))).cast("long"))
        .filter(col("keep"))
        .select(col("doc_id"), lit(1).as("_nd"))
      val semKeep = Similarity.semanticDedup(t(s, dir, "embeddings"),
          "vec_id", "embedding", nCentroids = 8, threshold = 0.4)
        .filter(col("keep"))
        .select(col("vec_id").as("doc_id"), lit(1).as("_sm"))
      val f = base.join(exactKeep, Seq("doc_id"), "left")
        .join(nearKeep, Seq("doc_id"), "left")
        .join(semKeep, Seq("doc_id"), "left")
      val ex = col("_ex").isNotNull
      val nd = ex && col("_nd").isNotNull
      val sm = nd && col("_sm").isNotNull
      def cnt(p: org.apache.spark.sql.Column) =
        sum(when(p, 1L).otherwise(0L))
      def tok(p: org.apache.spark.sql.Column) =
        coalesce(sum(when(p, col("_nt"))), lit(0L))
      f.agg(count(lit(1)).as("d0"), coalesce(sum(col("_nt")), lit(0L)).as("t0"),
          cnt(ex).as("d1"), tok(ex).as("t1"),
          cnt(nd).as("d2"), tok(nd).as("t2"),
          cnt(sm).as("d3"), tok(sm).as("t3"))
        .select(expr("stack(4, '0_all', d0, t0, '1_exact', d1, t1, " +
          "'2_near_dup', d2, t2, '3_semantic', d3, t3) " +
          "AS (stage, docs_kept, tokens_kept)"))
        .orderBy("stage")
    }),

    "q184_weighted_sample" -> ((s, dir) => {
      // length-weighted corpus sample (Efraimidis–Spirakis exponential
      // keys on the reproducible id-hash): top-100 by ln(u)/w,
      // TakeOrdered — never a global sort
      text.Curation.weightedSample(t(s, dir, "documents"), "doc_id",
        col("n_chars"), 100)
    }),

    "q183_interval_union" -> ((s, dir) => {
      // gaps-and-islands interval merge: each tick opens a window of
      // `value` seconds; overlapping/touching windows coalesce per
      // (instrument, day) — exact long microseconds end to end
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
        .withColumn("day", to_date(col("ts")))
        .withColumn("_su", unix_micros(col("ts")))
        .withColumn("_eu", col("_su") +
          (col("value").cast(DecimalType(18, 6)) * 1000000).cast("long"))
      Windows.mergeIntervals(ev, Seq("event_type", "day"),
          col("_su"), col("_eu"), col("event_id"))
        .orderBy("event_type", "day")
    }),

    "q182_asof_forward" -> ((s, dir) => {
      // q22's as-of completed to the merge_asof surface: FORWARD
      // direction with a 1-hour tolerance — for each purchase the next
      // click within the hour, same one-shuffle union-window shape
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id", "value")
      Joins.asOfJoin(purchases, clicks, Seq("user_id"), "ts", "ts",
          Seq(("value", "next_click_value")),
          leftTiebreak = Some("event_id"), rightTiebreak = Some("event_id"),
          direction = "forward", tolerance = Some(3600.0))
        .select("event_id", "user_id", "value", "next_click_value")
        .orderBy("event_id")
    }),

    "q180_unpivot" -> ((s, dir) => {
      // wide→long melt (the inverse of q27's pivot): four lineitem
      // measures unpivot into (measure, value) rows — a map-only
      // Expand, no shuffle before the aggregate
      t(s, dir, "lineitem")
        .unpivot(Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "value")
        .groupBy("measure")
        .agg(count(col("value")).as("n"),
          round(sum(col("value").cast(DecimalType(18, 6))).cast("double"), 6)
            .as("total"))
        .orderBy("measure")
    }),

    "q181_null_semantics" -> ((s, dir) => {
      // null-handling semantics pinned: null-safe equality (<=>) vs
      // plain = over adjacent tick pairs — the three-valued-logic
      // corner every SQL engine must agree on
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("_pv", lag(col("value"), 1).over(w))
        .withColumn("_has", lag(lit(1), 1).over(w))
        .filter(col("_has").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("value") <=> col("_pv"), 1L).otherwise(0L))
            .as("n_nullsafe_eq"),
          sum(when(col("value") === col("_pv"), 1L).otherwise(0L))
            .as("n_plain_eq"),
          sum(when(col("value").isNull && col("_pv").isNull, 1L)
            .otherwise(0L)).as("n_both_null"))
        .orderBy("event_type")
    }),

    "q179_langid_accuracy" -> ((s, dir) => {
      // curation QA meta-gate: confusion matrix of the n-gram language
      // identifier (q34) against the corpus's ground-truth lang column
      // — the accuracy a pipeline operator reads before trusting
      // lang-routed filtering; oracle splices q34's own SQL. On this
      // corpus the matrix shows the labels are DECORRELATED from the
      // (English-function-word) text — every lang row predicts en or
      // unknown — which is the verdict this gate exists to surface:
      // don't route on these labels
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"), col("lang").as("true_lang"))
        .join(text.TextStats.langIdNgram(docs, "text")
          .select(col("doc_id"), col("pred_lang")), Seq("doc_id"))
        .groupBy("true_lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("true_lang", "pred_lang")
    }),

    "q178_gopher_rules" -> ((s, dir) => {
      // the standard named-threshold quality gate (Gopher rule family):
      // per-doc verdicts in exact integer arithmetic, map-only
      text.Curation.gopherFilter(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    "q177_csv_roundtrip" -> ((s, dir) => {
      // K4 export fidelity gate: the q59 bar frame through the REAL
      // single-file CSV export (coalesce + rename) and the PERMISSIVE
      // explicit-schema reader, then re-aggregated — the oracle
      // recomputes from parquet, so a hash match proves the CSV text
      // round-trips doubles/dates losslessly; n_corrupt pins a clean
      // parse through the quarantine column
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("event_type", StringType), StructField("bar", DateType),
        StructField("open", DoubleType), StructField("high", DoubleType),
        StructField("low", DoubleType), StructField("close", DoubleType),
        StructField("volume", DoubleType), StructField("n_ticks", LongType)))
      Ingest.fromCsv(s, csvBarsFor(s, dir), schema)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_bars"),
          round(sum(col("volume").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total_volume"),
          round(max(col("high")), 6).as("max_high"),
          round(min(col("low")), 6).as("min_low"),
          sum(col("n_ticks")).as("sum_ticks"),
          count(col("_corrupt_record")).as("n_corrupt"))
        .orderBy("event_type")
    }),

    "q176_corwin_schultz" -> ((s, dir) => {
      // quote-free bid-ask spread from daily ranges (Corwin–Schultz):
      // consecutive-bar pairs over the q59 bars, negative-to-zero
      // correction, neg_pairs as the paper's diagnostic
      Risk.corwinSchultz(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", to_date(col("ts")), Seq(col("ts"), col("event_id")),
          "value")
        .orderBy("event_type")
    }),

    "q175_ann_recall" -> ((s, dir) => {
      // index-quality gate: recall@10 of the PQ/ADC scan vs the exact
      // cosine scan for the probe vector — the oracle splices both
      // component queries' own SQL (the q172 composition discipline).
      // Round 8 this read 0.1 (sample-init 4x16 PQ — isotropic
      // synthetic embeddings are PQ's worst case at that budget); the
      // Lloyd-trained 16x64 codebook lifts it to 0.8, and the gate
      // still exists to surface any future drift before an index
      // ships.
      Similarity.annRecall(t(s, dir, "embeddings"), "vec_id", "embedding",
        0L, 10, nSub = 16, nCodes = 64, trainIters = 1)
    }),

    "q174_token_pmi" -> ((s, dir) => {
      // collocation mining: top-50 doc-level PMI pairs over the top-50
      // vocabulary, pairs with >= 5 co-occurring docs — vocab broadcast,
      // doc-keyed pair join, TakeOrdered final
      text.TextStats.tokenPmi(t(s, dir, "documents"), "doc_id", "text",
        vocabSize = 50, minPairDocs = 5L, topK = 50)
    }),

    "q173_jsonl_roundtrip" -> ((s, dir) => {
      // interchange-format fidelity gate: parquet → JSON-lines (once
      // per JVM) → inferred-schema scan → aggregate; the oracle
      // aggregates the parquet original, so a hash match proves the
      // jsonl write+infer+scan loses nothing — including null-field
      // omission (n_priced counts the survivors)
      Ingest.fromJsonDir(s, jsonlEventsFor(s, dir))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast(DecimalType(18, 6))).cast("double"), 6)
            .as("total_value"),
          count_distinct(col("user_id")).as("n_users"),
          count(col("value")).as("n_priced"))
        .orderBy("event_type")
    }),

    "q172_instrument_profile" -> ((s, dir) => {
      // the desk's one-table instrument screen: sharpe, range vols,
      // hurst, Ljung–Box Q, max drawdown — five verified operators
      // joined on the key; the oracle splices their own SQL blocks
      Risk.instrumentProfile(t(s, dir, "events"), "event_type",
          Seq(col("ts"), col("event_id")), "value", to_date(col("ts")))
        .orderBy("event_type")
    }),

    "q171_rolling_beta" -> ((s, dir) => {
      // time-varying market exposure: q98's beta re-estimated over a
      // trailing 10-day frame per instrument — ticks reduce once to
      // bucket means, five exact-decimal sums on one window pass
      Stats.rollingBeta(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", to_date(col("ts")), col("value"), 10)
        .orderBy("event_type", "bucket")
    }),

    "q168_bm25" -> ((s, dir) => {
      // lexical retrieval scorer: Okapi BM25 (Lucene +1 idf form) of
      // every doc against a fixed topic probe — one token explode, the
      // match side filtered at the scan, constants broadcast
      text.TextStats.bm25(t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "vector", "merge"))
        .orderBy("doc_id")
    }),

    "q169_novelty" -> ((s, dir) => {
      // marginal-novelty curve: fraction of each doc's shingles first
      // seen at that doc (ingestion order = doc id) — one shingle-keyed
      // Exchange serves the first-seen window and the re-aggregation
      text.Dedup.noveltyFraction(t(s, dir, "documents"), "doc_id",
          "text", 5)
        .orderBy("doc_id")
    }),

    "q170_ljung_box" -> ((s, dir) => {
      // white-noise portmanteau test: Ljung–Box Q over the first 5
      // return autocorrelations per instrument — h extra lag exprs on
      // the one key-partitioned window pass, exact power sums
      Stats.ljungBox(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", Seq(col("ts"), col("event_id")), col("value"))
        .orderBy("event_type")
    }),

    "q167_corpus_overlap" -> ((s, dir) => {
      // slice-level vocabulary overlap: Jaccard of distinct 5-gram
      // sets per source pair — inverted-index self-join (pair fanout
      // bounded by slices-per-shingle, never doc count)
      text.Dedup.corpusOverlap(t(s, dir, "documents"), "source", "text", 5)
        .orderBy("slice_a", "slice_b")
    }),

    "q166_pq_adc" -> ((s, dir) => {
      // PQ/ADC approximate search (Jégou et al. 2011): 16 subspaces of
      // 4 dims, 64 trained codewords, query kept exact. Round-10: reads
      // the PERSISTED index with nProbe = every list — probing all 16
      // clusters IS the unpruned ADC scan, so the result (and the
      // oracle, which recomputes codebook TRAINING, assignment, and
      // ranking end to end) is unchanged while the per-call Lloyd
      // retraining moves to the once-per-JVM index build (q196
      // precedent: probe 0.63 s vs 2.24 s inline). q175 keeps the
      // self-contained inline-training member of the gate family.
      Similarity.ivfAdcProbeById(s, ivfAdcIndexFor(s, dir),
        t(s, dir, "embeddings"), "vec_id", "embedding", 0L, 10,
        nProbe = 16)
    }),

    "q165_neyman_sample" -> ((s, dir) => {
      // budgeted eval-set construction: 100 docs across source strata,
      // allocated ∝ n_s·σ(n_chars) (Neyman), integerized by
      // largest-remainder; within-stratum pick = multiplicative-hash
      // rank (the q96 sampler), so the sample is rerun-stable
      text.Curation.neymanSample(t(s, dir, "documents"), "source",
          "doc_id", col("n_chars"), 100)
        .orderBy("source", "sample_rank")
    }),

    "q163_range_volatility" -> ((s, dir) => {
      // range-based variance estimators (Parkinson / Garman–Klass /
      // Rogers–Satchell) over the q59 OHLC bars: the tick→bar reduction
      // happens once, estimators are map-only over bars, means are
      // exact 12-dp decimal sums
      Risk.rangeVolatility(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", to_date(col("ts")), Seq(col("ts"), col("event_id")),
          "value")
        .orderBy("event_type")
    }),

    "q164_hurst" -> ((s, dir) => {
      // long-memory diagnostic: Hurst exponent per instrument from the
      // aggregated-variance plot over block sizes 1,2,4,8,16 — the
      // tick-return explosion collapses in map-side partials, the
      // regression runs on ≤5 exact-decimal points per key
      Risk.hurstExponent(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", Seq(col("ts"), col("event_id")), col("value"))
        .orderBy("event_type")
    }),

    "q162_multimodal_append" -> ((s, dir) => {
      // q161's append verdicts extended to every modality: a src0 batch
      // doc is a duplicate if its text, image, OR audio near-duplicates
      // the standing corpus or another batch doc — all three edge
      // families run their asymmetric (batch-proportional) candidate
      // joins, one component walk decides, and the flags carry the
      // modality provenance. The oracle recomputes all three families
      // symmetrically and filters to new-side pairs. Round-10: the
      // standing corpus contributes its PERSISTED signature index
      // (built once per JVM) — the append tokenizes/hashes/decodes the
      // BATCH only; verdicts identical (law-tested), oracle unchanged.
      val docs = t(s, dir, "documents")
      multimodal.Curate.appendManifestIndexed(s,
          signatureIndexFor(s, dir, excludeSrc0 = true),
          docs.filter(col("source") === "src0"),
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    "q161_append_dedup" -> ((s, dir) => {
      // incremental corpus-append dedup: src0 arrives as the new batch
      // against the already-ingested rest — near-dup candidates come
      // from prefix(new) ⋈ prefix(all), so the pair join scales with
      // the BATCH, never corpus² (the append-time question at 100 TB).
      // The oracle recomputes the full pair graph and filters to >=1
      // new side, proving the asymmetric candidate scheme loses nothing.
      // Round-10: corpus shingle/md5 signatures come from the persisted
      // index — only the batch is tokenized; verdicts identical.
      val docs = t(s, dir, "documents")
      text.Clusters.appendDedupIndexed(s,
          signatureIndexFor(s, dir, excludeSrc0 = true),
          docs.filter(col("source") === "src0"),
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    "q160_multimodal_manifest" -> ((s, dir) => {
      // the unified multimodal curation surface: text exact+Jaccard,
      // image aHash, and audio energy-hash near-dup edges union into ONE
      // component walk, and keep/split both act on the unified cluster —
      // so no modality's near-dup pair can straddle a split (the q110
      // leakage audit reads zero per modality BY CONSTRUCTION; spec'd).
      // The oracle recomputes all three edge families in SQL (shared
      // shingle/jaccard CTEs + the popcount fixture law) and walks the
      // same union graph, so a hash match certifies the composition,
      // not just the parts. Round-10: reads the persisted EDGE index
      // (signatures → edges, both built once per JVM) — per call the
      // manifest pays the component walk and assembly only, the shape
      // a production pipeline has when it re-cuts splits from a
      // committed corpus version; output identical (law-tested).
      multimodal.Curate.manifestFromEdgeIndex(s, edgeIndexFor(s, dir),
          Seq(("train", 80), ("val", 10), ("test", 10)))
        .orderBy("doc_id")
    }),

    "q235_manifest_after_delete" -> ((s, dir) => {
      // right-to-be-forgotten propagation (round 12): the q160
      // manifest off a two-tier index where doc_id % 10 = 3 was
      // tombstoned AFTER the build — signatures AND persisted edges
      // anti-join the tombstones (delete-proportional; no data file
      // rewritten), components re-form over the survivors, and the
      // oracle replays the full q160 composition over the filtered
      // corpus, proving delete ≡ rebuild-on-remaining end to end.
      // The purge twin (fold tombstones into the files) is law-tested
      // byte-identical in DeleteSpec.
      multimodal.Curate.manifestFromEdgeIndex(s,
          deletedSignatureIndexFor(s, dir),
          Seq(("train", 80), ("val", 10), ("test", 10)))
        .orderBy("doc_id")
    }),

    "q237_delete_report" -> ((s, dir) => {
      // the delete family's operational surface (the q186 discipline):
      // per signature table, how many rows the tombstones currently
      // mask — the garbage ratio every read's anti-join pays, and the
      // signal a production pipeline purges on. Runs against the
      // PRE-PURGE q235 index; the oracle recomputes each table's total
      // and masked counts from the documents table (shingle counts via
      // the shared shingle CTE, one row per doc for the hash tables).
      multimodal.Curate.deletionReport(s, deletedSignatureIndexFor(s, dir))
    }),

    "q238_sig_fsck" -> ((s, dir) => {
      // index integrity audit over the TOMBSTONED q235 index: every
      // invariant must hold (the doc universe, md5 uniqueness, no
      // in-flight swaps) with the freq check correctly reporting its
      // documented stale-under-tombstones state and the pending
      // forget-request count surfaced. The checks are proven to FIRE
      // on corruption in FsckSpec (fault injection); this gate pins
      // the healthy-state contract and the report schema.
      multimodal.Curate.fsckSignatureIndex(s, deletedSignatureIndexFor(s, dir))
    }),

    "q241_forget_cycle_ann" -> ((s, dir) => {
      // the q240 cycle on the ANN tier: recovery → tombstone record
      // (vec_id % 7 = 2, the q236 delete set) → masked-fraction report
      // → policy purge (0.05 < the ~14% mask, so the purge fires) →
      // fsck, on a fresh copy of the pristine IVFADC index. The oracle
      // recomputes the report from the embeddings table: one code row
      // per vector, so the masked fraction is the plain id-set ratio,
      // and a completed purge must audit green with nothing pending.
      IndexLifecycle.forgetAndVerify(IndexLifecycle.IvfAdc, s,
        forgetCycleAnnIndexCopy(s, dir),
        t(s, dir, "embeddings").filter(col("vec_id") % 7 === 2)
          .select("vec_id"),
        "vec_id", purgeAboveMaskedFraction = 0.05)
    }),

    "q250_drift_rebuild" -> ((s, dir) => {
      // the drift→rebuild loop closed (r13 verdict item #3): ONE
      // policy verb measures the standing centroid drift of a grown
      // index (stored stride centroids vs the live corpus — the
      // fixture appended a shifted twin batch, collapsing the cosine
      // to ≈0.03–0.10), rebuilds over the survivors when it crosses
      // 0.9, and audits with fsckIvfIndex. The oracle recomputes the
      // whole report from first principles: the stride-31 centroid
      // sample's dim-means vs the union corpus's through q149's exact
      // decimal arithmetic, the policy comparison, and the audited
      // end state.
      Similarity.rebuildIvfIndexIfDrifted(s, driftIvfIndexCopy(s, dir),
        minCentroidCosine = 0.9)
    }),

    "q251_drift_rebuild_probe" -> ((s, dir) => {
      // the swap's END STATE gate: after the drift-triggered rebuild,
      // a FULL-WIDTH probe (nProbe ≥ nCentroids scans every cluster —
      // recall total BY CONSTRUCTION, no corpus premise) must equal
      // the exact cosine top-k over the union corpus, which is what a
      // fresh build over that corpus probes — proving the rebuilt
      // index holds exactly the survivors ∪ appended batch under the
      // new centroids.
      val idx = driftIvfIndexCopy(s, dir)
      Similarity.rebuildIvfIndexIfDrifted(s, idx, minCentroidCosine = 0.9)
      Similarity.ivfProbeById(s, idx, t(s, dir, "embeddings"),
        "vec_id", "embedding", 0L, 10, nProbe = 32)
    }),

    "q248_forget_cycle_bm25" -> ((s, dir) => {
      // the q240/q241 cycle on the LEXICAL tier (r13 verdict item #1:
      // until round 14 a forgotten document's tokens stayed
      // probe-visible in tf and counted in df/totals forever):
      // recovery → tombstone record (doc_id % 10 = 3) →
      // masked-fraction report (tombstoned ∩ doclen over doclen — one
      // row per doc with ≥1 token, here every doc) → policy purge
      // (0.05 < the ~10% mask, so the purge fires: tf/df/doclen
      // partition swaps + totals rewrite, tombstones cleared LAST) →
      // fsck, on a fresh copy of a pristine BM25 index. The oracle
      // recomputes the report from the documents table through the
      // q168 tokenization (the doc universe is docs with tokens).
      IndexLifecycle.forgetAndVerify(IndexLifecycle.Bm25, s,
        forgetCycleBm25IndexCopy(s, dir),
        t(s, dir, "documents").filter(col("doc_id") % 10 === 3)
          .select("doc_id"),
        "doc_id", purgeAboveMaskedFraction = 0.05)
    }),

    "q249_forget_all_tiers" -> ((s, dir) => {
      // ONE forget request against EVERY standing index tier — the
      // unified verb the r13 verdict asked forgetAndVerify to become:
      // signature + ANN + BM25 cycles run as one call on fresh copies
      // of all three pristine indexes, one audited report row per
      // tier. The oracle recomputes each tier's row from first
      // principles (sig: GREATEST over doc/shingle fractions; ann: id
      // ratio over embeddings; bm25: doc ratio over the tokenized doc
      // universe); all three purge (0.05 < ~10%) and audit green.
      val (sig, ann, bm) = forgetCycleAllTiers(s, dir)
      multimodal.Curate.forgetAndVerifyAll(s,
        t(s, dir, "documents").filter(col("doc_id") % 10 === 3)
          .select("doc_id"),
        "doc_id", signatureIndexPath = Some(sig), annIndexPath = Some(ann),
        bm25IndexPath = Some(bm), purgeAboveMaskedFraction = 0.05)
    }),

    "q240_forget_cycle" -> ((s, dir) => {
      // the forget loop closed end to end (round 13): ONE
      // forgetAndVerify cycle — recovery, tombstone record (doc_id %
      // 10 = 3), deletion report, policy purge (0.05 < the ~10% mask,
      // so the purge FIRES inside the gated query), fsck — on a fresh
      // copy of the pristine index. The oracle recomputes the whole
      // report from first principles: request count and per-table
      // masked fractions from the documents table (shingle fraction
      // via the shared shingle CTE), the policy comparison, and the
      // audited end state (0 pending, 0 failing) that a completed
      // purge must reach.
      IndexLifecycle.forgetAndVerify(IndexLifecycle.Signature, s,
        forgetCycleIndexCopy(s, dir),
        t(s, dir, "documents").filter(col("doc_id") % 10 === 3)
          .select("doc_id"),
        "doc_id", purgeAboveMaskedFraction = 0.05)
    }),

    "q239_ann_fsck" -> ((s, dir) => {
      // the ANN tier's integrity audit over the TOMBSTONED q236 index:
      // codes arity/decode/cluster/id invariants all hold, no swap
      // leftovers, and the tombstone bookkeeping reads zero
      // already-purged ids (the index was never purged).
      Similarity.fsckIvfAdcIndex(s, deletedIvfAdcIndexFor(s, dir))
    }),

    "q159_time_travel_ts" -> ((s, dir) => {
      // timestamp-based time travel (Delta's timestampAsOf) over REAL
      // commits: resolve v1's commit instant from the manifest history
      // and read through Snapshots.readTimestamp — the oracle recomputes
      // v1's contents straight off the source table (the q92 memo
      // commits v1/v2), so a hash match proves timestamp→version
      // resolution returns exactly the version that was live then.
      // (v1/v2 commit instants differ by construction: each commit is a
      // full Spark parquet write, far above millisecond resolution.)
      val path = cdcTableFor(s, dir)
      val ts1 = engine.Snapshots.commits(s, path)
        .find(_.version == 1L).get.committedAt
      engine.Snapshots.readTimestamp(s, path, ts1).orderBy("c_custkey")
    }),

    "q158_phash_canonical" -> ((s, dir) => {
      // the actionable end of image dedup: per perceptual cluster keep
      // the HIGHEST-RESOLUTION member (header-only dims probe, argmax
      // pixels, min id on ties) — near-dup groups are the same picture
      // at different sizes and the drop list IS the delete set; pixel
      // counts are id arithmetic (the fixture's 8s×8s geometry)
      import graft.multimodal.Media
      Media.phashCanonicalByPixels(s,
          Media.imageHashTable(s, t(s, dir, "documents"), "doc_id"))
        .orderBy("media_id")
    }),

    "q157_cluster_safe_splits" -> ((s, dir) => {
      // leakage-safe splits: hash the dup CLUSTER id, not the doc id —
      // every transitive near-dup group lands whole in one split, so
      // the q110 leak list is empty by construction (spec'd); the same
      // multiplicative-hash arithmetic as q101 keeps the oracle exact
      text.Clusters.clusterSafeSplits(t(s, dir, "documents"), "doc_id",
          "text", Seq(("train", 80), ("val", 10), ("test", 10)))
        .orderBy("doc_id")
    }),

    "q156_phash_clusters" -> ((s, dir) => {
      // perceptual dup pairs collapsed to the actionable keep-list:
      // hamming-banded pairs → connected components, min id canonical —
      // the q63 clustering convention on the image column, gated by a
      // recursive-CTE walk over the same popcount(xor) edge arithmetic
      import graft.multimodal.Media
      Media.phashClusters(s,
          Media.imageHashTable(s, t(s, dir, "documents"), "doc_id"))
        .orderBy("media_id")
    }),

    "q154_audiohash_pairs" -> ((s, dir) => {
      // perceptual audio dedup, exact twin: energy-hash the bit-pattern
      // WAV fixture (hash == π(id), the image fixture's permutation, so
      // the q152 popcount oracle applies verbatim and the gate proves
      // the PCM decode → 64-window energy → threshold pipeline)
      import graft.multimodal.Media
      Media.audioHashExactPairs(s,
          Media.audioHashTable(s, t(s, dir, "documents"), "doc_id"))
        .orderBy("id_a", "id_b")
    }),

    "q155_audiohash_banded" -> ((s, dir) => {
      // the scale path: same 4×16 pigeonhole blocking as q153 — the
      // exact oracle applies on every corpus, plus the hot-chunk guard
      import graft.multimodal.Media
      Media.audioHashBandedPairs(s,
          Media.audioHashTable(s, t(s, dir, "documents"), "doc_id"))
        .orderBy("id_a", "id_b")
    }),

    "q151_pii_extended" -> ((s, dir) => {
      // checksum-validated PII classes, oracle-gated in the q143 style:
      // id-derived VALID IBANs (mod-97 check digits computed in-query)
      // and Luhn cards (check digit from the closed form for a
      // repeated-digit body) are planted next to INVALID one-digit-off
      // twins — the redactor must scrub every valid item and leave
      // every invalid twin VERBATIM, so counts and redacted length are
      // id arithmetic and a checksum-less detector fails the gate in
      // both directions
      import org.apache.spark.sql.functions.{length => strlen}
      val bban = lpad((col("doc_id") % 1000000000L).cast("string"), 10, "0")
      val check = lpad((lit(98) -
          (bban.cast("long") * 1000000L + 131400L) % 97).cast("string"),
        2, "0")
      val iban = concat(lit("DE"), check, bban)
      // same check digits over a last-digit-bumped BBAN: mod-97 residue
      // shifts by ±10^k mod 97 ≠ 0, so the twin can never validate
      val ibanBad = concat(lit("DE"), check, substring(bban, 1, 9),
        ((substring(bban, 10, 1).cast("int") + 1) % 10).cast("string"))
      val d = (col("doc_id") % 10).cast("int")
      val f2 = when(d >= 5, d * 2 - 9).otherwise(d * 2) // doubled-digit fold
      val luhn = (lit(10) - (d * 7 + f2 * 8) % 10) % 10
      val card = concat(repeat(d.cast("string"), 15), luhn.cast("string"))
      val cardBad = concat(repeat(d.cast("string"), 15),
        ((luhn + 5) % 10).cast("string"))
      val ip6 = concat(lit("2001:db8::"), lower(hex(col("doc_id") % 256)))
      val planted = t(s, dir, "documents").select(col("doc_id"), concat(
        col("text"),
        repeat(concat(lit(" acct "), iban), (col("doc_id") % 2).cast("int")),
        repeat(concat(lit(" acct "), ibanBad),
          when(col("doc_id") % 3 === 0, 1).otherwise(0)),
        repeat(concat(lit(" card "), card),
          ((col("doc_id") + 1) % 2).cast("int")),
        repeat(concat(lit(" card "), cardBad),
          when(col("doc_id") % 3 === 1, 1).otherwise(0)),
        repeat(concat(lit(" node "), ip6),
          ((col("doc_id") + 2) % 3).cast("int"))).as("text"))
      text.Curation.redactPiiExtended(planted, "text")
        .select(col("doc_id"), col("n_iban"), col("n_card"), col("n_ip6"),
          col("n_redactions"),
          strlen(col("text")).cast("long").as("redacted_len"))
        .orderBy("doc_id")
    }),

    "q150_mjpeg_frames" -> ((s, dir) => {
      // REAL per-frame JPEG decode, oracle-gated: MJPEG AVIs whose
      // frames are gray fills with a distinct gray 8×8 patch — the
      // block-aligned grayscale fixture is EXACT through JPEG at
      // all-ones quant tables (pinned in MediaSpec), so channel sums
      // are id-arithmetic (Σ_f 64·u + (w·h−64)·v) and a header-only or
      // solid-color shortcut gets different numbers
      import graft.multimodal.Media
      val media = Media.videoMjpegTable(s, t(s, dir, "documents"), "doc_id")
      Media.extractVideoFrameFeatures(s, media).toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("n_frames"), col("r_sum"), col("g_sum"), col("b_sum"),
          col("decoded"))
        .orderBy("media_id")
    }),

    "q148_vocab_churn" -> ((s, dir) => {
      // feature-level drift: top-20 vocabularies of the two corpus
      // versions (even/odd ids), overlap and Jaccard in one row
      val d = t(s, dir, "documents")
      text.TextStats.vocabChurn(
          d.filter(col("doc_id") % 2 === 0),
          d.filter(col("doc_id") % 2 === 1),
          "text", vocabSize = 20)
    }),

    "q149_embedding_drift" -> ((s, dir) => {
      // embedding-space drift: cosine between the two versions'
      // per-dimension mean vectors (even/odd vec_ids)
      val e = t(s, dir, "embeddings")
      Similarity.centroidDrift(
          e.filter(col("vec_id") % 2 === 0),
          e.filter(col("vec_id") % 2 === 1),
          "embedding")
    }),

    "q147_corpus_drift" -> ((s, dir) => {
      // corpus-version drift monitor: even vs odd doc_ids stand in for
      // two crawl versions; 50-char length buckets, add-one-smoothed
      // shares, per-bucket KL contribution + total — the gate hashes
      // the whole drift report
      val d = t(s, dir, "documents")
      text.TextStats.distributionDrift(
          d.filter(col("doc_id") % 2 === 0),
          d.filter(col("doc_id") % 2 === 1),
          floor(length(col("text")) / 50))
        .orderBy("bucket")
    }),

    "q146_image_pixels" -> ((s, dir) => {
      // REAL image pixel decode (JDK PNG inflate end-to-end), gated
      // like q142/q124: solid-fill PNGs with inverted top-left pixel,
      // channel sums recomputable from id arithmetic alone — pixel
      // truth now gates all three modalities (image/audio/video)
      import graft.multimodal.Media
      val media = Media.imagePixelTable(s, t(s, dir, "documents"), "doc_id")
      Media.extractImagePixels(s, media).toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("r_sum"), col("g_sum"), col("b_sum"), col("decoded"))
        .orderBy("media_id")
    }),

    "q145_vocab_coverage" -> ((s, dir) => {
      // tokenizer/vocab fitness: fix the top-20 corpus vocabulary
      // (deterministic freq-then-token cut) and score every doc's OOV
      // rate — one explode feeds both the freq agg (top-V via
      // TakeOrderedAndProject) and the broadcast membership join
      text.TextStats.vocabCoverage(t(s, dir, "documents"), "doc_id",
          "text", vocabSize = 20)
        .orderBy("doc_id")
    }),

    "q144_leadlag_corr" -> ((s, dir) => {
      // which instrument moves first: per-pair best lead-lag over
      // hourly bucket returns (±3 observed buckets); ticks reduce to
      // the bucket-mean frame once, the lag stack rides one window
      // pass, and the pair expansion broadcast-joins aggregate frames
      Risk.leadLagCorr(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", date_trunc("hour", col("ts")), col("value"),
          maxLag = 3)
        .withColumn("best_lag", col("best_lag").cast("int"))
        .orderBy("key_a", "key_b")
    }),

    "q143_pii_redact" -> ((s, dir) => {
      // PII redaction graduated to a full oracle gate (the q142 move):
      // id-derived emails / phones / IPv4s are appended to the real
      // (verified PII-free) corpus text, redactPii scans with the REAL
      // Java-regex detectors, and both the redaction count and the
      // redacted LENGTH are recomputable from id arithmetic alone —
      // each PII type has distinct match/tag lengths, so the length
      // check catches a detector that misses or over-matches any type
      import org.apache.spark.sql.functions.{length => strlen}
      val pii = t(s, dir, "documents").select(col("doc_id"), concat(
        col("text"),
        expr("repeat(concat(' contact user', CAST(doc_id AS STRING), " +
          "'@example.com'), CAST(doc_id % 3 AS INT))"),
        expr("repeat(concat(' call +1-555-', " +
          "lpad(CAST(doc_id % 1000 AS STRING), 3, '0'), '-', " +
          "lpad(CAST(doc_id % 10000 AS STRING), 4, '0')), " +
          "CAST((doc_id + 1) % 3 AS INT))"),
        expr("repeat(concat(' host 10.0.', CAST(doc_id % 256 AS STRING), " +
          "'.7'), CAST((doc_id + 2) % 3 AS INT))")).as("text"))
      text.Curation.redactPii(pii, "text")
        .select(col("doc_id"), col("n_redactions"),
          strlen(col("text")).cast("long").as("redacted_len"))
        .orderBy("doc_id")
    }),

    "q140_portfolio_nav" -> ((s, dir) => {
      // the cross-section rolled up to a book: equal-weight mean of
      // per-instrument daily returns, compounded as exp(Σ ln(1+r̄)) —
      // the exact-sum form of a running product; the cumulative window
      // runs over the calendar-bounded day frame, never ticks
      // compared column is the EXACT log-NAV (sum of 12-dp decimal
      // ln terms) — the sf0.1 sweep caught exp() divergence at
      // NAV ≈ 2e11 where a double ulp beats any rounding grid; the
      // presentation `nav` column stays in the API, not the gate
      Risk.portfolioNav(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", Seq(col("ts"), col("event_id")), col("value"),
          to_date(col("ts")))
        .drop("nav")
        .orderBy("bucket")
    }),

    "q139_event_study" -> ((s, dir) => {
      // signal scoring: after a >2% up-tick, what do the next 1 and 5
      // ticks return, and how often are they positive? — the momentum
      // backtest over the same return primitive the alert queries use.
      // Threshold compared DECIMAL-to-DECIMAL (not r > 0.02 as a double
      // literal): the return is DECIMAL(16,9), and a return landing on
      // the 0.02 grid point would classify differently between engines
      // through DuckDB's not-correctly-rounded decimal→double cast
      Risk.eventStudy(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", Seq(col("ts"), col("event_id")), col("value"),
          horizons = Seq(1, 5),
          signal = r => r > lit("0.02").cast("decimal(16,9)"))
        .orderBy("event_type", "horizon")
    }),

    "q137_token_entropy" -> ((s, dir) => {
      // information density per source: unigram Shannon entropy via the
      // rearranged ln(N) − Σ f·ln(f)/N — ln once per DISTINCT token,
      // fixed as a decimal so the sum is order-independent; plus
      // H/ln(V) so different vocabulary sizes compare
      text.TextStats.tokenEntropy(t(s, dir, "documents"), "source", "text")
        .orderBy("source")
    }),

    "q138_variance_ratio" -> ((s, dir) => {
      // random-walk diagnostic: Var(5-day-ish overlapping q-period
      // returns) over 5·Var(tick returns) — VR>1 trends, VR<1 reverts;
      // both variances from ONE aggregation of exact power sums
      Risk.varianceRatio(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", Seq(col("ts"), col("event_id")), col("value"), q = 5)
        .orderBy("event_type")
    }),

    "q135_kyle_lambda" -> ((s, dir) => {
      // price-impact slope: Δp regressed on tick-rule signed volume —
      // what a parent order pays per unit of size; exact power sums
      // over (16,6)-capped inputs, one Exchange
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
      Risk.kyleLambda(ev, "event_type", Seq(col("ts"), col("event_id")),
          col("value"), get_json_object(col("props"), "$.k").cast("long"))
        .orderBy("event_type")
    }),

    "q136_roll_spread" -> ((s, dir) => {
      // bid-ask bounce estimator: 2·√(−cov₁(Δp)) from trade prices
      // alone; positive autocovariance (trending tape) → NULL spread,
      // autocovariance still reported
      Risk.rollSpread(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", Seq(col("ts"), col("event_id")), col("value"))
        .orderBy("event_type")
    }),

    "q133_pair_spread" -> ((s, dir) => {
      // pairs-trading monitor: OLS hedge per instrument pair over
      // day-aligned means, then the latest day's residual z vs the
      // fit's σ — one tick-level agg, everything else on the
      // buckets × k frame; all pair stats (power sums + latest values
      // via tie-free max_by) from ONE grouped aggregation
      Risk.pairSpread(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", to_date(col("ts")), col("value"), zThreshold = 2.0)
        .orderBy("key_a", "key_b")
    }),

    "q134_vol_cone" -> ((s, dir) => {
      // vol term-structure envelope: min/mean/max of √(ΣRV/h) over all
      // complete h-day rolling windows, h ∈ {5,10,21} — the rich/cheap
      // context for q121's daily number; rolls over the DAY frame only
      val rv = Stats.realizedVariance(
        t(s, dir, "events").filter(col("value").isNotNull),
        "event_type", Seq(col("ts"), col("event_id")), col("value"),
        to_date(col("ts")))
      Risk.volCone(rv, "event_type", "bucket", "realized_variance",
          horizons = Seq(5, 10, 21))
        .orderBy("event_type", "horizon")
    }),

    "q131_containment_dups" -> ((s, dir) => {
      // asymmetric dup detection: shared/min(|A|,|B|) finds a small doc
      // copied inside a big one where Jaccard stays low (Broder's
      // containment); prefix-filter on the provably-smaller side joined
      // against the full shingle relation — never all-pairs
      text.Dedup.containmentPairs(t(s, dir, "documents"), "doc_id",
          "text", n = 5, threshold = 0.8)
        .orderBy("doc_a", "doc_b")
    }),

    "q132_zipf_slope" -> ((s, dir) => {
      // corpus-level quality: ln(freq)~ln(rank) slope over each source's
      // top-100 tokens — natural text sits near −1; templated or
      // machine-generated sources drift off (decimal-fixed ln values,
      // exact regression power sums)
      text.TextStats.zipfSlope(t(s, dir, "documents"), "source", "text",
          topK = 100)
        .orderBy("source")
    }),

    "q125_var_cvar" -> ((s, dir) => {
      // tail risk per instrument: historical VaR + expected shortfall at
      // α=0.05 by ORDER STATISTIC (k-th smallest return, exact decimal
      // tail mean) — multiset-deterministic, no interpolation to
      // diverge between engines; reported in return space (no −0.0
      // manufactured by a loss negation)
      Risk.varCvar(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", Seq(col("ts"), col("event_id")), col("value"),
          alpha = 0.05)
        .orderBy("event_type")
    }),

    "q126_sortino" -> ((s, dir) => {
      // downside-only risk adjustment: mean(r) over √(Σ min(r,0)²/n) —
      // the Sharpe variant that doesn't punish upside; same one-
      // aggregation exact-power-sum shape as q114
      Risk.sortino(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", Seq(col("ts"), col("event_id")), col("value"))
        .orderBy("event_type")
    }),

    "q127_flow_imbalance" -> ((s, dir) => {
      // tick-rule order flow: sign each tick by its price change (zero
      // ticks inherit the last non-zero sign), then Σ(sign·qty)/Σqty
      // per instrument-day — buy/sell pressure without a side flag
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
      Risk.flowImbalance(ev, "event_type",
          Seq(col("ts"), col("event_id")), col("value"),
          get_json_object(col("props"), "$.k").cast("long"),
          to_date(col("ts")))
        .orderBy("event_type", "bucket")
    }),

    "q128_atr_channels" -> ((s, dir) => {
      // volatility channels over q59's daily OHLC bars: Wilder true
      // range, 14-bar ATR (NULL until a full window), and Donchian
      // breakout flags vs the PRIOR 14 bars' extremes — a bar-frame
      // window pass, no tick-stream shuffle
      val bars = Stats.ohlcBars(
        t(s, dir, "events").filter(col("value").isNotNull),
        Seq("event_type"), to_date(col("ts")),
        Seq(col("ts"), col("event_id")), "value")
      Risk.atrChannels(bars, "event_type", col("bar"), nBars = 14)
        .orderBy("event_type", "bar")
    }),

    "q129_momentum_rank" -> ((s, dir) => {
      // nightly winners/losers sort: per-day close-over-open return per
      // instrument, ranked cross-sectionally within the day (integer
      // decile arithmetic, no ntile tie lottery) — the portfolio-
      // formation transpose: key-clustered bars, then a bucket-
      // clustered rank over one row per (key, day)
      Risk.momentumRank(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", Seq(col("ts"), col("event_id")), col("value"),
          to_date(col("ts")))
        .orderBy("bucket", "event_type")
    }),

    "q130_intraday_profile" -> ((s, dir) => {
      // hour-of-day seasonality: tick count, mean |return|, and share
      // of the instrument's traded quantity per hour — the U-shape
      // diagnostic; share divides by a window total over the already-
      // aggregated (key × 24)-row frame
      Risk.intradayProfile(t(s, dir, "events").filter(col("value").isNotNull),
          "event_type", Seq(col("ts"), col("event_id")), col("ts"),
          col("value"), get_json_object(col("props"), "$.k").cast("long"))
        .orderBy("event_type", "hour_of_day")
    }),

    "q123_amihud" -> ((s, dir) => {
      // Amihud illiquidity per (instrument, day): mean |return| per unit
      // traded value — the price-impact proxy; exact decimal mean, one
      // Exchange (the q121 shape with a per-row liquidity quotient)
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
        .withColumn("qty", get_json_object(col("props"), "$.k").cast("long"))
        .filter(col("qty").isNotNull)
      Stats.amihudIlliquidity(ev, "event_type",
          Seq(col("ts"), col("event_id")), col("value"), col("qty"),
          to_date(col("ts")))
        .orderBy("event_type", "bucket")
    }),

    "q100_level_alerts" -> ((s, dir) => {
      // live-tick scoring against static per-instrument levels (session
      // VWAP, latest EWMA, latest RSI regime, σ): the batch face of the
      // streaming market scorer — the identical scoreAgainstLevels code
      // runs on EventStream via the broadcast join (batch-equivalence
      // spec'd in VectorStreamSpec)
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
        .withColumn("qty", get_json_object(col("props"), "$.k").cast("long"))
        .filter(col("qty").isNotNull)
      val levels = Stats.keyLevels(ev, "event_type",
        Seq(col("ts"), col("event_id")), "value", col("qty"))
      Stats.scoreAgainstLevels(ev, levels, "event_type", "value",
          "event_id", zThreshold = 1.5, vwapDevPct = 3.0)
        .orderBy("event_id")
    }),

    "q89_pagerank" -> ((s, dir) => {
      // document-centrality pass over the k-NN similarity graph: 3
      // PageRank iterations, per-row decimal-cast contribution sums so
      // ranks are order-independent (and oracle-reproducible bit-exact)
      val edges = Similarity.readKnnGraph(s, knnGraphFor(s, dir))
        .select("src", "dst")
      text.Clusters.pageRank(edges, "src", "dst", iters = 3)
        .select(col("node").as("vec_id"), round(col("pagerank"), 10).as("pagerank"))
        .orderBy("vec_id")
    }),

    "q88_boilerplate" -> ((s, dir) => {
      // CCNet-style line scrub: lines shared by >1 distinct docs are
      // boilerplate; docs reassemble from surviving lines in order
      text.Curation.stripBoilerplate(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    "q87_orc_roundtrip" -> ((s, dir) => {
      // format-fidelity gate: parquet → ORC (once per JVM) → aggregate;
      // the oracle aggregates the parquet table directly, so a hash
      // match proves the ORC write+scan loses nothing
      Ingest.fromOrc(s, orcEventsFor(s, dir))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast(DecimalType(18, 6))).cast("double"), 6)
            .as("total_value"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),

    "q42_embedding_norms" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .withColumn("l2_norm", round(Similarity.l2Norm(col("embedding")), 6))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("l2_norm").cast(DecimalType(18, 6))).cast("double"), 6).as("total_norm"))
        .orderBy("label")
    }),

    "q45_decile_stats" -> ((s, dir) => {
      // ntile distribution analysis with a deterministic total order.
      // An unpartitioned ntile is a single-reducer sort: every row flows
      // through ONE task. This query exists to pin exact ntile semantics
      // as the oracle-verifiable baseline; q52 (sketch cut points + map-
      // side bucketing) is the corpus-scale path. Guarded so the query
      // refuses to serialize a large input instead of silently stalling.
      val events = t(s, dir, "events")
      // bounded probe, not a full count: CollectLimit stops reading
      // once the cap is exceeded, so the guard never adds a full scan
      val cap = 10000000L
      require(events.limit((cap + 1).toInt).count() <= cap,
        s"q45's global ntile is single-reducer (> $cap rows); use " +
          "q52's sketch-cutpoint deciles at this scale")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("value").asc, col("event_id").asc)
      events
        .withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("lo"), max(col("value")).as("hi"),
          round(sum(col("value").cast(DecimalType(18, 2))).cast("double"), 2).as("total"))
        .orderBy("decile")
    }),
  )
}
