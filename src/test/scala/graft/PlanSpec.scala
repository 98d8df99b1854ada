package graft

import java.nio.file.Files
import java.sql.Date

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.IndexLifecycle

/** Physical-plan regression guards for the scale invariants (the "would
  * this survive a 100× scale-up" properties): broadcast where intended,
  * top-k pushdown, scan-level filter/column pushdown, partition pruning.
  * A change that silently reintroduces a shuffle or loses a pushdown
  * fails here long before it shows up in a bench regression.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  val dir = "/root/testdata/sf0.001"
  def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q01: rank-filter gets the WindowGroupLimit top-k pushdown") {
    // rows beyond rank 10 are dropped per-partition BEFORE the full
    // window sort materializes — the difference between sorting 10 rows
    // per date and sorting every row per date at 100 TB
    assert(plan("q01_gold_daily_stats").contains("WindowGroupLimit"))
  }

  test("star-dimension joins broadcast; the fact side never shuffle-joins") {
    val p = plan("q10_join_star")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("reference cross join (J1) plans as broadcast nested loop") {
    assert(plan("q06_cross_join").contains("BroadcastNestedLoopJoin"))
  }

  test("filter and projection push down to the parquet scan") {
    val df = Tables.load(spark, dir, "lineitem")
      .filter(col("l_quantity") > 30.0).select("l_orderkey", "l_quantity")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
  }

  test("q65: the eval shingle set joins broadcast — the corpus never shuffles") {
    val p = plan("q65_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("contamination falls back to a shuffle hash join past the broadcast guard") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, dir, "documents")
    val pred = col("doc_id") % 20 === 0
    // threshold 0 forces the large-eval-corpus path: shuffle, not broadcast
    val fallback = graft.text.Curation.contamination(
      docs, "doc_id", "text", pred, broadcastMaxShingles = 0L)
    val p = fallback.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), p)
    // both physical paths compute the identical answer
    val viaBroadcast = graft.text.Curation.contamination(docs, "doc_id", "text", pred)
      .collect().toSet
    assert(fallback.collect().toSet === viaBroadcast)
    spark.catalog.clearCache()
  }

  test("q64: chunking is map-only — explode with no Exchange before it") {
    // one Generate over the scan projection; the only exchange allowed
    // is the final presentation orderBy
    val df = graft.text.Curation.tokenChunks(
      Tables.load(spark, dir, "documents"), "doc_id", "text", 64, 48)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Generate"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("q67: per-doc top-k terms get the WindowGroupLimit pushdown") {
    assert(plan("q67_tfidf").contains("WindowGroupLimit"))
  }

  test("q76: per-group moments broadcast back onto the stream") {
    assert(plan("q76_anomalies").contains("BroadcastHashJoin"))
  }

  test("q74: mixture resampling is map-only — no Exchange before the explode") {
    val df = graft.text.Curation.mixtureSample(
      Tables.load(spark, dir, "documents"), "doc_id", "source",
      Map("src0" -> 2.5, "src1" -> 0.5))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Generate"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("q86: quantization audit is map-only — no Exchange in the plan") {
    val df = graft.vector.Similarity.quantizeAudit(
      Tables.load(spark, dir, "embeddings"), "vec_id", "embedding")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  test("q83: both rolling-moment windows ride ONE hash shuffle") {
    val df = graft.ops.Stats.rollingStats(
      Tables.load(spark, dir, "events").filter(col("value").isNotNull),
      "event_type", Seq(col("ts"), col("event_id")), col("value"), 20)
    val p = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
    assert(p.contains("Window"), p)
  }

  test("q81: IVF probe partition-prunes the index scan to nProbe clusters") {
    val emb = Tables.load(spark, dir, "embeddings")
    val idx = Files.createTempDirectory("graft_ivf_plan").toString + "/index"
    graft.vector.Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx, nCentroids = 16)
    val nProbe = 4
    val probe = graft.vector.Similarity.ivfProbeById(
      spark, idx, emb, "vec_id", "embedding", 0L, 10, nProbe = nProbe)
    val scans = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("assignments")) => f
    }
    assert(scans.nonEmpty, probe.queryExecution.executedPlan.toString)
    // the scan's partition filter is a literal IN over the probed cluster
    // ids, so pruning happens at planning time: the scan reads exactly
    // nProbe of the 16 cluster directories, never the rest of the corpus
    assert(scans.head.toString.contains("PartitionFilters"), scans.head.toString)
    assert(scans.head.selectedPartitions.partitionCount === nProbe,
      s"expected $nProbe pruned partitions, " +
        s"got ${scans.head.selectedPartitions.partitionCount}")
  }

  test("q196: IVFADC probe partition-prunes the CODES scan and never reads vectors") {
    val emb = Tables.load(spark, dir, "embeddings")
    val idx = Files.createTempDirectory("graft_ivfadc_plan").toString + "/index"
    graft.vector.Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding", idx)
    graft.engine.Caches.releaseAll()
    val nProbe = 4
    val probe = graft.vector.Similarity.ivfAdcProbeById(
      spark, idx, emb, "vec_id", "embedding", 0L, 10, nProbe = nProbe)
    // the scan exec hides under AdaptiveSparkPlanExec (TreeNode collect
    // does not descend) — assert on the rendered plan, the q89 posture
    val p = probe.queryExecution.executedPlan.toString
    // literal IN over exactly nProbe probed cluster ids ⇒ planning-time
    // pruning of the cluster directory tree
    val pf = "PartitionFilters: \\[cluster#\\d+ IN \\(([-0-9,]+)\\)\\]".r
      .findFirstMatchIn(p)
    assert(pf.nonEmpty, p)
    assert(pf.get.group(1).split(",").length === nProbe, pf.get.group(1))
    // the whole point of PQ: the probe ranks from codes alone — the
    // codes scan reads no vector column (raw vectors are not even in
    // the index), and the only array<double> read is the k·d codebook
    assert(p.contains("ReadSchema: struct<id:bigint,codes:array<bigint>>"), p)
    assert(!p.contains("embedding"), p)
  }

  test("q236: the tombstone anti-join does not break codes partition pruning") {
    val emb = Tables.load(spark, dir, "embeddings")
    val idx = Files.createTempDirectory("graft_ivfadc_del_plan").toString + "/index"
    graft.vector.Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding", idx)
    IndexLifecycle.delete(IndexLifecycle.IvfAdc, spark, idx,
      emb.filter(col("vec_id") % 7 === 2).select("vec_id"), "vec_id")
    graft.engine.Caches.releaseAll()
    val nProbe = 4
    val probe = graft.vector.Similarity.ivfAdcProbeById(
      spark, idx, emb, "vec_id", "embedding", 0L, 10, nProbe = nProbe)
    val p = probe.queryExecution.executedPlan.toString
    // the literal IN must reach the scan THROUGH the left-anti join —
    // a deletion that silently turned the pruned probe into a full
    // codes scan would be the 100 TB regression this pin exists for
    val pf = "PartitionFilters: \\[cluster#\\d+ IN \\(([-0-9,]+)\\)\\]".r
      .findFirstMatchIn(p)
    assert(pf.nonEmpty, p)
    assert(pf.get.group(1).split(",").length === nProbe, pf.get.group(1))
    // the tombstone side broadcasts (bounded by the auto-purge cap)
    assert(p.contains("LeftAnti, BuildRight") || p.contains("LeftAnti"), p)
    assert(p.contains("ReadSchema: struct<id:bigint,codes:array<bigint>>"), p)
  }

  test("q197: batched ANN join union-prunes the codes scan and shuffle-hashes the ADC lookup") {
    val emb = Tables.load(spark, dir, "embeddings")
    val idx = Files.createTempDirectory("graft_ivfadc_join_plan").toString + "/index"
    graft.vector.Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding", idx)
    graft.engine.Caches.releaseAll()
    val join = graft.vector.Similarity.ivfAdcProbeJoin(
      spark, idx, emb.filter(col("vec_id") < 3), "vec_id", "embedding", 10,
      idName = "vec_id")
    val p = join.queryExecution.executedPlan.toString
    // the codes scan partition-prunes to the UNION of the three
    // queries' probed clusters — a literal IN at planning time (plus a
    // runtime dynamicpruning filter Spark adds from the probe join)
    val pf = "PartitionFilters: \\[cluster#\\d+ IN \\(([-0-9,]+)\\)".r
      .findFirstMatchIn(p)
    assert(pf.nonEmpty, p)
    assert(pf.get.group(1).split(",").length <= 12, pf.get.group(1))
    // the ADC distance-table join is sortless shuffle-hash (the table is
    // batch-shaped — forcing broadcast would OOM a large batch) and no
    // sort-merge join appears anywhere in the probe plan
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q202: balanced-sample quotas ride WindowGroupLimit below the window sort") {
    val emb = Tables.load(spark, dir, "embeddings")
    val df = graft.vector.Similarity.clusterBalancedSample(
      emb, "vec_id", "embedding", 4, 5)
    val p = df.queryExecution.executedPlan.toString
    // quota rows survive per partition BEFORE the per-cluster sort —
    // sampling quotas from 100 TB must not sort 100 TB
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("row_number"), p)
  }

  test("q89/q90 read the persisted k-NN edge table, not a rebuilt pair join") {
    // note: plan nodes sit under AdaptiveSparkPlanExec, which TreeNode
    // collect does not descend into — assert on the rendered plan
    // q89 PageRank needs ONLY edges: its plan scans the persisted graph
    // and touches embeddings not at all — the pair-join build (which
    // must read the vector column) is provably absent
    val p89 = plan("q89_pagerank")
    assert(p89.contains("graft_knn"), p89)
    assert(!p89.contains("embeddings"), p89)
    // q90's edge frame is checkpointed inside labelPropagation (its scan
    // hides behind an RDD), but the no-rebuild property still shows:
    // the only embeddings scan is the seed read, pruned to id + label —
    // a graph rebuild cannot avoid reading the embedding vectors
    plan("q90_label_prop").linesIterator
      .filter(_.contains("embeddings"))
      .foreach(l => assert(!l.contains("embedding:array"), l))
  }

  test("q100: the level scorer broadcasts — the tick stream never shuffles for the join") {
    val p = plan("q100_level_alerts")
    assert(p.contains("BroadcastHashJoin"), p)
    // a bare contains(BroadcastHashJoin) would stay green off keyLevels'
    // internal small joins even if the tick-side join regressed — pin
    // the absence of any shuffle join (the q10 discipline)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("ShuffledHashJoin"), p)
    // the native EWMA expression rides inside the levels build too
    assert(p.contains("ewma_fold"), p)
  }

  test("q97: the EWMA fold is the native expression, not an interpreted lambda") {
    val p = plan("q97_ewma")
    assert(p.contains("ewma_fold"), p)
    // the HOF formulation would show aggregate(...) with a lambda —
    // interpreted per element, the round-1 10-40× trap
    assert(!p.contains("lambdafunction"), p)
  }

  test("q101: split assignment is map-only — a pure projection over the scan") {
    val docs = Tables.load(spark, dir, "documents")
    val p = graft.text.Curation.splitAssign(docs, "doc_id",
        Seq(("train", 80), ("val", 10), ("test", 10)))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  test("q213: repetition rules are map-only — sorted-array folds, no Exchange") {
    val docs = Tables.load(spark, dir, "documents")
    val p = graft.text.Curation.repetitionRules(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  test("q102: the cms candidate filter runs map-side; only survivors shuffle") {
    val p = plan("q102_heavy_hitters")
    assert(p.contains("cms_estimate"), p)
    // ONE hash shuffle — the exact count of sketch survivors; the full
    // token stream never crosses the wire un-filtered
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("q103: epoch shuffle sorts per shard — never a single-partition window") {
    val p = plan("q103_epoch_shuffle")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q106: the pair expansion broadcast-joins the aggregate-sized mean frame") {
    val p = plan("q106_corr_matrix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q104/q111: one aggregation shuffle each — split/quantile audits never reshuffle") {
    // q104 exact quantiles: one hash Exchange (the groupBy); q111 token
    // budget: the split is map-only, so again only the aggregation moves
    for (q <- Seq("q104_length_quantiles", "q111_token_budget")) {
      val p = plan(q)
      assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, s"$q: $p")
    }
  }

  test("q107: hot keys come via TakeOrderedAndProject, not a global sort of the counts") {
    val p = plan("q107_skew_report")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q108: both spell windows and both aggregations ride ONE hash Exchange") {
    val p = plan("q108_underwater_spell")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("q113/q114/q115/q121: the return-series analytics ride ONE hash Exchange") {
    // all four derive from per-key window passes whose partitioning the
    // downstream aggregation reuses — q121's (key, bucket) groupBy is
    // satisfied by the window's hash(key) clustering (subset rule), so
    // even the finer-keyed aggregation adds no second Exchange
    for (q <- Seq("q113_bollinger", "q114_sharpe", "q115_return_autocorr",
        "q121_realized_variance", "q123_amihud")) {
      val p = plan(q)
      assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, s"$q: $p")
    }
  }

  test("q117: inverted index — both window passes and the collect share one hash Exchange") {
    // df-count window, posting-cap row_number, and the collect_list all
    // cluster on the token key; a second hash Exchange would re-shuffle
    // the exploded (doc, token) pairs — the largest frame in the query
    val p = plan("q117_inverted_index")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("q119: the percentile cut frame broadcast-joins back onto the ticks") {
    // cuts are AGGREGATE-sized (one row per key) — if this ever
    // sort-merge-joins, the tick table re-shuffles for a k-row lookup
    val p = plan("q119_winsorized_stats")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q93: the bloom pre-filter sits in the scan-side plan before the join") {
    val p = plan("q93_bloom_decontaminate")
    // might_contain applied as a Filter (inside codegen), and the exact
    // verify join still broadcasts — corpus shingles never shuffle
    assert(p.contains("might_contain"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q96: hash sampling gets the WindowGroupLimit top-k pushdown") {
    // each partition retains k rows per group before the window sort —
    // sampling 5 docs/source from 100 TB must not sort 100 TB
    assert(plan("q96_hash_sample").contains("WindowGroupLimit"))
  }

  test("q98: the market series joins broadcast; per-key aggs never reshuffle it") {
    assert(plan("q98_beta").contains("BroadcastHashJoin"), plan("q98_beta"))
  }

  test("q92: change capture is ONE key shuffle — a single full-outer join") {
    val p = plan("q92_change_capture")
    assert(p.contains("FullOuter"), p)
    // no extra Exchange beyond the join's own two shuffles + final sort:
    // the struct pack/compare is projection-only
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 3, s"expected <=3 Exchanges (2 join inputs + "
      + s"ordering), got $exchanges:\n$p")
  }

  test("q125/q126/q127/q130/q134: the risk battery rides ONE hash Exchange each") {
    // every operator here is window-passes-then-keyed-agg where the
    // aggregation clusters on (a superset of) the window key — a second
    // hash Exchange would mean the tick stream reshuffles; q134
    // additionally packs ALL cone horizons into one window pass (a
    // per-horizon union measured 3 Exchanges before the stack rewrite)
    for (q <- Seq("q125_var_cvar", "q126_sortino", "q127_flow_imbalance",
        "q130_intraday_profile", "q134_vol_cone", "q135_kyle_lambda",
        "q136_roll_spread", "q138_variance_ratio", "q139_event_study")) {
      val p = plan(q)
      assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, s"$q: $p")
    }
  }

  test("q128/q129: bar-then-cross-section analytics are exactly TWO hash Exchanges") {
    // first Exchange builds the (key, bar) OHLC frame from ticks; the
    // second moves only the aggregated bar frame (one row per key-day)
    // to its channel/rank grain — a transpose, not a tick reshuffle
    for (q <- Seq("q128_atr_channels", "q129_momentum_rank")) {
      val p = plan(q)
      assert("Exchange hashpartitioning".r.findAllIn(p).size === 2, s"$q: $p")
    }
  }

  test("q132: the top-K token rank gets the WindowGroupLimit pushdown") {
    // rows past rank 100 are dropped per-partition before the full
    // per-source sort — the frequency table never materializes sorted
    val p = plan("q132_zipf_slope")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q133: the pair expansion broadcast-joins the aggregate-sized mean frame") {
    val p = plan("q133_pair_spread")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("pair family falls back to shuffle-hash past the bucket-axis broadcast guard") {
    // maxInstruments bounds the KEY axis, but the broadcast side is the
    // bucket-mean frame — Σ_k buckets_k rows, growing with the calendar
    // span. Threshold 0 forces each operator's long-span path: the
    // span-sized frame must shuffle-hash-join, never broadcast (the
    // contamination fallback pattern, q65's spec shape)
    import graft.ops.{Risk, Stats}
    val ev = Tables.load(spark, dir, "events").filter(col("value").isNotNull)
    val corrFb = Stats.corrMatrix(ev, "event_type",
      date_trunc("hour", col("ts")), col("value"), maxBroadcastRows = 0L)
    val pCorr = corrFb.queryExecution.executedPlan.toString
    assert(pCorr.contains("ShuffledHashJoin"), pCorr)
    assert(!pCorr.contains("BroadcastHashJoin"), pCorr)
    val pSpread = Risk.pairSpread(ev, "event_type",
        date_trunc("hour", col("ts")), col("value"), maxBroadcastRows = 0L)
      .queryExecution.executedPlan.toString
    assert(pSpread.contains("ShuffledHashJoin"), pSpread)
    assert(!pSpread.contains("BroadcastHashJoin"), pSpread)
    val pLag = Risk.leadLagCorr(ev, "event_type",
        date_trunc("hour", col("ts")), col("value"), maxLag = 3,
        maxBroadcastRows = 0L)
      .queryExecution.executedPlan.toString
    assert(pLag.contains("ShuffledHashJoin"), pLag)
    assert(!pLag.contains("BroadcastHashJoin"), pLag)
    // both physical paths compute the identical answer
    val viaBroadcast = Stats.corrMatrix(ev, "event_type",
      date_trunc("hour", col("ts")), col("value")).collect().toSet
    assert(corrFb.collect().toSet === viaBroadcast)
    spark.catalog.clearCache() // release the operators' persists
  }

  test("q153: banded phash candidates come from a chunk equi-join — never a cartesian") {
    // the exact twin (q152) is all-pairs BY DESIGN and guarded; the
    // banded path must stay an equi-join on (chunk, ck)
    val p = plan("q153_phash_banded")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    spark.catalog.clearCache() // the operator persists the chunked hashes
  }

  test("q160: every unified-manifest edge source is an equi-join — never a cartesian") {
    // three modality edge families + CC + split hash composed: none of
    // them may degrade to a product (text = shared-shingle equi-join,
    // image/audio = chunk equi-joins, flags/split = key joins)
    val p = plan("q160_multimodal_manifest")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    spark.catalog.clearCache() // jaccard/banded operators persist frames
  }

  test("q131: containment candidates come from equi-joins — never a cartesian") {
    val p = plan("q131_containment_dups")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q144: lead-lag reads the persisted return frame — one tick scan, broadcast pairs") {
    val p = plan("q144_leadlag_corr")
    // both pair sides read the persisted return frame (the plan STRING
    // re-prints the cached build subtree per reference, so scans can't
    // be counted textually — the cache reads are the executable truth)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    spark.catalog.clearCache() // release the operator's persist
  }

  test("q145: vocab via TakeOrderedAndProject, membership by broadcast — no global sort") {
    val p = plan("q145_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q166: PQ codebook and distance table broadcast — never a cartesian or sort-merge") {
    // assignment join (s = cs) and ADC join (s, code) must ride the
    // broadcast of the nSub·nCodes frames; the vector side never
    // shuffles for a join
    val p = plan("q166_pq_adc")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q188: span detection is window + agg on the positional shingle axis — no join") {
    // freq and keep-first ride ONE shingle-keyed window; islands ride
    // one doc window — a pair join anywhere here would be the n² the
    // positional formulation exists to avoid
    val p = plan("q188_dup_spans")
    assert(!p.contains("Join"), p)
  }

  test("q189: the strip is a doc-equi range anti-join — never a cartesian") {
    val p = plan("q189_strip_dup_spans")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q190: IVFADC probes and codebook broadcast — never a cartesian or sort-merge") {
    // the candidate restriction (left_semi on probed-list members),
    // code assignment, and ADC distance joins must all ride broadcasts;
    // the vector side never shuffles for a join
    val p = plan("q190_ivfadc")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q167: corpus overlap is a shingle equi-join; slice sizes broadcast") {
    val p = plan("q167_corpus_overlap")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    spark.catalog.clearCache() // the operator persists the slice sets
  }

  test("q169: novelty is window + agg on one shingle axis — no join at all") {
    val p = plan("q169_novelty")
    assert(!p.contains("Join"), p)
  }

  test("q171: rolling beta joins the broadcast market frame — ticks shuffle only to aggregate") {
    val p = plan("q171_rolling_beta")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q217: winnow overlap joins are hash joins — never cartesian or sort-merge") {
    // the fp self-join and both corpus-sized size rejoins must stay
    // ShuffledHashJoin (hinted): a SortMergeJoin would add three sorts
    // of the fingerprint relation, and a broadcast of corpus-derived
    // sizes would ship the corpus to every executor
    val p = plan("q217_winnow_overlap")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("SortMergeJoin"), p)
    assert(p.contains("ShuffledHashJoin"), p)
    graft.engine.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q219: SQ8 per-dimension stats broadcast onto the explode — no shuffle for the codes") {
    val p = plan("q219_sq8_audit")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q220: CMS estimates join the broadcast sketch; the sketch agg partials map-side") {
    val p = plan("q220_cms_heavyhitters")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the exact top-k never globally sorts the gram counts
    assert(p.contains("TakeOrderedAndProject"), p)
    graft.engine.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q227: KMV bottom-k windows are WindowGroupLimit-pruned; pair grid broadcasts") {
    // the per-slice and per-pair bottom-k row_number filters must push
    // below the window sort as WindowGroupLimit (each partition keeps
    // k rows BEFORE sorting — the difference between sorting k and
    // sorting every hash per slice at 100 TB), and the slice²-bounded
    // pair grid must broadcast onto the k-row samples. The grid itself
    // is a DELIBERATE broadcast nested-loop cross of two slice-distinct
    // frames (maxSlices-guarded) — pinned to that exact shape so any
    // OTHER nested loop (e.g. a corpus-sized one) still fails the test
    val p = plan("q227_kmv_sweep")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    val bnlj = "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(p).toSeq
    assert(bnlj.nonEmpty && bnlj.forall(j =>
      j.contains("Cross") && j.contains("slice_a") && j.contains("slice_b")),
      bnlj.mkString("\n"))
    graft.engine.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q242: both fusion inputs cut by TakeOrderedAndProject — no global sort reaches the corpus") {
    // each retriever must end in a top-N pushdown (sort only k rows per
    // partition, merge on the driver) — a plain Sort + Limit over the
    // scored corpus is the 100 TB failure shape; the fusion join and
    // final cut then run on ≤2N rows
    val p = plan("q242_hybrid_rrf")
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q243: the selective filtered search broadcasts the query and never sort-merges") {
    // exact prefilter path: the allowed-id semi-join and the one-row
    // query frame must both broadcast — the corpus shuffles for
    // NOTHING here; the top-k is a TakeOrderedAndProject
    val p = plan("q243_filtered_ann")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    graft.engine.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q246: the BM25 probe partition-prunes the tf scan to the query terms' buckets and pushes the term filter") {
    // the whole point of the persisted lexical index: a probe must
    // read the query terms' slice, never re-scan the full tf table —
    // bucket dirs prune at the source level, the term IN-filter
    // reaches the parquet reader
    val p = plan("q246_bm25_probe")
    assert(p.contains("PartitionFilters"), p)
    val pf = "PartitionFilters: \\[[^\\]]*".r.findAllIn(p).toSeq
    assert(pf.exists(f => f.contains("bucket") && f.contains("IN")), pf.mkString("\n"))
    assert("PushedFilters: \\[[^\\]]*".r.findAllIn(p).exists(f =>
      f.contains("In(token")), p)
    graft.engine.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q252/q253: the multi-query probes keep both prunings — tf bucket dirs + token pushdown, assignments cluster dirs") {
    // the join forms must not lose the single-probe scan shape: the
    // BM25 side still partition-prunes tf to the UNION of the batch's
    // term buckets with the term IN-filter at the reader, and the
    // dense side still prunes assignments to the probed cluster dirs
    val p = plan("q252_bm25_probe_join")
    assert(p.contains("PartitionFilters"), p)
    val pf = "PartitionFilters: \\[[^\\]]*".r.findAllIn(p).toSeq
    assert(pf.exists(f => f.contains("bucket") && f.contains("IN")), pf.mkString("\n"))
    assert("PushedFilters: \\[[^\\]]*".r.findAllIn(p).exists(f =>
      f.contains("In(token")), p)
    graft.engine.Caches.releaseAll()
    spark.catalog.clearCache()
    // dense side at serving width (nProbe=4): per-query probed
    // clusters union to < all 16 dirs for a single query
    val emb = Tables.load(spark, dir, "embeddings")
    val idx2 = Files.createTempDirectory("graft_ipj_plan").toString + "/index"
    graft.vector.Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx2, nCentroids = 16)
    val q1 = emb.filter(col("vec_id") === 0L).select(col("vec_id"), col("embedding"))
    val probe = graft.vector.Similarity.ivfProbeJoin(spark, idx2, q1,
      "vec_id", "embedding", 10, nProbe = 4)
    probe.collect() // finalize the adaptive plan
    val dp = probe.queryExecution.executedPlan.toString
    val cpf = "PartitionFilters: \\[cluster#\\d+ IN \\(([-0-9,]+)\\)".r
      .findAllMatchIn(dp).map(_.group(1)).toSeq
    assert(cpf.nonEmpty, dp)
    assert(cpf.exists(_.split(",").length === 4),
      s"expected a 4-cluster pruning IN, got $cpf")
    graft.engine.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("AQE splits a skewed join partition at runtime (skew-join enabled in Sessions.tune)") {
    import spark.implicits._
    // one key carries ~100k rows against a 4-row dimension; with the
    // skew thresholds lowered to the fixture's scale, the executed
    // adaptive plan must show the skewed shuffle read — the mechanism
    // that absorbs hot keys at 100 TB without manual salting
    val old = (
      spark.conf.getOption("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      spark.conf.getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold"))
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val big = spark.range(100000L)
        .select(when(col("id") % 100 === 0, col("id") % 7).otherwise(lit(3L)).as("k"),
          concat(lit("payload_"), col("id")).as("v"))
      val dim = Seq((0L, "a"), (3L, "b"), (5L, "c"), (6L, "d")).toDF("k", "name")
      val joined = big.join(dim.hint("shuffle_hash"), Seq("k"))
      // collect() executes THIS frame's own plan (count() would plan a
      // separate aggregate tree and leave this one unexecuted);
      // 99000 hot-key rows + 571 of the 1000 spread rows match the dim
      assert(joined.collect().length === 99571)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p)          // the join went skew-aware
      assert(p.contains("skewed"), p)             // AQEShuffleRead ... skewed
    } finally {
      def restore(k: String, v: Option[String]) =
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      restore("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", old._1)
      restore("spark.sql.adaptive.advisoryPartitionSizeInBytes", old._2)
      restore("spark.sql.adaptive.autoBroadcastJoinThreshold", old._3)
    }
  }

  test("date-partitioned tables prune untouched partitions at the scan") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_prune").toString + "/t"
    val df = Seq(
      (Date.valueOf("2024-01-01"), 1.0),
      (Date.valueOf("2024-01-02"), 2.0),
      (Date.valueOf("2024-01-03"), 3.0)).toDF("partition_date", "v")
    graft.engine.Layout.overwritePartitioned(df, t)
    val filtered = spark.read.parquet(t)
      .filter($"partition_date" === Date.valueOf("2024-01-02"))
    val p = filtered.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("partition_date"), p)
    assert(filtered.count() === 1)
  }

  test("BM25 build: the doclen write shuffles by doc-hash bucket, never a single-task funnel") {
    // r13 verdict's one scale-killer: doclen (one row PER DOCUMENT)
    // used to write through coalesce(1) — at 10⁹ docs the whole
    // doc-length relation serialized through a single task. The build
    // must shuffle it by dbucket instead; this guard captures the
    // actual write plan and fails if a single-partition coalesce ever
    // sneaks back in.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val idx = Files.createTempDirectory("graft_bm25_plan").toString + "/index"
    try {
      graft.text.TextStats.buildBm25Index(
        Tables.load(spark, dir, "documents"), "doc_id", "text", idx)
      // listener delivery is async — poll for the doclen insert plan
      def doclenPlan: Option[String] =
        plans.asScala.find(p => p.contains("/doclen") && p.contains("Insert"))
      val deadline = System.currentTimeMillis() + 15000
      while (doclenPlan.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val p = doclenPlan.getOrElse(
        fail(s"no doclen write plan captured; saw ${plans.size} plans"))
      assert(p.contains("hashpartitioning(dbucket"),
        s"doclen write lost its dbucket shuffle:\n$p")
      assert(!p.toLowerCase.contains("coalesce 1") &&
        !p.contains("Coalesce(1"),
        s"doclen write funnels through a single partition:\n$p")
    } finally spark.listenerManager.unregister(l)
  }
}
