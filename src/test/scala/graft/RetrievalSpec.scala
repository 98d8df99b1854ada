package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.IndexLifecycle
import graft.ops.Retrieval
import graft.vector.Similarity

/** Hybrid retrieval (RRF fusion) and filtered ANN. */
class RetrievalSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("rrfFuse: two-list arithmetic, union semantics, id tiebreak") {
    val lex = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "lex_rank")
    val dense = Seq((20L, 1L), (40L, 2L)).toDF("id", "dense_rank")
    val out = Retrieval.rrfFuse(lex, dense, kRrf = 60, topK = 10)
      .as[(Long, Option[Long], Option[Long], Double)].collect().toSeq
    // 20 appears on both lists: 1/62 + 1/61 beats every single-list score
    assert(out.head._1 === 20L)
    assert(out.head._4 === BigDecimal(1.0 / 62 + 1.0 / 61)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // one-sided ids keep their single-term score (missing term = 0)
    val m = out.map(r => r._1 -> r._4).toMap
    assert(m(10L) === BigDecimal(1.0 / 61)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(m(40L) === BigDecimal(1.0 / 62)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // 10 (lex rank 1) and 40 (dense rank 2): 1/61 > 1/62; 20 > 10 > 40 > 30
    assert(out.map(_._1) === Seq(20L, 10L, 40L, 30L))
  }

  test("rrfFuse: equal scores break ties by id ascending") {
    val lex = Seq((7L, 1L)).toDF("id", "lex_rank")
    val dense = Seq((3L, 1L)).toDF("id", "dense_rank")
    val out = Retrieval.rrfFuse(lex, dense, kRrf = 60, topK = 10)
      .select("id").as[Long].collect().toSeq
    assert(out === Seq(3L, 7L))
  }

  test("hybridTopK: fuses the BM25 and cosine lists over the testdata corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Retrieval.hybridTopK(docs, emb, "doc_id", "text",
      "vec_id", "embedding", Seq("spark", "vector", "merge"), 0L,
      perList = 10, topK = 10)
    val rows = out.collect()
    assert(rows.length === 10)
    // the fused score must equal the recomputed terms row by row
    rows.foreach { r =>
      val lexT = if (r.isNullAt(1)) 0.0 else 1.0 / (60 + r.getLong(1))
      val denT = if (r.isNullAt(2)) 0.0 else 1.0 / (60 + r.getLong(2))
      val want = BigDecimal(lexT + denT)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) === want)
    }
    // descending by fused score with the id tiebreak (total order)
    val key = rows.map(r => (-r.getDouble(3), r.getLong(0))).toSeq
    assert(key === key.sorted)
  }

  test("filteredTopK: selective predicate takes the exact path; broad-path probe at full width matches it") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = java.nio.file.Files.createTempDirectory("graft_fann").toString + "/index"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx)
    val allowed = emb.filter(col("label") === 1).select(col("vec_id").as("id"))
    val exact = Similarity.cosineTopK(
        emb.filter(col("label") === 1 || col("vec_id") === 0L),
        "vec_id", "embedding", 0L, 10)
      .as[(Long, Double)].collect().toSeq
    // selective path (default budget): exact by construction
    val sel = Similarity.filteredTopK(spark, idx, emb, "vec_id", "embedding",
        allowed, 0L, 10)
      .as[(Long, Double)].collect().toSeq
    assert(sel === exact)
    // broad path forced (budget 0) at FULL probe width: the pruned
    // probe degenerates to a full scan, so it must equal the exact
    // scan — the law anchoring the width/recall trade
    val broadFull = Similarity.filteredTopK(spark, idx, emb, "vec_id",
        "embedding", allowed, 0L, 10,
        nProbe = graft.ops.GuardBounds.DefaultIvfCentroids,
        bruteForceBelow = 0L)
      .as[(Long, Double)].collect().toSeq
    assert(broadFull === exact)
    // narrow probe: hits are a subset of some valid ranking and every
    // hit satisfies the predicate (recall < 1 is allowed, leakage is not)
    val narrow = Similarity.filteredTopK(spark, idx, emb, "vec_id",
        "embedding", allowed, 0L, 10, nProbe = 4, bruteForceBelow = 0L)
      .as[(Long, Double)].collect().toSeq
    val labels = emb.filter(col("vec_id").isin(narrow.map(_._1): _*))
      .select("label").distinct().as[Int].collect().toSeq
    assert(labels === Seq(1))
  }

  test("retrievalEval: hand-checked precision, MRR, DCG, nDCG") {
    // ranking: ids 1..4 by score; relevant = {2, 4, 9} (9 not retrieved)
    val ranking = Seq((1L, 0.9), (2L, 0.8), (3L, 0.7), (4L, 0.6))
      .toDF("id", "score")
    val rel = Seq(2L, 4L, 9L).toDF("id")
    val r = Retrieval.retrievalEval(ranking, "id", "score", rel,
      nRelevantTotal = 3L, k = 4).collect().head
    assert(r.getInt(0) === 4)            // k
    assert(r.getLong(1) === 2L)          // n_rel: ids 2 and 4
    assert(r.getDouble(2) === 0.5)       // precision 2/4
    assert(r.getDouble(3) === 0.5)       // mrr: first relevant at rank 2
    def t(i: Int) = BigDecimal(1.0 / (math.log(i + 1.0) / math.log(2.0)))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val dcg = t(2) + t(4) // gains at ranks 2 and 4
    val idcg = t(1) + t(2) + t(3) // min(R=3, k=4) ideal terms
    assert(r.getDouble(4) ===
      dcg.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getDouble(5) === BigDecimal(dcg.toDouble / idcg.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("retrievalEval: no relevant hits → zero MRR and nDCG") {
    val ranking = Seq((1L, 0.9), (2L, 0.8)).toDF("id", "score")
    val rel = Seq(99L).toDF("id")
    val r = Retrieval.retrievalEval(ranking, "id", "score", rel, 1L, 2)
      .collect().head
    assert(r.getLong(1) === 0L)
    assert(r.getDouble(3) === 0.0)
    assert(r.getDouble(4) === 0.0)
    assert(r.getDouble(5) === 0.0)
  }

  test("mmrRerank: diversity term demotes the near-duplicate of an already-selected hit") {
    // query 0 = [1, 0]; id 1 nearest (cos .8), id 2 a near-dup of id 1
    // (cos .79 to query, ~.9999 to id 1), id 3 on the OTHER side of the
    // query (cos .7 to query, only ~.13 to id 1 — diversity needs the
    // sign flip: two vectors both near q can't be very dissimilar).
    // Pure relevance ranks 1, 2, 3; MMR at λ=0.7 picks diverse 3 second.
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.8f, 0.6f)),
      (2L, Seq(0.79f, 0.61320215f)),
      (3L, Seq(0.7f, -0.71414284f))
    ).toDF("vec_id", "embedding")
    val out = Retrieval.mmrRerank(df, "vec_id", "embedding", 0L,
      k = 3, nCandidates = 3, lambda = 0.7)
      .select("mmr_rank", "id").as[(Long, Long)].collect().toSeq
    assert(out === Seq((1L, 1L), (2L, 3L), (3L, 2L)))
  }

  test("mmrRerank: candidate cap refuses loudly; k bounded by candidates") {
    val df = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Retrieval.mmrRerank(df, "vec_id", "embedding", 0L, k = 5,
        nCandidates = 500)
    }
    assert(e.getMessage.contains("bounded-rerank cap"))
    // fewer candidates than k: returns what exists, ranks stay 1..n
    val out = Retrieval.mmrRerank(df, "vec_id", "embedding", 0L,
      k = 1, nCandidates = 1)
    assert(out.count() === 1L)
  }

  test("ivfProbeWhere: empty predicate set yields an empty result; bad frame shape refuses") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = java.nio.file.Files.createTempDirectory("graft_fann2").toString + "/index"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx, nCentroids = 4)
    val none = emb.filter(col("label") === -1).select(col("vec_id").as("id"))
    assert(Similarity.ivfProbeByIdWhere(spark, idx, emb, "vec_id", "embedding",
      none, 0L, 10, nProbe = 4).count() === 0L)
    val bad = emb.select(col("vec_id"), col("label"))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfProbeWhere(spark, idx, bad, Seq(1.0, 0.0), 5)
    }
    assert(e.getMessage.contains("single `id` column"))
  }

  // ---- the multi-query (JOIN) probe laws: batch form ≡ per-query form

  private val fixtureQueries = Seq(
    0L -> Seq("spark", "vector", "merge"),
    1L -> Seq("hash", "join", "stream"),
    2L -> Seq("window", "sort"))

  test("ivfProbeJoin: per-query rows equal ivfProbeById; zero-norm query rows are absent, not garbage") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = java.nio.file.Files.createTempDirectory("graft_ipj").toString + "/index"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding"))
    val got = Similarity.ivfProbeJoin(spark, idx, queries, "vec_id",
        "embedding", 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    (0L to 2L).foreach { q =>
      val want = Similarity.ivfProbeById(spark, idx, emb, "vec_id",
          "embedding", q, 5)
        .as[(Long, Double)].collect().toSeq
      val block = got(q).map(r => (r._2, r._3))
        .sortBy { case (id, c) => (-c, id) }.toSeq
      assert(block === want, s"query $q diverged from the single probe")
    }
    graft.engine.Caches.releaseAll()
    // a zero-norm query is excluded (no rows), never NaN-ranked
    val zq = spark.range(1).select(lit(999L).as("vec_id"),
      array((0 until 16).map(_ => lit(0.0f)): _*).as("embedding"))
    assert(Similarity.ivfProbeJoin(spark, idx, zq, "vec_id", "embedding", 5)
      .count() === 0L)
    graft.engine.Caches.releaseAll()
  }

  test("bm25ProbeJoin: per-query rows equal bm25Probe, with and without pending tombstones; duplicate terms refuse") {
    import graft.text.TextStats
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val idx = java.nio.file.Files.createTempDirectory("graft_bpj").toString + "/index"
    TextStats.buildBm25Index(docs, "doc_id", "text", idx)
    val qs = fixtureQueries.toDF("query_id", "terms")
    def check(): Unit = {
      val got = TextStats.bm25ProbeJoin(spark, idx, qs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .groupBy(_._1)
      fixtureQueries.foreach { case (q, terms) =>
        val want = TextStats.bm25Probe(spark, idx, terms)
          .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
        val block = got(q).map(r => (r._2, r._3, r._4)).sortBy(_._1).toSeq
        assert(block === want, s"query $q diverged from the single probe")
      }
    }
    check()
    // tombstone the first 40 docs WITHOUT purging: both probes must
    // re-derive df/totals from live rows and still agree
    IndexLifecycle.delete(IndexLifecycle.Bm25, spark, idx,
      docs.filter(col("doc_id") < 40).select("doc_id"), "doc_id",
      purgeAboveRows = 1000000L)
    check()
    // a query repeating a term (case-insensitively) refuses loudly
    val dup = Seq((7L, Seq("spark", "Spark"))).toDF("query_id", "terms")
    val e = intercept[IllegalArgumentException] {
      graft.text.TextStats.bm25ProbeJoin(spark, idx, dup)
    }
    assert(e.getMessage.contains("distinct per query"), e.getMessage)
  }

  test("bm25ProbeJoin: a batch beyond MaxProbeTerms distinct terms refuses loudly") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val idx = java.nio.file.Files.createTempDirectory("graft_bpj2").toString + "/index"
    graft.text.TextStats.buildBm25Index(docs.limit(5), "doc_id", "text", idx)
    val n = graft.ops.GuardBounds.MaxProbeTerms.toInt + 1
    val wide = Seq((0L, (0 until n).map(i => s"t$i"))).toDF("query_id", "terms")
    val e = intercept[IllegalArgumentException] {
      graft.text.TextStats.bm25ProbeJoin(spark, idx, wide)
    }
    assert(e.getMessage.contains("distinct terms"), e.getMessage)
  }

  test("hybridProbeJoin: per-query blocks equal hybridProbeTopK verbatim") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val bmIdx = java.nio.file.Files.createTempDirectory("graft_hpj_bm").toString + "/index"
    val ivfIdx = java.nio.file.Files.createTempDirectory("graft_hpj_ivf").toString + "/index"
    graft.text.TextStats.buildBm25Index(docs, "doc_id", "text", bmIdx)
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", ivfIdx)
    val qs = fixtureQueries.toDF("query_id", "terms")
    val got = Retrieval.hybridProbeJoin(spark, bmIdx, ivfIdx, emb,
        "vec_id", "embedding", qs).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getDouble(4)))
      .groupBy(_._1)
    fixtureQueries.foreach { case (q, terms) =>
      val want = Retrieval.hybridProbeTopK(spark, bmIdx, ivfIdx, emb,
          "vec_id", "embedding", terms, q)
        .as[(Long, Option[Long], Option[Long], Double)].collect().toSeq
        .sortBy(_._1)
      val block = got(q).map(r => (r._2, r._3, r._4, r._5))
        .sortBy(_._1).toSeq
      assert(block === want, s"query $q diverged from the single-query hybrid")
    }
    graft.engine.Caches.releaseAll()
  }
}
