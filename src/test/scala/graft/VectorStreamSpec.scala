package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Media
import graft.streaming.EventStream
import graft.vector.Similarity

/** Similarity search, streaming (MemoryStream-driven), and multimodal
  * plumbing.
  */
class VectorStreamSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("cosine: identical vectors → 1, orthogonal → 0") {
    val df = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(1.0f, 0.0f), 0),  // identical to query
      (2L, Seq(0.0f, 1.0f), 1),  // orthogonal
      (3L, Seq(-1.0f, 0.0f), 1)  // opposite
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.cosineTopK(df, "vec_id", "embedding", 0L, 3)
      .as[(Long, Double)].collect()
    assert(out.head === ((1L, 1.0)))
    assert(out(1) === ((2L, 0.0)))
    assert(out(2) === ((3L, -1.0)))
  }

  test("pqTopK: assignment, ADC sums, and argmin tie-break to smaller code") {
    // dim 4, 2 subspaces of width 2, codebook = ids 0,1:
    //   sub codes: code 0 = [0,0], code 1 = [1,0] (both subspaces)
    // query id 0 ⇒ qdist(s, 0) = 0, qdist(s, 1) = 1 for each subspace
    val df = Seq(
      (0L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(1.0f, 0.0f, 1.0f, 0.0f)),   // codes (1,1) → adc 2
      (2L, Seq(0.9f, 0.0f, 0.1f, 0.0f)),   // codes (1,0) → adc 1
      (3L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),   // codes (0,1) → adc 1
      (4L, Seq(0.5f, 0.0f, 0.0f, 0.0f))    // sub0 EQUIDISTANT → code 0 → adc 0
    ).toDF("vec_id", "embedding")
    val out = Similarity.pqTopK(df, "vec_id", "embedding", 0L, 4,
      nSub = 2, nCodes = 2).as[(Long, Double)].collect()
    assert(out.toSeq === Seq((4L, 0.0), (2L, 1.0), (3L, 1.0), (1L, 2.0)))
  }

  test("ivfAdcTopK: probing every list equals the unpruned ADC scan") {
    // nProbe = nCentroids ⇒ no pruning: IVFADC must reproduce pqTopK
    // bit-for-bit (same codebook, same training, same ranking)
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val full = Similarity.pqTopK(emb, "vec_id", "embedding", 0L, 10,
      nSub = 16, nCodes = 64, trainIters = 1).as[(Long, Double)].collect()
    val ivf = Similarity.ivfAdcTopK(emb, "vec_id", "embedding", 0L, 10,
      nCentroids = 4, nProbe = 4, nSub = 16, nCodes = 64, trainIters = 1)
      .as[(Long, Double)].collect()
    assert(ivf.toSeq === full.toSeq)
  }

  test("ivfAdcTopK: results come only from probed inverted lists") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = Similarity.centroids(emb, "vec_id", "embedding", 4)
    val asg = Similarity.ivfAssign(emb, cents, "vec_id", "embedding")
      .as[(Long, Long)].collect().toMap
    val qv = emb.filter(col("vec_id") === 0L)
    val probed = cents.crossJoin(broadcast(qv.select(col("embedding").as("_q"))))
      .withColumn("_cos", Similarity.cosine(col("centroid_vec"), col("_q")))
      .orderBy(col("_cos").desc, col("centroid_id").asc).limit(2)
      .select("centroid_id").as[Long].collect().toSet
    val out = Similarity.ivfAdcTopK(emb, "vec_id", "embedding", 0L, 10,
      nCentroids = 4, nProbe = 2, nSub = 16, nCodes = 64, trainIters = 1)
      .as[(Long, Double)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (id, _) => probed.contains(asg(id)) },
      s"result outside probed lists: ${out.mkString(", ")}")
  }

  test("pqTopK: empty corpus yields an empty result, not a crash") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Similarity.pqTopK(empty, "vec_id", "embedding", 0L, 5).count() === 0L)
  }

  test("annRecall: recall 1.0 when every vector is its own codeword (unit norms)") {
    // unit vectors make L2² = 2 − 2cos, so PQ's L2 ranking equals the
    // exact cosine ranking; nCodes >= n makes quantization lossless —
    // the gate must then read a perfect overlap
    val df = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 0.0f, 1.0f)),
      (4L, Seq(0.6f, 0.8f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.annRecall(df, "vec_id", "embedding", 0L, 4)
      .as[(Int, Long, Double)].collect().head
    assert(r === ((4, 4L, 1.0)))
  }

  test("ivf search returns k rows and finds the exact top-1 on testdata") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 10)
      .as[(Long, Double)].collect()
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", 0L, 10,
      nCentroids = 8, nProbe = 4).as[(Long, Double)].collect()
    assert(ivf.length === 10)
    // half the clusters probed → recall well above chance; top hits overlap
    val recall = ivf.map(_._1).toSet.intersect(brute.map(_._1).toSet).size
    assert(recall >= 5, s"recall $recall/10 too low")
  }

  test("quantizeAudit: lossless when values sit on the int8 grid, zero vectors excluded") {
    val emb = Seq(
      (1L, Seq(127.0f, -127.0f, 0.0f)), // absmax 127 → scale 1, exact grid
      (2L, Seq(0.0f, 0.0f, 0.0f))       // zero vector: no scale, excluded
    ).toDF("vec_id", "embedding")
    val got = Similarity.quantizeAudit(emb, "vec_id", "embedding")
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(got.length === 1)
    val (id, n, scale, mse, maxErr) = got.head
    assert((id, n, scale) === ((1L, 3L, 1.0)))
    assert(mse === 0.0 && maxErr === 0.0) // on-grid values reconstruct exactly
  }

  test("knnGraphBucketed refuses a hot bucket, names it, and stays exact under the cap") {
    import spark.implicits._
    // one giant bucket (0: 60 rows) + two normal ones (1, 2: 5 rows each)
    val rows = (0L until 70L).map { id =>
      val b = if (id < 60) 0L else 1L + id % 2
      (id, b, Seq(1.0f + id, 2.0f, 3.0f))
    }
    val emb = rows.toDF("vec_id", "bucket", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.knnGraphBucketed(emb, "vec_id", "embedding", "bucket", 3,
        maxBucket = 50L).count()
    }
    assert(e.getMessage.contains("maxBucket=50"), e.getMessage)
    assert(e.getMessage.contains("0=60"), e.getMessage) // offender named
    // same corpus under the cap: completes, and results are unchanged
    // from an uncapped run — the guard never alters surviving output
    val capped = Similarity.knnGraphBucketed(emb, "vec_id", "embedding",
      "bucket", 3, maxBucket = 60L).collect().toSet
    val uncapped = Similarity.knnGraphBucketed(emb, "vec_id", "embedding",
      "bucket", 3).collect().toSet
    assert(capped === uncapped)
    assert(capped.nonEmpty)
  }

  test("persisted IVF index probe matches the inline ivfTopK search exactly") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString + "/index"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx)
    val inline = Similarity.ivfTopK(emb, "vec_id", "embedding", 0L, 10)
      .as[(Long, Double)].collect().toSeq
    val probe = Similarity.ivfProbeById(spark, idx, emb, "vec_id", "embedding", 0L, 10)
      .as[(Long, Double)].collect().toSeq
    // same centroids (deterministic stride init), same probe width →
    // the pruned-partition scan must return the identical ranked rows
    assert(probe === inline)
  }

  test("maintainIvfIndex: drifted batch drops probe recall on append, rebuild restores it") {
    import spark.implicits._
    // base corpus spans e1/e2; the drifted batch lives in e3 — a region
    // the base's stride centroids cannot resolve. Jitter makes vectors
    // distinct while keeping cross-region cosines exactly 0, so cluster
    // assignment and probe ranking tie deterministically.
    def baseVec(i: Long): Seq[Float] =
      if (i % 2 == 0) Seq(1.0f, 0.001f * i, 0.0f, 0.0f)
      else Seq(0.001f * i, 1.0f, 0.0f, 0.0f)
    val base = (0L until 50L).map(i => (i, baseVec(i))).toDF("vec_id", "embedding")
    val drifted = (50L until 110L).map(i =>
      (i, Seq(0.0f, 0.0f, 1.0f, 0.001f * i))).toDF("vec_id", "embedding")
    val query = Seq(0.0, 0.0, 1.0, 0.0)
    // brute-force truth: the drifted vectors with the smallest e4 jitter
    val bruteTop = (50L to 54L).toSeq
    // path A — the stale-centroid churn path the rebuild contract warns
    // about: plain append, then a 1-probe search in the drifted region
    val idxA = java.nio.file.Files.createTempDirectory("graft_ivf_da").toString + "/index"
    Similarity.buildIvfIndex(base, "vec_id", "embedding", idxA, nCentroids = 2)
    Similarity.appendIvfIndex(drifted, "vec_id", "embedding", idxA)
    val recallA = Similarity.ivfProbe(spark, idxA, query, 5, nProbe = 1)
      .as[(Long, Double)].collect().map(_._1).toSet.intersect(bruteTop.toSet).size
    assert(recallA === 0, s"stale centroids should lose the drifted region, recall=$recallA")
    // path B — drift-gated maintenance: the same batch trips the gate
    // (cross-region centroid cosine ~0 < 0.7) and triggers a rebuild
    val idxB = java.nio.file.Files.createTempDirectory("graft_ivf_db").toString + "/index"
    Similarity.buildIvfIndex(base, "vec_id", "embedding", idxB, nCentroids = 2)
    val m = Similarity.maintainIvfIndex(drifted, "vec_id", "embedding", idxB,
      minCentroidCosine = 0.7, nCentroids = 3)
    assert(m.rebuilt && m.appended === 60L, m)
    assert(m.centroidCosine.exists(c => c.abs < 0.2), m)
    // rebuilt centroids include the drifted region (stride id 62) — the
    // same 1-probe search now returns exactly the brute-force top-5
    val afterRebuild = Similarity.ivfProbe(spark, idxB, query, 5, nProbe = 1)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(afterRebuild === bruteTop, afterRebuild)
    // an UNdrifted follow-up batch (same e3 region as the now-indexed
    // corpus mix) takes the cheap append path and stays probe-visible
    val followUp = (110L until 120L).map(i =>
      (i, Seq(0.0f, 0.0f, 1.0f, 0.001f * i))).toDF("vec_id", "embedding")
    val m2 = Similarity.maintainIvfIndex(followUp, "vec_id", "embedding", idxB,
      minCentroidCosine = 0.7, nCentroids = 3)
    assert(!m2.rebuilt && m2.appended === 10L, m2)
    assert(m2.centroidCosine.exists(_ >= 0.7), m2)
    val afterAppend = Similarity.ivfProbe(spark, idxB, query, 5, nProbe = 1)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(afterAppend === bruteTop, afterAppend)
  }

  test("appendIvfIndex: probes see appended vectors without an index rebuild") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString + "/index"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx)
    // a new vector EXACTLY along query 0's direction (scaled 2×): cosine
    // 1.0 — after the append it must rank first, on the same index files
    val q0 = emb.filter(col("vec_id") === 0L).select("embedding")
      .as[Seq[Float]].head()
    val batch = Seq((100000L, q0.map(x => x * 2.0f)))
      .toDF("vec_id", "embedding")
    val before = Similarity.ivfProbeById(spark, idx, emb, "vec_id",
      "embedding", 0L, 10).as[(Long, Double)].collect().toSeq
    assert(Similarity.appendIvfIndex(batch, "vec_id", "embedding", idx) === 1L)
    val after = Similarity.ivfProbeById(spark, idx, emb, "vec_id",
      "embedding", 0L, 10).as[(Long, Double)].collect().toSeq
    assert(after.head === ((100000L, 1.0)))
    // everything previously found is still there, shifted one rank
    assert(after.tail === before.take(9))
  }

  test("persisted IVFADC probe matches inline ivfAdcTopK; append encodes with the frozen codebook") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfadc_spec").toString + "/index"
    Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding", idx)
    graft.engine.Caches.releaseAll()
    val inline = Similarity.ivfAdcTopK(emb, "vec_id", "embedding", 0L, 10)
      .as[(Long, Double)].collect().toSeq
    val probe = Similarity.ivfAdcProbeById(spark, idx, emb, "vec_id",
      "embedding", 0L, 10).as[(Long, Double)].collect().toSeq
    // same coarse quantizer, same trained codebook, same ADC arithmetic
    // → the persisted probe must return the identical ranked rows
    assert(probe === inline)
    // append an exact COPY of query 0's vector under a fresh id: its
    // per-subspace codes are the argmin for the query's own subvectors,
    // so its ADC distance is the global minimum (no other code
    // assignment can beat per-subspace argmin) — after the append it
    // must appear in the top-k of the SAME index files
    val q0 = emb.filter(col("vec_id") === 0L).select("embedding")
      .as[Seq[Float]].head()
    val batch = Seq((100000L, q0)).toDF("vec_id", "embedding")
    assert(Similarity.appendIvfAdcIndex(batch, "vec_id", "embedding", idx) === 1L)
    val after = Similarity.ivfAdcProbeById(spark, idx, emb, "vec_id",
      "embedding", 0L, 10).as[(Long, Double)].collect().toSeq
    assert(after.map(_._1).contains(100000L), after)
    assert(after.find(_._1 == 100000L).get._2 === after.map(_._2).min)
    // everything else keeps its relative order
    assert(after.filterNot(_._1 == 100000L) === inline.take(9))
    // the batched JOIN equals per-query probes, and a zero-norm query
    // row is EXCLUDED (no rows, not NaN garbage) while the rest of the
    // batch still answers
    val dim = q0.size
    val batch3 = Seq((0L, q0), (7L, emb.filter(col("vec_id") === 7L)
        .select("embedding").as[Seq[Float]].head()),
      (999L, Seq.fill(dim)(0.0f))).toDF("vec_id", "embedding")
    val joined = Similarity.ivfAdcProbeJoin(spark, idx, batch3, "vec_id",
      "embedding", 10).as[(Long, Long, Double)].collect().toSeq
    assert(joined.map(_._1).toSet === Set(0L, 7L), joined.map(_._1).toSet)
    val solo7 = Similarity.ivfAdcProbeById(spark, idx, emb, "vec_id",
      "embedding", 7L, 10).as[(Long, Double)].collect().toSeq
    assert(joined.filter(_._1 == 7L).map(r => (r._2, r._3)) === solo7)
  }

  test("maintainIvfAdcIndex: PQ-decoded drift gates append vs rebuild; rebuild restores recall") {
    import spark.implicits._
    // the maintainIvfIndex fixture, PQ edition: base corpus in e1/e2,
    // drifted batch in e3 — a region the base index can neither probe
    // (stale centroids) nor encode well (frozen codebook)
    def baseVec(i: Long): Seq[Float] =
      if (i % 2 == 0) Seq(1.0f, 0.001f * i, 0.0f, 0.0f)
      else Seq(0.001f * i, 1.0f, 0.0f, 0.0f)
    val base = (0L until 50L).map(i => (i, baseVec(i))).toDF("vec_id", "embedding")
    val drifted = (50L until 110L).map(i =>
      (i, Seq(0.0f, 0.0f, 1.0f, 0.001f * i))).toDF("vec_id", "embedding")
    val query = Seq(0.0, 0.0, 1.0, 0.0)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfadc_m").toString + "/index"
    Similarity.buildIvfAdcIndex(base, "vec_id", "embedding", idx,
      nCentroids = 2, nSub = 2, nCodes = 16)
    graft.engine.Caches.releaseAll()
    // drift gate trips: the PQ-decoded corpus lives in e1/e2, the batch
    // in e3 — centroid cosine ~0 < 0.7 → rebuild (centroids AND codebook)
    val m = Similarity.maintainIvfAdcIndex(drifted, "vec_id", "embedding",
      base, idx, minCentroidCosine = 0.7, nCentroids = 3, nSub = 2,
      nCodes = 16)
    graft.engine.Caches.releaseAll()
    assert(m.rebuilt && m.appended === 60L, m)
    assert(m.centroidCosine.exists(c => c.abs < 0.2), m)
    // the rebuilt index probes the drifted region: a 1-probe e3 search
    // returns only drifted vectors
    val found = Similarity.ivfAdcProbe(spark, idx, query, 5, nProbe = 1)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(found.nonEmpty && found.forall(_ >= 50L), found)
    // an undrifted follow-up (same e3 region, now part of the decoded
    // corpus mix) takes the cheap frozen-codebook append path. The gate
    // here is 0.6, not the IVF spec's 0.7: the decoded side carries
    // quantization error, so an ADC deployment calibrates its gate
    // against DECODED drift readings (measured 0.665 on this mix vs
    // the raw-vector 0.7+ of the IVF fixture)
    val followUp = (110L until 120L).map(i =>
      (i, Seq(0.0f, 0.0f, 1.0f, 0.001f * i))).toDF("vec_id", "embedding")
    val m2 = Similarity.maintainIvfAdcIndex(followUp, "vec_id", "embedding",
      base.unionByName(drifted), idx, minCentroidCosine = 0.6,
      nCentroids = 3, nSub = 2, nCodes = 16)
    assert(!m2.rebuilt && m2.appended === 10L, m2)
    assert(m2.centroidCosine.exists(_ >= 0.6), m2)
  }

  test("sinkIvfAdcAppend: streamed vectors become probe-visible; batch replay is a no-op") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfadc_sink").toString + "/index"
    Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding", idx)
    graft.engine.Caches.releaseAll()
    val n0 = spark.read.parquet(s"$idx/codes").count()
    val q0 = emb.filter(col("vec_id") === 0L).select("embedding")
      .as[Seq[Float]].head()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ivfadc_ck").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val sink = EventStream.sinkIvfAdcAppend(
      mem.toDF().toDF("vec_id", "embedding"), idx, ckpt)
    mem.addData((200000L, q0)) // exact copy of query 0's vector
    sink.processAllAvailable()
    mem.addData((200001L, emb.filter(col("vec_id") === 7L)
      .select("embedding").as[Seq[Float]].head()))
    sink.processAllAvailable()
    sink.stop()
    assert(spark.read.parquet(s"$idx/codes").count() === n0 + 2)
    // the streamed copy probes as the global ADC minimum on the live index
    val after = Similarity.ivfAdcProbeById(spark, idx, emb, "vec_id",
      "embedding", 0L, 10).as[(Long, Double)].collect().toSeq
    assert(after.map(_._1).contains(200000L), after)
    assert(after.find(_._1 == 200000L).get._2 === after.map(_._2).min)
    // a RETRIED micro-batch id is a no-op: same rows, no double-append
    EventStream.appendIvfAdcBatchIdempotent(
      Seq((200000L, q0)).toDF("vec_id", "embedding"), idx, batchId = 0L)
    assert(spark.read.parquet(s"$idx/codes").count() === n0 + 2)
    graft.engine.Caches.releaseAll()
  }

  test("annProbeSink: streamed queries equal per-batch probe joins; retried batch is a no-op") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = java.nio.file.Files.createTempDirectory("graft_probe_sink").toString + "/index"
    Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding", idx)
    graft.engine.Caches.releaseAll()
    val out = java.nio.file.Files.createTempDirectory("graft_probe_out").toString + "/res"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_probe_ck").toString
    implicit val sqlCtx = spark.sqlContext
    def qv(id: Long): Seq[Float] = emb.filter(col("vec_id") === id)
      .select("embedding").as[Seq[Float]].head()
    val mem = MemoryStream[(Long, Seq[Float])]
    val sink = EventStream.annProbeSink(
      mem.toDF().toDF("vec_id", "embedding"), idx, out, ckpt, k = 5)
    mem.addData((0L, qv(0L)), (1L, qv(1L)))
    sink.processAllAvailable()
    mem.addData((2L, qv(2L)))
    sink.processAllAvailable()
    sink.stop()
    val got = spark.read.parquet(out)
      .select("query_id", "vec_id", "adc_dist")
      .as[(Long, Long, Double)].collect().toSet
    // the streamed results must equal ONE batch probe join over the
    // same three queries (itself law-proven equal to per-query probes)
    val want = Similarity.ivfAdcProbeJoin(spark, idx,
        emb.filter(col("vec_id") < 3), "vec_id", "embedding", 5,
        idName = "vec_id")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want)
    // every row carries its probe epoch; a retried batch id re-appends nothing
    val n0 = spark.read.parquet(out).count()
    assert(spark.read.parquet(out).select("probe_epoch").distinct().count() === 2)
    EventStream.idempotentPromote(spark, out, out, batchId = 0L) { staging =>
      spark.read.parquet(out).limit(1)
        .write.mode("overwrite").parquet(staging)
    }
    assert(spark.read.parquet(out).count() === n0)
    graft.engine.Caches.releaseAll()
  }

  test("ivfAdcProbeJoin refuses a hot probed-list plan with the offender named") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfadc_hot").toString + "/index"
    Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding", idx)
    graft.engine.Caches.releaseAll()
    val batch = emb.filter(col("vec_id") < 3)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfAdcProbeJoin(spark, idx, batch, "vec_id", "embedding",
        10, maxCandidates = 10L)
    }
    assert(e.getMessage.contains("maxCandidates") &&
      e.getMessage.contains("hottest probed list"), e.getMessage)
    graft.engine.Caches.releaseAll()
  }

  test("sq8Audit: codes span 0..255, extremes reconstruct exactly, constant dim codes 0") {
    import spark.implicits._
    // dim 0 spans [-1, 1]; dim 1 constant (mx == mn → code 0, err 0)
    val emb = Seq(
      (1L, Seq(-1.0f, 5.0f)),
      (2L, Seq(0.0f, 5.0f)),
      (3L, Seq(1.0f, 5.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.sq8Audit(emb, "vec_id", "embedding")
      .orderBy("vec_id").as[(Long, Long, Long, Long)].collect()
    // vec 1: dim0 at the min → code 0, exact recon; dim1 constant → 0
    assert(out(0) === ((1L, 2L, 0L, 0L)))
    // vec 2: dim0 midpoint → code floor(1e6·255/2e6) = 127,
    // recon = -1e6 + floor(127·2e6/255) = -1e6 + 996078 → err 3922
    assert(out(1) === ((2L, 2L, 127L, 3922L)))
    // vec 3: dim0 at the max → code 255, exact recon
    assert(out(2) === ((3L, 2L, 255L, 0L)))
  }

  test("pcaWhiten: whitened covariance is the identity on a correlated corpus") {
    import spark.implicits._
    // strongly correlated dims: x2 ≈ 2·x1, x3 independent, x4 ≈ −x3 —
    // raw covariance is far from diagonal
    val rnd = new scala.util.Random(11)
    val rows = (0L until 300L).map { i =>
      val a = rnd.nextGaussian(); val b = rnd.nextGaussian()
      (i, Seq(a, 2.0 * a + 0.1 * rnd.nextGaussian(), b,
        -b + 0.1 * rnd.nextGaussian()).map(_.toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val raw = Similarity.embeddingCovariance(emb, "vec_id", "embedding")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => ((r._1, r._2), r._4)).toMap
    assert(math.abs(raw((0L, 1L))) > 0.5, raw((0L, 1L))) // correlated input
    val white = Similarity.pcaWhiten(emb, "vec_id", "embedding")
    val wcov = Similarity.embeddingCovariance(white, "vec_id", "v")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => ((r._1, r._2), r._4)).toMap
    for (i <- 0L until 4L; j <- i until 4L) {
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(wcov((i, j)) - want) < 1e-3,
        s"cov($i,$j) = ${wcov((i, j))}")
    }
    // deterministic: a second run reproduces the transform bit-for-bit
    val again = Similarity.pcaWhiten(emb, "vec_id", "embedding")
      .as[(Long, Seq[Double])].collect().toSet
    assert(again === white.as[(Long, Seq[Double])].collect().toSet)
  }

  test("ivfProbe refuses a zero-norm query vector") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_spec0").toString + "/index"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfProbe(spark, idx, Seq(0.0, 0.0, 0.0), 5)
    }
    assert(e.getMessage.contains("zero norm"))
  }

  /** 4 direction clusters of 25 16-dim vectors each; vec `id` is in
    * cluster `id % 4`.
    */
  private def clustered = {
    val rnd = new scala.util.Random(7)
    val dim = 16
    val base = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian()))
    (0L until 100L).map { id =>
      val c = (id % 4).toInt
      (id, base(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("k-means centroids recover true clusters; nProbe=1 IVF stays exact on clustered data") {
    // 4 well-separated direction clusters of 25 vectors each, id-ordered
    // so the id%4 cluster layout is adversarial to stride init (stride 31
    // lands one init in each residue class, but far from cluster means).
    // This is the data regime kmeansCentroids exists for — real embedding
    // corpora are clustered, unlike the isotropic testdata embeddings.
    val emb = clustered
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 4, iters = 3)
    // every final cluster must be pure: all members share one id%4 class
    val assigned = Similarity.ivfAssign(emb, cents, "vec_id", "embedding")
      .as[(Long, Long)].collect()
    val purity = assigned.groupBy(_._2).values.forall(g =>
      g.map(_._1 % 4).distinct.length === 1)
    assert(purity, "a k-means cluster mixes two true clusters")
    assert(assigned.map(_._2).distinct.length === 4)
    // probing a SINGLE cluster of four already matches brute force:
    // the query's whole true cluster is behind its nearest centroid
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 5)
      .as[(Long, Double)].collect().map(_._1).toSet
    val ivf1 = Similarity.ivfTopK(emb, "vec_id", "embedding", 0L, 5,
      nCentroids = 4, nProbe = 1, kmeansIters = 3)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(ivf1 === brute)
  }

  test("a persisted k-means IVF index stores float centroids and probes like brute force") {
    val emb = clustered
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_kmeans")
      .toString + "/index"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx,
      nCentroids = 4, kmeansIters = 3)
    assert(spark.read.parquet(s"$idx/centroids").schema ===
      graft.engine.IndexTable.Centroids.schema)
    assert(spark.read.parquet(s"$idx/centroids").count() === 4L)
    val q = emb.filter(col("vec_id") === 0L).head().getSeq[Float](1)
      .map(_.toDouble)
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 5)
      .as[(Long, Double)].collect().map(_._1).toSet
    val probed = Similarity.ivfProbe(spark, idx, q, 5, nProbe = 1,
      excludeId = Some(0L)).as[(Long, Double)].collect().map(_._1).toSet
    assert(probed === brute)
    assert(Similarity.fsckIvfIndex(spark, idx).collect()
      .forall(_.getBoolean(1)))
    graft.engine.Caches.releaseAll()
  }

  test("streaming tumbling window agg matches the batch computation") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val input = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventStream.tumblingStats(input, "1 hour", "2 hours")
      .writeStream.outputMode("complete").format("memory")
      .queryName("tumbling_out").start()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:55:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 11:05:00"), "click", 4.0))
    q.processAllAvailable()
    val got = spark.table("tumbling_out")
      .select("win_start", "event_type", "n_events", "total_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDecimal(3).doubleValue())).toSet
    q.stop()
    assert(got === Set(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "click", 2L, 3.0),
      (Timestamp.valueOf("2024-01-01 11:00:00"), "click", 1L, 4.0)))
  }

  test("ohlcBarsStream equals batch ohlcBars on the same ticks (open/close tiebreak included)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, date_trunc}
    // two ticks share the 10:00:30 timestamp — seq must break the tie
    // for open/close exactly as the batch row_number pair does
    val ticks = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:10"), "a", 1L, 10.0),
      (Timestamp.valueOf("2024-01-01 10:00:30"), "a", 2L, 14.0),
      (Timestamp.valueOf("2024-01-01 10:00:30"), "a", 3L, 8.0),
      (Timestamp.valueOf("2024-01-01 10:01:10"), "a", 4L, 11.0),
      (Timestamp.valueOf("2024-01-01 10:00:20"), "b", 5L, 50.0))
    val mem = MemoryStream[(Timestamp, String, Long, Double)]
    val q = EventStream.ohlcBarsStream(
        mem.toDF().toDF("ts", "sym", "seq", "price"), "sym", "seq", "price")
      .writeStream.outputMode("complete").format("memory")
      .queryName("ohlc_out").start()
    mem.addData(ticks.take(3): _*)
    q.processAllAvailable()
    mem.addData(ticks.drop(3): _*)
    q.processAllAvailable()
    val got = spark.table("ohlc_out")
      .select("bar", "sym", "open", "high", "low", "close", "volume", "n_ticks")
      .as[(Timestamp, String, Double, Double, Double, Double, Double, Long)]
      .collect().toSet
    q.stop()
    val want = graft.ops.Stats.ohlcBars(
        ticks.toDF("ts", "sym", "seq", "price"), Seq("sym"),
        date_trunc("minute", col("ts")), Seq(col("ts"), col("seq")), "price")
      .select(col("bar").cast("timestamp"), col("sym"), col("open"),
        col("high"), col("low"), col("close"), col("volume"), col("n_ticks"))
      .as[(Timestamp, String, Double, Double, Double, Double, Double, Long)]
      .collect().toSet
    assert(got === want)
    // the tied-timestamp bar: close must be seq 3 (8.0), not seq 2 —
    // the (ts, seq) struct order decides between the two 10:00:30 ticks
    val bar0 = got.find(r => r._2 == "a" &&
      r._1 == Timestamp.valueOf("2024-01-01 10:00:00")).get
    assert((bar0._3, bar0._6) === ((10.0, 8.0)))
  }

  test("sinkBronze lands micro-batches partitioned by date, one file per date per batch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val q = EventStream.sinkBronze(
      mem.toDF().toDF("user_id", "ts", "value"), s"$dir/bronze", s"$dir/ckpt")
    mem.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (2L, Timestamp.valueOf("2024-01-02 10:00:00"), 2.0))
    q.processAllAvailable()
    mem.addData((3L, Timestamp.valueOf("2024-01-01 11:00:00"), 3.0))
    q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet(s"$dir/bronze")
    assert(back.count() === 3) // second batch appended, first survived
    assert(back.select("partition_date").distinct().count() === 2)
    // colocated write: each batch wrote exactly one file per touched date
    val d1 = new java.io.File(s"$dir/bronze/partition_date=2024-01-01")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(d1 === 2) // one from each batch
  }

  test("appendBatchIdempotent: a replayed batch id writes exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idem").toString + "/t"
    val batch = Seq((1L, java.sql.Date.valueOf("2024-01-01"), 1.0))
      .toDF("user_id", "partition_date", "value")
    EventStream.appendBatchIdempotent(batch, dir, batchId = 7L)
    EventStream.appendBatchIdempotent(batch, dir, batchId = 7L) // retry, skipped
    EventStream.appendBatchIdempotent(batch, dir, batchId = 8L) // new batch
    assert(spark.read.parquet(dir).count() === 2)
  }

  test("idempotentPromote undoes a partial promote before re-appending (crash mid-rename)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_crash").toString + "/t"
    val batch = Seq((1L, java.sql.Date.valueOf("2024-01-01"), 1.0))
      .toDF("user_id", "partition_date", "value")
    EventStream.appendBatchIdempotent(batch, dir, batchId = 7L)
    assert(spark.read.parquet(dir).count() === 1)
    // fabricate the crash-mid-rename state for batch 9: one of its
    // files already renamed into the live tree, the filelist present,
    // NO marker — the window where the old append-then-marker shape
    // duplicated the whole batch on retry
    val partDir = new java.io.File(s"$dir/partition_date=2024-01-01")
    val live = partDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val orphan = new java.io.File(partDir, "graft-batch-9-orphan.parquet")
    java.nio.file.Files.copy(live.toPath, orphan.toPath)
    val manifest = new java.io.File(s"$dir/_graft_manifest")
    manifest.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(manifest, "batch-9.files").toPath,
      (orphan.getAbsolutePath + "\n").getBytes("UTF-8"))
    assert(spark.read.parquet(dir).count() === 2) // duplicate visible pre-retry
    EventStream.appendBatchIdempotent(batch, dir, batchId = 9L) // retry
    assert(!orphan.exists(), "partial promote was not undone")
    assert(spark.read.parquet(dir).count() === 2) // batch 9 exactly once
    // stale staging (crash DURING the staged write) is also swept
    val staging = new java.io.File(s"$dir/_graft_staging/batch-11")
    staging.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(staging, "junk.parquet").toPath, Array[Byte](1, 2))
    EventStream.appendBatchIdempotent(batch, dir, batchId = 11L)
    assert(spark.read.parquet(dir).count() === 3)
    assert(!new java.io.File(s"$dir/_graft_staging/batch-11").exists())
  }

  test("stream-static broadcast enrichment attaches dimension columns") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val input = mem.toDF().toDF("user_id", "value")
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("uid", "tier")
    val q = EventStream.enrichWithDim(input, dim, "user_id", "uid")
      .writeStream.outputMode("append").format("memory")
      .queryName("enrich_out").start()
    mem.addData((1L, 10.0), (2L, 20.0), (3L, 30.0))
    q.processAllAvailable()
    val got = spark.table("enrich_out")
      .select("user_id", "tier").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    q.stop()
    assert(got === Set((1L, Some("gold")), (2L, Some("silver")), (3L, None)))
  }

  test("stream-stream interval join attributes clicks within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val purch = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp, Double)]
    val joined = EventStream.intervalJoin(
      purch.toDF().toDF("user_id", "ts"),
      clicks.toDF().toDF("user_id", "ts", "value"),
      "user_id", "ts", horizonSeconds = 3600)
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("attrib_out").start()
    purch.addData((1L, Timestamp.valueOf("2024-01-01 12:00:00")))
    clicks.addData(
      (1L, Timestamp.valueOf("2024-01-01 11:30:00"), 5.0),  // inside horizon
      (1L, Timestamp.valueOf("2024-01-01 10:30:00"), 6.0),  // too old
      (1L, Timestamp.valueOf("2024-01-01 12:30:00"), 7.0),  // after purchase
      (2L, Timestamp.valueOf("2024-01-01 11:45:00"), 8.0))  // other key
    q.processAllAvailable()
    val got = spark.table("attrib_out")
      .select("user_id", "r_value").as[(Long, Double)].collect().toSet
    q.stop()
    assert(got === Set((1L, 5.0)))
  }

  test("streaming dedup drops duplicate keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val input = mem.toDF().toDF("user_id", "ts", "value")
    val q = EventStream.dedupStream(input, "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    mem.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 2.0), // dup key
      (2L, Timestamp.valueOf("2024-01-01 10:00:00"), 3.0))
    q.processAllAvailable()
    val n = spark.table("dedup_out").count()
    q.stop()
    assert(n === 2)
  }

  test("streaming anomaly scoring against static moments matches the batch scorer") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // history establishes the moments; the live stream is scored with a
    // stream-static broadcast join, no streaming state
    val history = ((1L to 20L).map(i => (i, "a", 10.0 + (i % 3))) :+ (21L, "a", 50.0))
      .toDF("event_id", "event_type", "value")
    val moments = graft.ops.Stats.keyMoments(history, "event_type", "value")
    val mem = MemoryStream[(Long, String, Double)]
    val q = graft.ops.Stats.scoreAgainstMoments(
        mem.toDF().toDF("event_id", "event_type", "value"), moments,
        "event_type", "value", "event_id", 3.0)
      .writeStream.outputMode("append").format("memory")
      .queryName("anomaly_out").start()
    mem.addData((100L, "a", 11.0), (101L, "a", 60.0), (102L, "b", 999.0))
    q.processAllAvailable()
    val got = spark.table("anomaly_out").select("event_id").as[Long].collect().toSet
    q.stop()
    // 60.0 is >3σ of the history; 11.0 is typical; type "b" has no
    // moments row → unscorable, dropped by the inner join
    assert(got === Set(101L))
    // and the composed batch op still flags the same spike on history
    assert(graft.ops.Stats.zScoreAnomalies(history, "event_type", "value",
      "event_id", 3.0).select("event_id").as[Long].collect().toSet === Set(21L))
  }

  test("streaming market-level scoring against static levels matches the batch scorer") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // history establishes the per-instrument levels (VWAP, latest EWMA,
    // latest RSI, σ); live ticks are scored by a stream-static broadcast
    // join — no streaming state, so batch and stream must agree exactly
    val history = (1L to 20L).map(i =>
        (i, "a", if (i % 2 == 0) 11.0 else 10.0, 1L))
      .toDF("seq", "event_type", "value", "qty")
    val levels = graft.ops.Stats.keyLevels(
      history, "event_type", Seq(col("seq")), "value", col("qty"))
    val live = Seq((100L, "a", 10.5), (101L, "a", 14.0), (102L, "b", 999.0))
    val batch = graft.ops.Stats.scoreAgainstLevels(
        live.toDF("event_id", "event_type", "value"), levels,
        "event_type", "value", "event_id", 2.0, 20.0)
      .as[(Long, String, Double, Double, Double, String)].collect().toSet
    val mem = MemoryStream[(Long, String, Double)]
    val q = graft.ops.Stats.scoreAgainstLevels(
        mem.toDF().toDF("event_id", "event_type", "value"), levels,
        "event_type", "value", "event_id", 2.0, 20.0)
      .writeStream.outputMode("append").format("memory")
      .queryName("levels_out").start()
    mem.addData(live: _*)
    q.processAllAvailable()
    val streamed = spark.table("levels_out")
      .as[(Long, String, Double, Double, Double, String)].collect().toSet
    q.stop()
    assert(streamed === batch)
    // 14.0 is far above the ~10.5 smoothed level; 10.5 is typical; "b"
    // has no levels row → unscorable, dropped by the inner join
    assert(streamed.map(_._1) === Set(101L))
  }

  test("ewmaStream folds state across micro-batches; equals batch ewma at full width") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val mem = MemoryStream[(String, Long, Double)]
    val q = EventStream.ewmaStream(spark,
        mem.toDF().toDF("sym", "seq", "price"), "sym", "seq", "price", 0.25)
      .writeStream.outputMode("update").format("memory")
      .queryName("ewma_out").start()
    // two micro-batches: keys a and b must carry state across the
    // boundary, and key c (first seen in batch 2) must seed fresh
    mem.addData(("a", 1L, 10.0), ("a", 2L, 14.0), ("b", 1L, 100.0))
    q.processAllAvailable()
    mem.addData(("a", 3L, 8.0), ("b", 2L, 104.0), ("c", 1L, 50.0))
    q.processAllAvailable()
    val got = spark.table("ewma_out")
      .select("key", "seq", "ewma").as[(String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    q.stop()
    assert(got(("a", 1L)) === 10.0)
    assert(got(("a", 2L)) === 10.0 * 0.75 + 0.25 * 14.0)
    assert(got(("a", 3L)) === got(("a", 2L)) * 0.75 + 0.25 * 8.0) // crossed batches
    assert(got(("b", 2L)) === 100.0 * 0.75 + 0.25 * 104.0)
    assert(got(("c", 1L)) === 50.0) // fresh key in a later batch seeds cleanly
    // batch-equivalence law: with a frame wider than the history, the
    // batch windowed ewma computes the identical recursion — and since
    // the stream now rounds each emission exactly as the batch operator
    // rounds each row, the agreement is BIT-EXACT, not a tolerance
    val batch = graft.ops.Stats.ewma(
        Seq(("a", 1L, 10.0), ("a", 2L, 14.0), ("a", 3L, 8.0),
          ("b", 1L, 100.0), ("b", 2L, 104.0), ("c", 1L, 50.0))
          .toDF("sym", "seq", "price"),
        "sym", Seq(col("seq")), col("price"), 0.25, window = 20)
      .select("sym", "seq", "ewma").as[(String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    batch.foreach { case (k, v) =>
      assert(got(k) === v, s"$k stream=${got(k)} batch=$v") }
  }

  test("rsiStream matches the batch RSI tick-for-tick across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ticks = Seq(("a", 1L, 10.0), ("a", 2L, 12.0), ("a", 3L, 11.0),
      ("a", 4L, 15.0), ("a", 5L, 14.0), ("a", 6L, 16.0), ("b", 1L, 5.0))
    val mem = MemoryStream[(String, Long, Double)]
    // period 3 over 6 ticks: the delta deque trims across the batch split
    val q = EventStream.rsiStream(spark,
        mem.toDF().toDF("sym", "seq", "price"), "sym", "seq", "price", period = 3)
      .writeStream.outputMode("update").format("memory")
      .queryName("rsi_out").start()
    mem.addData(ticks.take(3): _*)
    q.processAllAvailable()
    mem.addData(ticks.drop(3): _*)
    q.processAllAvailable()
    val got = spark.table("rsi_out")
      .select("key", "seq", "n_deltas", "rsi")
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    q.stop()
    val batch = graft.ops.Stats.rsi(
        ticks.toDF("sym", "seq", "price"), "sym", Seq(col("seq")),
        col("price"), period = 3)
      .select("sym", "seq", "n_deltas", "rsi")
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got === batch) // integer-valued fixtures: doubles agree exactly
    assert(got(("b", 1L)) === ((0L, None))) // no deltas yet → undefined
  }

  test("rsiStream quantizes like the batch cast: sub-6dp wiggle is NOT a gain") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // both ticks collapse to 1.000000 under DECIMAL(18,6): the batch
    // delta is 0 ⇒ RSI undefined; a raw-double fold would see +3e-7 as
    // a pure gain and emit RSI 100 — the stream must match the batch
    val ticks = Seq(("a", 1L, 1.0000001), ("a", 2L, 1.0000004))
    val mem = MemoryStream[(String, Long, Double)]
    val q = EventStream.rsiStream(spark,
        mem.toDF().toDF("sym", "seq", "price"), "sym", "seq", "price", period = 3)
      .writeStream.outputMode("update").format("memory")
      .queryName("rsi_q_out").start()
    mem.addData(ticks: _*)
    q.processAllAvailable()
    val got = spark.table("rsi_q_out")
      .select("key", "seq", "n_deltas", "rsi")
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    q.stop()
    val batch = graft.ops.Stats.rsi(
        ticks.toDF("sym", "seq", "price"), "sym", Seq(col("seq")),
        col("price"), period = 3)
      .select("sym", "seq", "n_deltas", "rsi")
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got === batch)
    assert(got(("a", 2L))._2 === None) // zero quantized delta ⇒ undefined
  }

  test("bollingerStream matches the batch bands tick-for-tick across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // window 3 over 6 ticks with a batch split mid-frame: the value
    // deque must carry across micro-batches; b's single tick has no
    // sample std ⇒ no bands, as in batch
    val ticks = Seq(("a", 1L, 10.0), ("a", 2L, 12.5), ("a", 3L, 11.25),
      ("a", 4L, 15.0), ("a", 5L, 14.125), ("a", 6L, 16.0), ("b", 1L, 5.0))
    val mem = MemoryStream[(String, Long, Double)]
    val q = EventStream.bollingerStream(spark,
        mem.toDF().toDF("sym", "seq", "price"), "sym", "seq", "price",
        window = 3, k = 2.0)
      .writeStream.outputMode("update").format("memory")
      .queryName("boll_out").start()
    mem.addData(ticks.take(3): _*)
    q.processAllAvailable()
    mem.addData(ticks.drop(3): _*)
    q.processAllAvailable()
    val got = spark.table("boll_out")
      .select("key", "seq", "roll_n", "bb_mid", "bb_upper", "bb_lower", "pct_b")
      .as[(String, Long, Long, Double, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    q.stop()
    val batch = graft.ops.Stats.bollinger(
        ticks.toDF("sym", "seq", "price"), "sym", Seq(col("seq")),
        col("price"), window = 3, k = 2.0)
      .select(col("sym"), col("seq"), col("roll_n"), col("bb_mid"),
        col("bb_upper"), col("bb_lower"), col("pct_b"))
      .as[(String, Long, Long, Double, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    assert(got === batch)
    assert(got(("b", 1L))._2 === 5.0)   // mid = the lone value
    assert(got(("b", 1L))._3 === None)  // no sample std ⇒ no bands
  }

  test("bollingerStream survives a collapsed band: NULL %B matching batch, stream stays alive") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // the zero-width-band edge: without the rounded-width guard the
    // stream-side division is Infinity and r6 throws, killing the query
    val ticks = Seq(("a", 1L, 5.0), ("a", 2L, 5.0), ("a", 3L, 5.000001))
    val mem = MemoryStream[(String, Long, Double)]
    val q = EventStream.bollingerStream(spark,
        mem.toDF().toDF("sym", "seq", "price"), "sym", "seq", "price",
        window = 3, k = 0.4)
      .writeStream.outputMode("update").format("memory")
      .queryName("boll_edge_out").start()
    mem.addData(ticks: _*)
    q.processAllAvailable()
    val got = spark.table("boll_edge_out")
      .select("key", "seq", "bb_upper", "bb_lower", "pct_b")
      .as[(String, Long, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._2 -> ((r._3, r._4, r._5))).toMap
    q.stop()
    val batch = graft.ops.Stats.bollinger(
        ticks.toDF("sym", "seq", "price"), "sym", Seq(col("seq")),
        col("price"), window = 3, k = 0.4)
      .select(col("seq"), col("bb_upper"), col("bb_lower"), col("pct_b"))
      .as[(Long, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === batch)
    assert(got(3L)._3 === None) // collapsed band ⇒ %B undefined, both sides
  }

  test("semanticDedup and centroids: an id space missing the stride still dedups") {
    // ids 1..5 contain no multiple of 31 — the stride sampler finds
    // nothing and must fall back to the first nonzero vectors, or the
    // operator silently keeps every duplicate
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)),  // exact dups
      (3L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    assert(!Similarity.centroids(vecs, "vec_id", "embedding", 2).isEmpty)
    val got = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        nCentroids = 2, threshold = 0.95)
      .select("vec_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> true))
  }

  test("vwapStream's latest emission per key equals the batch VWAP over the prefix") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ticks = Seq(("a", 1L, 10.0, 2.0), ("a", 2L, 20.0, 1.0),
      ("b", 1L, 7.0, 3.0), ("a", 3L, 30.0, 3.0))
    val mem = MemoryStream[(String, Long, Double, Double)]
    val q = EventStream.vwapStream(spark,
        mem.toDF().toDF("sym", "seq", "price", "qty"),
        "sym", "seq", "price", "qty")
      .writeStream.outputMode("update").format("memory")
      .queryName("vwap_out").start()
    mem.addData(ticks.take(2): _*)
    q.processAllAvailable()
    mem.addData(ticks.drop(2): _*)
    q.processAllAvailable()
    val latest = spark.table("vwap_out")
      .as[(String, Long, Long, Double, Option[Double])].collect()
      .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
    q.stop()
    val batch = graft.ops.Stats.vwap(
        ticks.toDF("sym", "seq", "price", "qty"), Seq("sym"),
        col("price"), col("qty"))
      .select("sym", "n_trades", "total_qty", "vwap")
      .as[(String, Long, Double, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    Seq("a", "b").foreach { k =>
      val (_, _, n, qty, vwap) = latest(k)
      assert((n, qty, vwap) === ((batch(k)._2, batch(k)._3, batch(k)._4)), k)
    }
  }

  test("sharpeStream's latest emission per key equals the batch Sharpe over the prefix") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // a: 100→110→99→108.9 gives returns +0.1, -0.1, +0.1 split across
    // micro-batches (the power sums must carry); b has one return (no
    // sample variance ⇒ NULL sharpe); c never gets a defined return
    val ticks = Seq(("a", 1L, 100.0), ("a", 2L, 110.0), ("b", 1L, 50.0),
      ("a", 3L, 99.0), ("a", 4L, 108.9), ("b", 2L, 55.0), ("c", 1L, 5.0))
    val mem = MemoryStream[(String, Long, Double)]
    val q = EventStream.sharpeStream(spark,
        mem.toDF().toDF("sym", "seq", "price"), "sym", "seq", "price")
      .writeStream.outputMode("update").format("memory")
      .queryName("sharpe_out").start()
    mem.addData(ticks.take(3): _*)
    q.processAllAvailable()
    mem.addData(ticks.drop(3): _*)
    q.processAllAvailable()
    val latest = spark.table("sharpe_out")
      .as[(String, Long, Long, Option[Double], Option[Double])].collect()
      .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
    q.stop()
    val batch = graft.ops.Stats.sharpe(
        ticks.toDF("sym", "seq", "price"), "sym", Seq(col("seq")),
        col("price"))
      .select("sym", "n_returns", "mean_return", "sharpe")
      .as[(String, Long, Double, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    Seq("a", "b").foreach { k =>
      val (_, _, n, mean, sharpe) = latest(k)
      assert((n, mean, sharpe) ===
        ((batch(k)._2, Some(batch(k)._3), batch(k)._4)), k)
    }
    // c: one tick, zero returns — batch drops the key, stream says n=0
    assert(!batch.contains("c") && latest("c")._3 === 0L)
  }

  test("drawdownStream equals batch maxDrawdown over the prefix; peak crosses batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // a: peak 120 set in batch 1, the deep trough 95 arrives in batch 2
    // — the running peak must carry; b: monotone rise, drawdown 0
    val ticks = Seq(("a", 1L, 100.0), ("a", 2L, 120.0), ("b", 1L, 50.0),
      ("a", 3L, 95.0), ("a", 4L, 110.0), ("b", 2L, 60.0))
    val mem = MemoryStream[(String, Long, Double)]
    val q = EventStream.drawdownStream(spark,
        mem.toDF().toDF("sym", "seq", "price"), "sym", "seq", "price")
      .writeStream.outputMode("update").format("memory")
      .queryName("dd_out").start()
    mem.addData(ticks.take(3): _*)
    q.processAllAvailable()
    mem.addData(ticks.drop(3): _*)
    q.processAllAvailable()
    val latest = spark.table("dd_out")
      .as[(String, Long, Long, Double, Double, Double)].collect()
      .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
    q.stop()
    val batch = graft.ops.Stats.maxDrawdown(
        ticks.toDF("sym", "seq", "price"), "sym", Seq(col("seq")),
        col("price"))
      .select("sym", "max_drawdown", "peak", "n_ticks")
      .as[(String, Double, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    Seq("a", "b").foreach { k =>
      val (_, _, n, peak, _, maxDd) = latest(k)
      assert((n, peak, maxDd) ===
        ((batch(k)._4, batch(k)._3, batch(k)._2)), k)
    }
    assert(latest("a")._6 === 25.0)      // 120 → 95
    assert(latest("a")._5 === 10.0)      // current: 120 → 110
    assert(latest("b")._6 === 0.0)
  }

  test("q39's hard-equality premise: auto-banded LSH recall is total on the gate corpora") {
    // the q39 oracle asserts LSH == exact VERBATIM, which since round
    // 13 rests on the SCALE-PARAMETRIC band count (lshBandsForRecall's
    // worst-case collision bound at the threshold) rather than a
    // one-corpus constant — pin the premise here at the two cheap sfs
    // so a seed/fixture/formula change fails in sbt test, not at
    // driver gate time (sf0.1's 920/920 is covered by DevLshBands and
    // the full-registry sf0.1 sweep)
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val emb = Tables.load(spark, s"/root/testdata/$sf", "embeddings")
      val exact = graft.vector.Similarity
        .embedNearDup(emb, "vec_id", "embedding", 0.4)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val lsh = graft.vector.Similarity
        .embedNearDupLsh(emb, "vec_id", "embedding", 0.4, nBands = -1)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      spark.catalog.clearCache() // both operators persist intermediates
      assert(lsh === exact,
        s"$sf: missed=${(exact -- lsh).size} false=${(lsh -- exact).size}")
    }
  }

  test("realizedVarianceStream equals batch RV per (key, bucket); straddle + nulls + bucket roll") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // a: +0.1 inside bucket 1, then a STRADDLING −0.1 that batch assigns
    // to bucket 2 (later tick's bucket), a null tick (drops both sides),
    // then +0.1 closing bucket 2 across the micro-batch split; b's only
    // return lands in bucket 2
    val ticks = Seq(
      ("a", 1L, Option(100.0), 1L), ("a", 2L, Option(110.0), 1L),
      ("a", 3L, Option(99.0), 2L), ("b", 1L, Option(50.0), 1L),
      ("a", 4L, Option.empty[Double], 2L), ("a", 5L, Option(108.9), 2L),
      ("b", 2L, Option(55.0), 2L))
    val mem = MemoryStream[(String, Long, Option[Double], Long)]
    val q = EventStream.realizedVarianceStream(spark,
        mem.toDF().toDF("sym", "seq", "price", "bkt"),
        "sym", "seq", "price", "bkt")
      .writeStream.outputMode("update").format("memory")
      .queryName("rv_out").start()
    mem.addData(ticks.take(4): _*)
    q.processAllAvailable()
    mem.addData(ticks.drop(4): _*)
    q.processAllAvailable()
    val latest = spark.table("rv_out")
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .groupBy(r => (r._1, r._3))
      .map { case (k, rows) => k -> rows.maxBy(_._2) }
    q.stop()
    val batch = graft.ops.Stats.realizedVariance(
        ticks.toDF("sym", "seq", "price", "bkt"), "sym", Seq(col("seq")),
        col("price"), col("bkt"))
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(latest.keySet === batch.keySet)
    latest.foreach { case (k, (_, _, _, n, rv, vol)) =>
      assert((n, rv, vol) === ((batch(k)._3, batch(k)._4, batch(k)._5)), k)
    }
    // hand-pins: a/b2 holds the straddle AND the post-null return
    assert(latest(("a", 2L))._4 === 2L)
    assert(latest(("a", 2L))._5 === 0.02)
    assert(latest(("a", 1L))._5 === 0.01)
  }

  test("atrStream matches batch atrChannels bar-for-bar; true-range chain crosses batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // nBars=2: bar 3 is the first with a full ATR window in the second
    // micro-batch — prev close, TR ring, and Donchian ring must all
    // carry across the batch boundary; bar 4 breaks out above the
    // prior-2 high (12.0 > 11.5? no: dh=max(11.5,12.5)... values chosen
    // so bar 4 breaks DOWN and bar 2 neither)
    val bars = Seq(
      ("a", 1L, 10.0, 9.0, 9.5), ("a", 2L, 11.5, 9.4, 11.0),
      ("b", 1L, 5.0, 4.0, 4.5),
      ("a", 3L, 12.5, 10.8, 12.2), ("a", 4L, 12.0, 8.0, 8.2))
    val mem = MemoryStream[(String, Long, Double, Double, Double)]
    val q = EventStream.atrStream(spark,
        mem.toDF().toDF("sym", "bar", "high", "low", "close"),
        "sym", "bar", "high", "low", "close", nBars = 2)
      .writeStream.outputMode("update").format("memory")
      .queryName("atr_out").start()
    mem.addData(bars.take(3): _*)
    q.processAllAvailable()
    mem.addData(bars.drop(3): _*)
    q.processAllAvailable()
    val got = spark.table("atr_out")
      .as[(String, Long, Double, Double, Double, Option[Double],
        Option[Double], Option[Double], Option[Int], Option[Int])]
      .collect().map(r => (r._1, r._2) -> r).toMap
    q.stop()
    val batch = graft.ops.Risk.atrChannels(
        bars.toDF("sym", "bar", "high", "low", "close"),
        "sym", col("bar"), nBars = 2)
      .as[(String, Long, Double, Double, Double, Option[Double],
        Option[Double], Option[Double], Option[Int], Option[Int])]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(got.keySet === batch.keySet)
    got.keySet.foreach(k => assert(got(k) === batch(k), s"bar $k"))
    // spot-pin the cross-batch cells (hand-computed): bar 3 TR =
    // max(1.7, |12.5-11|=1.5, |10.8-11|=0.2) = 1.7; bar 2 TR =
    // max(2.1, 2.0, 0.1) = 2.1 ⇒ ATR(3) = (2.1+1.7)/2 = 1.9
    assert(got(("a", 3L))._6 === Some(1.9))
    // bar 4: prior-2 low = min(9.4, 10.8) = 9.4; close 8.2 < 9.4 ⇒ down
    assert(got(("a", 4L))._10 === Some(1) && got(("a", 4L))._9 === Some(0))
  }

  test("atrChannels drops null-OHLC bars exactly like the stream (gapped-feed parity)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // a null bar between 1 and 3 must not void the prev-close chain,
    // occupy a frame slot, or appear on the surface — mirror of the
    // sharpe/drawdown/bollinger null-parity fix, for bars
    val bars = Seq(
      ("a", 1L, Option(10.0), Option(9.0), Option(9.5)),
      ("a", 2L, Option.empty[Double], Option(9.0), Option(9.0)),
      ("a", 3L, Option(12.0), Option(10.0), Option(11.0)))
      .toDF("sym", "bar", "high", "low", "close")
    val batch = graft.ops.Risk.atrChannels(bars, "sym", col("bar"), nBars = 2)
      .select("sym", "bar", "atr").as[(String, Long, Option[Double])]
      .collect().map(r => r._2 -> r._3).toMap
    assert(!batch.contains(2L)) // the null bar leaves the surface
    // TR(1)=1, TR(3)=max(2, |12-9.5|, |10-9.5|)=2.5 ⇒ ATR(3)=1.75 —
    // prevClose chains across the dropped bar (9.5, not 9.0)
    assert(batch(3L) === Some(1.75))
    val mem = MemoryStream[(String, Long, Option[Double], Option[Double], Option[Double])]
    val q = EventStream.atrStream(spark,
        mem.toDF().toDF("sym", "bar", "high", "low", "close"),
        "sym", "bar", "high", "low", "close", nBars = 2)
      .writeStream.outputMode("update").format("memory")
      .queryName("atr_nulls").start()
    mem.addData(Seq(
      ("a", 1L, Option(10.0), Option(9.0), Option(9.5)),
      ("a", 2L, Option.empty[Double], Option(9.0), Option(9.0)),
      ("a", 3L, Option(12.0), Option(10.0), Option(11.0))): _*)
    q.processAllAvailable()
    val stream = spark.table("atr_nulls")
      .as[(String, Long, Double, Double, Double, Option[Double],
        Option[Double], Option[Double], Option[Int], Option[Int])]
      .collect().map(r => r._2 -> r._6).toMap
    q.stop()
    assert(stream.keySet === batch.keySet && stream(3L) === batch(3L))
  }

  test("flowImbalanceStream equals batch OFI over the prefix; sign chain crosses batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, lit}
    // FRACTIONAL quantities throughout (normal in crypto feeds): the
    // stream must carry qty as decimal, not long — a long cast would
    // truncate 3.25 to 3 and silently break this equality.
    // a: 10 (unsignable), 10 (zero change, still no sign), 11 (+, q=3.25)
    // | batch split | 11 (zero: inherits +, NULL qty — chain only),
    // 11 (zero: inherits +, q=4.5), 10 (−, q=5) ⇒ signed 3.25+4.5−5=2.75,
    // total 12.75
    val ticks = Seq(
      ("a", 1L, 10.0, Option(1.5)), ("a", 2L, 10.0, Option(2.0)),
      ("a", 3L, 11.0, Option(3.25)), ("b", 1L, 99.0, Option(7.0)),
      ("a", 4L, 11.0, Option.empty[Double]), ("a", 5L, 11.0, Option(4.5)),
      ("a", 6L, 10.0, Option(5.0)))
    val mem = MemoryStream[(String, Long, Double, Option[Double])]
    val q = EventStream.flowImbalanceStream(spark,
        mem.toDF().toDF("sym", "seq", "price", "qty"),
        "sym", "seq", "price", "qty")
      .writeStream.outputMode("update").format("memory")
      .queryName("flow_out").start()
    mem.addData(ticks.take(4): _*)
    q.processAllAvailable()
    mem.addData(ticks.drop(4): _*)
    q.processAllAvailable()
    val latest = spark.table("flow_out")
      .as[(String, Long, Long, Double, Double, Option[Double])].collect()
      .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
    q.stop()
    val batch = graft.ops.Risk.flowImbalance(
        ticks.toDF("sym", "seq", "price", "qty"), "sym", Seq(col("seq")),
        col("price"), col("qty"), lit(1))
      .select("sym", "n_ticks", "signed_qty", "total_qty", "ofi")
      .as[(String, Long, Double, Double, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    val (_, _, n, signed, total, ofi) = latest("a")
    assert((n, signed, total, ofi) ===
      ((batch("a")._2, batch("a")._3, batch("a")._4, batch("a")._5)))
    assert(signed === 2.75 && total === 12.75)
    assert(ofi === Some(0.215686)) // 2.75/12.75, hand-computed
    // b: one tick — unsignable; batch emits no row, stream reports n=0
    assert(!batch.contains("b") && latest("b")._3 === 0L)
  }

  test("null-priced ticks: sharpe/drawdown/bollinger batch twins drop them like the streams") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // a null price between 100 and 110 must NOT void the next return
    // (sharpe), occupy a window-frame slot (bollinger), or count in
    // n_ticks (drawdown) — the batch ops pre-filter exactly as the
    // streams do, so parity holds on feeds with gaps
    val ticks = Seq(("a", 1L, Option(100.0)), ("a", 2L, Option.empty[Double]),
      ("a", 3L, Option(110.0)), ("a", 4L, Option(99.0)))
    val df = ticks.toDF("sym", "seq", "price")

    val sb = graft.ops.Stats.sharpe(df, "sym", Seq(col("seq")), col("price"))
      .select("sym", "n_returns", "mean_return", "sharpe")
      .as[(String, Long, Double, Option[Double])].collect().head
    // returns +0.1 and -0.1: with the null voiding the chain there would
    // be ONE return; the pre-filter yields two
    assert(sb._2 === 2L && sb._3 === 0.0)

    val db = graft.ops.Stats.maxDrawdown(df, "sym", Seq(col("seq")), col("price"))
      .select("sym", "max_drawdown", "peak", "n_ticks")
      .as[(String, Double, Double, Long)].collect().head
    assert(db._4 === 3L && db._2 === 11.0) // priced ticks only; 110 → 99

    val bb = graft.ops.Stats.bollinger(df, "sym", Seq(col("seq")),
        col("price"), window = 2)
      .select("sym", "seq", "roll_n").as[(String, Long, Long)]
      .collect().map(r => r._2 -> r._3).toMap
    assert(!bb.contains(2L)) // the null row leaves the surface entirely
    assert(bb(3L) === 2L)    // frame = (100, 110), not (null, 110)

    // ewma/rsi: same convention — the null row leaves the surface and
    // never occupies a frame slot or voids a delta
    val ew = graft.ops.Stats.ewma(df, "sym", Seq(col("seq")),
        col("price"), alpha = 0.5, window = 2)
      .select("seq", "ewma").as[(Long, Option[Double])].collect().toMap
    assert(!ew.contains(2L))
    assert(ew(3L) === Some(105.0)) // fold over (100, 110), not (null, 110)
    val rs = graft.ops.Stats.rsi(df, "sym", Seq(col("seq")),
        col("price"), period = 2)
      .select("seq", "n_deltas").as[(Long, Long)].collect().toMap
    assert(!rs.contains(2L))
    // deltas +10 (100→110) then −11 (110→99): the null voids NEITHER
    assert(rs(3L) === 1L && rs(4L) === 2L)

    // stream sides on the same feed: latest emissions agree
    val mem = MemoryStream[(String, Long, Option[Double])]
    val src = mem.toDF().toDF("sym", "seq", "price")
    val qs = EventStream.sharpeStream(spark, src, "sym", "seq", "price")
      .writeStream.outputMode("update").format("memory")
      .queryName("nulls_sharpe").start()
    val qd = EventStream.drawdownStream(spark, src, "sym", "seq", "price")
      .writeStream.outputMode("update").format("memory")
      .queryName("nulls_dd").start()
    mem.addData(ticks: _*)
    qs.processAllAvailable(); qd.processAllAvailable()
    val ss = spark.table("nulls_sharpe")
      .as[(String, Long, Long, Option[Double], Option[Double])].collect()
      .maxBy(_._2)
    val sd = spark.table("nulls_dd")
      .as[(String, Long, Long, Double, Double, Double)].collect()
      .maxBy(_._2)
    qs.stop(); qd.stop()
    assert((ss._3, ss._4) === ((sb._2, Some(sb._3))))
    assert((sd._3, sd._6) === ((db._4, db._2)))
  }

  test("driftSink: per-micro-batch KL vs a static baseline equals the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, length => strlen}
    val dir = java.nio.file.Files.createTempDirectory("graft_drift").toString
    // baseline: lengths 10 and 20 (buckets 1 and 2 at width 10)
    Seq((1L, "x" * 10), (2L, "x" * 20)).toDF("doc_id", "text")
      .write.parquet(s"$dir/baseline")
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.driftSink(mem.toDF().toDF("doc_id", "text"),
      s"$dir/baseline", s"$dir/out", s"$dir/ckpt",
      floor(strlen(col("text")) / 10))
    // batch 0: same distribution as baseline; batch 1: all bucket 3
    mem.addData((10L, "y" * 10), (11L, "y" * 20))
    q.processAllAvailable()
    mem.addData((12L, "z" * 30), (13L, "z" * 35))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$dir/out")
      .select("batch_id", "bucket", "kl_total")
      .as[(Long, Long, Double)].collect()
    val byBatch = out.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    // batch 0 matches the baseline exactly → zero drift
    assert(byBatch(0L) === Set(0.0))
    // batch 1 is disjoint from the baseline → strictly positive drift
    assert(byBatch(1L).size === 1 && byBatch(1L).head > 0.0)
    // the sink rows ARE the batch operator's rows: recompute batch 1
    val expect = graft.text.TextStats.distributionDrift(
        Seq((12L, "z" * 30), (13L, "z" * 35)).toDF("doc_id", "text"),
        spark.read.parquet(s"$dir/baseline"),
        floor(strlen(col("text")) / 10))
      .select("bucket", "kl_total").as[(Long, Double)].collect().toSet
    assert(out.filter(_._1 == 1L).map(r => (r._2, r._3)).toSet === expect)
  }

  test("vocabChurnSink: per-micro-batch top-V churn vs a static baseline equals the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_vchurn").toString
    Seq((1L, "alpha beta gamma"), (2L, "alpha beta delta"))
      .toDF("doc_id", "text").write.parquet(s"$dir/baseline")
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.vocabChurnSink(mem.toDF().toDF("doc_id", "text"),
      s"$dir/baseline", s"$dir/out", s"$dir/ckpt", "text", vocabSize = 3)
    // batch 0: same vocabulary; batch 1: fully swapped words
    mem.addData((10L, "alpha beta gamma"), (11L, "alpha beta delta"))
    q.processAllAvailable()
    mem.addData((12L, "zeta eta theta"), (13L, "zeta eta iota"))
    q.processAllAvailable()
    q.stop()
    import spark.implicits._
    val out = spark.read.parquet(s"$dir/out")
      .select("batch_id", "jaccard").as[(Long, Double)].collect().toMap
    assert(out(0L) === 1.0) // identical top-3 vocabulary
    assert(out(1L) === 0.0) // disjoint vocabulary
    // sink rows ARE the batch operator's rows: recompute batch 1
    val expect = graft.text.TextStats.vocabChurn(
        Seq((12L, "zeta eta theta"), (13L, "zeta eta iota")).toDF("doc_id", "text"),
        spark.read.parquet(s"$dir/baseline"), "text", 3)
      .select("jaccard").as[Double].head()
    assert(out(1L) === expect)
  }

  test("centroidDriftSink: per-micro-batch centroid cosine vs a static baseline equals the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_cdrift").toString
    Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.1f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/baseline")
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = EventStream.centroidDriftSink(
      mem.toDF().toDF("vec_id", "embedding"),
      s"$dir/baseline", s"$dir/out", s"$dir/ckpt", "embedding")
    // batch 0: the baseline's own vectors (cosine 1); batch 1: rotated
    mem.addData((10L, Seq(1.0f, 0.0f)), (11L, Seq(1.0f, 0.1f)))
    q.processAllAvailable()
    mem.addData((12L, Seq(0.0f, 1.0f)), (13L, Seq(0.1f, 1.0f)))
    q.processAllAvailable()
    q.stop()
    import spark.implicits._
    val out = spark.read.parquet(s"$dir/out")
      .select("batch_id", "centroid_cosine").as[(Long, Double)].collect().toMap
    assert(out(0L) === 1.0)
    assert(out(1L) < 0.2) // near-orthogonal centroid — drifted topic
    val expect = graft.vector.Similarity.centroidDrift(
        Seq((12L, Seq(0.0f, 1.0f)), (13L, Seq(0.1f, 1.0f)))
          .toDF("vec_id", "embedding"),
        spark.read.parquet(s"$dir/baseline"), "embedding")
      .select("centroid_cosine").as[Double].head()
    assert(out(1L) === expect)
  }

  test("quantileDriftSink: per-micro-batch sketch quantiles vs a static baseline equal the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_qdrift").toString
    // baseline: one group, values 1..100 (small enough that k=64 >= n
    // is false — the sketch path is genuinely exercised)
    (1 to 100).map(i => (i.toLong, "a", i.toDouble))
      .toDF("event_id", "event_type", "value")
      .write.parquet(s"$dir/baseline")
    val mem = MemoryStream[(Long, String, Double)]
    val q = EventStream.quantileDriftSink(
      mem.toDF().toDF("event_id", "event_type", "value"),
      s"$dir/baseline", s"$dir/out", s"$dir/ckpt",
      "event_type", "event_id", "value", k = 64)
    // batch 0: the baseline's own rows → zero shift at every prob;
    // batch 1: values level-shifted +1000 → strictly positive shifts
    mem.addData((1 to 100).map(i => (i.toLong, "a", i.toDouble)): _*)
    q.processAllAvailable()
    mem.addData((200 to 299).map(i => (i.toLong, "a", i.toDouble + 1000)): _*)
    q.processAllAvailable()
    q.stop()
    import spark.implicits._
    val out = spark.read.parquet(s"$dir/out")
      .select("batch_id", "shift_q50").as[(Long, Double)].collect().toMap
    assert(out(0L) === 0.0)
    assert(out(1L) > 900.0)
    // the sink rows ARE the batch operator's rows: recompute batch 1
    val expect = graft.ops.Stats.quantileDrift(
        (200 to 299).map(i => (i.toLong, "a", i.toDouble + 1000))
          .toDF("event_id", "event_type", "value"),
        spark.read.parquet(s"$dir/baseline"),
        "event_type", "event_id", org.apache.spark.sql.functions.col("value"),
        k = 64)
      .select("shift_q50").as[Double].head()
    assert(out(1L) === expect)
  }

  test("curateStream: cross-batch exact dedup + quality gate, first doc wins") {
    implicit val sqlCtx = spark.sqlContext
    val long = (1 to 25).map(i => s"w$i").mkString(" ")
    val mem = MemoryStream[(Long, String)]
    val input = mem.toDF().toDF("doc_id", "text")
    val q = EventStream.curateStream(spark, input, minTokens = 20)
      .writeStream.outputMode("append").format("memory")
      .queryName("curate_out").start()
    mem.addData((5L, long), (3L, long), (9L, "too short"))
    q.processAllAvailable()
    // duplicate arriving in a LATER batch must also be suppressed
    mem.addData((7L, long), (8L, long + " fresh"))
    q.processAllAvailable()
    import spark.implicits._
    val got = spark.table("curate_out")
      .select("doc_id").as[Long].collect().toSet
    q.stop()
    // 3 beats 5 within the first batch (min id); 7 is a cross-batch dup;
    // 9 fails the quality gate; 8 is new content
    assert(got === Set(3L, 8L))
  }

  test("knnGraphBucketed ranks in-bucket neighbours by cosine, never crossing buckets") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.9f, 0.1f), 0), (3L, Seq(0.0f, 1.0f), 0),
      (4L, Seq(1.0f, 1.0f), 1) // alone in its bucket → no neighbours
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.knnGraphBucketed(emb, "vec_id", "embedding", "label", 2)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._4) -> r._2).toMap
    assert(got((1L, 1L)) === 2L) // 1's nearest is 2 (cos ≈ .994), then 3
    assert(got((1L, 2L)) === 3L)
    assert(got((3L, 1L)) === 2L) // 3 is closer to 2 than to 1
    assert(!got.keySet.exists(_._1 == 4L))
  }

  test("buildKnnGraph persists exactly knnGraphBucketed's edges, bucketed by src") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.9f, 0.1f), 0), (3L, Seq(0.0f, 1.0f), 0),
      (4L, Seq(1.0f, 1.0f), 1), (5L, Seq(0.5f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val path = java.nio.file.Files.createTempDirectory("graft_knn_spec").toString + "/edges"
    Similarity.buildKnnGraph(emb, "vec_id", "embedding", "label", 2, path)
    val inline = Similarity.knnGraphBucketed(emb, "vec_id", "embedding", "label", 2)
      .as[(Long, Long, Double, Long)].collect().toSet
    val persisted = Similarity.readKnnGraph(spark, path)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(persisted === inline)
    // the layout column exists on disk (directory pruning for a
    // neighborhood read) but stays out of the edge schema
    assert(spark.read.parquet(path).columns.contains("src_bucket"))
    assert(Similarity.readKnnGraph(spark, path).columns.toSeq ===
      Seq("src", "dst", "cos_sim", "rnk"))
  }

  test("embedding near-dup: LSH candidates are a subset of exact pairs with high recall") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Similarity.embedNearDup(emb, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.embedNearDupLsh(emb, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact)) // verify step guarantees no false positives
    if (exact.nonEmpty)
      assert(lsh.size.toDouble / exact.size >= 0.5) // recall floor
  }

  test("LSH pruning-power switch: banding runs at high threshold and equals exact; refuses at scale when it cannot prune") {
    // high-threshold regime: 8-bit bands at t=0.9 — derived band count
    // keeps the random-collision rate under the cap, so the BANDING
    // path runs (pinned via the closed forms), and its output must
    // equal the exact scan on a jittered-duplicate fixture
    val rnd = new scala.util.Random(7L)
    val base = Array.fill(100)(Array.fill(16)(rnd.nextGaussian()))
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      val dup = v.map(x => x + 0.02 * rnd.nextGaussian()) // cos ≫ 0.9
      Seq((2L * i, v.toSeq.map(_.toFloat)), (2L * i + 1, dup.toSeq.map(_.toFloat)))
    }.toSeq
    val emb = rows.toDF("vec_id", "embedding")
    val bands = Similarity.lshBandsForRecall(200L, 0.9, bitsPerBand = 8)
    assert(Similarity.lshRandomCollisionFraction(bands, 8)
      < graft.ops.GuardBounds.LshMaxRandomCollide) // banding path selected
    val exact = Similarity.embedNearDup(emb, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.embedNearDupLsh(emb, "vec_id", "embedding", 0.9,
        nBands = -1, bitsPerBand = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    spark.catalog.clearCache()
    assert(exact.nonEmpty)
    assert(lsh === exact,
      s"missed=${(exact -- lsh).size} false=${(lsh -- exact).size}")
    // low-threshold regime past the exact bound: the banding admits
    // ~all random pairs AND the corpus exceeds MaxExactPairs — must
    // refuse loudly instead of running an n²-shaped candidate join
    val big = spark.range(100001L)
      .select(col("id").as("vec_id"),
        array(lit(1.0f), (col("id") % 97).cast("float")).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.embedNearDupLsh(big, "vec_id", "embedding", 0.4, nBands = -1)
    }
    spark.catalog.clearCache()
    assert(e.getMessage.contains("cannot prune"), e.getMessage)
  }

  test("embedNearDup refuses inputs past maxExact instead of going quadratic") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val e = intercept[IllegalArgumentException] {
      Similarity.embedNearDup(emb, "vec_id", "embedding", 0.4, maxExact = 5L)
    }
    assert(e.getMessage.contains("embedNearDupLsh"))
  }

  test("semanticDedup drops ONLY within-cluster smaller-id near-dups; subset of exact pairs") {
    // id 0 is the stride centroid seed; near-dups of a smaller id in the
    // SAME cluster drop, a cross-cluster near-identical pair survives
    // because SemDeDup never compares across clusters
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exactPairs = Similarity.embedNearDup(emb, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sem = Similarity.semanticDedup(emb, "vec_id", "embedding",
        nCentroids = 4, threshold = 0.4)
      .select("vec_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(sem.size === emb.count()) // every doc verdicts exactly once
    val droppedIds = sem.collect { case (id, false) => id }.toSet
    // every dropped doc really has a smaller-id exact near-dup (the
    // within-cluster restriction can only REDUCE drops, never invent one)
    droppedIds.foreach { d =>
      assert(exactPairs.exists { case (a, b) => b == d && a < d },
        s"doc $d dropped without an exact near-dup witness")
    }
  }

  test("semanticDedup: zero vector keeps with null cluster; hot cluster refuses") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (31L, Seq(0.0f, 1.0f)),       // stride centroids
      (1L, Seq(2.0f, 0.01f)),                              // near-dup of 0's direction
      (2L, Seq(0.0f, 0.0f))                                // zero vector
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        nCentroids = 2, threshold = 0.95)
      .select("vec_id", "cluster", "keep")
      .as[(Long, Option[Long], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(2L) === ((None, true)))        // no direction, never a dup
    assert(got(0L) === ((Some(0L), true)))    // smallest id in its cluster
    assert(got(1L)._1 === Some(0L))
    assert(got(1L)._2 === false)              // cos(0,1) ≈ 0.999 ≥ 0.95
    assert(got(31L) === ((Some(31L), true)))  // own cluster, alone
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedup(vecs, "vec_id", "embedding",
        nCentroids = 2, threshold = 0.95, maxCluster = 1L)
    }
    assert(e.getMessage.contains("nCentroids"))
  }

  test("file-source streaming: parquet readStream through the tumbling agg") {
    val dir = java.nio.file.Files.createTempDirectory("stream_in").toString
    Seq(
      (Timestamp.valueOf("2024-01-01 10:10:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:40:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 11:10:00"), "view", 4.0))
      .toDF("ts", "event_type", "value")
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    assert(stream.isStreaming)
    val q = EventStream.tumblingStats(stream, "1 hour", "2 hours")
      .writeStream.outputMode("complete").format("memory")
      .queryName("file_tumbling").start()
    q.processAllAvailable()
    val got = spark.table("file_tumbling")
      .select("win_start", "event_type", "n_events")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    q.stop()
    assert(got === Set(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "click", 2L),
      (Timestamp.valueOf("2024-01-01 11:00:00"), "view", 1L)))
  }

  test("media payload plumbing: schema, determinism, batch decode") {
    val docs = Seq((1L, "hello world"), (2L, "spark engine")).toDF("doc_id", "text")
    val media = Media.attachPayload(docs, "doc_id", "text")
    assert(media.schema("payload").dataType.typeName === "binary")
    val feats = Media.extractFeatures(spark, media).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(1L).n_bytes === 11L)
    assert(feats(1L).width > 0 && feats(1L).height > 0)
    // text bytes are no image: every row takes the stub fallback
    assert(!feats(1L).decoded && !feats(2L).decoded)
    // deterministic stub: same payload → same fake dimensions
    val again = Media.extractFeatures(spark, media).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(1L) === again(1L) && feats(2L) === again(2L))
  }

  test("image decode is real: PNG headers give true dims, JPEG/GIF/BMP readable, garbage stubs") {
    // encode→decode roundtrip at several exact sizes
    for ((w, h) <- Seq((1, 1), (64, 48), (640, 3), (3, 480))) {
      val png = Media.ImageCodec.encodePng(w, h, seed = 7L)
      assert(Media.ImageCodec.decodeDims(png) === Some((w, h)), s"($w,$h)")
    }
    // other JDK-reader formats: write via ImageIO, read dims back
    for (fmt <- Seq("jpg", "gif", "bmp")) {
      val img = new java.awt.image.BufferedImage(17, 9,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      assert(Media.ImageCodec.decodeDims(bos.toByteArray) === Some((17, 9)), fmt)
    }
    // unrecognisable payload → None (extractFeatures then stubs)
    assert(Media.ImageCodec.decodeDims("not an image".getBytes) === None)
    // distributed path: imageTable → extractFeatures reads the id-derived
    // dims out of real PNG headers, decoded=true
    val ids = Seq(0L, 5L, 63L, 64L, 100L).toDF("doc_id")
    val feats = Media.extractFeatures(spark, Media.imageTable(spark, ids, "doc_id"))
      .collect().map(f => f.media_id -> f).toMap
    for (id <- Seq(0L, 5L, 63L, 64L, 100L)) {
      assert(feats(id).decoded, s"id=$id not decoded")
      assert(feats(id).width === (1 + id % 64).toInt)
      assert(feats(id).height === (1 + id % 48).toInt)
    }
  }

  test("audio decode is real: WAV roundtrip gives true meta and PCM RMS, non-audio stubs") {
    // encode→decode roundtrip: exact sample counts and the ramp's RMS
    val wav = Media.AudioCodec.encodeWav(nSamples = 4, seed = 0L)
    // samples for seed 0: ((0+i) % 17 - 8)*1000, i=0..3 → -8000,-7000,-6000,-5000
    val Some((meta, rms)) = Media.AudioCodec.decode(wav)
    assert(meta.sampleRate === 8000 && meta.channels === 1 && meta.bits === 16)
    assert(meta.nSamples === 4L)
    val expect = BigDecimal(math.sqrt(
      (64e6 + 49e6 + 36e6 + 25e6) / 4)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rms === expect)
    // an IMAGE payload is not audio → None (extract then stubs it)
    assert(Media.AudioCodec.decode(Media.ImageCodec.encodePng(4, 4, 1L)) === None)
    assert(Media.AudioCodec.decode("not audio".getBytes) === None)
    // AIFF is BIG-endian PCM — same samples must give the same RMS, and
    // a stereo container reports FRAMES while RMS spans all channels
    val fmtBE = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
    val pcmBE = Array[Byte](0xE0.toByte, 0xC0.toByte, 0xE4.toByte, 0xA8.toByte,
      0xE8.toByte, 0x90.toByte, 0xEC.toByte, 0x78.toByte) // -8000,-7000,-6000,-5000 BE
    val bosA = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcmBE), fmtBE, 4L),
      javax.sound.sampled.AudioFileFormat.Type.AIFF, bosA)
    val Some((metaA, rmsA)) = Media.AudioCodec.decode(bosA.toByteArray)
    assert(metaA.nSamples === 4L && rmsA === rms) // endian-correct decode
    val fmtSt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val bosS = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(new Array[Byte](400)), fmtSt, 100L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bosS)
    val Some((metaS, _)) = Media.AudioCodec.decode(bosS.toByteArray)
    assert(metaS.channels === 2 && metaS.nSamples === 100L) // frames, not samples
    // distributed path: audioTable → extractAudioFeatures reads true
    // counts out of real WAV containers, decoded=true
    val ids = Seq(0L, 5L, 255L, 256L).toDF("doc_id")
    val feats = Media.extractAudioFeatures(spark,
        Media.audioTable(spark, ids, "doc_id"))
      .collect().map(f => f.media_id -> f).toMap
    for (id <- Seq(0L, 5L, 255L, 256L)) {
      assert(feats(id).decoded, s"id=$id not decoded")
      assert(feats(id).n_samples === 1 + id % 256)
      assert(feats(id).sample_rate === 8000 && feats(id).channels === 1)
    }
  }

  test("video container parse is real: AVI roundtrip, chunk walk, non-AVI stubs") {
    // encode→decode roundtrip reads the avih fields back out
    val avi = Media.VideoCodec.encodeAvi(320, 180, 42, 40000)
    assert(avi.length === 100)
    val Some(meta) = Media.VideoCodec.decodeMeta(avi)
    assert((meta.width, meta.height, meta.nFrames, meta.microsPerFrame) ===
      ((320, 180, 42L, 40000L)))
    // the walk must SKIP an unknown leading chunk (with odd-size RIFF
    // padding) and still find avih behind it
    val junk = "JUNK".getBytes ++ Array[Byte](3, 0, 0, 0) ++
      Array[Byte](1, 2, 3, 0) // declared size 3, padded to 4
    val padded = avi.take(12) ++ junk ++ avi.drop(12)
    val Some(meta2) = Media.VideoCodec.decodeMeta(padded)
    assert(meta2 === meta)
    // non-AVI payloads are not video → None (extract then stubs them)
    assert(Media.VideoCodec.decodeMeta(
      Media.ImageCodec.encodePng(4, 4, 1L)) === None)
    assert(Media.VideoCodec.decodeMeta(
      Media.AudioCodec.encodeWav(4, 0L)) === None) // RIFF but WAVE, not AVI
    assert(Media.VideoCodec.decodeMeta("not a movie".getBytes) === None)
    // corrupt declared size larger than the payload refuses cleanly
    val corrupt = avi.clone(); corrupt(16) = 0xFF.toByte
    assert(Media.VideoCodec.decodeMeta(
      corrupt.take(12) ++ "XXXX".getBytes ++
        Array[Byte](-1, -1, -1, 0x7F) ++ corrupt.drop(20)) === None)
    // distributed path: videoTable → extractVideoFeatures, decoded=true
    val ids = Seq(0L, 7L, 333L).toDF("doc_id")
    val feats = Media.extractVideoFeatures(spark,
        Media.videoTable(spark, ids, "doc_id"))
      .collect().map(f => f.media_id -> f).toMap
    for (id <- Seq(0L, 7L, 333L)) {
      assert(feats(id).decoded, s"id=$id not decoded")
      assert(feats(id).width === 160 + id % 160)
      assert(feats(id).height === 90 + id % 90)
      assert(feats(id).n_frames === 1 + id % 250)
      assert(feats(id).duration_ms === (1 + id % 250) * 40)
    }
  }

  test("video frame PIXEL decode is real: BGR rows, padding skipped, inverted pixel counted") {
    // 5×2 frame: rowBytes = (15+3)&~3 = 16, one padding byte per row —
    // a decoder averaging whole chunks would count the padding
    val colors = Seq((10, 20, 30), (200, 100, 50))
    val avi = Media.VideoCodec.encodeAviFrames(5, 2, 40000, colors)
    val Some((meta, frames)) = Media.VideoCodec.decodeFrames(avi)
    assert((meta.width, meta.height, meta.nFrames) === ((5, 2, 2L)))
    assert(frames.size === 2)
    // hand-computed: c·(w·h) + 255 − 2c per channel (first pixel inverted)
    def sums(c: (Int, Int, Int)) =
      (c._1 * 10L + 255 - 2 * c._1, c._2 * 10L + 255 - 2 * c._2,
        c._3 * 10L + 255 - 2 * c._3)
    assert((frames(0).rSum, frames(0).gSum, frames(0).bSum) === sums(colors(0)))
    assert((frames(1).rSum, frames(1).gSum, frames(1).bSum) === sums(colors(1)))
    // decodeMeta still reads the same container (header-only consumers)
    assert(Media.VideoCodec.decodeMeta(avi).map(_.width) === Some(5))
    // a frame whose declared size disagrees with the DIB geometry refuses
    val corrupt = avi.clone()
    val moviAt = avi.indexOfSlice("00db".getBytes)
    corrupt(moviAt + 4) = (corrupt(moviAt + 4) + 1).toByte
    assert(Media.VideoCodec.decodeFrames(corrupt) === None)
    // a compressed stream (biCompression != 0) has no pure-JDK pixel
    // path: frame decode refuses, header parse still works
    val strfAt = avi.indexOfSlice("strf".getBytes)
    val compressed = avi.clone()
    compressed(strfAt + 8 + 16) = 1 // biCompression = BI_RLE8
    assert(Media.VideoCodec.decodeFrames(compressed) === None)
    assert(Media.VideoCodec.decodeMeta(compressed).isDefined)
    // frameless minimal AVI decodes to zero frames (meta only)
    assert(Media.VideoCodec.decodeFrames(
      Media.VideoCodec.encodeAvi(320, 180, 42, 40000)).map(_._2.size) === Some(0))
    // distributed path: videoFrameTable → extractVideoFrameFeatures
    val ids = Seq(0L, 7L, 333L).toDF("doc_id")
    val feats = Media.extractVideoFrameFeatures(spark,
        Media.videoFrameTable(spark, ids, "doc_id"))
      .collect().map(f => f.media_id -> f).toMap
    for (id <- Seq(0L, 7L, 333L)) {
      val f = feats(id)
      assert(f.decoded, s"id=$id not decoded")
      val (w, h, nf) = (8 + id % 8, 6 + id % 6, 1 + id % 4)
      assert((f.width, f.height, f.n_frames) === ((w.toInt, h.toInt, nf)))
      val rs = (0L until nf).map { fi =>
        val c = (7 * id + 13 * fi) % 256; c * w * h + 255 - 2 * c
      }.sum
      assert(f.r_sum === rs, s"id=$id r_sum")
    }
  }

  test("MJPEG frame decode is real: per-frame JPEG decode, exact block-aligned gray sums") {
    // the q150 oracle's exactness premise: a block-aligned grayscale
    // fixture survives JPEG bit-for-bit at quality 1.0 (constant luma
    // blocks carry only an integer DC, quantized by 1; chroma constant
    // at 128) — sweep gray extremes and both geometry classes
    for ((u, v) <- Seq((0, 255), (255, 0), (1, 254), (128, 127), (37, 201));
         (w, h) <- Seq((16, 8), (40, 24))) {
      val avi = Media.VideoCodec.encodeAviMjpeg(w, h, 40000, Seq((u, v)))
      val Some((meta, frames)) = Media.VideoCodec.decodeFrames(avi)
      assert((meta.width, meta.height) === ((w, h)))
      val expect = 64L * u + (w.toLong * h - 64) * v
      assert((frames(0).rSum, frames(0).gSum, frames(0).bSum) ===
        ((expect, expect, expect)), s"u=$u v=$v ${w}x$h")
    }
    // multi-frame: per-frame sums in movi order
    val multi = Media.VideoCodec.encodeAviMjpeg(16, 8, 40000,
      Seq((10, 20), (200, 100), (0, 0)))
    val Some((m2, fr2)) = Media.VideoCodec.decodeFrames(multi)
    assert(m2.nFrames === 3L && fr2.size === 3)
    assert(fr2(1).gSum === 64L * 200 + (16L * 8 - 64) * 100)
    assert(fr2(2).rSum === 0L)
    // a garbage chunk where a JPEG should be refuses — never wrong sums
    val broken = multi.clone()
    val at = multi.indexOfSlice("00dc".getBytes)
    java.util.Arrays.fill(broken, at + 8, at + 16, 0x5A.toByte)
    assert(Media.VideoCodec.decodeFrames(broken) === None)
    // header-only consumers still read the container
    assert(Media.VideoCodec.decodeMeta(multi).map(_.width) === Some(16))
    // distributed path matches the q150 id arithmetic end to end
    val ids = Seq(0L, 5L, 77L).toDF("doc_id")
    val feats = Media.extractVideoFrameFeatures(spark,
        Media.videoMjpegTable(spark, ids, "doc_id"))
      .collect().map(f => f.media_id -> f).toMap
    for (id <- Seq(0L, 5L, 77L)) {
      val f = feats(id)
      assert(f.decoded, s"id=$id")
      val (w, h, nf) = (16 + 8 * (id % 3), 8 + 8 * (id % 2), 1 + id % 3)
      assert((f.width, f.height, f.n_frames) === ((w.toInt, h.toInt, nf)))
      val cs = (0L until nf).map { fi =>
        64L * ((7 * id + 13 * fi) % 256) +
          (w * h - 64) * ((11 * id + 5 * fi) % 256)
      }.sum
      assert((f.r_sum, f.g_sum, f.b_sum) === ((cs, cs, cs)), s"id=$id")
    }
  }

  test("perceptual image dedup: banded == exact == id arithmetic; junk drops; exact twin refuses at scale") {
    import spark.implicits._
    // dense small ids give a rich <= 3-hamming pair set, and the
    // id-derived scales (1..3) exercise scale invariance in the same run
    val ids = (0L until 64L).toDF("doc_id")
    val media = Media.imageHashTable(spark, ids, "doc_id")
    val exact = Media.phashExactPairs(spark, media)
      .as[(Long, Long, Int)].collect().toSet
    spark.catalog.clearCache()
    val banded = Media.phashBandedPairs(spark, media)
      .as[(Long, Long, Int)].collect().toSet
    spark.catalog.clearCache()
    val expect = (for {
      a <- 0L until 64L; b <- a + 1 until 64L
      h = java.lang.Long.bitCount(a ^ b) if h <= 3
    } yield (a, b, h)).toSet
    assert(exact === expect)
    assert(banded === exact) // pigeonhole: the blocking loses nothing
    // undecodable payloads drop from the signature space
    val withJunk = media.union(
      Seq((999L, "png", "junk".getBytes)).toDF("media_id", "format", "payload"))
    assert(Media.imageHashes(spark, withJunk).count() === 64L)
    // the all-pairs twin refuses corpus-scale inputs, naming the out
    val e = intercept[IllegalArgumentException] {
      Media.phashExactPairs(spark, media, maxExact = 10L)
    }
    assert(e.getMessage.contains("phashBandedPairs"))
    spark.catalog.clearCache()
    // clusters: ids 0..63 chain transitively into ONE component with
    // the min id canonical — the pairs collapse to an actionable list
    val clusters = Media.phashClusters(spark, media)
      .as[(Long, Long, Boolean)].collect()
    assert(clusters.length === 64)
    assert(clusters.forall(_._2 === 0L))
    assert(clusters.count(_._3) === 1 && clusters.find(_._3).get._1 === 0L)
    spark.catalog.clearCache()
    // quality-aware canonical: one cluster ⇒ one keep — the largest
    // image (s = 3 at id%3 == 2), min id 2 on the size tie
    val keep = Media.phashCanonicalByPixels(spark, media)
      .as[(Long, Long, Long, Boolean)].collect()
    assert(keep.count(_._4) === 1)
    val kept = keep.find(_._4).get
    assert(kept._1 === 2L && kept._3 === 64L * 9)
    spark.catalog.clearCache()
  }

  test("perceptual audio dedup: banded == exact == id arithmetic; hot-chunk guard refuses degenerate corpora") {
    import spark.implicits._
    val ids = (0L until 64L).toDF("doc_id")
    val media = Media.audioHashTable(spark, ids, "doc_id")
    val exact = Media.audioHashExactPairs(spark, media)
      .as[(Long, Long, Int)].collect().toSet
    spark.catalog.clearCache()
    val banded = Media.audioHashBandedPairs(spark, media)
      .as[(Long, Long, Int)].collect().toSet
    spark.catalog.clearCache()
    val expect = (for {
      a <- 0L until 64L; b <- a + 1 until 64L
      h = java.lang.Long.bitCount(a ^ b) if h <= 3
    } yield (a, b, h)).toSet
    assert(exact === expect)
    assert(banded === exact)
    // hot-chunk guard: a degenerate corpus (every payload identical ⇒
    // one (chunk, value) bucket holds all 64 signatures) refuses with
    // the offender named instead of melting into k² candidates
    val flat = ids.select(col("doc_id").as("media_id"), lit("wav").as("format"),
      lit(Media.AudioCodec.encodeWavBits(2, 5L)).as("payload"))
    val e = intercept[IllegalArgumentException] {
      Media.audioHashBandedPairs(spark, flat, maxChunkBucket = 10L)
    }
    assert(e.getMessage.contains("maxChunkBucket=10") &&
      e.getMessage.contains("64 signatures"), e.getMessage)
    spark.catalog.clearCache()
    // at-or-under the bound: runs, and every pair is a 0-distance dup
    val dup = Media.audioHashBandedPairs(spark, flat, maxChunkBucket = 64L)
    assert(dup.count() === 64L * 63 / 2)
    spark.catalog.clearCache()
  }

  test("image PIXEL decode is real: PNG roundtrip sums, inverted corner, non-image stubs") {
    // 3×2 fill (10, 200, 30), corner inverted: per-channel sum =
    // c·6 + 255 − 2c, hand-computed
    val png = Media.ImageCodec.encodePngFill(3, 2, 10, 200, 30)
    assert(Media.ImageCodec.decodePixels(png) ===
      Some((3, 2, 10L * 6 + 235, 200L * 6 - 145, 30L * 6 + 195)))
    // 1×1: the inverted corner IS the image
    assert(Media.ImageCodec.decodePixels(
      Media.ImageCodec.encodePngFill(1, 1, 0, 128, 255)) ===
      Some((1, 1, 255L, 127L, 0L)))
    // non-image payloads stub
    assert(Media.ImageCodec.decodePixels("not a png".getBytes) === None)
    assert(Media.ImageCodec.decodePixels(
      Media.VideoCodec.encodeAvi(4, 4, 1, 40000)) === None)
    // distributed path with id-derived ground truth
    val ids = Seq(0L, 7L, 333L).toDF("doc_id")
    val feats = Media.extractImagePixels(spark,
        Media.imagePixelTable(spark, ids, "doc_id"))
      .collect().map(f => f.media_id -> f).toMap
    for (id <- Seq(0L, 7L, 333L)) {
      val f = feats(id)
      assert(f.decoded, s"id=$id not decoded")
      val (w, h) = (8 + id % 8, 6 + id % 6)
      val cr = (5 * id + 11) % 256
      assert((f.width, f.height) === ((w.toInt, h.toInt)))
      assert(f.r_sum === cr * w * h + 255 - 2 * cr, s"id=$id r_sum")
    }
  }

  test("media resize and frame sampling: payload transform + row expansion") {
    val docs = Seq((1L, "x" * 300), (2L, "y" * 100)).toDF("doc_id", "text")
    val media = Media.attachPayload(docs, "doc_id", "text")
    val resized = Media.resize(spark, media, 4, 4).collect()
      .map(r => r.media_id -> r).toMap
    assert(resized(1L).width === 4 && resized(1L).height === 4)
    assert(resized(1L).payload.length <= 300 && resized(1L).payload.nonEmpty)
    // frame sampling: 300 bytes / 64-byte frames = 5 frames, every 2nd → idx 0,2,4
    val frames = Media.sampleFrames(spark, media, frameBytes = 64, everyN = 2)
      .collect().filter(_.media_id == 1L).sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq === Seq(0, 2, 4))
    assert(frames.head.payload.length === 64)
    assert(frames.map(_.offset_bytes).toSeq === Seq(0L, 128L, 256L))
  }

  test("sinkBm25Append: streamed doc batches probe equal to a fresh build; retried batch is a no-op; fresh duplicate ids refuse") {
    import graft.text.TextStats
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val initial = docs.filter(col("doc_id") < 400)
    val later = docs.filter(col("doc_id") >= 400 && col("doc_id") < 450)
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .collect().toSeq
    val idx = java.nio.file.Files.createTempDirectory("graft_bmsink").toString + "/index"
    TextStats.buildBm25Index(initial, "doc_id", "text", idx)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_bmsink_ck").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val sink = EventStream.sinkBm25Append(
      mem.toDF().toDF("doc_id", "text"), idx, ckpt)
    mem.addData(later.take(25): _*)
    sink.processAllAvailable()
    mem.addData(later.drop(25): _*)
    sink.processAllAvailable()
    sink.stop()
    // the streamed index must probe EQUAL to one fresh build over the
    // full corpus — scores, matches, everything (df/totals partials
    // sum to the same statistics the full tokenize computes)
    val fresh = java.nio.file.Files.createTempDirectory("graft_bmsink_f").toString + "/index"
    TextStats.buildBm25Index(docs.filter(col("doc_id") < 450),
      "doc_id", "text", fresh)
    val terms = Seq("spark", "vector", "merge")
    def probe(p: String) = TextStats.bm25Probe(spark, p, terms)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(probe(idx) === probe(fresh),
      "streamed appends diverged from the fresh build")
    // a RETRIED batch id is exactly-once: no new rows in any table
    val n0 = spark.read.parquet(s"$idx/doclen").count()
    EventStream.appendBm25BatchIdempotent(
      later.take(25).toDF("doc_id", "text"), idx, batchId = 0L)
    assert(spark.read.parquet(s"$idx/doclen").count() === n0)
    assert(probe(idx) === probe(fresh))
    // a FRESH batch id carrying existing ids refuses loudly
    val e = intercept[IllegalArgumentException] {
      EventStream.appendBm25BatchIdempotent(
        later.take(5).toDF("doc_id", "text"), idx, batchId = 99L)
    }
    assert(e.getMessage.contains("NEW docs only"), e.getMessage)
    graft.engine.Caches.releaseAll()
  }

  test("hybridProbeSink: streamed query batches equal the batch hybrid probe join; retried batch is a no-op") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val bmIdx = java.nio.file.Files.createTempDirectory("graft_hps_bm").toString + "/index"
    val ivfIdx = java.nio.file.Files.createTempDirectory("graft_hps_ivf").toString + "/index"
    graft.text.TextStats.buildBm25Index(docs, "doc_id", "text", bmIdx)
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", ivfIdx)
    val out = java.nio.file.Files.createTempDirectory("graft_hps_out").toString + "/res"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_hps_ck").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[String])]
    val sink = EventStream.hybridProbeSink(
      mem.toDF().toDF("query_id", "terms"), bmIdx, ivfIdx, emb, out, ckpt)
    mem.addData((0L, Seq("spark", "vector", "merge")),
      (1L, Seq("hash", "join", "stream")))
    sink.processAllAvailable()
    mem.addData((2L, Seq("window", "sort")))
    sink.processAllAvailable()
    sink.stop()
    val got = spark.read.parquet(out)
      .select("query_id", "id", "rrf")
      .as[(Long, Long, Double)].collect().toSet
    // streamed results must equal ONE batch hybrid probe join over the
    // same three queries (itself law-equal to per-query hybridProbeTopK)
    val qs = Seq((0L, Seq("spark", "vector", "merge")),
        (1L, Seq("hash", "join", "stream")), (2L, Seq("window", "sort")))
      .toDF("query_id", "terms")
    val want = graft.ops.Retrieval.hybridProbeJoin(spark, bmIdx, ivfIdx,
        emb, "vec_id", "embedding", qs)
      .select("query_id", "id", "rrf")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want)
    // epochs recorded per batch; a retried batch id re-appends nothing
    val n0 = spark.read.parquet(out).count()
    assert(spark.read.parquet(out).select("probe_epoch").distinct().count() === 2)
    EventStream.idempotentPromote(spark, out, out, batchId = 0L) { staging =>
      spark.read.parquet(out).limit(1)
        .write.mode("overwrite").parquet(staging)
    }
    assert(spark.read.parquet(out).count() === n0)
    graft.engine.Caches.releaseAll()
  }
}
