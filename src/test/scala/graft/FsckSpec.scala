package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.IndexLifecycle
import graft.multimodal.Curate
import graft.vector.Similarity

/** Index integrity audits (round 12): the healthy state reads all-OK
  * (the q238/q239 gates pin that), and — the half a report is worthless
  * without — each invariant FIRES on an injected corruption. Every
  * fault here is a realistic failure: a retrained codebook decoding
  * stale codes, a double-ingested id, a partial append's orphan rows,
  * a crashed swap's leftover dir.
  */
class FsckSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString + "/index"

  private def checkMap(df: org.apache.spark.sql.DataFrame): Map[String, (Boolean, Long)] =
    df.collect().map(r => r.getString(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap

  private val docs = Seq(
    1L -> "alpha beta gamma delta epsilon zeta eta theta",
    2L -> "red orange yellow green blue indigo violet white",
    3L -> "one two three four five six seven eight"
  ).toDF("doc_id", "text")

  test("signature fsck: healthy all-OK; each invariant fires on its fault") {
    val dir = tmp("graft_fsck_sig")
    Curate.buildSignatureIndex(spark, docs, "doc_id", "text", dir)
    val healthy = checkMap(Curate.fsckSignatureIndex(spark, dir))
    assert(healthy.values.forall(_._1), s"healthy index not all-OK: $healthy")
    // fault 1: orphan shingle rows (a partial append that never wrote
    // the doc's md5 row)
    Seq((999L, "ghost shingle")).toDF("doc", "shingle")
      .coalesce(1).write.mode("append").parquet(s"$dir/shingles")
    val m1 = checkMap(Curate.fsckSignatureIndex(spark, dir))
    assert(!m1("doc_universe")._1 && m1("doc_universe")._2 === 1L)
    // the orphan also desyncs freq (freq was derived pre-fault)
    assert(!m1("freq_consistent")._1)
    // fault 2: duplicate md5 row (double ingest)
    Seq((1L, "deadbeef")).toDF("doc_id", "h")
      .coalesce(1).write.mode("append").parquet(s"$dir/text_hashes")
    assert(!checkMap(Curate.fsckSignatureIndex(spark, dir))("docs_unique")._1)
    // fault 3: crashed-swap leftover dir
    fs.mkdirs(new Path(s"$dir/shingles_swap_staging"))
    val m3 = checkMap(Curate.fsckSignatureIndex(spark, dir))
    assert(!m3("no_swap_leftovers")._1)
    fs.delete(new Path(s"$dir/shingles_swap_staging"), true)
    // fault 4: a missing table degrades to the layout row alone
    fs.rename(new Path(s"$dir/meta"), new Path(s"$dir/meta_gone"))
    val m4 = Curate.fsckSignatureIndex(spark, dir).collect()
    assert(m4.length === 1 && !m4.head.getBoolean(1)
      && m4.head.getString(3).contains("meta"))
  }

  test("signature fsck: pending tombstones reported, freq stale-by-design honored") {
    val dir = tmp("graft_fsck_ts")
    Curate.buildSignatureIndex(spark, docs, "doc_id", "text", dir)
    IndexLifecycle.delete(IndexLifecycle.Signature, spark, dir, Seq(2L).toDF("doc_id"),
      "doc_id")
    val m = checkMap(Curate.fsckSignatureIndex(spark, dir))
    assert(m("tombstones_pending")._2 === 1L)
    assert(m("freq_consistent")._1, "freq must read ok-stale under tombstones")
    IndexLifecycle.purge(IndexLifecycle.Signature, spark, dir)
    val m2 = checkMap(Curate.fsckSignatureIndex(spark, dir))
    assert(m2("tombstones_pending")._2 === 0L)
    assert(m2.values.forall(_._1), s"post-purge index not all-OK: $m2")
  }

  test("ANN fsck: healthy all-OK; each invariant fires on its fault") {
    val emb = (0L until 16L).map(i => (i, List.fill(4)(i.toFloat + 1)))
      .toDF("vec_id", "embedding")
    val dir = tmp("graft_fsck_ann")
    Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding", dir,
      nCentroids = 2, nSub = 2, nCodes = 4)
    graft.engine.Caches.releaseAll()
    val healthy = checkMap(Similarity.fsckIvfAdcIndex(spark, dir))
    assert(healthy.values.forall(_._1), s"healthy index not all-OK: $healthy")
    // fault 1: duplicate id (double append of the same batch, the
    // failure idempotentPromote exists to prevent)
    val one = spark.read.parquet(s"$dir/codes").limit(1)
    one.write.mode("append").partitionBy("cluster").parquet(s"$dir/codes")
    val m1 = checkMap(Similarity.fsckIvfAdcIndex(spark, dir))
    assert(!m1("ids_unique")._1 && m1("ids_unique")._2 === 1L)
    // fault 2: retrained codebook decoding stale codes — drop one
    // (cs, code) row the codes reference
    val cb = spark.read.parquet(s"$dir/codebook")
    val used = spark.read.parquet(s"$dir/codes")
      .select(posexplode(col("codes")).as(Seq("s", "code")))
      .limit(1).collect().head
    val cb2 = cb.filter(!(col("cs") === used.getInt(0) &&
      col("code") === used.getLong(1))).collect()
    val cbSchema = cb.schema
    spark.createDataFrame(
        spark.sparkContext.parallelize(cb2.toSeq), cbSchema)
      .write.mode("overwrite").parquet(s"$dir/codebook")
    assert(!checkMap(Similarity.fsckIvfAdcIndex(spark, dir))("codes_decode")._1)
  }

  test("ANN fsck: an EMPTY codebook reports a failing check row, not a crash") {
    // ADVICE r12: the max(cs) aggregate NPE'd on a zero-row codebook —
    // the audit crashed on exactly the corruption it exists to diagnose
    val emb = (0L until 16L).map(i => (i, List.fill(4)(i.toFloat + 1)))
      .toDF("vec_id", "embedding")
    val dir = tmp("graft_fsck_ann_empty")
    Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding", dir,
      nCentroids = 2, nSub = 2, nCodes = 4)
    graft.engine.Caches.releaseAll()
    val cbSchema = spark.read.parquet(s"$dir/codebook").schema
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cbSchema)
      .write.mode("overwrite").parquet(s"$dir/codebook")
    val m = checkMap(Similarity.fsckIvfAdcIndex(spark, dir))
    assert(!m("codebook_nonempty")._1 && m("codebook_nonempty")._2 === 1L,
      s"empty codebook did not fire codebook_nonempty: $m")
    // and the healthy path carries the same check name, passing
    val dir2 = tmp("graft_fsck_ann_ok")
    Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding", dir2,
      nCentroids = 2, nSub = 2, nCodes = 4)
    graft.engine.Caches.releaseAll()
    assert(checkMap(Similarity.fsckIvfAdcIndex(spark, dir2))("codebook_nonempty")._1)
  }

  test("ANN index keeps an all-zero vector: one code row per vector, exact decode, green fsck") {
    // 12 vectors on the 0.25 grid with n <= nCodes (the exactness premise
    // of the `pq reconstruction` law) and vec 7 all-zero: it has no cosine
    // direction, so it takes the lowest centroid id instead of silently
    // leaving the index
    val vecs = (0 until 12).map(i =>
      if (i == 7) Seq.fill(4)(0f)
      else Seq.tabulate(4)(j => (((i * 5 + j * 3) % 17) - 8) * 0.25f))
    val emb = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val dir = tmp("graft_fsck_zero")
    Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding", dir,
      nCentroids = 4, nSub = 2, nCodes = 16)
    def codes = spark.read.parquet(s"$dir/codes")
    assert(codes.count() === 12L)
    val lowest = spark.read.parquet(s"$dir/centroids")
      .agg(min(col("centroid_id"))).head().getLong(0)
    assert(codes.filter(col("id") === 7L).select(col("cluster").cast("long"))
      .as[Long].collect().toSeq === Seq(lowest))
    val mse = Similarity.pqReconstructionError(spark, dir, emb, "vec_id",
      "embedding").as[(Long, Double)].collect()
    assert(mse.length === 12 && mse.forall(_._2 == 0.0), mse.toSeq)
    val healthy = checkMap(Similarity.fsckIvfAdcIndex(spark, dir))
    assert(healthy.values.forall(_._1), s"healthy index not all-OK: $healthy")
    // a shortlist spanning the whole index holds the zero vector: both
    // exact reranks skip it (no ANSI 0/0) and read as the exact scan
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 5)
      .as[(Long, Double)].collect().toSeq
    assert(Similarity.ivfAdcProbeRerankById(spark, dir, emb, "vec_id",
      "embedding", 0L, 5, shortlist = 12, nProbe = 4)
      .as[(Long, Double)].collect().toSeq === exact)
    assert(Similarity.ivfAdcProbeRerankJoin(spark, dir, emb,
        emb.filter(col("vec_id") === 0L), "vec_id", "embedding", 5,
        shortlist = 12, nProbe = 4, idName = "vec_id")
      .as[(Long, Long, Double)].collect().map(r => (r._2, r._3)).toSet ===
      exact.toSet)
    // the frozen-codebook append keeps (and counts) a zero vector too
    val batch = Seq(100L -> Seq.fill(4)(0f), 101L -> Seq(0.25f, 0.5f, -0.25f, 1f))
      .toDF("vec_id", "embedding")
    assert(Similarity.appendIvfAdcIndex(batch, "vec_id", "embedding", dir) === 2L)
    assert(codes.count() === 14L)
    assert(checkMap(Similarity.fsckIvfAdcIndex(spark, dir)).values.forall(_._1))
    graft.engine.Caches.releaseAll()
  }

  test("IVF fsck: healthy all-OK; each invariant fires on its fault") {
    val emb = (0L until 32L).map(i => (i, List.fill(4)(i.toFloat + 1)))
      .toDF("vec_id", "embedding")
    val dir = tmp("graft_fsck_ivf")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nCentroids = 2)
    val healthy = checkMap(Similarity.fsckIvfIndex(spark, dir))
    assert(healthy.values.forall(_._1), s"healthy index not all-OK: $healthy")
    // fault 1: duplicate id (double append of the same batch)
    val one = spark.read.parquet(s"$dir/assignments").limit(1)
    one.write.mode("append").partitionBy("cluster").parquet(s"$dir/assignments")
    val m1 = checkMap(Similarity.fsckIvfIndex(spark, dir))
    assert(!m1("ids_unique")._1 && m1("ids_unique")._2 === 1L)
    // fault 2: a row filed under a cluster no centroid describes (a
    // stale append racing a rebuild's retired centroids)
    spark.read.parquet(s"$dir/assignments").limit(1)
      .withColumn("id", lit(7777L)).withColumn("cluster", lit(999L))
      .write.mode("append").partitionBy("cluster").parquet(s"$dir/assignments")
    assert(!checkMap(Similarity.fsckIvfIndex(spark, dir))("clusters_known")._1)
    // fault 3: a stored norm that no longer matches its vector (a
    // truncated/corrupted write)
    spark.read.parquet(s"$dir/assignments").limit(1)
      .withColumn("id", lit(8888L)).withColumn("n", lit(0.123d))
      .write.mode("append").partitionBy("cluster").parquet(s"$dir/assignments")
    assert(!checkMap(Similarity.fsckIvfIndex(spark, dir))("norms_consistent")._1)
    // fault 4: interrupted-rebuild remnant
    fs.mkdirs(new Path(s"$dir/.retired"))
    assert(!checkMap(Similarity.fsckIvfIndex(spark, dir))("no_swap_leftovers")._1)
    fs.delete(new Path(s"$dir/.retired"), true)
    // fault 5: an EMPTY centroid table reports, not crashes
    val cSchema = spark.read.parquet(s"$dir/centroids").schema
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cSchema)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    val m5 = checkMap(Similarity.fsckIvfIndex(spark, dir))
    assert(!m5("centroids_nonempty")._1)
    // fault 6: a missing part degrades to the layout row alone
    fs.rename(new Path(s"$dir/centroids"), new Path(s"$dir/centroids_gone"))
    val m6 = Similarity.fsckIvfIndex(spark, dir).collect()
    assert(m6.length === 1 && !m6.head.getBoolean(1)
      && m6.head.getString(3).contains("centroids"))
  }

  test("BM25 fsck: healthy all-OK; each invariant fires on its fault") {
    import graft.text.TextStats
    val dir = tmp("graft_fsck_bm25")
    TextStats.buildBm25Index(docs, "doc_id", "text", dir, nBuckets = 4)
    val healthy = checkMap(TextStats.fsckBm25Index(spark, dir))
    assert(healthy.values.forall(_._1), s"healthy index not all-OK: $healthy")
    // the build-time bucket of a token, via the same executor-side hash
    def bucketOf(tok: String): Int = spark.range(1)
      .select(pmod(hash(lit(tok)), lit(4))).head().getInt(0)
    // fault 1: orphan tf row (a partial append that never wrote the
    // doc's doclen row) — lands in its CORRECT bucket dir so only the
    // universe (and the now-stale df) fire, not the bucket check
    Seq((999L, "alpha", 1L)).toDF("doc_id", "token", "tf")
      .coalesce(1).write.mode("append")
      .parquet(s"$dir/tf/bucket=${bucketOf("alpha")}")
    val m1 = checkMap(TextStats.fsckBm25Index(spark, dir))
    assert(!m1("doc_universe")._1 && m1("doc_universe")._2 === 1L)
    assert(!m1("df_consistent")._1, "orphan tf row must desync df")
    // fault 2: duplicate doclen row (double ingest) — also desyncs
    // totals (count changed)
    Seq((1L, 8L)).toDF("doc_id", "dl").coalesce(1).write.mode("append")
      .parquet(s"$dir/doclen/dbucket=${
        spark.range(1).select(pmod(hash(lit(1L)), lit(4))).head().getInt(0)}")
    val m2 = checkMap(TextStats.fsckBm25Index(spark, dir))
    assert(!m2("doclen_unique")._1 && m2("doclen_unique")._2 === 1L)
    assert(!m2("totals_consistent")._1)
    // fault 3: a tf row filed under the WRONG bucket dir — it would
    // silently escape every probe's partition pruning; fsck names it
    val wrong = (bucketOf("beta") + 1) % 4
    Seq((1L, "beta", 1L)).toDF("doc_id", "token", "tf")
      .coalesce(1).write.mode("append").parquet(s"$dir/tf/bucket=$wrong")
    val m3 = checkMap(TextStats.fsckBm25Index(spark, dir))
    assert(!m3("buckets_consistent")._1 && m3("buckets_consistent")._2 >= 1L)
    // fault 4: crashed-swap leftover dir
    fs.mkdirs(new Path(s"$dir/tf_pswap_staging"))
    assert(!checkMap(TextStats.fsckBm25Index(spark, dir))("no_swap_leftovers")._1)
    fs.delete(new Path(s"$dir/tf_pswap_staging"), true)
    // fault 5: a missing table degrades to the layout row alone
    fs.rename(new Path(s"$dir/totals"), new Path(s"$dir/totals_gone"))
    val m5 = TextStats.fsckBm25Index(spark, dir).collect()
    assert(m5.length === 1 && !m5.head.getBoolean(1)
      && m5.head.getString(3).contains("totals"))
  }

  test("BM25 fsck: a null-doc tf row counts as an orphan even when doclen also has null docs") {
    // ADVICE r14: doc_id derives via cast("long"), so non-numeric ids
    // null out — and the doc-keyed pass merges both sides' null-key
    // rows into one group after the full-outer join, which used to
    // hide a null-doc tf orphan whenever doclen carried null docs too
    // (the pre-r14 distinct+left_anti counted it always)
    import graft.text.TextStats
    val dir = tmp("graft_fsck_bm25_null")
    TextStats.buildBm25Index(docs, "doc_id", "text", dir, nBuckets = 4)
    // a null-doc doclen row whose dl matches the null-doc tf sum, so
    // only the universe (and the count-sensitive df/totals) fire
    Seq((Option.empty[java.lang.Long], "gamma", 1L))
      .toDF("doc_id", "token", "tf")
      .coalesce(1).write.mode("append").parquet(s"$dir/tf/bucket=0")
    Seq((Option.empty[java.lang.Long], 1L)).toDF("doc_id", "dl")
      .coalesce(1).write.mode("append").parquet(s"$dir/doclen/dbucket=0")
    val m = checkMap(TextStats.fsckBm25Index(spark, dir))
    assert(!m("doc_universe")._1 && m("doc_universe")._2 === 1L,
      s"null-doc tf row must count as an orphan: $m")
  }

  test("BM25 fsck: pending tombstones reported, df/totals stale-by-design honored") {
    import graft.text.TextStats
    val dir = tmp("graft_fsck_bm25_ts")
    TextStats.buildBm25Index(docs, "doc_id", "text", dir, nBuckets = 4)
    IndexLifecycle.delete(IndexLifecycle.Bm25, spark, dir, Seq(2L).toDF("doc_id"),
      "doc_id")
    val m = checkMap(TextStats.fsckBm25Index(spark, dir))
    assert(m("tombstones_pending")._2 === 1L)
    assert(m("df_consistent")._1 && m("totals_consistent")._1,
      "df/totals must read ok-stale under pending tombstones")
    IndexLifecycle.purge(IndexLifecycle.Bm25, spark, dir)
    val m2 = checkMap(TextStats.fsckBm25Index(spark, dir))
    assert(m2("tombstones_pending")._2 === 0L)
    assert(m2.values.forall(_._1), s"post-purge index not all-OK: $m2")
  }
}
