package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.IndexLifecycle
import graft.multimodal.Curate

/** The closed forget loop (round-13): `forgetAndVerify` chains
  * recovery → tombstone record → deletion report → policy-gated purge
  * → fsck into one operational verb. This spec proves the CRASH
  * contract: the cycle is killed (simulated) between every stage, and
  * the next cycle's entry recovery completes the interrupted work —
  * fsck green and reads correct at every cycle boundary, no operator
  * intervention.
  */
class ForgetCycleSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)

  // the DeleteSpec popcount corpus: known dup structure
  private val docs = Seq(
    15L         -> "alpha beta gamma delta epsilon zeta eta theta",
    240L        -> "alpha beta gamma delta epsilon zeta eta theta",
    3840L       -> "one two three four five six seven eight",
    3841L       -> "nine ten eleven twelve thirteen fourteen fifteen sixteen",
    983040L     -> "red orange yellow green blue indigo violet white",
    983041L     -> "lorem ipsum dolor sit amet consectetur adipiscing elit",
    15728640L   -> "lorem ipsum dolor sit amet consectetur adipiscing elit",
    251658240L  -> "solo unique words nothing shared with anything else"
  ).toDF("doc_id", "text")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/index"

  private def build(): String = {
    val dir = tmp("graft_forget")
    Curate.buildSignatureIndex(spark, docs, "doc_id", "text", dir)
    dir
  }

  private def report(df: org.apache.spark.sql.DataFrame) = {
    val r = df.head()
    (r.getAs[Long]("n_requested"), r.getAs[Double]("masked_fraction"),
      r.getAs[Boolean]("purged"), r.getAs[Long]("pending_tombstones"),
      r.getAs[Boolean]("fsck_ok"))
  }

  private def fsckGreen(dir: String): Unit = {
    val m = Curate.fsckSignatureIndex(spark, dir)
      .select("check_name", "ok").as[(String, Boolean)].collect().toMap
    assert(m.values.forall(identity), s"fsck not green: $m")
  }

  test("happy path: below policy masks, above policy purges; fsck green throughout") {
    val dir = build()
    // one deleted doc: masked fraction ~1/8 < 0.25 → tombstone only
    val r1 = report(IndexLifecycle.forgetAndVerify(IndexLifecycle.Signature, spark, dir,
      Seq(240L).toDF("doc_id"), "doc_id"))
    assert(r1._1 === 1L && !r1._3 && r1._4 === 1L && r1._5,
      s"below-policy cycle wrong: $r1")
    assert(r1._2 > 0.0 && r1._2 < 0.25)
    fsckGreen(dir)
    // masked docs really vanish from reads before any purge
    assert(Curate.liveSig(spark, dir, graft.engine.IndexTable.TextHashes)
      .filter(col("doc_id") === 240L).count() === 0L)
    // two more deletions push past 0.25 → the cycle purges and audits
    val r2 = report(IndexLifecycle.forgetAndVerify(IndexLifecycle.Signature, spark, dir,
      Seq(983041L, 15728640L).toDF("doc_id"), "doc_id"))
    assert(r2._1 === 2L && r2._3 && r2._4 === 0L && r2._5,
      s"above-policy cycle wrong: $r2")
    fsckGreen(dir)
    // purged rows physically gone, earlier tombstones folded too
    Seq(240L, 983041L, 15728640L).foreach { id =>
      assert(spark.read.parquet(s"$dir/text_hashes")
        .filter(col("doc_id") === id).count() === 0L,
        s"purge left doc $id on disk")
    }
    graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
  }

  test("crash after record, before purge: next cycle completes the purge") {
    val dir = build()
    // stage-1-only predecessor (the crash left tombstones, no purge) —
    // above-policy mask so the NEXT cycle must fire the purge
    IndexLifecycle.delete(IndexLifecycle.Signature, spark, dir,
      Seq(240L, 983041L, 15728640L).toDF("doc_id"), "doc_id")
    assert(graft.engine.Layout.tombstones(spark, dir).get.count() === 3L)
    val r = report(IndexLifecycle.forgetAndVerify(IndexLifecycle.Signature, spark, dir,
      spark.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0),
      "doc_id"))
    assert(r._1 === 0L && r._3 && r._4 === 0L && r._5,
      s"recovery cycle did not complete the interrupted purge: $r")
    fsckGreen(dir)
    graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
  }

  test("crash mid-purge (staging remnants, with and without marker): next cycle heals") {
    val dir = build()
    IndexLifecycle.delete(IndexLifecycle.Signature, spark, dir,
      Seq(240L, 983041L, 15728640L).toDF("doc_id"), "doc_id")
    // marker-less staging on one table (purge died mid-staging-write)…
    spark.range(1).select(lit("x").as("junk"))
      .write.parquet(s"$dir/text_hashes_swap_staging")
    // …and a COMPLETED-but-unswapped staging on another (died after the
    // marker, before the renames): shingles minus the deleted docs
    spark.read.parquet(s"$dir/shingles")
      .filter(!col("doc").isin(240L, 983041L, 15728640L))
      .write.parquet(s"$dir/shingles_swap_staging")
    fs.create(new Path(s"$dir/shingles_swap_staging/_graft_staged_complete"),
      true).close()
    // the crash point: rename(live → old) happened, rename(staging →
    // live) did not — live is MISSING, old holds the pre-purge table
    assert(fs.rename(new Path(s"$dir/shingles"),
      new Path(s"$dir/shingles_swap_old")))
    // fsck flags the crash state (live shingles missing → layout_parts
    // fires; had live survived, no_swap_leftovers would fire instead)
    assert(Curate.fsckSignatureIndex(spark, dir)
      .filter(!col("ok")).count() > 0L,
      "fsck failed to flag the in-flight swap remnants")
    val r = report(IndexLifecycle.forgetAndVerify(IndexLifecycle.Signature, spark, dir,
      spark.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0),
      "doc_id"))
    assert(r._5, s"post-recovery fsck not green: $r")
    assert(!fs.exists(new Path(s"$dir/text_hashes_swap_staging")))
    assert(!fs.exists(new Path(s"$dir/shingles_swap_staging")))
    assert(!fs.exists(new Path(s"$dir/shingles_swap_old")))
    fsckGreen(dir)
    // the healed index still answers: the completed staging became live
    // (deleted docs gone from shingles), tombstones still mask the rest
    assert(Curate.liveSig(spark, dir, graft.engine.IndexTable.Shingles)
      .filter(col("doc").isin(240L, 983041L, 15728640L)).count() === 0L)
    graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
  }

  test("crash after purge, before tombstone cleanup: spent tombstones stay benign") {
    val dir = build()
    val dead = Seq(240L, 983041L, 15728640L)
    IndexLifecycle.delete(IndexLifecycle.Signature, spark, dir, dead.toDF("doc_id"), "doc_id")
    IndexLifecycle.purge(IndexLifecycle.Signature, spark, dir)
    // re-create the spent tombstones (the crash state: purge rewrote
    // the files but died before clearing its snapshot)
    dead.toDF("id").coalesce(1).write.mode("append")
      .parquet(s"$dir/tombstones")
    val r = report(IndexLifecycle.forgetAndVerify(IndexLifecycle.Signature, spark, dir,
      spark.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0),
      "doc_id"))
    // masked fraction is 0 (the rows are gone), so no purge fires; the
    // spent tombstones are reported pending and benign; fsck green
    assert(r._2 === 0.0 && !r._3 && r._5, s"spent-tombstone cycle wrong: $r")
    fsckGreen(dir)
    graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
  }

  test("ANN tier: mask below policy, purge above, crash recovery completes; fsck green") {
    import graft.vector.Similarity
    val emb = (0L until 64L).map(i =>
        (i, List.tabulate(8)(j => ((i * 31 + j * 17) % 97).toFloat + 1f)))
      .toDF("vec_id", "embedding")
    val dir = tmp("graft_forget_ann")
    Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding", dir,
      nCentroids = 2, nSub = 2, nCodes = 4)
    graft.engine.Caches.releaseAll()
    // one vector: masked 1/64 < 0.25 → tombstone only, audit green
    val r1 = report(IndexLifecycle.forgetAndVerify(IndexLifecycle.IvfAdc, spark, dir,
      Seq(7L).toDF("vec_id"), "vec_id"))
    assert(r1._1 === 1L && !r1._3 && r1._4 === 1L && r1._5, s"cycle wrong: $r1")
    assert(r1._2 > 0.0 && r1._2 < 0.25)
    // crash-after-record predecessor: a third of the corpus tombstoned,
    // no purge — the NEXT (empty) cycle must fire it and audit green
    IndexLifecycle.delete(IndexLifecycle.IvfAdc, spark, dir,
      (0L until 64L by 3L).toDF("vec_id"), "vec_id")
    val r2 = report(IndexLifecycle.forgetAndVerify(IndexLifecycle.IvfAdc, spark, dir,
      spark.emptyDataFrame.select(lit(0L).as("vec_id")).limit(0), "vec_id"))
    assert(r2._1 === 0L && r2._3 && r2._4 === 0L && r2._5,
      s"ANN recovery cycle did not complete the purge: $r2")
    // rows physically gone for BOTH delete generations
    val alive = spark.read.parquet(s"$dir/codes").select(col("id"))
      .as[Long].collect().toSet
    assert(!alive.contains(7L) && (0L until 64L by 3L).forall(!alive.contains(_)),
      "purge left deleted vectors in codes")
    val fsck = Similarity.fsckIvfAdcIndex(spark, dir)
      .select("check_name", "ok").as[(String, Boolean)].collect().toMap
    assert(fsck.values.forall(identity), s"post-cycle fsck not green: $fsck")
    graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
  }

  test("BM25 tier: mask below policy, purge above, crash recovery completes; fsck green") {
    import graft.text.TextStats
    val dir = tmp("graft_forget_bm25")
    TextStats.buildBm25Index(docs, "doc_id", "text", dir, nBuckets = 4)
    // one deleted doc: masked 1/8 < 0.25 → tombstone only, audit green
    val r1 = report(IndexLifecycle.forgetAndVerify(IndexLifecycle.Bm25, spark, dir,
      Seq(240L).toDF("doc_id"), "doc_id"))
    assert(r1._1 === 1L && !r1._3 && r1._4 === 1L && r1._5, s"cycle wrong: $r1")
    assert(r1._2 > 0.0 && r1._2 < 0.25)
    // crash-after-record predecessor: three more docs tombstoned, no
    // purge — the NEXT (empty) cycle must fire it and audit green
    IndexLifecycle.delete(IndexLifecycle.Bm25, spark, dir,
      Seq(3840L, 983041L, 15728640L).toDF("doc_id"), "doc_id")
    val r2 = report(IndexLifecycle.forgetAndVerify(IndexLifecycle.Bm25, spark, dir,
      spark.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0), "doc_id"))
    assert(r2._1 === 0L && r2._3 && r2._4 === 0L && r2._5,
      s"BM25 recovery cycle did not complete the purge: $r2")
    // rows physically gone for BOTH delete generations, in all relations
    val deadSet = Set(240L, 3840L, 983041L, 15728640L)
    val tfAlive = spark.read.parquet(s"$dir/tf").select(col("doc_id"))
      .as[Long].collect().toSet
    val dlAlive = spark.read.parquet(s"$dir/doclen").select(col("doc_id"))
      .as[Long].collect().toSet
    assert(deadSet.forall(id => !tfAlive.contains(id) && !dlAlive.contains(id)),
      "purge left deleted docs in tf/doclen")
    val fsck = TextStats.fsckBm25Index(spark, dir)
      .select("check_name", "ok").as[(String, Boolean)].collect().toMap
    assert(fsck.values.forall(identity), s"post-cycle fsck not green: $fsck")
    graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
  }

  test("BM25 tier: a purge interrupted after the tf swap still probes correctly; next cycle finishes") {
    import graft.text.TextStats
    val dir = tmp("graft_forget_bm25_mid")
    TextStats.buildBm25Index(docs, "doc_id", "text", dir, nBuckets = 4)
    val dead = Seq(15L, 983041L)
    IndexLifecycle.delete(IndexLifecycle.Bm25, spark, dir, dead.toDF("doc_id"), "doc_id")
    // simulate the purge dying right after its FIRST stage: fold the
    // tombstones into tf only — df/doclen/totals are now stale and the
    // tombstones still pend (the purge clears them LAST)
    val tsDoc = broadcast(spark.read.parquet(s"$dir/tombstones")
      .select(col("id").as("doc_id")))
    val affected = spark.read.parquet(s"$dir/tf").join(tsDoc, Seq("doc_id"))
      .select(col("bucket").cast("string")).distinct()
      .as[String].collect().toSeq
    graft.engine.Layout.stagedPartitionReplace(spark, s"$dir/tf") {
      (stg, snapshot) =>
      spark.read.option("basePath", s"$dir/tf").parquet(snapshot: _*)
        .filter(col("bucket").cast("string").isin(affected: _*))
        .join(tsDoc, Seq("doc_id"), "left_anti")
        .repartition(col("bucket"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("bucket").parquet(stg)
      affected.foreach { c =>
        val p = new Path(stg, s"bucket=$c")
        if (!fs.exists(p)) fs.mkdirs(p)
      }
    }
    // the probe at this intermediate state must equal a fresh build
    // over the survivors (under pending tombstones it derives
    // df/totals from live rows, never the stale partials)
    val terms = Seq("alpha", "lorem", "red")
    val fresh = tmp("graft_forget_bm25_fresh")
    TextStats.buildBm25Index(
      docs.filter(!col("doc_id").isin(dead: _*)), "doc_id", "text", fresh,
      nBuckets = 4)
    def probe(p: String) = TextStats.bm25Probe(spark, p, terms)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(probe(dir) === probe(fresh),
      "interrupted-purge probe diverged from the survivor rebuild")
    // the next cycle's entry completes the purge and audits green
    val r = report(IndexLifecycle.forgetAndVerify(IndexLifecycle.Bm25, spark, dir,
      spark.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0), "doc_id",
      purgeAboveMaskedFraction = 0.1))
    assert(r._3 && r._4 === 0L && r._5, s"recovery cycle wrong: $r")
    assert(probe(dir) === probe(fresh))
    graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
  }

  /** The crash state of a tombstone compaction killed between its two
    * renames: the live dir moved to `tombstones_swap_old`, and a marked,
    * compacted staging holds the same ids.
    */
  private def crashTombstoneCompaction(dir: String): Unit = {
    val live = new Path(s"$dir/tombstones")
    val snapshot = fs.listStatus(live).map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
    spark.read.parquet(live.toString).coalesce(1)
      .write.parquet(s"$dir/tombstones_swap_staging")
    val marker = fs.create(
      new Path(s"$dir/tombstones_swap_staging/_graft_staged_complete"), true)
    marker.write(snapshot.mkString("\n").getBytes("UTF-8"))
    marker.close()
    assert(fs.rename(live, new Path(s"$dir/tombstones_swap_old")))
  }

  test("crashed tombstone compaction: the next ANN and BM25 cycles keep the stranded ids masked") {
    import graft.text.TextStats
    import graft.vector.Similarity
    // ANN tier, no purge: the stranded ids must stay pending and masked
    val emb = (0L until 64L).map(i =>
        (i, List.tabulate(8)(j => ((i * 31 + j * 17) % 97).toFloat + 1f)))
      .toDF("vec_id", "embedding")
    val ann = tmp("graft_forget_ts_ann")
    Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding", ann,
      nCentroids = 2, nSub = 2, nCodes = 4)
    IndexLifecycle.delete(IndexLifecycle.IvfAdc, spark, ann,
      Seq(5L, 9L).toDF("vec_id"), "vec_id")
    crashTombstoneCompaction(ann)
    assert(Similarity.fsckIvfAdcIndex(spark, ann).filter(!col("ok")).count() > 0L,
      "fsck read green over a crashed tombstone compaction")
    val ra = report(IndexLifecycle.forgetAndVerify(IndexLifecycle.IvfAdc, spark,
      ann, Seq(11L).toDF("vec_id"), "vec_id"))
    assert(!ra._3 && ra._4 === 3L && ra._5, s"ANN cycle lost stranded ids: $ra")
    val query = List.tabulate(8)(j => ((5 * 31 + j * 17) % 97).toDouble + 1.0)
    val nearest = Similarity.ivfAdcProbe(spark, ann, query, 64, nProbe = 2)
      .select("id").as[Long].collect().toSet
    assert(nearest.size === 61 && Seq(5L, 9L, 11L).forall(!nearest.contains(_)),
      s"ANN probe returned forgotten ids: $nearest")
    // BM25 tier, purge fires: the stranded id must be purged with the new one
    val bm = tmp("graft_forget_ts_bm25")
    TextStats.buildBm25Index(docs, "doc_id", "text", bm, nBuckets = 4)
    IndexLifecycle.delete(IndexLifecycle.Bm25, spark, bm,
      Seq(15L).toDF("doc_id"), "doc_id")
    crashTombstoneCompaction(bm)
    val rb = report(IndexLifecycle.forgetAndVerify(IndexLifecycle.Bm25, spark,
      bm, Seq(3840L).toDF("doc_id"), "doc_id", purgeAboveMaskedFraction = 0.1))
    assert(rb._3 && rb._4 === 0L && rb._5, s"BM25 cycle wrong: $rb")
    val hits = TextStats.bm25Probe(spark, bm, Seq("alpha", "one"))
      .select("doc_id").as[Long].collect().toSet
    assert(hits === Set(240L), s"BM25 probe returned forgotten docs: $hits")
    assert(spark.read.parquet(s"$bm/doclen")
      .filter(col("doc_id").isin(15L, 3840L)).count() === 0L,
      "purge left a stranded doc in doclen")
    val fsck = TextStats.fsckBm25Index(spark, bm)
      .select("check_name", "ok").as[(String, Boolean)].collect().toMap
    assert(fsck.values.forall(identity), s"post-cycle fsck not green: $fsck")
    graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
  }

  test("crashed BM25 totals swap: the next cycle completes it") {
    import graft.text.TextStats
    val dir = tmp("graft_forget_totals")
    TextStats.buildBm25Index(docs, "doc_id", "text", dir, nBuckets = 4)
    val terms = Seq("alpha", "lorem", "red")
    def probe() = TextStats.bm25Probe(spark, dir, terms)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val before = probe()
    // killed between the renames: staged totals marked, live moved aside
    spark.read.parquet(s"$dir/totals").write.parquet(s"$dir/totals_swap_staging")
    fs.create(new Path(s"$dir/totals_swap_staging/_graft_staged_complete"),
      true).close()
    assert(fs.rename(new Path(s"$dir/totals"), new Path(s"$dir/totals_swap_old")))
    val r = report(IndexLifecycle.forgetAndVerify(IndexLifecycle.Bm25, spark,
      dir, spark.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0), "doc_id"))
    assert(r._5, s"cycle did not complete the totals swap: $r")
    assert(fs.exists(new Path(s"$dir/totals")) &&
      !fs.exists(new Path(s"$dir/totals_swap_old")) &&
      !fs.exists(new Path(s"$dir/totals_swap_staging")))
    assert(probe() === before)
    graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
  }

  test("unified all-tiers cycle: one request, one audited report row per tier") {
    import graft.text.TextStats
    import graft.vector.Similarity
    val sig = build()
    val bm = tmp("graft_forget_all_bm")
    TextStats.buildBm25Index(docs, "doc_id", "text", bm, nBuckets = 4)
    val emb = (0L until 64L).map(i =>
        (i, List.tabulate(8)(j => ((i * 31 + j * 17) % 97).toFloat + 1f)))
      .toDF("vec_id", "embedding")
    val ann = tmp("graft_forget_all_ann")
    Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding", ann,
      nCentroids = 2, nSub = 2, nCodes = 4)
    graft.engine.Caches.releaseAll()
    // 2/8 docs cross the sig+bm25 policy; only id 15 exists in the
    // ANN universe (0..63), so the ann row masks 1/64 and must NOT
    // purge (both request ids still tombstone — requests are recorded
    // regardless of membership)
    val rep = Curate.forgetAndVerifyAll(spark,
        Seq(15L, 240L).toDF("doc_id"), "doc_id",
        signatureIndexPath = Some(sig), annIndexPath = Some(ann),
        bm25IndexPath = Some(bm), purgeAboveMaskedFraction = 0.2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getBoolean(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    assert(rep.keySet === Set("signature", "ann", "bm25"))
    assert(rep.values.forall(_._1 === 2L), s"n_requested wrong: $rep")
    assert(rep("signature")._2 && rep("bm25")._2, s"sig/bm25 must purge: $rep")
    assert(!rep("ann")._2 && rep("ann")._3 === 2L,
      s"ann at 1/64 mask must tombstone only: $rep")
    assert(rep.values.forall(_._4), s"some tier's fsck not green: $rep")
    // at-least-one-tier contract
    intercept[IllegalArgumentException] {
      Curate.forgetAndVerifyAll(spark, Seq(1L).toDF("doc_id"), "doc_id")
    }
    graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
  }

  test("streaming loop: per-batch cycles equal the batch outcome and audit green") {
    implicit val sqlCtx = spark.sqlContext
    val dir = build()
    val reports = java.nio.file.Files
      .createTempDirectory("graft_forget_rep").toString + "/reports"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_forget_ckpt").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = graft.streaming.EventStream.forgetAndVerifyStream(
      mem.toDF().select(col("value").as("doc_id")), dir, ckpt, reports,
      purgeAboveMaskedFraction = 0.25)
    try {
      mem.addData(240L); q.processAllAvailable()        // below policy
      mem.addData(983041L, 15728640L); q.processAllAvailable() // crosses
    } finally q.stop()
    val rep = spark.read.parquet(reports).orderBy(col("epoch_id"))
      .collect()
    assert(rep.length === 2)
    val first = rep.head; val second = rep.last
    assert(!first.getAs[Boolean]("purged") &&
      first.getAs[Long]("pending_tombstones") === 1L &&
      first.getAs[Boolean]("fsck_ok"))
    assert(second.getAs[Boolean]("purged") &&
      second.getAs[Long]("pending_tombstones") === 0L &&
      second.getAs[Boolean]("fsck_ok"))
    // end state identical to the batch happy path: rows physically gone
    Seq(240L, 983041L, 15728640L).foreach { id =>
      assert(spark.read.parquet(s"$dir/text_hashes")
        .filter(col("doc_id") === id).count() === 0L)
    }
    fsckGreen(dir)
    graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
  }
}
