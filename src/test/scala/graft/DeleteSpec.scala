package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.IndexLifecycle
import graft.multimodal.Curate
import graft.vector.Similarity

/** Right-to-be-forgotten deletion propagation (round 12): tombstone
  * deletes against the persisted signature and IVFADC indexes, the
  * purge verbs that fold them into the data files, and the
  * partition-level crash-safe swap the ANN purge rides.
  *
  * The governing law everywhere: an index after
  * deleteFrom*Index(D) answers every query exactly as an index
  * derived from the corpus MINUS D — first via the tombstone
  * anti-join (no data file touched), then identically after the
  * purge rewrite, with the tombstone dir cleared only once no data
  * file still holds a deleted row.
  */
class DeleteSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)

  // the CurateSpec popcount geometry: text dups (tA,tB), media pair
  // (iA,iB), mixed chain {cA,cB,cC}, singleton s1
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
  // delete one member of the text-dup pair and one of the mixed chain:
  // surviving components must re-form over the remaining docs
  private val deadDocs = Seq(240L, 983041L)
  private val remaining = docs.filter(!col("doc_id").isin(deadDocs: _*))
  private val pcts = Seq(("train", 80), ("val", 10), ("test", 10))

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/index"

  test("signature index: tombstoned reads equal rebuild-on-remaining; purge preserves them and clears tombstones") {
    val dir = tmp("graft_del_sig")
    Curate.buildSignatureIndex(spark, docs, "doc_id", "text", dir)
    Curate.buildEdgeIndex(spark, dir)
    IndexLifecycle.delete(IndexLifecycle.Signature, spark, dir,
      deadDocs.toDF("doc_id"), "doc_id")
    val want = rows(Curate.unifiedManifest(spark, remaining,
      "doc_id", "text", pcts))
    assert(rows(Curate.unifiedManifestFromIndex(spark, dir, pcts)) === want,
      "tombstoned signature-index manifest diverged from rebuild-on-remaining")
    assert(rows(Curate.manifestFromEdgeIndex(spark, dir, pcts)) === want,
      "tombstoned edge-index manifest diverged from rebuild-on-remaining")
    graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
    // purge folds the tombstones into the files: same answers, no
    // tombstone dir, no deleted id in any signature table, freq exact
    IndexLifecycle.purge(IndexLifecycle.Signature, spark, dir)
    assert(graft.engine.Layout.tombstones(spark, dir).isEmpty,
      "purge left pending tombstones")
    assert(rows(Curate.unifiedManifestFromIndex(spark, dir, pcts)) === want,
      "purged signature-index manifest diverged")
    assert(rows(Curate.manifestFromEdgeIndex(spark, dir, pcts)) === want,
      "purged edge-index manifest diverged")
    Seq("shingles" -> "doc", "text_hashes" -> "doc_id",
        "image_hashes" -> "media_id", "audio_hashes" -> "media_id")
      .foreach { case (t, k) =>
        assert(spark.read.parquet(s"$dir/$t")
          .filter(col(k).isin(deadDocs: _*)).count() === 0L,
          s"purge left deleted ids in $t")
      }
    val wantFreq = rows(graft.text.Dedup.shingleSets(
        remaining, "doc_id", "text", 5)
      .groupBy(col("shingle")).agg(count(lit(1)).as("freq")))
    assert(rows(spark.read.parquet(s"$dir/shingle_freq")) === wantFreq,
      "purged shingle_freq diverged from recompute-on-remaining")
    graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
  }

  test("signature index: appends against a tombstoned index see the remaining corpus") {
    val dir = tmp("graft_del_app")
    Curate.buildSignatureIndex(spark, docs, "doc_id", "text", dir)
    IndexLifecycle.delete(IndexLifecycle.Signature, spark, dir,
      deadDocs.toDF("doc_id"), "doc_id")
    val batch = Seq(
      // dup of the SURVIVING text-dup member and of the DELETED one:
      // must pair with 15L, must NOT resurrect 240L
      900L -> "alpha beta gamma delta epsilon zeta eta theta",
      901L -> "entirely novel vocabulary appearing nowhere previously"
    ).toDF("doc_id", "text")
    assert(rows(Curate.appendManifestIndexed(spark, dir, batch,
        "doc_id", "text"))
      === rows(Curate.appendManifest(spark, remaining, batch,
        "doc_id", "text")),
      "append against tombstoned index diverged from remaining-corpus append")
    graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
    // the text-only append tier sees the same remaining corpus
    assert(rows(graft.text.Clusters.appendDedupIndexed(spark, dir, batch,
        "doc_id", "text"))
      === rows(graft.text.Clusters.appendDedup(remaining, batch,
        "doc_id", "text")),
      "text append against tombstoned index diverged")
    graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
  }

  test("IVFADC: tombstoned probes exclude deleted ids and equal the purged index; purge rewrites only affected clusters") {
    // two tight clusters far apart: deleting a near neighbour must pull
    // the next-best survivor into the top-k
    val emb = (0L until 24L).map { i =>
      val base = if (i % 2 == 0) 10.0f else -10.0f
      (i, List(base + (i / 2) * 0.01f, base, base, base))
    }.toDF("vec_id", "embedding")
    val dir = tmp("graft_del_adc")
    // 2 centroids (one per natural cluster) + nProbe=2: every probe
    // covers the full corpus, so top-k membership is decided by ADC
    // distance alone and the deleted-vs-survivor arithmetic is exact
    Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding", dir,
      nCentroids = 2, nSub = 2, nCodes = 8)
    graft.engine.Caches.releaseAll()
    val dead = Seq(2L, 4L, 6L)
    val before = Similarity.ivfAdcProbeById(spark, dir, emb,
      "vec_id", "embedding", 0L, 5, nProbe = 2).as[(Long, Double)].collect()
    assert(before.map(_._1).toSet.intersect(dead.toSet).nonEmpty,
      "fixture: deleted ids must be in the pre-delete top-k")
    IndexLifecycle.delete(IndexLifecycle.IvfAdc, spark, dir, dead.toDF("vec_id"), "vec_id")
    val tombstoned = Similarity.ivfAdcProbeById(spark, dir, emb,
      "vec_id", "embedding", 0L, 5, nProbe = 2).as[(Long, Double)].collect()
    assert(tombstoned.map(_._1).toSet.intersect(dead.toSet).isEmpty,
      "tombstoned probe returned a deleted id")
    assert(tombstoned.length === 5, "top-k must refill from survivors")
    // record unaffected cluster dirs' file lists before the purge
    val deadClusters = spark.read.parquet(s"$dir/codes")
      .filter(col("id").isin(dead: _*))
      .select(col("cluster").cast("string")).distinct()
      .as[String].collect().toSet
    val untouched = fs.listStatus(new Path(s"$dir/codes"))
      .filter(s => s.isDirectory &&
        !deadClusters.contains(s.getPath.getName.stripPrefix("cluster=")))
      .map(_.getPath.getName).toSet
    val filesBefore = untouched.map(d => d ->
      fs.listStatus(new Path(s"$dir/codes/$d")).map(_.getPath.getName).toSet
    ).toMap
    IndexLifecycle.purge(IndexLifecycle.IvfAdc, spark, dir)
    assert(graft.engine.Layout.tombstones(spark, dir).isEmpty,
      "purge left pending tombstones")
    assert(spark.read.parquet(s"$dir/codes")
      .filter(col("id").isin(dead: _*)).count() === 0L,
      "purge left deleted ids in codes")
    val purged = Similarity.ivfAdcProbeById(spark, dir, emb,
      "vec_id", "embedding", 0L, 5, nProbe = 2).as[(Long, Double)].collect()
    assert(purged.toSeq === tombstoned.toSeq,
      "purged probe diverged from the tombstoned probe")
    untouched.foreach { d =>
      assert(fs.listStatus(new Path(s"$dir/codes/$d"))
        .map(_.getPath.getName).toSet === filesBefore(d),
        s"purge rewrote unaffected cluster dir $d")
    }
    graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
  }

  test("IVFADC: deleting an entire cluster leaves an empty partition, not stale rows") {
    val emb = (0L until 12L).map { i =>
      val base = if (i < 6) 10.0f else -10.0f
      (i, List(base, base, base + i * 0.01f, base))
    }.toDF("vec_id", "embedding")
    val dir = tmp("graft_del_all")
    Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding", dir,
      nCentroids = 2, nSub = 2, nCodes = 4)
    graft.engine.Caches.releaseAll()
    // delete every member of the negative cluster
    val dead = spark.read.parquet(s"$dir/codes")
      .filter(col("id") >= 6L).select(col("id")).as[Long].collect().toSeq
    assert(dead.nonEmpty)
    IndexLifecycle.delete(IndexLifecycle.IvfAdc, spark, dir, dead.toDF("vec_id"), "vec_id")
    IndexLifecycle.purge(IndexLifecycle.IvfAdc, spark, dir)
    assert(spark.read.parquet(s"$dir/codes")
      .filter(col("id").isin(dead: _*)).count() === 0L,
      "emptied cluster's rows survived the purge")
    graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
  }

  test("plain IVF: tombstoned probes exclude deleted ids; purge removes the vectors; rebuild does not resurrect") {
    val emb = (0L until 20L).map { i =>
      val base = if (i % 2 == 0) 10.0f else -10.0f
      (i, List(base + (i / 2) * 0.01f, base, base, base))
    }.toDF("vec_id", "embedding")
    val dir = tmp("graft_del_ivf")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nCentroids = 2)
    val dead = Seq(2L, 4L)
    IndexLifecycle.delete(IndexLifecycle.Ivf, spark, dir, dead.toDF("vec_id"), "vec_id")
    val got = Similarity.ivfProbe(spark, dir,
        Seq(10.0, 10.0, 10.0, 10.0), 5, nProbe = 2)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(got.intersect(dead.toSet).isEmpty, "tombstoned IVF probe leaked")
    assert(got.size === 5)
    IndexLifecycle.purge(IndexLifecycle.Ivf, spark, dir)
    assert(graft.engine.Layout.tombstones(spark, dir).isEmpty)
    assert(spark.read.parquet(s"$dir/assignments")
      .filter(col("id").isin(dead: _*)).count() === 0L,
      "purge left deleted VECTORS on disk")
    // a drift-triggered rebuild trains on survivors only and must not
    // resurrect: delete two more ids, force a rebuild with an impossible
    // gate, and check neither the old nor the new deletions reappear
    val dead2 = Seq(6L, 8L)
    IndexLifecycle.delete(IndexLifecycle.Ivf, spark, dir, dead2.toDF("vec_id"), "vec_id")
    val m = Similarity.maintainIvfIndex(
      emb.filter(col("vec_id") >= 18L), "vec_id", "embedding", dir,
      minCentroidCosine = 1.1) // cosine can't reach it: always rebuild
    assert(m.rebuilt)
    val ids = spark.read.parquet(s"$dir/assignments")
      .select(col("id")).as[Long].collect().toSet
    assert(ids.intersect((dead ++ dead2).toSet).isEmpty,
      "rebuild resurrected deleted vectors")
    assert(graft.engine.Layout.tombstones(spark, dir).isEmpty,
      "rebuild left spent tombstones")
    graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
  }

  test("forgetSink: streamed forget requests equal the batch delete of their union") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = tmp("graft_del_stream")
    Curate.buildSignatureIndex(spark, docs, "doc_id", "text", dir)
    val mem = MemoryStream[Long]
    val q = IndexLifecycle.forgetSink(IndexLifecycle.Signature,
      mem.toDF().toDF("doc_id"), dir,
      java.nio.file.Files.createTempDirectory("graft_del_ckpt").toString, "doc_id")
    mem.addData(240L); q.processAllAvailable()
    mem.addData(983041L); q.processAllAvailable()
    q.stop()
    val want = rows(Curate.unifiedManifest(spark, remaining,
      "doc_id", "text", pcts))
    assert(rows(Curate.unifiedManifestFromIndex(spark, dir, pcts)) === want,
      "streamed forget requests diverged from the batch delete")
    graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
  }

  test("many small forget batches: tombstone file count stays bounded, reads stay correct") {
    val dir = tmp("graft_del_many")
    Curate.buildSignatureIndex(spark, docs, "doc_id", "text", dir)
    // 52 one-id deletes of ids NOT in the corpus (no verdict change),
    // then the two real ones: file count must compact at the cadence,
    // and the read must still equal rebuild-on-remaining
    (1000L until 1052L).foreach { id =>
      IndexLifecycle.delete(IndexLifecycle.Signature, spark, dir,
        Seq(id).toDF("doc_id"), "doc_id", purgeAboveRows = 100000L)
    }
    assert(graft.engine.Layout.flatFileCount(spark, s"$dir/tombstones") <= 10,
      "tombstone files accreted unbounded under small delete batches")
    IndexLifecycle.delete(IndexLifecycle.Signature, spark, dir,
      deadDocs.toDF("doc_id"), "doc_id", purgeAboveRows = 100000L)
    assert(rows(Curate.unifiedManifestFromIndex(spark, dir, pcts))
      === rows(Curate.unifiedManifest(spark, remaining, "doc_id", "text", pcts)),
      "reads diverged after many-small-batch deletes")
    graft.engine.Caches.releaseAll(); spark.catalog.clearCache()
  }

  test("stagedPartitionReplace: a file appended during the rewrite carries over through the swap") {
    // the ANN-tier lost-update window: sinkIvfAdcAppend landing a batch
    // into a cluster dir while a purge rewrites it must survive
    val live = tmp("graft_pswap_co")
    def writePart(part: Int, from: Int, until: Int): Unit =
      spark.range(from, until).select(col("id"), lit(part).as("p"))
        .coalesce(1).write.mode("append").partitionBy("p").parquet(live)
    writePart(0, 0, 10); writePart(1, 10, 20)
    graft.engine.Layout.stagedPartitionReplace(spark, live) {
      (stg, snapshot) =>
        assert(snapshot.nonEmpty)
        // rewrite partition 0 only, from the snapshot, dropping id < 5
        spark.read.option("basePath", live).parquet(snapshot: _*)
          .filter(col("p") === 0 && col("id") >= 5)
          .repartition(col("p"))
          .write.mode("overwrite").partitionBy("p").parquet(stg)
        // concurrent appender lands into the SAME partition mid-rewrite
        spark.range(100, 105).select(col("id"), lit(0).as("p"))
          .coalesce(1).write.mode("append").partitionBy("p").parquet(live)
    }
    val got = spark.read.parquet(live).select(col("id")).as[Long]
      .collect().toSet
    assert(got === ((5L until 10L) ++ (10L until 20L) ++ (100L until 105L)).toSet,
      "concurrent append lost or duplicated through the partition swap")
    assert(!fs.exists(new Path(live + "_pswap_staging")))
    assert(!fs.exists(new Path(live + "_pswap_old")))
  }

  test("stagedPartitionReplace crash states: no marker discards; marker resumes; reads never mix") {
    def writePart(path: String, part: Int, from: Int, until: Int): Unit =
      spark.range(from, until).select(col("id"), lit(part).as("p"))
        .coalesce(1).write.mode("append").partitionBy("p").parquet(path)
    // crash BEFORE marker: staging discarded, live intact
    val live1 = tmp("graft_pswap1")
    writePart(live1, 0, 0, 10); writePart(live1, 1, 10, 20)
    writePart(live1 + "_pswap_staging", 0, 100, 105) // no marker
    // a READ-path heal must leave marker-less staging alone — it is
    // indistinguishable from a concurrent purge's write still running
    // (ADVICE r12); only the writer's own entry may discard it
    graft.engine.Layout.healStagedPartitionSwap(spark, live1)
    assert(fs.exists(new Path(live1 + "_pswap_staging")),
      "read-path heal discarded possibly-in-flight staging")
    assert(spark.read.parquet(live1).count() === 20L)
    graft.engine.Layout.healStagedPartitionSwap(spark, live1,
      discardMarkerless = true)
    assert(!fs.exists(new Path(live1 + "_pswap_staging")))
    assert(spark.read.parquet(live1).count() === 20L)
    // crash AFTER marker, partition 0 half-swapped (live renamed aside,
    // staged not yet moved in): heal must finish BOTH partitions
    val live2 = tmp("graft_pswap2")
    writePart(live2, 0, 0, 10); writePart(live2, 1, 10, 20)
    val stg2 = live2 + "_pswap_staging"
    writePart(stg2, 0, 100, 105); writePart(stg2, 1, 200, 203)
    fs.create(new Path(stg2, "_graft_staged_complete"), true).close()
    fs.mkdirs(new Path(live2 + "_pswap_old"))
    assert(fs.rename(new Path(s"$live2/p=0"), new Path(live2 + "_pswap_old/p=0")))
    graft.engine.Layout.healStagedPartitionSwap(spark, live2)
    assert(!fs.exists(new Path(stg2)))
    assert(!fs.exists(new Path(live2 + "_pswap_old")))
    val got = spark.read.parquet(live2).select(col("id")).as[Long]
      .collect().toSet
    assert(got === ((100L until 105L) ++ (200L until 203L)).toSet,
      "heal did not complete the swap for both partitions")
  }

  test("tombstone snapshot: a forget request appended mid-purge survives the cleanup") {
    // the Layout primitive every purge/rebuild verb routes through
    // (ADVICE r12: the old delete-the-whole-dir cleanup silently lost
    // forget requests a concurrent deleter appended after the purge's
    // tombstone read; the snapshot protocol deletes only what it
    // folded in)
    val dir = tmp("graft_del_snap")
    Seq(1L, 2L).toDF("id").coalesce(1)
      .write.mode("append").parquet(s"$dir/tombstones")
    val (ts, files) = graft.engine.Layout.tombstoneSnapshot(spark, dir).get
    assert(ts.as[Long].collect().toSet === Set(1L, 2L))
    // a concurrent deleter's forget batch lands AFTER the snapshot,
    // while the "purge" is still rewriting data files
    Seq(3L).toDF("id").coalesce(1)
      .write.mode("append").parquet(s"$dir/tombstones")
    graft.engine.Layout.clearTombstoneFiles(spark, dir, files)
    // the mid-purge request is still pending — readers keep masking it
    assert(graft.engine.Layout.tombstones(spark, dir)
      .map(_.as[Long].collect().toSet) === Some(Set(3L)),
      "mid-purge forget request was lost by the cleanup")
    // its own purge cycle clears it; the dir then reads as no-deletes
    val (_, files2) = graft.engine.Layout.tombstoneSnapshot(spark, dir).get
    graft.engine.Layout.clearTombstoneFiles(spark, dir, files2)
    assert(graft.engine.Layout.tombstones(spark, dir).isEmpty)
  }
}
