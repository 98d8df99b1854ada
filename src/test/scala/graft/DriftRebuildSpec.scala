package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.IndexLifecycle
import graft.vector.Similarity

/** The drift→rebuild loop (round 14): `rebuildIvfIndexIfDrifted` is
  * the policy verb that closes what `centroidDriftSink` only measured
  * — standing centroid drift past a threshold triggers a staged
  * rebuild over the survivors, fsck'd, exactly as the masked-fraction
  * policy gates the purge. This spec pins the policy gating (fires on
  * a drifted corpus, no-ops on a stationary one), the end state (a
  * full-width probe equals a fresh build over the same corpus), and
  * the interaction with pending deletes (the rebuild folds tombstones,
  * never resurrects).
  */
class DriftRebuildSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString + "/index"

  // a corpus with a strong COMMON direction: every vector ≈ 10·1̂ +
  // small id-dependent noise, so any uniform sample's mean is nearly
  // the corpus mean (cosine ≈ 1) — the stationary case
  private def stationary(n: Int, idOffset: Long = 0L) =
    (0 until n).map { i =>
      (i.toLong + idOffset,
        List.tabulate(8)(j => 10f + ((i * 7 + j * 3) % 5) * 0.1f))
    }.toDF("vec_id", "embedding")

  // the drifted batch: the common direction flipped and shifted — a
  // uniform sample of the ORIGINAL corpus no longer points anywhere
  // near the mixed corpus mean
  private def drifted(n: Int, idOffset: Long) =
    (0 until n).map { i =>
      (i.toLong + idOffset,
        List.tabulate(8)(j =>
          (if (j % 2 == 0) -10f else 0f) + ((i * 5 + j) % 4) * 0.1f))
    }.toDF("vec_id", "embedding")

  private def report(df: org.apache.spark.sql.DataFrame) = {
    val r = df.head()
    (r.getAs[Long]("n_vectors"),
      Option(r.getAs[java.lang.Double]("centroid_cosine")).map(_.toDouble),
      r.getAs[Boolean]("rebuilt"), r.getAs[Boolean]("fsck_ok"))
  }

  private def fsckGreen(dir: String): Unit = {
    val m = Similarity.fsckIvfIndex(spark, dir)
      .select("check_name", "ok").as[(String, Boolean)].collect().toMap
    assert(m.values.forall(identity), s"fsck not green: $m")
  }

  test("stationary corpus: the verb is a measured no-op — no rebuild, index untouched") {
    val dir = tmp("graft_drift_noop")
    Similarity.buildIvfIndex(stationary(64), "vec_id", "embedding", dir,
      nCentroids = 4)
    val centsBefore = spark.read.parquet(s"$dir/centroids")
      .orderBy("centroid_id").collect().toSeq
    val r = report(Similarity.rebuildIvfIndexIfDrifted(spark, dir,
      minCentroidCosine = 0.9, nCentroids = 4))
    assert(!r._3, s"stationary corpus must not rebuild: $r")
    assert(r._2.exists(_ >= 0.9), s"cosine should read ≈1: $r")
    assert(r._1 === 64L && r._4)
    val centsAfter = spark.read.parquet(s"$dir/centroids")
      .orderBy("centroid_id").collect().toSeq
    assert(centsBefore === centsAfter, "no-op path must not touch centroids")
    fsckGreen(dir)
  }

  test("drifted corpus: policy fires, probe equals a fresh build over the union") {
    val dir = tmp("graft_drift_fire")
    Similarity.buildIvfIndex(stationary(64), "vec_id", "embedding", dir,
      nCentroids = 4)
    Similarity.appendIvfIndex(drifted(64, 1000L), "vec_id", "embedding", dir)
    val r = report(Similarity.rebuildIvfIndexIfDrifted(spark, dir,
      minCentroidCosine = 0.9, nCentroids = 4))
    assert(r._3, s"drifted corpus must rebuild: $r")
    assert(r._2.forall(_ < 0.9), s"cosine should collapse: $r")
    assert(r._1 === 128L && r._4)
    fsckGreen(dir)
    // end state ≡ fresh build over the union corpus (same nCentroids):
    // identical centroids, identical full-width probe
    val fresh = tmp("graft_drift_fresh")
    Similarity.buildIvfIndex(
      stationary(64).unionByName(drifted(64, 1000L)),
      "vec_id", "embedding", fresh, nCentroids = 4)
    def probe(p: String) =
      Similarity.ivfProbe(spark, p, Seq.fill(8)(1.0), k = 10, nProbe = 8)
        .as[(Long, Double)].collect().toSeq
    assert(probe(dir) === probe(fresh),
      "rebuilt index probes differently from a fresh build")
    // the rebuild's cluster layout is the fresh build's too
    val a = spark.read.parquet(s"$dir/assignments")
      .select("id", "cluster").as[(Long, Long)].collect().toSet
    val b = spark.read.parquet(s"$fresh/assignments")
      .select("id", "cluster").as[(Long, Long)].collect().toSet
    assert(a === b)
  }

  test("pending deletes fold into the rebuild — never resurrected, tombstones spent") {
    val dir = tmp("graft_drift_del")
    Similarity.buildIvfIndex(stationary(64), "vec_id", "embedding", dir,
      nCentroids = 4)
    Similarity.appendIvfIndex(drifted(64, 1000L), "vec_id", "embedding", dir)
    IndexLifecycle.delete(IndexLifecycle.Ivf, spark, dir,
      Seq(3L, 7L, 1005L).toDF("vec_id"), "vec_id")
    val r = report(Similarity.rebuildIvfIndexIfDrifted(spark, dir,
      minCentroidCosine = 0.9, nCentroids = 4))
    assert(r._3 && r._4, s"drift cycle wrong: $r")
    val alive = spark.read.parquet(s"$dir/assignments").select(col("id"))
      .as[Long].collect().toSet
    assert(Seq(3L, 7L, 1005L).forall(!alive.contains(_)),
      "rebuild resurrected deleted ids")
    assert(graft.engine.Layout.tombstones(spark, dir)
      .map(_.count()).getOrElse(0L) === 0L,
      "snapshot tombstones not spent after the rebuild")
    fsckGreen(dir)
  }

  test("a crashed rebuild leaves the live index intact; fsck names the remnant") {
    val dir = tmp("graft_drift_crash")
    Similarity.buildIvfIndex(stationary(64), "vec_id", "embedding", dir,
      nCentroids = 4)
    // simulate a rebuild that died after staging: the .rebuild dir
    // exists, the live dirs are untouched — probes keep working and
    // fsck points the operator at the remnant
    Similarity.buildIvfIndex(stationary(64), "vec_id", "embedding",
      s"$dir/.rebuild", nCentroids = 4)
    assert(Similarity.ivfProbe(spark, dir, Seq.fill(8)(1.0), 5, 4)
      .count() === 5L)
    val m = Similarity.fsckIvfIndex(spark, dir)
      .select("check_name", "ok", "detail").collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(!m("no_swap_leftovers")._1 &&
      m("no_swap_leftovers")._2.contains(".rebuild"))
    fs.delete(new Path(s"$dir/.rebuild"), true)
    fsckGreen(dir)
  }
}
