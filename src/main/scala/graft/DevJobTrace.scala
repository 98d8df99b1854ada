package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.IndexLifecycle

// dev scratch — per-JOB trace of a forget-cycle verb: prints every
// Spark job the verb fires (start order, wall ms, task count, call
// site) so a cycle's job count can be broken down to the exact driver
// round-trips. Not part of the library surface.
object DevJobTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val which = args.headOption.getOrElse("bm25")
    val spark = graft.engine.Sessions.tune(
      SparkSession.builder().master(s"local[$cpus]"),
      shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class J(id: Int, t0: Long, var t1: Long = 0L,
                       var tasks: Int = 0, site: String, desc: String)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val site = s.stageInfos.lastOption.map(_.details.linesIterator
            .filterNot(l => l.contains("org.apache.spark") ||
              l.contains("scala.") || l.contains("java."))
            .take(1).mkString).getOrElse("?")
          val desc = Option(s.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          jobs.put(s.jobId, J(s.jobId, s.time,
            tasks = s.stageInfos.map(_.numTasks).sum, site = site,
            desc = desc))
          order.add(s.jobId)
        }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val j = jobs.get(e.jobId); if (j != null) j.t1 = e.time
        }
      })

    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)

    def trace(label: String)(f: => Unit): Unit = {
      jobs.clear(); order.clear()
      val t0 = System.nanoTime()
      f
      val total = (System.nanoTime() - t0) / 1e9
      // drain: job end events are async
      Thread.sleep(300)
      println(f"[jobtrace] ===== $label: total $total%.3f s, " +
        s"${order.size} jobs =====")
      import scala.jdk.CollectionConverters._
      for (id <- order.asScala) {
        val j = jobs.get(id)
        val ms = if (j.t1 > 0) j.t1 - j.t0 else -1L
        val d = if (j.desc.nonEmpty) j.desc.take(60) else j.site.take(90)
        println(f"[jobtrace]   job=$id%-4d ${ms}%6d ms tasks=${j.tasks}%-4d $d")
      }
    }

    if (which == "bm25") {
      val base = java.nio.file.Files.createTempDirectory("graft_jt_bm25")
        .toString + "/index"
      graft.text.TextStats.buildBm25Index(docs, "doc_id", "text", base)
      graft.engine.Caches.releaseAll()
      trace("q248 one-verb bm25 forget cycle") {
        IndexLifecycle.forgetAndVerify(IndexLifecycle.Bm25, spark, base,
          docs.filter(col("doc_id") % 10 === 4).select("doc_id"), "doc_id",
          purgeAboveMaskedFraction = 0.05).head()
      }
    } else if (which == "sig") {
      val base = java.nio.file.Files.createTempDirectory("graft_jt_sig")
        .toString + "/index"
      graft.multimodal.Curate.buildSignatureIndex(spark, docs, "doc_id",
        "text", base)
      graft.engine.Caches.releaseAll()
      trace("q240 one-verb signature forget cycle") {
        IndexLifecycle.forgetAndVerify(IndexLifecycle.Signature, spark, base,
          docs.filter(col("doc_id") % 10 === 4).select("doc_id"), "doc_id",
          purgeAboveMaskedFraction = 0.05).head()
      }
    } else if (which == "ann") {
      val base = java.nio.file.Files.createTempDirectory("graft_jt_ann")
        .toString + "/index"
      graft.vector.Similarity.buildIvfAdcIndex(emb, "vec_id", "embedding",
        base)
      graft.engine.Caches.releaseAll()
      trace("q241 one-verb ann forget cycle") {
        IndexLifecycle.forgetAndVerify(IndexLifecycle.IvfAdc, spark, base,
          emb.filter(col("vec_id") % 7 === 3).select("vec_id"), "vec_id",
          purgeAboveMaskedFraction = 0.05).head()
      }
    }
    spark.stop()
  }
}
