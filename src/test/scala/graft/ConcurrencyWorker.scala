package graft

import org.apache.spark.sql.SparkSession

import graft.engine.IndexLifecycle

/** Child-process entry point for [[ConcurrencySpec]]: a REAL second
  * JVM with its own SparkSession racing the parent test JVM against
  * one shared index directory — the production failure mode for a
  * shared-filesystem index that in-process fault injection
  * (StagedReplaceSpec/DeleteSpec) cannot exercise (round-12 verdict
  * item #4). Modes:
  *
  *   - `compact <path> <millis>`: loop
  *     [[graft.engine.Layout.compactFlat]] over a flat table for at
  *     least `millis` wall-clock, printing `ROUND <start> <end>`
  *     nanotimes the parent uses to prove overlap;
  *   - `purge <indexPath>`: one
  *     [[graft.vector.Similarity.purgeIvfAdcIndex]], bracketed by
  *     `PURGE_START <ms>` / `PURGE_END <ms>` wall-clock millis.
  *
  * Prints `READY` once the session is up (the parent gates its racing
  * work on it) and `DONE` before exiting 0; any exception exits 1 with
  * the stack on stdout for the parent's failure message.
  */
object ConcurrencyWorker {
  def main(args: Array[String]): Unit = {
    try {
      val spark = graft.engine.Sessions.tune(
        SparkSession.builder().master("local[2]")
          .appName("graft-concurrency-worker"),
        shufflePartitions = 2).getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      println("READY")
      Console.flush()
      args(0) match {
        case "compact" =>
          val path = args(1)
          val millis = args(2).toLong
          val deadline = System.currentTimeMillis() + millis
          // RawLocalFileSystem stats shell out to `ls`; a file the racing
          // appender removes mid-listing (its in-flight `_temporary`
          // committer scratch) surfaces as this transient. Retryable by
          // the staged protocol — the next round's entry heals any
          // partial state — and impossible on a real DFS, which stats
          // natively instead of shelling out.
          def localFsListingRace(t: Throwable): Boolean = {
            val msgs = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
              .take(8).flatMap(c => Option(c.getMessage)).mkString(" | ")
            msgs.contains("while running command to get file permissions") ||
              msgs.contains("No such file or directory") ||
              msgs.contains("_temporary")
          }
          while (System.currentTimeMillis() < deadline) {
            val t0 = System.currentTimeMillis()
            try {
              graft.engine.Layout.compactFlat(spark, path, targetFiles = 2)
              println(s"ROUND $t0 ${System.currentTimeMillis()}")
            } catch {
              case t: Throwable if localFsListingRace(t) =>
                println(s"SKIP $t0 ${System.currentTimeMillis()}")
                Thread.sleep(50)
            }
            Console.flush()
          }
        case "purge" =>
          val indexPath = args(1)
          println(s"PURGE_START ${System.currentTimeMillis()}")
          Console.flush()
          IndexLifecycle.purge(IndexLifecycle.IvfAdc, spark, indexPath)
          println(s"PURGE_END ${System.currentTimeMillis()}")
          Console.flush()

        // ---- soak modes (round-14 multi-writer soak): each loops for
        // `millis` wall-clock, logging one `<VERB> <t0> <t1> <ids...>`
        // line per COMMITTED round — a round that trips a local-FS
        // listing race logs `SKIP` instead and its ids never enter the
        // parent's committed set (Spark's committer leaves nothing
        // visible pre-commit). Ids are chosen from disjoint ranges per
        // role so the parent's invariants need no cross-child
        // coordination.

        case "annappend" =>
          // appender: batches of 8 NEW vectors per round via the
          // production append verb (frozen codebooks, cluster-dir
          // append) — the streaming sink's write face under soak
          val dir = args(1); val millis = args(2).toLong
          val base = args(3).toLong
          val deadline = System.currentTimeMillis() + millis
          var k = 0L
          import spark.implicits._
          while (System.currentTimeMillis() < deadline) {
            val ids = (base + k * 8) until (base + k * 8 + 8)
            val batch = ids.map(i => (i,
                List.tabulate(8)(j => ((i * 31 + j * 17) % 97).toFloat + 1f)))
              .toDF("vec_id", "embedding")
            val t0 = System.currentTimeMillis()
            try {
              graft.vector.Similarity.appendIvfAdcIndex(
                batch, "vec_id", "embedding", dir)
              println(s"APPEND $t0 ${System.currentTimeMillis()} " +
                s"${ids.head} ${ids.size}")
            } catch { case t: Throwable =>
              println(s"SKIP $t0 ${System.currentTimeMillis()}")
              Thread.sleep(50)
            }
            Console.flush()
            graft.engine.Caches.releaseAll()
            k += 1
          }

        case "annforget" =>
          // deleter AND (policy-fired) purger in one role: tombstone
          // batches with a LOW purge threshold so physical purges fire
          // repeatedly mid-soak — the single-purger convention holds
          // because only this child ever purges this index
          val dir = args(1); val millis = args(2).toLong
          val stride = args(3).toLong
          val deadline = System.currentTimeMillis() + millis
          var k = 0L
          import spark.implicits._
          while (System.currentTimeMillis() < deadline) {
            val ids = Seq(k * stride % 256L, (k * stride + 7L) % 256L).distinct
            val t0 = System.currentTimeMillis()
            try {
              IndexLifecycle.delete(IndexLifecycle.IvfAdc, spark, dir,
                ids.toDF("id"), "id", purgeAboveRows = 15L)
              println(s"DELETE $t0 ${System.currentTimeMillis()} " +
                ids.mkString(","))
            } catch { case t: Throwable =>
              println(s"SKIP $t0 ${System.currentTimeMillis()}")
              Thread.sleep(50)
            }
            Console.flush()
            graft.engine.Caches.releaseAll()
            k += 1
          }

        case "bm25append" =>
          // lexical appender: every appended doc carries the probe
          // token 'soak' so the parent's probe can watch commits appear
          val dir = args(1); val millis = args(2).toLong
          val base = args(3).toLong
          val deadline = System.currentTimeMillis() + millis
          var k = 0L
          import spark.implicits._
          while (System.currentTimeMillis() < deadline) {
            val ids = (base + k * 4) until (base + k * 4 + 4)
            val batch = ids.map(i => (i, s"soak filler${i % 7} pad${i % 3}"))
              .toDF("doc_id", "text")
            val t0 = System.currentTimeMillis()
            try {
              graft.text.TextStats.appendBm25Index(batch, "doc_id", "text", dir)
              println(s"APPEND $t0 ${System.currentTimeMillis()} " +
                s"${ids.head} ${ids.size}")
            } catch { case t: Throwable =>
              println(s"SKIP $t0 ${System.currentTimeMillis()}")
              Thread.sleep(50)
            }
            Console.flush()
            graft.engine.Caches.releaseAll()
            k += 1
          }

        case "bm25forget" =>
          // lexical deleter+purger: forgets INITIAL docs (the parent's
          // 'base'-token corpus) with a low threshold so tf/df/doclen
          // partition rewrites race the appender's growth
          val dir = args(1); val millis = args(2).toLong
          val stride = args(3).toLong
          val deadline = System.currentTimeMillis() + millis
          var k = 0L
          import spark.implicits._
          while (System.currentTimeMillis() < deadline) {
            val ids = Seq(k * stride % 60L)
            val t0 = System.currentTimeMillis()
            try {
              IndexLifecycle.delete(IndexLifecycle.Bm25, spark, dir,
                ids.toDF("doc_id"), "doc_id", purgeAboveRows = 10L)
              println(s"DELETE $t0 ${System.currentTimeMillis()} " +
                ids.mkString(","))
            } catch { case t: Throwable =>
              println(s"SKIP $t0 ${System.currentTimeMillis()}")
              Thread.sleep(50)
            }
            Console.flush()
            graft.engine.Caches.releaseAll()
            k += 1
          }
      }
      println("DONE")
      Console.flush()
      spark.stop()
      sys.exit(0)
    } catch {
      case t: Throwable =>
        t.printStackTrace(Console.out)
        Console.flush()
        sys.exit(1)
    }
  }
}
