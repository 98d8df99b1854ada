package graft.engine

/** Pipeline-lifecycle helpers from the reference orchestrator
  * (`main_pipeline.py`): stage timing (`stage_timer`, lines 63-83),
  * bounded retry with backoff for maintenance jobs (retry decorator,
  * lines 89-118), and a hard timeout for operations that can hang on
  * external services (the metastore-registration helper thread, lines
  * 40, 305-318).
  */
object Orchestrate {

  /** Run `f`, retrying up to `attempts` times with a fixed backoff —
    * the reference wraps OPTIMIZE jobs in exactly this (3 attempts,
    * 5 s backoff) against transient storage conflicts.
    */
  def retry[T](attempts: Int = 3, backoffMs: Long = 5000,
               onRetry: (Int, Throwable) => Unit = (_, _) => ())(f: => T): T = {
    require(attempts >= 1, "attempts must be >= 1")
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return f
      catch {
        case e: Throwable =>
          last = e
          i += 1
          if (i < attempts) { onRetry(i, e); Thread.sleep(backoffMs) }
      }
    }
    throw last
  }

  /** Time a stage and report seconds to `log` (reference `stage_timer`).
    * Reports on failure too — a stage that dies after 40 minutes should
    * say so.
    */
  def timed[T](stage: String, log: String => Unit = println)(f: => T): T = {
    val t0 = System.nanoTime()
    try {
      val r = f
      log(f"[stage] $stage%-18s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    } catch {
      case e: Throwable =>
        log(f"[stage] $stage%-18s FAILED after ${(System.nanoTime() - t0) / 1e9}%.2f s: ${e.getMessage}")
        throw e
    }
  }

  /** Run independent `branches` concurrently, one driver thread each
    * (the scheduler overlaps their Spark jobs), and return their
    * results in branch order. Every branch settles and its thread is
    * joined before this returns or throws, so a failing branch never
    * leaves a sibling still rewriting an index root behind the caller.
    * The first failure in branch order is rethrown with the others
    * attached as suppressed.
    */
  def parallel[T](branches: Seq[() => T]): Seq[T] = {
    val outcomes = new Array[Either[Throwable, T]](branches.size)
    val threads = branches.zipWithIndex.map { case (b, i) =>
      new Thread(() => outcomes(i) =
        try Right(b()) catch { case e: Throwable => Left(e) },
        s"graft-parallel-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    outcomes.toSeq.collect { case Left(e) => e } match {
      case first +: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case _ => outcomes.toSeq.collect { case Right(v) => v }
    }
  }

  /** Run `f` on a daemon thread with a hard timeout — the reference's
    * guard against metastore JDBC hangs (120 s). Returns None on
    * timeout; the worker is INTERRUPTED on timeout so a merely-slow
    * (not dead) operation doesn't complete as a zombie seconds after
    * the caller was told it failed (e.g. a late CREATE TABLE landing
    * after the caller moved on). Interruption is best-effort — code
    * that swallows interrupts can still straggle, but JDBC drivers and
    * blocking IO honor it; being a daemon, the thread can never keep
    * the JVM alive either way.
    */
  def withTimeout[T](timeoutMs: Long)(f: => T): Option[T] = {
    val result = new java.util.concurrent.CompletableFuture[T]()
    val t = new Thread(() => {
      try result.complete(f)
      catch { case e: Throwable => result.completeExceptionally(e) }
    })
    t.setDaemon(true)
    t.start()
    try Some(result.get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS))
    catch {
      case _: java.util.concurrent.TimeoutException => t.interrupt(); None
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }
  }
}
