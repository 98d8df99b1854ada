package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the benchmark. Times are epoch milliseconds with
  * sub-millisecond precision, on the same clock as Spark's listener
  * events, so job intervals and spans can be intersected directly.
  */
final case class Span(id: Int, name: String, parent: Option[Int],
                      startMs: Double, endMs: Double) {
  def wallMs: Double = endMs - startMs
}

/** One Spark job as the listener saw it. */
final case class JobRec(id: Int, startMs: Double, endMs: Double,
                        tasks: Long, taskMs: Long, shuffleWriteBytes: Long,
                        outputBytes: Long)

/** Planning time of one query execution (analysis + optimization +
  * planning phases), attributed at the end of its planning phase.
  */
final case class PlanRec(atMs: Double, planMs: Double)

/** The eight per-span counters, summed over every occurrence of a span
  * name within a traced run.
  */
final case class Counters(wallS: Double, jobs: Long, tasks: Long,
                          taskS: Double, driverS: Double,
                          shuffleWriteBytes: Long, outputBytes: Long,
                          planS: Double) {
  def +(o: Counters): Counters = Counters(wallS + o.wallS, jobs + o.jobs,
    tasks + o.tasks, taskS + o.taskS, driverS + o.driverS,
    shuffleWriteBytes + o.shuffleWriteBytes, outputBytes + o.outputBytes,
    planS + o.planS)
}

object Counters {
  val zero: Counters = Counters(0, 0, 0, 0, 0, 0, 0, 0)
  /** Counter names in the order they are published as `<span>.<name>`. */
  val names: Seq[String] = Seq("wall_s", "jobs", "tasks", "task_s",
    "driver_s", "shuffle_write_bytes", "output_bytes", "plan_s")
}

/** Pure arithmetic over spans and listener records — kept free of Spark
  * so [[SelfTest]] can pin it on synthetic events.
  */
object SpanMath {

  /** Total length of the union of `intervals`, each clipped to
    * `[lo, hi]`.
    */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double,
                  hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Span wall time not covered by any of its child spans. */
  def selfMs(span: Span, all: Seq[Span]): Double =
    span.wallMs - unionLength(all.filter(_.parent.contains(span.id))
      .map(c => (c.startMs, c.endMs)), span.startMs, span.endMs)

  /** A job belongs to a span when it starts inside it. */
  def jobsIn(span: Span, jobs: Seq[JobRec]): Seq[JobRec] =
    jobs.filter(j => j.startMs >= span.startMs && j.startMs <= span.endMs)

  /** The counters of one span occurrence. `driver_s` is the span's wall
    * time minus the union of its jobs' intervals: listing, commits,
    * renames and collects on the driver.
    */
  def counters(span: Span, jobs: Seq[JobRec], plans: Seq[PlanRec]): Counters = {
    val js = jobsIn(span, jobs)
    val busy = unionLength(js.map(j => (j.startMs, j.endMs)), span.startMs,
      span.endMs)
    Counters(
      wallS = span.wallMs / 1e3,
      jobs = js.size.toLong,
      tasks = js.map(_.tasks).sum,
      taskS = js.map(_.taskMs).sum / 1e3,
      driverS = (span.wallMs - busy) / 1e3,
      shuffleWriteBytes = js.map(_.shuffleWriteBytes).sum,
      outputBytes = js.map(_.outputBytes).sum,
      planS = plans.filter(p => p.atMs >= span.startMs && p.atMs <= span.endMs)
        .map(_.planMs).sum / 1e3)
  }

  /** Counters per span name, summed over that name's occurrences. */
  def byName(spans: Seq[Span], jobs: Seq[JobRec],
             plans: Seq[PlanRec]): Map[String, Counters] =
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(counters(_, jobs, plans)).foldLeft(Counters.zero)(_ + _)
    }

  /** Published metric names and values: `<span>.<counter>`. */
  def metricValues(name: String, c: Counters): Seq[(String, Double)] =
    Counters.names.zip(Seq(c.wallS, c.jobs.toDouble, c.tasks.toDouble,
      c.taskS, c.driverS, c.shuffleWriteBytes.toDouble,
      c.outputBytes.toDouble, c.planS)).map { case (k, v) => s"$name.$k" -> v }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no values")
    xs.sum / xs.size
  }
}

/** Span recorder plus, when attached, the Spark listeners that give each
  * span its job, task, byte and planning counters. Spans are kept in
  * memory and written out at the end of the run; an unattached tracer
  * still records span boundaries (for wall times) but adds no listener.
  */
final class Tracer {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0

  /** Times `body` as a span named `name`, nested under the innermost
    * open span. Spans are opened from the benchmark's single client
    * thread only.
    */
  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption
    stack.push(id)
    val t0 = nowMs
    try body
    finally {
      stack.pop()
      spans.synchronized { spans += Span(id, name, parent, t0, nowMs) }
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toVector)

  // --- listener state (filled only when attached) ---
  private final class JobAcc(val startMs: Double) {
    var endMs: Double = Double.NaN
    var tasks = 0L; var taskMs = 0L; var shuffleW = 0L; var outB = 0L
  }
  private val jobAcc = mutable.LinkedHashMap.empty[Int, JobAcc]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val planRecs = mutable.ArrayBuffer.empty[PlanRec]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobAcc(e.jobId) = new JobAcc(e.time.toDouble)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobAcc.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (j <- stageJob.get(e.stageId); acc <- jobAcc.get(j)) {
        acc.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          acc.taskMs += m.executorRunTime
          acc.shuffleW += m.shuffleWriteMetrics.bytesWritten
          acc.outB += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val planPhases = Seq("analysis", "optimization", "planning")
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution, fallbackMs: Double): Unit = {
      val ph = qe.tracker.phases
      val planMs = planPhases.flatMap(ph.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      val at = ph.get("planning").map(_.endTimeMs.toDouble).getOrElse(fallbackMs)
      Tracer.this.synchronized { planRecs += PlanRec(at, planMs) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, nowMs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, nowMs)
  }

  private var attachedTo: Option[SparkSession] = None

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    attachedTo = Some(spark)
  }

  /** Waits for the listener bus to deliver every posted event, then
    * detaches the listeners.
    */
  def detach(): Unit = attachedTo.foreach { spark =>
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    attachedTo = None
  }

  def jobs: Seq[JobRec] = synchronized {
    jobAcc.toSeq.map { case (id, a) =>
      JobRec(id, a.startMs, if (a.endMs.isNaN) a.startMs else a.endMs,
        a.tasks, a.taskMs, a.shuffleW, a.outB)
    }
  }

  def plans: Seq[PlanRec] = synchronized(planRecs.toVector)
}
