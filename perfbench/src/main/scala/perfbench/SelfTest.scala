package perfbench

/** Checks the benchmark's own arithmetic on synthetic listener events:
  * the union of job intervals, `driver_s`, span self time, job and plan
  * attribution, medians, and span-to-metric naming. Throws on the first
  * wrong answer, which fails the run.
  */
object SelfTest {
  private var checks = 0

  private def expect(what: String, got: Double, want: Double): Unit = {
    checks += 1
    if (math.abs(got - want) > 1e-9)
      throw new AssertionError(s"selftest: $what = $got, expected $want")
  }

  def run(): Unit = {
    import SpanMath._
    // union of overlapping, nested, disjoint and out-of-window intervals
    expect("union", unionLength(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0), (21.0, 22.0)), 0, 100), 20)
    expect("union clipped", unionLength(Seq((-5.0, 5.0), (95.0, 120.0)), 0, 100), 10)
    expect("union empty", unionLength(Nil, 0, 10), 0)
    expect("union outside", unionLength(Seq((20.0, 30.0)), 0, 10), 0)

    // a 1000 ms span with three jobs: two overlap (100-400, 300-500),
    // one ends after the span (900-1200); a job that starts after the
    // span does not belong to it
    val span = Span(0, "day.clean", None, 1000, 2000)
    val jobs = Seq(
      JobRec(1, 1100, 1400, tasks = 4, taskMs = 800, shuffleWriteBytes = 10, outputBytes = 0),
      JobRec(2, 1300, 1500, tasks = 2, taskMs = 300, shuffleWriteBytes = 0, outputBytes = 70),
      JobRec(3, 1900, 2200, tasks = 1, taskMs = 250, shuffleWriteBytes = 5, outputBytes = 0),
      JobRec(4, 2100, 2300, tasks = 9, taskMs = 999, shuffleWriteBytes = 9, outputBytes = 9))
    val plans = Seq(PlanRec(1050, 12), PlanRec(1950, 8), PlanRec(2050, 100))
    val c = counters(span, jobs, plans)
    expect("wall_s", c.wallS, 1.0)
    expect("jobs", c.jobs.toDouble, 3)
    expect("tasks", c.tasks.toDouble, 7)
    expect("task_s", c.taskS, 1.35)
    // covered: 1100-1500 (400 ms) + 1900-2000 (100 ms) => 500 ms driver
    expect("driver_s", c.driverS, 0.5)
    expect("shuffle_write_bytes", c.shuffleWriteBytes.toDouble, 15)
    expect("output_bytes", c.outputBytes.toDouble, 70)
    expect("plan_s", c.planS, 0.02)

    // self time: parent 0-1000 with children 100-300 and 250-600
    val parent = Span(10, "backfill", None, 0, 1000)
    val kids = Seq(Span(11, "ingest", Some(10), 100, 300), Span(12, "clean", Some(10), 250, 600),
      Span(13, "other", None, 0, 1000))
    expect("self", selfMs(parent, parent +: kids), 500)
    expect("self leaf", selfMs(kids.head, parent +: kids), 200)

    // two occurrences of one span name sum their counters
    val twice = byName(Seq(Span(20, "probe", None, 0, 100), Span(21, "probe", None, 200, 260)),
      Seq(JobRec(5, 10, 50, 1, 30, 0, 0), JobRec(6, 210, 250, 2, 20, 0, 0)), Nil)
    expect("occurrences wall", twice("probe").wallS, 0.16)
    expect("occurrences jobs", twice("probe").jobs.toDouble, 2)
    expect("occurrences driver", twice("probe").driverS, 0.08)

    expect("median odd", median(Seq(3.0, 1.0, 2.0)), 2)
    expect("median even", median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    expect("mean", mean(Seq(1.0, 2.0, 6.0)), 3)

    val names = metricValues("day.export", Counters.zero).map(_._1)
    checks += 1
    if (names != Counters.names.map("day.export." + _))
      throw new AssertionError(s"selftest: metric names $names")
    val all = Traced.spans.flatMap(s => metricValues(s, Counters.zero).map(_._1))
    checks += 1
    if (all.size != 120 || all.distinct.size != 120)
      throw new AssertionError(s"selftest: ${all.size} per-layer names, ${all.distinct.size} distinct")
    expect("unit jobs", if (Traced.unitOf("market.jobs") == "count") 1 else 0, 1)
    expect("unit bytes", if (Traced.unitOf("forget.output_bytes") == "bytes") 1 else 0, 1)
    println(s"selftest: $checks checks passed")
  }
}
