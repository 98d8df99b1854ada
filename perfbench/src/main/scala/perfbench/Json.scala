package perfbench

/** The run artifact: the contract's four keys, plus the named workload
  * figures, host contention readings, failures and (traced runs) the
  * span list, all of which run.py prints or keeps beside the result.
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def result(ops: Main.Ops, metrics: Seq[Main.Metric], info: Map[String, Double],
             host: Seq[(String, Double)], spans: Seq[Span] = Nil): String = {
    val complete = metrics.forall(m => !m.value.isNaN && !m.value.isInfinite)
    val correct = ops.failed == 0 && complete
    val spanList = if (spans.isEmpty) None else Some("spans" -> spans.map(s =>
      obj(Seq("id" -> s.id.toString, "name" -> str(s.name),
        "parent" -> s.parent.fold("null")(_.toString), "start_ms" -> num(s.startMs),
        "end_ms" -> num(s.endMs), "self_s" -> num(SpanMath.selfMs(s, spans) / 1e3))))
      .mkString("[", ", ", "]"))
    obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> ops.attempted.toString,
      "failed" -> ops.failed.toString,
      "metrics" -> obj(metrics.map(m => m.name -> obj(Seq("value" -> num(m.value),
        "unit" -> str(m.unit))))),
      "named" -> obj(info.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "host" -> obj(host.map { case (k, v) => k -> num(v) }),
      "failures" -> ops.failures.map(str).mkString("[", ", ", "]")) ++ spanList.toSeq) + "\n"
  }
}
