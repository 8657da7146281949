package perfbench

import Main.Round

/** The result line of the benchmark JVM. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def round(r: Round, traced: Boolean): String = obj(Seq(
    "tag" -> str(r.tag), "wall" -> num(r.wall), "items" -> r.items.toString,
    "attempted" -> r.attempted.toString, "failed" -> r.failed.toString,
    "traced" -> traced.toString,
    "steps" -> r.steps.map(s => s"[${str(s.name)},${num(s.seconds)}]").mkString("[", ",", "]"),
    "sinks" -> r.sinks.map { k =>
      obj(Seq("table" -> str(k.table), "dir" -> str(k.dir),
        "skipped" -> k.result.skipped.toString,
        "error" -> k.result.error.map(str).getOrElse("null"),
        "ok" -> k.result.report.exists(_.ok).toString,
        "source_count" -> k.result.report.map(_.sourceCount.toString).getOrElse("null"),
        "sink_count" -> k.result.report.map(_.sinkCount.toString).getOrElse("null")))
    }.mkString("[", ",", "]")))

  def result(setupS: Double, warm: Seq[Round], rounds: Seq[Round], traced: Seq[Boolean],
      layers: Option[Layers.Report]): String = obj(Seq(
    "setup_s" -> num(setupS),
    "warm" -> warm.map(round(_, traced = false)).mkString("[", ",", "]"),
    "rounds" -> rounds.zip(traced).map { case (r, t) => round(r, t) }.mkString("[", ",", "]")) ++
    layers.toSeq.flatMap(l => Seq(
      "layers" -> obj(l.metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "problems" -> l.problems.map(str).mkString("[", ",", "]"))))
}
