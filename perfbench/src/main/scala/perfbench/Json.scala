package perfbench

/** Minimal JSON writer for the run record. */
object Json {
  def obj(kv: (String, Any)*): String = render(kv.toMap)

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${quote(k.toString)}:${render(x)}" }
        .sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.fold("null")(render)
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** The highest percentile (capped at p95) with at least `tail` samples
    * beyond it; returns its value, the percentile actually taken, and the
    * number of samples beyond it.
    */
  def tailPercentile(xs: Seq[Double], tail: Int = 10): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.isEmpty) (0.0, 0.0, 0)
    else {
      val i = math.min(math.ceil(s.size * 0.95).toInt - 1, s.size - 1 - tail).max(0)
      (s(i), 100.0 * (i + 1) / s.size, s.size - 1 - i)
    }
  }
}
