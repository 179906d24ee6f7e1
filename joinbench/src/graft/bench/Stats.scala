package graft.bench

/** Order statistics and the JSON the bench prints. */
object Stats {

  /** Linear-interpolated percentile `p` in [0, 100] of unsorted `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentiles a tail may be read at, highest first. */
  val TailGrid: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50)

  /** The tail percentile for `n` samples: the highest grid percentile not
    * above `cap` that leaves at least ten samples beyond it. `cap` is the
    * percentile shown to repeat run to run for that metric.
    */
  def tailPercentile(n: Int, cap: Double): Double =
    TailGrid.filter(_ <= cap).find(p => n * (1 - p / 100.0) >= 10 - 1e-9)
      .getOrElse(50.0)

  def tail(xs: Seq[Double], cap: Double): Double =
    percentile(xs, tailPercentile(xs.size, cap))

  /** Tracing overhead in %: a traced measurement against the mean of the
    * untraced ones taken before and after it.
    */
  def overheadPct(before: Double, traced: Double, after: Double): Double =
    100.0 * (traced / ((before + after) / 2) - 1)

  /** Minimal JSON rendering for maps, sequences, strings and numbers. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}
