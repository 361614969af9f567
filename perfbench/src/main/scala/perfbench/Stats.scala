package perfbench

/** Order statistics and the result line. */
object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]; NaN when empty. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  def geomean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** NaN and infinities become 0 in the printed metrics: a per-layer
    * metric that a workload never exercises reads as zero work. */
  def finite(x: Double): Double = if (x.isNaN || x.isInfinite) 0.0 else x

  final case class Metric(name: String, value: Double, unit: String)

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jsonNum(x: Double): String = {
    val f = finite(x)
    if (f == math.rint(f) && math.abs(f) < 1e15) f.toLong.toString
    else java.math.BigDecimal.valueOf(f).toString
  }

  /** The one result line the runner relays as the last stdout line. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[Metric]): String = {
    val ms = metrics.map(m =>
      s"${jsonStr(m.name)}: {\"value\": ${jsonNum(m.value)}, \"unit\": ${jsonStr(m.unit)}}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
