package perfbench

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length of the union of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (!open) { curS = s; curE = e; open = true }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (open) total += curE - curS
    total
  }

  /** Minimal JSON writer for the flat records this benchmark emits. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}
