package perfbench

/** The few JSON shapes the benchmark writes: objects of numbers,
  * strings, booleans, sequences and nested objects.
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }
      .sortBy(_._1))
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolation quantile (numpy's default), q in [0, 1]. */
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

  /** Quantile of weighted values: each value sits at the middle of its
    * share of the cumulative weight, and the quantile interpolates
    * linearly between those positions.
    */
  def weightedQuantile(xw: Seq[(Double, Double)], q: Double): Double =
    if (xw.isEmpty) Double.NaN
    else {
      val s = xw.sortBy(_._1).toIndexedSeq
      val total = s.map(_._2).sum
      val pos = s.map(_._2).scanLeft(0.0)(_ + _).zip(s)
        .map { case (c, (_, w)) => (c + w / 2) / total }
      val i = pos.indexWhere(_ >= q)
      if (i <= 0) s(if (i == 0) 0 else s.size - 1)._1
      else s(i - 1)._1 + (s(i)._1 - s(i - 1)._1) *
        (q - pos(i - 1)) / (pos(i) - pos(i - 1))
    }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}
