package graft.perfbench

/** Order statistics and the output format shared by every workload. */
object Stats {

  /** Median as Python's `statistics.median` gives it. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  final case class Tail(value: Double, percentile: Double, beyond: Int, samples: Int)

  /** The highest nearest-rank percentile with at least `minBeyond` samples
    * above it: with `n` sorted samples that is the `(n - minBeyond)`-th,
    * the `100 (n - minBeyond) / n` percentile. None when there are too few
    * samples for any percentile to have `minBeyond` beyond it. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val n = xs.length
    if (n < minBeyond + 1) None
    else {
      val k = n - minBeyond - 1
      Some(Tail(xs.sorted.apply(k), 100.0 * (k + 1) / n, minBeyond, n))
    }
  }

  /** Minimal JSON rendering of maps, sequences, strings, numbers, booleans. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString + ".0"
      else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
