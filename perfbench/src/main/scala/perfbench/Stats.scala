package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile that leaves at least `beyond` samples
    * strictly above its value, with that value (nearest-rank). None when
    * no percentile from p75 up qualifies; the caller then reports the
    * maximum. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val s = xs.sorted
    (99 to 75 by -1).iterator.map { p =>
      val rank = math.max(1, math.ceil(p / 100.0 * s.size).toInt)
      (p, s(rank - 1))
    }.find { case (_, v) => s.count(_ > v) >= beyond }
  }
}

/** Minimal JSON writer for the run artifact (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null                    => "null"
    case s: String               => quote(s)
    case b: Boolean              => b.toString
    case d: Double               => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float                => apply(f.toDouble)
    case n: Int                  => n.toString
    case n: Long                 => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]          => s.map(apply).mkString("[", ",", "]")
    case o: Option[_]            => o.map(apply).getOrElse("null")
    case other                   => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
