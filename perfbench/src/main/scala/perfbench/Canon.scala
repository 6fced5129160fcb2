package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent canonical form of a query result, following the
  * rules of the engine's oracle compare (`tools/compare.py`): columns
  * sorted by name, floats rounded to 1e-9, rows sorted. The result is a
  * row count plus a SHA-256 over the sorted canonical rows. */
object Canon {

  final case class Digest(rows: Long, hash: String)

  def of(df: DataFrame): Digest = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = df.collect().map(r => order.map(i => value(r.get(i))).mkString("\u0001"))
    java.util.Arrays.sort(lines.asInstanceOf[Array[Object]])
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    Digest(lines.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  private def float(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val s = java.math.BigDecimal.valueOf(d).setScale(9, java.math.RoundingMode.HALF_EVEN)
        .stripTrailingZeros().toPlainString
      if (s == "-0") "0" else s
    }

  private def value(v: Any): String = v match {
    case null                    => "\u0000"
    case d: Double               => float(d)
    case f: Float                => float(f.toDouble)
    case b: Array[Byte]          => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row                  => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other                   => other.toString
  }
}
