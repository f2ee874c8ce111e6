package graft.perfbench

import org.apache.spark.sql.Row

import java.math.{MathContext, RoundingMode}
import java.security.MessageDigest

/** Order-independent answer fingerprint: `<rows>:<hash>`, where the hash
  * covers the sorted column names and the sorted canonical rows.
  *
  * Doubles are rounded to 6 decimals, as tools/check_oracle.py rounds
  * them, and then to 10 significant digits. The second rounding absorbs
  * the last-bit differences that a permuted input legitimately causes in
  * floating-point sums of large values; answers that differ for any
  * other reason still differ here. */
object Fingerprint {
  def of(rows: Array[Row]): String = {
    val names = if (rows.isEmpty) Seq.empty[String] else Option(rows.head.schema)
      .map(_.fieldNames.toSeq).getOrElse(Seq.empty)
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(names.sorted.mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    s"${rows.length}:${md.digest().take(8).map("%02x".format(_)).mkString}"
  }

  def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val r = new java.math.BigDecimal(d).setScale(6, RoundingMode.HALF_EVEN)
        .round(new MathContext(10, RoundingMode.HALF_EVEN))
      if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
    }

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => canon(k) + "=" + canon(x) }.toSeq.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
