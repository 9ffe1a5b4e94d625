package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent checksum of a query result: every row is rendered to a
  * canonical string (floating-point values to 9 significant digits, so the
  * summation order of a distributed aggregate cannot change it), hashed to 64
  * bits, and the hashes are added. Returns (rows, hex checksum).
  */
object Checksum {
  def of(df: DataFrame): (Long, String) = {
    val rows = df.collect()
    var sum = 0L
    rows.foreach { r =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(canon(r).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(d).getLong
    }
    (rows.length.toLong, f"$sum%016x")
  }

  private def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("{", "\u0001", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted
        .mkString("<", "\u0001", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case o => o.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.8e", Double.box(d))
}
