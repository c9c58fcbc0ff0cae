package graft.ops

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/** Reference arithmetic shared by the OpsR*Spec brute-force checks. */
object OpsSpecMath {

  /** Half-up rounding of a double's exact value to a whole number. */
  def halfUp(v: Double): Long =
    new JBigDecimal(v).setScale(0, RoundingMode.HALF_UP).longValueExact()

  /** Spark round(x, 6) semantics on a double. */
  def round6(v: Double): Double =
    new JBigDecimal(v).setScale(6, RoundingMode.HALF_UP).doubleValue()

  /** Left-fold double dot product — ArrayDot's accumulation order. */
  def dotD(a: collection.Seq[Double], b: collection.Seq[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length && i < b.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Lowercase hex MD5 of a string's UTF-8 bytes. */
  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** The first byte of [[md5hex]], as two hex digits. */
  def md5hex2(s: String): String = md5hex(s).take(2)
}
