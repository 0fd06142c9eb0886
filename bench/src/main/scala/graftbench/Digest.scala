package graftbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-independent content digest of a query result: each row is rendered
  * canonically (columns sorted by name, floating-point values rounded to
  * [[Digest.SigDigits]] significant digits so that summation-order noise
  * does not count), hashed, and the hashes are summed modulo 2^64. */
object Digest {
  val SigDigits = 6
  private val mc = new MathContext(SigDigits)

  def of(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    rows.foreach { r =>
      val h = md.digest(order.map(i => render(r.get(i))).mkString("\u0001")
        .getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    f"$sum%016x"
  }

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: JBigDecimal => b.round(mc).stripTrailingZeros.toPlainString
    case b: BigDecimal => render(b.bigDecimal)
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k) + ":" + render(x) }.toSeq.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(mc).stripTrailingZeros.toPlainString
}
