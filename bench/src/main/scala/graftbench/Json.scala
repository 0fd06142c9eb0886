package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Jackson-backed JSON for the result line, the detail file and the spans.
  * Scala maps, sequences and options are converted to their Java
  * counterparts; map key order is kept. */
object Json {
  private val mapper = new ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case null | None => null
    case Some(x) => toJava(x)
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case d: Double => java.lang.Double.valueOf(d)
    case f: Float => java.lang.Double.valueOf(f.toDouble)
    case i: Int => java.lang.Long.valueOf(i.toLong)
    case l: Long => java.lang.Long.valueOf(l)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case x => x.toString
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))
  def read(s: String): JsonNode = mapper.readTree(s)
}

/** Small order statistics over measured samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (`q` in [0, 1]); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
