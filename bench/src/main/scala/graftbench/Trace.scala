package graftbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval. `op` groups the spans of one benchmark operation;
  * `parent` is the id of the span that caused this one (0 = none). Times are
  * nanoseconds on the [[Tracer.now]] clock. */
final case class Span(id: Long, parent: Long, op: Long, name: String, start: Long, end: Long) {
  def durNs: Long = end - start
}

/** In-memory span recorder. Disabled tracers record nothing and cost one
  * branch per call, so untraced runs measure the program alone. Spans are
  * kept in memory and written out once, at the end of the run. */
final class Tracer(val on: Boolean) {
  private val spans = ArrayBuffer[Span]()
  private var nextId = 0L
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Times `body` as a child of the innermost open span on this thread. */
  def span[T](name: String, op: Long)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val parent = current
      stack.set(id :: stack.get)
      val t0 = Tracer.now()
      try body
      finally {
        stack.set(stack.get.tail)
        record(Span(id, parent, op, name, t0, Tracer.now()))
      }
    }

  /** Records an interval timed elsewhere (a Spark job or stage). */
  def add(name: String, parent: Long, op: Long, start: Long, end: Long): Long =
    if (!on) 0L
    else { val id = newId(); record(Span(id, parent, op, name, start, end)); id }

  /** An id for a span whose end is not known yet; see [[put]]. */
  def reserve(): Long = if (on) newId() else 0L
  def put(s: Span): Unit = if (on) record(s)

  private def newId(): Long = synchronized { nextId += 1; nextId }
  private def record(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Self time per span name in ms: each span's duration minus the part of
    * it that the union of its children's intervals covers. */
  def selfMs: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = Tracer.unionNs(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
        (s.durNs - covered) / 1e6
      }.sum
    }
  }

  def totalMs(name: String): Double = all.filter(_.name == name).map(_.durNs).sum / 1e6

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.start).foreach { s =>
      sb.append(Json.write(scala.collection.immutable.ListMap("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end))).append('\n')
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  /** Wall clock in ns, comparable with Spark's epoch-ms event times. */
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offsetNs
  def fromEpochMs(ms: Long): Long = ms * 1000000L

  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}
