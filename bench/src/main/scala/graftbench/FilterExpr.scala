package graftbench

/** The `$filter` subset the connector emits for this benchmark's scans:
  * `eq ne gt ge lt le` against literals (numbers, quoted strings, `true`,
  * `false`, `null`), `and`, `or` and parentheses. */
sealed trait FilterExpr {
  def eval(row: Array[Any], col: String => Int): Boolean
}

object FilterExpr {
  case object True extends FilterExpr { def eval(r: Array[Any], c: String => Int) = true }
  final case class Cmp(prop: String, op: String, lit: Any) extends FilterExpr {
    def eval(r: Array[Any], c: String => Int): Boolean = {
      val v = r(c(prop))
      op match {
        case "eq" => if (lit == null) v == null else v != null && compare(v, lit) == 0
        case "ne" => if (lit == null) v != null else v == null || compare(v, lit) != 0
        case _ if v == null || lit == null => false
        case "gt" => compare(v, lit) > 0
        case "ge" => compare(v, lit) >= 0
        case "lt" => compare(v, lit) < 0
        case "le" => compare(v, lit) <= 0
      }
    }
  }
  final case class And(l: FilterExpr, r: FilterExpr) extends FilterExpr {
    def eval(row: Array[Any], c: String => Int) = l.eval(row, c) && r.eval(row, c)
  }
  final case class Or(l: FilterExpr, r: FilterExpr) extends FilterExpr {
    def eval(row: Array[Any], c: String => Int) = l.eval(row, c) || r.eval(row, c)
  }

  /** Total order over stored values: numbers by value, the rest as strings. */
  def compare(a: Any, b: Any): Int = (a, b) match {
    case (x: Number, y: Number) => java.lang.Double.compare(x.doubleValue, y.doubleValue) match {
      case 0 => java.lang.Long.compare(x.longValue, y.longValue)
      case c => c
    }
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case _ => a.toString.compareTo(b.toString)
  }

  private val Token = """\s*('(?:[^']|'')*'|\(|\)|,|[^\s(),]+)""".r

  def parse(s: String): FilterExpr = {
    val toks = Token.findAllMatchIn(s).map(_.group(1)).toIndexedSeq
    var i = 0
    def peek = if (i < toks.size) toks(i) else ""
    def next(): String = { val t = peek; i += 1; t }
    def expect(t: String): Unit = if (next() != t) throw new IllegalArgumentException(s"bad filter: $s")
    def literal(t: String): Any =
      if (t.startsWith("'")) t.drop(1).dropRight(1).replace("''", "'")
      else t match {
        case "null" => null
        case "true" => true
        case "false" => false
        case n if n.contains('.') || n.contains('E') || n.contains('e') => n.toDouble
        case n => n.toLong
      }
    def or(): FilterExpr = { var l = and(); while (peek == "or") { next(); l = Or(l, and()) }; l }
    def and(): FilterExpr = { var l = unary(); while (peek == "and") { next(); l = And(l, unary()) }; l }
    def unary(): FilterExpr = peek match {
      case "(" => next(); val e = or(); expect(")"); e
      case _ => val p = next(); val op = next(); Cmp(p, op, literal(next()))
    }
    val e = or()
    if (i != toks.size) throw new IllegalArgumentException(s"bad filter: $s")
    e
  }
}
