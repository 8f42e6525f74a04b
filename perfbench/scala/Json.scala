package perfbench

/** Minimal JSON writer for the harness's result files: maps, sequences,
  * strings, booleans, numbers and null. Doubles print with all their digits
  * (non-finite values become null).
  */
object Json {
  def write(v: Any): String = { val sb = new StringBuilder; put(sb, v); sb.toString }

  private def put(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => put(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => put(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        str(sb, k.toString); sb += ':'; put(sb, x)
      }
      sb += '}'
    case a: Array[_] => put(sb, a.toSeq)
    case s: Iterable[_] =>
      sb += '['
      var first = true
      s.foreach { x => if (!first) sb += ','; first = false; put(sb, x) }
      sb += ']'
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
