package perfbench

/** Minimal JSON writer for the run record: maps, sequences, numbers,
  * strings, booleans and null. Non-finite doubles are written as null. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    emit(v, sb)
    sb.toString
  }

  private def emit(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => emit(x, sb)
    case b: Boolean => sb.append(b.toString)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d.toString)
    case f: Float => emit(f.toDouble, sb)
    case n: Int => sb.append(n.toString)
    case n: Long => sb.append(n.toString)
    case s: String => quote(s, sb)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        quote(k.toString, sb)
        sb.append(':')
        emit(x, sb)
      }
      sb.append('}')
    case it: Iterable[_] =>
      sb.append('[')
      var first = true
      it.foreach { x =>
        if (!first) sb.append(',')
        first = false
        emit(x, sb)
      }
      sb.append(']')
    case a: Array[_] => emit(a.toSeq, sb)
    case other => quote(other.toString, sb)
  }

  private def quote(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
