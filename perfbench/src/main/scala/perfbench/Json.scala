package perfbench

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case other => str(other.toString)
  }
}
