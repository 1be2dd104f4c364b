package graft.cdcbench

/** Minimal JSON rendering for the result and trace files. */
object Json {
  final case class Raw(text: String) {
    override def toString: String = text
  }

  def value(v: Any): String = v match {
    case null => "null"
    case r: Raw => r.text
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  def obj(kvs: (String, Any)*): Raw =
    Raw(kvs.map { case (k, v) => s"${quote(k)}: ${value(v)}" }
      .mkString("{", ", ", "}"))

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
