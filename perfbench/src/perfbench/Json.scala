package perfbench

/** Minimal JSON rendering for the run artifacts (maps, sequences, numbers,
  * strings, booleans). Non-finite doubles render as null. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

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

  /** Read a flat `{"name": {"k": number, ...}}` document (the recorded
    * fingerprints) without a JSON library. */
  def readFingerprints(text: String): Map[String, Map[String, Long]] = {
    val entry = "\"([^\"]+)\"\\s*:\\s*\\{([^}]*)\\}".r
    val field = "\"([^\"]+)\"\\s*:\\s*(-?\\d+)".r
    entry.findAllMatchIn(text).map { m =>
      m.group(1) -> field.findAllMatchIn(m.group(2)).map(f => f.group(1) -> f.group(2).toLong).toMap
    }.toMap
  }
}
