package perfbench

/** Minimal JSON writing for the result line and the artifact, and
  * reading of the flat two-level pins file {workload: {key: value}}. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case Some(x) => value(x)
    case None | null => "null"
    case r: Raw => r.json
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  /** Rendered JSON, embedded as is when nested. */
  final case class Raw(json: String) {
    override def toString: String = json
  }

  def obj(fields: Seq[(String, Any)]): Raw =
    Raw(fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  private val pair = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*(\"(?:[^\"\\\\]|\\\\.)*\"|[-0-9.eE+]+)".r
  private val block = "\"([^\"]+)\"\\s*:\\s*\\{([^{}]*)\\}".r

  /** {outer: {key: scalar}} → Map(outer → Map(key → scalar text)). */
  def parseFlat(json: String): Map[String, Map[String, String]] =
    block.findAllMatchIn(json).map { m =>
      m.group(1) -> pair.findAllMatchIn(m.group(2)).map { p =>
        p.group(1) -> p.group(2).stripPrefix("\"").stripSuffix("\"")
      }.toMap
    }.toMap
}
