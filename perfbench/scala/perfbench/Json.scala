package perfbench

/** Minimal JSON writer for the result line and the artifact. */
object Json {
  final case class Raw(text: String) {
    override def toString: String = text
  }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).text
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(String.valueOf(other))
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').toString
  }
}
