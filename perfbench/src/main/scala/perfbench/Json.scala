package perfbench

/** Minimal JSON rendering for the run's result and span files. */
object Json {
  def apply(v: Any): String = v match {
    case null                    => "null"
    case s: String               => quote(s)
    case b: Boolean              => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double               => d.toString
    case f: Float                => apply(f.toDouble)
    case n: Number               => n.toString
    case m: Map[_, _]            => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case o: Option[_]            => o.map(apply).getOrElse("null")
    case xs: Iterable[_]         => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_]            => apply(xs.toSeq)
    case other                   => quote(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => quote(k) + ":" + apply(v) }.mkString("{", ",", "}")

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'          => b ++= "\\\""
      case '\\'         => b ++= "\\\\"
      case '\n'         => b ++= "\\n"
      case '\r'         => b ++= "\\r"
      case '\t'         => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c            => b += c
    }
    b += '"'
    b.toString
  }
}
