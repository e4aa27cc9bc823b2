package perfbench

/** Minimal JSON writer for the run record: objects, maps, sequences,
  * strings, numbers and booleans. [[Json.Obj]] keeps its field order, so
  * records diff cleanly. */
object Json {
  def str(s: String): String = {
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

  def apply(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o: Obj => o.fields.map { case (k, x) => str(k) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case other => str(other.toString)
  }

  /** An ordered JSON object. */
  final case class Obj(fields: (String, Any)*)
}
