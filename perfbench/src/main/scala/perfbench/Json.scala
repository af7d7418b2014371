package perfbench

/** Minimal JSON writer for the benchmark's line protocol. Numbers keep all
  * their digits (Double.toString round-trips); NaN and infinities, which
  * JSON cannot hold, are written as null.
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b.append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.iterator.map(value).mkString("[", ",", "]")
    case a: Array[_] => value(a.toSeq)
    case other => str(other.toString)
  }

  /** One object; keys keep the order given. */
  def obj(fields: (String, Any)*): String =
    fields.iterator.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def println(line: String): Unit = {
    System.out.println(line)
    System.out.flush()
  }

  def emit(fields: (String, Any)*): Unit = println(obj(fields: _*))
}
