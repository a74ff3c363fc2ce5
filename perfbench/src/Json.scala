package perfbench

/** Minimal JSON writer for the raw run report (maps, sequences, numbers,
  * strings, and pre-serialized fragments such as Spark's progress JSON). */
object Json {
  final case class Raw(json: String)

  def write(v: Any): String = { val sb = new StringBuilder; put(sb, v); sb.toString }

  private def put(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => put(sb, x)
    case Raw(j) => sb.append(j)
    case s: String => str(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case f: Float => put(sb, f.toDouble)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        str(sb, k.toString); sb.append(':'); put(sb, x)
      }
      sb.append('}')
    case it: Iterable[_] =>
      sb.append('[')
      var first = true
      it.foreach { x => if (!first) sb.append(','); first = false; put(sb, x) }
      sb.append(']')
    case a: Array[_] => put(sb, a.toSeq)
    case p: Product if p.productArity > 0 => put(sb, p.productIterator.toSeq)
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
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
