package perfbench

/** Minimal JSON writer for the harness's result file. */
object Json {
  final case class Obj(fields: (String, Any)*)

  def render(v: Any): String = {
    val sb = new StringBuilder
    write(v, sb)
    sb.toString
  }

  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(x, sb)
    case b: Boolean => sb.append(b)
    case i: Int => sb.append(i)
    case l: Long => sb.append(l)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case f: Float => write(f.toDouble, sb)
    case s: String =>
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    case o: Obj => fields(o.fields, sb)
    case m: scala.collection.Map[_, _] =>
      fields(m.toSeq.map { case (k, x) => k.toString -> x }, sb)
    case a: Array[_] => write(a.toSeq, sb)
    case it: Iterable[_] =>
      sb.append('[')
      var first = true
      it.foreach { x => if (!first) sb.append(','); first = false; write(x, sb) }
      sb.append(']')
    case other => write(other.toString, sb)
  }

  private def fields(fs: Seq[(String, Any)], sb: StringBuilder): Unit = {
    sb.append('{')
    var first = true
    fs.foreach { case (k, x) =>
      if (!first) sb.append(',')
      first = false
      write(k, sb)
      sb.append(':')
      write(x, sb)
    }
    sb.append('}')
  }
}
