package perfbench

/** A small ordered JSON value model: the generator builds payloads from it,
  * renders them compactly (the form Spark's `get_json_object` re-emits for
  * nested objects), and the oracle reads the same values back without any
  * JSON parsing. Values are `null`, String, Long, Boolean, Double, [[Obj]]
  * or `Seq[Any]`. */
final case class Obj(fields: Seq[(String, Any)]) {
  def get(k: String): Any = fields.collectFirst { case (`k`, v) => v }.orNull
}

object Json {
  def render(v: Any): String = { val sb = new StringBuilder; write(sb, v); sb.toString }

  def write(sb: StringBuilder, v: Any): Unit = v match {
    case null => sb.append("null")
    case s: String => quote(sb, s)
    case b: Boolean => sb.append(b)
    case l: Long => sb.append(l)
    case i: Int => sb.append(i)
    case d: Double => sb.append(d)
    case Obj(fs) =>
      sb.append('{')
      var first = true
      fs.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        quote(sb, k); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case xs: Seq[_] =>
      sb.append('[')
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); write(sb, x) }
      sb.append(']')
    case other => throw new IllegalArgumentException(s"not a JSON value: $other")
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  def obj(fields: (String, Any)*): Obj = Obj(fields)
}
