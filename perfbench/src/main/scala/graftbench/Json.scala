package graftbench

/** A result record built as data and serialised once. Numbers must be
  * finite: a NaN or an infinity is a measurement defect, so rendering one
  * throws instead of writing a record no JSON reader accepts. */
sealed trait Json

object Json {
  final case class Str(value: String) extends Json
  final case class Num(value: Double) extends Json
  final case class Int64(value: Long) extends Json
  final case class Bool(value: Boolean) extends Json
  final case class Arr(items: Seq[Json]) extends Json
  final case class Obj(fields: Seq[(String, Json)]) extends Json
  case object Null extends Json

  def obj(fields: (String, Json)*): Obj = Obj(fields)
  def num(d: Double): Num = Num(d)

  def render(j: Json): String = {
    val sb = new StringBuilder
    write(j, sb, "$")
    sb.toString
  }

  private def write(j: Json, sb: StringBuilder, path: String): Unit = j match {
    case Str(s) => quote(s, sb)
    case Num(d) =>
      if (d.isNaN || d.isInfinite)
        throw new IllegalArgumentException(s"non-finite number $d at $path")
      sb.append(java.lang.Double.toString(d))
    case Int64(l) => sb.append(l)
    case Bool(b) => sb.append(b)
    case Null => sb.append("null")
    case Arr(items) =>
      sb.append('[')
      items.zipWithIndex.foreach { case (x, i) =>
        if (i > 0) sb.append(',')
        write(x, sb, s"$path[$i]")
      }
      sb.append(']')
    case Obj(fields) =>
      val dup = fields.groupBy(_._1).collectFirst { case (k, v) if v.size > 1 => k }
      dup.foreach(k => throw new IllegalArgumentException(s"duplicate key $k at $path"))
      sb.append('{')
      fields.zipWithIndex.foreach { case ((k, v), i) =>
        if (i > 0) sb.append(',')
        quote(k, sb)
        sb.append(':')
        write(v, sb, s"$path.$k")
      }
      sb.append('}')
  }

  private def quote(s: String, sb: StringBuilder): Unit = {
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
