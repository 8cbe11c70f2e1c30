package perfbench

/** Minimal JSON writer for the run record (no dependency beyond the JDK). */
object Json {
  sealed trait Value
  final case class Num(v: Double) extends Value
  final case class Str(v: String) extends Value
  final case class Bool(v: Boolean) extends Value
  final case class Arr(vs: Seq[Value]) extends Value
  final case class Obj(fields: Seq[(String, Value)]) extends Value

  def obj(fields: (String, Value)*): Obj = Obj(fields)
  def num(v: Double): Value = Num(v)
  def str(v: String): Value = Str(v)

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

  def render(v: Value): String = v match {
    case Num(d) if d.isNaN || d.isInfinite => "null"
    case Num(d) if d == math.rint(d) && math.abs(d) < 1e15 => d.toLong.toString
    case Num(d) => d.toString
    case Str(s) => quote(s)
    case Bool(b) => b.toString
    case Arr(vs) => vs.map(render).mkString("[", ",", "]")
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
  }
}
