package perfbench

/** Just enough JSON writing for the harness's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")

  def nums(m: Iterable[(String, Double)]): String = obj(m.map { case (k, v) => k -> num(v) })
}
