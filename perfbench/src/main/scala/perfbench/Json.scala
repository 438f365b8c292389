package perfbench

/** Just enough JSON writing for the result line and the trace file. */
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

  /** Full precision; JSON has no NaN or infinity, so those are refused. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else java.lang.Double.toString(v)
  }

  def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => str(k) + ":" + num(v) }.mkString("{", ",", "}")
}
