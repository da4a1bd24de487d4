package graft.perfbench

/** Minimal JSON rendering for the runner's result line and trace dump. */
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

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")

  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  /** A Spark row value: numbers stay numbers, everything else a string. */
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case other => str(other.toString)
  }
}
