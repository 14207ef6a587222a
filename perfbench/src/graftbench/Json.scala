package graftbench

/** Just enough JSON writing for the result file. */
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
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")

  /** A result row as a JSON array (numbers, strings, booleans, null). */
  def row(r: org.apache.spark.sql.Row): String =
    arr((0 until r.length).map { i =>
      r.get(i) match {
        case null => "null"
        case b: java.lang.Boolean => b.toString
        case n: java.lang.Number => num(n.doubleValue)
        case d: java.math.BigDecimal => num(d.doubleValue)
        case other => str(other.toString)
      }
    })
}
