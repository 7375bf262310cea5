package perfbench

/** Minimal JSON rendering for the run record (no dependency beyond the
  * program's classpath). Values are pre-rendered strings.
  */
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

  /** Non-finite doubles render as the NaN/Infinity tokens Python's json
    * module reads back.
    */
  def num(v: Double): String =
    if (v.isNaN) "NaN" else if (v.isInfinite) (if (v > 0) "Infinity" else "-Infinity")
    else v.toString

  def num(v: Long): String = v.toString

  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def obj(kvs: (String, String)*)(implicit d: DummyImplicit): String = obj(kvs)

  /** One result cell: numbers stay numbers, everything else is rendered
    * as its string form (dates, decimals as strings compare exactly).
    */
  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case s: Short => s.toString
    case b: Byte => b.toString
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case s: scala.collection.Seq[_] => arr(s.map(value))
    case r: org.apache.spark.sql.Row => arr(r.toSeq.map(value))
    case other => str(other.toString)
  }
}
