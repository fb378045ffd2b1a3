package graftbench

/** Minimal JSON writer for the harness's result files (Map/Seq/String/
  * number/Boolean/null trees).
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null                       => "null"
    case s: String                  => str(s)
    case b: Boolean                 => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double                  => java.lang.Double.toString(d)
    case f: Float                   => apply(f.toDouble)
    case n: Int                     => n.toString
    case n: Long                    => n.toString
    case o: Option[_]               => o.map(apply).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]             => s.map(apply).mkString("[", ",", "]")
    case other                      => str(other.toString)
  }
}
