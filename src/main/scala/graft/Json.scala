package graft

/** The one JSON writer (Bench's line, Verify's `oracle_sql.json`, the
  * metrics store): strings, numbers, booleans, null, maps and sequences,
  * no external dependencies. Maps keep their iteration order.
  */
object Json {

  def toJson(v: Any): String = v match {
    case null            => "null"
    case s: String       => quote(s)
    case b: Boolean      => b.toString
    case d: Double       => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float        => toJson(f.toDouble)
    case n: Number       => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${toJson(x)}" }.mkString("{", ",", "}")
    case s: collection.Seq[_]  => s.map(toJson).mkString("[", ",", "]")
    case a: Array[_]     => a.map(toJson).mkString("[", ",", "]")
    case other           => quote(other.toString)
  }

  /** String escape: backslash, quote and ALL control chars (< 0x20) — a tab
    * or CR in builder-authored SQL would otherwise make a reader's
    * `json.load` fail.
    */
  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\n'         => "\\n"
      case '\r'         => "\\r"
      case '\t'         => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""
}
