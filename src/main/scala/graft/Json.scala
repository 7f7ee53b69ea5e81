package graft

/** The one JSON writer of the mains' artifacts (Bench's contract lines,
  * Verify's oracle_sql.json): values arrive rendered, strings go through
  * [[str]].
  */
private[graft] object Json {

  /** A JSON string literal: backslash, quote and EVERY control character
    * (< 0x20) escaped — a tab or CR in the oracle SQL or an
    * exception message would otherwise make a reader's json.load fail.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Seconds at the artifacts' 2-decimal resolution. */
  def num(v: Double): String = f"$v%.2f"

  /** `{"k":v,...}` over rendered values, in the given order. */
  def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** `["a",...]` of strings. */
  def arr(vs: Iterable[String]): String = vs.map(str).mkString("[", ",", "]")
}
