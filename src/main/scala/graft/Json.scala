package graft

/** The one JSON string encoder behind every hand-written JSON artifact:
  * stored `headers_json`, `run.json`, Verify's `oracle_sql.json` and
  * `errors.json`, and the Bench record. */
private[graft] object Json {

  /** `s` as a quoted JSON string literal: `"` and `\` escaped, `\n`, `\r`
    * and `\t` by name, every other control character as `\u00XX`; a null
    * string is `null`. Stored `headers_json` depends on these exact bytes. */
  def quote(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
