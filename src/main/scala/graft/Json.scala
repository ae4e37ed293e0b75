package graft

/** The one JSON string escaper for the JSON the engine writes by hand:
  * `Verify`'s oracle_sql.json, `Bench`'s result line and the progress log.
  */
object Json {

  /** `s` as a JSON string literal: backslash, quote and ALL control chars
    * (< 0x20) escaped — a tab or CR left raw makes the line invalid JSON
    * (a strict reader such as Python's json.load rejects it).
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
}
