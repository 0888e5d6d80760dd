package graft

/** The one JSON string escaper behind the harness mains' hand-written
  * JSON (Bench's per-query map, Verify's oracle_sql.json). */
object Json {

  /** `s` escaped for use between JSON double quotes: quote, backslash
    * and the named controls get their short escapes, any other control
    * character below U+0020 a `\u00XX` escape. */
  def escape(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
}
