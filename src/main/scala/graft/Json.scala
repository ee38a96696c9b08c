package graft

/** The JSON string literal the mains write into their output lines. */
object Json {
  /** `s` quoted, with the quote, the backslash and every control character
    * below 0x20 escaped; everything else, non-ASCII included, passes through.
    */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
