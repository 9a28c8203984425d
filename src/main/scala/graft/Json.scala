package graft

/** The one JSON string escaper behind every hand-assembled JSON text:
  * the harness artifacts (Bench, ScaleBench, Verify), Pipeline's
  * converter outputs, and GraftServer's responses and webhook bodies. */
private[graft] object Json {

  /** JSON string literal: backslash, quote, and ALL control chars
    * (< 0x20) escaped — a tab or CR in a name or SQL text would
    * otherwise make a consumer's json.load fail. */
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
