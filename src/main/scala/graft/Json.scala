package graft

/** The JSON string literal for every artifact Bench and Verify write. */
object Json {
  /** Escapes backslash, quote and ALL control chars (< 0x20): a tab or
    * CR in a value (builder-authored SQL, a conf override, a path from
    * the environment) would otherwise make the artifact unparseable. */
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
