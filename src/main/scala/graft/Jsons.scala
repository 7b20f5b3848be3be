package graft

/** Shared JSON string escaping for the artifact-writing mains (Verify,
  * Bench): one correct escaper instead of two drifting copies — the Bench
  * copy used to flatten control chars to spaces, silently mutating
  * multi-line error messages in the artifact. */
private[graft] object Jsons {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => "\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt)
    case c => c.toString
  } + "\""
}
