package graft

/** Shared JSON string escaping for the artifact-writing mains (Verify,
  * Bench) and the per-region manifest (DocStore): one correct escaper
  * instead of two drifting copies — the Bench copy used to flatten control
  * chars to spaces, silently mutating multi-line error messages in the
  * artifact. */
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

  /** The inverse of [[str]], on the text between the quotes. */
  def unstr(s: String): String = """\\(u[0-9a-fA-F]{4}|.)""".r.replaceAllIn(s, m =>
    java.util.regex.Matcher.quoteReplacement(m.group(1) match {
      case "n" => "\n"
      case "r" => "\r"
      case "t" => "\t"
      case u if u.length == 5 => Integer.parseInt(u.tail, 16).toChar.toString
      case c => c
    }))
}
