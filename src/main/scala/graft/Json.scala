package graft

/** JSON text for the tooling's hand-written documents (the oracle
  * dump, the bench summary, the catalog and export manifests). */
private[graft] object Json {

  /** `s` as a quoted JSON string: `"` and `\` escaped, newline, CR and
    * tab as their short escapes, every other control character as
    * `\u00XX`; everything else, non-ASCII included, passes through. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
}
