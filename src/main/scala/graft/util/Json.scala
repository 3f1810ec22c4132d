package graft.util

/** JSON text for the mains' one-line records. */
object Json {
  /** Full JSON string escape (backslash, quote, ALL control chars): an
    * exception message with a tab or stray CR must not break a reader's
    * json.load of the line.
    */
  def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** A value as JSON: strings quoted, maps as objects (in their
    * iteration order), other collections as arrays, numbers and
    * booleans as printed.
    */
  def apply(v: Any): String = v match {
    case s: String => "\"" + esc(s) + "\""
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => x.toString
  }
}
