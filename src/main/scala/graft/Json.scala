package graft

/** The one JSON writer of the mains: the string escape `Verify`'s
  * `oracle_sql.json` and the tools' JSON lines share, and a flat
  * one-line object renderer on top of it.
  */
object Json {

  /** `s` as a quoted JSON string. Escapes the quote, the backslash and
    * ALL control chars (< 0x20): a tab or CR in builder-authored SQL
    * would otherwise make a consumer's `json.load` fail — for
    * `oracle_sql.json` that silently zeroes the correctness gate — and
    * a newline in an exception message would break a line-oriented
    * output. Everything else, non-ASCII included, is written verbatim.
    */
  def quote(s: String): String = {
    val b = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** One JSON object with the fields in the given order. Values:
    * strings (escaped), booleans, ints and longs, doubles (3 decimals in
    * `Locale.ROOT`; NaN and infinities as null), `None` as null and
    * `Some(v)` as `v`, sequences as arrays, maps as nested objects in
    * their iteration order.
    */
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other =>
      throw new IllegalArgumentException(s"no JSON form for ${other.getClass.getName}")
  }
}
