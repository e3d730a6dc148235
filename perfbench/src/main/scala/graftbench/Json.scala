package graftbench

/** A small JSON writer for the benchmark's records and span files.
  *
  * Every key and every string value goes through [[quote]], which
  * escapes the quote, the backslash and every control character, and
  * writes lone UTF-16 surrogates as `\\u` escapes, so any string a conf
  * override, a query name or a message body can hold yields parseable
  * JSON. Non-finite doubles become `null`. */
object Json {

  def quote(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b += '"'
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"'  => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case '\r' => b ++= "\\r"
        case '\t' => b ++= "\\t"
        case '\b' => b ++= "\\b"
        case '\f' => b ++= "\\f"
        case _ if c < ' ' || c.toInt == 0x2028 || c.toInt == 0x2029 => b ++= f"\\u${c.toInt}%04x"
        case _ if Character.isHighSurrogate(c) =>
          if (i + 1 < s.length && Character.isLowSurrogate(s.charAt(i + 1))) {
            b += c; b += s.charAt(i + 1); i += 1
          } else b ++= f"\\u${c.toInt}%04x"
        case _ if Character.isLowSurrogate(c) => b ++= f"\\u${c.toInt}%04x"
        case _ => b += c
      }
      i += 1
    }
    b += '"'
    b.result()
  }

  /** Render a value built from maps, sequences, strings, numbers,
    * booleans, options and null. Map keys are rendered with
    * `toString` and quoted. */
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.iterator.map(write).mkString("[", ",", "]")
    case xs: Array[_] => xs.iterator.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  /** An insertion-ordered object. */
  def obj(kvs: (String, Any)*): String =
    kvs.iterator.map { case (k, x) => quote(k) + ":" + write(x) }.mkString("{", ",", "}")
}
