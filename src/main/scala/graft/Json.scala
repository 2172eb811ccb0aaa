package graft

/** The harness's one JSON string writer (bench.json, oracle_sql.json,
  * strategies.json). */
object Json {

  /** `s` as a quoted JSON string literal. Escapes EVERY control char,
    * not just \n\r\t: an exception message carrying \f or a raw ANSI
    * escape byte, or a tab in oracle SQL, would otherwise make the
    * whole artifact unparseable.
    */
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"'  => sb.append("\\\"")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append("\"").toString
  }
}
