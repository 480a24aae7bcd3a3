package graft.util

/** The one JSON string escaper for the artifacts the mains write
  * (oracle_sql.json, MATCHECK, BENCH_FULL, SHUFFLE): backslash, quote
  * and ALL control chars (< 0x20) — a tab or CR in builder-authored SQL,
  * an error message or a data-dir path would otherwise make a reader's
  * json.load fail and silently zero the artifact. */
object Json {
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
