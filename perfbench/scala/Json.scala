package graftbench

/** Minimal JSON writing and flat-object reading for the result line and
  * the expectation file (no JSON library on the Spark classpath is part
  * of a stable API). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** Reads `{"key": {"rows": n, "hash": "h"}, ...}` as written by
    * [[QueryWorkload.record]]. */
  def readExpected(text: String): Map[String, (Long, String)] = {
    val Entry = """"([^"]+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"hash"\s*:\s*"([^"]*)"\s*\}""".r
    Entry.findAllMatchIn(text).map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }
}
