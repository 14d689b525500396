package graftbench

import java.util.Locale

/** Minimal JSON writer for the harness's raw-sample file (no extra
  * dependency; numbers are written locale-independently). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else String.format(Locale.ROOT, "%.6f", Double.box(d))

  def value(v: Any): String = v match {
    case null                 => "null"
    case s: String            => str(s)
    case d: Double            => num(d)
    case f: Float             => num(f.toDouble)
    case i: Int               => i.toString
    case l: Long              => l.toString
    case b: Boolean           => b.toString
    case m: Map[_, _]         => obj(m.map { case (k, x) => k.toString -> x }.toSeq)
    case s: Iterable[_]       => s.map(value).mkString("[", ",", "]")
    case a: Array[_]          => a.map(value).mkString("[", ",", "]")
    case o: Option[_]         => o.fold("null")(value)
    case other                => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
