package perfbench

import java.io.{File, FileOutputStream, OutputStreamWriter, PrintWriter}
import java.nio.charset.StandardCharsets

/** Append-only JSON-lines file. Values are strings, numbers, booleans,
  * None/null, sequences and string-keyed maps. */
final class Records(file: File) {
  private val w = new PrintWriter(new OutputStreamWriter(
    new FileOutputStream(file, true), StandardCharsets.UTF_8))

  def write(fields: (String, Any)*): Unit = synchronized {
    w.println(Records.json(fields.toMap)); w.flush()
  }

  def close(): Unit = w.close()
}

object Records {
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
