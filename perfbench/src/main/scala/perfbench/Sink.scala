package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Paths}

/** Line-per-record JSON output; run.py derives every metric from it. */
final class Sink(path: String) {
  private val w = new PrintWriter(Files.newBufferedWriter(Paths.get(path)))

  def emit(fields: (String, Any)*): Unit = synchronized {
    w.println(fields.map { case (k, v) => s"${Sink.str(k)}:${Sink.value(v)}" }
      .mkString("{", ",", "}"))
    w.flush()
  }

  def close(): Unit = w.close()
}

object Sink {
  def str(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case m: Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case other => str(other.toString)
  }
}
