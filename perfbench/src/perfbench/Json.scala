package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Minimal JSON writer for the raw-result file (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = Map(kv: _*)

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null                     => "null"
    case s: String                => str(s)
    case b: Boolean               => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case n: Int                   => n.toString
    case n: Long                  => n.toString
    case n: Double                => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_]           => s.map(render).mkString("[", ",", "]")
    case other                    => str(other.toString)
  }

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), render(v).getBytes(StandardCharsets.UTF_8))
}
