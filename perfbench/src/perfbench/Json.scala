package perfbench

import java.time.{Instant, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row

/** Text that is already JSON, embedded as is. */
final case class RawJson(text: String)

/** Minimal JSON rendering for the result file run.py reads. */
object Json {

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }

  def render(v: Any): String = v match {
    case null                  => "null"
    case RawJson(text)         => text
    case None                  => "null"
    case Some(x)               => render(x)
    case s: String             => str(s)
    case b: Boolean            => b.toString
    case d: Double             => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float              => render(f.toDouble)
    case n: Int                => n.toString
    case n: Long               => n.toString
    case m: Map[_, _]          =>
      m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_]       => xs.map(render).mkString("[", ",", "]")
    case r: Row                => rowValues(r)
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case i: Instant            => micros(i).toString
    case t: LocalDateTime      => micros(t.toInstant(ZoneOffset.UTC)).toString
    case other                 => str(other.toString)
  }

  /** A row as `{column: value}`; timestamps as epoch micros. */
  def rowValues(r: Row): String =
    r.schema.fieldNames.indices
      .map(i => s"${str(r.schema.fieldNames(i))}:${render(r.get(i))}")
      .mkString("{", ",", "}")

  private def micros(i: Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
}
