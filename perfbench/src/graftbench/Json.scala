package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Minimal JSON I/O for the job file the runner writes and the result file
  * it reads back. Values are Scala maps, sequences, strings, numbers and
  * booleans; anything else is rendered with `toString` as a string. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: java.io.File): JsonNode = mapper.readTree(path)

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(write).mkString("[", ",", "]")
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
