package graft.lake

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Minimal JSON layer for lake metadata: hand-rolled writer (stable field
  * order, no extra deps) + Jackson tree reader (jackson-databind ships with
  * Spark). Metadata files are small (KBs); performance is irrelevant here.
  */
object Json {
  private val mapper = new ObjectMapper()

  def parse(s: String): JsonNode = mapper.readTree(s)

  def str(n: JsonNode, field: String): String = {
    val f = n.get(field)
    if (f == null || f.isNull) null else f.asText()
  }
  def long(n: JsonNode, field: String): Long = required(n, field).asLong()
  def int(n: JsonNode, field: String): Int = required(n, field).asInt()
  private def required(n: JsonNode, field: String): JsonNode =
    Option(n.get(field)).getOrElse(throw new TableFormatException(field, "is missing"))
  def arr(n: JsonNode, field: String): Seq[JsonNode] =
    Option(n.get(field)).map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
  def objFields(n: JsonNode, field: String): Seq[(String, JsonNode)] =
    Option(n.get(field)).map(_.fields().asScala.toSeq.map(e => e.getKey -> e.getValue)).getOrElse(Seq.empty)

  def quote(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")

  def arrOf(items: Iterable[String]): String = items.mkString("[", ",", "]")
}
