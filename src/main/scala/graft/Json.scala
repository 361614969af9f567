package graft

/** The one JSON codec: a strict writer (quotes, backslashes and
  * control characters escaped) and one Jackson mapper for reading —
  * HTTP request bodies, changefeed events, snapshot records and
  * index metadata. The reader accepts raw control characters inside
  * strings, so files written before the writer escaped them still
  * parse. */
private[graft] object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Float => if (n.isNaN || n.isInfinite) str(n.toString) else n.toString
    case n: Double => if (n.isNaN || n.isInfinite) str(n.toString) else n.toString
    case n: java.math.BigDecimal => n.toPlainString
    case s: Seq[_] => arr(s.map(value))
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, mv) => String.valueOf(k) -> value(mv) }: _*)
    case r: org.apache.spark.sql.Row => arr(r.toSeq.map(value))
    case other => str(other.toString)
  }

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  val mapper: com.fasterxml.jackson.databind.ObjectMapper =
    com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .enable(com.fasterxml.jackson.core.json.JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
      .build()

  /** `text` as a JSON object; None when it is not one. */
  def parse(body: String): Option[com.fasterxml.jackson.databind.JsonNode] =
    try Option(mapper.readTree(body)).filter(_.isObject)
    catch { case _: com.fasterxml.jackson.core.JsonProcessingException => None }

  /** The string at a JSON pointer (`/source/namespace/0`), if there is
    * one there. */
  def text(node: com.fasterxml.jackson.databind.JsonNode, pointer: String): Option[String] =
    Some(node.at(pointer)).filter(_.isTextual).map(_.asText)

  /** The integer at a JSON pointer, if there is one there. */
  def long(node: com.fasterxml.jackson.databind.JsonNode, pointer: String): Option[Long] =
    Some(node.at(pointer)).filter(_.canConvertToLong).map(_.asLong)
}
