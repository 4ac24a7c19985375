package graft.dsl

import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DataType, DoubleType, FloatType, IntegerType, LongType, MapType, StringType, StructType}

/** AsyncAPI-style document emission from registered consumers — the
  * reference ships this builder disabled (`Kaflow.asyncapi()` raises
  * NotImplementedError, kaflow `applications.py:446-460`; models in
  * `asyncapi/models.py`); here it works: channels from the topic
  * registrations, message payload schemas derived from each consumer's
  * declared value serde (StructType → JSON Schema).
  */
object AsyncApiDoc {

  def render(app: GraftApp, title: String, version: String): String = {
    val channels = app.topics.map { t =>
      val spec = app.spec(t)
      val pub = q(t) + ": {\"subscribe\": {\"message\": {\"payload\": " +
        jsonSchema(spec.valueSerde.dataType) + "}}}"
      val sinks = spec.sinkTopics.map { st =>
        q(st) + ": {\"publish\": {\"message\": {\"payload\": " +
          spec.outValueSerde.map(s => jsonSchema(s.dataType))
            .getOrElse("{\"type\": \"string\", \"format\": \"binary\"}") + "}}}"
      }
      (pub +: sinks).mkString(", ")
    }
    s"""{"asyncapi": "2.6.0", "info": {"title": ${q(title)}, "version": ${q(version)}}, """ +
      s""""channels": {${channels.mkString(", ")}}}"""
  }

  /** Self-contained HTML docs page: the AsyncAPI JSON embedded in the
    * standard `<asyncapi-component>` web component (the same page shape
    * the reference's docs renderer emits — kaflow `asyncapi/docs.py:9-37`
    * — but actually reachable: the reference's entry point raises
    * NotImplementedError). Component/CSS URLs are parameters so an
    * air-gapped deployment can point at a vendored copy.
    */
  def renderHtml(app: GraftApp, title: String, version: String,
      componentJsUrl: String =
        "https://unpkg.com/@asyncapi/web-component@1.0.0-next.47/lib/asyncapi-web-component.js",
      componentCssUrl: String =
        "https://unpkg.com/@asyncapi/react-component@1.0.0-next.12/styles/default.min.css"): String = {
    val schema = render(app, title, version)
    // The schema sits in a single-quoted HTML attribute: escape the
    // attribute delimiter and ampersands (JSON string escapes handle the
    // rest — q() never emits raw control characters).
    val attr = schema.replace("&", "&amp;").replace("'", "&#39;")
    s"""<!DOCTYPE html>
       |<html>
       |<head>
       |  <meta charset="utf-8"/>
       |  <link rel="stylesheet" href="$componentCssUrl"/>
       |  <title>${attr2(title)}</title>
       |</head>
       |<body>
       |  <script src="$componentJsUrl" defer></script>
       |  <asyncapi-component schema='$attr' cssImportPath="$componentCssUrl">
       |  </asyncapi-component>
       |</body>
       |</html>
       |""".stripMargin
  }

  private def attr2(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Spark type → JSON Schema fragment. */
  def jsonSchema(t: DataType): String = t match {
    case StringType => """{"type": "string"}"""
    case LongType | IntegerType => """{"type": "integer"}"""
    case DoubleType | FloatType => """{"type": "number"}"""
    case BooleanType => """{"type": "boolean"}"""
    case BinaryType => """{"type": "string", "format": "binary"}"""
    case ArrayType(et, _) => s"""{"type": "array", "items": ${jsonSchema(et)}}"""
    case MapType(_, vt, _) =>
      s"""{"type": "object", "additionalProperties": ${jsonSchema(vt)}}"""
    case st: StructType =>
      val props = st.fields.map(f => s"${q(f.name)}: ${jsonSchema(f.dataType)}")
        .mkString(", ")
      val required = st.fields.filterNot(_.nullable).map(f => q(f.name))
        .mkString(", ")
      s"""{"type": "object", "properties": {$props}, "required": [$required]}"""
    case other => s"""{"type": "string", "description": ${q(other.catalogString)}}"""
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
