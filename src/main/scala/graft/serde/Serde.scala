package graft.serde

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, StringType, StructField, StructType}

/** Wire-format serde as Column transformations (the Spark-native analog of
  * the reference's Serializer ABC, kaflow `serializers.py:32-43`).
  *
  * `deserialize` maps a BINARY column to a typed column (struct for
  * schema'd formats); `serialize` maps a typed column back to BINARY.
  * JSON/String are pure Catalyst expressions (codegen'd, pushdown-safe).
  * Avro/Protobuf implement the public wire formats directly (this
  * container ships no spark-avro/spark-protobuf modules): DECODE is a
  * native Catalyst expression per format (AvroDecode/PbDecode —
  * codegen-resident hot path) with the original UDF codecs retained as
  * `deserializeUdf` parity references. SERIALIZE is native for Avro
  * (AvroEncode, with `serializeUdf` as its parity reference) and
  * UDF-backed for Protobuf (it feeds sink writes, not the analytic hot
  * path).
  */
trait Serde extends Serializable {
  /** Spark type produced by deserialize. */
  def dataType: DataType
  def deserialize(bytes: Column): Column
  def serialize(value: Column): Column

  /** The decode itself: the one expression over the raw bytes that
    * `GraftApp.decoded` evaluates once per record, below its decode
    * barrier. Default: [[deserialize]].
    */
  def decodeStage(raw: Column): Column = deserialize(raw)

  /** (typedValue, failed) read from `decoded`, the result of
    * [[decodeStage]], and the raw bytes. `GraftApp.decoded` evaluates
    * these above its decode barrier, so the DLQ split and every later
    * filter read the decoded column and never repeat the decode. Default:
    * the decoded column is the value, and a record failed when non-null
    * input decoded to null (the codecs return null on malformed input).
    * Formats whose decode cannot signal failure through null (PERMISSIVE
    * JSON's all-null struct) override both stages.
    */
  def fromDecoded(decoded: Column, raw: Column): (Column, Column) =
    (decoded, raw.isNotNull && decoded.isNull)

  /** The decode contract in one step: (typedValue, failed) over one
    * decode expression tree, `failed` being the DLQ routing condition.
    * Evaluated together in one projection, subexpression elimination
    * decodes once; a filter on `failed` placed below that projection
    * decodes again, which is why `GraftApp` splits the two stages
    * around a barrier instead of calling this.
    */
  final def decodeWithFailure(raw: Column): (Column, Column) =
    fromDecoded(decodeStage(raw), raw)
}

/** UTF-8 string passthrough (reference StringSerializer,
  * `serializers.py:46-57`).
  */
object StringSerde extends Serde {
  val dataType: DataType = StringType
  def deserialize(bytes: Column): Column = bytes.cast(StringType)
  def serialize(value: Column): Column = value.cast(StringType).cast(BinaryType)
}

/** Raw bytes passthrough (reference's un-serded `bytes` params,
  * `parameters.py:51-56`).
  */
object BytesSerde extends Serde {
  val dataType: DataType = BinaryType
  def deserialize(bytes: Column): Column = bytes
  def serialize(value: Column): Column = value
}

/** JSON with a declared schema (reference JsonSerializer + pydantic
  * validation, `serializers.py:60-71` + `_consumer.py:23-37`).
  *
  * Declared-schema, fail-per-record semantics: malformed or
  * schema-violating payloads deserialize to null (PERMISSIVE), which the
  * pipeline routes to the DLQ — the Spark-native form of the reference's
  * deserialization_error_handler path (`_consumer.py:129-190`).
  */
final case class JsonSerde(schema: StructType) extends Serde {
  val dataType: DataType = schema
  /** Null-on-failure (PERMISSIVE): malformed payloads become all-null
    * structs; [[decodeWithFailure]] flags them for the DLQ.
    */
  def deserialize(bytes: Column): Column =
    from_json(bytes.cast(StringType), schema)
  def serialize(value: Column): Column = to_json(value).cast(BinaryType)

  /** PERMISSIVE `from_json` yields an all-null struct (not null) for
    * malformed input, which a legitimate all-null payload also yields, so
    * the default null-on-failure indicator cannot tell the two apart.
    * The decode stage is therefore one parse against the declared schema
    * plus a corrupt-record column, populated iff the payload failed to
    * parse; [[fromDecoded]] reads the typed value (the parsed struct minus
    * that field) and the failure flag from it. In `GraftApp` the parse
    * sits below the decode barrier and the two reads above it, so each
    * record is parsed once per write: with both reads in one projection
    * over the parse, the optimiser would rewrite the struct of field
    * reads into a second `from_json` with the declared schema.
    */
  override def decodeStage(raw: Column): Column = {
    val withCorrupt = StructType(schema.fields :+ StructField("__corrupt", StringType))
    from_json(raw.cast(StringType), withCorrupt,
      Map("columnNameOfCorruptRecord" -> "__corrupt"))
  }

  override def fromDecoded(parsed: Column, raw: Column): (Column, Column) = {
    val value = when(parsed.isNull, lit(null).cast(schema))
      .otherwise(struct(schema.fieldNames.toSeq.map(n => parsed.getField(n).as(n)): _*))
    val failed = raw.isNotNull && parsed.getField("__corrupt").isNotNull
    (value, failed)
  }
}

/** Schemaless JSON via Spark 4's VARIANT type (the reference JsonSerializer's
  * no-model path, kaflow `serializers.py:60-71` with a plain-`dict` handler
  * param): payloads keep their full structure without a declared StructType,
  * fields are extracted lazily with `variant_get(col, "$.path", type)`.
  *
  * Variant stores a parsed binary form (typed values + a field dictionary),
  * so repeated path extraction does NOT re-parse the JSON text the way
  * repeated `get_json_object` calls do — the right default for pipelines
  * whose consumers each read a few fields of a wide, evolving payload.
  *
  * `try_parse_json` yields null on malformed input, so the default
  * null-on-failure DLQ indicator applies unchanged.
  */
object VariantSerde extends Serde {
  val dataType: DataType = org.apache.spark.sql.types.VariantType
  def deserialize(bytes: Column): Column = try_parse_json(bytes.cast(StringType))
  def serialize(value: Column): Column = to_json(value).cast(BinaryType)
}
