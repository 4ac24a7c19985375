package graft.functions.expressions

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import org.apache.avro.{Schema => AvroSchema}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.avro.util.Utf8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Executor-side Avro wire ENCODER over Catalyst internal rows — the
  * serialize twin of [[AvroWireDecoder]]. Versus the UDF codec
  * ([[graft.serde.AvroSerde.serializeUdf]], kept as the parity
  * reference) this skips the internal→external Row conversion a UDF
  * pays per record and REUSES the datum writer, the binary encoder and
  * the output buffer across records. Struct fields are matched to Avro
  * record fields BY NAME (the UDF contract); records are written in
  * schema field order, so child column order never changes the wire.
  *
  * Byte format: schemaless Avro binary (fastavro `schemaless_writer`),
  * or object-container framing when `includeSchema` — identical to the
  * UDF codec, golden-bytes-pinned in SerdeSpec. Container bytes embed
  * the file's random sync marker and are NOT byte-deterministic (the
  * framing's own contract); the schemaless wire is.
  */
final class AvroWireEncoder(schemaJson: String, includeSchema: Boolean,
                            childType: StructType) extends Serializable {

  @transient private lazy val schema = new AvroSchema.Parser().parse(schemaJson)
  @transient private lazy val writer = new GenericDatumWriter[GenericRecord](schema)
  @transient private lazy val out = new ByteArrayOutputStream(256)
  @transient private var reuseEncoder: org.apache.avro.io.BinaryEncoder = _

  def encode(row: InternalRow): Array[Byte] = {
    val rec = toAvro(row, childType, schema).asInstanceOf[GenericRecord]
    if (includeSchema) {
      val o = new ByteArrayOutputStream(512)
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, o); w.append(rec); w.close()
      o.toByteArray
    } else {
      out.reset()
      reuseEncoder = EncoderFactory.get().directBinaryEncoder(out, reuseEncoder)
      writer.write(rec, reuseEncoder)
      reuseEncoder.flush()
      out.toByteArray
    }
  }

  private def unwrap(s: AvroSchema): AvroSchema =
    if (s.getType == AvroSchema.Type.UNION) {
      val it = s.getTypes.iterator()
      var found: AvroSchema = null
      while (it.hasNext && found == null) {
        val b = it.next()
        if (b.getType != AvroSchema.Type.NULL) found = b
      }
      if (found == null) s else found
    } else s

  /** Catalyst internal value → Avro runtime value, keyed off the CHILD
    * Spark type (what the value actually is) with the Avro schema along
    * for container element/field resolution — mirrors the UDF's
    * `AvroSerde.toAvro` external-Row walk exactly.
    */
  private def toAvro(v: Any, t: DataType, s: AvroSchema): Any = {
    if (v == null) return null
    val target = unwrap(s)
    t match {
      case st: StructType =>
        val row = v.asInstanceOf[InternalRow]
        val rec = new GenericData.Record(target)
        var i = 0
        while (i < st.fields.length) {
          val f = st.fields(i)
          val fieldSchema = target.getField(f.name).schema()
          val fv = if (row.isNullAt(i)) null else row.get(i, f.dataType)
          rec.put(f.name, toAvro(fv, f.dataType, fieldSchema))
          i += 1
        }
        rec
      case StringType => new Utf8(v.asInstanceOf[UTF8String].toString)
      case BinaryType => ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      case ArrayType(et, _) =>
        val ad = v.asInstanceOf[ArrayData]
        val n = ad.numElements()
        val list = new java.util.ArrayList[Any](n)
        val es = target.getElementType
        var i = 0
        while (i < n) {
          list.add(toAvro(if (ad.isNullAt(i)) null else ad.get(i, et), et, es))
          i += 1
        }
        list
      case MapType(_, vt, _) =>
        val md = v.asInstanceOf[MapData]
        val keys = md.keyArray()
        val vals = md.valueArray()
        // LinkedHashMap: entries hit the wire in MapData order, so the
        // same input always produces the same bytes (any entry order is
        // valid Avro; determinism is the house rule)
        val m = new java.util.LinkedHashMap[String, Any](md.numElements() * 2)
        val vs = target.getValueType
        var i = 0
        while (i < md.numElements()) {
          val mv = if (vals.isNullAt(i)) null else vals.get(i, vt)
          m.put(keys.getUTF8String(i).toString, toAvro(mv, vt, vs))
          i += 1
        }
        m
      case _ => v // int/long/float/double/boolean come out of get() boxed
    }
  }
}

/** `avro_encode(struct)` — schemaless Avro wire serialization (fastavro
  * `schemaless_writer` compatible, the reference's default sink mode —
  * kaflow `serializers.py:74-95`) as a native Catalyst expression: the
  * Kafka sink path stays inside whole-stage codegen with zero
  * per-record UDF dispatch or external Row conversion. `includeSchema`
  * switches to Avro object-container framing, exactly as the UDF codec
  * (which remains the golden-bytes parity reference in SerdeSpec).
  * A null field destined for a non-nullable Avro field fails loudly
  * (same as the UDF reference — a malformed OUTBOUND record is a
  * programming error, not a DLQ case).
  */
case class AvroEncode(child: Expression, schemaJson: String,
                      includeSchema: Boolean = false) extends UnaryExpression {

  @transient private lazy val encoder = new AvroWireEncoder(
    schemaJson, includeSchema, child.dataType.asInstanceOf[StructType])

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case st: StructType =>
      val avro = new AvroSchema.Parser().parse(schemaJson)
      val missing = st.fieldNames.filter(n => avro.getField(n) == null)
      if (missing.isEmpty) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"avro_encode: struct fields ${missing.mkString(", ")} not in the Avro schema")
    case other => TypeCheckResult.TypeCheckFailure(
      s"avro_encode expects a struct, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    encoder.encode(input.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val enc = ctx.addReferenceObj("avroWireEncoder", encoder,
      classOf[AvroWireEncoder].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $enc.encode((org.apache.spark.sql.catalyst.InternalRow) $c);")
  }

  @transient private lazy val schemaLabel = AvroWireDecoder.label(schemaJson)

  override protected def stringArgs: Iterator[Any] =
    Iterator(child, schemaLabel, includeSchema)

  override protected def withNewChildInternal(newChild: Expression): AvroEncode =
    copy(child = newChild)

  override def prettyName: String = "avro_encode"
}
