package graft.functions.expressions

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema => AvroSchema}
import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericDatumReader, GenericFixed, GenericRecord, IndexedRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.avro.util.Utf8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Executor-side Avro wire decoder producing Catalyst INTERNAL rows —
  * the engine half of [[AvroDecode]]. Versus the UDF codec
  * ([[graft.serde.AvroSerde.deserializeUdf]], kept as the parity
  * reference) this skips the external-Row materialization + catalyst
  * re-conversion per record, REUSES the Avro binary decoder and datum
  * across records, and converts the datum with per-field converters
  * compiled once per schema (no per-value type match or union lookup).
  * Decode failures return null — the DLQ routing contract, identical to
  * the UDF codec.
  *
  * Supported Avro types mirror `AvroSerde.toSparkType` exactly: record
  * (nested), string, int, long, float, double, boolean, bytes/fixed,
  * enum (as string), array, map<string,_>, 2-branch null unions.
  */
final class AvroWireDecoder(schemaJson: String, includeSchema: Boolean,
                            seekOffset: Int) extends Serializable {

  @transient private lazy val schema = new AvroSchema.Parser().parse(schemaJson)
  @transient private lazy val reader = new GenericDatumReader[GenericRecord](schema)
  @transient private lazy val toRow = AvroWireDecoder.converter(schema)
  // per-task reuse: binaryDecoder re-inits over the new payload, the
  // datum recycles its field containers (safe — the converters copy
  // everything out before the next decode)
  @transient private var reuseDecoder: org.apache.avro.io.BinaryDecoder = _
  @transient private var reuseRecord: GenericRecord = _

  def decode(raw: Array[Byte]): InternalRow = {
    if (raw == null || (seekOffset > 0 && seekOffset >= raw.length)) return null
    try {
      val rec: GenericRecord =
        if (includeSchema) {
          val r = new DataFileReader[GenericRecord](
            new SeekableByteArrayInput(
              if (seekOffset > 0) java.util.Arrays.copyOfRange(raw, seekOffset, raw.length)
              else raw),
            new GenericDatumReader[GenericRecord](null, schema))
          try { if (r.hasNext) r.next() else null } finally r.close()
        } else {
          reuseDecoder = DecoderFactory.get().binaryDecoder(
            raw, seekOffset, raw.length - seekOffset, reuseDecoder)
          reuseRecord = reader.read(reuseRecord, reuseDecoder)
          reuseRecord
        }
      if (rec == null) null else toRow(rec).asInstanceOf[InternalRow]
    } catch { case scala.util.control.NonFatal(_) => null }
  }
}

object AvroWireDecoder {
  /** Maps a non-null Avro datum value to its Catalyst internal value. */
  type Converter = AnyRef => Any

  /** The converter for values of schema `s`, built once per schema. */
  def converter(s: AvroSchema): Converter = s.getType match {
    case AvroSchema.Type.RECORD =>
      val fields = s.getFields
      val convs = Array.tabulate(fields.size)(i => converter(fields.get(i).schema()))
      v => {
        val rec = v.asInstanceOf[IndexedRecord]
        val out = new Array[Any](convs.length)
        var i = 0
        while (i < convs.length) {
          val x = rec.get(i)
          if (x != null) out(i) = convs(i)(x)
          i += 1
        }
        new GenericInternalRow(out)
      }
    case AvroSchema.Type.STRING | AvroSchema.Type.ENUM => string
    case AvroSchema.Type.BYTES => v => {
      val bb = v.asInstanceOf[ByteBuffer]
      val arr = new Array[Byte](bb.remaining()); bb.duplicate().get(arr); arr
    }
    case AvroSchema.Type.FIXED => v => v.asInstanceOf[GenericFixed].bytes().clone()
    case AvroSchema.Type.ARRAY =>
      val conv = converter(s.getElementType)
      v => {
        val l = v.asInstanceOf[java.util.List[AnyRef]]
        val arr = new Array[Any](l.size())
        var i = 0
        while (i < arr.length) {
          val x = l.get(i)
          if (x != null) arr(i) = conv(x)
          i += 1
        }
        new GenericArrayData(arr)
      }
    case AvroSchema.Type.MAP =>
      val conv = converter(s.getValueType)
      v => {
        val m = v.asInstanceOf[java.util.Map[AnyRef, AnyRef]]
        val keys = new Array[Any](m.size())
        val vals = new Array[Any](m.size())
        var i = 0
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          keys(i) = string(e.getKey)
          if (e.getValue != null) vals(i) = conv(e.getValue)
          i += 1
        }
        ArrayBasedMapData(keys, vals)
      }
    case AvroSchema.Type.UNION =>
      converter(s.getTypes.asScala.find(_.getType != AvroSchema.Type.NULL).getOrElse(s))
    case AvroSchema.Type.INT | AvroSchema.Type.LONG | AvroSchema.Type.FLOAT |
         AvroSchema.Type.DOUBLE | AvroSchema.Type.BOOLEAN => v => v
    case other => throw new IllegalArgumentException(s"unsupported Avro type: $other")
  }

  /** A `Utf8`'s bytes copied straight into a UTF8String: a reader may
    * reuse its `Utf8` buffers, so they are never aliased. Bytes that are
    * not valid UTF-8 take the `String` path, as the UDF codec does; ASCII,
    * checked first, is valid without `isValid`'s code-point walk.
    */
  private val string: Converter = {
    case u: Utf8 =>
      val n = u.getByteLength
      val bytes = java.util.Arrays.copyOf(u.getBytes, n)
      var i = 0
      while (i < n && bytes(i) >= 0) i += 1
      val s = UTF8String.fromBytes(bytes)
      if (i == n || s.isValid) s else UTF8String.fromString(u.toString)
    case other => UTF8String.fromString(other.toString)
  }

  /** A schema in plan strings: its record name and a short hash of the
    * JSON, instead of the whole JSON in every operator that holds it.
    */
  def label(schemaJson: String): String =
    f"${new AvroSchema.Parser().parse(schemaJson).getFullName}#${schemaJson.hashCode}%08x"
}

/** `avro_decode(binary)` — schemaless Avro wire format (fastavro
  * `schemaless_reader` compatible, the reference's default mode —
  * kaflow `serializers.py:74-108`) decoded to a typed struct as a
  * native Catalyst expression: the hot Kafka ingest path stays inside
  * whole-stage codegen with zero per-record UDF dispatch or external
  * Row conversion. `includeSchema` switches to Avro object-container
  * framing; `seekOffset` skips a schema-registry magic-byte prefix —
  * both exactly as the UDF codec (which remains the golden-bytes
  * parity reference in AvroSerdeSpec). Undecodable payloads yield
  * NULL (DLQ routing upstream).
  */
case class AvroDecode(child: Expression, schemaJson: String,
                      includeSchema: Boolean = false,
                      seekOffset: Int = 0) extends UnaryExpression {

  @transient private lazy val derived = AvroDecode.derived(schemaJson)
  // per instance: the decoder reuses its buffers, so no two tasks may share it
  @transient private lazy val decoder =
    new AvroWireDecoder(schemaJson, includeSchema, seekOffset)

  override def dataType: DataType = derived._1
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"avro_decode expects binary, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    decoder.decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dec = ctx.addReferenceObj("avroWireDecoder", decoder,
      classOf[AvroWireDecoder].getName)
    val r = ctx.freshName("avroRow")
    nullSafeCodeGen(ctx, ev, c => s"""
      org.apache.spark.sql.catalyst.InternalRow $r = $dec.decode($c);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
    """)
  }

  override protected def stringArgs: Iterator[Any] =
    Iterator(child, derived._2, includeSchema, seekOffset)

  override protected def withNewChildInternal(newChild: Expression): AvroDecode =
    copy(child = newChild)

  override def prettyName: String = "avro_decode"
}

object AvroDecode {

  private val bySchema = new java.util.concurrent.ConcurrentHashMap[String, (DataType, String)]

  /** The Spark type and plan label of a schema, derived once per schema
    * JSON: the optimiser, planner and codegen copy the expression many
    * times per write, and each copy would otherwise parse the JSON again.
    * An app holds a handful of schemas, so entries are never dropped.
    */
  private def derived(schemaJson: String): (DataType, String) =
    bySchema.computeIfAbsent(schemaJson,
      json => (graft.serde.AvroSerde.sparkTypeOf(json), AvroWireDecoder.label(json)))
}
