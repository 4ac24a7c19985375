package graft.functions.expressions

import graft.serde.{PbField, PbType, ProtobufSerde}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Executor-side proto3 wire decoder producing Catalyst INTERNAL rows —
  * the engine half of [[PbDecode]], mirroring
  * [[graft.serde.ProtobufSerde.decodeMessage]] (which remains the
  * interpreted parity reference) but emitting UTF8String /
  * GenericArrayData / GenericInternalRow directly: strings never pass
  * through java.lang.String, rows never pass through the external Row
  * converter, and the field-dispatch tables are COMPILED ONCE at
  * construction (the reference rebuilds its number->field map and two
  * mutable Maps per record — acceptable for a parity codec, not for
  * the ingest hot path). Same wire subset (varint/fixed64/
  * length-delimited/fixed32, packed repeated scalars, unknown-field
  * skip, proto3 defaults) and the same null-on-failure DLQ contract;
  * every read is bounds-checked against the enclosing message limit,
  * including packed lengths.
  */
final class PbWireDecoder(val fields: Seq[PbField]) extends Serializable {
  import PbType._

  /** One compiled message level: dense per-field metadata + a
    * field-number dispatch table. Field numbers are small in practice,
    * so the table is a direct array — but proto field numbers are legal
    * up to 2^29-1, so past a cap the dispatch falls back to an
    * immutable Map instead of allocating a giant array. Built once per
    * decoder (and once per nested message TYPE, not per record);
    * immutable, thread-safe.
    */
  private final class Msg(fs: Seq[PbField]) {
    val arr: Array[PbField] = fs.toArray
    val subs: Array[Msg] = arr.map {
      case PbField(_, _, PbMessage(sub), _) => new Msg(sub)
      case _ => null
    }
    val defaults: Array[Any] = arr.map(f =>
      if (f.repeated) null else defaultOf(f.ptype))
    private val maxNum = if (arr.isEmpty) 0 else arr.map(_.number).max
    // slot(number) = field index + 1, 0 = unknown; dense only while small
    private val slot: Array[Int] =
      if (maxNum <= 4096) {
        val s = new Array[Int](maxNum + 1)
        arr.zipWithIndex.foreach { case (f, i) => s(f.number) = i + 1 }
        s
      } else null
    private val slotMap: Map[Int, Int] =
      if (slot == null) arr.zipWithIndex.map { case (f, i) => f.number -> i }.toMap
      else null
    def indexOf(num: Int): Int =
      if (slot != null) {
        if (num >= 0 && num < slot.length) slot(num) - 1 else -1
      } else slotMap.getOrElse(num, -1)
  }

  // proto2/3 contract: field numbers are positive. Validated EAGERLY at
  // decoder construction (the transient Msg tree builds lazily per JVM)
  // so a bad schema fails loudly instead of null-ing every record
  // through the decode-time catch.
  private def validateNumbers(fs: Seq[PbField]): Unit = fs.foreach { f =>
    require(f.number >= 1,
      s"field ${f.name}: protobuf field numbers must be >= 1, got ${f.number}")
    f.ptype match {
      case PbMessage(sub) => validateNumbers(sub)
      case _ => ()
    }
  }
  validateNumbers(fields)

  @transient private lazy val root = new Msg(fields)

  def decode(raw: Array[Byte]): InternalRow =
    if (raw == null) null
    else try decodeMsg(root, raw, 0, raw.length)
    catch { case scala.util.control.NonFatal(_) => null }

  private def decodeMsg(msg: Msg, buf: Array[Byte], from: Int, to: Int): InternalRow = {
    // bounds-checked against the enclosing message limit `to`:
    // truncated fields FAIL (-> null -> DLQ) instead of zero-padding,
    // nested messages never read parent bytes
    var pos = from
    def readVarint(): Long = {
      var shift = 0; var acc = 0L
      while (true) {
        require(pos < to, "truncated varint")
        val b = buf(pos); pos += 1
        acc |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return acc
        shift += 7
        require(shift < 64, "malformed varint")
      }
      acc
    }
    def readFixed64(): Long = {
      require(pos + 8 <= to, "truncated fixed64")
      var v = 0L; var i = 0
      while (i < 8) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8; v
    }
    def readFixed32(): Int = {
      require(pos + 4 <= to, "truncated fixed32")
      var v = 0; var i = 0
      while (i < 4) { v |= (buf(pos + i) & 0xff) << (8 * i); i += 1 }
      pos += 4; v
    }
    def readBytes(n: Int): Array[Byte] = {
      require(n >= 0 && pos + n <= to, "truncated length-delimited field")
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; out
    }
    val n = msg.arr.length
    val scalars = new Array[Any](n)
    var repeated: Array[Vector[Any]] = null // allocated only if needed
    while (pos < to) {
      val tag = readVarint()
      val num = (tag >>> 3).toInt
      val wire = (tag & 7).toInt
      val idx = msg.indexOf(num)
      if (idx >= 0) {
        val f = msg.arr(idx)
        val v: Any = (f.ptype, wire) match {
          case (PbString, 2) =>
            // COPY the string bytes (readBytes) rather than aliasing the
            // payload buffer: a zero-copy UTF8String view would pin the
            // ENTIRE raw record for as long as any retained row holds
            // one short decoded field
            UTF8String.fromBytes(readBytes(readVarint().toInt))
          case (PbBytes, 2) => readBytes(readVarint().toInt)
          case (PbMessage(_), 2) =>
            val len = readVarint().toInt
            require(len >= 0 && pos + len <= to, "truncated submessage")
            val r = decodeMsg(msg.subs(idx), buf, pos, pos + len)
            pos += len; r
          case (PbInt64, 0) => readVarint()
          case (PbInt32, 0) => readVarint().toInt
          case (PbBool, 0) => readVarint() != 0
          case (PbDouble, 1) => java.lang.Double.longBitsToDouble(readFixed64())
          case (PbFloat, 5) => java.lang.Float.intBitsToFloat(readFixed32())
          case (PbInt64 | PbInt32 | PbBool, 2) if f.repeated =>
            // packed scalars: the DECLARED length is validated against
            // the message limit up front, and the elements must consume
            // it exactly — a packed run may neither swallow the next
            // field's bytes nor stop short of its own length
            val len = readVarint().toInt
            require(len >= 0 && pos + len <= to, "truncated packed field")
            val limit = pos + len
            val acc = Vector.newBuilder[Any]
            while (pos < limit) acc += (f.ptype match {
              case PbInt64 => readVarint()
              case PbInt32 => readVarint().toInt
              case _ => readVarint() != 0
            })
            require(pos == limit, "malformed packed field")
            acc.result()
          case _ => throw new IllegalArgumentException(
            s"field ${f.name}: unexpected wire type $wire")
        }
        if (f.repeated) {
          if (repeated == null) repeated = new Array[Vector[Any]](n)
          val prev = if (repeated(idx) == null) Vector.empty[Any] else repeated(idx)
          repeated(idx) = v match {
            case vec: Vector[_] => prev ++ vec
            case x => prev :+ x
          }
        } else scalars(idx) = v
      } else {
        wire match {
          case 0 => readVarint()
          case 1 => readFixed64()
          case 2 =>
            val skip = readVarint().toInt
            require(skip >= 0 && pos + skip <= to, "truncated unknown field")
            pos += skip
          case 5 => readFixed32()
          case other => throw new IllegalArgumentException(s"bad wire type $other")
        }
      }
    }
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (msg.arr(i).repeated) {
          val vs = if (repeated == null || repeated(i) == null)
            Vector.empty[Any] else repeated(i)
          new GenericArrayData(vs.toArray)
        } else if (scalars(i) != null) scalars(i)
        else msg.defaults(i)
      i += 1
    }
    new GenericInternalRow(out)
  }

  /** proto3 defaults for absent scalars, in INTERNAL representation. */
  private def defaultOf(t: PbType): Any = t match {
    case PbString => UTF8String.EMPTY_UTF8
    case PbBytes => Array.emptyByteArray
    case PbInt64 => 0L
    case PbInt32 => 0
    case PbBool => false
    case PbDouble => 0.0
    case PbFloat => 0.0f
    case PbMessage(_) => null
  }
}

/** `pb_decode(binary)` — proto3 wire format decoded to a typed struct as
  * a native Catalyst expression (the Avro path's [[AvroDecode]] twin for
  * Protobuf): the Kafka ingest hot path stays inside whole-stage codegen
  * with no per-record UDF dispatch. The UDF codec
  * ([[graft.serde.ProtobufSerde.deserializeUdf]]) remains the
  * golden-bytes parity reference. Undecodable payloads yield NULL (DLQ
  * routing upstream).
  */
case class PbDecode(child: Expression, fields: Seq[PbField])
    extends UnaryExpression {

  @transient private lazy val derived = PbDecode.derived(fields)
  @transient private lazy val decoder = new PbWireDecoder(fields)

  override def dataType: DataType = derived._1
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pb_decode expects binary, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    decoder.decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dec = ctx.addReferenceObj("pbWireDecoder", decoder,
      classOf[PbWireDecoder].getName)
    val r = ctx.freshName("pbRow")
    nullSafeCodeGen(ctx, ev, c => s"""
      org.apache.spark.sql.catalyst.InternalRow $r = $dec.decode($c);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
    """)
  }

  override protected def stringArgs: Iterator[Any] = Iterator(child, derived._2)

  override protected def withNewChildInternal(newChild: Expression): PbDecode =
    copy(child = newChild)

  override def prettyName: String = "pb_decode"
}

object PbDecode {

  private val byFields = new java.util.concurrent.ConcurrentHashMap[Seq[PbField], (DataType, String)]

  /** The Spark type of a message, and its label in plan strings (its
    * field count and a short hash of the field list, instead of every
    * [[PbField]] in every operator that holds it, as
    * [[AvroWireDecoder.label]] does for an Avro schema), derived once per
    * field list rather than once per copy of the expression. An app
    * holds a handful of messages, so entries are never dropped.
    */
  private def derived(fields: Seq[PbField]): (DataType, String) =
    byFields.computeIfAbsent(fields, fs =>
      (ProtobufSerde.toSparkType(PbType.PbMessage(fs)), f"${fs.size} fields#${fs.hashCode}%08x"))
}
