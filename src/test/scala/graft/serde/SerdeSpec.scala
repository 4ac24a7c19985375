package graft.serde

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.functions.expressions.AvroWireDecoder
import org.apache.avro.{Schema => AvroSchema}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Golden-bytes wire-compatibility tests, ported from the reference's
  * serializer suite (kaflow `tests/test_serializers.py:23-88`, fixtures in
  * FIXTURES.md §1): identical payloads must produce identical wire bytes.
  */
class SerdeSpec extends SparkSpec {
  import spark.implicits._

  private def firstRow(df: org.apache.spark.sql.DataFrame): Row = df.collect()(0)

  test("StringSerde round-trips utf-8") {
    val df = Seq("hello graft").toDF("s")
    val wire = firstRow(df.select(StringSerde.serialize(col("s")).as("b")))
      .getAs[Array[Byte]]("b")
    assert(new String(wire, "UTF-8") == "hello graft")
    val back = firstRow(df.select(
      StringSerde.deserialize(StringSerde.serialize(col("s"))).as("s")))
    assert(back.getString(0) == "hello graft")
  }

  test("JsonSerde golden bytes: {\"key\": \"value\"}") {
    val schema = StructType(Seq(StructField("key", StringType)))
    val serde = JsonSerde(schema)
    val df = Seq(Tuple1("""{"key": "value"}""")).toDF("raw")
      .select(col("raw").cast("binary").as("raw"))
    val decoded = firstRow(df.select(serde.deserialize(col("raw")).as("v")))
      .getAs[Row]("v")
    assert(decoded.getAs[String]("key") == "value")
    // serialize back: canonical (no space) JSON
    val wire = firstRow(df.select(
      serde.serialize(serde.deserialize(col("raw"))).as("b")))
      .getAs[Array[Byte]]("b")
    assert(new String(wire, "UTF-8") == """{"key":"value"}""")
  }

  private val avroSchema =
    """{"type": "record", "name": "test", "fields": [
       {"name": "key", "type": "string"}, {"name": "value", "type": "string"}]}"""
  private val avroGolden: Array[Byte] =
    Array[Byte](0x1a) ++ "unit_test_key".getBytes("UTF-8") ++
      Array[Byte](0x1e) ++ "unit_test_value".getBytes("UTF-8")

  test("AvroSerde golden bytes (fastavro schemaless wire format)") {
    val serde = AvroSerde(avroSchema)
    val df = Seq(Tuple1(avroGolden)).toDF("raw")
    val decoded = firstRow(df.select(serde.deserialize(col("raw")).as("v")))
      .getAs[Row]("v")
    assert(decoded.getAs[String]("key") == "unit_test_key")
    assert(decoded.getAs[String]("value") == "unit_test_value")
    val wire = firstRow(df.select(
      serde.serialize(serde.deserialize(col("raw"))).as("b")))
      .getAs[Array[Byte]]("b")
    assert(wire.toSeq == avroGolden.toSeq, "byte-exact round trip")
  }

  test("AvroSerde seekOffset skips schema-registry-style prefixes") {
    val prefixed = Array[Byte](0x00, 0x00, 0x00, 0x00, 0x07) ++ avroGolden
    val serde = AvroSerde(avroSchema, seekOffset = 5)
    val df = Seq(Tuple1(prefixed)).toDF("raw")
    val decoded = firstRow(df.select(serde.deserialize(col("raw")).as("v")))
      .getAs[Row]("v")
    assert(decoded.getAs[String]("key") == "unit_test_key")
  }

  test("AvroSerde includeSchema container-file round trip") {
    val serde = AvroSerde(avroSchema, includeSchema = true)
    val df = Seq(Tuple1(avroGolden)).toDF("raw")
    val schemaless = AvroSerde(avroSchema)
    val containerBytes = firstRow(df.select(
      serde.serialize(schemaless.deserialize(col("raw"))).as("b")))
      .getAs[Array[Byte]]("b")
    assert(containerBytes.take(4).map(_.toChar).mkString.startsWith("Obj"))
    val df2 = Seq(Tuple1(containerBytes)).toDF("raw")
    val back = firstRow(df2.select(serde.deserialize(col("raw")).as("v")))
      .getAs[Row]("v")
    assert(back.getAs[String]("value") == "unit_test_value")
  }

  test("AvroSerde round-trips nested records, arrays, maps, nullable unions") {
    val schema =
      """{"type":"record","name":"outer","fields":[
         {"name":"tag","type":"string"},
         {"name":"inner","type":{"type":"record","name":"inner_t","fields":[
            {"name":"n","type":"long"},
            {"name":"opt","type":["null","string"],"default":null}]}},
         {"name":"nums","type":{"type":"array","items":"long"}},
         {"name":"attrs","type":{"type":"map","values":"string"}}]}"""
    val serde = AvroSerde(schema)
    import org.apache.spark.sql.functions.{map_from_entries, transform, array, struct, lit}
    val df = Seq(Tuple1("x")).toDF("ignore").select(
      serde.serialize(struct(
        lit("t1").as("tag"),
        struct(lit(42L).as("n"), lit(null).cast("string").as("opt")).as("inner"),
        array(lit(1L), lit(2L), lit(3L)).as("nums"),
        map_from_entries(array(struct(lit("k").as("key"), lit("v").as("value")))).as("attrs")
      )).as("w"))
      .select(serde.deserialize(col("w")).as("v"))
    val v = firstRow(df).getAs[Row]("v")
    assert(v.getAs[String]("tag") == "t1")
    val inner = v.getAs[Row]("inner")
    assert(inner.getAs[Long]("n") == 42L && inner.isNullAt(inner.fieldIndex("opt")))
    assert(v.getAs[scala.collection.Seq[Long]]("nums").toSeq == Seq(1L, 2L, 3L))
    assert(v.getAs[Map[String, String]]("attrs") == Map("k" -> "v"))
  }

  test("AvroSerde malformed payload deserializes to null (DLQ path)") {
    val serde = AvroSerde(avroSchema)
    val df = Seq(Tuple1(Array[Byte](0x7f, 0x00))).toDF("raw")
    assert(firstRow(df.select(serde.deserialize(col("raw")).as("v"))).isNullAt(0))
  }

  test("AvroSerde: native expression == UDF reference codec on every fixture") {
    // the house parity rule: the codegen path must agree with the
    // interpreted reference on golden bytes, nested values, prefixes,
    // container framing, and the malformed-payload DLQ null
    val nested =
      """{"type":"record","name":"outer","fields":[
         {"name":"tag","type":"string"},
         {"name":"inner","type":{"type":"record","name":"inner_t","fields":[
            {"name":"n","type":"long"},
            {"name":"opt","type":["null","string"],"default":null}]}},
         {"name":"nums","type":{"type":"array","items":"long"}},
         {"name":"attrs","type":{"type":"map","values":"string"}}]}"""
    val nestedSerde = AvroSerde(nested)
    val nestedWire = firstRow(Seq(Tuple1("x")).toDF("ignore").select(
      nestedSerde.serialize(struct(
        lit("t1").as("tag"),
        struct(lit(42L).as("n"), lit(null).cast("string").as("opt")).as("inner"),
        array(lit(1L), lit(2L), lit(3L)).as("nums"),
        map_from_entries(array(struct(lit("k").as("key"), lit("v").as("value")))).as("attrs")
      )).as("w"))).getAs[Array[Byte]]("w")
    val cases: Seq[(AvroSerde, Array[Byte])] = Seq(
      (AvroSerde(avroSchema), avroGolden),
      (AvroSerde(avroSchema, seekOffset = 5),
        Array[Byte](0x00, 0x00, 0x00, 0x00, 0x07) ++ avroGolden),
      (AvroSerde(avroSchema), Array[Byte](0x7f, 0x00)), // malformed -> null
      (nestedSerde, nestedWire))
    cases.foreach { case (serde, bytes) =>
      val df = Seq(Tuple1(bytes)).toDF("raw")
      val native = firstRow(df.select(serde.deserialize(col("raw")).as("v")))
      val udf = firstRow(df.select(serde.deserializeUdf(col("raw")).as("v")))
      assert(native == udf, s"native $native vs udf $udf")
    }
    // container framing parity
    val container = AvroSerde(avroSchema, includeSchema = true)
    val containerBytes = firstRow(Seq(Tuple1(avroGolden)).toDF("raw").select(
      container.serialize(AvroSerde(avroSchema).deserialize(col("raw"))).as("b")))
      .getAs[Array[Byte]]("b")
    val cdf = Seq(Tuple1(containerBytes)).toDF("raw")
    assert(firstRow(cdf.select(container.deserialize(col("raw")).as("v"))) ==
      firstRow(cdf.select(container.deserializeUdf(col("raw")).as("v"))))
  }

  test("AvroSerde: native ENCODE == UDF reference encoder, byte-exact") {
    // schemaless wire bytes must be identical (the parity rule in the
    // encode direction): golden fixture, nested record/array/map,
    // nullable-union null, binary field
    val nested =
      """{"type":"record","name":"outer","fields":[
         {"name":"tag","type":"string"},
         {"name":"inner","type":{"type":"record","name":"inner_t","fields":[
            {"name":"n","type":"long"},
            {"name":"opt","type":["null","string"],"default":null}]}},
         {"name":"nums","type":{"type":"array","items":"long"}},
         {"name":"attrs","type":{"type":"map","values":"string"}},
         {"name":"blob","type":"bytes"}]}"""
    val nestedSerde = AvroSerde(nested)
    val nestedStruct = struct(
      lit("t1").as("tag"),
      struct(lit(42L).as("n"), lit(null).cast("string").as("opt")).as("inner"),
      array(lit(1L), lit(2L), lit(3L)).as("nums"),
      map_from_entries(array(struct(lit("k").as("key"), lit("v").as("value")))).as("attrs"),
      lit(Array[Byte](7, 0, 9)).as("blob"))
    val flat = AvroSerde(avroSchema)
    val flatStruct = struct(
      lit("unit_test_key").as("key"), lit("unit_test_value").as("value"))
    val df = Seq(Tuple1("x")).toDF("ignore")
    Seq((flat, flatStruct), (nestedSerde, nestedStruct)).foreach {
      case (serde, s) =>
        val native = firstRow(df.select(serde.serialize(s).as("b")))
          .getAs[Array[Byte]]("b")
        val ref = firstRow(df.select(serde.serializeUdf(s).as("b")))
          .getAs[Array[Byte]]("b")
        assert(native.toSeq == ref.toSeq, "native encode != UDF reference")
    }
    // the golden fixture, through the native encoder directly
    val wire = firstRow(df.select(flat.serialize(flatStruct).as("b")))
      .getAs[Array[Byte]]("b")
    assert(wire.toSeq == avroGolden.toSeq, "golden bytes")
    // container framing: byte equality is impossible (random sync
    // marker) — both framings must DECODE to the same record
    val container = AvroSerde(avroSchema, includeSchema = true)
    val viaNative = firstRow(df.select(
      container.deserialize(container.serialize(flatStruct)).as("v"))).getAs[Row]("v")
    val viaUdf = firstRow(df.select(
      container.deserialize(container.serializeUdf(flatStruct)).as("v"))).getAs[Row]("v")
    assert(viaNative == viaUdf && viaNative.getAs[String]("key") == "unit_test_key")
  }

  /** Every Avro type the decoder supports, nested and in null unions. */
  private val allTypesJson =
    """{"type":"record","name":"All","namespace":"graft.test","fields":[
       {"name":"s","type":"string"},
       {"name":"i","type":"int"},
       {"name":"l","type":"long"},
       {"name":"f","type":"float"},
       {"name":"d","type":"double"},
       {"name":"b","type":"boolean"},
       {"name":"by","type":"bytes"},
       {"name":"fx","type":{"type":"fixed","name":"Four","size":4}},
       {"name":"e","type":{"type":"enum","name":"Color","symbols":["RED","GREEN"]}},
       {"name":"arr","type":{"type":"array","items":["null","string"]}},
       {"name":"m","type":{"type":"map","values":"long"}},
       {"name":"opt","type":["null","double"],"default":null},
       {"name":"optStr","type":["string","null"]},
       {"name":"inner","type":{"type":"record","name":"Inner","fields":[
          {"name":"n","type":"long"},
          {"name":"tags","type":{"type":"array","items":"string"}}]}},
       {"name":"optInner","type":["null","Inner"],"default":null}]}"""
  private lazy val allTypes = new AvroSchema.Parser().parse(allTypesJson)

  /** An `All` record; `big` makes every string, list and map longer. */
  private def allRecord(big: Boolean, nulls: Boolean): GenericRecord = {
    val r = new GenericData.Record(allTypes)
    val w = if (big) "x" * 300 else "y"
    val inner = new GenericData.Record(allTypes.getField("inner").schema())
    inner.put("n", if (big) Long.MinValue else 7L)
    inner.put("tags", Seq.fill(if (big) 5 else 1)(w + "-tag").asJava)
    r.put("s", w); r.put("i", if (big) Int.MaxValue else -3)
    r.put("l", if (big) Long.MaxValue else 0L); r.put("f", 1.5f); r.put("d", -2.25)
    r.put("b", big)
    r.put("by", ByteBuffer.wrap(Array.fill[Byte](if (big) 64 else 2)(9)))
    r.put("fx", new GenericData.Fixed(allTypes.getField("fx").schema(), Array[Byte](1, 2, 3, 4)))
    r.put("e", new GenericData.EnumSymbol(allTypes.getField("e").schema(),
      if (big) "RED" else "GREEN"))
    r.put("arr", (if (big) Seq(w, null, w + "2") else Seq(w)).asJava)
    r.put("m", (if (big) Map("a" -> 1L, w -> 2L, "c" -> 3L) else Map("a" -> 4L))
      .map { case (k, v) => k -> java.lang.Long.valueOf(v) }.asJava)
    r.put("opt", if (nulls) null else 0.5)
    r.put("optStr", if (nulls) null else w + "-opt")
    r.put("inner", inner)
    r.put("optInner", if (nulls) null else inner)
    r
  }

  /** Avro's own writer: schemaless binary, or object-container framing. */
  private def avroBytes(schema: AvroSchema, recs: Seq[GenericRecord],
                        container: Boolean = false): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val writer = new GenericDatumWriter[GenericRecord](schema)
    if (container) {
      val w = new DataFileWriter[GenericRecord](writer)
      w.create(schema, out); recs.foreach(w.append); w.close()
    } else {
      val enc = EncoderFactory.get().directBinaryEncoder(out, null)
      recs.foreach(writer.write(_, enc)); enc.flush()
    }
    out.toByteArray
  }

  /** Native and UDF decode of each payload, in one partition so the
    * native decoder reuses its datum across them, must agree.
    */
  private def assertAvroParity(serde: AvroSerde, payloads: Seq[Array[Byte]]): Unit = {
    val df = payloads.toDF("raw").coalesce(1)
    val native = df.select(serde.deserialize(col("raw")).as("v")).collect().toSeq
    val udf = df.select(serde.deserializeUdf(col("raw")).as("v")).collect().toSeq
    assert(native == udf, s"native $native vs udf $udf")
  }

  test("AvroSerde: compiled converters == UDF reference on every supported type") {
    val recs = Seq(allRecord(big = true, nulls = false), allRecord(big = false, nulls = false),
      allRecord(big = false, nulls = true), allRecord(big = true, nulls = true))
    val wires = recs.map(r => avroBytes(allTypes, Seq(r)))
    assertAvroParity(AvroSerde(allTypesJson), wires :+ wires.head.take(7))
    val prefix = Array[Byte](0, 0, 0, 0, 7)
    assertAvroParity(AvroSerde(allTypesJson, seekOffset = 5),
      wires.map(prefix ++ _) :+ prefix.take(3))
    val containers = recs.map(r => avroBytes(allTypes, Seq(r), container = true))
    assertAvroParity(AvroSerde(allTypesJson, includeSchema = true), containers)
    assertAvroParity(AvroSerde(allTypesJson, includeSchema = true, seekOffset = 5),
      containers.map(prefix ++ _))
    val first = firstRow(Seq(Tuple1(wires.head)).toDF("raw")
      .select(AvroSerde(allTypesJson).deserialize(col("raw")).as("v"))).getAs[Row]("v")
    assert(first.getAs[String]("e") == "RED")
    assert(first.getAs[Array[Byte]]("fx").toSeq == Seq(1, 2, 3, 4))
  }

  test("AvroWireDecoder: a reused Utf8 buffer never aliases an earlier row's string") {
    val decoder = new AvroWireDecoder(allTypesJson, includeSchema = false, seekOffset = 0)
    val rows = Seq(allRecord(big = true, nulls = false), allRecord(big = false, nulls = false))
      .map(r => decoder.decode(avroBytes(allTypes, Seq(r))))
    assert(rows.head.getUTF8String(0).toString == "x" * 300)
    assert(rows(1).getUTF8String(0).toString == "y")
    assert(rows.head.getStruct(13, 2).getArray(1).getUTF8String(0).toString == "x" * 300 + "-tag")
    assert(rows.head.getMap(10).keyArray().numElements() == 3)
    // what a reading decoder does to the datum's Utf8 for a shorter
    // string: same buffer, new length, new bytes in front
    val schema = new AvroSchema.Parser().parse(
      """{"type":"record","name":"S","fields":[{"name":"s","type":"string"}]}""")
    val datum = new GenericData.Record(schema)
    val utf8 = new org.apache.avro.util.Utf8("x" * 30)
    datum.put("s", utf8)
    val row = AvroWireDecoder.converter(schema)(datum)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    utf8.setByteLength(1)
    utf8.getBytes()(0) = 'y'.toByte
    assert(row.getUTF8String(0).toString == "x" * 30)
  }

  test("AvroSerde: string bytes that are not UTF-8 decode as the UDF decodes them") {
    val schema = """{"type":"record","name":"S","fields":[{"name":"s","type":"string"}]}"""
    val serde = AvroSerde(schema)
    val wire = Array[Byte](0x04, 0xff.toByte, 0xfe.toByte) // length 2, invalid bytes
    val df = Seq(Tuple1(wire)).toDF("raw")
    def bytesOf(v: org.apache.spark.sql.Column) =
      firstRow(df.select(v.getField("s").cast("binary"))).getAs[Array[Byte]](0).toSeq
    val replaced = "\uFFFD\uFFFD".getBytes("UTF-8").toSeq
    assert(bytesOf(serde.deserializeUdf(col("raw"))) == replaced)
    assert(bytesOf(serde.deserialize(col("raw"))) == replaced)
  }

  test("Avro plan strings name the schema by record name and hash, SQL keeps the call") {
    val serde = AvroSerde(allTypesJson)
    val df = spark.range(1).select(when(col("id") >= 0, lit(Array[Byte](0))).as("raw"))
      .select(serde.deserialize(col("raw")).as("v"))
      .select(serde.serialize(col("v")).as("w"))
    val plan = df.queryExecution.executedPlan.toString
    val label = AvroWireDecoder.label(allTypesJson)
    assert(label.startsWith("graft.test.All#") && label.length == "graft.test.All#".length + 8)
    assert(plan.contains("avro_decode(") && plan.contains("avro_encode(") &&
      plan.contains(label), plan)
    assert(!plan.contains("symbols"), s"schema JSON printed in the plan:\n$plan")
    // an unaliased column is named by the expression's SQL
    val named = spark.range(1).select(lit(Array[Byte](0)).as("raw"))
      .select(serde.deserialize(col("raw")))
    assert(named.columns.toSeq == Seq("avro_decode(raw)"))
  }

  test("AvroSerde encode plans natively: no UDF, inside WholeStageCodegen") {
    val serde = AvroSerde(avroSchema)
    // data-dependent payload so the optimizer can't constant-fold it away
    val df = spark.range(2)
      .select(serde.serialize(struct(
        concat(lit("k"), col("id").cast("string")).as("key"),
        lit("v").as("value"))).as("b"))
      .select(length(col("b")).as("n"))
    val plan = df.queryExecution.executedPlan
    val s = plan.toString
    assert(!s.contains("ScalaUDF"), s"encode stage must not dispatch a UDF:\n$s")
    assert(s.contains("avro_encode"), s"native expression missing:\n$s")
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.exists(_.collect { case n if n.toString.contains("avro_encode") => n }.nonEmpty),
      s"avro_encode must fuse into codegen:\n$plan")
    // "k0"/"v": 1-byte len + 2 + 1-byte len + 1 = 5
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(5, 5))
  }

  test("AvroSerde decode plans natively: no UDF, inside WholeStageCodegen") {
    val serde = AvroSerde(avroSchema)
    // data-DEPENDENT payload (a pure literal would be constant-folded:
    // the optimizer evaluates avro_decode at plan time — itself a proof
    // the expression works interpreted — and hides it from the plan)
    val df = spark.range(2)
      .select(when(col("id") >= 0, lit(avroGolden)).as("raw"))
      .select(serde.deserialize(col("raw")).as("v"))
      .select(col("v.key").as("key"))
    val plan = df.queryExecution.executedPlan
    val s = plan.toString
    assert(!s.contains("ScalaUDF") && !s.contains("BatchEvalPython"),
      s"decode stage must not dispatch a UDF:\n$s")
    assert(s.contains("avro_decode"), s"native expression missing:\n$s")
    val wscg = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(wscg.exists(_.collect {
      case n if n.toString.contains("avro_decode") => n
    }.nonEmpty), s"avro_decode must fuse into codegen:\n$plan")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("unit_test_key", "unit_test_key"))
  }

  private val pbFields = Seq(
    PbField(1, "key", PbType.PbString), PbField(2, "value", PbType.PbString))
  private val pbGolden: Array[Byte] =
    Array[Byte](0x0a, 0x0d) ++ "unit_test_key".getBytes("UTF-8") ++
      Array[Byte](0x12, 0x0f) ++ "unit_test_value".getBytes("UTF-8")

  test("ProtobufSerde golden bytes (proto3 wire format)") {
    val serde = ProtobufSerde(pbFields)
    val df = Seq(Tuple1(pbGolden)).toDF("raw")
    val decoded = firstRow(df.select(serde.deserialize(col("raw")).as("v")))
      .getAs[Row]("v")
    assert(decoded.getAs[String]("key") == "unit_test_key")
    assert(decoded.getAs[String]("value") == "unit_test_value")
    val wire = firstRow(df.select(
      serde.serialize(serde.deserialize(col("raw"))).as("b")))
      .getAs[Array[Byte]]("b")
    assert(wire.toSeq == pbGolden.toSeq, "byte-exact round trip")
  }

  test("Protobuf plan strings name the message by field count and hash, not every field") {
    val serde = ProtobufSerde(pbFields)
    val df = spark.range(1).select(when(col("id") >= 0, lit(pbGolden)).as("raw"))
      .select(serde.deserialize(col("raw")).as("v"))
      .select(col("v.key").as("key"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pb_decode(") && plan.contains("2 fields#"), plan)
    assert(!plan.contains("PbField("), s"field descriptors printed in the plan:\n$plan")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("unit_test_key"))
  }

  test("ProtobufSerde: varints, unknown fields, proto3 defaults") {
    val fields = Seq(
      PbField(1, "n", PbType.PbInt64),
      PbField(3, "flag", PbType.PbBool))
    val serde = ProtobufSerde(fields)
    // n=300 (varint 0xAC 0x02), unknown field 2 (string "xx"), flag absent
    val wire = Array[Byte](0x08, 0xac.toByte, 0x02, 0x12, 0x02, 'x', 'x')
    val df = Seq(Tuple1(wire)).toDF("raw")
    val decoded = firstRow(df.select(serde.deserialize(col("raw")).as("v")))
      .getAs[Row]("v")
    assert(decoded.getAs[Long]("n") == 300L)
    assert(!decoded.getAs[Boolean]("flag")) // proto3 default
  }

  test("ProtobufSerde: native expression == UDF reference codec; codegen plan") {
    val richFields = Seq(
      PbField(1, "key", PbType.PbString),
      PbField(2, "n", PbType.PbInt64),
      PbField(3, "sub", PbType.PbMessage(Seq(
        PbField(1, "d", PbType.PbDouble), PbField(2, "b", PbType.PbBytes)))),
      PbField(4, "ids", PbType.PbInt32, repeated = true),
      PbField(5, "f", PbType.PbFloat))
    val serde = ProtobufSerde(richFields)
    // build wire bytes through the (independently golden-tested) encoder
    val wire = firstRow(Seq(Tuple1("x")).toDF("ignore").select(
      serde.serialize(struct(
        lit("k1").as("key"), lit(300L).as("n"),
        struct(lit(2.5d).as("d"), lit(Array[Byte](9, 8)).as("b")).as("sub"),
        array(lit(1), lit(2), lit(300)).as("ids"),
        lit(1.5f).as("f"))).as("w"))).getAs[Array[Byte]]("w")
    val cases = Seq(
      wire,
      pbGolden,
      Array[Byte](0x08, 0x01), // wrong wire layout for field 1 -> null (DLQ)
      Array[Byte](0x0a, 0x05), // truncated length-delimited -> null, NOT
                               // zero-padded garbage (bounds-checked reads)
      pbGolden.take(5),        // mid-string truncation -> null
      Array.emptyByteArray)    // empty message -> all proto3 defaults
    cases.foreach { bytes =>
      val df = Seq(Tuple1(bytes)).toDF("raw")
      val native = firstRow(df.select(serde.deserialize(col("raw")).as("v")))
      val udf = firstRow(df.select(serde.deserializeUdf(col("raw")).as("v")))
      assert(native == udf, s"native $native vs udf $udf on ${bytes.toSeq}")
    }
    // the truncation contract itself (not just parity): both -> SQL NULL
    val trunc = Seq(Tuple1(pbGolden.take(5))).toDF("raw")
    assert(firstRow(trunc.select(serde.deserialize(col("raw")).as("v"))).isNullAt(0))
    assert(firstRow(trunc.select(serde.deserializeUdf(col("raw")).as("v"))).isNullAt(0))
    // and the decode stage plans natively, inside WholeStageCodegen
    // (data-dependent payload — a pure literal would constant-fold)
    val df = spark.range(1)
      .select(when(col("id") >= 0, lit(wire)).as("raw"))
      .select(serde.deserialize(col("raw")).as("v"))
      .select(col("v.key").as("key"), col("v.ids").as("ids"))
    val plan = df.queryExecution.executedPlan
    assert(!plan.toString.contains("ScalaUDF"),
      s"decode stage must not dispatch a UDF:\n$plan")
    assert(plan.toString.contains("pb_decode"), s"native expression missing:\n$plan")
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.exists(_.collect { case n if n.toString.contains("pb_decode") => n }.nonEmpty),
      s"pb_decode must fuse into codegen:\n$plan")
    val got = df.collect()(0)
    assert(got.getString(0) == "k1" &&
      got.getSeq[Int](1) == Seq(1, 2, 300))
  }

  test("VariantSerde: schemaless path extraction, round trip, DLQ on malformed") {
    val df = Seq(
      """{"a": {"b": 7}, "tags": [1, "two", null]}""",
      """not json at all""").toDF("s")
      .select(col("s").cast("binary").as("raw"))
    val (value, failed) = VariantSerde.decodeWithFailure(col("raw"))
    val decoded = df.select(col("raw"), value.as("v"), failed.as("failed"))

    val good = decoded.filter(!col("failed"))
      .select(
        variant_get(col("v"), "$.a.b", "long").as("ab"),
        variant_get(col("v"), "$.tags[1]", "string").as("t1"),
        is_variant_null(variant_get(col("v"), "$.tags[2]", "variant")).as("t2null"),
        try_variant_get(col("v"), "$.nope", "long").as("nope"))
      .collect()
    assert(good.length == 1)
    assert(good(0).getLong(0) == 7L)
    assert(good(0).getString(1) == "two")
    assert(good(0).getBoolean(2))
    assert(good(0).isNullAt(3))

    // Malformed payload trips the default null-on-failure DLQ indicator.
    val bad = decoded.filter(col("failed"))
      .select(col("raw").cast("string")).collect()
    assert(bad.map(_.getString(0)).toSeq == Seq("not json at all"))

    // serialize(deserialize(x)) is valid JSON preserving structure.
    val back = decoded.filter(col("v").isNotNull)
      .select(VariantSerde.serialize(col("v")).cast("string").as("js"))
      .collect()(0).getString(0)
    assert(back.contains("\"b\":7") && back.contains("\"two\""))
  }
}
