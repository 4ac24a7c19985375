package graft.dsl

import graft.SparkSpec
import graft.functions.expressions.{AvroDecode, PbDecode}
import graft.model.KafkaRecordIn
import graft.runtime.KafkaIO
import graft.serde.{AvroSerde, JsonSerde, PbField, PbType, ProtobufSerde, Serde, StringSerde}
import graft.testkit.TestHarness
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs}
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, SparkPlanner}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

/** End-to-end pipeline tests over the testkit — the reference TestClient
  * scenarios (FIXTURES.md §3-4): metadata injection, header extraction,
  * filter-by-drop, fan-out, DLQ routing.
  */
class GraftAppSpec extends SparkSpec {

  private val clickSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("url", StringType),
    StructField("timestamp", LongType)))

  private def record(value: String, topic: String = "user_clicks",
                     offset: Long = 1L,
                     headers: Map[String, Array[Byte]] = null): KafkaRecordIn =
    KafkaRecordIn(topic = topic, partition = 2, offset = offset,
      timestamp = 1700000000123L, key = "k1".getBytes,
      value = if (value == null) null else value.getBytes, headers = headers)

  private def app: GraftApp = new GraftApp().consume(ConsumerSpec(
    topic = "user_clicks",
    sinkTopics = Seq("user_clicks_json", "user_clicks_audit"),
    valueSerde = JsonSerde(clickSchema),
    headerSerdes = Map("x-correlation-id" -> StringSerde),
    outValueSerde = Some(StringSerde),
    handler = df => df
      .filter(col("value.user_id") % 2 === 0) // drop = publish nothing (A15)
      .select(concat(lit("user="), col("value.user_id"),
        lit(" off="), col("offset"),
        lit(" part="), col("partition"),
        lit(" corr="), coalesce(col("header_x-correlation-id"), lit("none")))
        .as("value"))))

  test("full pipeline: deserialize, metadata injection, headers, fan-out") {
    val result = new TestHarness(spark).publish(app, Seq(
      record("""{"user_id": 2, "url": "http://x", "timestamp": 1}""",
        headers = Map("x-correlation-id" -> "abc".getBytes))))
    assert(result.dlq.isEmpty)
    // fan-out: 1 record × 2 sink topics (A16)
    assert(result.outputs.length == 2)
    val byTopic = result.outputs.map(r => r.getAs[String]("topic") ->
      new String(r.getAs[Array[Byte]]("value"), "UTF-8")).toMap
    assert(byTopic.keySet == Set("user_clicks_json", "user_clicks_audit"))
    assert(byTopic("user_clicks_json") == "user=2 off=1 part=2 corr=abc")
  }

  test("handler filter drops records (1 → 0-or-1 semantics)") {
    val result = new TestHarness(spark).publish(app, Seq(
      record("""{"user_id": 3, "url": "http://x", "timestamp": 1}""")))
    assert(result.outputs.isEmpty)
    assert(result.dlq.isEmpty)
  }

  test("malformed value routes to DLQ with raw bytes (A20)") {
    val result = new TestHarness(spark).publish(app, Seq(
      record("{not json", offset = 42L)))
    assert(result.outputs.isEmpty)
    assert(result.dlq.length == 1)
    val row = result.dlq.head
    assert(row.getAs[Long]("offset") == 42L)
    assert(new String(row.getAs[Array[Byte]]("value_raw"), "UTF-8") == "{not json")
    assert(row.getAs[String]("error") == "deserialization_error")
  }

  test("missing header deserializes to null, record not dropped") {
    val result = new TestHarness(spark).publish(app, Seq(
      record("""{"user_id": 4, "url": "u", "timestamp": 1}""")))
    assert(result.outputs.length == 2)
    assert(new String(result.outputs.head.getAs[Array[Byte]]("value"), "UTF-8")
      .endsWith("corr=none"))
  }

  test("duplicate topic registration fails fast (deviation from reference)") {
    val a = new GraftApp().consume(ConsumerSpec("t", Nil))
    intercept[IllegalArgumentException](a.consume(ConsumerSpec("t", Nil)))
  }

  test("records for unregistered topics are ignored") {
    val result = new TestHarness(spark).publish(app, Seq(
      record("""{"user_id": 2, "url": "u", "timestamp": 1}""", topic = "other")))
    assert(result.outputs.isEmpty && result.dlq.isEmpty)
  }

  // ---- one decode per record per write (kaflow decodes each record once)

  private val orderFields = Seq(
    PbField(1, "id", PbType.PbInt64), PbField(2, "event", PbType.PbString))
  private val orderAvro =
    """{"type":"record","name":"Order","fields":[
      |{"name":"id","type":"long"},{"name":"event","type":"string"}]}""".stripMargin
  private val orderJson = StructType(Seq(
    StructField("id", LongType), StructField("event", StringType)))

  /** (topic, value serde, a payload that serde cannot decode). */
  private val wireTopics: Seq[(String, Serde, Array[Byte])] = Seq(
    ("orders-pb", ProtobufSerde(orderFields), Array[Byte](0x0f)), // wire type 7
    ("orders-avro", AvroSerde(orderAvro), Array[Byte](0x02)),     // cut short
    ("orders-json", JsonSerde(orderJson), "{not json".getBytes))

  /** Rows per topic in [[wireRecords]]; every tenth is malformed. */
  private val perTopic = 40

  /** Kafka-shaped records for every wire topic, as the `LogicalRDD` a
    * `foreachBatch` micro-batch is (a local relation would be folded by
    * the optimiser, decoders and all).
    */
  private lazy val wireRecords: DataFrame = {
    val base = spark.range(perTopic).select(col("id"),
      concat(lit("event-"), col("id").cast("string")).as("event"))
    val rows = wireTopics.map { case (topic, serde, bad) =>
      base.select(lit(topic).as("topic"), lit(0).as("partition"), col("id").as("offset"),
        lit(0L).as("timestamp"), lit(0).as("timestampType"),
        col("event").cast("binary").as("key"),
        when(col("id") % 10 === 0, lit(bad))
          .otherwise(serde.serialize(struct(col("id"), col("event")))).as("value"),
        lit(null).cast("map<string,binary>").as("headers"))
    }.reduce(_ union _).collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType.fromDDL(KafkaRecordIn.schemaDdl))
  }

  /** Every wire topic through a filtering, projecting handler to two sinks. */
  private def wireApp(serde: Serde => Serde = identity): GraftApp =
    wireTopics.foldLeft(new GraftApp()) { case (app, (topic, s, _)) =>
      app.consume(ConsumerSpec(topic, Seq("audit", "analytics"), serde(s), Some(StringSerde),
        outValueSerde = Some(StringSerde),
        handler = _.filter(col("value.id") % 3 =!= 1).withColumn("value", col("value.event"))))
    }

  private val decoders: Seq[(String, Expression => Boolean)] = Seq(
    "pb_decode" -> (_.isInstanceOf[PbDecode]),
    "avro_decode" -> (_.isInstanceOf[AvroDecode]),
    "from_json" -> (_.isInstanceOf[JsonToStructs]))

  private def executed(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** Per decoder: the operators holding it, by node name, and how often it
    * occurs in them.
    */
  private def decoderSites(plan: SparkPlan): Map[String, (Seq[String], Int)] =
    decoders.map { case (name, isDecoder) =>
      val holders = plan.collect {
        case n if n.expressions.exists(_.exists(isDecoder)) => n
      }
      name -> (holders.map(_.nodeName),
        holders.map(_.expressions.map(_.collect { case e if isDecoder(e) => e }.size).sum).sum)
    }.toMap

  test("each value decoder sits in exactly one ProjectExec per branch, in no FilterExec") {
    val routed = wireApp().processBatch(wireRecords)
    val writes = Seq(
      ("outputs", routed.outputs, 1),
      ("dlq", routed.dlq, 1),
      ("sinkRows", KafkaIO.sinkRows(routed, Some("dlq")), 2))
    for ((write, df, branches) <- writes) {
      val plan = executed(df)
      assert(plan.collect { case f: FilterExec => f }.nonEmpty, s"$write: no filter at all?\n$plan")
      decoderSites(plan).foreach { case (decoder, (holders, occurrences)) =>
        assert(holders == Seq.fill(branches)("Project") && occurrences == branches,
          s"$write: $decoder in $holders ($occurrences occurrences), expected one " +
            s"ProjectExec per branch ($branches)\n$plan")
      }
    }
    // the routing itself: 4 of every 10 ids are malformed or filtered
    // out per topic, each kept record fans out to two sinks
    val kept = (0 until perTopic).count(i => i % 10 != 0 && i % 3 != 1)
    assert(routed.outputs.count() == 2L * kept * wireTopics.size)
    assert(routed.dlq.count() == perTopic / 10 * wireTopics.size)
  }

  test("each write decodes every record of its topics once") {
    val calls = spark.sparkContext.longAccumulator("decodes")
    val routed = wireApp(GraftAppSpec.Counted(_, calls)).processBatch(wireRecords)
    val n = perTopic.toLong * wireTopics.size
    def decodes(df: DataFrame): Long = {
      calls.reset()
      df.write.format("noop").mode("overwrite").save()
      calls.value
    }
    assert(decodes(routed.outputs) == n)
    assert(decodes(routed.dlq) == n)
    // one write, but each topic's outputs and DLQ branches read the batch
    // apart, so each decodes it once
    assert(decodes(KafkaIO.sinkRows(routed, Some("dlq"))) == 2 * n)
  }

  test("a planner without GraftExtensions' strategies cannot plan the decode barrier") {
    val routed = wireApp().processBatch(wireRecords)
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val bare = new SparkPlanner(classic, classic.experimental)
    val e = intercept[AssertionError](bare.plan(routed.outputs.queryExecution.optimizedPlan).next())
    assert(e.getMessage.contains("No plan for DecodeBarrier"), e.getMessage)
  }
}

object GraftAppSpec {
  /** `inner`, with its decode stage counted: a pass-through UDF on the raw
    * bytes adds one per evaluation of the decode tree.
    */
  final case class Counted(inner: Serde, calls: LongAccumulator) extends Serde {
    def dataType: DataType = inner.dataType
    def deserialize(bytes: Column): Column = inner.deserialize(bytes)
    def serialize(value: Column): Column = inner.serialize(value)
    override def decodeStage(raw: Column): Column = {
      val c = calls
      inner.decodeStage(udf { (b: Array[Byte]) => c.add(1); b }.apply(raw))
    }
    override def fromDecoded(decoded: Column, raw: Column): (Column, Column) =
      inner.fromDecoded(decoded, raw)
  }
}
