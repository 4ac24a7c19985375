package graft.dsl

import graft.SparkSpec
import graft.functions.expressions.{AvroDecode, PbDecode}
import graft.model.KafkaRecordIn
import graft.runtime.KafkaIO
import graft.serde.{AvroSerde, JsonSerde, PbField, PbType, ProtobufSerde, Serde, StringSerde}
import graft.testkit.TestHarness
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs}
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, RDDScanExec, SparkPlan, SparkPlanner}
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

  /** Every wire topic (or `topics`) through a filtering, projecting
    * handler to two sinks.
    */
  private def wireApp(serde: Serde => Serde = identity,
                      topics: Seq[(String, Serde, Array[Byte])] = wireTopics): GraftApp =
    topics.foldLeft(new GraftApp()) { case (app, (topic, s, _)) =>
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

  // ---- one DLQ pass over the batch for every consumer

  test("the DLQ pass routes each consumer's value and key failures, and nothing else") {
    val keySerde = AvroSerde(
      """{"type":"record","name":"OrderKey","fields":[{"name":"id","type":"long"}]}""")
    def consumer(topic: String, value: Serde, key: Option[Serde] = None) =
      ConsumerSpec(topic, Seq("out"), value, key, outValueSerde = Some(StringSerde),
        handler = _.select(col("value.event").as("value")))
    val app = new GraftApp()
      .consume(consumer("orders-pb", ProtobufSerde(orderFields)))
      .consume(consumer("orders-avro", AvroSerde(orderAvro), Some(keySerde)))
      .consume(consumer("orders-json", JsonSerde(orderJson)))
    def encode(serde: Serde, fields: Column*): Array[Byte] =
      spark.range(1).select(serde.serialize(struct(fields: _*))).head().getAs[Array[Byte]](0)
    def encoded(serde: Serde, id: Long): Array[Byte] =
      encode(serde, lit(id).as("id"), lit(s"event-$id").as("event"))
    val (pb, avro, json) = (ProtobufSerde(orderFields), AvroSerde(orderAvro), JsonSerde(orderJson))
    val key = encode(keySerde, lit(7L).as("id"))
    val badKey = Array(0x80.toByte) // a varint cut short
    val badPb = Array[Byte](0x0f)   // wire type 7
    val badAvro = Array[Byte](0x02) // cut short
    // (topic, offset, key, value, routed to the DLQ)
    val records = Seq(
      ("orders-pb", 1L, "k".getBytes, encoded(pb, 1), false),
      ("orders-pb", 2L, "k".getBytes, badPb, true),
      ("orders-pb", 3L, badKey, encoded(pb, 3), false), // no key serde on this topic
      ("orders-avro", 11L, key, encoded(avro, 11), false),
      ("orders-avro", 12L, badKey, encoded(avro, 12), true), // key failure
      ("orders-avro", 13L, key, badAvro, true),              // value failure
      ("orders-avro", 14L, badKey, badAvro, true),           // both, one DLQ row
      ("orders-avro", 15L, null, encoded(avro, 15), false),  // a null key is no failure
      ("orders-json", 21L, null, encoded(json, 21), false),
      ("orders-json", 22L, null, "{not json".getBytes, true), // corrupt document
      ("orders-json", 23L, null, "{}".getBytes, false),       // all-null, not corrupt
      ("orders-json", 24L, null, null, false),
      ("other", 31L, badKey, badPb, false))                   // unregistered: dropped
    val batch = spark.createDataFrame(spark.sparkContext.parallelize(records.map {
      case (topic, offset, k, v, _) => Row(topic, 0, offset, 0L, 0, k, v, null)
    }, 2), StructType.fromDDL(KafkaRecordIn.schemaDdl))
    val routed = app.processBatch(batch)
    def bytes(b: Array[Byte]): Option[Seq[Byte]] = Option(b).map(_.toSeq)
    val dlq = routed.dlq.collect().map(r => (r.getAs[String]("topic"), r.getAs[Int]("partition"),
      r.getAs[Long]("offset"), r.getAs[Long]("timestamp"), bytes(r.getAs[Array[Byte]]("value_raw")),
      bytes(r.getAs[Array[Byte]]("key_raw")), r.getAs[String]("error"))).toSeq.sortBy(_._3)
    val expected = records.collect { case (topic, offset, k, v, true) =>
      (topic, 0, offset, 0L, bytes(v), bytes(k), "deserialization_error")
    }
    assert(dlq == expected)
    val published = routed.outputs.collect()
      .map(r => new String(r.getAs[Array[Byte]]("value"), "UTF-8")).toSeq.sorted
    assert(published == Seq(1, 11, 15, 21, 3).map(i => s"event-$i"))
  }

  test("the bound DLQ plan reads the batch once, for one, two and three consumers") {
    def scans(df: DataFrame): Seq[SparkPlan] = {
      val leaves = executed(df).collectLeaves()
      assert(leaves.forall(_.isInstanceOf[RDDScanExec]), executed(df).toString)
      leaves
    }
    for (n <- 1 to wireTopics.size) {
      val routed = wireApp(topics = wireTopics.take(n)).processBatch(wireRecords)
      assert(scans(routed.dlq).size == 1, s"$n consumers")
      // outputs keep one branch, so one read, per consumer
      assert(scans(routed.outputs).size == n, s"$n consumers")
      assert(scans(KafkaIO.sinkRows(routed, Some("dlq"))).size == n + 1, s"$n consumers")
      assert(routed.dlq.count() == n * perTopic / 10, s"$n consumers")
    }
  }

  // ---- one template per app, session and input schema

  /** `wireApp`, with each record's offset, partition and timestamp (as a
    * string, so in the session's time zone when it is a TIMESTAMP) in its
    * published value, and `calls` counting the handler's calls.
    */
  private def metadataApp(calls: java.util.concurrent.atomic.AtomicInteger =
                            new java.util.concurrent.atomic.AtomicInteger): GraftApp =
    wireTopics.foldLeft(new GraftApp()) { case (app, (topic, s, _)) =>
      app.consume(ConsumerSpec(topic, Seq("audit"), s, Some(StringSerde),
        outValueSerde = Some(StringSerde),
        handler = { df =>
          calls.incrementAndGet()
          df.filter(col("value.id") % 3 =!= 1).withColumn("value", concat_ws(" ",
            col("value.event"), col("offset").cast("string"),
            col("partition").cast("string"), col("timestamp").cast("string")))
        }))
    }

  /** Every published and DLQ row, with bytes and maps made comparable. */
  private def rows(routed: RoutedBatch): (Seq[String], Seq[String]) = {
    def norm(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case m: scala.collection.Map[_, _] => m.map { case (k, x) => norm(k) -> norm(x) }.toMap
      case r: Row => r.toSeq.map(norm)
      case x => x
    }
    def all(df: DataFrame) = df.collect().map(r => norm(r).toString).sorted.toSeq
    (all(routed.outputs), all(routed.dlq))
  }

  /** `records` with its rows in `schema`, as a `foreachBatch` LogicalRDD. */
  private def batchOf(records: DataFrame,
                      session: org.apache.spark.sql.SparkSession = spark): DataFrame =
    session.createDataFrame(records.rdd, records.schema)

  test("one app reused over differing batches routes each as a fresh app does") {
    val reused = metadataApp()
    val stamped = wireRecords.withColumn("timestamp", lit(1700000000123L) + col("offset"))
    val zone = spark.newSession()
    zone.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val asTimestamp = stamped.withColumn("timestamp", timestamp_millis(col("timestamp")))
    val batches = Seq(
      "KafkaRecordIn order" -> batchOf(stamped),
      "empty" -> batchOf(stamped.limit(0)),
      "all malformed" -> batchOf(stamped.filter(col("offset") % 10 === 0)),
      // same columns, another order: shares the template, binds by name
      "Kafka source order" -> batchOf(stamped.select("key", "value", "topic", "partition",
        "offset", "timestamp", "timestampType", "headers")),
      // another schema: a TIMESTAMP timestamp, as the raw Kafka source has
      "TIMESTAMP timestamp" -> batchOf(asTimestamp),
      // another session: the same batch, printed in its own time zone
      "other session" -> batchOf(asTimestamp, zone))
    for ((name, batch) <- batches) {
      val (outputs, dlq) = rows(reused.processBatch(batch))
      val (freshOutputs, freshDlq) = rows(metadataApp().processBatch(batch))
      assert(outputs == freshOutputs, s"$name: outputs differ from a fresh app's")
      assert(dlq == freshDlq, s"$name: DLQ rows differ from a fresh app's")
      val n = batch.count()
      assert(dlq.size == batch.filter(col("offset") % 10 === 0).count(), name)
      assert(outputs.size == batch.filter(col("offset") % 10 =!= 0 && col("offset") % 3 =!= 1)
        .count(), name)
      if (name != "empty") assert(n > 0, name)
    }
    val printed = batches.map { case (_, b) => rows(reused.processBatch(b))._1 }
    assert(printed(4) != printed(5), "the time zone never showed in the published values")
  }

  test("a handler may join its records with themselves") {
    // each kept record with the number of kept records sharing its
    // timestamp, a column the handler reads straight from the batch
    val (topic, serde, _) = wireTopics.head
    val app = new GraftApp().consume(ConsumerSpec(topic, Seq("out"), serde,
      outValueSerde = Some(StringSerde), handler = { df =>
        val kept = df.filter(col("value.id") % 3 =!= 1)
        kept.join(kept.groupBy("timestamp").count(), "timestamp")
          .withColumn("value", concat_ws(" ", col("value.event"), col("count").cast("string")))
      }))
    val keyed = wireRecords.withColumn("timestamp", col("offset") % 4)
    val expected = (0 until perTopic).filter(i => i % 10 != 0 && i % 3 != 1)
      .groupBy(_ % 4).values.flatMap(ids => ids.map(i => s"event-$i ${ids.size}")).toSeq.sorted
    for (batch <- Seq(batchOf(keyed), batchOf(keyed.select(keyed.columns.reverse.map(col): _*)))) {
      val values = app.processBatch(batch).outputs.collect()
        .map(r => new String(r.getAs[Array[Byte]]("value"), "UTF-8")).toSeq.sorted
      assert(values == expected)
    }
  }

  test("the handler runs once per template, not once per batch") {
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val app = metadataApp(calls)
    val outputs = (1 to 4).map { i =>
      app.processBatch(batchOf(wireRecords.filter(col("offset") < i * 10))).outputs.count()
    }
    assert(calls.get == wireTopics.size, s"${calls.get} handler calls")
    val kept = (1 to 4).map(i => (0 until i * 10).count(j => j % 10 != 0 && j % 3 != 1))
    assert(outputs == kept.map(_.toLong * wireTopics.size))
  }

  test("a new session gets its own template") {
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val app = metadataApp(calls)
    val other = spark.newSession()
    app.processBatch(wireRecords)
    val routed = app.processBatch(batchOf(wireRecords, other))
    assert(calls.get == 2 * wireTopics.size)
    assert((routed.outputs.sparkSession eq other) && (routed.dlq.sparkSession eq other))
    app.processBatch(batchOf(wireRecords, other))
    assert(calls.get == 2 * wireTopics.size)
  }

  test("consume after processBatch routes the new topic on the next call") {
    val (topic, serde, _) = wireTopics.head
    val app = new GraftApp().consume(ConsumerSpec(topic, Seq("out"), serde))
    def topics(routed: RoutedBatch) =
      routed.dlq.select("topic").distinct().collect().map(_.getString(0)).toSet
    assert(topics(app.processBatch(wireRecords)) == Set(topic))
    val (next, nextSerde, _) = wireTopics(1)
    app.consume(ConsumerSpec(next, Seq("out"), nextSerde))
    val routed = app.processBatch(wireRecords)
    assert(topics(routed) == Set(topic, next))
    assert(routed.outputs.count() == 2L * (perTopic - perTopic / 10))
  }

  test("no planner strategy plans a template that was never bound") {
    val template = wireApp().template(wireRecords)
    for (frame <- Seq(template.outputs, template.dlq)) {
      val plan = frame.queryExecution.analyzed
      assert(plan.exists(_.isInstanceOf[graft.plans.BatchPlaceholder]), plan.toString)
      val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val e = intercept[AssertionError](classic.sessionState.planner.plan(plan).next())
      assert(e.getMessage.contains("No plan for BatchPlaceholder"), e.getMessage)
      // so an action on the template fails too, and never reads as empty
      val run = intercept[Throwable](frame.collect())
      assert(Iterator.iterate(run)(_.getCause).takeWhile(_ != null)
        .exists(_.toString.contains("No plan for BatchPlaceholder")), run.toString)
    }
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
