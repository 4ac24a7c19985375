package graft.runtime

import graft.SparkSpec

/** Static tests for the Kafka surface. The connector jar is not a build
  * dependency, so `.load()` and the sink write are integration-only; the
  * option assembly (the part mirroring the reference's ~60-knob
  * `Kaflow.__init__` surface) and the sink row shape are verified here,
  * the streaming loop itself in StreamingSpec.
  */
class KafkaIOSpec extends SparkSpec {

  test("source options: subscribe list, offsets, headers, backpressure") {
    val conf = KafkaConfig(
      bootstrapServers = "broker1:9092,broker2:9092",
      startingOffsets = "earliest",
      maxOffsetsPerTrigger = Some(100000L),
      minPartitions = Some(64))
    val opts = conf.sourceOptions(Seq("t1", "t2"))
    assert(opts("kafka.bootstrap.servers") == "broker1:9092,broker2:9092")
    assert(opts("subscribe") == "t1,t2")
    assert(opts("startingOffsets") == "earliest")
    assert(opts("includeHeaders") == "true")
    assert(opts("maxOffsetsPerTrigger") == "100000")
    assert(opts("minPartitions") == "64")
  }

  test("normalizeHeaders converts the source's array<struct> to map<string,binary>") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(Tuple1(Seq(("h1", "v1".getBytes), ("h2", "v2".getBytes))))
      .toDF("headers")
      .select(transform(col("headers"),
        e => struct(e.getField("_1").as("key"), e.getField("_2").as("value"))).as("headers"))
    val out = KafkaIO.normalizeHeaders(df).collect()(0)
      .getAs[Map[String, Array[Byte]]]("headers")
    assert(new String(out("h1"), "UTF-8") == "v1")
    assert(new String(out("h2"), "UTF-8") == "v2")
    // absent headers column → null map column of the right type
    val no = KafkaIO.normalizeHeaders(Seq(1).toDF("x"))
    assert(no.schema("headers").dataType.simpleString == "map<string,binary>")
  }

  test("lifespan bracket and query lifecycle listener fire hooks (A22)") {
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val r = graft.runtime.Lifecycle.withLifespan(
      () => events += "up", () => events += "down") { events += "body"; 42 }
    assert(r == 42 && events.toSeq == Seq("up", "body", "down"))
  }

  test("IdempotentSink runs a batch write exactly once across replays") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    var writes = 0
    assert(IdempotentSink.writeOnce(dir, 7L) { writes += 1 })
    assert(!IdempotentSink.writeOnce(dir, 7L) { writes += 1 }) // replay: skipped
    assert(IdempotentSink.writeOnce(dir, 8L) { writes += 1 })
    assert(writes == 2)
  }

  test("IdempotentSink markers resolve through Hadoop FileSystem URIs") {
    // file:-scheme URI exercises the FileSystem path (the same resolution an
    // hdfs:// or s3a:// checkpoint-colocated markerDir would take).
    val dir = "file:" +
      java.nio.file.Files.createTempDirectory("graft_sink_fs").toString
    var writes = 0
    val conf = spark.sparkContext.hadoopConfiguration
    assert(IdempotentSink.writeOnce(dir, 1L, conf) { writes += 1 })
    assert(!IdempotentSink.writeOnce(dir, 1L, conf) { writes += 1 })
    assert(writes == 1)
  }

  test("security + passthrough options map to kafka.-prefixed keys") {
    val security = Map(
      "kafka.security.protocol" -> "SASL_SSL",
      "kafka.sasl.mechanism" -> "SCRAM-SHA-256",
      "kafka.sasl.jaas.config" ->
        "org.apache.kafka.common.security.scram.ScramLoginModule required;",
      "kafka.ssl.truststore.location" -> "/etc/kafka/truststore.jks",
      "kafka.ssl.keystore.location" -> "/etc/kafka/keystore.jks")
    val conf = KafkaConfig(
      bootstrapServers = "b:9092",
      extra = security ++ Map("kafka.compression.type" -> "zstd",
        "kafka.isolation.level" -> "read_committed"))
    val source = conf.sourceOptions(Seq("t"))
    for ((k, v) <- security) {
      assert(source(k) == v, k)
      assert(conf.sinkOptions(k) == v, k)
    }
    assert(source("kafka.compression.type") == "zstd")
    assert(source("kafka.isolation.level") == "read_committed")
    assert(conf.sinkOptions("kafka.bootstrap.servers") == "b:9092")
    assert(!conf.sinkOptions.contains("subscribe"))
  }

  test("sinkRows: outputs plus optional DLQ rows in the Kafka sink's row shape") {
    import graft.dsl.{ConsumerSpec, GraftApp}
    import graft.model.KafkaRecordIn
    import graft.serde.{JsonSerde, StringSerde}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val app = new GraftApp().consume(ConsumerSpec(
      topic = "in", sinkTopics = Seq("out"),
      valueSerde = JsonSerde(StructType(Seq(StructField("n", LongType)))),
      outValueSerde = Some(StringSerde),
      handler = df => df.select(col("value.n").cast("string").as("value"),
        map(lit("src"), col("value_raw"), lit("n"),
          col("value.n").cast("string").cast("binary")).as("out_headers"))))
    val routed = app.processBatch(Seq(
      KafkaRecordIn(topic = "in", key = "k1".getBytes, value = """{"n": 1}""".getBytes),
      KafkaRecordIn(topic = "in", key = "k2".getBytes, value = "oops".getBytes)).toDF())
    val headersType = DataType.fromDDL("array<struct<key:string,value:binary>>")
    def utf8(b: Array[Byte]): String = new String(b, "UTF-8")

    // No DLQ topic: the outputs only, headers converted entry for entry.
    val outputs = KafkaIO.sinkRows(routed, None)
    assert(outputs.columns.toSeq == Seq("topic", "key", "value", "headers"))
    assert(outputs.schema("headers").dataType == headersType)
    val Array(out) = outputs.collect()
    assert(out.getAs[String]("topic") == "out" && out.isNullAt(1))
    assert(utf8(out.getAs[Array[Byte]]("value")) == "1")
    val entries = out.getSeq[org.apache.spark.sql.Row](3)
      .map(e => e.getString(0) -> utf8(e.getAs[Array[Byte]](1)))
    assert(entries == Seq("src" -> """{"n": 1}""", "n" -> "1"))

    // DLQ topic set: one more row, the raw key/value, null headers.
    val all = KafkaIO.sinkRows(routed, Some("dead"))
    assert(all.schema("headers").dataType == headersType)
    val dlq = all.collect().filter(_.getAs[String]("topic") == "dead")
    assert(dlq.length == 1 && all.count() == 2)
    assert(utf8(dlq(0).getAs[Array[Byte]]("key")) == "k2")
    assert(utf8(dlq(0).getAs[Array[Byte]]("value")) == "oops")
    assert(dlq(0).isNullAt(3))
  }

  test("kafka connector probe: source plan builds when the jar is present") {
    // The image currently ships no spark-sql-kafka connector (last
    // re-verified 2026-08-15, round 8: no kafka jar in /opt/spark/jars,
    // no broker binary on PATH), so the executable half of A1/A17
    // cannot run here. This probe flips on
    // AUTOMATICALLY the round the jar appears: it builds the real
    // readStream plan through KafkaIO.source (exercising option wiring +
    // the DataSource lookup) and only then stops short of needing a
    // broker. Until the jar exists, the probe cancels (reported as
    // canceled, not passed) so coverage claims stay honest.
    val hasConnector = scala.util.Try(
      Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider")
    ).isSuccess
    assume(hasConnector, "spark-sql-kafka connector jar not in /opt/spark/jars")
    import graft.dsl.{ConsumerSpec, GraftApp}
    import graft.serde.StringSerde
    val app = new GraftApp().consume(ConsumerSpec(
      topic = "probe_topic", sinkTopics = Nil, valueSerde = StringSerde))
    val df = KafkaIO.source(spark, app,
      KafkaConfig(bootstrapServers = "localhost:9092"))
    assert(df.isStreaming)
    assert(df.schema.fieldNames.contains("value"))
  }
}
