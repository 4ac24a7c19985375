package graft.runtime

import graft.dsl.{GraftApp, RoutedBatch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Kafka client configuration surface (reference `Kaflow.__init__`,
  * kaflow `applications.py:54-186`) mapped onto Spark's Kafka source/sink
  * options.
  *
  * Mapping notes (SURVEY.md §2 A25-A27):
  *  - `auto_offset_reset` → `startingOffsets` (latest/earliest);
  *  - group management, heartbeats, assignors, auto-commit are subsumed by
  *    Spark's checkpoint-based offset tracking — at-least-once, strictly
  *    stronger than the reference's auto-commit at-most-once window;
  *  - every other Kafka client property — security (`kafka.security.protocol`,
  *    `kafka.sasl.*`, `kafka.ssl.*`), fetch sizes, acks, idempotence,
  *    transactional ids, … — goes in `extra` under its `kafka.`-prefixed
  *    name and passes through verbatim to both the source and the sink;
  *  - backpressure: `maxOffsetsPerTrigger` (the reference's implicit
  *    head-of-line blocking has no analog — Spark pulls bounded batches).
  */
final case class KafkaConfig(
    bootstrapServers: String,
    startingOffsets: String = "latest", // "earliest" | "latest" | json offsets
    includeHeaders: Boolean = true,
    maxOffsetsPerTrigger: Option[Long] = None,
    minPartitions: Option[Int] = None,
    failOnDataLoss: Boolean = true,
    extra: Map[String, String] = Map.empty) {

  /** Options for `spark.readStream.format("kafka")`. */
  def sourceOptions(topics: Seq[String]): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topics.mkString(","),
      "startingOffsets" -> startingOffsets,
      "includeHeaders" -> includeHeaders.toString,
      "failOnDataLoss" -> failOnDataLoss.toString) ++
      maxOffsetsPerTrigger.map("maxOffsetsPerTrigger" -> _.toString) ++
      minPartitions.map("minPartitions" -> _.toString) ++ extra

  /** Options for the Kafka sink. */
  def sinkOptions: Map[String, String] =
    Map("kafka.bootstrap.servers" -> bootstrapServers) ++ extra
}

/** Streaming assembly: Kafka source → GraftApp routing → Kafka sink.
  *
  * `run` is a source/sink shell around [[runWith]], the one
  * consume → decode → handle → publish loop. Spark's Kafka connector is
  * not a build dependency, so `.load()` and the sink write run only where
  * the connector jar and a broker are deployed; `runWith` itself runs
  * broker-free over any streaming source of Kafka-shaped records with a
  * capturing writer (StreamingSpec).
  */
object KafkaIO {

  /** The Kafka sink's `headers` type (and the source's, before
    * [[normalizeHeaders]]), nullable throughout: the sink's writer checks
    * it by type equality, and `map_entries` alone yields non-null entries.
    */
  private val HeadersType = DataType.fromDDL("array<struct<key:string,value:binary>>")

  /** Normalize the Kafka source's `headers array<struct<key,value>>` to the
    * engine's `map<string,binary>` record shape. Kafka lets a header key
    * repeat; the last occurrence wins, as in a dict built from the pairs.
    * Only that occurrence reaches `map_from_entries`, so a repeated key
    * cannot fail the batch under any `spark.sql.mapKeyDedupPolicy`.
    */
  def normalizeHeaders(df: DataFrame): DataFrame =
    if (df.columns.contains("headers")) {
      val h = col("headers")
      val lastOfKey = filter(h, (e, i) =>
        !exists(slice(h, i + 2, size(h) - i - 1), _.getField("key") === e.getField("key")))
      df.withColumn("headers", map_from_entries(lastOfKey))
    } else df.withColumn("headers", lit(null).cast("map<string,binary>"))

  /** Build the streaming source for every topic the app consumes. */
  def source(spark: SparkSession, app: GraftApp, conf: KafkaConfig): DataFrame = {
    val reader = spark.readStream.format("kafka")
    conf.sourceOptions(app.topics).foreach { case (k, v) => reader.option(k, v) }
    normalizeHeaders(reader.load())
      .withColumn("timestamp", unix_millis(col("timestamp")))
  }

  /** One micro-batch's publish rows in the Kafka sink's shape
    * (`topic, key, value, headers`): the routed outputs, plus — when
    * `dlqTopic` is set — each DLQ record's raw key/value on that topic with
    * null headers. `headers` goes back from the engine's map to the sink's
    * array of (key, value) entries, the inverse of [[normalizeHeaders]].
    */
  def sinkRows(routed: RoutedBatch, dlqTopic: Option[String]): DataFrame = {
    val outputs = routed.outputs.select(col("topic"), col("key"), col("value"),
      map_entries(col("headers")).cast(HeadersType).as("headers"))
    dlqTopic.fold(outputs) { t =>
      outputs.unionByName(routed.dlq.select(lit(t).as("topic"),
        col("key_raw").as("key"), col("value_raw").as("value"),
        lit(null).cast(HeadersType).as("headers")))
    }
  }

  /** The routing loop: `write` publishes each micro-batch of `records`
    * (KafkaRecordIn schema) as `sinkRows(app.processBatch(batch))` — one
    * write, so one job, per micro-batch, with the outputs and the DLQ rows
    * committed together. Checkpointing gives at-least-once end-to-end.
    * [[sinkRows]] is built once over the app's template, and again only
    * when the template is, so a micro-batch costs one bind.
    */
  def runWith(records: DataFrame, app: GraftApp, checkpointLocation: String,
              dlqTopic: Option[String], trigger: Trigger)(
              write: DataFrame => Unit): StreamingQuery = {
    var sink: Option[(RoutedBatch, DataFrame)] = None
    records.writeStream
      .option("checkpointLocation", checkpointLocation)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val routed = app.template(batch)
        val rows = sink.filter(_._1 eq routed).getOrElse {
          sink = Some(routed -> sinkRows(routed, dlqTopic))
          sink.get
        }._2
        write(app.bind(rows, batch))
      }
      .start()
  }

  /** Run the app as one streaming query from the Kafka source to the
    * Kafka sink, DLQ rows to `dlqTopic` when set.
    */
  def run(spark: SparkSession, app: GraftApp, conf: KafkaConfig,
          checkpointLocation: String, dlqTopic: Option[String] = None,
          trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    runWith(source(spark, app, conf), app, checkpointLocation, dlqTopic,
      trigger)(writeToKafka(_, conf))

  /** Batch write of (topic, key, value[, headers]) rows to the Kafka sink. */
  def writeToKafka(df: DataFrame, conf: KafkaConfig): Unit = {
    val writer = df.write.format("kafka")
    conf.sinkOptions.foreach { case (k, v) => writer.option(k, v) }
    writer.save()
  }
}
