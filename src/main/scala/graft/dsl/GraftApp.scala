package graft.dsl

import scala.collection.mutable

import graft.serde.{BytesSerde, Serde}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative consume pipeline registration — the Spark-native form of the
  * reference's `@app.consume(topic, sink_topics)` decorator surface
  * (kaflow `applications.py:345-374`).
  *
  * A [[ConsumerSpec]] declares: which topic to read, how to deserialize
  * value/key/headers (A4-A6), the record transform (A14), and where outputs
  * fan out (A16). Registration composes lazy DataFrame transformations;
  * execution happens per micro-batch (streaming) or on a batch of
  * Kafka-shaped records (testkit) — the "plan compile" the reference does
  * with one-time signature introspection is Catalyst analysis here.
  *
  * Deliberate deviations from the reference, kept fail-safe
  * (SURVEY.md §7.4):
  *  - duplicate topic registration throws instead of silently overwriting
  *    (`applications.py:276`);
  *  - value/key deserialization failure routes the record to the DLQ frame
  *    (vs. drop-or-raise), header failure does not drop the record —
  *    the sane reading of the reference's header-failure no-op
  *    (`_consumer.py:188`).
  */
final case class ConsumerSpec(
    topic: String,
    sinkTopics: Seq[String],
    valueSerde: Serde = BytesSerde,
    keySerde: Option[Serde] = None,
    headerSerdes: Map[String, Serde] = Map.empty,
    outValueSerde: Option[Serde] = None,
    handler: DataFrame => DataFrame = identity)

/** Result of routing a batch of records through every registered consumer:
  * `outputs` are Kafka-sink-shaped rows (topic, key, value, headers,
  * partition, timestamp); `dlq` carries records that failed value/key
  * deserialization together with the raw original (reference A20 semantics,
  * improved to at-least-once capture).
  */
final case class RoutedBatch(outputs: DataFrame, dlq: DataFrame)

class GraftApp {
  private val specs = mutable.LinkedHashMap.empty[String, ConsumerSpec]

  /** Register a consumer; one handler per topic (duplicate → error). */
  def consume(spec: ConsumerSpec): this.type = {
    require(!specs.contains(spec.topic),
      s"topic '${spec.topic}' already has a registered consumer")
    specs += spec.topic -> spec
    this
  }

  def topics: Seq[String] = specs.keys.toSeq

  def spec(topic: String): ConsumerSpec = specs(topic)

  /** Out-of-band publish (reference `@app.produce` decorator,
    * kaflow `applications.py:376-418`): normalize an arbitrary message
    * frame to Kafka-sink shape for `sinkTopic`. The reference enforces a
    * `Message` return type at runtime; here the shape is enforced at plan
    * time (a missing `value` column fails analysis).
    */
  def produce(sinkTopic: String)(messages: DataFrame): DataFrame = {
    val withKey =
      if (messages.columns.contains("key")) messages
      else messages.withColumn("key", lit(null).cast("binary"))
    withKey
      .withColumn("value", col("value").cast("binary"))
      .withColumn("topic", lit(sinkTopic))
      .select(col("topic"), col("key").cast("binary").as("key"), col("value"))
  }

  /** Decode one spec's records: value/key/header deserialization + metadata
    * projection (A4-A6, A13). Adds `value_raw`/`key_raw`, replaces
    * `value`/`key` with typed columns, adds `header_<name>` columns, and a
    * `__deser_failed` indicator built from the same decode expression as
    * the typed columns (A12/A20). The decode is NOT evaluated once per
    * record: Catalyst pushes the DLQ/ok split's filter on the indicator
    * (and `processBatch`'s non-null output filter) below this projection,
    * inlining the decode into a FilterExec, which has no subexpression
    * elimination, and the projection above it decodes the surviving rows
    * again. For a Protobuf or Avro consumer with a projecting handler (the
    * ingest-wire benchmark app), each outputs branch's plan holds the value
    * decoder twice in its FilterExec and once in its ProjectExec, and each
    * DLQ branch once more in its FilterExec.
    */
  def decoded(spec: ConsumerSpec, records: DataFrame): DataFrame = {
    // decodeWithFailure: value and indicator share one decode expression
    // tree per serde; subexpression elimination merges them only inside
    // one projection (see the scaladoc above for what the planner does).
    val (valueDec, valueFailed) = spec.valueSerde.decodeWithFailure(col("value_raw"))
    val (keyDec, keyFailed) = spec.keySerde match {
      case Some(s) => s.decodeWithFailure(col("key_raw"))
      case None => (col("key_raw"), lit(false))
    }
    val base = records
      .filter(col("topic") === spec.topic)
      .withColumn("value_raw", col("value"))
      .withColumn("key_raw", col("key"))
      .withColumn("value", valueDec)
      .withColumn("key", keyDec)
      .withColumn("__deser_failed", valueFailed || keyFailed)
    spec.headerSerdes.foldLeft(base) { case (df, (name, serde)) =>
      df.withColumn(s"header_$name",
        serde.deserialize(element_at(col("headers"), name)))
    }
  }

  /** Route a batch of Kafka-shaped records (KafkaRecordIn schema) through
    * every registered consumer: decode → split DLQ → handler → serialize →
    * fan out to sink topics. Wholly narrow (no shuffle): the plan is a
    * union of filtered, mapped scans.
    */
  def processBatch(records: DataFrame): RoutedBatch = {
    require(specs.nonEmpty, "no consumers registered")
    val parts = specs.values.map { spec =>
      val dec = decoded(spec, records)
      val failed = dec.filter(col("__deser_failed"))
        .select(col("topic"), col("partition"), col("offset"), col("timestamp"),
          col("value_raw"), col("key_raw"),
          lit("deserialization_error").as("error"))
      val ok = dec.filter(!col("__deser_failed")).drop("__deser_failed")
      val handled = spec.handler(ok)
      // 1 → 0-or-1 semantics (A15): handlers drop rows via filter; a null
      // value column after the handler also publishes nothing.
      val withValue = handled.withColumn("value",
        spec.outValueSerde.map(_.serialize(col("value"))).getOrElse(col("value")))
        .filter(col("value").isNotNull)
      val out = withValue
        .withColumn("key",
          if (withValue.columns.contains("key")) col("key").cast("binary")
          else lit(null).cast("binary"))
        .withColumn("out_headers",
          if (withValue.columns.contains("out_headers")) col("out_headers")
          else lit(null).cast("map<string,binary>"))
        .select(col("key"), col("value"), col("out_headers").as("headers"))
      // Fan-out (A16): one output row per sink topic, single sink write.
      // No sink topics → nothing published (matches the reference).
      val topicsArr =
        if (spec.sinkTopics.isEmpty) lit(null).cast("array<string>")
        else array(spec.sinkTopics.map(lit): _*)
      val fanned = out.withColumn("topic", explode(topicsArr))
      (fanned, failed)
    }.toSeq
    RoutedBatch(
      outputs = parts.map(_._1).reduce(_ unionByName _),
      dlq = parts.map(_._2).reduce(_ unionByName _))
  }
}
