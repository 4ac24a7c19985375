package graft.dsl

import scala.collection.mutable

import graft.plans.BatchPlaceholder
import graft.serde.{BytesSerde, Serde}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, MapType, StringType, StructField}

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
  * The handler contract: `handler` is a pure plan transform. `GraftApp`
  * applies it once per app, session and input schema, to a template
  * whose input is a placeholder, and binds each micro-batch into the
  * analysed result, as Structured Streaming analyses a native query
  * once and substitutes each batch's relation. So a handler runs no
  * action on its frame (the placeholder cannot be executed), everything
  * it captures is fixed at that first call (a `rand()` seed is the same
  * in every micro-batch, and a static frame it joins is resolved once),
  * and it sees no batch's content.
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

  private var current: Option[GraftApp.Template] = None

  /** Register a consumer; one handler per topic (duplicate → error). */
  def consume(spec: ConsumerSpec): this.type = synchronized {
    require(!specs.contains(spec.topic),
      s"topic '${spec.topic}' already has a registered consumer")
    specs += spec.topic -> spec
    current = None
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
  def produce(sinkTopic: String)(messages: DataFrame): DataFrame =
    messages.select(lit(sinkTopic).as("topic"),
      (if (messages.columns.contains("key")) col("key") else lit(null)).cast(BinaryType).as("key"),
      col("value").cast(BinaryType).as("value"))

  /** Decode one spec's records: value/key/header deserialization + metadata
    * projection (A4-A6, A13). Replaces `value`/`key` with typed columns and
    * adds `value_raw`/`key_raw`, `header_<name>` columns and a
    * `__deser_failed` indicator (A12/A20). Each record is decoded once per
    * write, as kaflow decodes each consumed record once before its
    * handler: one projection evaluates every decoder (the value and key
    * serdes' `decodeStage`, the header serdes' `deserialize`) below a
    * [[graft.plans.DecodeBarrier]], and the typed columns and the
    * indicator are read from the decoded columns above it (`fromDecoded`).
    * The optimiser pushes no filter through the barrier, so the DLQ/ok
    * split, the handler's filters and `processBatch`'s non-null output
    * filter read decoded columns instead of inlining a decoder into a
    * FilterExec; column pruning still passes through it.
    */
  def decoded(spec: ConsumerSpec, records: DataFrame): DataFrame = {
    val (barrier, columns, failed) = decodeOnce(spec, records)
    barrier.select(columns :+ failed.as("__deser_failed"): _*)
  }

  /** The barrier over one spec's decoded records, the columns `decoded`
    * reads above it, and the deserialization-failure indicator.
    */
  private def decodeOnce(spec: ConsumerSpec, records: DataFrame)
      : (DataFrame, Seq[Column], Column) = {
    val stages = GraftApp.stages(spec, "")
    val below = records.filter(col("topic") === spec.topic).select(
      records.columns.toSeq.map(named) ++ Seq(
        col("value").as("value_raw"), col("key").as("key_raw")) ++
        stages.below.map { case (name, decode) => decode.as(name) } ++
        spec.headerSerdes.map { case (name, serde) =>
          serde.deserialize(element_at(col("headers"), name)).as("header_" + name)
        }: _*)
    val typed = Map("value" -> stages.value, "key" -> stages.key)
    val columns = records.columns.toSeq.map(c => typed.get(c).fold(named(c))(_.as(c))) ++
      Seq(col("value_raw"), col("key_raw")) ++
      spec.headerSerdes.keys.map(n => named("header_" + n))
    (barrier(below), columns, stages.failed)
  }

  /** `below` under a [[graft.plans.DecodeBarrier]]. */
  private def barrier(below: DataFrame): DataFrame =
    ColumnBridge.ofRows(below.sparkSession,
      graft.plans.DecodeBarrier(ColumnBridge.logicalPlan(below)))

  /** Every consumer's DLQ records in one pass over `records`: one
    * projection below one barrier evaluates each consumer's value and key
    * decode stages, each only on its own topic's records, and a record is
    * kept when a decode of its own consumer failed. Records of
    * unregistered topics are dropped.
    */
  private def dlq(records: DataFrame): DataFrame = {
    val byTopic = specs.values.toSeq.zipWithIndex.map { case (spec, i) =>
      spec.topic -> GraftApp.stages(spec, "_" + i)
    }
    val below = records.select(Seq(col("topic"), col("partition"), col("offset"),
      col("timestamp"), col("value").as("value_raw"), col("key").as("key_raw")) ++
      byTopic.flatMap { case (topic, stages) =>
        stages.below.map { case (name, decode) => when(col("topic") === topic, decode).as(name) }
      }: _*)
    barrier(below)
      .filter(byTopic.map { case (topic, stages) => col("topic") === topic && stages.failed }
        .reduce(_ || _))
      .select(col("topic"), col("partition"), col("offset"), col("timestamp"),
        col("value_raw"), col("key_raw"), lit("deserialization_error").as("error"))
  }

  /** The column called `name`, dots and dashes included. */
  private def named(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** Route a batch of Kafka-shaped records (KafkaRecordIn schema) through
    * every registered consumer: decode → split DLQ → handler → serialize →
    * fan out to sink topics. Wholly narrow (no shuffle): `outputs` is a
    * union of one filtered, mapped scan per consumer, and `dlq` is one
    * scan for every consumer. The routing is analysed once per
    * session and input schema ([[template]]); each call only binds
    * `records` into it.
    */
  def processBatch(records: DataFrame): RoutedBatch = {
    val t = template(records)
    RoutedBatch(bind(t.outputs, records), bind(t.dlq, records))
  }

  /** The routed frames over a [[graft.plans.BatchPlaceholder]] with the
    * columns of `records`. They are built, and the handlers applied, once
    * per session and set of input columns (by name, in any order), and
    * again after [[consume]] adds a topic. A session's analysis depends
    * on its conf (the time zone, for one), so a template never crosses
    * sessions.
    */
  private[graft] def template(records: DataFrame): RoutedBatch = synchronized {
    val session = records.sparkSession
    val fields = records.schema.fields.toSeq.sortBy(_.name)
    current.filter(t => (t.session eq session) && t.fields == fields).getOrElse {
      val input = BatchPlaceholder(DataTypeUtils.toAttributes(records.schema))
      val t = GraftApp.Template(session, fields, route(ColumnBridge.ofRows(session, input)))
      current = Some(t)
      t
    }.routed
  }

  /** `frame`, built over [[template]]`(records)`, reading `records`. */
  private[graft] def bind(frame: DataFrame, records: DataFrame): DataFrame =
    ColumnBridge.ofRows(records.sparkSession, BatchPlaceholder.bind(
      ColumnBridge.logicalPlan(frame), ColumnBridge.logicalPlan(records)))

  private def route(records: DataFrame): RoutedBatch = {
    require(specs.nonEmpty, "no consumers registered")
    // one outputs branch per consumer: a handler is a plan transform of
    // its own topic's records
    val outputs = specs.values.map { spec =>
      val (barrier, columns, failed) = decodeOnce(spec, records)
      val handled = spec.handler(barrier.filter(!failed).select(columns: _*))
      def orNull(name: String, t: DataType): Column =
        if (handled.columns.contains(name)) col(name) else lit(null).cast(t)
      // Fan-out (A16): one output row per sink topic, single sink write.
      // No sink topics → nothing published (matches the reference).
      val topics =
        if (spec.sinkTopics.isEmpty) lit(null).cast(ArrayType(StringType))
        else array(spec.sinkTopics.map(lit): _*)
      // 1 → 0-or-1 semantics (A15): handlers drop rows via filter; a null
      // value column after the handler also publishes nothing.
      handled.select(
        orNull("key", BinaryType).cast(BinaryType).as("key"),
        spec.outValueSerde.fold(col("value"))(_.serialize(col("value"))).as("value"),
        orNull("out_headers", MapType(StringType, BinaryType)).as("headers"),
        explode(topics).as("topic"))
        .filter(col("value").isNotNull)
    }
    // every branch has the same columns in the same order
    RoutedBatch(outputs = outputs.reduce(_ union _), dlq = dlq(records))
  }
}

object GraftApp {

  /** One consumer's value and key decode stages, as (column name, decode
    * of the raw `value`/`key` column) pairs to evaluate below a decode
    * barrier, and the typed value, typed key and failure indicator its
    * serdes read from those columns above it (`fromDecoded`). `suffix`
    * tells apart the columns of consumers that share a projection.
    */
  private final case class Stages(below: Seq[(String, Column)], value: Column, key: Column,
                                  failed: Column)

  private def stages(spec: ConsumerSpec, suffix: String): Stages = {
    val (valueName, keyName) = ("__value" + suffix, "__key" + suffix)
    val (value, valueFailed) = spec.valueSerde.fromDecoded(col(valueName), col("value_raw"))
    val (key, keyFailed) = spec.keySerde match {
      case Some(s) => s.fromDecoded(col(keyName), col("key_raw"))
      case None => (col("key_raw"), lit(false))
    }
    Stages((valueName -> spec.valueSerde.decodeStage(col("value"))) +:
      spec.keySerde.map(keyName -> _.decodeStage(col("key"))).toSeq,
      value, key, valueFailed || keyFailed)
  }

  /** The routing over a placeholder, for one session and one set of
    * input columns; see [[GraftApp.template]].
    */
  private final case class Template(session: SparkSession, fields: Seq[StructField],
                                    routed: RoutedBatch)
}
