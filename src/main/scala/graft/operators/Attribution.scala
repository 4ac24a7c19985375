package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.runtime.Materialize

/** Multi-touch attribution — the fractional-credit complement of the
  * q219 last-touch readout: a conversion's credit splits across ALL the
  * touches of the journey that led to it, under a declared model
  * (linear or position-based/U-shaped — the standard marketing pair).
  * Last-touch answers "what closed"; multi-touch answers "what
  * participated", which is the number budget allocation actually uses.
  *
  * Journey contract (every rule pinned so the oracle replays it):
  *  - touches and conversions pre-collapse at exact (user, ts)
  *    collisions (max event_id wins for the touch channel, values sum
  *    for conversions — the q219 collision rule), so per-user ts is a
  *    total order;
  *  - each touch credits its NEXT conversion (smallest conversion ts
  *    >= touch ts) — the journey resets at conversion, no touch credits
  *    twice;
  *  - touches older than `windowMicros` before their conversion drop;
  *  - a conversion with no surviving touches is credited to 'direct'.
  *
  * Credit split in exact ppm (integer, Σ = 1e6 per conversion EXACTLY):
  *  - linear: 1e6 div n each, remainder to the EARLIEST touch;
  *  - position (U-shaped): 40/20/40 — first and last touch get 400000
  *    each, the middles split 200000 (remainder to the earliest
  *    middle); n = 1 takes all 1e6, n = 2 splits 500000/500000.
  *
  * Revenue allocation avoids division entirely: each touch row carries
  * credit_ppm · value_cents (exact integer), summed in DECIMAL(38,0)
  * and reduced to milli-cents at the very end — so channel revenue adds
  * up to total revenue to the milli-cent, reduction-order-proof.
  *
  * Scale shape: the touch→conversion match is ONE as-of merge on the
  * NEGATED clock (smallest conversion ts >= touch ts == largest -ts <=
  * -ts) — O(T + C) per user via the AsofJoinExec two-pointer pass, never
  * touches × conversions; the rank/count window partitions by
  * CONVERSION id (journey-bounded, tens of rows); the rollup is one
  * combinable aggregate to the channel × model table.
  *
  * Output: (channel, model, conversions_ppm, revenue_milli_cents,
  * n_touches) — conversions_ppm is the ppm-sum of credited conversions
  * (1e6 = one whole conversion).
  */
object Attribution {

  def multiTouch(events: DataFrame, userCol: String, tsCol: String,
                 idCol: String, typeCol: String, valueCol: String,
                 touchTypes: Seq[String], conversionType: String,
                 windowMicros: Long): DataFrame = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    require(windowMicros > 0, s"windowMicros must be positive")
    val dec = DecimalType(38, 0)
    val ev = events.filter(col(userCol).isNotNull && col(tsCol).isNotNull)

    // conversions: collapse exact (user, ts) collisions — values sum,
    // identity = the (user, ts) pair itself
    val conv = ev.filter(col(typeCol) === conversionType)
      .groupBy(col(userCol), col(tsCol).as("__cts"))
      .agg(sum((col(valueCol).cast(DecimalType(18, 2)) * 100).cast("long"))
        .as("__cents"))
      .withColumn("__cid",
        concat_ws("/", col(userCol).cast("string"),
          unix_micros(col("__cts")).cast("string")))

    // touches: max event_id wins an exact-ts collision (the q219 rule)
    val touch = ev.filter(col(typeCol).isin(touchTypes: _*))
      .groupBy(col(userCol), col(tsCol).as("__tts"))
      .agg(max(struct(col(idCol), col(typeCol))).as("__m"))
      .select(col(userCol), col("__tts"),
        col("__m").getField(typeCol).as("__channel"))

    // next conversion per touch: as-of on the negated clock
    val probe = touch
      .withColumn("__nts", expr("timestamp_micros(-unix_micros(__tts))"))
    val build = conv
      .withColumn("__bnts", expr("timestamp_micros(-unix_micros(__cts))"))
      .select(col(userCol), col("__bnts"), col("__cid"), col("__cents"))
    val matched = Joins.asofMerge(probe, build, Seq(userCol),
        "__nts", "__bnts")
      .filter(col("asof___cid").isNotNull)

    // attribution window: conversion ts - touch ts <= W (both sides
    // live on the negated clock here, so cts = -unix_micros(asof___bnts))
    // two consumers (the ranked windows and the direct anti-join), so
    // the as-of subtree runs once, not twice (the q182 seam rule);
    // touch-sized narrow rows
    val credited = matched
      .select(col(userCol), col("__tts"), col("__channel"),
        col("asof___cid").as("__cid"), col("asof___cents").as("__cents"),
        (-unix_micros(col("asof___bnts"))
          - unix_micros(col("__tts"))).as("__gap"))
      .filter(col("__gap") >= 0L && col("__gap") <= windowMicros)
      .transform(Materialize.seam)

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__cid")).orderBy(col("__tts"))
    val ranked = credited
      .withColumn("__r", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__cid")))
        .cast("long"))

    // both models differ only in per-row ppm arithmetic — emit them
    // from ONE pass over the ranked rows (a 2-struct explode) instead
    // of unioning two copies of the window subtree
    val models = ranked.select(col("__channel"), col("__cents"),
      explode(array(
        struct(lit("linear").as("model"),
          (expr("1000000L div __n") +
            when(col("__r") === 1L, expr("1000000L % __n")).otherwise(0L))
            .as("__ppm")),
        struct(lit("position").as("model"),
          when(col("__n") === 1L, lit(1000000L))
            .when(col("__n") === 2L, lit(500000L))
            .when(col("__r") === 1L, lit(400000L))
            .when(col("__r") === col("__n"), lit(400000L))
            .otherwise(expr("200000L div (__n - 2)") +
              when(col("__r") === 2L, expr("200000L % (__n - 2)"))
                .otherwise(0L)).as("__ppm")))).as("__e"))
      .select(col("__channel"), col("__e.model").as("model"),
        col("__e.__ppm").as("__ppm"), col("__cents"), lit(1L).as("__t"))

    // conversions with no credited touch -> 'direct' under both models
    val creditedIds = credited.select(col("__cid")).distinct()
    val direct = conv.join(creditedIds, Seq("__cid"), "left_anti")
      .select(col("__cid"), col("__cents"),
        explode(array(lit("linear"), lit("position"))).as("model"))
      .withColumn("__channel", lit("direct"))
      .withColumn("__ppm", lit(1000000L))

    val allRows = models
      .unionByName(direct.select(col("__channel"), col("model"),
        col("__ppm"), col("__cents"), lit(0L).as("__t")))

    allRows.groupBy(col("__channel").as("channel"), col("model"))
      .agg(sum(col("__ppm")).as("conversions_ppm"),
        sum((col("__ppm") * col("__cents")).cast(dec)).as("__rev"),
        sum(col("__t")).as("n_touches"))
      .select(col("channel"), col("model"), col("conversions_ppm"),
        expr("CAST(__rev div 1000 AS BIGINT)").as("revenue_milli_cents"),
        col("n_touches"))
  }
}
