package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.runtime.Materialize

/** Event-time windowing wrappers. These work identically in batch and
  * Structured Streaming (the same `window`/`session_window` expressions);
  * streaming callers add `withWatermark` upstream (see
  * graft.streaming.StreamOps).
  */
object Windows {

  /** Tumbling window aggregation keyed by window start. */
  def tumbling(df: DataFrame, tsCol: String, width: String,
               keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy((window(col(tsCol), width) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")

  /** Sliding window aggregation (width, slide). */
  def sliding(df: DataFrame, tsCol: String, width: String, slide: String,
              keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy((window(col(tsCol), width, slide) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")

  /** Session windows with a fixed inactivity gap. Two consecutive events
    * belong to the same session iff their time difference is <= `gap`:
    * Spark merges [ts, ts+gap) intervals that overlap *or abut*, so an
    * exact-gap successor extends the session (verified in OperatorsSpec).
    */
  def session(df: DataFrame, tsCol: String, gap: String,
              keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy((session_window(col(tsCol), gap) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("session_start", col("session_window.start"))
      .withColumn("session_end", col("session_window.end"))
      .drop("session_window")

  /** Event-level sessionization: LABEL every event with its per-key
    * session sequence number (1, 2, ...) — the lag/running-sum classic.
    * Where [[session]] aggregates sessions away, this keeps the events
    * (per-session feature pipelines join on the label). A new session
    * starts when the gap to the previous event EXCEEDS `gapMicros`
    * (<= gap continues — matching `session_window`'s inclusive-gap merge
    * semantics). `tieBreak` totalizes the ordering under duplicate
    * timestamps so labels are deterministic. One window over (key, ts)
    * — the partitionBy exchange is the only shuffle.
    */
  def withSessionIds(df: DataFrame, keyCol: String, tsCol: String,
                     gapMicros: Long, tieBreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val w = W.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieBreak))
    val prev = lag(col(tsCol), 1).over(w)
    val isNew = when(prev.isNull ||
      unix_micros(col(tsCol)) - unix_micros(prev) > gapMicros, 1L).otherwise(0L)
    df.withColumn("session_seq",
      sum(isNew).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)))
  }

  /** Distributed trailing-range count+sum: per row, `count(*)` and
    * `sum(decValue)` over `[us - windowMicros, us]` within its key group —
    * the semantics of `RANGE BETWEEN W PRECEDING AND CURRENT ROW`, without
    * its two scale problems. Spark's sliding RANGE frame re-accumulates
    * the whole frame for every row (aggregates don't retract), so the
    * naive window is O(rows × frame-size) — frame size grows with data
    * density, making 10× data cost ~100×. And `partitionBy(key)` caps
    * parallelism at the number of keys.
    *
    * Decomposition: bucket time by W. A trailing window of width W from a
    * row in bucket b spans exactly buckets b-1 and b, so
    *
    *   trailing(e) = #\{same bucket, us' <= us\} + #\{bucket b-1, us' >= us-W\}
    *
    * Both terms are GROWING frames (incremental in Spark's WindowExec):
    * the first a running aggregate over (key, bucket) ascending; the
    * second a running aggregate DESCENDING over bucket b-1's rows plus a
    * weight-0 "ghost" probe row per event at us-W, whose running value IS
    * the suffix aggregate at the threshold (RANGE peers make the >= exact,
    * ties included). One exchange on (key, bucket) — parallelism is
    * keys × buckets — two sorts over it, and a final exchange on the id to
    * add the two terms. Strictly more shuffles than the naive form, but
    * every stage is linear and the partition count scales with the data.
    *
    * Output: (idCol, keyCols..., n_trailing, sum_trailing as double).
    */
  def trailingCountSum(df: DataFrame, keyCols: Seq[String], idCol: String,
                       usCol: String, decValue: Column,
                       windowMicros: Long): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val keys = keyCols.map(col)
    val reals = df.select(
      (col(idCol).as("__id") +: keys) ++ Seq(
        lit(1L).as("__w"),
        decValue.as("__v"),
        col(usCol).as("__us"),
        (col(usCol) - (col(usCol) % windowMicros)).as("__b")): _*)
    // Ghost probe at us - W lands in bucket b-1 by construction (the
    // window width equals the bucket width). when(false, ...) keeps the
    // exact decimal type of __v with a NULL value.
    val ghosts = df.select(
      (col(idCol).as("__id") +: keys) ++ Seq(
        lit(0L).as("__w"),
        when(lit(false), decValue).as("__v"),
        (col(usCol) - windowMicros).as("__us"),
        (col(usCol) - (col(usCol) % windowMicros) - windowMicros).as("__b")): _*)
    val parts = col("__b") +: keys
    val asc = W.partitionBy(parts: _*).orderBy(col("__us").asc)
      .rangeBetween(W.unboundedPreceding, W.currentRow)
    val desc = W.partitionBy(parts: _*).orderBy(col("__us").desc)
      .rangeBetween(W.unboundedPreceding, W.currentRow)
    val contrib = reals.unionByName(ghosts).select(
      (col("__id") +: keys) ++ Seq(
        when(col("__w") === 1L, sum(col("__w")).over(asc))
          .otherwise(sum(col("__w")).over(desc)).as("__n"),
        when(col("__w") === 1L, sum(col("__v")).over(asc))
          .otherwise(sum(col("__v")).over(desc)).as("__s")): _*)
    val aggs = keyCols.map(k => max(col(k)).as(k)) ++ Seq(
      sum(col("__n")).as("n_trailing"),
      sum(col("__s")).cast("double").as("sum_trailing"))
    contrib.groupBy(col("__id"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed("__id", idCol)
  }

  /** Session-gap sensitivity sweep — the measurement BEHIND the one
    * magic number every sessionizer carries (the q27 session window's
    * gap): for each candidate threshold, how many sessions the corpus
    * splits into, the mean events per session, and the mean
    * within-session duration. The knee of the n_sessions(T) curve is
    * the defensible gap choice; a flat curve says the corpus doesn't
    * care (Halfaker et al. 2015 measured the inter-activity valley
    * this sweep exposes).
    *
    * The trick that makes it one pass: a session count under threshold
    * T is n_entities + |gaps > T| and the within-session time is
    * Σ gaps ≤ T — every threshold is a pair of CONDITIONAL aggregates
    * over the SAME per-entity gap table (the q276 window), so the
    * sweep costs one lag-window pass + one aggregate regardless of
    * grid size; the ≤grid-sized result assembles from one collected
    * row (the fdStrength shape). Exact integers; means floored.
    *
    * Output per threshold: (gap_minutes, n_sessions,
    * mean_events_milli, mean_dur_micros).
    */
  def gapSensitivity(df: DataFrame, entityCol: String, tsCol: String,
                     tieCol: String,
                     gapMinutes: Seq[Long]): DataFrame = {
    require(gapMinutes.nonEmpty && gapMinutes.forall(_ > 0),
      s"gapMinutes must be positive, got $gapMinutes")
    require(gapMinutes.size <= 64, "bounded grid: at most 64 thresholds")
    val base = df
      .filter(col(entityCol).isNotNull && col(tsCol).isNotNull)
      .select(col(entityCol),
        unix_micros(col(tsCol)).as("__us"), col(tieCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(entityCol)).orderBy(col("__us"), col(tieCol))
    val gaps = base
      .withColumn("__g", col("__us") - lag(col("__us"), 1).over(w))
    // coalesce: sum() over an EMPTY corpus is null, which would make
    // n_sessions = 0 + null = null instead of the documented 0
    val thrAggs = gapMinutes.flatMap { m =>
      val t = m * 60000000L
      Seq(
        coalesce(sum(when(col("__g") > t, 1L).otherwise(0L)), lit(0L))
          .as(s"__x_$m"),
        coalesce(sum(when(col("__g").isNotNull && col("__g") <= t,
          col("__g")).otherwise(0L)), lit(0L)).as(s"__w_$m"))
    }
    // 1-row sufficient statistics, localCheckpoint'ed: the grid rows
    // below each re-select it, and without the seam the corpus
    // aggregate would re-execute once per threshold
    val ag = gaps.agg(
      countDistinct(col(entityCol)).as("__ne"),
      (count(lit(1)).as("__nev") +: thrAggs): _*)
      .transform(Materialize.seam)
    // Empty-corpus guard: with zero entities n_sessions is 0 (the
    // coalesce above — a bare sum() would null it) and the means are
    // 0/0 — Spark (non-ANSI) would emit null while the DuckDB twin
    // raises division-by-zero; gate both means on n_sessions > 0 (the
    // oracle SQL carries the same coalesce + CASE) so the engines
    // agree on the degenerate edge too.
    val rows = gapMinutes.map { m =>
      ag.select(lit(m).as("gap_minutes"),
        (col("__ne") + col(s"__x_$m")).as("n_sessions"),
        expr(s"CASE WHEN __ne + __x_$m > 0 THEN " +
          s"(__nev * 1000) div (__ne + __x_$m) END")
          .as("mean_events_milli"),
        expr(s"CASE WHEN __ne + __x_$m > 0 THEN " +
          s"__w_$m div (__ne + __x_$m) END").as("mean_dur_micros"))
    }
    rows.reduce(_.unionAll(_))
  }
}
