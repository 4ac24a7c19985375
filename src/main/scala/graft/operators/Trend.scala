package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.runtime.Materialize

/** Robust trend estimation — Theil–Sen (Theil 1950; Sen 1968): the
  * slope of a series as the MEDIAN of all pairwise slopes, with the
  * same 29%-contamination breakdown logic that makes [[Robust]]'s MAD
  * fence survive the outliers a least-squares line chases. The
  * monitoring complement of [[Changepoint]] (is the level DRIFTING,
  * vs did it SHIFT) and [[Seasonal]] (is this tick abnormal).
  */
object Trend {

  /** Per-key Theil–Sen slope over an integer series.
    *
    * Input: one row per (key, x, y) POINT — typically the per-key tick
    * series from [[Changepoint.tickCounts]], so x is an epoch
    * hour/day and y a count or cents value; duplicate x within a key
    * is a contract violation there too (collapse first — a vertical
    * pair has no slope). Slopes are exact truncated ppm:
    * slope_ppm = (y2 − y1)·1e6 div (x2 − x1) over every pair
    * x1 < x2 — SQL `div` truncation toward zero, which DuckDB's `//`
    * matches on negative numerators too (measured: (−7)//2 = −3), so
    * falling slopes replay identically — and the estimate is the
    * exact PERCENTILE_DISC median
    * (lower middle on even counts — the q225 rule).
    *
    * Scale shape: one corpus aggregate builds the series (the caller's
    * job); the pair join is per-key series² — CALENDAR-bounded (a
    * 30-day hourly window is 720 points → ≤ 259k pairs per key,
    * INDEPENDENT of corpus row count), keyed on the series key so
    * pairs never cross keys. The median runs on the pair table.
    *
    * Output: (keyCol, n_points, n_pairs, slope_ppm) — keys with a
    * single point emit no row (no pair, no slope).
    */
  def theilSen(df: DataFrame, keyCol: String, xCol: String,
               yCol: String): DataFrame = {
    val pts = df
      .filter(col(keyCol).isNotNull && col(xCol).isNotNull &&
        col(yCol).isNotNull)
      .select(col(keyCol).as("__k"), col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
    val pairs = pts.as("a")
      .join(pts.as("b"), col("a.__k") === col("b.__k") &&
        col("a.__x") < col("b.__x"))
      .select(col("a.__k").as("__k"),
        ((col("b.__y") - col("a.__y")) * 1000000L).as("__dy"),
        (col("b.__x") - col("a.__x")).as("__dx"))
      .select(col("__k"), expr("__dy div __dx").as("__s"))
    val med = Percentiles.percentileDisc(
        pairs.select(col("__k").as("__g"), col("__s").as("__v")),
        "__g", "__v", Seq(0.5))
      .select(col("__g").as("__k"), col("value").cast("long").as("slope_ppm"))
    val counts = pts.groupBy(col("__k")).agg(count(lit(1)).as("n_points"))
    counts
      .join(pairs.groupBy(col("__k")).agg(count(lit(1)).as("n_pairs")), "__k")
      .join(med, "__k")
      .select(col("__k").as(keyCol), col("n_points"), col("n_pairs"),
        col("slope_ppm"))
  }

  /** Lagged cross-correlation between two tick series (B102) — the
    * lead/lag detector: does series B follow series A by k ticks
    * (clicks → purchases, deploys → errors)? Theil–Sen asks "is one
    * series drifting"; this asks "which series MOVES FIRST".
    *
    * Exact integer contract. Both inputs are (tick, v) tables (the
    * caller aggregates — [[Changepoint.tickCounts]] shape); ticks
    * outside a side's observations count 0 on the COMMON calendar grid
    * [min tick, max tick] of the union, length n. Centering multiplies
    * through by n to stay integral (cx_t = n·x_t − Σx); for each lag
    * k ∈ [−maxLag, maxLag],
    *
    *   cc(k) = Σ_t cx_t · cy_{t+k}   (t and t+k both on the grid)
    *
    * in DECIMAL(38,0), reported as cc_ppm = cc·1e6 div max|cc| over
    * the probed lags (bounded output regardless of magnitudes;
    * max|cc| = 0 degenerates to ppm 0). best = the lag maximizing
    * cc(k), ties to the SMALLEST lag.
    *
    * Scale shape: one aggregate per side to the calendar-bounded tick
    * table; the lag sweep is (2·maxLag+1) × ticks rows of bounded-table
    * work (never corpus); two one-row broadcasts (grid bounds+sums,
    * max|cc|).
    *
    * Output: (lag_ticks, n_overlap, cc_ppm, is_best), one row per
    * probed lag.
    */
  def crossCorrelation(a: DataFrame, b: DataFrame, tickCol: String,
                       valCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 0, s"maxLag must be >= 0, got $maxLag")
    val dec = "decimal(38,0)"
    def side(df: DataFrame, n: String) = df
      .filter(col(tickCol).isNotNull && col(valCol).isNotNull)
      .select(col(tickCol).cast("long").as("__t"),
        col(valCol).cast("long").as(n))
      .groupBy(col("__t")).agg(sum(col(n)).as(n))
    val sa = side(a, "__xa")
    val sb = side(b, "__xb")
    val bounds = sa.select(col("__t")).unionByName(sb.select(col("__t")))
      .agg(min(col("__t")).as("__lo"), max(col("__t")).as("__hi"))
    // the zero-filled common grid
    val grid = bounds.select(
        explode(sequence(col("__lo"), col("__hi"))).as("__t"))
      .join(sa, Seq("__t"), "left").join(sb, Seq("__t"), "left")
      .select(col("__t"), coalesce(col("__xa"), lit(0L)).as("__xa"),
        coalesce(col("__xb"), lit(0L)).as("__xb"))
      .transform(Materialize.seam) // consumed by sums + the lag sweep
    val sums = grid.agg(count(lit(1)).as("__n"),
      sum(col("__xa")).as("__sxa"), sum(col("__xb")).as("__sxb"))
    val centered = grid.crossJoin(broadcast(sums))
      .select(col("__t"),
        expr(s"CAST(__n * __xa - __sxa AS $dec)").as("__ca"),
        expr(s"CAST(__n * __xb - __sxb AS $dec)").as("__cb"))
    val lhs = centered
      .select(col("__t"), col("__ca"),
        explode(sequence(lit(-maxLag.toLong), lit(maxLag.toLong)))
          .as("lag_ticks"))
    val rhs = centered.select(col("__t").as("__t2"), col("__cb"))
    val cc = lhs
      .join(rhs, col("__t2") === col("__t") + col("lag_ticks"))
      .groupBy(col("lag_ticks"))
      .agg(count(lit(1)).as("n_overlap"),
        sum(expr("__ca * __cb")).as("__cc"))
    val mx = cc.agg(max(abs(col("__cc"))).as("__mx"),
      max(struct(col("__cc"), (-col("lag_ticks")).as("__neg"))).as("__best"))
    cc.crossJoin(broadcast(mx))
      .select(col("lag_ticks"), col("n_overlap"),
        when(col("__mx") === 0, lit(0L))
          .otherwise(expr(s"CAST((__cc * 1000000) div __mx AS BIGINT)"))
          .as("cc_ppm"),
        (col("lag_ticks") === -col("__best.__neg")).as("is_best"))
  }
}
