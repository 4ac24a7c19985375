package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.runtime.Materialize

/** Ordered k-step funnel — the product-analytics generalization of the
  * q83 two-step conversion: how many users complete step 1, then step
  * 2 STRICTLY AFTER their step-1 moment, then step 3 after that, and
  * how long each leg takes. Earliest-completion semantics: each user's
  * step-i stamp is the MINIMUM (ts, seq) of a step-i event strictly
  * after their step-(i−1) stamp — the canonical funnel definition, and
  * a total order both engines replay ((ts, seq) disambiguates
  * same-instant events; one event can never satisfy two steps).
  */
object Funnel {

  /** Funnel report over an event stream.
    *
    * Scale shape: the corpus is filtered ONCE per step (narrow
    * type-predicate scans); every frontier — the per-user stamp of the
    * last completed step — is a USER-bounded table, and each step is
    * one co-partitioned events×frontier equi-join on the user plus one
    * combinable struct-min aggregate. No windows over the raw stream,
    * nothing ever collects. Median leg latency is the distributed
    * exact PERCENTILE_DISC (lower middle — the q225 rule) over the
    * user-bounded gap table.
    *
    * Output (one row per step, ordered): (step_idx [1-based], step,
    * n_reached, conv_from_prev_ppm [null for step 1],
    * median_gap_micros [null for step 1] — the median time from the
    * previous step's stamp among users who reached this step).
    */
  def orderedFunnel(df: DataFrame, userCol: String, tsCol: String,
                    seqCol: String, typeCol: String,
                    steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "need at least one step")
    require(steps.distinct.size == steps.size, s"duplicate steps: $steps")
    val spark = df.sparkSession
    import spark.implicits._
    val ev = df
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull &&
        col(seqCol).isNotNull && col(typeCol).isNotNull)
      .select(col(userCol).as("__u"),
        expr(s"unix_micros($tsCol)").as("__t"),
        col(seqCol).cast("long").as("__s"), col(typeCol).as("__ty"))
    // frontier_i: (user, stamp of step i); gaps_i: (user, micros from
    // step i-1); both user-bounded
    var frontier: DataFrame = null
    val rows = steps.zipWithIndex.map { case (st, i) =>
      val cand = ev.filter(col("__ty") === st)
      val stamped =
        if (i == 0) cand
        else cand.join(frontier
            .select(col("__u"), col("__t").as("__pt"), col("__s").as("__ps")),
          "__u")
          .filter(col("__t") > col("__pt") ||
            (col("__t") === col("__pt") && col("__s") > col("__ps")))
      val next = stamped.groupBy(col("__u"))
        .agg(min(struct(col("__t"), col("__s"))).as("__w"),
          // the previous stamp rides along for the gap (constant per
          // user on the joined side; absent for step 0)
          (if (i == 0) lit(null).cast("long") else min(col("__pt")))
            .as("__prevt"))
        .select(col("__u"), col("__w.__t").as("__t"),
          col("__w.__s").as("__s"), col("__prevt"))
      frontier = next.transform(Materialize.lazySeam)
      val n = frontier.agg(count(lit(1)).as("n_reached"))
      val medGap =
        if (i == 0)
          n.select(lit(null).cast("long").as("median_gap_micros"))
        else Percentiles.percentileDisc(
            frontier.select(lit(0).as("__g"),
              (col("__t") - col("__prevt")).as("__v")),
            "__g", "__v", Seq(0.5))
          .select(col("value").cast("long").as("median_gap_micros"))
      (i, st, n, medGap)
    }
    // assemble the k-row report: the count row LEFT-joins the median
    // (an unreached step has an EMPTY gap table — the report row must
    // survive with a null median, not vanish through a cross join)
    rows.zipWithIndex.map { case ((i, st, n, medGap), _) =>
      val base = n.withColumn("__j", lit(0))
        .join(medGap.withColumn("__j", lit(0)), Seq("__j"), "left")
        .select(lit(i + 1L).as("step_idx"), lit(st).as("step"),
          col("n_reached"), col("median_gap_micros"))
      if (i == 0)
        base.select(col("step_idx"), col("step"), col("n_reached"),
          lit(null).cast("long").as("conv_from_prev_ppm"),
          col("median_gap_micros"))
      else {
        val prevN = rows(i - 1)._3
          .select(col("n_reached").as("__pn"))
        base.crossJoin(prevN)
          .select(col("step_idx"), col("step"), col("n_reached"),
            when(col("__pn") > 0,
              expr("(n_reached * 1000000L) div __pn")).as("conv_from_prev_ppm"),
            col("median_gap_micros"))
      }
    }.reduce(_.unionByName(_))
  }

  /** Temporal precedence census (B104) — FUNNEL DISCOVERY, the step
    * before [[orderedFunnel]]: which ordered type pairs actually occur?
    * For every ordered pair (a, b), a ≠ b: how many users have both
    * types, and for how many does an a-event strictly PRECEDE some
    * b-event. A pair with n_both high and precede_ppm near 1e6 is a
    * funnel edge worth declaring; near 500000 is noise (either order
    * equally likely).
    *
    * Exact semantics: "a precedes b" for a user ⇔ min(ts of a) <
    * max(ts of b) — existence of an a-event strictly before SOME
    * b-event (ties at the exact same ts do NOT count as precedence;
    * pinned). precede_ppm = n_precede·1e6 div n_both.
    *
    * Scale shape: ONE corpus aggregate to the (user, type, min, max)
    * table (users × alphabet — the alphabet is bounded); the pair join
    * is per-user alphabet², never event², co-partitioned on the user;
    * the census is one combinable aggregate to the alphabet² table.
    *
    * Output: (type_a, type_b, n_both, n_precede, precede_ppm) for
    * every ordered pair with n_both > 0.
    */
  def precedenceCensus(df: DataFrame, userCol: String, tsCol: String,
                       typeCol: String): DataFrame = {
    val spans = df
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull &&
        col(typeCol).isNotNull)
      .groupBy(col(userCol).as("__u"), col(typeCol).as("__t"))
      .agg(min(unix_micros(col(tsCol))).as("__lo"),
        max(unix_micros(col(tsCol))).as("__hi"))
    spans.as("a")
      .join(spans.as("b"),
        col("a.__u") === col("b.__u") && col("a.__t") =!= col("b.__t"))
      .groupBy(col("a.__t").as("type_a"), col("b.__t").as("type_b"))
      .agg(count(lit(1)).as("n_both"),
        sum(when(col("a.__lo") < col("b.__hi"), 1L).otherwise(0L))
          .as("n_precede"))
      .withColumn("precede_ppm",
        expr("(n_precede * 1000000L) div n_both"))
  }
}
