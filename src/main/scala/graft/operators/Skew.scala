package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew diagnostics for 100 TB fact tables. AQE's skew-join split
  * handles most cases at runtime; explicit salting ([[Joins.saltedJoin]])
  * is the deterministic fallback when a handful of hot keys dominate (the
  * classic power-law key distribution of web/training corpora).
  */
object Skew {

  /** Exact join-size audit: the output row count an equi-join WILL
    * produce — Σ_k cL(k)·cR(k) over the matched key values — before
    * anyone pays for running it, plus the largest single key's
    * contribution and its share. [[advisor]] diagnoses one table's key
    * histogram; this is the CROSS-TABLE number a capacity plan or a
    * join-order decision actually needs (a 60k×60k join can emit 4B
    * rows through one hot key, and the estimate that misses it is how
    * clusters die). Exact, not a sketch: the value tables are already
    * the cheapest possible summary (hot keys combine map-side), and
    * Σ products runs on their join — value-table-sized work, DECIMAL
    * (38,0) headroom on the products.
    *
    * Output (1 row): (join_name, n_left, n_right, matched_keys,
    * out_rows, max_key_rows, max_key_share_ppm).
    */
  def joinSizeAudit(left: DataFrame, leftKey: String, right: DataFrame,
                    rightKey: String, joinName: String): DataFrame = {
    val dec = "decimal(38,0)"
    val lc = left.filter(col(leftKey).isNotNull)
      .groupBy(col(leftKey).as("__k")).agg(count(lit(1)).as("__cl"))
    val rc = right.filter(col(rightKey).isNotNull)
      .groupBy(col(rightKey).as("__k")).agg(count(lit(1)).as("__cr"))
    val prod = lc.join(rc, "__k")
      .select(expr(s"CAST(__cl AS $dec) * __cr").as("__p"))
      .agg(count(lit(1)).as("matched_keys"),
        coalesce(sum(col("__p")), lit(0).cast(dec)).as("__out"),
        coalesce(max(col("__p")), lit(0).cast(dec)).as("__mx"))
    lc.agg(coalesce(sum(col("__cl")), lit(0L)).as("n_left"))
      .crossJoin(rc.agg(coalesce(sum(col("__cr")), lit(0L)).as("n_right")))
      .crossJoin(prod)
      .select(lit(joinName).as("join_name"), col("n_left"), col("n_right"),
        col("matched_keys"), col("__out").cast("long").as("out_rows"),
        col("__mx").cast("long").as("max_key_rows"),
        when(col("__out") > 0, expr("(__mx * 1000000) div __out"))
          .cast("long").as("max_key_share_ppm"))
  }

  /** Shuffle-skew advisor: one diagnostic row per candidate join/group
    * key, in exact integer arithmetic — the measurement that DECIDES
    * between plain shuffle, AQE skew split, and [[Joins.saltedJoin]], closing
    * the measure → apply loop (q211 applies what this recommends).
    * skew_ppm = hottest key ÷ mean key (1e6 = perfectly uniform);
    * recommended_salts = ⌈max·ndv / n⌉, the factor that levels the
    * hottest key's partition share back to the mean — 1 when salting
    * buys nothing. Null keys are counted separately, never in the
    * histogram (an equi-join drops them; a groupBy gives them one
    * group, which salting can't help).
    *
    * Scale shape per key: one corpus aggregate to the per-value count
    * table (hot keys combine map-side — the histogram of a skewed key
    * is itself skew-safe), one bounded rollup; candidates are
    * independent jobs, the union is driver-side plan assembly (the
    * [[Profile.fdStrength]] shape). DECIMAL(38,0) headroom on the
    * cross products.
    *
    * Output: (key, n_rows, n_null, ndv, max_count, mean_count,
    * skew_ppm, recommended_salts).
    */
  def advisor(df: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "need at least one candidate key")
    val dec = "decimal(38,0)"
    keys.map { k =>
      df.select(col(k).as("__k"))
        .groupBy(col("__k")).agg(count(lit(1)).as("__c"))
        .agg(
          coalesce(sum(when(col("__k").isNotNull, col("__c"))), lit(0L))
            .as("n_rows"),
          coalesce(sum(when(col("__k").isNull, col("__c"))), lit(0L))
            .as("n_null"),
          count(when(col("__k").isNotNull, lit(1))).as("ndv"),
          coalesce(max(when(col("__k").isNotNull, col("__c"))), lit(0L))
            .as("max_count"))
        .select(lit(k).as("key"), col("n_rows"), col("n_null"), col("ndv"),
          col("max_count"),
          when(col("ndv") > 0, expr("n_rows div ndv")).as("mean_count"),
          when(col("n_rows") > 0, expr(
            s"(CAST(max_count AS $dec) * ndv * 1000000) div n_rows"))
            .cast("long").as("skew_ppm"),
          when(col("n_rows") > 0, expr(
            s"(CAST(max_count AS $dec) * ndv + n_rows - 1) div n_rows"))
            .cast("long").as("recommended_salts"))
    }.reduce(_.unionAll(_))
  }
}
