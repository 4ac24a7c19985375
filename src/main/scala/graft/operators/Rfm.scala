package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.runtime.Materialize

/** RFM segmentation (Hughes 1994 — the classic recency/frequency/
  * monetary customer census): each user scores 1–5 on each dimension
  * by quintile, and the (r, f, m) cell census is the table a lifecycle
  * campaign targets ("champions" = 555, "at risk" = high f·m with low
  * r, …).
  */
object Rfm {

  /** RFM cell census over an event stream, deterministic end to end.
    *
    * Per user (one corpus aggregate): recency = anchor − last event
    * micros (anchor = corpus max ts, the q245 rule — a pure function
    * of the data, so re-runs agree), frequency = event count, monetary
    * = exact cents sum. Quintile thresholds come from the distributed
    * exact PERCENTILE_DISC over the USER table (p = .2/.4/.6/.8), and
    * scores use THRESHOLD COUNTING — score = 1 + #(thresholds ≤ v) for
    * f/m, and 6 − (1 + #(t ≤ recency)) for r (fresher = higher) — the
    * q221 lesson: counting duplicated thresholds identically on both
    * sides means a heavy mode can collapse quintiles without the
    * engines disagreeing (a cell index may then be skipped, never
    * ambiguous).
    *
    * Scale shape: one corpus aggregate to the user table; the
    * percentile ladder and the census (≤ 125 cells) run on it; the 12
    * thresholds ride a broadcast 1-row table. The corpus is scanned
    * once.
    *
    * Output: (r_score, f_score, m_score, n_users, sum_cents) per
    * non-empty cell.
    */
  def rfmCensus(df: DataFrame, userCol: String, tsCol: String,
                valueCol: String): DataFrame = {
    val users = df
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(userCol))
      .agg(max(expr(s"unix_micros($tsCol)")).as("__last"),
        count(lit(1)).as("__f"),
        sum((col(valueCol).cast("decimal(18,2)") * 100).cast("long"))
          .as("__m"))
      .crossJoin(broadcast(df.agg(
        max(expr(s"unix_micros($tsCol)")).as("__anchor"))))
      .select(col(userCol), (col("__anchor") - col("__last")).as("__r"),
        col("__f"), col("__m"))
      .transform(Materialize.seam) // thresholds + scoring both read it
    scoredCensus(users, userCol)
  }

  /** The readout over [[graft.streaming.RfmStream]]'s upserted
    * per-user rows — the reader side of the B92 ingest twin (the
    * `reportFromPartials` convention): `users0` carries
    * (userCol, lastCol — last event micros, fCol — event count,
    * mCol — exact cents), and this recomputes the recency anchor as
    * max(lastCol) and runs the identical quintile/census stage, so
    * batch == stream reduces to user-table equality. NOTE the anchor
    * nuance: [[rfmCensus]] anchors on the RAW corpus max ts (a
    * null-user row can advance it); feed the stream the same
    * null-filtered rows and the anchors coincide.
    */
  def censusFromUsers(users0: DataFrame, userCol: String, lastCol: String,
                      fCol: String, mCol: String): DataFrame = {
    val users = users0
      .crossJoin(broadcast(users0.agg(max(col(lastCol)).as("__anchor"))))
      .select(col(userCol), (col("__anchor") - col(lastCol)).as("__r"),
        col(fCol).cast("long").as("__f"), col(mCol).cast("long").as("__m"))
      .transform(Materialize.seam)
    scoredCensus(users, userCol)
  }

  /** The shared quintile-threshold + cell-census stage over a
    * (userCol, __r, __f, __m) user table (already checkpointed). */
  private def scoredCensus(users: DataFrame, userCol: String): DataFrame = {
    def quintiles(c: String): DataFrame = {
      // pivot on the EXACT requested p literals — 3 * 0.2 is
      // 0.6000000000000001 in IEEE doubles and would silently null a
      // threshold
      val ps = Seq(0.2, 0.4, 0.6, 0.8)
      val pivots = ps.zipWithIndex.map { case (p, i) =>
        max(when(col("p") === p, col("value"))).as(s"${c}_t${i + 1}")
      }
      Percentiles.percentileDisc(
          users.select(lit(0).as("__g"), col(c).as("__v")), "__g", "__v",
          ps)
        .groupBy(col("__g"))
        .agg(pivots.head, pivots.tail: _*)
        .drop("__g")
    }
    // all three are 1-row tables — broadcast so the combine is a
    // BroadcastNestedLoopJoin, never a CartesianProduct
    val th = quintiles("__r").crossJoin(broadcast(quintiles("__f")))
      .crossJoin(broadcast(quintiles("__m")))
    def ascScore(v: Column, c: String): Column =
      (1 to 4).map(i => when(v >= col(s"${c}_t$i"), 1).otherwise(0))
        .reduce(_ + _) + 1
    users.crossJoin(broadcast(th))
      .select(col(userCol),
        (lit(6) - ascScore(col("__r"), "__r")).cast("long").as("r_score"),
        ascScore(col("__f"), "__f").cast("long").as("f_score"),
        ascScore(col("__m"), "__m").cast("long").as("m_score"),
        col("__m"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"), sum(col("__m")).as("sum_cents"))
  }
}
