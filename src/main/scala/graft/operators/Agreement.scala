package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.runtime.Materialize

/** Inter-rater agreement (Cohen 1960, κ) — the redundancy audit for
  * label sources and gate suites: two quality filters that pass 90% of
  * documents each will agree 82% of the time BY CHANCE, so raw
  * agreement flatters any pair of lenient gates. κ rescales observed
  * agreement by the chance floor — κ = (p_o − p_e)/(1 − p_e) — and
  * answers the question that decides whether a second gate (or a
  * second annotator) adds information: 1 = redundant, 0 = independent,
  * < 0 = systematic disagreement.
  *
  * Exact rational form: with per-group total n, diagonal mass
  * O = Σ_k n_kk and chance mass P = Σ_k rowA_k·colB_k,
  *
  *   κ = (n·O − P) / (n² − P)
  *
  * all integers (DECIMAL(38,0) headroom for the n² products);
  * kappa_milli via sign-split truncating division; null when n² = P
  * (a constant rater — chance explains everything, κ undefined).
  * Labels may be any equatable type and the two alphabets need not
  * match (agreement is literal equality; one-sided categories just
  * contribute no diagonal or product mass).
  *
  * Scale shape: ONE corpus aggregate to the (group × alphabet²)
  * contingency table; totals, diagonal, marginals and the chance term
  * all derive from that bounded table — no second corpus pass, no
  * driver loop.
  *
  * Output per group: (groupCols, n, po_ppm, pe_ppm, kappa_milli).
  */
object Agreement {

  def cohenKappa(df: DataFrame, aCol: String, bCol: String,
                 groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val gs = groupCols.map(col)
    val ct = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(gs :+ col(aCol).as("__a") :+ col(bCol).as("__b"): _*)
      .agg(count(lit(1)).as("__c"))
      .transform(Materialize.seam) // bounded (group × alphabet²); consumed 4x
    kappaFromCells(ct, groupCols, "__a", "__b", "__c")
  }

  /** The κ rollup over an already-built contingency-cell table — shared
    * by the batch operator above and the ingest twin's parity contract
    * ([[graft.streaming.AgreementStream]] upserts exactly these cells
    * incrementally, so batch == stream reduces to cell-table equality).
    */
  def kappaFromCells(cells: DataFrame, groupCols: Seq[String],
                     aCol: String, bCol: String,
                     cntCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val gs = groupCols.map(col)
    val ct = cells.select(gs :+ col(aCol).as("__a") :+
      col(bCol).as("__b") :+ col(cntCol).as("__c"): _*)
    val n = ct.groupBy(gs: _*).agg(sum(col("__c")).cast(dec).as("__n"))
    val diag = ct.filter(col("__a") === col("__b"))
      .groupBy(gs: _*).agg(sum(col("__c")).cast(dec).as("__o"))
    val ma = ct.groupBy(gs :+ col("__a").as("__k"): _*)
      .agg(sum(col("__c")).as("__ra"))
    val mb = ct.groupBy(gs :+ col("__b").as("__k"): _*)
      .agg(sum(col("__c")).as("__cb"))
    val chance = ma.join(mb, groupCols :+ "__k")
      .groupBy(gs: _*)
      .agg(sum(expr(s"CAST(__ra AS $dec) * __cb")).as("__p"))
    n.join(diag, groupCols, "left")
      .join(chance, groupCols, "left")
      .withColumn("__o", coalesce(col("__o"), lit(0).cast(dec)))
      .withColumn("__p", coalesce(col("__p"), lit(0).cast(dec)))
      .withColumn("__knum", (col("__n") * col("__o") - col("__p")).cast(dec))
      .withColumn("__kden", (col("__n") * col("__n") - col("__p")).cast(dec))
      .select(gs ++ Seq(
        col("__n").cast("long").as("n"),
        expr(s"(CAST(1000000 AS $dec) * __o) div __n").cast("long")
          .as("po_ppm"),
        expr(s"(CAST(1000000 AS $dec) * __p) div (__n * __n)").cast("long")
          .as("pe_ppm"),
        when(col("__kden") > 0,
          when(col("__knum") >= 0,
            expr(s"(CAST(1000 AS $dec) * __knum) div __kden"))
            .otherwise(-expr(s"(CAST(1000 AS $dec) * (-__knum)) div __kden")))
          .cast("long").as("kappa_milli")): _*)
  }
}
