package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.runtime.Materialize

/** EXACT set-similarity self-join by prefix filtering (the All-Pairs /
  * PPJoin family — Chaudhuri et al. 2006, Bayardo et al. 2007, Xiao et
  * al. 2008, with the Wang et al. 2012 adaptive 2-token prefix
  * tightening). The LSH path ([[Dedup.lshCandidatePairs]]) trades
  * recall for bounded work — a pair can miss every band; this operator
  * guarantees EVERY pair above the threshold, which is what a
  * decontamination gate or a legal-compliance dedup needs (a missed
  * duplicate is a leak, not a statistic).
  */
object SetJoin {

  /** All pairs of records whose element-set Jaccard ≥ tauPpm/1e6,
    * exactly. Prefix-filtering principle: order every record's
    * elements by ascending global document frequency (ties by element
    * id — the rarest-first total order both engines replay); a record
    * of size s keeps a prefix of s − ⌈τ·s⌉ + 1 elements, and any pair
    * with J ≥ τ must share a PREFIX element — sharing only
    * suffix elements caps the overlap below τ·s. Candidates therefore
    * join on the RAREST elements (the join key's frequency is what the
    * prefix minimizes), then verify exactly: inter·1e6 ≥
    * tauPpm·(sa+sb−inter) in integers.
    *
    * 2-token adaptive tightening (Wang et al. 2012's ℓ-prefix schema,
    * fixed at ℓ=2): extend every prefix by ONE extra rarest element
    * (length s − ⌈τ·s⌉ + 2, capped at s) — then a pair with J ≥ τ must
    * share at least min(2, α) elements of the extended prefixes, where
    * α = ⌈τ/(1+τ)·(sa+sb)⌉ is the pair's required overlap (proof: ≤
    * min(2,α)−1 shared prefix elements leave at most min(2,α)−1 +
    * (α − 2) < α total overlap; the min(2, α) guard keeps single-
    * element sets exact). The pair-dedup shuffle the ℓ=1 form already
    * paid (`distinct()`) becomes a count, so the tightening costs only
    * the +1-token join fan-in and removes the majority of the verify
    * input on template-dense corpora — measured on the q244 corpus in
    * BASELINE §27.
    *
    * Scale shape: one vocabulary aggregate (element → df), one
    * per-record window (record-sized partitions) for the prefix cut,
    * the candidate equi-join on prefix elements — skew-resistant by
    * construction since prefixes take the LOWEST-df elements, though a
    * corpus where even rare elements are shared by millions of records
    * keeps its quadratic lower bound (no algorithm returns n² pairs in
    * less than n² work — that corpus wants the capped LSH path and a
    * boilerplate gate first) — and the standard intersection
    * verification joins, all key-partitioned. The corpus id table is
    * scanned, never cross-joined.
    *
    * `ids` must be a DISTINCT (idCol, elemCol) table. Output:
    * (id_a, id_b, inter, sz_a, sz_b, jaccard_ppm), id_a < id_b.
    */
  def jaccardJoin(idsIn: DataFrame, idCol: String, elemCol: String,
                  tauPpm: Long): DataFrame = {
    require(tauPpm > 0 && tauPpm <= 1000000L,
      s"tauPpm must be in (0, 1e6], got $tauPpm")
    // the id table feeds five consumers (df, sizes, prefix, both verify
    // legs) — checkpoint the seam so the upstream tokenize/distinct
    // executes once (20.4 → 8.0 s at sf0.1 with the prefix seam below)
    val ids = idsIn.select(col(idCol), col(elemCol)).transform(Materialize.seam)
    val sizes = ids.groupBy(col(idCol)).agg(count(lit(1)).as("__sz"))
      .transform(Materialize.seam)
    val cand = candidatePairs(ids, sizes, idCol, elemCol, tauPpm, ell = 2)
    val inter = cand
      .join(ids.select(col(idCol).as("id_a"), col(elemCol).as("__t")), "id_a")
      .join(ids.select(col(idCol).as("id_b"), col(elemCol).as("__t")),
        Seq("id_b", "__t"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("__sz").as("sz_a")),
        "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("__sz").as("sz_b")),
        "id_b")
      .filter(col("inter") * 1000000L >=
        (col("sz_a") + col("sz_b") - col("inter")) * tauPpm)
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"),
        col("sz_b"),
        expr("(inter * 1000000L) div (sz_a + sz_b - inter)")
          .as("jaccard_ppm"))
  }

  /** The lossless candidate-pair set feeding the verify join — exposed
    * (with `ell` = 1 for the classical PPJoin prefix, 2 for the
    * adaptive extended form) so the candidate-volume reduction is
    * measurable per corpus (the q221 join-size-audit philosophy:
    * measure the join before running it). `sizes` must be the
    * (idCol, __sz) record-size table of `ids`.
    */
  private[graft] def candidatePairs(ids: DataFrame, sizes: DataFrame,
                                    idCol: String, elemCol: String,
                                    tauPpm: Long, ell: Int): DataFrame = {
    require(ell == 1 || ell == 2, s"ell must be 1 or 2, got $ell")
    val dfreq = ids.groupBy(col(elemCol)).agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__df"), col(elemCol))
    // classical prefix length p1 = sz − ⌈τ·sz⌉ + 1; the extended form
    // keeps one extra element (rn ≤ p1 + 1) and marks classical
    // membership so the ℓ=1 existence + positional filter still applies
    val p1 = col("__sz") -
      expr(s"(__sz * ${tauPpm}L + 999999) div 1000000") + 1
    val prefix = ids
      .join(dfreq, elemCol).join(sizes, idCol)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__p1", p1)
      .filter(col("__rn") <= col("__p1") + lit(if (ell == 2) 1 else 0))
      .select(col(idCol), col(elemCol), col("__sz"), col("__rn"),
        col("__p1"))
      .transform(Materialize.seam) // both sides of the candidate self-join
    // positional filter (the "PP" of PPJoin): matching at positions
    // (rn_a, rn_b) leaves at most 1 + min(sz−rn) more shared elements
    // under the common total order, which must reach the pair's overlap
    // bound α = ⌈τ/(1+τ)·(sa+sb)⌉ — lossless, measured 98.4M → 55.8M
    // sf1 candidates on the q244 corpus (ℓ=1; §27 for the ℓ=2 numbers)
    def alphaOf(sa: org.apache.spark.sql.Column,
                sb: org.apache.spark.sql.Column) =
      floor(((lit(tauPpm) * (sa.cast("decimal(20,0)") + sb)) +
        lit(1000000L + tauPpm - 1)) / lit(1000000L + tauPpm)).cast("long")
    val joined = prefix.as("a")
      .join(prefix.as("b"),
        col(s"a.$elemCol") === col(s"b.$elemCol") &&
          col(s"a.$idCol") < col(s"b.$idCol") &&
          least(col("a.__sz"), col("b.__sz")) * 1000000L >=
            greatest(col("a.__sz"), col("b.__sz")) * tauPpm)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.__sz").as("__sza"), col("b.__sz").as("__szb"),
        (col("a.__rn") <= col("a.__p1") && col("b.__rn") <= col("b.__p1") &&
          lit(1L) + least(col("a.__sz") - col("a.__rn"),
            col("b.__sz") - col("b.__rn")) >=
            alphaOf(col("a.__sz"), col("b.__sz"))).as("__ok1"))
    // the ℓ=1 form's pair-dedup shuffle (distinct) becomes the same
    // shuffle with a count: require a classical-prefix match passing
    // the positional bound AND ≥ min(2, α) shared extended-prefix
    // elements (the Wang 2012 ℓ=2 count filter; min guards α=1 pairs)
    val grouped = joined.groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("__nsh"), max(col("__ok1")).as("__ok1"),
        max(col("__sza")).as("__sza"), max(col("__szb")).as("__szb"))
    val kept =
      if (ell == 1) grouped.filter(col("__ok1"))
      else grouped.filter(col("__ok1") &&
        col("__nsh") >= least(lit(2L),
          alphaOf(col("__sza"), col("__szb"))))
    kept.select(col("id_a"), col("id_b"))
  }
}
