package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.runtime.Materialize

/** Association measures between categorical signals — the "are these two
  * metadata columns independent?" audits a release runs before trusting a
  * stratified design (a lang×source association means per-source quotas
  * silently reshape the language mixture, and vice versa).
  */
object Association {

  /** Per-category chi-square decomposition of the A×B contingency table,
    * in exact integer arithmetic both engines replay.
    *
    * Uses the O²-form of the statistic — chi² = N · (Σ_cells O²/(R·C)) − N
    * — rather than the (O−E)² form: empty cells contribute zero, so the
    * bounded OBSERVED table is enough (no full-grid generation), and the
    * largest intermediate is O²·N·1e6 ≤ N³·1e6, inside DECIMAL(38,0) up
    * to ~4e10 rows (the (O·N−R·C)² form hits N⁴ and dies at ~3e9).
    * Per-cell terms are floored ppm (deterministic; documented, as q227's
    * per-cell rule): chi2_ppm per row-category a is
    *   Σ_b floor(O_ab² · N · 1e6 / (R_a · C_b)) − R_a · 1e6,
    * and Σ_a chi2_ppm is the (floored) full-table statistic ·1e6.
    *
    * Scale shape: ONE corpus aggregate to the observed |A|×|B| cell table
    * (bounded by category cardinalities, never corpus-sized — hot cells
    * collapse map-side); row/column/grand totals re-aggregate that table;
    * the term join runs bounded×bounded. The corpus is scanned once.
    *
    * Output per row-category: (colA, n, dof, chi2_ppm), dof = (|A|−1)(|B|−1).
    */
  def chiSquare(df: DataFrame, colA: String, colB: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df
      .filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).as("__a"), col(colB).as("__b"))
      .agg(count(lit(1)).as("__o"))
    val rows = cells.groupBy(col("__a")).agg(sum(col("__o")).as("__r"))
    val cols = cells.groupBy(col("__b")).agg(sum(col("__o")).as("__c"))
    val tot = cells.agg(sum(col("__o")).cast(dec).as("__n"),
      count_distinct(col("__a")).as("__ka"),
      count_distinct(col("__b")).as("__kb"))
    cells.join(rows, "__a").join(cols, "__b")
      .crossJoin(broadcast(tot))
      .withColumn("__term", expr(
        "(CAST(__o AS DECIMAL(38,0)) * CAST(__o AS DECIMAL(38,0)) * __n" +
          " * CAST(1000000 AS DECIMAL(38,0)))" +
          " div (CAST(__r AS DECIMAL(38,0)) * CAST(__c AS DECIMAL(38,0)))"))
      .groupBy(col("__a"))
      .agg(max(col("__r")).as("n"),
        max((col("__ka") - 1) * (col("__kb") - 1)).as("dof"),
        (sum(col("__term")) -
          max(col("__r")).cast(dec) * lit(1000000).cast(dec))
          .cast("long").as("chi2_ppm"))
      .select(col("__a").as(colA), col("n"), col("dof"), col("chi2_ppm"))
  }

  /** Top-k collocations by pointwise mutual information over consecutive
    * token pairs (Church & Hanks 1990) — the corpus-analysis op that
    * surfaces boilerplate multiword units ("all rights reserved") and
    * genuine compounds, where raw bigram counts only surface "of the".
    *
    * Logs are avoided (engine-portable): the lift ratio
    * P(xy)/(P(x)·P(y)) ships as exact floored ppm,
    *   lift_ppm = (c_xy · N² · 1e6) div (M · c_x · c_y),
    * monotone in PMI (PMI > 0 ⇔ lift_ppm > 1e6), with N = total tokens,
    * M = total bigram positions. DECIMAL(38,0) bound: c_xy·N²·1e6 ≤
    * N³·1e6 — exact to ~4e10 tokens (the chiSquare class; shard beyond).
    *
    * Scale shape: one positions explode to the bigram VOCABULARY table
    * (hot bigrams collapse map-side) + the unigram vocabulary table from
    * its own narrow pass; two vocab×vocab equi-joins attach c_x and c_y;
    * the min-support cut happens before any join; final top-k is a
    * TakeOrdered over the surviving vocabulary table (never corpus rows).
    *
    * Output: (bigram, n_pair, n_left, n_right, lift_ppm), the k largest
    * by (lift_ppm DESC, bigram ASC) — deterministic ties.
    */
  def pmiTopBigrams(df: DataFrame, textCol: String, minCount: Long,
                    k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val dec = "decimal(38,0)"
    val toks = df.select(split(col(textCol), " ").as("__l"))
    val uni = toks.select(explode(col("__l")).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__cw"))
    val bi = toks.select(col("__l"),
        explode(when(size(col("__l")) < 2, array().cast("array<int>"))
          .otherwise(sequence(lit(1), size(col("__l")) - 1))).as("__i"))
      .select(element_at(col("__l"), col("__i")).as("__w1"),
        element_at(col("__l"), col("__i") + 1).as("__w2"))
      .groupBy(col("__w1"), col("__w2")).agg(count(lit(1)).as("__cxy"))
      .filter(col("__cxy") >= minCount)
    val tot = uni.agg(sum(col("__cw")).cast(dec).as("__n"))
      .crossJoin(toks.select(
        (size(col("__l")) - 1).cast("long").as("__m0"))
        .agg(sum(greatest(col("__m0"), lit(0L))).cast(dec).as("__m")))
    bi
      .join(uni.withColumnRenamed("__w", "__w1")
        .withColumnRenamed("__cw", "__cx"), "__w1")
      .join(uni.withColumnRenamed("__w", "__w2")
        .withColumnRenamed("__cw", "__cy"), "__w2")
      .crossJoin(broadcast(tot))
      .select(concat_ws(" ", col("__w1"), col("__w2")).as("bigram"),
        col("__cxy").as("n_pair"), col("__cx").as("n_left"),
        col("__cy").as("n_right"),
        expr("(CAST(__cxy AS DECIMAL(38,0)) * __n * __n" +
          " * CAST(1000000 AS DECIMAL(38,0)))" +
          " div (__m * CAST(__cx AS DECIMAL(38,0))" +
          " * CAST(__cy AS DECIMAL(38,0)))").cast("long").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("bigram"))
      .limit(k)
  }

  /** Two-itemset association rules (Agrawal, Imieliński & Swami 1993;
    * the A-priori level-2 pass of Agrawal & Srikant 1994) over keyed
    * baskets — the market-basket complement of [[pmiTopBigrams]]'s
    * adjacency collocations: support counts CO-MEMBERSHIP in a basket,
    * not adjacency in a sequence. Each unordered frequent pair {a, b}
    * emits BOTH directed rules a→b and b→a with exact floored-ppm
    * metrics both engines replay:
    *
    *   support_ppm    = n_pair·1e6 div n_baskets
    *   confidence_ppm = n_pair·1e6 div n_antecedent
    *   lift_ppm       = n_pair·n_baskets·1e6 div (n_ante·n_cons)
    *
    * `minSupport` (absolute basket count) gates BOTH levels — the
    * A-priori downward closure: a pair can only be frequent if both
    * items are, so the level-1 cut shrinks the posting lists before
    * any pair is generated. Duplicate (basket, item) rows collapse
    * first (support is basket membership, not line count); null
    * baskets/items are excluded.
    *
    * Scale shape: one distinct aggregate to the (basket, item)
    * membership table; the item-support table is vocabulary-bounded;
    * the pair space is Σ_b f_b·(f_b−1)/2 over FREQUENT items per
    * basket — bounded by the basket-size contract (an order, a cart, a
    * session: tens of items, never corpus-sized; a degenerate mega-
    * basket wants a basket-size gate upstream, same contract as the
    * q73 bucket cap) — and pairs combine map-side. DECIMAL(38,0)
    * headroom on the lift cross product (n_pair·N·1e6 ≤ N²·1e6, good
    * to ~1e16 baskets).
    *
    * Output: (antecedent, consequent, n_pair, n_ante, n_cons,
    * support_ppm, confidence_ppm, lift_ppm), both directions per pair.
    */
  def rules2(df: DataFrame, basketCol: String, itemCol: String,
             minSupport: Long): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val dec = "decimal(38,0)"
    val memb = df
      .filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("__bk"), col(itemCol).as("__it"))
      .distinct()
    val nB = memb.agg(count_distinct(col("__bk")).as("__n"))
    val itemSupp = memb.groupBy(col("__it"))
      .agg(count(lit(1)).as("__s"))
      .filter(col("__s") >= minSupport)
    val posts = memb.join(itemSupp, "__it")
      .select(col("__bk"), col("__it"), col("__s"))
    val pairs = posts.as("l")
      .join(posts.as("r"), col("l.__bk") === col("r.__bk") &&
        col("l.__it") < col("r.__it"))
      .groupBy(col("l.__it").as("__a"), col("r.__it").as("__b"),
        col("l.__s").as("__sa"), col("r.__s").as("__sb"))
      .agg(count(lit(1)).as("__sab"))
      .filter(col("__sab") >= minSupport)
    val directed = pairs.select(col("__a").as("__ante"), col("__b").as("__cons"),
        col("__sab"), col("__sa").as("__sante"), col("__sb").as("__scons"))
      .unionAll(pairs.select(col("__b"), col("__a"),
        col("__sab"), col("__sb"), col("__sa")))
    directed.crossJoin(broadcast(nB))
      .select(col("__ante").as("antecedent"), col("__cons").as("consequent"),
        col("__sab").as("n_pair"), col("__sante").as("n_ante"),
        col("__scons").as("n_cons"),
        expr("(__sab * 1000000L) div __n").as("support_ppm"),
        expr("(__sab * 1000000L) div __sante").as("confidence_ppm"),
        expr(s"(CAST(__sab AS $dec) * __n * CAST(1000000 AS $dec))" +
          s" div (CAST(__sante AS $dec) * __scons)").cast("long")
          .as("lift_ppm"))
  }

  /** "Also-bought" recommendation readout — the operational cut of
    * [[rules2]]: per antecedent item, the top-k consequents by lift
    * (ties to the smaller consequent id — a total order both engines
    * replay). THIS is the table a retrieval service serves; the full
    * rule table is its audit trail.
    *
    * Items must be integral (the k-bounded heap's id contract — same
    * as [[Sampling.weightedSample]]); lift_ppm rides through the
    * heap's double slot, exact for values < 2^53 (lift tops out at
    * n_baskets·1e6 — fine to ~9e9 baskets, documented).
    *
    * Scale shape: [[rules2]]'s bounded pair machinery, then a k-bounded
    * map-side-combinable heap per antecedent (a mega-item collapses
    * map-side — no window over the rule table) and one join back for
    * the rule metrics.
    *
    * Output: (antecedent, rn [1..k], consequent, n_pair,
    * confidence_ppm, lift_ppm).
    */
  def alsoBought(df: DataFrame, basketCol: String, itemCol: String,
                 minSupport: Long, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // The rule table has TWO consumers (the k-heap cut and the metrics
    // join-back); without a seam the whole membership-distinct + pair
    // join mines twice. The table is item-vocabulary-bounded (frequent
    // pairs only), so the checkpoint is cheap at any corpus scale.
    // Measured at sf0.1: q260 4.3 -> 2.6 s, q294 5.5 -> 3.3 s.
    val rules = rules2(df, basketCol, itemCol, minSupport)
      .transform(Materialize.seam)
    val top = TopK.perGroupAgg(rules, Seq("antecedent"),
        col("lift_ppm"), col("consequent"), k)
      .select(col("antecedent"), col("rn").cast("long").as("rn"),
        col("id").as("consequent"))
    top.join(rules, Seq("antecedent", "consequent"))
      .select(col("antecedent"), col("rn"), col("consequent"),
        col("n_pair"), col("confidence_ppm"), col("lift_ppm"))
  }

  /** Rank-agreement census between two top-k recommendation rankings —
    * rank-biased overlap (Webber et al. 2010) with the persistence
    * pinned to p = 1/2, which makes RBO an EXACT dyadic rational: with
    * I_d = |A[1..d] ∩ B[1..d]| and k = 3,
    *
    *   RBO = (Σ_{d≤k} 2^{-d}·I_d/d) / (Σ_{d≤k} 2^{-d})
    *       = (12·I₁ + 3·I₂ + I₃) / 21        [k = 3]
    *
    * (identical FULL 3-item lists → 21/21; disjoint → 0). Truncated
    * lists cap below 21/21 even when identical: I_d ≤ list length, so
    * two identical 2-item lists max at 19/21 and identical 1-item
    * lists at 16/21 — the census deliberately keeps the raw RBO (both
    * engines agree bit-for-bit), so short-list buckets mix "agrees but
    * shallow" with mild disagreement; read the 19/21- and 16/21-ppm
    * rows as the identical-short-list ceilings, not as partial
    * disagreement. The question it answers
    * is the model-choice one q294 leaves open: do two ranking metrics
    * (lift vs confidence, old vs new model) actually SERVE different
    * lists, and for what fraction of antecedents — top-weighted, so a
    * swap at rank 1 costs more than one at rank 3.
    *
    * Census form: RBO takes finitely many values (I₁ ≤ 1, I_d ≤ d with
    * containment monotonicity), so the output is the bounded
    * (rbo_ppm → antecedent count, share) table — no per-antecedent
    * row ever leaves the aggregate.
    *
    * Scale shape: both rec tables are k·antecedents-bounded BY
    * CONTRACT; the intersection join is per-antecedent k×k; one
    * bounded census aggregate. Antecedents present in only one
    * ranking drop (no agreement is defined for them) — their count is
    * visible as the difference vs either rec table's list count.
    *
    * Output: (rbo_ppm, n_antecedents, share_ppm), k = 3 pinned (the
    * closed form above is k-specific; other k need their own weights).
    */
  def rankAgreement3(recsA: DataFrame, recsB: DataFrame, anteCol: String,
                     rnCol: String, consCol: String): DataFrame = {
    val a = recsA.filter(col(rnCol) <= 3)
      .select(col(anteCol).as("__ante"), col(rnCol).as("__ra"),
        col(consCol).as("__cons"))
    val b = recsB.filter(col(rnCol) <= 3)
      .select(col(anteCol).as("__ante"), col(rnCol).as("__rb"),
        col(consCol).as("__cons"))
    // one row per antecedent in BOTH rankings; matched items carry
    // max(rank_a, rank_b) — I_d = matches with that max ≤ d
    val matched = a.join(b, Seq("__ante", "__cons"))
      .select(col("__ante"), greatest(col("__ra"), col("__rb")).as("__m"))
    val perAnte = a.select(col("__ante")).distinct()
      .join(b.select(col("__ante")).distinct(), Seq("__ante"))
      .join(matched, Seq("__ante"), "left")
      .groupBy(col("__ante"))
      .agg(sum(when(col("__m") <= 1, 1L).otherwise(0L)).as("__i1"),
        sum(when(col("__m") <= 2, 1L).otherwise(0L)).as("__i2"),
        sum(when(col("__m") <= 3, 1L).otherwise(0L)).as("__i3"))
      .select(col("__ante"),
        expr("(1000000L * (12 * __i1 + 3 * __i2 + __i3)) div 21")
          .as("rbo_ppm"))
    val census = perAnte.groupBy(col("rbo_ppm"))
      .agg(count(lit(1)).as("n_antecedents"))
    census.crossJoin(broadcast(
        census.agg(sum(col("n_antecedents")).as("__tot"))))
      .select(col("rbo_ppm"), col("n_antecedents"),
        expr("(n_antecedents * 1000000L) div __tot").as("share_ppm"))
  }

  /** Catalog-coverage and popularity-bias readout for a recommendation
    * table (Ziegler et al. 2005's aggregate-diversity critique): a
    * recommender that only ever surfaces bestsellers scores fine on
    * per-list accuracy while exposing 2% of the catalog — the two
    * numbers that catch it are CATALOG COVERAGE (distinct items ever
    * recommended / recommendable catalog) and POPULARITY LIFT (how
    * many times more popular the average recommendation slot is than
    * the average catalog item; 1e6 ppm = popularity-neutral). Both
    * exact integers from basket support counts.
    *
    * Scale shape: one distinct pass to basket membership (the rules2
    * aggregate every association op already pays), one item-support
    * aggregate, one join of the REC table (k·antecedents-bounded)
    * against the item-bounded support table, two 1-row rollups.
    *
    * Output (1 row): (catalog_size, n_lists, n_recs,
    * distinct_recommended, coverage_ppm, pop_lift_ppm — null when the
    * rec table or catalog is empty).
    */
  def recExposure(baskets: DataFrame, basketCol: String, itemCol: String,
                  recs: DataFrame, anteCol: String,
                  consCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val memb = baskets
      .filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("__bk"), col(itemCol).as("__it"))
      .distinct()
    val cat = memb.groupBy(col("__it")).agg(count(lit(1)).as("__s"))
    val cs = cat.agg(count(lit(1)).as("__ncat"), sum(col("__s")).as("__tot"))
    val rs = recs
      .select(col(anteCol).as("__ante"), col(consCol).as("__it"))
      .join(cat, "__it")
      .agg(count(lit(1)).as("n_recs"),
        countDistinct(col("__ante")).as("n_lists"),
        countDistinct(col("__it")).as("distinct_recommended"),
        sum(col("__s")).as("__rsup"))
    rs.crossJoin(broadcast(cs)).select(
      col("__ncat").as("catalog_size"), col("n_lists"), col("n_recs"),
      col("distinct_recommended"),
      when(col("__ncat") > 0,
        expr("(distinct_recommended * 1000000L) div __ncat"))
        .as("coverage_ppm"),
      when(col("n_recs") > 0 && col("__tot") > 0,
        expr(s"(CAST(__rsup AS $dec) * __ncat * 1000000)" +
          s" div (CAST(n_recs AS $dec) * __tot)").cast("long"))
        .as("pop_lift_ppm"))
  }
}
