package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.runtime.Materialize

/** Domain mixture reweighting — the DoReMi shape (Xie et al. 2023,
  * "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
  * Pretraining", arXiv:2305.10429): per-domain weights grow
  * multiplicatively with the domain's EXCESS LOSS over a reference
  * model, with per-step smoothing toward uniform. The reference repo
  * (`/root/reference`, a Kafka DI framework) has no analytics surface —
  * this is part of the additive training-data-pipeline inventory
  * (SURVEY.md §2 Part B, B28's data-selection family).
  *
  * Determinism re-expression: DoReMi's update is
  * `alpha' ∝ alpha * exp(eta * excess)` — transcendental, so
  * cross-engine parity would die on libm. Each step here multiplies by
  * the RATIONAL factor `(scale + excess)` (the linearization of exp at
  * eta = 1/scale), then renormalizes with INTEGER floor division and
  * mixes in the uniform floor:
  * `w_t = ((scale - smooth) * w_{t-1} * (scale + excess)) div S + smooth div k`
  * where S = sum_j of the unnormalized products. All longs — every
  * engine computes the identical bits, and sums are reduction-order
  * free (the house rule for cross-group arithmetic).
  *
  * Excess loss proxy: the per-domain out-of-vocabulary bigram RATE
  * under a reference bigram LM ([[LmScore.bigramScores]] on the
  * held-in `train` slice), minus the best (minimum) domain rate — the
  * hard-to-model domains get weight, the reference-like domain stays
  * at the uniform floor. Rates are scaled-integer `div`s, exact in
  * both engines.
  *
  * Scale shape: the corpus-sized work is the LM scoring (one narrow
  * position-explode; model broadcast under [[LmScore]]'s size guard)
  * and one combinable per-domain aggregate. The iteration state is the
  * DOMAIN table — bounded at the number of sources, `localCheckpoint`ed
  * once so the unrolled per-iteration normalization (agg + broadcast
  * cross join, the q114 pattern) replays a k-row local scan, never the
  * corpus. At 100 TB: one scan, one tiny shuffle, driver state O(k).
  */
object Doremi {

  /** Iterated domain weights. Output per domain: doc count, scaled OOV
    * loss, excess over the best domain, and the weight after each of
    * `iters` multiplicative-update steps (`w1..w{iters}`, each summing
    * to ~`scale` across domains up to floor loss).
    *
    * `smooth` is the uniform-mixing mass (DoReMi's `c * scale`, paper
    * uses c = 1%): every domain keeps at least `smooth div k` weight,
    * so a zero-excess domain is never starved.
    */
  def domainWeights(corpus: DataFrame, train: DataFrame, idCol: String,
                    textCol: String, domainCol: String, iters: Int = 3,
                    scale: Long = 1000000L, smooth: Long = 10000L): DataFrame = {
    require(iters >= 1 && iters <= 16, s"iters must be in [1, 16], got $iters")
    require(scale > 0 && smooth >= 0 && smooth < scale,
      s"need 0 <= smooth < scale, got scale=$scale smooth=$smooth")
    val scored = LmScore.bigramScores(corpus, train, idCol, textCol)
    // Per-domain loss: one combinable aggregate over (id, three longs).
    val per = corpus.select(col(idCol), col(domainCol))
      .join(scored, Seq(idCol))
      .groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("__nb"),
        sum(col("n_oov")).as("__noov"))
      .withColumn("loss", expr(s"(${scale}L * __noov) div greatest(__nb, 1L)"))
    val ref = per.agg(min(col("loss")).as("__ref"),
      count(lit(1)).as("__k"))
    // Bounded domain table (k rows) — checkpointed so the unrolled
    // iteration plan below re-reads k local rows, not the corpus.
    var cur = per.crossJoin(broadcast(ref))
      .withColumn("excess", greatest(lit(0L), col("loss") - col("__ref")))
      .withColumn("w0", expr(s"${scale}L div __k"))
      .transform(Materialize.seam)
    for (t <- 1 to iters) {
      val prev = s"w${t - 1}"
      // Multiplier bounds: w <= scale (1e6), scale + excess <= 2*scale,
      // (scale - smooth) * w * mult <= 2e18 < Long.MaxValue.
      val tot = cur.agg(sum(expr(s"$prev * (${scale}L + excess)")).as("__s"))
      cur = cur.crossJoin(broadcast(tot))
        .withColumn(s"w$t",
          expr(s"((${scale}L - ${smooth}L) * ($prev * (${scale}L + excess)))" +
            s" div __s + ${smooth}L div __k"))
        .drop("__s")
    }
    val ws: Seq[Column] = (1 to iters).map(t => col(s"w$t"))
    cur.select(col(domainCol) +: col("n_docs") +: col("loss") +:
      col("excess") +: ws: _*)
  }
}
