package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.runtime.Materialize

/** N-gram language-model scoring — the perplexity-style quality filter a
  * pretraining pipeline runs over candidate documents (CCNet scores every
  * paragraph with a KenLM model; the model here is a bigram table trained
  * on a held-in slice of the corpus itself). `/root/reference` has no
  * analytics surface — this belongs to the training-data-pipeline
  * inventory layered on top (SURVEY.md §2 Part B).
  *
  * Probabilities are Laplace-smoothed integer ratios, never floats:
  * a bigram (w1, w2) scores `((c(w1,w2) + 1) * scale) div (c(w1,·) + V)`
  * where c(·) are training counts and V the training vocabulary size.
  * Integer division makes every step engine-portable (the DuckDB oracle
  * replays it bit-for-bit), and summing longs is reduction-order-proof —
  * the house determinism rule for cross-group sums.
  *
  * Scale shape: the model is vocabulary-bounded (|V|² worst case, far
  * smaller in practice) — both count tables broadcast WHEN SMALL. The
  * broadcast is guarded, not assumed: the bigram table is counted first
  * (one cheap action over the train slice — model-fit work, the same
  * class as the IVF/PQ fit utilities), and a model above
  * `maxBroadcastModelRows` falls back to shuffle joins instead of
  * silently building a driver-OOM broadcast. No persist: a cached model
  * would leak executor memory across long sessions, and Catalyst's
  * exchange reuse already shares the aggregate between the bigram and
  * prefix tables.
  * The corpus side is one narrow position-explode; with a small model
  * the only wide exchange is the final per-document aggregate, which
  * ships (id, three longs).
  */
object LmScore {

  /** Consecutive token pairs of `textCol`, one row per position:
    * (idCol, w1, w2). Empty for documents with fewer than two tokens.
    */
  private def bigramPairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), split(col(textCol), " ").as("__l"))
    toks.select(col(idCol), col("__l"),
        explode(when(size(col("__l")) < 2, array().cast("array<int>"))
          .otherwise(sequence(lit(1), size(col("__l")) - 1))).as("__i"))
      .select(col(idCol),
        element_at(col("__l"), col("__i")).as("w1"),
        element_at(col("__l"), col("__i") + 1).as("w2"))
  }

  /** Score every `corpus` document under a bigram model trained on
    * `train`. Output per document: bigram count, out-of-vocabulary bigram
    * count (pairs never seen in training), the summed integer score, and
    * its per-bigram integer mean. Documents with < 2 tokens score 0.
    *
    * `maxBroadcastModelRows` is the broadcast guard: a bigram table at
    * or under it is broadcast (the intended held-in-slice shape); above
    * it the model joins by shuffle-hash instead — same answer, no
    * unbounded driver broadcast. The vocabulary-size scalar (one row)
    * is always broadcast.
    */
  /** Consecutive token triples of `textCol`, one row per position:
    * (idCol, w1, w2, w3). Empty for documents with fewer than three
    * tokens.
    */
  private def trigramTriples(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), split(col(textCol), " ").as("__l"))
    toks.select(col(idCol), col("__l"),
        explode(when(size(col("__l")) < 3, array().cast("array<int>"))
          .otherwise(sequence(lit(1), size(col("__l")) - 2))).as("__i"))
      .select(col(idCol),
        element_at(col("__l"), col("__i")).as("w1"),
        element_at(col("__l"), col("__i") + 1).as("w2"),
        element_at(col("__l"), col("__i") + 2).as("w3"))
  }

  /** Stupid Backoff trigram scoring (Brants et al. 2007, "Large Language
    * Models in Machine Translation" — the backoff scheme DESIGNED for
    * distributed MapReduce-trained LMs: no discount normalization, so
    * every level is a plain count ratio and the whole model stays
    * embarrassingly mergeable). Per trigram position (w1, w2, w3):
    *
    *   - trigram hit:   S = (c3(w1,w2,w3) · scale)      div c2(w1,w2)
    *   - bigram backoff: S = (4 · c2(w2,w3) · scale)    div (10 · c1(w2))
    *   - unigram backoff:S = (16 · c1(w3) · scale)      div (100 · N)
    *   - OOV (w3 unseen): S = 0, counted in `n_oov`
    *
    * with the paper's α = 0.4 folded into exact integer numerators
    * (α → ·4 div 10, α² → ·16 div 100) — no floats anywhere, so both
    * engines agree bit-for-bit and partial sums merge in any order.
    * Overflow bound: 16 · c2 · scale must stay under 2⁶³ — at the
    * default scale=10⁶ that allows ~5.7·10¹¹ occurrences of a single
    * bigram, comfortably past a 100 TB corpus; shrink `scale` if the
    * train slice ever approaches it.
    *
    * Same scale shape as [[bigramScores]]: the corpus side is ONE narrow
    * position-explode; all model tables (trigram/bigram/unigram counts)
    * broadcast when the trigram table — the largest — fits under
    * `maxBroadcastModelRows`, and every join falls back to shuffle-hash
    * above it (same answer, no driver-OOM broadcast). The token-total
    * scalar is always broadcast.
    */
  def stupidBackoffScores(corpus: DataFrame, train: DataFrame, idCol: String,
                          textCol: String, scale: Long = 1000000L,
                          maxBroadcastModelRows: Long =
                            Materialize.MaxBroadcastRows): DataFrame = {
    // every model table is vocabulary-bounded and consumed twice+ (the
    // guard count / both join sides), so each is checkpointed — without
    // the seams the train corpus is re-scanned ~7x per call; the total
    // token count derives from c1 (Σ counts) instead of an extra pass
    val c3 = trigramTriples(train, idCol, textCol)
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c3"))
      .transform(Materialize.seam)
    val side = Materialize.broadcastIfFits(c3, maxBroadcastModelRows,
      _.hint("shuffle_hash"))
    val c1 = train.select(explode(split(col(textCol), " ")).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("c1"))
      .transform(Materialize.seam)
    val c2 = bigramPairs(train, idCol, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      .transform(Materialize.seam)
    val n = c1.agg(sum(col("c1")).as("nn"))
    val triples = trigramTriples(corpus, idCol, textCol)
    val modeled = triples.join(side(c3), Seq("w1", "w2", "w3"), "left")
      .join(side(c2.withColumnRenamed("c2", "c2ctx")), Seq("w1", "w2"), "left")
      .join(side(c2.toDF("w2", "w3", "c2bo")), Seq("w2", "w3"), "left")
      .join(side(c1.toDF("w2", "c1mid")), Seq("w2"), "left")
      .join(side(c1.toDF("w3", "c1last")), Seq("w3"), "left")
      .crossJoin(broadcast(n))
    val scored = modeled.select(col(idCol),
      when(col("c3").isNotNull, 0L)
        .when(col("c2bo").isNotNull, 1L)
        .when(col("c1last").isNotNull, 2L)
        .otherwise(3L).as("__lvl"),
      when(col("c3").isNotNull,
          expr(s"(c3 * ${scale}L) div c2ctx"))
        .when(col("c2bo").isNotNull,
          expr(s"(4L * c2bo * ${scale}L) div (10L * c1mid)"))
        .when(col("c1last").isNotNull,
          expr(s"(16L * c1last * ${scale}L) div (100L * nn)"))
        .otherwise(0L).as("__sc"))
    val agg = scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("__lvl") === 0L, 1L).otherwise(0L)).as("n_hit3"),
        sum(when(col("__lvl") === 1L || col("__lvl") === 2L, 1L).otherwise(0L))
          .as("n_backoff"),
        sum(when(col("__lvl") === 3L, 1L).otherwise(0L)).as("n_oov"),
        sum(col("__sc")).as("score_sum"))
    corpus.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("n_hit3"), lit(0L)).as("n_hit3"),
        coalesce(col("n_backoff"), lit(0L)).as("n_backoff"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("score_sum"), lit(0L)).as("score_sum"),
        coalesce(expr("score_sum div n_trigrams"), lit(0L)).as("avg_score"))
  }

  def bigramScores(corpus: DataFrame, train: DataFrame, idCol: String,
                   textCol: String, scale: Long = 1000000L,
                   maxBroadcastModelRows: Long =
                     Materialize.MaxBroadcastRows): DataFrame = {
    // model-sized (bigram-vocabulary-bounded) with THREE consumers (the
    // guard count, the broadcast, and the cu prefix derivation) — the
    // checkpoint stops the train-side explode+aggregate from running
    // once per consumer
    val cb = bigramPairs(train, idCol, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
      .transform(Materialize.seam)
    val side = Materialize.broadcastIfFits(cb, maxBroadcastModelRows,
      _.hint("shuffle_hash"))
    // Prefix counts derived FROM the bigram table (c(w1,·) = how often w1
    // opens a bigram) — the standard conditional denominator.
    val cu = cb.groupBy(col("w1")).agg(sum(col("cb")).as("cu"))
    val vocab = train.select(explode(split(col(textCol), " ")).as("__t"))
      .agg(countDistinct(col("__t")).as("vs"))
    val pairs = bigramPairs(corpus, idCol, textCol)
    val modeled = pairs.join(side(cb), Seq("w1", "w2"), "left")
      .join(side(cu), Seq("w1"), "left")
    val scored = modeled
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        when(col("cb").isNull, 1L).otherwise(0L).as("__oov"),
        expr(s"((coalesce(cb, CAST(0 AS BIGINT)) + 1) * ${scale}L) div " +
          "(coalesce(cu, CAST(0 AS BIGINT)) + vs)").as("__sc"))
    val agg = scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__oov")).as("n_oov"),
        sum(col("__sc")).as("score_sum"))
    corpus.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("score_sum"), lit(0L)).as("score_sum"),
        coalesce(expr("score_sum div n_bigrams"), lit(0L)).as("avg_score"))
  }
}
