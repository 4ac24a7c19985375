package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.runtime.Materialize

/** Greedy coverage-maximizing selection (the facility-location /
  * submodular data-pruning primitive — Nemhauser 1978's (1−1/e)
  * guarantee): pick k documents that together cover the most distinct
  * vocabulary. The "small pilot set that SEES the most" selector —
  * tokenizer warmup sets, eval seeds, annotation batches — where
  * random or length-based sampling picks near-duplicates of each
  * other.
  *
  * Deterministic contract (both engines replay it): round r picks the
  * document with the largest count of distinct tokens NOT yet covered
  * by rounds 1..r−1; ties break to the SMALLEST doc id; zero-gain
  * documents can still be picked if k exceeds the distinct-coverage
  * frontier (they add nothing; the census shows gain 0).
  *
  * Scale shape: k CORPUS PASSES (k is small and bounded — this is the
  * honest exact-greedy form; at 100 TB use it on a pre-filtered
  * candidate pool, or [[stochasticGreedySelect]], the shipped
  * Mirzasoleiman et al. 2015 relaxation). Per round: one
  * tokenize+distinct aggregate with the SEEN vocabulary anti-joined
  * via broadcast (seen ≤ k·doc-vocab tokens — bounded by the
  * selection, not the corpus), one combinable struct-max argmax, and a
  * 1-row + 1-doc-vocab collect (guarded sizes).
  *
  * Output: (round, docId, gain, cum_coverage) — gain = new distinct
  * tokens this pick added, cum_coverage = running union size.
  */
object Coverage {

  def greedySelect(df: DataFrame, idCol: String, textCol: String,
                   k: Int): DataFrame =
    select(df, idCol, textCol, k, samplePct = 100)

  /** Stochastic greedy (Mirzasoleiman et al. 2015, "Lazier Than Lazy
    * Greedy"): each round evaluates gains on a SUBSAMPLE of the
    * remaining candidates and picks the subsample argmax. With a
    * uniform sample of size s = (n/k)·ln(1/ε) per round, expected
    * coverage is within (1 − 1/e − ε) of optimal — here the sample is
    * a per-round share `samplePct` of the pool, so s ≈ samplePct·n/100
    * and the bound's ε = exp(−k·samplePct/100) (e.g. k=5, 40% →
    * ε ≈ e^−2 ≈ 0.14). This is the 100 TB path: the per-round pass
    * touches only the gated fraction of the corpus, and gains for the
    * rest are never computed.
    *
    * Engine-replayable determinism (the q98 house rule): the subsample
    * is HASH-GATED, not RNG-sampled — round r admits ids with
    * ((id·1000003 + r·999983 + 17) mod 1000000007) mod 100 < samplePct,
    * so re-runs, repartitioning, and the DuckDB oracle all see the
    * identical pool. A round whose gated pool is empty picks nothing
    * (both engines agree by construction); size samplePct so the
    * expected pool ≥ 1 at the corpus floor.
    */
  def stochasticGreedySelect(df: DataFrame, idCol: String, textCol: String,
                             k: Int, samplePct: Int): DataFrame = {
    require(samplePct >= 1 && samplePct < 100,
      s"samplePct must be in [1, 100) — at 100 use greedySelect, got $samplePct")
    select(df, idCol, textCol, k, samplePct)
  }

  private def select(df: DataFrame, idCol: String, textCol: String,
                     k: Int, samplePct: Int): DataFrame = {
    require(k >= 1 && k <= 64,
      s"k must be in [1, 64] (each round is a corpus pass), got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        explode(split(col(textCol), " ")).as("__tok"))
      .filter(col("__tok") =!= "")
      .distinct()
      .transform(Materialize.seam) // k rounds re-read it; tokenize once
    // Portable per-round subsample gate (identity when samplePct = 100).
    def gate(r: Int) =
      if (samplePct >= 100) lit(true)
      else ((col("__id") * 1000003L + lit(r.toLong) * 999983L + 17L)
        % 1000000007L) % 100L < samplePct
    var seen = Set.empty[String]
    var picked = List.empty[(Long, Long, Long, Long)]
    var pickedIds = Set.empty[Long]
    for (r <- 1 to k) {
      val seenDf = seen.toSeq.toDF("__tok")
      val cand =
        if (pickedIds.isEmpty) toks.filter(gate(r))
        else toks.filter(gate(r) && !col("__id").isin(pickedIds.toSeq: _*))
      val gains = cand
        .join(broadcast(seenDf), Seq("__tok"), "left_anti")
        .groupBy(col("__id")).agg(count(lit(1)).as("__gain"))
      // zero-gain docs drop out of `gains`; union them back so k can
      // exceed the coverage frontier (deterministic smallest-id pick)
      val all = df.filter(col(idCol).isNotNull)
        .select(col(idCol).cast("long").as("__id")).distinct()
        .filter(gate(r) && !col("__id").isin(pickedIds.toSeq: _*))
        .join(gains, Seq("__id"), "left")
        .select(col("__id"), coalesce(col("__gain"), lit(0L)).as("__gain"))
      val win = all
        .agg(max(struct(col("__gain"), (-col("__id")).as("__neg"))).as("__w"))
        .select(col("__w.__neg").as("negId"), col("__w.__gain").as("gain"))
        .collect()
      if (win.nonEmpty && !win.head.isNullAt(0)) {
        val id = -win.head.getAs[Long]("negId")
        val gain = win.head.getAs[Long]("gain")
        val newToks = toks.filter(col("__id") === id)
          .select(col("__tok")).as[String].collect()
        seen = seen ++ newToks
        pickedIds += id
        picked ::= ((r.toLong, id, gain, seen.size.toLong))
      }
    }
    picked.reverse.toDF("round", "doc_id", "gain", "cum_coverage")
  }
}
