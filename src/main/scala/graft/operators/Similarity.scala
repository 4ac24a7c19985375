package graft.operators

import graft.functions.VectorFunctions._
import graft.runtime.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate / exact nearest-neighbor search over embedding columns.
  *
  * Scale design:
  *  - Brute force is query-broadcast: the (small) query set is broadcast
  *    against the (huge) corpus, so the corpus is scanned exactly once with
  *    no shuffle of the corpus side; the per-query top-k runs as a
  *    partial-topk aggregation (window over query id after a k-limited
  *    exchange). 10 queries × 100 TB corpus = one pass.
  *  - The LSH path buckets both sides by a sign-bit sketch first, so the
  *    join degenerates to an equi-join on the bucket id — candidates shrink
  *    by ~2^bits and the shuffle is key-partitioned, never a cross join.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector.
    *
    * @param corpus   (id, vec) DataFrame — the big side, scanned once
    * @param queries  (id, vec) DataFrame — small, broadcast
    * @return (query_id, neighbor_id, cosine, rank) with rank 1..k,
    *         ties broken by neighbor id ascending.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(q)
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998)
    * — diversified top-k over a BOUNDED candidate set (an ANN prefetch:
    * the production shape is bruteForce/ivf top-m, m ≈ 5·k, then MMR
    * reranks to k). Pure relevance top-k returns near-duplicates of the
    * best hit; MMR trades relevance against similarity to what is
    * ALREADY selected:
    *
    *   pick_r = argmax  λ·rel_milli − (1e6−λ)·maxsim_milli
    *
    * with maxsim_milli = max over selected of floor(cos·1000) (0 before
    * the first pick, so round 1 is pure relevance — the standard MMR
    * convention), all integer arithmetic, ties to the smallest id —
    * both engines replay every round.
    *
    * Scale shape: candidates are m rows BY CONTRACT (the prefetch owns
    * the bound), so each of the k rounds is one combinable struct-max
    * argmax + one broadcast 1-row join to fold the new pick's
    * similarity into the running max; the candidate frame is
    * localCheckpoint'ed per round so plans stay linear in k. NaN
    * similarities (zero-norm vectors) clamp to −1000 rather than
    * poisoning the max.
    *
    * Output: (rn, id, rel_milli, maxsim_milli, mmr_score) per pick —
    * maxsim/score as of pick time.
    */
  def mmrSelect(candidates: DataFrame, idCol: String, vecCol: String,
                relMilliCol: String, k: Int, lambdaPpm: Long): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k")
    require(lambdaPpm >= 0 && lambdaPpm <= 1000000L,
      s"lambdaPpm must be in [0, 1e6], got $lambdaPpm")
    val spark = candidates.sparkSession
    import spark.implicits._
    var cand = candidates
      .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"),
        col(relMilliCol).cast("long").as("__rel"))
      .filter(col("__id").isNotNull && col("__v").isNotNull &&
        col("__rel").isNotNull)
      .withColumn("__maxsim", lit(0L))
      .transform(Materialize.seam)
    val picked = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long)]
    for (r <- 1 to k) {
      val scored = cand.withColumn("__score",
        lit(lambdaPpm) * col("__rel") -
          lit(1000000L - lambdaPpm) * col("__maxsim"))
      val win = scored
        .agg(max(struct(col("__score"), (-col("__id")).as("__n"),
          col("__rel"), col("__maxsim"))).as("__w"))
        .select(col("__w.__score").as("score"), col("__w.__n").as("negId"),
          col("__w.__rel").as("rel"), col("__w.__maxsim").as("ms"))
        .collect()
      if (win.nonEmpty && !win.head.isNullAt(0)) {
        val id = -win.head.getAs[Long]("negId")
        picked += ((r.toLong, id, win.head.getAs[Long]("rel"),
          win.head.getAs[Long]("ms"), win.head.getAs[Long]("score")))
        val sel = broadcast(cand.filter(col("__id") === id)
          .select(col("__v").as("__sv")))
        cand = cand.filter(col("__id") =!= id)
          .crossJoin(sel)
          .withColumn("__sim",
            floor(nanvl(cosine(col("__v"), col("__sv")), lit(-1.0)) * 1000)
              .cast("long"))
          .select(col("__id"), col("__v"), col("__rel"),
            greatest(col("__maxsim"), col("__sim")).as("__maxsim"))
          .transform(Materialize.seam)
      }
    }
    picked.toSeq
      .toDF("rn", "id", "rel_milli", "maxsim_milli", "mmr_score")
  }

  /** Attach a sign-bit LSH bucket column. */
  def withBucket(df: DataFrame, vecCol: String, nBits: Int = 8): DataFrame =
    df.withColumn("bucket", signBucket(col(vecCol), nBits))

  /** Approximate top-k: candidates restricted to the query's LSH bucket.
    * Same output shape as [[bruteForceTopK]]; queries that land in an
    * empty bucket yield no rows (callers can fall back to brute force).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int, nBits: Int = 8): DataFrame = {
    val q = broadcast(withBucket(queries, vecCol, nBits)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("bucket")))
    val c = withBucket(corpus, vecCol, nBits)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("bucket"))
    val scored = c.join(q, "bucket")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF (inverted-file) approximate top-k: the 100 TB-scale ANN path.
    *
    * Train `nlist` k-means centroids on (a sample of) the corpus, assign
    * every corpus vector to its nearest centroid (one narrow pass), and
    * at query time probe only the `nprobe` closest centroid cells —
    * corpus touched per query shrinks to ~nprobe/nlist, and the candidate
    * join is an equi-join on the cell id (shuffle-friendly, no cross
    * join). Deterministic for a fixed seed; not DuckDB-oracle-portable
    * (k-means is engine-specific), so correctness is recall-tested against
    * brute force in unit tests.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nlist: Int, nprobe: Int, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    // Only the quantizer TRAINING is k-means; everything downstream —
    // corpus assignment, query probing, candidate scoring — runs on the
    // same expression-only machinery as [[ivfTopKFixed]] (native
    // NearestCentroid argmin, no UDF, no per-row closure).
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(10)
      .fit(corpus.select(array_to_vector(toDouble(col(vecCol))).as("features")))
    val cents: Seq[(Long, Seq[Double])] = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray.toSeq) }.toSeq
    ivfTopKWithCentroids(corpus, queries, cents, idCol, vecCol, k, nprobe)
  }

  /** IVF top-k with a PROVIDED coarse quantizer — the oracle-checkable IVF.
    *
    * [[ivfTopK]] trains its quantizer with k-means (engine-specific, so its
    * correctness is recall-tested, not hash-checked). In production the
    * coarse quantizer is usually trained once offline and reused; this
    * variant takes those centroids as a (cell, cv) DataFrame and the whole
    * pipeline becomes deterministic relational algebra that a SQL oracle
    * reproduces exactly:
    *
    *  - centroids are nlist-sized by definition → collected once into a
    *    single array literal, so corpus cell assignment is a NARROW map
    *    (an `aggregate` HOF argmin per row — no shuffle, no join);
    *  - distances use d = <c,c> - 2<v,c> with the same sequential dot fold
    *    as DuckDB's `list_dot_product`, so argmin ties and all are
    *    bit-identical across engines (ties break to the lowest cell id);
    *  - queries probe their `nprobe` closest cells; candidates join on the
    *    cell id (broadcast, queries are the small side).
    */
  def ivfTopKFixed(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                   idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val cents: Seq[(Long, Seq[Double])] = centroids
      .select(col("cell").cast("long"), toDouble(col("cv")))
      .orderBy(col("cell"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    ivfTopKWithCentroids(corpus, queries, cents, idCol, vecCol, k, nprobe)
  }

  /** Shared IVF core over an in-memory (cell-sorted) centroid table: both
    * the k-means-trained and the provided-quantizer paths end here.
    */
  private def ivfTopKWithCentroids(corpus: DataFrame, queries: DataFrame,
      cents: Seq[(Long, Seq[Double])], idCol: String, vecCol: String,
      k: Int, nprobe: Int): DataFrame = {
    val centArr = typedLit(cents)

    def centDist(v: Column, cv: Column): Column =
      dot(cv, cv) - lit(2.0) * dot(v, cv)

    // Narrow argmin over the centroid literal — the native fused
    // [[graft.functions.expressions.NearestCentroid]] kernel (one codegen'd
    // loop nest; the interpreted HOF formulation allocates zip_with arrays
    // per centroid per row). Strict `<` keeps the first (= lowest cell id,
    // the array is cell-sorted) on exact ties, matching the oracle's
    // ORDER BY d, cell.
    def bestCell(v: Column): Column = {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      ColumnBridge.column(graft.functions.expressions.NearestCentroid(
        ColumnBridge.expression(v), ColumnBridge.expression(centArr)))
    }

    val assigned = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      bestCell(col(vecCol)).as("cell"))

    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("d"), col("cell"))
    val probed = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), explode(centArr).as("c"))
      .select(col("query_id"), col("qv"), col("c._1").as("cell"),
        centDist(col("qv"), col("c._2")).as("d"))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("qv"), col("cell"))

    val scored = assigned.join(broadcast(probed), "cell")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Embedding near-duplicate candidate pairs: sign-bucket LSH restricts
    * pairing to bucket-mates (equi-join on the bucket id — never the
    * O(n²) pair space), exact cosine filters to `threshold`. Same-bucket
    * restriction is the documented recall trade (a pair straddling a
    * hyperplane is missed; raise recall by lowering nBits or unioning a
    * second bucketing on different dimensions).
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, nBits: Int = 8): DataFrame = {
    val b = withBucket(df, vecCol, nBits)
    val l = b.select(col(idCol).as("id_a"), col(vecCol).as("va"), col("bucket"))
    val r = b.select(col(idCol).as("id_b"), col(vecCol).as("vb"), col("bucket"))
    l.join(r, "bucket")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Embedding-level corpus dedup: drop every row whose vector has a
    * same-bucket near-duplicate (cosine >= threshold) with a smaller id —
    * the greedy keep-first pass, the fifth dedup modality next to exact /
    * MinHash-LSH / SimHash / n-gram Jaccard.
    */
  def dropNearDuplicatesByCosine(df: DataFrame, idCol: String, vecCol: String,
                                 threshold: Double, nBits: Int = 8): DataFrame = {
    val losers = cosineNearDupPairs(df, idCol, vecCol, threshold, nBits)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Cosine similarity for explicit id pairs (near-dup checking). */
  def pairCosine(vectors: DataFrame, idCol: String, vecCol: String,
                 pairs: DataFrame): DataFrame = {
    val va = vectors.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val vb = vectors.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    pairs.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"), cosine(col("va"), col("vb")).as("cosine"))
  }

  /** Cross-signal dedup consistency report — the pipeline-health check
    * that compares the TEXTUAL near-dup signal (exact Jaccard over
    * content-defined chunk fingerprints, [[Dedup.cdcNearDupPairs]]'s
    * machinery) against the SEMANTIC one (in-cell embedding cosine, the
    * q124 pair space) over the same corpus: `text_only` pairs are
    * near-identical text whose embeddings disagree (an embedding-
    * pipeline glitch, or templated text with divergent content),
    * `semantic_only` pairs are paraphrases sharing no chunks (what
    * n-gram dedup structurally misses), `both` is the agreement mass.
    *
    * The semantic side is the K-BOUNDED kNN edge set
    * ([[Clustering.knnGraph]]: top-`kNeighbors` in-cell neighbors above
    * the threshold), not every in-cell pair above it — on a tight
    * embedding distribution the all-pairs form emits Σ|cell|² rows
    * (measured: 19M at sf1) while a paraphrase is almost surely a top-k
    * neighbor; the edge set is ≤ kNeighbors·n at any scale.
    *
    * Every reported pair carries BOTH exact scores: the missing side is
    * backfilled from the BOUNDED pair set (a broadcast join against the
    * vectors for text-only pairs; the pre-threshold Jaccard table for
    * semantic-only pairs — the rare-chunk sets are computed ONCE and
    * shared, so the backfill costs no extra corpus pass). A pair
    * sharing no rare chunk has Jaccard 0 by definition; a pair with a
    * missing/zero-norm embedding keeps cos null. Cross-cell semantic
    * near-misses are the documented IVF recall trade (they can surface
    * as text_only — the cell boundary, not the embedding, disagreed).
    *
    * Output: (id_a, id_b, jac_ppm, cos, verdict), id_a < id_b.
    */
  def crossSignalPairs(docs: DataFrame, emb: DataFrame, idCol: String,
                       textCol: String, vecCol: String,
                       w: Int = 3, divisor: Long = 8L, maxDf: Long = 10L,
                       minJacPpm: Long = 300000L,
                       kCells: Int = 8, kNeighbors: Int = 3, iters: Int = 2,
                       scale: Long = 1000L,
                       cosThreshold: Double = 0.3): DataFrame = {
    val (rare, perDoc) = Dedup.cdcRareSets(docs, idCol, textCol, w, divisor, maxDf)
    val a = rare.select(col("chunk_hash"), col(idCol).as("id_a"))
    val b = rare.select(col("chunk_hash"), col(idCol).as("id_b"))
    // exact Jaccard for EVERY rare-chunk-sharing pair (pre-threshold —
    // doubles as the semantic-only backfill table)
    val sizes = a.join(b, "chunk_hash")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("__sh"))
      .join(perDoc.select(col(idCol).as("id_a"), col("__n").as("__na")), "id_a")
      .join(perDoc.select(col(idCol).as("id_b"), col("__n").as("__nb")), "id_b")
      .withColumn("__jacAll",
        expr("(1000000L * __sh) div (__na + __nb - __sh)"))
      .select(col("id_a"), col("id_b"), col("__jacAll"))
    // NOTE: sizes has two consumers (threshold cut + backfill join); a
    // localCheckpoint here MEASURED slower at sf0.1 (3.7 -> 5.4 s) and
    // a wash at sf1 — the kNN side dominates and the chunk subtree is
    // comparatively cheap, so the q182 rule does not pay here. Measured,
    // not assumed; revisit if the text side ever dominates.
    val textPairs = sizes.filter(col("__jacAll") >= minJacPpm)
      .select(col("id_a"), col("id_b"), col("__jacAll").as("__jacT"))
    val semPairs = Clustering
      .knnGraph(emb, idCol, vecCol, kCells, kNeighbors, iters, scale)
      .filter(col("cos") >= cosThreshold)
      // symmetric edges collapse to one unordered pair: the house cosine
      // is a zip-fold, so cos(a,b) and cos(b,a) are bitwise identical
      .select(least(col("src"), col("dst")).as("id_a"),
        greatest(col("src"), col("dst")).as("id_b"), col("cos").as("__cosS"))
      .distinct()
    val pairsAll = textPairs.join(semPairs, Seq("id_a", "id_b"), "full_outer")
    // exact backfills over the bounded pair set. NOTE: a broadcast
    // semi-filter of the embeddings down to pair-referenced ids (to
    // spare the id-shuffle of the embedding table) MEASURED ~1.6-2.3x
    // SLOWER at sf0.1 — deriving the id broadcast from pairsAll
    // re-evaluates the whole chunking+kNN subtree two more times,
    // which costs far more than the joins it saves. Measured, not
    // assumed; at a scale where the embedding shuffle dominated, the
    // semi-filter would want a materialized pair table first.
    val ea = emb.select(col(idCol).as("id_a"), col(vecCol).as("__ba"))
    val eb = emb.select(col(idCol).as("id_b"), col(vecCol).as("__bb"))
    val backCos = cosine(col("__ba"), col("__bb"))
    pairsAll
      .join(ea, Seq("id_a"), "left")
      .join(eb, Seq("id_b"), "left")
      .withColumn("cos", coalesce(col("__cosS"),
        when(!isnan(backCos), backCos)))
      .join(sizes, Seq("id_a", "id_b"), "left")
      .withColumn("jac_ppm", coalesce(col("__jacT"), col("__jacAll"), lit(0L)))
      .withColumn("verdict",
        when(col("jac_ppm") >= minJacPpm &&
          col("cos").isNotNull && col("cos") >= cosThreshold, "both")
          .when(col("jac_ppm") >= minJacPpm, "text_only")
          .otherwise("semantic_only"))
      .select(col("id_a"), col("id_b"), col("jac_ppm"), col("cos"),
        col("verdict"))
  }

  /** Cross-signal dedup CLUSTERS — the natural completion of
    * [[crossSignalPairs]]: connected components over the UNION of the
    * textual and semantic near-dup edges, so a cluster transitively
    * captures both the near-copy text chain and its paraphrases (what
    * a leakage-safe split or a keep-one dedup actually needs; either
    * signal alone under-merges). Components via
    * [[Dedup.connectedComponentsAuto]] (min-label with the star
    * fallback); cluster_id = the component's smallest id, sizes by
    * aggregate + join-back (never a window over a possibly-huge
    * cluster). Singletons are their own cluster of size 1.
    *
    * PERCOLATION GUARD: transitive closure over a union edge set can
    * silently merge a large share of the corpus into one mega-component
    * when the threshold sits below the distribution's percolation point
    * (measured here: at sf1, dup-grade τ=0.5 semantic closure captured
    * 40% of GenData's vectors in a single component). That failure mode
    * is an OPERATIONAL hazard — a keep-one dedup downstream would then
    * drop almost everything — so the operator enforces the bound
    * in-band rather than leaving it to scaladoc: with
    * `maxComponentSize > 0`, the component sizes (a bounded aggregate
    * over the already-materialized label table; the check costs one
    * k-row action, never a corpus recompute) are verified and the call
    * FAILS with the offending size when any component exceeds the
    * bound. `0` keeps the unguarded semantics (the oracle mode, used by
    * q197 whose fixture thresholds sit above percolation).
    *
    * Output: (idCol, cluster_id, cluster_size), one row per document.
    */
  def crossSignalClusters(docs: DataFrame, emb: DataFrame, idCol: String,
                          textCol: String, vecCol: String,
                          w: Int = 3, divisor: Long = 8L, maxDf: Long = 10L,
                          minJacPpm: Long = 300000L,
                          kCells: Int = 8, kNeighbors: Int = 3,
                          iters: Int = 2, scale: Long = 1000L,
                          cosThreshold: Double = 0.3,
                          maxComponentSize: Long = 0L): DataFrame = {
    val edges = crossSignalPairs(docs, emb, idCol, textCol, vecCol,
        w, divisor, maxDf, minJacPpm, kCells, kNeighbors, iters, scale,
        cosThreshold)
      .select(col("id_a"), col("id_b"))
    val clusters0 = Dedup.connectedComponentsAuto(
      docs.select(col(idCol)), edges, idCol)
    // guard mode materializes the labels once so the size check and the
    // output read the same computation instead of re-running the DAG
    val clusters =
      if (maxComponentSize > 0) Materialize.seam(clusters0) else clusters0
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    if (maxComponentSize > 0) {
      val worstRow = sizes.agg(max(col("cluster_size"))).head()
      val worst = if (worstRow.isNullAt(0)) 0L else worstRow.getLong(0)
      if (worst > maxComponentSize) throw new IllegalStateException(
        s"crossSignalClusters: closure percolated — largest component has " +
          s"$worst members (bound $maxComponentSize). Raise the thresholds " +
          s"(minJacPpm/cosThreshold) or the bound before trusting a " +
          s"keep-one dedup on these clusters.")
    }
    clusters.join(sizes, "cluster_id")
      .select(col(idCol), col("cluster_id"), col("cluster_size"))
  }
}
