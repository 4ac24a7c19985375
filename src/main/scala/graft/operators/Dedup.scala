package graft.operators

import graft.functions.TextFunctions
import graft.runtime.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale document corpora.
  *
  * Design for 100 TB:
  *  - Exact dedup hashes the full text down to a 128-bit digest *before* the
  *    shuffle, so the exchange moves 16-byte keys, not documents.
  *  - MinHash/LSH never materializes the O(n²) pair space: docs are bucketed
  *    by band signature and only bucket-mates are paired (the classic
  *    Broder '97 / MMDS ch.3 scheme), which is a key-partitioned shuffle
  *    join, not a cross join.
  *  - All hashing is integer arithmetic over content-derived token ids
  *    ([[polyHash]]: a base-31 code-point fold both Spark and DuckDB
  *    compute bit-identically), so results are engine-reproducible with
  *    NO global vocabulary pass — no corpus-wide distinct, no
  *    single-partition dictionary sort, no join back.
  *
  * A dictionary path ([[shingleIds]]: dense ranks of the sorted distinct
  * shingle set) is retained for collision-free ids where those are wanted;
  * its vocabulary build is a global sort, so it is not the hot path.
  */
object Dedup {

  /** Large prime modulus for MinHash permutations; small enough that
    * a*id+b stays far from Long overflow for any realistic vocabulary.
    * (Single source: [[graft.functions.expressions.MinHashSignature]],
    * whose fused native kernel shares these constants.)
    */
  val P: Long = graft.functions.expressions.MinHashSignature.P

  /** Modulus of the polynomial shingle hash (2^31 - 1, prime): collisions
    * over a realistic shingle vocabulary are negligible, and tid * a for
    * the largest permutation multiplier stays far below Long overflow.
    */
  val M: Long = graft.functions.expressions.MinHashSignature.M

  /** Deterministic, engine-portable string hash: the classic base-31
    * polynomial fold over code points, mod [[M]], exactly reproducible in
    * ANSI SQL (DuckDB: list_reduce over unicode(char)) — so oracle-checked
    * pipelines get content-derived token ids with NO global vocabulary
    * pass: no distinct-over-the-corpus, no single-partition dictionary
    * sort, no broadcast join. This is both the oracle-parity path and the
    * 100 TB path (narrow, per-row, scales embarrassingly).
    *
    * Computed by the native codegen'd expression
    * [[graft.functions.expressions.PolyHash]] (one tight loop over the
    * UTF-8 bytes).
    */
  def polyHash(s: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.expressions.PolyHash(ColumnBridge.expression(s), M))
  }

  /** (a, b) parameters of the K hash permutations h_i(x) = (a*x + b) mod P.
    * Fixed primes: deterministic across runs and engines.
    */
  def hashParams(k: Int): Seq[(Long, Long)] = {
    import graft.functions.expressions.MinHashSignature.{AS, BS}
    require(k <= AS.length, s"at most ${AS.length} hash functions supported")
    AS.zip(BS).take(k).toSeq
  }

  /** One row per (id, distinct shingle) — the exploded set representation
    * used by minhash/jaccard. Shingle k=3 over whitespace tokens.
    *
    * Dedup happens row-wise after the explode (one shuffle) rather than via
    * per-row `array_distinct`, which is O(len²) string comparisons on long
    * documents — measurably pathological at corpus scale.
    */
  def explodedShingles(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    val toks = df.select(col(idCol), split(col(textCol), " ").as("__toks"))
    val sh = TextFunctions.shinglesOfTokens(col("__toks"), k)
    toks.select(col(idCol), explode(sh).as("shingle")).distinct()
  }

  /** Deterministic dense integer ids for the global distinct-shingle set:
    * row_number over the sorted vocabulary. One narrow distinct + one
    * window over the (small) vocabulary.
    */
  def shingleVocabulary(shingled: DataFrame): DataFrame =
    shingled.select(col("shingle")).distinct()
      .withColumn("tid", row_number().over(Window.orderBy(col("shingle"))).cast("long"))

  /** Shingles joined to their token ids: (id, tid). The vocabulary side is
    * broadcast — it is vocabulary-sized, orders of magnitude smaller than
    * the corpus. The exploded-shingle table feeds both the vocabulary
    * build and the join from the same subplan, so its distinct exchange is
    * executed once and reused (ReusedExchange) — no persist, no session
    * cache residue.
    *
    * The dictionary (sorted dense ids) exists for engine-reproducible
    * hashing (oracle parity). At real 100 TB corpus scale the shingle
    * vocabulary itself is corpus-sized — use [[shingleIdsHashed]] there,
    * which hashes shingles directly (xxhash64) with no dictionary, no
    * global sort, and no second pass.
    */
  def shingleIds(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    val sh = explodedShingles(df, idCol, textCol, k)
    sh.join(broadcast(shingleVocabulary(sh)), "shingle").select(col(idCol), col("tid"))
  }

  /** Scale-path shingle ids: tid = xxhash64(shingle) masked non-negative.
    * One narrow pass, no dictionary; not oracle-portable (Spark-specific
    * hash). Superseded by [[shingleIdsPoly]], which is equally
    * dictionary-free but also engine-reproducible.
    */
  def shingleIdsHashed(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    explodedShingles(df, idCol, textCol, k)
      .select(col(idCol), (abs(xxhash64(col("shingle"))) % (P - 1) + 1).as("tid"))

  /** Content-hashed shingle ids via [[polyHash]]: (id, tid) with
    * set-or-bag semantics chosen by the caller.
    *
    * This replaces the dictionary path in every hot pipeline: tids come
    * from the shingle text itself, so there is no global distinct, no
    * sorted row_number dictionary (a single-partition window at corpus
    * scale), and no join back. `distinct = false` skips the (id, tid)
    * dedup shuffle entirely — correct whenever the consumer is
    * duplicate-insensitive (MinHash's `min` is); set-based consumers
    * (SimHash majority vote, Jaccard counts) take `distinct = true`,
    * which shuffles compact 16-byte (id, tid) rows rather than strings.
    */
  def shingleIdsPoly(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 3, distinct: Boolean = true): DataFrame = {
    val toks = df.select(col(idCol), split(col(textCol), " ").as("__toks"))
    val sh = TextFunctions.shinglesOfTokens(col("__toks"), k)
    val rows = toks.select(col(idCol), explode(sh).as("shingle"))
      .select(col(idCol), polyHash(col("shingle")).as("tid"))
    if (distinct) rows.distinct() else rows
  }

  /** Per-row MinHash signature as a single array<long> column — fully
    * NARROW: no explode, no shuffle, no aggregation. Identical values to
    * the aggregated paths (min over the same tid multiset under the same
    * permutations — duplicates don't affect min), proven by the shared
    * q37 oracle.
    *
    * Backed by the native fused expression
    * [[graft.functions.expressions.MinHashSignature]]: one codegen'd pass
    * over the document's bytes, shingle hashes folded in place (no shingle
    * strings, no intermediate arrays). The built-ins-only formulation
    * [[minhashSignatureColViaHof]] is retained for parity testing — HOFs
    * are interpreted and re-derive the shingles once per permutation,
    * measured ~80x slower at sf0.1.
    *
    * This is the signature path for STREAMING (per-record, append-mode
    * safe, no stateful agg needed) and for pipelines that want signatures
    * as a projection rather than a reduction. Documents with fewer than k
    * tokens yield null (empty shingle set) — filter upstream.
    */
  def minhashSignatureCol(textCol: Column, numHashes: Int = 8, k: Int = 3): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.expressions.MinHashSignature(
      ColumnBridge.expression(textCol), numHashes, k))
  }

  /** HOF formulation of [[minhashSignatureCol]] (parity reference, not the
    * hot path). Yields null ELEMENTS (not a null array) for < k tokens.
    */
  def minhashSignatureColViaHof(textCol: Column, numHashes: Int = 8, k: Int = 3): Column = {
    val tids = transform(
      TextFunctions.shinglesOfTokens(split(textCol, " "), k),
      s => polyHash(s))
    array(hashParams(numHashes).map { case (a, b) =>
      array_min(transform(tids, t => (t * a + b) % P))
    }: _*)
  }

  /** LSH band keys from a signature array: band b's key is
    * "b_h(b*r)_..._h(b*r+r-1)" — the band index is embedded so buckets
    * never collide across bands and the whole banded structure is ONE
    * string key (the shape a streaming state store or a single-column
    * shuffle wants).
    */
  def bandKeysCol(sig: Column, numHashes: Int, rowsPerBand: Int): Column =
    array((0 until numHashes / rowsPerBand).map { b =>
      concat_ws("_", (lit(b) +: (0 until rowsPerBand).map(i =>
        element_at(sig, b * rowsPerBand + i + 1))): _*)
    }: _*)

  /** MinHash signatures: one row per id with columns h0..h{k-1}.
    * minhash_i = min over the doc's token ids of (a_i*tid + b_i) mod P.
    * Single hash-aggregate over the exploded shingle-id table — partial
    * (map-side) min-combine keeps the shuffle tiny.
    */
  def minhashSignatures(ids: DataFrame, idCol: String, numHashes: Int = 8): DataFrame = {
    val aggs = hashParams(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min((col("tid") * a + b) % P).as(s"h$i")
    }
    ids.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash signatures via the native TypedImperativeAggregate
    * ([[graft.functions.expressions.MinHashAgg]]): identical results to
    * [[minhashSignatures]], one array-buffered aggregate with no
    * per-row Encoder round-trip. Same output columns h0..h{k-1}.
    */
  def minhashSignaturesNative(ids: DataFrame, idCol: String, numHashes: Int = 8): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val agg = ColumnBridge.column(
      graft.functions.expressions.MinHashAgg(
        ColumnBridge.expression(col("tid")), numHashes).toAggregateExpression())
    ids.groupBy(col(idCol)).agg(agg.as("sig"))
      .select(col(idCol) +:
        (0 until numHashes).map(i => col("sig").getItem(i).as(s"h$i")): _*)
  }

  /** LSH candidate pairs: ids sharing at least one band of the signature.
    * Bands of `rowsPerBand` hashes are concatenated into a band key; docs
    * are grouped by (band index, band key) and paired within buckets.
    * Output: (id_a, id_b) with id_a < id_b, distinct.
    *
    * `maxPerBucket > 0` caps every (band, bkey) bucket to its lowest-N ids
    * before pairing — the batch twin of [[graft.streaming.NearDupStream]]'s
    * state cap. At corpus scale a degenerate bucket (boilerplate or
    * near-empty text) otherwise goes quadratic: a bucket of size s emits
    * s·(s-1)/2 pairs, so one million-doc bucket is 5·10^11 pairs — the one
    * scale-killer of the uncapped scheme. The cap is deterministic (lowest
    * ids survive) and bounds pairs per bucket at N·(N-1)/2; pairs whose
    * members were evicted are lost, but members of a giant bucket are
    * mutual near-dups of the same boilerplate — keeping N of them still
    * links the component (recall impact quantified in SCALING.md). The cap
    * costs no extra shuffle: the row_number window partitions by the same
    * (band, bkey) key the self-join shuffles on. `0` = uncapped (exact
    * banding semantics, the oracle-parity mode).
    *
    * No caching: both sides of the self-join are the identical subplan, so
    * the (band, bkey) exchange is planned once and reused (ReusedExchange)
    * — nothing leaks into the session cache (callers no longer need
    * `clearCache()`).
    */
  def lshCandidatePairs(signatures: DataFrame, idCol: String,
                        numHashes: Int = 8, rowsPerBand: Int = 2,
                        maxPerBucket: Int = 0): DataFrame = {
    val banded = bandedKeys(signatures, idCol, Nil,
      numHashes, rowsPerBand, maxPerBucket)
    val l = banded.as("l")
    val r = banded.as("r")
    l.join(r,
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()
  }

  /** LSH (bands × rows-per-band) design surface — the q-grid a dedup
    * deployment reads before committing to a banding: for every
    * `rowsPerBandGrid` config (b = numHashes / r bands of r rows), the
    * measured bucket stats and candidate volume off ONE shared
    * signature table:
    *
    *   - `n_buckets`    — (band, key) buckets holding ≥ 2 docs;
    *   - `max_bucket`   — the largest bucket (the skew the
    *     `maxPerBucket` cap would bound — run the grid UNCAPPED, its
    *     point is to see the skew);
    *   - `n_bucket_pairs` — Σ n·(n−1)/2 over buckets: the pair-join
    *     COST before dedup;
    *   - `n_candidate_pairs` — distinct candidate pairs: the OUTPUT.
    *
    * The analytic s-curve midpoint is (1/b)^(1/r) (collision
    * probability 1−(1−sʳ)ᵇ at Jaccard s) — left to the reader rather
    * than emitted, because cross-engine `pow` is not bit-portable and
    * every emitted column here is an exact integer.
    *
    * Scale: the signature table (numHashes longs per doc) is computed
    * once and every config reads it — the per-config work never
    * touches text. Tuning a 100 TB corpus composes with the q98
    * hash-gate sample upstream; counts scale by the sample rate
    * (pair counts by its square).
    */
  def lshTuningGrid(signatures: DataFrame, idCol: String,
                    numHashes: Int = 8,
                    rowsPerBandGrid: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    val perConfig = rowsPerBandGrid.map { r =>
      val banded = bandedKeys(signatures, idCol, Nil, numHashes, r, 0)
      val bucketStats = banded.groupBy(col("band"), col("bkey"))
        .agg(count(lit(1)).as("n"))
        .agg(
          sum(when(col("n") >= 2, lit(1L)).otherwise(lit(0L)))
            .cast("long").as("n_buckets"),
          max(col("n")).cast("long").as("max_bucket"),
          // n·(n−1) is even, so the double division by 2 is exact
          sum((col("n") * (col("n") - 1)) / 2).cast("long").as("n_bucket_pairs"))
      val pairs = lshCandidatePairs(signatures, idCol, numHashes, r)
        .agg(count(lit(1)).as("n_candidate_pairs"))
      bucketStats.crossJoin(pairs)
        .select(lit(r.toLong).as("rows_per_band"),
          lit((numHashes / r).toLong).as("n_bands"),
          col("n_buckets"), col("max_bucket"), col("n_bucket_pairs"),
          col("n_candidate_pairs"))
    }
    perConfig.reduce(_ unionByName _)
  }

  /** Exploded (id, band, bkey) band-bucket keys (+ carried columns), with
    * the optional deterministic per-bucket cap — shared by the batch pair
    * generators; the streaming path keeps its own capped state form.
    */
  private def bandedKeys(signatures: DataFrame, idCol: String,
                         carry: Seq[String], numHashes: Int, rowsPerBand: Int,
                         maxPerBucket: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0)
    val nBands = numHashes / rowsPerBand
    val bands = (0 until nBands).map { b =>
      val key = concat_ws("_",
        (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*)
      struct(lit(b).as("band"), key.as("bkey"))
    }
    val banded0 = signatures
      .select((col(idCol) +: carry.map(col)) :+ explode(array(bands: _*)).as("bk"): _*)
      .select((col(idCol) +: carry.map(col)) :+ col("bk.band") :+ col("bk.bkey"): _*)
    if (maxPerBucket > 0) {
      val w = Window.partitionBy(col("band"), col("bkey")).orderBy(col(idCol))
      banded0.withColumn("__bn", row_number().over(w))
        .filter(col("__bn") <= maxPerBucket).drop("__bn")
    } else banded0
  }

  /** Incremental LSH — the daily-ingestion shape: candidate pairs that
    * involve at least one row where `isNewCol` is true. The (small) new
    * side's band keys join against the full banded corpus, so
    * history×history pairs are never GENERATED — the candidate volume
    * scales with the new batch, not the accumulated corpus, which is what
    * makes re-deduping a 100 TB corpus on every ingest affordable. Pairs
    * are normalized (id_a < id_b) and deduped, so new×new pairs arriving
    * from both join sides appear once, identical to filtering
    * [[lshCandidatePairs]] — the equivalence q97 pins under its oracle.
    */
  def lshCandidatePairsIncremental(signatures: DataFrame, idCol: String,
                                   isNewCol: String, numHashes: Int = 8,
                                   rowsPerBand: Int = 2,
                                   maxPerBucket: Int = 0): DataFrame = {
    val banded = bandedKeys(signatures, idCol, Seq(isNewCol),
      numHashes, rowsPerBand, maxPerBucket)
    val newSide = banded.filter(col(isNewCol)).as("l")
    val all = banded.as("r")
    newSide.join(all,
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col(s"l.$idCol") =!= col(s"r.$idCol"))
      .select(least(col(s"l.$idCol"), col(s"r.$idCol")).as("id_a"),
        greatest(col(s"l.$idCol"), col(s"r.$idCol")).as("id_b"))
      .distinct()
  }

  /** SimHash of `nBits` bits over the doc's distinct token ids: bit j is set
    * when the majority vote sum(2*((tid*A_j+B_j) mod P mod 2)-1) > 0.
    * Output: (id, simhash long).
    */
  def simhash(ids: DataFrame, idCol: String, nBits: Int = 16): DataFrame = {
    val params = hashParams(16).take(nBits)
    val bitSums = params.zipWithIndex.map { case ((a, b), j) =>
      sum(((col("tid") * a + b) % P % 2L) * 2L - 1L).as(s"s$j")
    }
    val sums = ids.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val hash = (0 until nBits).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    sums.select(col(idCol), hash.as("simhash"))
  }

  /** Per-row SimHash via the native fused kernel
    * [[graft.functions.expressions.SimHash]]: shingle hashing, in-row
    * distinct, and the per-bit majority vote in one codegen'd pass — no
    * explode, no distinct shuffle, no nBits-column aggregate. Bit-identical
    * to [[simhash]] over `shingleIdsPoly(distinct = true)` (integer vote
    * sums are order-independent), proven by the shared q39 oracle.
    * Documents with fewer than k tokens yield null — filter upstream.
    */
  def simhashCol(textCol: Column, nBits: Int = 16, k: Int = 3): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.expressions.SimHash(
      ColumnBridge.expression(textCol), nBits, k))
  }

  /** Exact n-gram Jaccard similarity between chosen id pairs.
    * `pairs` must have columns (id_a, id_b). Shuffle-join on tid: the
    * intersection size comes from a join of the two shingle-id sets, union
    * size by inclusion-exclusion — no per-pair set materialization.
    */
  def jaccard(ids0: DataFrame, idCol: String, pairs0: DataFrame): DataFrame =
    overlapStats(ids0, idCol, pairs0)
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))

  /** Sufficient statistics of any set-overlap measure for each pair:
    * (id_a, id_b, inter, sz_a, sz_b). Jaccard, containment |A∩B|/|A|
    * (the asymmetric measure that catches a small document embedded in a
    * big one), and the overlap coefficient are all one arithmetic
    * expression over this frame — see [[jaccard]] and q94.
    */
  def overlapStats(ids0: DataFrame, idCol: String, pairs0: DataFrame): DataFrame = {
    // `ids` is consumed four times (intersection's two sides + both size
    // tables), all from the SAME frame: the shuffle that materializes it
    // (shingleIdsPoly's distinct, in the pipeline) is an identical subplan
    // in every consumer, so it is executed once and reused
    // (ReusedExchange) — no persist, nothing left in the session cache.
    val ids = ids0
    // The pair set is tiny next to the exploded id table — broadcast it so
    // the expansion join is map-side; only the (id_b, tid) intersection
    // join shuffles. Doc-size tables are doc-count-sized: broadcast too.
    val pairs = broadcast(pairs0)
    val ta = ids.select(col(idCol).as("id_a"), col("tid"))
    val tb = ids.select(col(idCol).as("id_b"), col("tid"))
    val inter = ta.join(pairs, "id_a").join(tb, Seq("id_b", "tid"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    val szA = broadcast(ids.groupBy(col(idCol).as("id_a")).agg(count(lit(1)).as("sz_a")))
    val szB = broadcast(ids.groupBy(col(idCol).as("id_b")).agg(count(lit(1)).as("sz_b")))
    // The final pairs×inter join is LEFT OUTER with pairs preserved: a
    // broadcast hint on the preserved side cannot build-left and Spark
    // silently drops it (HintErrorLogger). Hint the build side instead —
    // `inter` is bounded by the pair count, strictly smaller than the
    // pair table it grouped from, so it is the correct broadcast side.
    pairs0
      .join(broadcast(inter), Seq("id_a", "id_b"), "left")
      .join(szA, "id_a")
      .join(szB, "id_b")
      .select(col("id_a"), col("id_b"),
        coalesce(col("inter"), lit(0L)).as("inter"), col("sz_a"), col("sz_b"))
  }

  /** LSH parameter advisor — measure-first (bands, rowsPerBand) tuning
    * for the MinHash banding family (the q239 skew-advisor philosophy
    * applied to q38's knobs): instead of guessing from the textbook
    * S-curve alone, weight the collision probability
    * P(s) = 1 − (1 − s^r)^b against the CORPUS'S OWN pair-similarity
    * histogram, so the advisor reports what each config would actually
    * do on this data — expected candidate pairs (the verify-join bill),
    * recall over true pairs (jaccard ≥ τ), and the wasted fraction of
    * candidates below τ.
    *
    * Determinism: similarities bucket to centi-units (floor(j·100),
    * clamped to 99 so the midpoint stays < 1); the midpoint
    * s = (bucket + 0.5)/100 and P(s) are DOUBLE but built from literal
    * left-associated multiplication chains (no pow), so both engines
    * execute the identical IEEE op sequence; P then floors to ppm and
    * every sum is integer (order-free). The histogram input is any
    * (pair, jaccard) table — the caller owns the pair-set bound.
    *
    * Scale shape: one bounded histogram aggregate (≤ 100 rows) off the
    * pair table; each grid config is one select + one aggregate over
    * that bounded table, assembled driver-side (fdStrength shape).
    *
    * Output per config: (bands, rows_per_band, exp_candidates,
    * recall_ppm — null when no pair reaches τ, waste_ppm — null when
    * no collisions expected).
    */
  def lshParamAdvisor(pairsJaccard: DataFrame, jacCol: String,
                      grid: Seq[(Int, Int)], tauCenti: Int): DataFrame = {
    require(grid.nonEmpty, "need at least one (bands, rows) config")
    require(tauCenti >= 0 && tauCenti <= 99,
      s"tauCenti must be in [0, 99], got $tauCenti")
    grid.foreach { case (b, r) =>
      require(b >= 1 && r >= 1 && b <= 64 && r <= 16,
        s"config ($b, $r) out of range")
    }
    val hist = pairsJaccard
      .filter(col(jacCol).isNotNull)
      .select(least(floor(col(jacCol) * 100), lit(99L)).cast("long").as("__jb"))
      .groupBy(col("__jb")).agg(count(lit(1)).as("__c"))
      .transform(Materialize.seam)
    grid.map { case (bands, rows) =>
      val s = (col("__jb").cast("double") + lit(0.5)) / lit(100.0)
      val sr = Seq.fill(rows)(s).reduce(_ * _)
      val q = lit(1.0) - sr
      val qb = Seq.fill(bands)(q).reduce(_ * _)
      val pPpm = floor((lit(1.0) - qb) * 1000000).cast("long")
      hist.select(col("__jb"), col("__c"), pPpm.as("__p"))
        .agg(sum(col("__c") * col("__p")).as("__tot"),
          sum(when(col("__jb") >= tauCenti, col("__c") * col("__p")))
            .as("__hi"),
          sum(when(col("__jb") >= tauCenti, col("__c"))).as("__hc"))
        .select(lit(bands.toLong).as("bands"),
          lit(rows.toLong).as("rows_per_band"),
          expr("coalesce(__tot, 0) div 1000000").as("exp_candidates"),
          when(coalesce(col("__hc"), lit(0L)) > 0,
            expr("__hi div __hc")).as("recall_ppm"),
          when(coalesce(col("__tot"), lit(0L)) > 0,
            expr("(CAST(__tot - coalesce(__hi, 0) AS DECIMAL(38,0)) " +
              "* 1000000) div __tot").cast("long")).as("waste_ppm"))
    }.reduce(_.unionByName(_))
  }

  /** End-to-end near-duplicate detection: shingle → MinHash → LSH
    * candidates → exact Jaccard verification → threshold filter. The
    * complete pipeline a training-data dedup pass runs: candidates come
    * from banding (never the O(n²) pair space), and only candidates pay
    * the exact-Jaccard join.
    *
    * @return (id_a, id_b, jaccard) for pairs with jaccard >= threshold
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, numHashes: Int = 8,
                   rowsPerBand: Int = 2, k: Int = 3,
                   maxPerBucket: Int = 0): DataFrame = {
    // Signatures come from the narrow fused expression — one codegen'd
    // pass per document, no signature hash-aggregate (a whole shuffle
    // gone). The exploded (id, tid) set exists only for what genuinely
    // needs set semantics: the exact-Jaccard verify of the candidates.
    val sig = minhashSignatureCol(col(textCol), numHashes, k)
    val sigs = df
      .select(col(idCol), sig.as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col(idCol) +: (0 until numHashes).map(i =>
        element_at(col("__sig"), i + 1).as(s"h$i")): _*)
    val candidates = lshCandidatePairs(sigs, idCol, numHashes, rowsPerBand, maxPerBucket)
    val ids = shingleIdsPoly(df, idCol, textCol, k)
    jaccard(ids, idCol, candidates).filter(col("jaccard") >= threshold)
  }

  /** Deduplicated corpus: drop every document that has a near-duplicate
    * with a smaller id (the standard greedy keep-first pass — one
    * candidate join, no iterative connected components; a doc chained
    * transitively to a smaller id through intermediate near-dups survives
    * only if none of its direct pairs has a smaller id).
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double, numHashes: Int = 8,
                         rowsPerBand: Int = 2, k: Int = 3,
                         maxPerBucket: Int = 0): DataFrame = {
    val losers = nearDupPairs(df, idCol, textCol, threshold, numHashes, rowsPerBand, k,
        maxPerBucket)
      .select(col("id_b").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Ingestion-time near-dup filter: of the `fresh` batch, keep only
    * documents that near-duplicate NEITHER the existing corpus NOR an
    * earlier (smaller-id) kept document of the same batch. The candidate
    * stage is [[lshCandidatePairsIncremental]], so cost scales with the
    * batch: history×history pairs are never generated, and only candidate
    * pairs pay the exact-Jaccard verify (the candidate set bounds that
    * join, not the corpus).
    *
    * Loser rule per verified pair: history always beats fresh; between
    * two fresh docs the smaller id wins (keep-first, matching
    * [[dropNearDuplicates]] greedy semantics within the batch).
    */
  def dropNearDuplicatesIncremental(history: DataFrame, fresh: DataFrame,
                                    idCol: String, textCol: String,
                                    threshold: Double, numHashes: Int = 8,
                                    rowsPerBand: Int = 2, k: Int = 3,
                                    maxPerBucket: Int = 0): DataFrame = {
    val all = history.select(col(idCol), col(textCol), lit(false).as("__new"))
      .unionByName(fresh.select(col(idCol), col(textCol), lit(true).as("__new")))
    val sig = minhashSignatureCol(col(textCol), numHashes, k)
    val sigs = all
      .select(col(idCol), col("__new"), sig.as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col(idCol) +: col("__new") +: (0 until numHashes).map(i =>
        element_at(col("__sig"), i + 1).as(s"h$i")): _*)
    val candidates = lshCandidatePairsIncremental(sigs, idCol, "__new",
      numHashes, rowsPerBand, maxPerBucket)
    val ids = shingleIdsPoly(all, idCol, textCol, k)
    val verified = jaccard(ids, idCol, candidates)
      .filter(col("jaccard") >= threshold)
    // Flag sides from the BATCH-sized table only (never broadcast the
    // corpus); every pair has >=1 fresh member by construction.
    val fa = fresh.select(col(idCol).as("id_a"), lit(true).as("__new_a"))
    val fb = fresh.select(col(idCol).as("id_b"), lit(true).as("__new_b"))
    val losers = verified
      .join(broadcast(fa), Seq("id_a"), "left")
      .join(broadcast(fb), Seq("id_b"), "left")
      .select(
        when(col("__new_a").isNotNull && col("__new_b").isNull, col("id_a"))
          .when(col("__new_a").isNull && col("__new_b").isNotNull, col("id_b"))
          .otherwise(greatest(col("id_a"), col("id_b"))) // fresh vs fresh
          .as(idCol))
      .distinct()
    fresh.join(losers, Seq(idCol), "left_anti")
  }

  /** Benchmark decontamination stats: per corpus document, the number of
    * distinct k-token shingles it shares with a benchmark/eval set — the
    * standard n-gram-overlap decontamination gate an LLM training pipeline
    * runs before training (production widths are 8-13 tokens; pick k to
    * the corpus's document length).
    *
    * Scale shape: the benchmark side is eval-set-sized by definition, so
    * its distinct shingle ids are BROADCAST; the corpus side is one narrow
    * shingle pass in BAG form (content-hashed [[polyHash]] ids — no
    * dictionary, no vocabulary shuffle, and crucially no corpus-wide
    * distinct exchange: the dedup happens as a countDistinct AFTER the
    * broadcast join, so the only thing that ever shuffles is the tiny
    * bench∩corpus intersection). Never generates a corpus×corpus or
    * corpus×bench pair explosion.
    */
  def contaminationStats(corpus: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String, k: Int = 8): DataFrame = {
    val corpusIds = shingleIdsPoly(corpus, idCol, textCol, k, distinct = false)
    val benchIds = shingleIdsPoly(bench, idCol, textCol, k)
      .select(col("tid")).distinct()
    val hits = corpusIds.join(broadcast(benchIds), "tid")
      .groupBy(col(idCol)).agg(countDistinct(col("tid")).as("__n_shared"))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__n_shared"), lit(0L)).as("n_shared_ngrams"),
        (coalesce(col("__n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** Bloom-gated decontamination — [[contaminationStats]] for when the
    * benchmark/eval shingle set is too large to broadcast RAW: build a
    * compact Bloom bitset over the bench shingle ids with one mergeable
    * aggregate ([[graft.functions.expressions.BloomBuildAgg]] — each
    * partition fills a local bitset, partials merge by OR), broadcast
    * the blob (2^logBits bits: 512 KiB at the default 22 — ~4 orders of
    * magnitude smaller than the id set), prefilter the corpus shingle
    * stream NARROWLY with the codegen'd probe, and exact-verify the
    * survivors against the bench ids.
    *
    * The output is EXACT — identical to [[contaminationStats]], and
    * oracle-checked against the same SQL (q131 vs q116's oracle): Bloom
    * false positives die in the verify join, false negatives cannot
    * exist. The bloom only shrinks the wide join's probe side from the
    * whole corpus shingle stream to ~(true hits + fpp·stream) rows, so
    * the verify join is deliberately UNHINTED: at bench sets worth this
    * operator it is a shuffle join whose probe side the bloom just made
    * tiny (AQE still broadcasts when small).
    */
  def contaminationStatsBloom(corpus: DataFrame, bench: DataFrame,
                              idCol: String, textCol: String, k: Int = 8,
                              logBits: Int = 22, numHashes: Int = 5): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val corpusIds = shingleIdsPoly(corpus, idCol, textCol, k, distinct = false)
    val benchIds = shingleIdsPoly(bench, idCol, textCol, k)
      .select(col("tid")).distinct()
    val bloomAgg = ColumnBridge.column(
      graft.functions.expressions.BloomBuildAgg(
          ColumnBridge.expression(col("tid")), logBits, numHashes)
        .toAggregateExpression())
    val bloom = benchIds.agg(bloomAgg.as("__bloom"))
    def mightContain = ColumnBridge.column(
      graft.functions.expressions.BloomMightContain(
        ColumnBridge.expression(col("__bloom")),
        ColumnBridge.expression(col("tid")), numHashes))
    val prefiltered = corpusIds.crossJoin(broadcast(bloom))
      .filter(mightContain)
      .select(col(idCol), col("tid"))
    val hits = prefiltered.join(benchIds, "tid") // exact verify: FPs die here
      .groupBy(col(idCol)).agg(countDistinct(col("tid")).as("__n_shared"))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__n_shared"), lit(0L)).as("n_shared_ngrams"),
        (coalesce(col("__n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** Connected components over an undirected pair graph by min-label
    * propagation: every node ends with the smallest id in its component.
    * Each iteration is one shuffle join + aggregate (fully distributed);
    * convergence takes at most graph-diameter iterations — near-dup
    * components are short chains, so a handful in practice. Iterations
    * localCheckpoint to keep lineage flat.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          idCol: String, maxIter: Int = 50): DataFrame =
    minLabelCC(nodes, edges, idCol, maxIter).getOrElse(
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations " +
          s"(graph diameter exceeds maxIter) — raise maxIter, use " +
          s"connectedComponentsStar (logarithmic round count), or " +
          s"connectedComponentsAuto (min-label with star fallback)"))

  /** Min-label propagation with an iteration budget; None when the budget
    * is exhausted before the fixpoint (graph diameter > maxIter).
    */
  private def minLabelCC(nodes: DataFrame, edges: DataFrame,
                         idCol: String, maxIter: Int): Option[DataFrame] = {
    val adj = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist()
    try {
      var labels = nodes.select(col(idCol).as("__node"), col(idCol).as("__label"))
        .transform(Materialize.seam)
      // node-sized label table, constant row count across iterations: one
      // count decides broadcast-vs-shuffle for the run (the Graphs /
      // degreeMixing guard) — while it fits, the adjacency list streams
      // through a broadcast join instead of re-shuffling every iteration;
      // checkpointed plans carry no stats, so the planner alone would
      // always sort-merge here
      val bc = Materialize.broadcastIfFits(labels)
      var iter = 0
      var changed = 1L
      while (changed > 0 && iter < maxIter) {
        val neighborMin = adj
          .join(bc(labels.withColumnRenamed("__node", "src")), "src")
          .groupBy(col("dst").as("__node"))
          .agg(min(col("__label")).as("__nmin"))
        // One checkpointed frame carries old + new label, so the
        // convergence count reads it directly — no extra join per iteration.
        val prop = labels.join(neighborMin, Seq("__node"), "left")
          .select(col("__node"), col("__label").as("__old"),
            least(col("__label"), coalesce(col("__nmin"), col("__label"))).as("__label"))
          .transform(Materialize.seam)
        changed = prop.filter(col("__label") =!= col("__old")).count()
        labels = prop.select(col("__node"), col("__label"))
        iter += 1
      }
      if (changed > 0) None
      // The result is checkpointed — the adjacency cache is releasable NOW,
      // not at some caller-side clearCache(): library hygiene.
      else Some(labels.select(col("__node").as(idCol), col("__label").as("cluster_id")))
    } finally adj.unpersist()
  }

  /** Connected components with automatic algorithm selection: min-label
    * propagation (one join+agg per round, converges in graph-diameter
    * rounds — the cheap path for the shallow graphs near-dup clustering
    * produces) up to `minLabelBudget` rounds, then fall over to the
    * large-star/small-star algorithm whose round count is O(log n)
    * regardless of diameter. Callers never see a convergence failure for
    * any graph star CC can close.
    */
  def connectedComponentsAuto(nodes: DataFrame, edges: DataFrame, idCol: String,
                              minLabelBudget: Int = 12,
                              starMaxIter: Int = 30): DataFrame =
    minLabelCC(nodes, edges, idCol, minLabelBudget).getOrElse(
      connectedComponentsStar(nodes, edges, idCol, starMaxIter))

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014): each round rewires edges toward per-neighborhood minima,
    * and the edge set converges to stars centered on component minima in
    * O(log n) rounds REGARDLESS of graph diameter — the scale path for
    * long-chain graphs where [[connectedComponents]]' min-label
    * propagation needs diameter-many rounds. Same output contract:
    * (idCol, cluster_id = smallest id in the component).
    *
    * Each round is two join+aggregate passes over the edge list; the
    * convergence check is one tiny (count, checksum) aggregate per round.
    */
  def connectedComponentsStar(nodes: DataFrame, edges: DataFrame,
                              idCol: String, maxIter: Int = 30): DataFrame = {
    val e0 = edges
      .select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .filter(col("u") =!= col("v"))

    // large-star: per node u over its full neighborhood N(u), m = min(N ∪
    // {u}); every larger neighbor rewires to m. No per-node neighbor list
    // is ever materialized — the min is an aggregate, the emit is a join.
    def largeStar(es: DataFrame): DataFrame = {
      val sym = es.union(es.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      sym.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // small-star: per node u over its SMALLER neighbors N- (edges stored
    // larger→smaller), m = min(N-); all of N- ∪ {u} except m rewires to m.
    def smallStar(es: DataFrame): DataFrame = {
      val dir = es.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      dir.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }

    var e = e0.distinct().transform(Materialize.seam)
    var iter = 0
    var converged = e.isEmpty
    var lastSig: (Long, Long) = null
    while (!converged && iter < maxIter) {
      e = smallStar(largeStar(e)).transform(Materialize.seam)
      // count + order-independent xor checksum (sum would overflow ANSI
      // long arithmetic); the edge list is distinct, so equal signatures
      // mean the fixpoint with overwhelming probability.
      val sigRow = e.agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)))
        .collect()(0)
      val sig = (sigRow.getLong(0), sigRow.getLong(1))
      converged = sig == lastSig || sig._1 == 0L
      lastSig = sig
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxIter rounds")

    // At the fixpoint the edge set is stars (node → component min).
    val labels = e.groupBy(col("u")).agg(min(col("v")).as("cluster_id"))
    nodes.select(col(idCol))
      .join(labels.withColumnRenamed("u", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
  }

  /** Transitive near-duplicate clusters: every document labeled with the
    * smallest doc id of its near-dup component. [[dropNearDuplicates]] is
    * the greedy single-pass form (drops direct losers only); this is the
    * cluster-complete form a corpus-level dedup pass wants — keep
    * `cluster_id == id` rows for one-representative-per-component.
    */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, numHashes: Int = 8,
                      rowsPerBand: Int = 2, k: Int = 3,
                      maxPerBucket: Int = 0): DataFrame = {
    val pairs = nearDupPairs(df, idCol, textCol, threshold, numHashes, rowsPerBand, k,
        maxPerBucket)
      .select(col("id_a"), col("id_b"))
    // Auto-select: min-label for the shallow components near-dup graphs
    // form, star fallback so a pathological long chain converges instead
    // of throwing at the iteration budget.
    connectedComponentsAuto(df.select(col(idCol)), pairs, idCol)
  }

  /** Cluster-complete dedup output: one representative (the smallest id)
    * per transitive near-dup component — the corpus a training run keeps.
    * Unlike [[dropNearDuplicates]] (greedy over direct pairs), a doc
    * chained to a smaller id through intermediates is dropped here.
    */
  def dropNearDuplicatesClustered(df: DataFrame, idCol: String, textCol: String,
                                  threshold: Double, numHashes: Int = 8,
                                  rowsPerBand: Int = 2, k: Int = 3,
                                  maxPerBucket: Int = 0): DataFrame = {
    val reps = nearDupClusters(df, idCol, textCol, threshold, numHashes, rowsPerBand, k,
        maxPerBucket)
      .filter(col(idCol) === col("cluster_id"))
      .select(col(idCol))
    df.join(reps, Seq(idCol), "left_semi")
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD 2003 —
    * the MOSS scheme): hash every positional k-shingle ([[polyHash]], the
    * same engine-portable rolling polynomial fold as the rest of the
    * dedup stack), slide a window of `w` consecutive hashes, keep each
    * window's minimum, dedupe. Guarantees: any shared substring of length
    * >= w+k-1 tokens yields at least one shared fingerprint, and the
    * selected density is ~2/(w+1) of all shingles — a tunable sketch for
    * partial-overlap detection (quotes, boilerplate paragraphs) where
    * whole-document MinHash washes out.
    *
    * One explode + one window per doc ordered by position (the window's
    * partitionBy exchange is the only shuffle before the distinct).
    * Output: (idCol, fingerprint) distinct.
    */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 3, w: Int = 4): DataFrame = {
    val toks = df.select(col(idCol), split(col(textCol), " ").as("__toks"))
    val sh = TextFunctions.shinglesOfTokens(col("__toks"), k)
    val positioned = toks
      .select(col(idCol), posexplode(sh).as(Seq("__pos", "__shingle")))
      .select(col(idCol), col("__pos"), polyHash(col("__shingle")).as("__hv"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val minWin = win.rowsBetween(Window.currentRow, w - 1)
    positioned
      .withColumn("__fp", min(col("__hv")).over(minWin))
      .withColumn("__m", count(lit(1)).over(win.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      // only full windows select a fingerprint (positions 0 .. m-w)
      .filter(col("__pos") <= col("__m") - w)
      .select(col(idCol), col("__fp").as("fingerprint"))
      .distinct()
  }

  /** Keep the first row per key by the given ordering — the deterministic
    * form of dropDuplicates. One window, no extra shuffle beyond the
    * partitionBy exchange.
    */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Content-defined chunking (the Rabin/gear-CDC idea at token
    * granularity): a chunk boundary falls AFTER position p whenever the
    * polyHash of the w-token window ending at p is ≡ 0 mod `divisor` —
    * so boundaries are decided by CONTENT, not offsets, and an insertion
    * near the front of a document only perturbs the chunks it touches
    * (fixed-stride chunking like q84/q113 reshifts everything after it).
    * Expected chunk length ≈ `divisor` tokens. Output: one row per
    * (idCol, chunk_idx) with the token count and the chunk's polyHash —
    * the unit a chunk-level dedup store keys on.
    *
    * Scale shape: boundary detection is NARROW (per-row window hash);
    * the chunk-id prefix sum and the chunk re-assembly are one
    * window + one aggregate over (doc, pos) rows, both partitioned by
    * document — linear, no quadratic per-row array folds (the in-row
    * prefix-sum alternative copies O(len²)). Chunk text is re-hashed to
    * an 8-byte id before anything corpus-wide would join on it.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                w: Int = 3, divisor: Long = 8L): DataFrame = {
    require(w >= 1 && divisor >= 2, s"need w >= 1, divisor >= 2; got $w, $divisor")
    // One narrow kernel call per row, then a posexplode — no per-token
    // explode, no per-document window, no reassembly aggregate (the
    // relational formulation below stays as the CdcSpec parity
    // reference). chunk_idx = array position, identical to the window
    // cumsum by construction.
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val chunksCol = ColumnBridge.column(
      graft.functions.expressions.CdcChunks(
        ColumnBridge.expression(col(textCol)), w, divisor, M))
    df.select(col(idCol), posexplode(chunksCol).as(Seq("__ci", "__st")))
      .select(col(idCol), col("__ci").cast("long").as("chunk_idx"),
        col("__st.n_tokens").as("n_tokens"),
        col("__st.chunk_hash").as("chunk_hash"))
  }

  /** The exploded relational formulation of [[cdcChunks]] — the
    * CdcSpec-pinned parity reference (per-token explode + per-document
    * window + reassembly aggregate), not the hot path.
    */
  private[operators] def cdcChunksRelational(
      df: DataFrame, idCol: String, textCol: String,
      w: Int = 3, divisor: Long = 8L): DataFrame = {
    require(w >= 1 && divisor >= 2, s"need w >= 1, divisor >= 2; got $w, $divisor")
    val toks = df.select(col(idCol), split(col(textCol), " ").as("__l"))
    val pos = toks
      .select(col(idCol), col("__l"),
        posexplode(col("__l")).as(Seq("__p0", "tok")))
      .select(col(idCol), col("tok"), (col("__p0") + 1).cast("long").as("pos"),
        // the w-token window ENDING at this position (null when pos < w)
        when(col("__p0") + 1 >= w,
          concat_ws(" ", (w - 1 to 0 by -1).map(j =>
            element_at(col("__l"), (col("__p0") + 1 - j).cast("int"))): _*))
          .as("__shEnd"))
    val flagged = pos.withColumn("__b",
      when(col("__shEnd").isNotNull && polyHash(col("__shEnd")) % divisor === 0, 1L)
        .otherwise(0L))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val withChunk = flagged.withColumn("chunk_idx",
      coalesce(sum(col("__b")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    withChunk.groupBy(col(idCol), col("chunk_idx"))
      .agg(count(lit(1)).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          p => p.getField("tok")), " ").as("__chunk"))
      .select(col(idCol), col("chunk_idx"), col("n_tokens"),
        polyHash(col("__chunk")).as("chunk_hash"))
  }

  /** Per-ROW form of [[cdcChunks]]: the document's CDC chunk hashes as
    * one array column, computed entirely narrowly (HOF fold over the
    * token list — no explode, no window, no aggregation). This is the
    * projection form streaming needs: it composes with Append-mode
    * pipelines the way [[minhashSignatureCol]] does for MinHash.
    * Chunk-hash parity with the relational [[cdcChunks]] is spec-pinned
    * (CdcSpec). Null text yields null (callers filter), matching the
    * batch drop-null convention.
    *
    * The fold accumulates the current chunk with a leading-space
    * sentinel (the [[graft.operators.Bpe]] pieces-string trick) so an
    * empty token is distinguishable from "no chunk open".
    */
  def cdcChunkHashesCol(text: Column, w: Int = 3, divisor: Long = 8L): Column = {
    require(w >= 1 && divisor >= 2, s"need w >= 1, divisor >= 2; got $w, $divisor")
    // native kernel per row; the hash projection iterates CHUNKS (a few
    // per document), not tokens — the old per-token HOF fold (kept
    // below as the parity reference) also built O(len²) intermediate
    // strings
    import org.apache.spark.sql.graftbridge.ColumnBridge
    transform(ColumnBridge.column(graft.functions.expressions.CdcChunks(
        ColumnBridge.expression(text), w, divisor, M)),
      st => st.getField("chunk_hash"))
  }

  /** The per-token HOF fold formulation of [[cdcChunkHashesCol]] — the
    * CdcSpec-pinned parity reference, not the hot path.
    */
  private[operators] def cdcChunkHashesColViaHof(
      text: Column, w: Int = 3, divisor: Long = 8L): Column = {
    require(w >= 1 && divisor >= 2, s"need w >= 1, divisor >= 2; got $w, $divisor")
    val ts = split(text, " ")
    // Boundary AT position p (1-based): the rolling w-gram ending at p
    // hashes to 0 mod divisor — identical to cdcChunks' flag.
    val flags = transform(sequence(lit(1), size(ts)), p =>
      when(p >= w,
        polyHash(array_join(slice(ts, p - w + 1, lit(w)), " ")) % divisor === 0L)
        .otherwise(lit(false)))
    val zipped = zip_with(ts, flags, (t, f) => struct(t.as("t"), f.as("f")))
    val chunkOf = (cur: Column) => polyHash(cur.substr(lit(2), length(cur)))
    aggregate(zipped,
      struct(array().cast("array<bigint>").as("hs"), lit("").as("cur")),
      (acc, x) => {
        val cur2 = concat(acc.getField("cur"), lit(" "), x.getField("t"))
        struct(
          when(x.getField("f"),
            concat(acc.getField("hs"), array(chunkOf(cur2))))
            .otherwise(acc.getField("hs")).as("hs"),
          when(x.getField("f"), lit("")).otherwise(cur2).as("cur"))
      },
      acc => when(length(acc.getField("cur")) > 0,
        concat(acc.getField("hs"), array(chunkOf(acc.getField("cur")))))
        .otherwise(acc.getField("hs")))
  }

  /** Near-duplicate document pairs via content-defined chunk
    * fingerprints — the backup-dedup resemblance measure (Jaccard over
    * [[cdcChunks]] hash sets) applied to corpus near-dup detection.
    * CDC boundaries survive insertions (CdcSpec), so two documents
    * differing by an inserted sentence still share most chunk hashes —
    * the edit-robustness MinHash approximates, computed here exactly.
    *
    * Common chunks (document frequency > `maxDf`) are boilerplate, not
    * identity signal, and are excluded from BOTH the intersection and
    * the per-document set sizes — the same principle as
    * [[boilerplateStats]]/q139, and the bound that keeps the pair space
    * from exploding on a viral chunk: pairs only form inside a chunk's
    * posting list, Σ df² with df <= maxDf.
    *
    * Output: (id_a, id_b) with id_a < id_b, shared rare-chunk count,
    * each side's rare-chunk count, and the exact scaled Jaccard
    * `jac_ppm = (1e6 * shared) div (n_a + n_b - shared)` (integer —
    * engine-portable), filtered to `jac_ppm >= minJacPpm`.
    */
  /** The rare-chunk machinery shared by [[cdcNearDupPairs]] and the
    * cross-signal consistency report
    * ([[Similarity.crossSignalPairs]]): `rare` = distinct (id,
    * chunk_hash) rows whose chunk document frequency is in (1, maxDf]
    * (the pair-generating postings), `perDoc` = (idCol, __n) rare-
    * eligible set sizes (df <= maxDf — singletons count toward size,
    * boilerplate counts toward neither).
    */
  private[operators] def cdcRareSets(df: DataFrame, idCol: String,
      textCol: String, w: Int, divisor: Long, maxDf: Long)
      : (DataFrame, DataFrame) = {
    val sets = cdcChunks(df, idCol, textCol, w, divisor)
      .select(col(idCol), col("chunk_hash")).distinct()
    val dfreq = sets.groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("__df"))
    val rare = sets.join(dfreq.filter(col("__df") > 1L && col("__df") <= maxDf)
        .select(col("chunk_hash")), "chunk_hash")
    val perDoc = sets.join(dfreq.filter(col("__df") <= maxDf)
        .select(col("chunk_hash")), "chunk_hash")
      .groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    (rare, perDoc)
  }

  def cdcNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                      w: Int = 3, divisor: Long = 8L, maxDf: Long = 10L,
                      minJacPpm: Long = 500000L): DataFrame = {
    val (rare, perDoc) = cdcRareSets(df, idCol, textCol, w, divisor, maxDf)
    val a = rare.select(col("chunk_hash"), col(idCol).as("id_a"))
    val b = rare.select(col("chunk_hash"), col(idCol).as("id_b"))
    val shared = a.join(b, "chunk_hash")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_chunks"))
    shared
      .join(perDoc.select(col(idCol).as("id_a"), col("__n").as("n_a")), "id_a")
      .join(perDoc.select(col(idCol).as("id_b"), col("__n").as("n_b")), "id_b")
      .withColumn("jac_ppm", expr(
        "(1000000L * shared_chunks) div (n_a + n_b - shared_chunks)"))
      .filter(col("jac_ppm") >= minJacPpm)
      .select(col("id_a"), col("id_b"), col("shared_chunks"),
        col("n_a"), col("n_b"), col("jac_ppm"))
  }

  /** Incremental [[cdcNearDupPairs]] — the recurring-ingest form: every
    * pair involves at least one `batch` document; history×history pairs
    * are NEVER generated (the q97/q130 incremental contract at the CDC
    * granularity). Chunk document frequencies and per-document set
    * sizes are computed over history ∪ batch, so a chunk that becomes
    * boilerplate only once the batch lands is already excluded.
    *
    * Output adds `other_in_history`; batch×batch pairs keep the
    * `id_a < id_b` orientation, batch×history pairs put the batch
    * document first.
    */
  def cdcNearDupPairsIncremental(history: DataFrame, batch: DataFrame,
                                 idCol: String, textCol: String,
                                 w: Int = 3, divisor: Long = 8L,
                                 maxDf: Long = 10L,
                                 minJacPpm: Long = 500000L): DataFrame = {
    def sets(df: DataFrame, h: Boolean) =
      cdcChunks(df, idCol, textCol, w, divisor)
        .select(col(idCol), col("chunk_hash")).distinct()
        .withColumn("__h", lit(h))
    val all = sets(history, h = true).unionAll(sets(batch, h = false))
    val dfreq = all.groupBy(col("chunk_hash")).agg(count(lit(1)).as("__df"))
    val kept = all.join(dfreq.filter(col("__df") <= maxDf)
      .select(col("chunk_hash"), col("__df")), "chunk_hash")
    val perDoc = kept.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    val rare = kept.filter(col("__df") > 1L)
    val a = rare.filter(!col("__h"))
      .select(col("chunk_hash"), col(idCol).as("id_a"))
    val b = rare.select(col("chunk_hash"), col(idCol).as("id_b"), col("__h"))
    val shared = a.join(b, "chunk_hash")
      .filter(col("id_a") =!= col("id_b") &&
        (col("__h") || col("id_a") < col("id_b")))
      .groupBy(col("id_a"), col("id_b"), col("__h"))
      .agg(count(lit(1)).as("shared_chunks"))
    shared
      .join(perDoc.select(col(idCol).as("id_a"), col("__n").as("n_a")), "id_a")
      .join(perDoc.select(col(idCol).as("id_b"), col("__n").as("n_b")), "id_b")
      .withColumn("jac_ppm", expr(
        "(1000000L * shared_chunks) div (n_a + n_b - shared_chunks)"))
      .filter(col("jac_ppm") >= minJacPpm)
      .select(col("id_a"), col("id_b"), col("shared_chunks"),
        col("n_a"), col("n_b"), col("jac_ppm"),
        col("__h").as("other_in_history"))
  }

  /** Corpus-boilerplate phrase statistics — the line-dedup analogue for
    * newline-free corpora (RefinedWeb/CCNet drop lines repeated across
    * many pages; here the repeated unit is the k-token phrase). A phrase
    * is boilerplate when it occurs in >= `minDocs` DISTINCT documents.
    * One row per input document: total k-gram occurrences, how many of
    * those occurrences are boilerplate, and the boilerplate fraction
    * (0.0 for documents too short to have any k-gram).
    *
    * Scale shape: ONE tokenise/shingle/hash pass (narrow), collapsed to
    * per-(phrase, doc) occurrence counts; the distinct-document frequency
    * of a phrase is a map-side-combinable groupBy(tid) aggregate joined
    * back — NOT a window over the tid partition: a boilerplate phrase is
    * by definition a hot key (present in ~all documents), and a window
    * would buffer its ~n_docs rows in ONE WindowExec task, while the
    * aggregate collapses the hot key per map task and AQE's skew-join
    * splitting handles the join-back. No second corpus scan and no
    * self-join. Shuffles: the (tid, doc) aggregate, the tid aggregate +
    * join-back, and the final per-document aggregate, all shipping
    * 8-byte polyHash ids, never phrase strings — hash collisions affect
    * the DuckDB oracle identically because it replays the same fold.
    */
  def boilerplateStats(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 5, minDocs: Int = 2): DataFrame = {
    // Null-id rows are excluded up front: they could never receive a
    // stats row (the final join is on the id), and filtering HERE keeps
    // the occ and dfreq branches byte-identical so they share one
    // canonical exchange (the outer join infers IsNotNull(id) into only
    // one branch otherwise, forcing a second shingle pass).
    val occ = shingleIdsPoly(df.filter(col(idCol).isNotNull), idCol, textCol,
        k = k, distinct = false)
      .groupBy(col("tid"), col(idCol)).agg(count(lit(1)).as("__c"))
    // each row is a distinct (tid, doc): document frequency by
    // aggregate + join-back (skew-safe; see scale shape above).
    // sum(least(__c, 1)), not count(1): the value is identical (every
    // row has __c >= 1) but referencing __c stops the optimizer from
    // rewriting this branch's copy of the (tid, doc) aggregate into a
    // bare distinct — both consumers keep ONE canonical exchange
    // (single shingle pass, ReuseExchange; plan-pinned in PlanSpec q120).
    val dfreq = occ.groupBy(col("tid"))
      .agg(sum(least(col("__c"), lit(1L))).as("__nd"))
    val stats = occ.join(dfreq, "tid")
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_phrases"),
        sum(when(col("__nd") >= minDocs, col("__c")).otherwise(0L)).as("n_boiler"))
    df.select(col(idCol))
      .join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_phrases"), lit(0L)).as("n_phrases"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        coalesce(col("n_boiler").cast("double") / col("n_phrases"), lit(0.0))
          .as("boiler_frac"))
  }

  /** Common-chunk removal (the CCNet paragraph-dedup shape, Wenzek et
    * al. 2020, arXiv:1911.00359 — there: drop paragraphs whose hash is
    * shared across documents; here: fixed `chunkTokens`-token chunks,
    * exact text key): every chunk appearing in more than `maxDf`
    * DISTINCT documents is removed from all of them, and each document
    * is rebuilt from its surviving chunks in order.
    *
    * Scale shape: chunking is narrow per-row array work; document
    * frequency is distinct-(chunk, doc) + groupBy(chunk) — map-side
    * combinable, no window over the chunk partition (a boilerplate
    * chunk is by definition a hot key, the [[boilerplateStats]]
    * argument). The removal is a LEFT ANTI join against only the
    * OVER-THRESHOLD chunk set — tiny relative to the corpus (it's the
    * boilerplate), so AQE broadcasts it; the corpus-sized side never
    * carries per-chunk counts. Rebuild is one groupBy(doc) with an
    * in-group sort bounded by document length.
    *
    * Output: (idCol, cleaned_text, n_chunks, n_kept) — documents whose
    * every chunk was boilerplate survive with empty cleaned_text.
    */
  def removeCommonChunks(df: DataFrame, idCol: String, textCol: String,
                         chunkTokens: Int = 8, maxDf: Long = 1L): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    val base = df.select(col(idCol), split(col(textCol), " ").as("__ts"))
    val chunks = base.select(col(idCol),
        posexplode(transform(
          sequence(lit(0),
            ceil(size(col("__ts")) / lit(chunkTokens.toDouble)).cast("int") - 1),
          g => array_join(
            slice(col("__ts"), g * chunkTokens + 1, lit(chunkTokens)), " ")))
          .as(Seq("cpos", "chunk")))
    val hot = chunks.select(col("chunk"), col(idCol)).distinct()
      .groupBy(col("chunk")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf).select(col("chunk"))
    val kept = chunks.join(hot, Seq("chunk"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("cpos"), col("chunk")))),
          x => x.getField("chunk")), " ").as("cleaned_text"),
        count(lit(1)).cast("long").as("n_kept"))
    base.select(col(idCol),
        ceil(size(col("__ts")) / lit(chunkTokens.toDouble)).cast("long")
          .as("n_chunks"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"),
        col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Exact duplicated-substring spans (the ExactSubstr pass of Lee et
    * al. 2021, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499 — reference uses a suffix array; this is
    * the shingle-index re-expression that distributes): every maximal
    * run of >= `minLen` consecutive tokens that also appears somewhere
    * ELSE in the corpus (another document, or another position of the
    * same document) is reported as one (doc, span) row. A downstream
    * cut pass can then drop exactly those byte ranges instead of whole
    * documents — the reason ExactSubstr removes ~2x more duplicate text
    * than document-level MinHash at web scale.
    *
    * Method: a token run of length L >= minLen is duplicated iff every
    * one of its minLen-grams is duplicated, so (1) hash every
    * minLen-gram WITH its position (one narrow pass, 8-byte polyHash
    * ids — same collision behavior in the oracle, which replays the
    * fold); (2) keep the grams whose global occurrence count is > 1 —
    * a map-side-combinable groupBy(tid) + join-back, NOT a window over
    * the tid partition (a boilerplate gram is a hot key; see
    * [[boilerplateStats]]); (3) merge overlapping-or-adjacent fixed-
    * length spans [pos, pos+minLen-1] per document by gaps-and-islands
    * (two windows partitioned by DOCUMENT — bounded by document length,
    * never corpus-sized).
    *
    * Output: (idCol, span_start, span_end, span_tokens), token
    * positions 1-based inclusive.
    */
  def exactSubstringSpans(df: DataFrame, idCol: String, textCol: String,
                          minLen: Int = 8): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val toks = df.select(col(idCol), split(col(textCol), " ").as("__toks"))
    val occ = toks
      .select(col(idCol),
        posexplode(TextFunctions.shinglesOfTokens(col("__toks"), minLen))
          .as(Seq("__p0", "__sh")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("pos"),
        polyHash(col("__sh")).as("tid"))
    val dup = occ.groupBy(col("tid")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).select(col("tid"))
    val dupOcc = occ.join(dup, "tid").select(col(idCol), col("pos"))
    mergeSpans(dupOcc, idCol, minLen)
  }

  /** Merge flagged fixed-length gram positions into maximal per-document
    * spans. Fixed-length spans sorted by start have monotone ends, so
    * the running-max-end islands test collapses to one lag: a new island
    * starts when the gap to the previous start exceeds minLen
    * (pos == prev + minLen is adjacency — still one contiguous run).
    */
  private def mergeSpans(dupOcc: DataFrame, idCol: String, minLen: Int): DataFrame = {
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val islands = dupOcc
      .withColumn("__new",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > minLen, 1L)
          .otherwise(0L)) // first row: NULL comparison -> otherwise -> 0
      .withColumn("__isl", sum(col("__new")).over(byDoc))
    islands.groupBy(col(idCol), col("__isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (minLen - 1)).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_tokens"))
  }

  /** Span-level benchmark decontamination — [[exactSubstringSpans]]
    * across corpora (Lee et al. 2021 applied train-vs-test): every
    * maximal corpus token run of >= minLen tokens that ALSO occurs in
    * the held-out bench set, as merged per-document spans — the unit a
    * decontamination cut removes. Where [[contaminationStats]] counts
    * shared shingles per document (the gate), this reports WHERE the
    * contamination sits (the surgery).
    *
    * Scale shape: corpus work is the same one narrow positional-gram
    * pass as exactSubstringSpans; the bench gram ids are a distinct
    * aggregate of the (small) bench side, broadcast into the flag join —
    * the corpus never exchanges before the per-document islands window
    * (partitioned by doc, bounded by the document's own flagged grams).
    */
  def crossCorpusSpans(corpus: DataFrame, bench: DataFrame,
                       idCol: String, textCol: String,
                       minLen: Int = 8): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    def occOf(df: DataFrame) = df
      .select(col(idCol), split(col(textCol), " ").as("__toks"))
      .select(col(idCol),
        posexplode(TextFunctions.shinglesOfTokens(col("__toks"), minLen))
          .as(Seq("__p0", "__sh")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("pos"),
        polyHash(col("__sh")).as("tid"))
    val benchTids = occOf(bench).select(col("tid")).distinct()
    val dupOcc = occOf(corpus)
      .join(broadcast(benchTids), "tid")
      .select(col(idCol), col("pos"))
    mergeSpans(dupOcc, idCol, minLen)
  }

  /** The CUT step of ExactSubstr dedup: remove every
    * [[exactSubstringSpans]] span from its document and return the
    * remaining text — the output Lee et al. 2021 actually train on
    * (duplicated PASSAGES disappear; the documents survive).
    *
    * Scale shape: spans explode to their (doc, pos) members (bounded by
    * the document's own length), the kept tokens are a LEFT ANTI
    * equi-join on (doc, pos) — no range join, no per-row interval
    * scans — and reassembly is the per-document sort-in-aggregate
    * pattern of [[cdcChunks]]. Documents with nothing duplicated pass
    * through via the final left join.
    *
    * Output: (idCol, cleaned_text, n_kept, n_removed).
    */
  def exactSubstringCut(df: DataFrame, idCol: String, textCol: String,
                        minLen: Int = 8): DataFrame = {
    val spans = exactSubstringSpans(df, idCol, textCol, minLen)
    val cutPos = spans.select(col(idCol),
      explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val toks = df
      .select(col(idCol), posexplode(split(col(textCol), " "))
        .as(Seq("__p0", "tok")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("pos"), col("tok"))
    val kept = toks.join(cutPos, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          p => p.getField("tok")), " ").as("cleaned_text"))
    df.select(col(idCol),
        size(split(col(textCol), " ")).cast("long").as("__n_orig"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n_orig") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }
}
