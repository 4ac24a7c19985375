package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LM training batch prep: concatenate documents in
  * a deterministic order and cut the token stream into fixed-capacity
  * bins (the "concat and chunk" scheme every large pretraining run uses
  * to avoid padding waste). `/root/reference` has no analytics surface —
  * this is part of the training-data-pipeline inventory layered on top
  * (SURVEY.md §2 Part B).
  *
  * The global running offset is computed with the two-phase shape that
  * survives 100 TB: a within-bucket window cumsum (parallel across
  * buckets) plus a broadcast prefix-total per bucket. The only global
  * step is the window over BUCKET TOTALS — thousands of rows, not
  * documents — the documented bounded-single-partition pattern
  * (SCALING.md), identical to how q111 decomposes its trailing window.
  */
object Packing {

  /** Per-document packing positions over `orderCol` (an INTEGRAL id that
    * defines the concatenation order and the bucketing: bucket =
    * floorDiv(orderCol, bucketWidth) — contiguity is not required,
    * monotonicity is). Output: one row per input row with
    * (orderCol, n_tokens, start_off, first_bin, last_bin).
    *
    * Zero-token documents get last_bin == first_bin (the bin their
    * start offset falls in — they occupy no tokens but still carry a
    * position), the same clamp the streaming counterpart
    * [[graft.streaming.PackingStream]] applies; batch == stream on
    * every row, zero-token rows included (StreamingSpec parity pin).
    */
  def packPositions(df: DataFrame, orderCol: String, nTokensCol: String,
                    capacity: Long, bucketWidth: Long = 100000L): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    // Exact integer floor-div for the bucket id: a double cast loses
    // precision beyond 2^53 (64-bit hash-derived order keys), which
    // could place edge rows in the wrong bucket and corrupt the prefix
    // sum. pmod keeps the floor semantics for negative keys.
    val base = df.select(col(orderCol),
        col(nTokensCol).cast("long").as("__n"))
      .withColumn("__b",
        expr(s"(CAST($orderCol AS BIGINT) - pmod(CAST($orderCol AS BIGINT), " +
          s"${bucketWidth}L)) div ${bucketWidth}L"))
    // Phase 1: cumsum within each bucket (parallel over buckets).
    val inBucket = Window.partitionBy(col("__b")).orderBy(col(orderCol))
    val local = base.withColumn("__cum_in", sum(col("__n")).over(inBucket))
    // Phase 2: exclusive prefix of bucket totals — rows = #buckets, a
    // bounded single-partition window over the AGGREGATED totals only.
    val totals = base.groupBy(col("__b")).agg(sum(col("__n")).as("__bt"))
    val prefW = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefixes = totals
      .withColumn("__pre", sum(col("__bt")).over(prefW) - col("__bt"))
      .select(col("__b"), col("__pre"))
    local.join(broadcast(prefixes), "__b")
      .select(col(orderCol), col("__n").as("n_tokens"),
        (col("__pre") + col("__cum_in") - col("__n")).as("start_off"))
      // Integer div throughout (start_off >= 0, so truncation == floor):
      // double division would lose exactness past 2^53 total tokens.
      .withColumn("first_bin", expr(s"start_off div ${capacity}L"))
      .withColumn("last_bin",
        expr(s"(start_off + greatest(n_tokens, 1L) - 1L) div ${capacity}L"))
  }

  /** Per-bin packing summary: how many documents overlap each bin, how
    * many start in it, and the bin's token fill (== capacity for every
    * bin but the last — the no-padding invariant). The explode is bounded
    * by doc_tokens/capacity + 1 spanned bins per document.
    */
  def packBins(df: DataFrame, orderCol: String, nTokensCol: String,
               capacity: Long, bucketWidth: Long = 100000L): DataFrame = {
    val pos = packPositions(df, orderCol, nTokensCol, capacity, bucketWidth)
    pos.filter(col("n_tokens") > 0)
      .select(col("start_off"), col("n_tokens"), col("first_bin"),
        explode(sequence(col("first_bin"), col("last_bin"))).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("first_bin") === col("bin"), 1L).otherwise(0L)).as("n_starting"),
        sum(least(col("start_off") + col("n_tokens"), (col("bin") + 1) * capacity)
          - greatest(col("start_off"), col("bin") * capacity)).as("n_tokens"))
  }

  /** Document-PRESERVING packing: assign every document to exactly one
    * fixed-capacity bin, never splitting a document across bins — the
    * packing mode for SFT / instruction-tuning batches where an example
    * must stay contiguous (concat-and-chunk's split-anywhere contract is
    * wrong there). First-fit-decreasing, the classic near-optimal
    * heuristic, is inherently sequential; this is the HARMONIC shelf
    * scheme (the size-class family behind harmonic bin packing, Lee &
    * Lee JACM 1985): documents are classed by size so each class packs a
    * fixed count per bin, which makes the assignment pure parallel
    * arithmetic with a provable fill bound instead of a sequential scan.
    *
    *  - class 0 (n > capacity): oversize, one document per bin (flagged
    *    for the caller to truncate or re-split);
    *  - class k in [1, m): n in (capacity/(k+1), capacity/k] — exactly k
    *    documents per bin, so a full bin holds > capacity·k/(k+1);
    *  - class m (n <= capacity/m): cumulative-sum chunking at threshold
    *    T = capacity − capacity div m: a document starting (in in-class
    *    id order) at running offset p goes to bin p div T; bin total <=
    *    T + max_len <= capacity, and every non-final bin covers >= T −
    *    max_len tokens.
    *
    * So every bin's total is <= capacity by construction, and every full
    * bin is at least (m−1)/m-ish full — the tuning knob m trades class
    * count for the worst-case fill bound.
    *
    * Scale shape: classing is narrow per-row arithmetic; the in-class
    * rank/cumsum is the house two-phase pattern run PER CLASS — the
    * in-bucket window parallelizes over (class, id-bucket) and only the
    * (class, bucket) TOTALS — a bounded table — see a single-partition
    * prefix window per class. Nothing global touches corpus rows.
    *
    * Output: one row per input row — (idCol, n_tokens, size_class,
    * bin), `bin` 0-based within its class.
    */
  def packWhole(df: DataFrame, idCol: String, nTokensCol: String,
                capacity: Long, m: Int = 8,
                bucketWidth: Long = 100000L): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    require(m >= 2, s"need at least 2 size classes, got $m")
    val tailMax = capacity / m
    val t = capacity - tailMax // tail-class chunking threshold
    // null token counts behave as 0 (tail class, weight 0) — a null
    // would otherwise fall through every class predicate
    val base = df.select(col(idCol),
        coalesce(col(nTokensCol).cast("long"), lit(0L)).as("__n"))
      .withColumn("__sc",
        when(col("__n") > capacity, 0L)
          .when(col("__n") <= 0L, m.toLong)
          .otherwise(least(expr(s"${capacity}L div __n"), lit(m.toLong))))
      // rank classes advance by 1 per doc; the tail class advances by
      // token count (zero-token docs advance 0 — they land at the
      // current offset's bin deterministically)
      .withColumn("__w",
        when(col("__sc") === m.toLong, greatest(col("__n"), lit(0L)))
          .otherwise(lit(1L)))
      .withColumn("__b",
        expr(s"(CAST($idCol AS BIGINT) - pmod(CAST($idCol AS BIGINT), " +
          s"${bucketWidth}L)) div ${bucketWidth}L"))
    val inBucket = Window.partitionBy(col("__sc"), col("__b"))
      .orderBy(col(idCol))
    val local = base.withColumn("__cum_in", sum(col("__w")).over(inBucket))
    val totals = base.groupBy(col("__sc"), col("__b"))
      .agg(sum(col("__w")).as("__bt"))
    val prefW = Window.partitionBy(col("__sc")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefixes = totals
      .withColumn("__pre", sum(col("__bt")).over(prefW) - col("__bt"))
      .select(col("__sc"), col("__b"), col("__pre"))
    local.join(broadcast(prefixes), Seq("__sc", "__b"))
      .withColumn("__cum", col("__pre") + col("__cum_in"))
      .select(col(idCol), col("__n").as("n_tokens"),
        col("__sc").as("size_class"),
        when(col("__sc") === 0L, col("__cum") - 1L)
          .when(col("__sc") === m.toLong, expr(s"(__cum - __w) div ${t}L"))
          .otherwise(expr("(__cum - 1L) div __sc")).as("bin"))
  }

  /** Padding-waste report for LENGTH-BUCKETED batching — the inference /
    * SFT serving mode where documents are padded (not packed): documents
    * are grouped into power-of-two length buckets, batches of `batchSize`
    * are drawn within a bucket, and every document pads to its bucket
    * length. Per bucket: doc/token counts, batch count, and the padding
    * overhead in ppm of the padded slots — the table one reads to choose
    * bucket boundaries (vs. the naive pad-everything-to-max whose waste
    * the caller gets by comparing against a single-bucket run).
    *
    * The bucket is computed with exact INTEGER arithmetic — shiftleft by
    * the binary-string length of n−1 (ceil(log2) via float log would
    * misbucket exact powers of two on last-bit error). One narrow pass +
    * a bounded (≤ ~40 buckets) aggregate; no joins, no windows.
    *
    * Output: (bucket_len, n_docs, n_tokens, n_batches, pad_ppm),
    * zero-token docs in bucket_len 1.
    */
  def paddingReport(df: DataFrame, nTokensCol: String,
                    batchSize: Long): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    // null token counts behave as 0 (bucket_len 1) — same contract as
    // packWhole; a null would otherwise fall through the <= 1 predicate
    // into a NULL shiftleft bucket
    df.select(coalesce(col(nTokensCol).cast("long"), lit(0L)).as("__n"))
      .withColumn("bucket_len",
        when(col("__n") <= 1L, 1L)
          .otherwise(expr("shiftleft(1L, length(bin(__n - 1L)))")))
      .groupBy(col("bucket_len"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("n_tokens"))
      .withColumn("n_batches",
        expr(s"(n_docs + ${batchSize}L - 1L) div ${batchSize}L"))
      .withColumn("pad_ppm", expr(
        "((n_docs * bucket_len - n_tokens) * 1000000) div (n_docs * bucket_len)"))
      .select(col("bucket_len"), col("n_docs"), col("n_tokens"),
        col("n_batches"), col("pad_ppm"))
  }

  /** Capacity-tuning report: for each candidate bin capacity, the bin
    * count, stream fill fraction and the number of documents straddling
    * a bin boundary (the ones a causal-masking loader truncates or
    * re-splits) — the table one reads before choosing a sequence
    * length. ONE [[packPositions]] pass feeds every capacity: start
    * offsets are capacity-independent, so the per-capacity bins are a
    * narrow integer-div derivation and the report is a single
    * combinable aggregate over rows × |capacities|. All ppm arithmetic
    * is exact integer division.
    *
    * Output: (capacity, n_docs, total_tokens, n_bins, fill_ppm,
    * straddling_docs), one row per capacity.
    */
  def efficiencyReport(df: DataFrame, orderCol: String, nTokensCol: String,
      capacities: Seq[Long], bucketWidth: Long = 100000L): DataFrame = {
    require(capacities.nonEmpty && capacities.forall(_ > 0),
      s"capacities must be positive, got $capacities")
    val pos = packPositions(df, orderCol, nTokensCol, capacities.max, bucketWidth)
      .select(col("start_off"), col("n_tokens"))
    val caps = capacities.distinct.sorted.mkString("array(", "L, ", "L)")
    pos
      .select(col("start_off"), col("n_tokens"),
        explode(expr(caps)).as("capacity"))
      .groupBy(col("capacity"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(expr("start_off div capacity") =!=
            expr("(start_off + greatest(n_tokens, 1L) - 1L) div capacity"),
          1L).otherwise(0L)).as("straddling_docs"))
      .withColumn("n_bins", expr(
        "CASE WHEN total_tokens > 0 THEN (total_tokens - 1) div capacity + 1 " +
          "ELSE 0L END"))
      .withColumn("fill_ppm", expr(
        "CASE WHEN n_bins > 0 THEN (1000000 * total_tokens) div (n_bins * capacity) " +
          "ELSE 0L END"))
      .select(col("capacity"), col("n_docs"), col("total_tokens"),
        col("n_bins"), col("fill_ppm"), col("straddling_docs"))
  }
}
