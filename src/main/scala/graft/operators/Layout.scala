package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.runtime.Materialize

/** Write-side data-layout audit — the file-skipping half of the 100 TB
  * story, completing q106's zone-map view. A skipping reader prunes a
  * file when the probe range misses the file's per-column [min, max];
  * how much it prunes is decided by the ORDER rows were written in.
  * q106 reports bounding boxes per Z-KEY-SPACE bucket; this operator
  * reports them per EQUAL-ROW chunk — the actual files a writer emits —
  * and sets the Z-order layout against the lexicographic baseline on
  * the same rows, making the pruning win measurable.
  */
object LayoutAudit {

  /** Per-chunk bounding-box report: Z-order vs lexicographic (x, y)
    * layout. Both layouts assign every row a deterministic global
    * position, cut the order into `nChunks` equal chunks, and report
    * each chunk's row count, per-key [min, max] and bbox area — the
    * statistics zone maps store. The linear layout collapses the x
    * range per chunk and leaves y covering its full domain; Z-order
    * keeps both small.
    *
    * Determinism without a unique row id: rows are ranked by
    * (sort key, pid) where pid = x·(max_y+1)+y packs the coordinates —
    * rows tied on (key, pid) are IDENTICAL in every aggregated
    * attribute, so whichever side of a chunk boundary each lands on,
    * the per-chunk count/min/max/area are engine-independent (the
    * oracle replays with row_number over the same order). Positions
    * come from the house two-phase bucket cumsum
    * ([[Budget.takeByBudget]] with unit costs — no global-order window
    * over raw rows); coordinates are recovered from pid by integer
    * div/mod, so the corpus is never rejoined. Keys bucketize into
    * [0, 2^bits) by exact integer scaling off one bounded max-aggregate.
    *
    * Contracts: keys non-negative (nulls/negatives filtered, the q212
    * rule); x·(max_y+1)+y must fit a long (true for any real key pair).
    *
    * Output (2·nChunks rows): (layout, chunk, n, min_x, max_x, min_y,
    * max_y, bbox_area).
    */
  def zOrderReport(df: DataFrame, xCol: String, yCol: String,
                   bits: Int = 8, nChunks: Int = 64,
                   bucketWidth: Long = 1024L): DataFrame = {
    require(bits >= 1 && bits <= 20, s"bits must be in [1,20], got $bits")
    require(nChunks >= 1, s"nChunks must be positive, got $nChunks")
    val base = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        col(xCol) >= 0 && col(yCol) >= 0)
      .select(col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
    val mx = base.agg(max(col("__x")).as("__mx"), max(col("__y")).as("__my"),
      count(lit(1)).as("__n"))
    val b = base.crossJoin(broadcast(mx))
      .withColumn("__xb", expr(s"(__x * ${1L << bits}L) div (__mx + 1L)"))
      .withColumn("__yb", expr(s"(__y * ${1L << bits}L) div (__my + 1L)"))
      .withColumn("__pid", col("__x") * (col("__my") + 1L) + col("__y"))
      .withColumn("__zkey",
        graft.functions.Layout.interleaveBits(col("__xb"), col("__yb"), bits))
      // both layout rankings consume this narrow subtree — the house
      // twice-consumed-seam rule (q191/q193): 6.38 -> 1.65 s at sf0.1
      .transform(Materialize.lazySeam)
    def chunks(keyCol: String, label: String): DataFrame = {
      val ranked = Budget.takeByBudget(
        b.select(col("__pid"), (-col(keyCol)).as("__neg"), lit(1L).as("__one")),
        "__pid", "__neg", "__one", budget = Long.MaxValue, bucketWidth)
      ranked.crossJoin(broadcast(mx))
        .withColumn("__cx", expr("__pid div (__my + 1L)"))
        .withColumn("__cy", expr("pmod(__pid, __my + 1L)"))
        .withColumn("__csize", expr(s"(__n + ${nChunks}L - 1L) div ${nChunks}L"))
        .groupBy(lit(label).as("layout"),
          expr("(cum_cost - 1L) div __csize").as("chunk"))
        .agg(count(lit(1)).as("n"),
          min(col("__cx")).as("min_x"), max(col("__cx")).as("max_x"),
          min(col("__cy")).as("min_y"), max(col("__cy")).as("max_y"))
        .withColumn("bbox_area",
          (col("max_x") - col("min_x") + 1L) * (col("max_y") - col("min_y") + 1L))
    }
    // the lexicographic baseline sorts by pid itself — exactly (x, y)
    chunks("__zkey", "zorder").unionByName(chunks("__pid", "linear"))
  }

  /** Zone-map SKIP-RATE readout — the workload half of the skipping
    * question: [[zOrderReport]] reports the bounding boxes a layout
    * produces and [[sortednessReport]] how sorted each column already
    * is; this one answers what the reader actually GETS — for a table
    * written in `orderCol` order and a probe workload of ranges over
    * `valueCol`, how many equal-row chunks (files) a min/max-skipping
    * reader prunes, and the scan amplification left over. The
    * sort-by-time-probe-by-user anti-pattern becomes a number.
    *
    * Chunking is deterministic without a physical row order: rows rank
    * by (orderCol, valueCol) through the house two-phase bucket cumsum
    * (no global-order window; rows tied on both are identical in the
    * aggregated value, so chunk stats are engine-independent — the
    * zOrderReport pid rule), then cut into `nChunks` equal chunks. A
    * chunk is skipped for probe [lo, hi] iff its [min, max] misses the
    * range. Probes are a bounded driver list; per-probe rows assemble
    * driver-side (the fdStrength shape) from ONE chunk table and ONE
    * corpus aggregate.
    *
    * Output per probe: (probe_lo, probe_hi, n_chunks, skipped_chunks,
    * skip_ppm, rows_scanned, rows_selected) — rows_scanned is the cost
    * the reader pays, rows_selected what it wanted.
    */
  def skipRateReport(df: DataFrame, orderCol: String, valueCol: String,
                     probes: Seq[(Long, Long)], nChunks: Int = 64,
                     bucketWidth: Long = 4096L): DataFrame = {
    require(probes.nonEmpty, "need at least one probe range")
    require(nChunks >= 1, s"nChunks must be positive, got $nChunks")
    val base = df
      .filter(col(orderCol).isNotNull && col(valueCol).isNotNull)
      .select(col(orderCol).cast("long").as("__o"),
        col(valueCol).cast("long").as("__v"))
      .transform(Materialize.lazySeam) // ranked + selected-count consumers
    val tot = base.agg(count(lit(1)).as("__n"))
    val ranked = Budget.takeByBudget(
      base.select(col("__v").as("__id"), (-col("__o")).as("__neg"),
        lit(1L).as("__one")),
      "__id", "__neg", "__one", budget = Long.MaxValue, bucketWidth)
    val chunkTable = ranked.crossJoin(broadcast(tot))
      .withColumn("__csize", expr(s"(__n + ${nChunks}L - 1L) div ${nChunks}L"))
      .groupBy(expr("(cum_cost - 1L) div __csize").as("__chunk"))
      .agg(count(lit(1)).as("__cn"),
        min(col("__id")).as("__vmin"), max(col("__id")).as("__vmax"))
      .transform(Materialize.seam) // one probe sweep per probe
    val selCols = probes.zipWithIndex.map { case ((lo, hi), i) =>
      sum(when(col("__v") >= lo && col("__v") <= hi, 1L).otherwise(0L))
        .as(s"__sel$i")
    }
    val selected = base.agg(selCols.head, selCols.tail: _*)
      .transform(Materialize.seam)
    probes.zipWithIndex.map { case ((lo, hi), i) =>
      chunkTable
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("__vmax") < lo || col("__vmin") > hi, 1L)
            .otherwise(0L)).as("skipped_chunks"),
          sum(when(col("__vmax") < lo || col("__vmin") > hi, 0L)
            .otherwise(col("__cn"))).as("rows_scanned"))
        .crossJoin(broadcast(selected.select(col(s"__sel$i").as("rows_selected"))))
        .select(lit(lo).as("probe_lo"), lit(hi).as("probe_hi"),
          col("n_chunks"), col("skipped_chunks"),
          expr("(skipped_chunks * 1000000) div n_chunks").as("skip_ppm"),
          col("rows_scanned"), col("rows_selected"))
    }.reduce(_.unionByName(_))
  }

  /** Sort-key ADVISOR — the decision the rest of the layout family
    * informs ([[zOrderReport]] bounding boxes, [[sortednessReport]]
    * write-order, [[skipRateReport]] per-probe skip): for each
    * CANDIDATE sort key, replay the WHOLE probe workload and roll up
    * what the reader would pay — total rows scanned, workload skip
    * rate, and scan amplification (scanned / selected). The advised
    * key is the argmin of rows_scanned_total; emitting the full table
    * instead of just the winner keeps the margin visible (a 2%
    * win does not justify a rewrite; a 40x one does).
    *
    * Scale shape: ONE two-phase rank per CANDIDATE (not per
    * candidate × probed column — the chunk table is a function of the
    * layout's sort key only, so every probed column's [min, max]
    * rides the same pass; r9 verdict task 2 halved the rank passes),
    * then bounded rollups; candidates/probes are bounded driver lists
    * (the fdStrength assembly shape).
    *
    * Determinism of the shared chunk table: rows rank by
    * (orderCol, v₁, …, v_k) with the probed columns as tie-breaks in
    * column-name order — rows tied on the FULL key are identical in
    * every aggregated value, so each column's per-chunk [min, max] is
    * engine-independent (and, for the column that equals or follows
    * the old single-column tie-break, bit-identical to the 4-pass
    * form). Rows with a null order key or a null in ANY probed column
    * drop up front: one consistent row universe per candidate, so
    * every probe is scored against the same corpus.
    *
    * @param candidates (label, orderCol, bucketWidth) — bucketWidth is
    *                   the two-phase-rank bucket for THAT order column
    *                   (a day of micros for a timestamp, a small span
    *                   for a dense id)
    * @param probes     (valueCol, lo, hi) — the workload, weights via
    *                   repetition
    *
    * Output per candidate: (layout, n_probes, rows_scanned_total,
    * rows_selected_total, workload_skip_ppm, scan_amplification_ppm —
    * null when the workload selects nothing).
    */
  def sortKeyAdvisor(df: DataFrame,
                     candidates: Seq[(String, String, Long)],
                     probes: Seq[(String, Long, Long)],
                     nChunks: Int = 64): DataFrame = {
    require(candidates.nonEmpty, "need at least one candidate sort key")
    require(probes.nonEmpty, "need at least one probe")
    require(candidates.size <= 16 && probes.size <= 64,
      "bounded advisor grid")
    val byCol = probes.groupBy(_._1).toSeq.sortBy(_._1)
    val vcols = byCol.map(_._1)
    candidates.map { case (label, ord, bw) =>
      // One ranked pass per candidate; chunk table carries min/max
      // for ALL probed columns (see scaladoc determinism note).
      val base = df
        .filter(col(ord).isNotNull &&
          vcols.map(col(_).isNotNull).reduce(_ && _))
        .select(col(ord).cast("long").as("__o") +:
          vcols.zipWithIndex.map { case (v, i) =>
            col(v).cast("long").as(s"__v$i") }: _*)
        .transform(Materialize.lazySeam) // ranked + selected consumers
      val tot = base.agg(count(lit(1)).as("__n"))
      // two-phase rank = the shared bucket cumsum with unit weights
      // and a composite (o, v1..vk) tie-break (Budget.bucketCumsum —
      // the same machinery takeByBudget runs on)
      val ranked = Budget.bucketCumsum(base,
        expr(s"(__o - pmod(__o, ${bw}L)) div ${bw}L"),
        col("__o").asc +: vcols.indices.map(i => col(s"__v$i").asc),
        lit(1L))
      val chunkAggs = count(lit(1)).as("__cn") +:
        vcols.indices.flatMap(i => Seq(
          min(col(s"__v$i")).as(s"__vmin$i"),
          max(col(s"__v$i")).as(s"__vmax$i")))
      val chunkTable = ranked
        .crossJoin(broadcast(tot))
        .withColumn("__csize",
          expr(s"(__n + ${nChunks}L - 1L) div ${nChunks}L"))
        .groupBy(expr("(__cum - 1L) div __csize").as("__chunk"))
        .agg(chunkAggs.head, chunkAggs.tail: _*)
        .transform(Materialize.seam) // one probe sweep per probe
      // exact selected counts: every probe in ONE corpus aggregate
      val probeList = byCol.zipWithIndex.flatMap { case ((_, ps), i) =>
        ps.map(p => (i, p._2, p._3)) }
      val selCols = probeList.zipWithIndex.map { case ((i, lo, hi), j) =>
        sum(when(col(s"__v$i") >= lo && col(s"__v$i") <= hi, 1L)
          .otherwise(0L)).as(s"__sel$j")
      }
      val selected = base.agg(selCols.head, selCols.tail: _*)
        .transform(Materialize.seam)
      probeList.zipWithIndex.map { case ((i, lo, hi), j) =>
        val miss = col(s"__vmax$i") < lo || col(s"__vmin$i") > hi
        chunkTable
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(miss, 1L).otherwise(0L)).as("skipped_chunks"),
            sum(when(miss, 0L).otherwise(col("__cn")))
              .as("rows_scanned"))
          .crossJoin(broadcast(
            selected.select(col(s"__sel$j").as("rows_selected"))))
      }.reduce(_.unionByName(_))
        .agg(count(lit(1)).as("n_probes"),
          sum(col("n_chunks")).as("__tc"),
          sum(col("skipped_chunks")).as("__ts"),
          sum(col("rows_scanned")).as("rows_scanned_total"),
          sum(col("rows_selected")).as("rows_selected_total"))
        .select(lit(label).as("layout"), col("n_probes"),
          col("rows_scanned_total"), col("rows_selected_total"),
          expr("(__ts * 1000000L) div __tc").as("workload_skip_ppm"),
          when(col("rows_selected_total") > 0,
            expr("(rows_scanned_total * 1000000L)" +
              " div rows_selected_total"))
            .as("scan_amplification_ppm"))
    }.reduce(_.unionByName(_))
  }

  /** Sortedness audit — the WRITE-ORDER half of the skipping question
    * [[zOrderReport]] answers for candidate layouts: how sorted is each
    * column under the order rows are ALREADY written in? A column with
    * few ascending runs prunes like a sort key (its per-file [min, max]
    * ranges barely overlap — the Oracle-style clustering factor); a
    * column in random order prunes nothing. Per candidate column:
    * adjacent DESCENTS (value dropping between consecutive rows), runs
    * (descents + 1), and sorted_ppm = non-descending adjacent pairs
    * per million.
    *
    * Adjacency is taken in (orderCol, value) order — the value
    * tie-break makes rows sharing an order key deterministic in both
    * engines (and counts a tie group as sorted, which it is). Null
    * order keys drop the row; null values drop the row FOR THAT
    * CANDIDATE (adjacency closes over the gap, the standard zone-map
    * reading — a null stores no min/max).
    *
    * Scale shape: no global-order window. Rows bucket by
    * orderCol div bucketWidth; descents inside a bucket come from one
    * lag window PARTITIONED BY the bucket; the cross-bucket seams come
    * from a per-bucket (first, last) struct-min/max aggregate and a
    * window over that BOUNDED bucket table (the house two-phase
    * pattern). Candidates are independent jobs; the union is
    * driver-side plan assembly (the [[Profile.fdStrength]] shape).
    *
    * Output (one row per candidate): (col_name, n_rows, n_desc_pairs,
    * n_runs, sorted_ppm) — sorted_ppm null when n_rows < 2.
    */
  def sortednessReport(df: DataFrame, orderCol: String,
                       valueCols: Seq[String],
                       bucketWidth: Long = 4096L): DataFrame = {
    require(valueCols.nonEmpty, "need at least one candidate column")
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__bkt")).orderBy(col("__o"), col("__v"))
    val wSeam = org.apache.spark.sql.expressions.Window
      .orderBy(col("__bkt"))
    valueCols.map { vc =>
      val base = df
        .filter(col(orderCol).isNotNull && col(vc).isNotNull)
        .select(col(orderCol).cast("long").as("__o"),
          col(vc).cast("long").as("__v"))
        .withColumn("__bkt", expr(s"__o div ${bucketWidth}L"))
      val inBkt = base
        .withColumn("__desc",
          when(col("__v") < lag(col("__v"), 1).over(w), 1L).otherwise(0L))
        .groupBy(col("__bkt"))
        .agg(count(lit(1)).as("__n"), sum(col("__desc")).as("__d"),
          min(struct(col("__o"), col("__v"))).as("__first"),
          max(struct(col("__o"), col("__v"))).as("__last"))
      val seams = inBkt
        .withColumn("__prevLast",
          lag(col("__last.__v"), 1).over(wSeam))
        .select(col("__n"), col("__d"),
          when(col("__first.__v") < col("__prevLast"), 1L).otherwise(0L)
            .as("__sd"))
      seams.agg(
          coalesce(sum(col("__n")), lit(0L)).as("n_rows"),
          (coalesce(sum(col("__d")), lit(0L)) +
            coalesce(sum(col("__sd")), lit(0L))).as("n_desc_pairs"))
        .select(lit(vc).as("col_name"), col("n_rows"), col("n_desc_pairs"),
          when(col("n_rows") > 0, col("n_desc_pairs") + 1L)
            .otherwise(lit(0L)).as("n_runs"),
          when(col("n_rows") >= 2, expr(
            "((n_rows - 1 - n_desc_pairs) * 1000000) div (n_rows - 1)"))
            .as("sorted_ppm"))
    }.reduce(_.unionByName(_))
  }
}
