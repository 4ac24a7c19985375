package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.runtime.Materialize

/** Grid-density clustering labels (DBSCAN-lite) over an embedding
  * column — the density form the clustering family lacked: k-means
  * (q123) and k-center (q217) force every point into a cell and
  * SemDeDup (q124) only asks about near-duplicates; none of them can
  * say "this point sits in NO dense region" — the outlier/noise call
  * density clustering exists for (Ester et al. 1996). This is the
  * STING/GriDBSCAN-style grid approximation: the eps-ball becomes the
  * L∞ cell block, so labels come from bounded cell-table arithmetic
  * with NO pair space over points.
  *
  * Semantics (exact, both engines replay):
  *  - points quantize per grid dim d: s = floor(x_d·scale + 0.5) (the
  *    house kmeans rounding), cell coord = floor(s / cellWidth)
  *    (sign-safe floor via the pmod subtraction);
  *  - a cell's BLOCK count = Σ points over its 3^D neighborhood
  *    (itself + adjacent cells — the quantized eps-ball);
  *  - core-dense cell: block·1e6 ≥ densityPpm·n — the gate is
  *    RELATIVE to the corpus (an absolute minPts is meaningless
  *    across scales: the same grid holds 500 points at sf0.01 and
  *    20k at sf1; ppm-of-corpus keeps "dense" meaning dense);
  *  - labels: core = point in a core-dense cell; border = point whose
  *    cell is not core-dense but has a core-dense cell in its block;
  *    noise = the rest. Labels only here — cluster ids (= the
  *    core-cell connected components) are [[clusterCensus]].
  *
  * Scale shape: ONE corpus pass (per-cell count + id sum); everything
  * after runs on the occupied-cell table, bounded by
  * (domain/cellWidth)^D ≤ min(n, grid size) — 3^D ≤ 27 shifted unions
  * (the scatter form, never a cell×cell join) and broadcast-hinted
  * cell joins; a ≤3-row census aggregate. The corpus is never joined
  * back at all (PlanSpec pins no-SortMergeJoin). Census output with
  * per-label id_sum so the oracle pins every point-level label
  * without emitting the corpus.
  *
  * Output (≤3 rows): (dbscan_label, n_cells, n_points, share_ppm,
  * id_sum).
  */
object Density {

  /** DECIMAL(38,0) → BIGINT with a loud failure when the value doesn't
    * fit (non-ANSI Spark would otherwise return null where the DuckDB
    * oracle's HUGEINT→BIGINT cast raises — the Ewma raise-don't-wrap
    * rule). Inputs are non-null by contract, so a null gets its own
    * message — either a contract breach upstream (null ids) or
    * DECIMAL(38,0) accumulator overflow — rather than being
    * misdiagnosed as a BIGINT range overflow.
    */
  private[graft] def guardedLongCast(c: Column, what: String): Column =
    when(c.isNull,
      raise_error(lit(s"$what is null — null input ids or DECIMAL " +
        "accumulator overflow")).cast("long"))
      .when(c < lit(Long.MinValue).cast("decimal(38,0)") ||
          c > lit(Long.MaxValue).cast("decimal(38,0)"),
        raise_error(lit(s"$what overflows BIGINT")).cast("long"))
      .otherwise(c.cast("long"))

  def gridDbscanCensus(df: DataFrame, idCol: String, vecCol: String,
                       gridDims: Seq[Int], scale: Long = 1000L,
                       cellWidth: Long = 100L,
                       densityPpm: Long = 60000L): DataFrame = {
    require(scale >= 1 && cellWidth >= 1, "scale/cellWidth must be positive")
    val pts = pointCells(df, idCol, vecCol, gridDims, scale, cellWidth)
    val dIdx = gridDims.indices
    // ONE corpus pass: per-cell count + id sum; everything after runs
    // on the bounded cell table (the r10 simplification — the old form
    // joined the corpus back against the labeled cells for the census)
    // id sums accumulate in DECIMAL(38,0), not LONG: Spark (non-ANSI)
    // wraps silently on BIGINT overflow while the DuckDB oracle sums in
    // HUGEINT and fails its cast loudly — reachable once n·max_id nears
    // 2^63. censusFromCells guards the final cast back to BIGINT.
    val cells = pts.groupBy(dIdx.map(i => col(s"__c$i")): _*)
      .agg(count(lit(1)).as("__cn"),
        sum(col("__id").cast("decimal(38,0)")).as("__ids"))
      .transform(Materialize.seam) // scattered 3^D times inside censusFromCells
    censusFromCells(cells, dIdx.map(i => s"__c$i"), "__cn", "__ids",
      densityPpm)
  }

  /** The quantization stage of [[gridDbscanCensus]]: (__id, __c0..):
    * per grid dim, scaled-long rounding then sign-safe floor division
    * to the cell coordinate. Shared with the streaming twin so both
    * sides quantize identically.
    */
  def pointCells(df: DataFrame, idCol: String, vecCol: String,
                 gridDims: Seq[Int], scale: Long = 1000L,
                 cellWidth: Long = 100L): DataFrame = {
    require(gridDims.nonEmpty && gridDims.size <= 3,
      s"gridDims must be 1..3 one-based dims, got $gridDims")
    require(gridDims.forall(_ >= 1), "gridDims are 1-based")
    val dIdx = gridDims.indices
    def scaledDim(dim: Int): Column =
      floor(element_at(col(vecCol), dim).cast("double") * scale
        + lit(0.5)).cast("long")
    // a null ELEMENT at a grid dim would otherwise propagate to a
    // null cell coordinate — consistent across engines in batch, but
    // a null grid key would break the streaming twin's tuple encoder,
    // so the row universe drops them here for both sides
    df.filter(col(idCol).isNotNull && col(vecCol).isNotNull &&
        gridDims.map(d => element_at(col(vecCol), d).isNotNull)
          .reduce(_ && _))
      .select(col(idCol).cast("long").as("__id") +:
        dIdx.map(i => scaledDim(gridDims(i)).as(s"__s$i")): _*)
      // sign-safe floor division (pmod subtraction) — `div`, not `/`,
      // so the coord stays an exact long
      .select(col("__id") +: dIdx.map(i =>
        expr(s"(__s$i - pmod(__s$i, ${cellWidth}L)) div ${cellWidth}L")
          .as(s"__c$i")): _*)
  }

  /** Label census off an already-aggregated CELL table — the shared
    * core of [[gridDbscanCensus]] and the
    * [[graft.streaming.DensityStream]] readout (the kappaFromCells
    * convention: labels are a global function of every cell, so they
    * live with the reader, and batch == stream reduces to cell-table
    * equality). `cells` carries one row per occupied cell (a streaming
    * reader collapses upserts by MAX first — counts and, under the
    * non-negative-id contract, id sums are monotone).
    *
    * Scale shape: every step is bounded by the occupied-cell table —
    * 3^D scatter unions, broadcast joins, a ≤3-row census. The corpus
    * never appears.
    */
  def censusFromCells(cells0: DataFrame, coordCols: Seq[String],
                      nCol: String, idSumCol: String,
                      densityPpm: Long): DataFrame = {
    val dIdx = coordCols.indices
    val flagged = flaggedCells(cells0, coordCols, nCol, idSumCol, densityPpm)
    val nearCore = shifted(dIdx, flagged.filter(col("__core")), Nil)
      .distinct()
      .withColumn("__nc", lit(true))
    val census = flagged
      .join(broadcast(nearCore), dIdx.map(i => s"__c$i"), "left")
      .groupBy(when(col("__core"), "core")
        .when(col("__nc").isNotNull, "border")
        .otherwise("noise").as("dbscan_label"))
      .agg(count(lit(1)).as("n_cells"), sum(col("__cn")).as("n_points"),
        sum(col("__ids")).as("__idsum"))
    census
      .crossJoin(broadcast(census.agg(sum(col("n_points")).as("__tot"))))
      .select(col("dbscan_label"), col("n_cells"), col("n_points"),
        expr("(n_points * 1000000L) div __tot").as("share_ppm"),
        guardedLongCast(col("__idsum"), "density census id_sum")
          .as("id_sum"))
  }

  /** Cluster census over the core-dense cells — the "which dense
    * region?" readout [[gridDbscanCensus]]'s labels-only census
    * deliberately left out (its scaladoc note): clusters are the
    * connected components of the core-dense cells under the same 3^D
    * block adjacency that defines the labels, so every core point of
    * q301 lands in exactly one cluster here and the per-label core
    * totals reconcile (DensitySpec pins it). Border/noise points stay
    * outside by DBSCAN convention — a border cell can touch several
    * clusters, and an arbitrary assignment would be
    * engine-order-dependent.
    *
    * cluster_id = the smallest encoded cell id in the component
    * (deterministic; encode = base-(2·10⁶+1) positional over the
    * offset coords, in-plan guarded against out-of-range coords).
    *
    * Scale shape: one corpus pass (the shared quantize + cell
    * aggregate); the connected components run driver-side by
    * union-find over the COLLECTED core-cell table — grid-bounded by
    * contract ((domain/cellWidth)^D, guarded with a require; the
    * bounded-model-table collect class, like k-means centroids), with
    * ≤ 3^D−1 neighbors per cell by exact coordinate lookup; the
    * census joins the broadcast label table back to the bounded cell
    * table. The corpus is never joined back.
    *
    * Output (one row per cluster): (cluster_id, n_cells, n_points,
    * share_ppm, id_sum) — share_ppm relative to the whole quantized
    * corpus, so it reads against q301's label shares directly.
    */
  def clusterCensus(df: DataFrame, idCol: String, vecCol: String,
                    gridDims: Seq[Int], scale: Long = 1000L,
                    cellWidth: Long = 100L,
                    densityPpm: Long = 60000L): DataFrame = {
    require(scale >= 1 && cellWidth >= 1, "scale/cellWidth must be positive")
    val pts = pointCells(df, idCol, vecCol, gridDims, scale, cellWidth)
    val dIdx = gridDims.indices
    val cells = pts.groupBy(dIdx.map(i => col(s"__c$i")): _*)
      .agg(count(lit(1)).as("__cn"),
        sum(col("__id").cast("decimal(38,0)")).as("__ids"))
      .transform(Materialize.seam)
    clustersFromCells(cells, dIdx.map(i => s"__c$i"), "__cn", "__ids",
      densityPpm)
  }

  /** [[clusterCensus]] off an already-aggregated cell table (the
    * [[censusFromCells]] convention, so the
    * [[graft.streaming.DensityStream]] upsert table gets the same
    * readout).
    */
  def clustersFromCells(cells0: DataFrame, coordCols: Seq[String],
                        nCol: String, idSumCol: String,
                        densityPpm: Long): DataFrame = {
    val dIdx = coordCols.indices
    // no checkpoint on the flagged stage here: unlike censusFromCells
    // it has ONE consumer (the core filter, checkpointed right below)
    val flagged = flaggedCells(cells0, coordCols, nCol, idSumCol,
      densityPpm, checkpoint = false)
    // positional cell-id encode: coords are grid indices (|c| well
    // under 10⁶ for any sane scale/cellWidth), but the bound is
    // data-dependent, so it's enforced in-plan — base^3 already rides
    // at 8.0e18, one more digit would wrap silently
    val OFF = 1000000L
    val BASE = 2 * OFF + 1
    val encoded: Column = dIdx
      .map(i => when(abs(col(s"__c$i")) > OFF,
        raise_error(lit(s"cell coordinate beyond ±$OFF — cell-id " +
          "encoding would collide; shrink the grid (larger cellWidth " +
          "or smaller scale)")).cast("long"))
        .otherwise(col(s"__c$i") + OFF))
      .foldLeft(lit(0L))((acc, c) => acc * BASE + c)
    val core = flagged.filter(col("__core"))
      .select(encoded.as("__cell") +:
        (dIdx.map(i => col(s"__c$i")) ++
          Seq(col("__cn"), col("__ids"), col("__n"))): _*)
      .transform(Materialize.seam) // CC collect + census
    // Connected components run DRIVER-SIDE over the collected cell
    // list: the core-cell table is grid-bounded by contract
    // ((domain/cellWidth)^D — the same bounded-model-table class as
    // k-means centroids or BPE merges, guarded below), and the
    // distributed min-label machinery costs ~8 tiny jobs per call for
    // a graph of a few hundred nodes (measured 4.3 s at sf0.1 vs
    // 1.2 s for the whole q301 census). Neighbor lookup is by exact
    // coordinate vector (not id arithmetic — a ±1 shift at the ±OFF
    // boundary would carry between digits and alias another cell).
    // bound BEFORE the collect — a broken grid contract must fail
    // with this message, not a driver OOM inside collect() (core is
    // checkpointed, so the count is one cheap local scan). 100k keeps
    // the driver path genuinely light (the design assumption is a few
    // hundred cells; 100k × 26 neighbor probes is still ~3M cheap
    // Long-keyed lookups, where the old 2M bound permitted a
    // 50M-probe Seq-keyed map and a 2M-row broadcast).
    val nCore = core.count()
    require(nCore <= 100000,
      s"core-cell table has $nCore rows — the grid contract " +
        "((domain/cellWidth)^D bounded) is broken; use a larger " +
        "cellWidth")
    val coreCells = core
      .select(col("__cell") +: dIdx.map(i => col(s"__c$i")): _*)
      .collect()
      .map(r => (r.getLong(0), dIdx.map(i => r.getLong(i + 1))))
    val coreIds = new java.util.HashSet[java.lang.Long](coreCells.length * 2)
    coreCells.foreach(c => coreIds.add(c._1))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    // iterative find (walk to root, then compress): a recursive form
    // would recurse component-deep and a long-path component inside
    // the 100k bound can overflow the driver stack
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (c != r) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val offsets = dIdx.foldLeft(Seq(Seq.empty[Long]))((acc, _) =>
      acc.flatMap(o => Seq(-1L, 0L, 1L).map(o :+ _)))
      .filter(_.exists(_ != 0L))
    // neighbor lookup RE-ENCODES the shifted coordinate digit by digit
    // into the same Long cell id (cheap primitive hashing, no Seq
    // allocation per probe). This is not id±delta arithmetic: each
    // digit is range-checked against [0, BASE) first, so a shift at
    // the ±OFF boundary is recognized as off-grid and skipped instead
    // of carrying between digits and aliasing another cell.
    for ((id, cs) <- coreCells; o <- offsets) {
      var enc = 0L; var ok = true; var i = 0
      while (ok && i < cs.length) {
        val d = cs(i) + o(i) + OFF
        if (d < 0L || d >= BASE) ok = false else enc = enc * BASE + d
        i += 1
      }
      if (ok && coreIds.contains(enc)) union(id, enc)
    }
    val labels = {
      val spark = cells0.sparkSession
      import spark.implicits._
      coreCells.map { case (id, _) => (id, find(id)) }.toSeq
        .toDF("__cell", "cluster_id")
    }
    val census = core.join(broadcast(labels), "__cell")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_cells"), sum(col("__cn")).as("n_points"),
        sum(col("__ids")).as("__idsum"), max(col("__n")).as("__ntot"))
    census.select(col("cluster_id"), col("n_cells"), col("n_points"),
      expr("(n_points * 1000000L) div __ntot").as("share_ppm"),
      guardedLongCast(col("__idsum"), "density cluster id_sum")
        .as("id_sum"))
  }

  /** 3^D neighbor-offset scatter over a cell table: each row re-emitted
    * at every coordinate in its block (bounded-table unions, never
    * cells × cells). Shared by the block counts, the near-core stamp,
    * and the core-cell adjacency.
    */
  private def shifted(dIdx: Range, src: DataFrame,
                      extra: Seq[Column]): DataFrame = {
    val offsets = dIdx.foldLeft(Seq(Seq.empty[Int]))((acc, _) =>
      acc.flatMap(o => Seq(-1, 0, 1).map(o :+ _)))
    offsets.map { o =>
      src.select(dIdx.map(i => (col(s"__c$i") + o(i)).as(s"__c$i")) ++
        extra: _*)
    }.reduce(_.unionAll(_))
  }

  /** The shared core-density stage of [[censusFromCells]] and
    * [[clustersFromCells]]: normalize the cell table to (__c0..,
    * __cn LONG, __ids DECIMAL(38,0)), stamp each cell with its 3^D
    * block count (__bn), the corpus total (__n), and the core verdict
    * (__core) under the RELATIVE densityPpm gate. localCheckpointed by
    * default for the census path (which scatters AND labels it);
    * clustersFromCells passes checkpoint = false — it consumes the
    * stage once.
    */
  private def flaggedCells(cells0: DataFrame, coordCols: Seq[String],
                           nCol: String, idSumCol: String,
                           densityPpm: Long,
                           checkpoint: Boolean = true): DataFrame = {
    require(coordCols.nonEmpty && coordCols.size <= 3,
      s"coordCols must be 1..3 columns, got $coordCols")
    require(densityPpm >= 1 && densityPpm <= 1000000,
      s"densityPpm must be in [1, 1e6], got $densityPpm")
    val dec = "decimal(38,0)"
    val dIdx = coordCols.indices
    val cCols = dIdx.map(i => col(s"__c$i"))
    // id sums ride in DECIMAL(38,0) (batch already accumulates there;
    // the streaming twin's LONG cell sums upcast here) so the global
    // per-label sum can't wrap; the output cast back to BIGINT is
    // guarded at the readout (the Ewma raise-don't-wrap rule).
    val cells = cells0.select(
      coordCols.zipWithIndex.map { case (c, i) => col(c).as(s"__c$i") } ++
        Seq(col(nCol).as("__cn"), col(idSumCol).cast(dec).as("__ids")): _*)
    val nTot = cells.agg(sum(col("__cn")).as("__n"))
    val block = shifted(dIdx, cells, Seq(col("__cn")))
      .groupBy(cCols: _*).agg(sum(col("__cn")).as("__bn"))
    // every join keeps a CELL table on the build side — occupied cells
    // are bounded by (domain/cellWidth)^D, so the hints are safe
    val flagged = cells.join(broadcast(block), dIdx.map(i => s"__c$i"))
      .crossJoin(broadcast(nTot))
      .withColumn("__core",
        expr(s"CAST(__bn AS $dec) * 1000000 >= " +
          s"CAST($densityPpm AS $dec) * __n"))
    if (checkpoint) Materialize.seam(flagged) else flagged
  }
}
