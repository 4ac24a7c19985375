package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.runtime.Materialize

/** Whole-graph structure statistics over candidate/edge tables — the
  * density complement to [[graft.operators.Dedup]]'s connected
  * components: CC says which vertices hang together, the triangle
  * census says how TIGHTLY (a dup cluster of pairwise near-copies is a
  * clique; a chain of borderline matches has no triangles — the global
  * clustering coefficient separates them at a glance).
  */
object Graphs {

  private val dec = "decimal(38,0)"

  // Broadcast guard for vertex-sized join sides (the B40 rule, applied
  // to the whole family): every vertex table a join broadcasts goes
  // through Materialize.broadcastIfFits on a checkpointed table, so it
  // broadcasts while its materialized row count fits under
  // Materialize.MaxBroadcastRows — the edge set then streams through a
  // BroadcastHashJoin and never shuffles — and falls back to a shuffle
  // join when even the vertex set doesn't fit (never an unconditional
  // hint that could OOM the driver on a billion-vertex graph).
  // Checkpointed plans carry no usable stats, so without the explicit
  // count the planner always picks a sort-merge join here and the edge
  // table pays an Exchange per join per iteration.

  /** Canonical simple-graph edges: nulls and self-loops dropped,
    * endpoints ordered (a < b), duplicates and reversals collapsed.
    * localCheckpoint'ed — every census consumes it 3+ times. */
  private def canonical(edges: DataFrame, srcCol: String,
                        dstCol: String): DataFrame = edges
    .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
      col(srcCol) =!= col(dstCol))
    .select(least(col(srcCol), col(dstCol)).cast("long").as("__a"),
      greatest(col(srcCol), col(dstCol)).cast("long").as("__b"))
    .distinct()
    .transform(Materialize.seam)

  /** Vertex degrees of a canonical edge set: (__v, __d). */
  private def degrees(canon: DataFrame): DataFrame =
    canon.select(col("__a").as("__v"))
      .unionAll(canon.select(col("__b").as("__v")))
      .groupBy(col("__v")).agg(count(lit(1)).as("__d"))

  /** Degree-ordered edge orientation: each undirected edge directed from
    * its lower (degree, id) endpoint to the higher — acyclic (the order
    * is total), out-degree bounded by O(√E). */
  private def orientedEdges(canon: DataFrame, deg: DataFrame): DataFrame =
    canon
      .join(deg.select(col("__v").as("__a"), col("__d").as("__da")), "__a")
      .join(deg.select(col("__v").as("__b"), col("__d").as("__db")), "__b")
      .select(
        when(struct(col("__da"), col("__a")) < struct(col("__db"), col("__b")),
          struct(col("__a").as("u"), col("__b").as("w")))
          .otherwise(struct(col("__b").as("u"), col("__a").as("w"))).as("__e"))
      .select(col("__e.u").as("__u"), col("__e.w").as("__w"))

  /** Closed wedges by out-adjacency intersection (the "forward"
    * refinement of the Suri & Vassilvitskii plan): per oriented edge
    * (u→w), __zs = N⁺(u) ∩ N⁺(w). The orientation is acyclic, so every
    * triangle has exactly one vertex with two out-edges in it — the
    * triangle {u, w, z} is found exactly once, at the edge u→w between
    * its two lower (degree, id) vertices, with z the witness.
    *
    * Versus materializing wedge candidate ROWS and semi-joining the
    * closing edge (the r11 plan): the Σ outdeg² wedge volume never
    * becomes rows that cross an Exchange — it is walked inside one
    * codegen'd array_intersect per edge, and the per-vertex arrays are
    * bounded by the orientation's O(√E) out-degree. Measured at sf0.1
    * (41.1M wedges, 1.2M edges): 20.1 s for the wedge-row semi-join vs
    * 1.6 s for the intersection — the shuffle of 41M wedge rows WAS the
    * graph family's dominant cost. `oriented` is checkpointed (consumed
    * by the adjacency build and as the probe side), `adj` is
    * vertex-sized and checkpointed so the groupBy runs once.
    */
  private def closedWedges(canon: DataFrame, deg: DataFrame): DataFrame = {
    val oriented = orientedEdges(canon, deg).transform(Materialize.seam)
    val adj = oriented.groupBy(col("__u"))
      .agg(collect_list(col("__w")).as("__nbrs"))
      .transform(Materialize.seam)
    // adj is vertex-ROW-bounded but its payload is Σ outdeg = E array
    // elements, so the broadcast guard keys on the EDGE count, not the
    // adjacency row count
    val adjB = Materialize.broadcastIfFits(oriented)(adj)
    oriented
      .join(adjB, Seq("__u"))
      .withColumnRenamed("__nbrs", "__nu")
      .join(adjB.withColumnRenamed("__u", "__w")
        .withColumnRenamed("__nbrs", "__nw"), Seq("__w"), "left")
      .select(col("__u"), col("__w"),
        array_intersect(col("__nu"),
          coalesce(col("__nw"), array().cast("array<bigint>"))).as("__zs"))
  }

  /** Census core over canonical edges: one row
    * (n_vertices, n_edges, __wed DECIMAL, __tri DECIMAL). */
  private def census(canon: DataFrame): DataFrame = {
    val deg = degrees(canon).transform(Materialize.seam)
    val triangles = closedWedges(canon, Materialize.broadcastIfFits(deg)(deg))
      .agg(coalesce(sum(size(col("__zs")).cast(dec)), lit(0).cast(dec))
        .as("__tri"))
    canon.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_vertices"),
        sum(expr(s"(CAST(__d AS $dec) * (__d - 1)) div 2")).as("__wed")))
      .crossJoin(triangles)
  }

  /** Per-vertex triangle counts from a [[closedWedges]] table, in ONE
    * pass (no checkpoint of the closed-wedge rows): each edge row
    * (u, w, zs) represents |zs| triangles, so u and w each contribute
    * |zs| and every witness z contributes 1 — emitted together as one
    * exploded (v, c) struct array and summed. Output: (__v, __t). */
  private def perVertexTriangles(closed: DataFrame): DataFrame = closed
    .filter(size(col("__zs")) > 0)
    .select(explode(concat(
      array(
        struct(col("__u").as("v"), size(col("__zs")).cast("long").as("c")),
        struct(col("__w").as("v"), size(col("__zs")).cast("long").as("c"))),
      expr("transform(__zs, z -> named_struct('v', z, 'c', CAST(1 AS BIGINT)))")))
      .as("__e"))
    .select(col("__e.v").as("__v"), col("__e.c").as("__c"))
    .groupBy(col("__v")).agg(sum(col("__c")).as("__t"))

  /** Exact triangle count + global clustering coefficient via
    * degree-ordered edge orientation (the MapReduce-era scalable
    * formulation, Suri & Vassilvitskii 2011): each undirected edge is
    * directed from its lower (degree, id) endpoint to the higher, every
    * wedge is then generated at its LOWEST-degree vertex — candidate
    * volume Σ outdeg², with outdeg bounded by O(√E) instead of the max
    * degree — and a triangle is a wedge whose closing edge exists (one
    * semi-join). A hub of degree d never enumerates its d² neighbor
    * pairs; the star graph produces zero candidates.
    *
    * Scale shape: edge canonicalization (distinct), one degree
    * aggregate, two vocab-sized equi-joins to attach endpoint degrees,
    * the oriented self-join (bounded by Σ outdeg²), one semi-join, and
    * bounded 1-row rollups. Exact integers; wedges/triangles in
    * DECIMAL(38,0) headroom. `canon` is consumed three times (degrees,
    * orientation, the closing semi-join) and `oriented` twice (both
    * wedge legs) — each is localCheckpoint'ed so the upstream edge
    * generation executes ONCE instead of once per consumer (the q229
    * seam pattern; 8.2 → 7.6 s at sf0.1 on the q233 co-purchase graph).
    * Candidate volume is Σ outdeg² ≈ E²/V on near-uniform graphs — the
    * cost driver is WEDGES, not rows (q233's wedge count grows ×108
    * for ×100 data as the degree tail thickens; runtime stayed
    * sub-linear per wedge). When exact counting outgrows the budget,
    * [[triangleEstimate]] is the sampled scale path.
    *
    * Output (1 row): (n_vertices, n_edges, n_wedges, n_triangles,
    * global_cc_ppm = 3·triangles·1e6 div wedges, null when wedge-free).
    */
  def triangleStats(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame =
    census(canonical(edges, srcCol, dstCol))
      .select(col("n_vertices"), col("n_edges"),
        col("__wed").cast("long").as("n_wedges"),
        col("__tri").cast("long").as("n_triangles"),
        when(col("__wed") > 0,
          expr(s"(CAST(3 AS $dec) * __tri * 1000000) div __wed")
            .cast("long")).as("global_cc_ppm"))

  /** k-core: the maximal subgraph where every vertex keeps degree ≥ k,
    * by iterative peeling (Matula & Beck 1983; the batch form of the
    * distributed algorithm in Montresor et al. 2013) — drop all
    * vertices with degree < k, recompute, repeat to fixpoint. The
    * result is order-independent (the k-core is unique), so engines
    * can't disagree on peel scheduling. Community-density pruning for
    * candidate graphs: CC (q119) keeps any chain, the triangle census
    * (q233) scores density globally, the k-core EXTRACTS the dense
    * part.
    *
    * Scale shape per round — INCREMENTAL degree maintenance, the
    * Montresor-style message form rather than a full recompute: the
    * edge set is canonicalized and checkpointed ONCE; each round scans
    * it to count, per surviving vertex, the incident edges whose other
    * endpoint was just peeled (the edge's removal "message" — an edge
    * fires exactly once, when its FIRST endpoint dies, because the
    * cumulative removed set masks re-fires), then updates the
    * vertex-sized degree table and drops vertices hitting zero. No
    * surviving-edge materialization per round (the naive loop
    * re-aggregates and re-checkpoints the whole edge set every round —
    * measured 34.7 s vs 24.8 s at sf1, and the gap widens with scale
    * because messages shrink with peeling while a recompute stays
    * Ω(E) per round). A 1-row driver
    * emptiness probe is the convergence check; round count is the
    * peeling depth (3/5/10 measured at sf0.001/0.1/1 on q237), and
    * `maxRounds` fails loudly instead of looping on pathological
    * chains (a path graph at k=2 peels ends-inward in O(V) rounds —
    * that input wants CC first, not a bigger budget).
    *
    * Output: (vertex, core_deg) — vertices of the k-core with their
    * degree INSIDE the core; empty when the graph fully collapses.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val canon = canonical(edges, srcCol, dstCol)
    var deg = degrees(canon).transform(Materialize.seam)
    // one decision for the whole peel: every per-round table (weak,
    // removed, their union, the decrement counts) is bounded by the
    // INITIAL vertex count, so the broadcast-vs-shuffle choice is made
    // once, from a count on the checkpointed degree table
    val bc = Materialize.broadcastIfFits(deg)
    val spark = edges.sparkSession
    var removed = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__v",
          org.apache.spark.sql.types.LongType))))
    var round = 0
    var done = false
    while (!done) {
      val weak = deg.filter(col("__d") < k).select(col("__v"))
        .transform(Materialize.seam)
      if (weak.isEmpty) done = true
      else {
        round += 1
        require(round <= maxRounds,
          s"k-core peeling exceeded $maxRounds rounds — run connected " +
            "components first or raise maxRounds")
        // an edge fires at its FIRST death: the newly-weak endpoint on
        // one side, an endpoint that is neither weak nor already
        // removed on the other. ONE status table (1 = dies this round,
        // 2 = died earlier; weak ⊆ alive and removed ∩ alive = ∅, so
        // ids are unique) left-joined to both endpoints decides every
        // edge's fire in a single edge scan — the r11 form unioned two
        // semi/anti-join branch scans (6 joins + 2 scans per round vs
        // 2 joins + 1 scan here; q237 at sf0.1 measured 6.7-8.1 s on
        // the r11 plan vs 5.0 s best-of-5 on this one).
        // All vertex tables are checkpointed with known sizes,
        // so AQE broadcasts them while they fit and falls back to
        // shuffle when even the vertex set doesn't (no forced hint — a
        // billion-vertex graph must not OOM the driver). Variants
        // measured and rejected earlier: a doubled-adjacency one-scan
        // form (the 2|E| table re-shuffles per round — 42.8 vs 25.5 s
        // at sf1) and an alive-set semi-join form (slower at sf0.1,
        // equal at sf1).
        val stat = weak.select(col("__v"), lit(1).as("__s"))
          .unionAll(removed.select(col("__v"), lit(2).as("__s")))
        val dec = canon
          .join(bc(stat.select(col("__v").as("__a"), col("__s").as("__sa"))),
            Seq("__a"), "left")
          .join(bc(stat.select(col("__v").as("__b"), col("__s").as("__sb"))),
            Seq("__b"), "left")
          .select(when(col("__sa") === 1 && col("__sb").isNull, col("__b"))
            .when(col("__sb") === 1 && col("__sa").isNull, col("__a"))
            .as("__v"))
          .filter(col("__v").isNotNull)
          .groupBy(col("__v")).agg(count(lit(1)).as("__dec"))
        deg = deg.join(bc(weak), Seq("__v"), "left_anti")
          .join(bc(dec), Seq("__v"), "left")
          .select(col("__v"),
            (col("__d") - coalesce(col("__dec"), lit(0L))).as("__d"))
          .filter(col("__d") > 0)
          .transform(Materialize.seam)
        removed = removed.unionAll(weak).transform(Materialize.seam)
      }
    }
    deg.select(col("__v").as("vertex"), col("__d").as("core_deg"))
  }

  /** Per-vertex (local) clustering coefficient, top-k: for each vertex
    * the fraction of its neighbor pairs that are themselves connected —
    * local_cc_ppm = 2·t_v·1e6 div (d_v·(d_v−1)) (Watts & Strogatz
    * 1998). The global census (q233) scores the whole graph; this
    * ranks the VERTICES — a near-clique's members surface at the top,
    * a hub stitching unrelated communities sinks to the bottom, which
    * is the per-item evidence a dedup-cluster audit wants.
    *
    * Scale shape: the same degree-ordered wedge enumeration as
    * [[triangleStats]] (Σ outdeg² candidates, hub-safe), the closing
    * check as an INNER join so each triangle row retains its three
    * vertices, one explode(3) + count per vertex, a left join back to
    * the degree table, and a TakeOrdered k-cut. No step beyond the
    * census's own cost class; ties break to the smaller vertex id so
    * the k-cut is engine-stable.
    *
    * Output: top `k` rows of (vertex, degree, n_triangles,
    * local_cc_ppm) among vertices with degree ≥ `minDegree`, ordered
    * by (local_cc_ppm desc, vertex asc).
    */
  def localClusteringTopK(edges: DataFrame, srcCol: String, dstCol: String,
                          k: Int, minDegree: Long = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minDegree >= 2, s"minDegree must be >= 2 (cc needs a pair), " +
      s"got $minDegree")
    val canon = canonical(edges, srcCol, dstCol)
    val deg = degrees(canon).transform(Materialize.seam)
    val perVertex = perVertexTriangles(
      closedWedges(canon, Materialize.broadcastIfFits(deg)(deg)))
    deg.filter(col("__d") >= minDegree)
      .join(perVertex, Seq("__v"), "left")
      .select(col("__v").as("vertex"), col("__d").as("degree"),
        coalesce(col("__t"), lit(0L)).as("n_triangles"),
        expr(s"(CAST(coalesce(__t, 0) AS $dec) * 2000000)" +
          " div (__d * (__d - 1))").cast("long").as("local_cc_ppm"))
      .orderBy(col("local_cc_ppm").desc, col("vertex").asc)
      .limit(k)
  }

  /** Sampled per-vertex clustering top-k — the DOULION scale path for
    * [[localClusteringTopK]] (the census has [[triangleEstimate]]; this
    * is the per-vertex form, the #1 exact-cost row of the graph
    * family): sparsify the canonical edges with the SAME deterministic
    * pair-hash coin (keep 1/pInv), enumerate wedges and count each
    * vertex's triangles EXACTLY on the sparsified graph, scale the
    * per-vertex count by pInv³ — while the DEGREE in the cc
    * denominator stays exact (one cheap aggregate over the full edge
    * set; a sampled denominator would square the estimator's variance
    * for nothing). est_cc_ppm = 2·t̂_v·pInv³·1e6 div (d_v·(d_v−1)).
    *
    * Wedge-join cost drops ≈ pInv² versus exact; per-vertex estimates
    * are noisier than the census's global sum (a vertex's surviving
    * triangle count is small), so this ranks REGIONS of high clustering
    * rather than resolving individual near-ties — the audit-triage
    * contract, with the exact form one click deeper. Replayable: the
    * hash coin means both engines sample the identical subgraph, so the
    * oracle hash-matches (the q236 pattern).
    *
    * Output: top `k` of (vertex, degree — exact, sampled_triangles,
    * est_triangles, est_cc_ppm), ordered (est_cc_ppm desc, vertex asc),
    * among vertices with exact degree ≥ `minDegree`.
    */
  def localClusteringEstimate(edges: DataFrame, srcCol: String,
                              dstCol: String, k: Int, pInv: Int,
                              minDegree: Long = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(pInv >= 1, s"pInv must be >= 1, got $pInv")
    require(minDegree >= 2, s"minDegree must be >= 2 (cc needs a pair), " +
      s"got $minDegree")
    val canon = canonical(edges, srcCol, dstCol)
    val deg = degrees(canon) // exact denominator
    val kept = canon.filter(
      pmod(col("__a") * 1000003L + col("__b") * 7919L + 17L,
        lit(1000000007L)) % pInv === 0).transform(Materialize.seam)
    val keptDeg = degrees(kept).transform(Materialize.seam)
    val perVertex = perVertexTriangles(closedWedges(kept,
      Materialize.broadcastIfFits(keptDeg)(keptDeg)))
    val p3 = pInv.toLong * pInv * pInv
    deg.filter(col("__d") >= minDegree)
      .join(perVertex, Seq("__v"), "left")
      .select(col("__v").as("vertex"), col("__d").as("degree"),
        coalesce(col("__t"), lit(0L)).as("sampled_triangles"),
        (coalesce(col("__t"), lit(0L)) * p3).as("est_triangles"),
        expr(s"(CAST(coalesce(__t, 0) AS $dec) * 2000000 * ${p3}L)" +
          " div (__d * (__d - 1))").cast("long").as("est_cc_ppm"))
      .orderBy(col("est_cc_ppm").desc, col("vertex").asc)
      .limit(k)
  }

  /** Sampled triangle estimate — DOULION (Tsourakakis, Kang & Faloutsos
    * 2009): keep each canonical edge with probability 1/pInv, count
    * triangles EXACTLY on the sparsified graph, scale by pInv³ (a
    * triangle needs all three edges to survive). Here the coin is a
    * DETERMINISTIC portable hash of the endpoint pair — the q98
    * hash-gate house rule — so re-runs, repartitioning, and the DuckDB
    * oracle all sample the identical subgraph, and the estimator's
    * "toss per edge, independent of degree" property is preserved (the
    * hash never sees the vertex alone).
    *
    * This is the scale path for [[triangleStats]]: exact-census cost
    * tracks wedge volume ≈ E²/V, so sparsifying edges by pInv cuts the
    * wedge join by ≈ pInv² while the estimate's relative error decays
    * with the (huge) surviving triangle count at corpus scale. Same
    * plan shape as the exact census, on 1/pInv of the edges.
    *
    * Output (1 row): (n_edges — exact canonical count, kept_edges,
    * sampled_wedges, sampled_triangles — both on the sparsified graph,
    * est_triangles = sampled·pInv³, est_cc_ppm = 3·sampled_tri·pInv·1e6
    * div sampled_wedges — the pInv² wedge scale cancels; null when the
    * sample is wedge-free).
    */
  def triangleEstimate(edges: DataFrame, srcCol: String, dstCol: String,
                       pInv: Int): DataFrame = {
    require(pInv >= 1, s"pInv must be >= 1, got $pInv")
    val canon = canonical(edges, srcCol, dstCol)
    val kept = canon.filter(
      pmod(col("__a") * 1000003L + col("__b") * 7919L + 17L,
        lit(1000000007L)) % pInv === 0).transform(Materialize.seam)
    census(kept)
      .select(col("n_edges").as("kept_edges"), col("__wed"), col("__tri"))
      .crossJoin(canon.agg(count(lit(1)).as("n_edges")))
      .select(col("n_edges"), col("kept_edges"),
        coalesce(col("__wed"), lit(0)).cast("long").as("sampled_wedges"),
        col("__tri").cast("long").as("sampled_triangles"),
        expr(s"CAST(__tri * ${pInv}L * ${pInv}L * ${pInv}L AS $dec)")
          .cast("long").as("est_triangles"),
        when(col("__wed") > 0,
          expr(s"(CAST(3 AS $dec) * __tri * ${pInv}L * 1000000) div __wed")
            .cast("long")).as("est_cc_ppm"))
  }

  /** Auto-selecting triangle census: exact [[triangleStats]] while the
    * EXACT wedge census fits `budgetWedges`, the DOULION sampled
    * estimate ([[triangleEstimate]]) past the knee — the family's own
    * design applied to itself: the degree census (the q288 cost class,
    * strictly cheaper than any triangle work — one degree aggregate,
    * no wedge join) is computed FIRST and decides the plan, the
    * `connectedComponentsAuto` precedent
    * ([[graft.operators.Dedup.connectedComponentsAuto]]).
    *
    * The sampling rate is a DETERMINISTIC power-of-two ladder: the
    * smallest pInv ∈ {1, 2, 4, …, 32768} with
    * wedges div pInv² ≤ budget (DOULION's wedge volume scales by
    * ≈ 1/pInv²). Pure integer arithmetic on the exact wedge count, so
    * the choice — and therefore the whole result — replays identically
    * in the oracle; no float sqrt at the boundary. pInv = 1 means the
    * "sampled" plan IS the exact census (the %1 gate keeps every
    * edge), so both branches share one formula and the mode label is
    * derived, not a separate code path.
    *
    * Driver cost: ONE 1-row wedge-scalar collect (bounded by
    * construction — CollectAuditSpec) before any triangle work.
    *
    * Output (1 row): (mode 'exact'|'sampled', p_inv, n_edges,
    * n_wedges — the EXACT wedge census in both modes, est_triangles —
    * exact count when p_inv = 1, sampled·pInv³ otherwise, est_cc_ppm —
    * null when the counted graph is wedge-free).
    */
  def triangleAuto(edges: DataFrame, srcCol: String, dstCol: String,
                   budgetWedges: Long): DataFrame = {
    require(budgetWedges >= 1, s"budgetWedges must be >= 1, got $budgetWedges")
    val canon = canonical(edges, srcCol, dstCol)
    val wedRow = degrees(canon)
      .agg(coalesce(sum(expr(s"(CAST(__d AS $dec) * (__d - 1)) div 2")),
        lit(0).cast(dec)).as("__w"))
      .collect()(0)
    val wedges = BigInt(wedRow.getDecimal(0).toBigInteger)
    require(wedges.isValidLong, s"wedge census $wedges overflows BIGINT")
    var pInv = 1L
    while (wedges / (BigInt(pInv) * BigInt(pInv)) > BigInt(budgetWedges) &&
        pInv < 32768L) pInv *= 2
    val kept =
      if (pInv == 1L) canon
      else canon.filter(
        pmod(col("__a") * 1000003L + col("__b") * 7919L + 17L,
          lit(1000000007L)) % pInv === 0).transform(Materialize.seam)
    census(kept)
      .select(col("__wed"), col("__tri"))
      .crossJoin(canon.agg(count(lit(1)).as("n_edges")))
      .select(
        lit(if (pInv == 1L) "exact" else "sampled").as("mode"),
        lit(pInv).as("p_inv"),
        col("n_edges"),
        lit(wedges.toLong).as("n_wedges"),
        expr(s"CAST(__tri * ${pInv}L * ${pInv}L * ${pInv}L AS $dec)")
          .cast("long").as("est_triangles"),
        when(col("__wed") > 0,
          expr(s"(CAST(3 AS $dec) * __tri * ${pInv}L * 1000000) div __wed")
            .cast("long")).as("est_cc_ppm"))
  }

  /** Label-propagation communities (Raghavan et al. 2007), the
    * COMMUNITY-detection member of the graph family: connected
    * components (q76) find what hangs together at all, the k-core
    * (q237) extracts the dense part, LPA partitions the graph into
    * label-coherent neighborhoods — near-dup "topics", co-purchase
    * categories — without a density threshold.
    *
    * Deterministic synchronous form (both engines replay it): labels
    * start as vertex ids; each iteration EVERY vertex simultaneously
    * adopts the most frequent label among its neighbors, ties to the
    * SMALLEST label. A fixed iteration count replaces the classic
    * random-order convergence test — synchronous LPA can oscillate on
    * bipartite structures, so the contract is "the labeling after k
    * rounds", exactly unrolled by the oracle (the q256/q275 rule: no
    * RNG, no convergence race).
    *
    * Scale shape per iteration: two edge-co-partitioned joins against
    * the vertex-bounded label table (localCheckpoint'ed so plans stay
    * linear in iters), one (vertex, label) count aggregate, one
    * combinable struct-max argmax. The q119 PageRank / q270 HITS cost
    * class; edges checkpointed once.
    *
    * Output: (vertex, community) for every non-isolated vertex.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 16,
      s"iters must be in [1, 16] (each is two edge joins), got $iters")
    val canon = canonical(edges, srcCol, dstCol)
    var labels = degrees(canon).select(col("__v"), col("__v").as("__l"))
      .transform(Materialize.seam)
    // the label table stays exactly |non-isolated V| rows every
    // iteration — one count decides broadcast-vs-shuffle for the run
    val bc = Materialize.broadcastIfFits(labels)
    for (_ <- 1 to iters) {
      // both label attachments in ONE edge scan (emit each edge's two
      // neighbor messages from one row) — the unioned two-scan form
      // paid a second scan + join per iteration for the same rows
      val nb = canon
        .join(bc(labels.select(col("__v").as("__a"), col("__l").as("__la"))),
          "__a")
        .join(bc(labels.select(col("__v").as("__b"), col("__l").as("__lb"))),
          "__b")
        .select(explode(array(
          struct(col("__a").as("v"), col("__lb").as("l")),
          struct(col("__b").as("v"), col("__la").as("l")))).as("__e"))
        .select(col("__e.v").as("__v"), col("__e.l").as("__l"))
      labels = nb.groupBy(col("__v"), col("__l"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("__v"))
        .agg(max(struct(col("__c"), (-col("__l")).as("__nl"))).as("__w"))
        .select(col("__v"), (-col("__w.__nl")).as("__l"))
        .transform(Materialize.seam)
    }
    labels.select(col("__v").as("vertex"), col("__l").as("community"))
  }

  /** HITS hubs and authorities (Kleinberg 1999) over a DIRECTED edge
    * list — the question PageRank's single score can't separate: in a
    * bipartite-ish graph (buyers→suppliers, pages→cited sources), who
    * is a good DIRECTORY (hub: points at many good authorities) vs a
    * good DESTINATION (authority: pointed at by many good hubs).
    *
    * Integer fixed-point form (the q119 PageRank rules): scores scale
    * by `scale`; each half-step is one edge-co-partitioned join + one
    * combinable sum; normalization divides by the step's MAX score (a
    * one-row broadcast) instead of the classic L2 norm — same fixpoint
    * direction, no square roots, exactly replayable. Sums and the
    * (score·scale) products run in DECIMAL(38,0) (DuckDB: HUGEINT), so
    * per-node inflow is reduction-order-proof at any parallelism and
    * degree.
    *
    * Scale shape: edges localCheckpoint'ed once; per iteration, two
    * joins against bounded score tables (each ≤ |V| rows,
    * localCheckpoint'ed so plans stay linear in iters); two one-row
    * max broadcasts. No driver-side collect of anything node-sized.
    *
    * Output: (vertex, hub, auth) — max hub = max auth = scale;
    * vertices with no out-edges have null hub, none in no auth.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale > 0, s"scale must be positive, got $scale")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .transform(Materialize.seam)
    var a = e.select(col("dst")).distinct()
      .withColumn("a", lit(scale)).transform(Materialize.seam)
    // each score table holds one row per in- (a) or out-endpoint (h)
    // every iteration — one count PER SIDE decides broadcast-vs-shuffle
    // for the run (a hub table can be far larger than the authority
    // table, so the authority count must not guard the hub join)
    val bcA = Materialize.broadcastIfFits(a)
    val bcH = Materialize.broadcastIfFits(e.select(col("src")).distinct())
    var h: DataFrame = null
    for (_ <- 1 to iters) {
      val hp = e.join(bcA(a), "dst").groupBy(col("src"))
        .agg(sum(col("a").cast(dec)).as("__hp"))
      h = hp.crossJoin(broadcast(hp.agg(max(col("__hp")).as("__hm"))))
        .select(col("src"),
          expr(s"CAST((__hp * ${scale}L) div __hm AS BIGINT)").as("h"))
        .transform(Materialize.seam)
      val ap = e.join(bcH(h), "src").groupBy(col("dst"))
        .agg(sum(col("h").cast(dec)).as("__ap"))
      a = ap.crossJoin(broadcast(ap.agg(max(col("__ap")).as("__am"))))
        .select(col("dst"),
          expr(s"CAST((__ap * ${scale}L) div __am AS BIGINT)").as("a"))
        .transform(Materialize.seam)
    }
    h.select(col("src").as("vertex"), col("h").as("hub"))
      .join(a.select(col("dst").as("vertex"), col("a").as("auth")),
        Seq("vertex"), "full_outer")
  }

  /** Personalized PageRank (B103) — random walk with restart to a SEED
    * SET: "what is related to THESE nodes", the retrieval question
    * global PageRank (q119) flattens away. The related-item/expansion
    * primitive: seed one part's neighborhood, rank the catalog by walk
    * mass.
    *
    * Integer fixed-point (the q119 rules): ranks scale by `scale`;
    * per iteration each vertex sends rank div out-degree along its
    * edges, and r'(v) = restart(v) + (85·inflow(v)) div 100 with the
    * 15% restart mass split evenly over the seeds
    * ((scale·15 div 100) div nSeeds each). Mass parked at dangling
    * vertices leaks (standard for the walk-with-restart form —
    * deterministic, both engines replay it).
    *
    * Scale shape: edges localCheckpoint'ed once; the rank FRONTIER is
    * sparse — iteration k touches only vertices within k hops of a
    * seed, so early iterations cost frontier-sized joins, not
    * graph-sized; score tables checkpoint per iteration (linear
    * plans). Output: (vertex, rank_fp, is_seed) for every vertex with
    * nonzero walk mass.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: DataFrame,
                           seedCol: String, iters: Int = 3,
                           scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e0 = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .transform(Materialize.seam)
    // out-degree is loop-invariant: attach it to the edge set ONCE and
    // checkpoint, instead of re-joining the degree table every
    // iteration (saves one |V|-table join per iteration)
    val e = e0.join(e0.groupBy(col("src")).agg(count(lit(1)).as("__deg")),
      "src").transform(Materialize.seam)
    val sd = seeds.select(col(seedCol).cast("long").as("vertex"))
      .filter(col("vertex").isNotNull).distinct().transform(Materialize.seam)
    val nTab = sd.agg(count(lit(1)).as("__ns"))
    val restart = sd.crossJoin(broadcast(nTab))
      .select(col("vertex"),
        expr(s"((${scale}L * 15) div 100) div __ns").as("__restart"))
      .transform(Materialize.seam)
    var r = sd.crossJoin(broadcast(nTab))
      .select(col("vertex"), expr(s"${scale}L div __ns").as("rank_fp"))
      .transform(Materialize.seam)
    for (_ <- 1 to iters) {
      // NOTE: a guarded broadcast of the frontier (the LPA/k-core
      // pattern) was measured here and REJECTED — best-of-5 at sf0.1
      // 4.7 -> 5.1 s: the frontier grows to ~|reachable| after one hop,
      // so each iteration paid a count job + a driver-side relation
      // build without removing enough shuffle to cover them
      val inflow = e
        .join(r.withColumnRenamed("vertex", "src"), "src")
        .select(col("dst").as("vertex"),
          expr("rank_fp div __deg").as("__c"))
        .groupBy(col("vertex")).agg(sum(col("__c")).as("__in"))
      r = inflow.join(restart, Seq("vertex"), "full_outer")
        .select(col("vertex"),
          (coalesce(col("__restart"), lit(0L)) +
            expr("(85 * coalesce(__in, 0L)) div 100")).as("rank_fp"))
        .filter(col("rank_fp") > 0L)
        .transform(Materialize.seam)
    }
    r.join(sd.withColumn("is_seed", lit(true)), Seq("vertex"), "left")
      .select(col("vertex"), col("rank_fp"),
        coalesce(col("is_seed"), lit(false)).as("is_seed"))
  }

  /** Degree-mixing readout (Newman 2002 "Assortative mixing in
    * networks") — the one-row SHAPE census that tells you which graph
    * algorithms will hurt before you run them: degree assortativity
    * (do hubs attach to hubs, r > 0, or to leaves, r < 0 — router-like
    * disassortative graphs shatter under hub removal and skew every
    * per-vertex join), degree CV² (regular ≈ 0 vs scale-free ≫ 1 —
    * the wedge-volume and salting predictor for q233/q240), plus the
    * max/mean degree the skew advisor (q239) wants per-key.
    *
    * Exactness: over the canonical undirected edge set with both
    * orientations counted, the Pearson numerator and denominator share
    * the same variance term (symmetry), so r needs NO sqrt:
    *
    *   r = (2E·Sxy − Sx²) / (2E·Sx2 − Sx²)
    *   Sx = Σ_v d², Sx2 = Σ_v d³ (degree-table aggregates — the stub
    *   sums collapse onto vertex moments), Sxy = 2·Σ_edges d_a·d_b.
    *
    * All integer in DECIMAL(38,0); milli ratios via sign-split
    * truncating division (both engines floor on the non-negative
    * magnitude). r is null on degree-regular graphs (zero variance).
    *
    * Scale shape: edge canonicalization + one degree aggregate + the
    * same two vocab-sized endpoint-degree joins every census pays —
    * but NO wedge enumeration: this is the cheap pre-flight before
    * q233's Σ outdeg² bill. The degree table is counted off its
    * checkpoint (one cheap action) and BROADCAST to both endpoint
    * joins when it fits under `Materialize.MaxBroadcastRows` — the edge set
    * then never shuffles at all (two broadcast-hash probes of the same
    * ~vertex-sized table); an over-limit vertex set falls back to
    * shuffle joins instead of a driver-OOM broadcast (the B40 rule).
    *
    * Output (1 row): (n_vertices, n_edges, max_degree,
    * mean_degree_milli, degree_cv2_milli, assortativity_milli).
    */
  def degreeMixing(edges: DataFrame, srcCol: String,
                   dstCol: String): DataFrame = {
    val canon = canonical(edges, srcCol, dstCol)
    val deg0 = degrees(canon).transform(Materialize.seam)
    val deg = Materialize.broadcastIfFits(deg0)(deg0)
    val vstats = deg.agg(
      count(lit(1)).cast(dec).as("__v"),
      max(col("__d")).as("max_degree"),
      sum(col("__d")).cast(dec).as("__sd"),
      sum(expr(s"CAST(__d AS $dec) * __d")).as("__sx"),
      sum(expr(s"CAST(__d AS $dec) * __d * __d")).as("__sx2"))
    val estats = canon
      .join(deg.select(col("__v").as("__a"), col("__d").as("__da")), "__a")
      .join(deg.select(col("__v").as("__b"), col("__d").as("__db")), "__b")
      .agg(count(lit(1)).cast(dec).as("__e"),
        sum(expr(s"CAST(__da AS $dec) * __db")).as("__sab"))
    estats.crossJoin(vstats)
      .withColumn("__rnum",
        (lit(4).cast(dec) * col("__e") * col("__sab") -
          col("__sx") * col("__sx")).cast(dec))
      .withColumn("__rden",
        (lit(2).cast(dec) * col("__e") * col("__sx2") -
          col("__sx") * col("__sx")).cast(dec))
      .select(
        col("__v").cast("long").as("n_vertices"),
        col("__e").cast("long").as("n_edges"),
        col("max_degree"),
        expr(s"(CAST(2000 AS $dec) * __e) div __v").cast("long")
          .as("mean_degree_milli"),
        when(col("__sd") > 0,
          expr(s"(CAST(1000 AS $dec) * (__v * __sx - __sd * __sd))" +
            s" div (__sd * __sd)").cast("long")).as("degree_cv2_milli"),
        // sign-split truncating milli: floor the NON-NEGATIVE magnitude,
        // re-apply the sign — identical in both engines regardless of
        // their negative-integer-division convention.
        when(col("__rden") > 0,
          when(col("__rnum") >= 0,
            expr(s"(CAST(1000 AS $dec) * __rnum) div __rden"))
            .otherwise(-expr(s"(CAST(1000 AS $dec) * (-__rnum)) div __rden")))
          .cast("long").as("assortativity_milli"))
  }
}
