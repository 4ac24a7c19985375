package graft.queries

import graft.Tables
import graft.functions.TextFunctions
import graft.runtime.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Statistical-audit continuation families: exact classifier evaluation,
  * robust outlier statistics, association measures, changelog compaction,
  * data-layout clustering, and multi-objective selection. Every query is
  * deterministic and DuckDB-replayed exactly (the house integer/DECIMAL
  * discipline).
  */
object StatsQueries extends QueryGroup {

  import WebQueries.StopWords

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q224_score_auc" -> { (s, d) =>
      // Exact ROC AUC of the q140 hashed-feature quality scorer against
      // the q144 Gopher gate label, per language — the discrimination
      // check next to q176's calibration table (a scorer can be
      // well-calibrated yet rank no better than chance; AUC is the
      // threshold-free answer). Mann-Whitney rank-sum with midrank
      // ties in exact integers; one corpus pass to the per-language
      // distinct-score table + the house two-phase bucket cumsum.
      val toks = split(col("text"), " ")
      val base = Tables.documents(s, d).select(col("lang"),
        TextFunctions.hashedFeatureScore(col("text")).as("score"),
        size(toks).cast("long").as("n_tokens"),
        TextFunctions.gopherStats(col("text"), StopWords).as("g"))
      val gate = col("g.n_words").between(20L, 400L) &&
        (col("g.char_sum").cast("double") / col("g.n_words")).between(3.0, 8.0) &&
        col("g.n_stop") >= 2L &&
        (col("g.n_types").cast("double") / col("g.n_words")) >= 0.3
      graft.operators.Evaluation.aucByGroup(
        base.select(col("lang"),
          expr("((score + 500 * n_tokens) * 1000) div n_tokens").as("sm"),
          gate.as("pass")),
        "sm", "pass", "lang", bucketWidth = 10000L)
        .orderBy(col("lang"))
    },

    "q225_mad_outliers" -> { (s, d) =>
      // Robust per-type outlier fence over event values (Hampel's
      // |x - med| > 5*MAD rule): the row-level anomaly flag next to
      // q218's series-level CUSUM — a corrupted feed inflates a mean/
      // stddev fence until it hides itself; the median/MAD pair holds
      // to a 50% breakdown point. Values become exact cents through
      // DECIMAL(18,2); both medians are the distributed exact
      // PERCENTILE_DISC (q65 parity), fences pure integer.
      graft.operators.Robust.madOutliers(
        Tables.events(s, d).select(col("event_type"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents")),
        "event_type", "cents", k = 5L)
        .orderBy(col("event_type"))
    },

    "q226_chi2_association" -> { (s, d) =>
      // Chi-square independence audit of the lang x source contingency
      // (are per-source quotas silently reshaping the language mix?),
      // decomposed per language so the offending category is visible.
      // O^2-form in exact DECIMAL so empty cells never materialize; one
      // corpus aggregate to the bounded cell table.
      graft.operators.Association.chiSquare(
        Tables.documents(s, d), "lang", "source")
        .orderBy(col("lang"))
    },

    "q227_pmi_collocations" -> { (s, d) =>
      // Top-20 collocations by PMI lift (Church & Hanks 1990) with
      // min-support 5: the multiword-unit surfacing pass (raw bigram
      // counts rank "of the" first; lift ranks the genuinely
      // associated pairs). Log-free exact ppm lift; vocabulary-table
      // joins only, corpus scanned twice (unigrams + bigrams).
      graft.operators.Association.pmiTopBigrams(
        Tables.documents(s, d), "text", minCount = 5L, k = 20)
    },

    "q299_rank_agreement" -> { (s, d) =>
      // Rank-biased overlap census (B126, Webber 2010, p = 1/2 dyadic-
      // exact): does ranking the also-bought rules by LIFT vs by
      // CONFIDENCE actually serve different top-3 lists, and for what
      // share of antecedents? Top-weighted (a rank-1 swap costs more
      // than a rank-3 one); the finitely-many RBO values make the
      // output a bounded census. Rules mined once (localCheckpoint),
      // two k-bounded cuts, per-antecedent 3x3 intersection.
      val rules = graft.operators.Association.rules2(
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minSupport = 2L)
        .transform(Materialize.seam)
      def top(by: String) = graft.operators.TopK.perGroupAgg(
          rules, Seq("antecedent"), col(by), col("consequent"), 3)
        .select(col("antecedent"), col("rn").cast("long").as("rn"),
          col("id").as("consequent"))
      graft.operators.Association.rankAgreement3(
        top("lift_ppm"), top("confidence_ppm"),
        "antecedent", "rn", "consequent")
        .orderBy(col("rbo_ppm"))
    },

    "q294_rec_exposure" -> { (s, d) =>
      // Catalog-coverage + popularity-bias readout (B121, Ziegler
      // 2005) of the q260 also-bought table: a recommender that only
      // surfaces bestsellers looks fine per-list — these two numbers
      // (distinct items ever recommended / catalog, and how many
      // times more popular the average rec slot is than the average
      // catalog item) are what catch it. Rec table is k-bounded;
      // the corpus pays the membership distinct it already paid.
      val baskets = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"))
      // the rec table is k·antecedents-bounded: localCheckpoint it so
      // the rule-mining pair join executes once, not once per consumer
      val recs = graft.operators.Association.alsoBought(
        baskets, "l_orderkey", "l_partkey", minSupport = 2L, k = 3)
        .transform(Materialize.seam)
      graft.operators.Association.recExposure(
        baskets, "l_orderkey", "l_partkey", recs,
        "antecedent", "consequent")
    },

    "q260_also_bought" -> { (s, d) =>
      // The operational cut of q250: top-3 "also-bought" consequents
      // per part by lift (ties to the smaller part key) through the
      // k-bounded map-side heap — the table a recommendation service
      // actually serves; no window over the rule table.
      graft.operators.Association.alsoBought(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minSupport = 2L, k = 3)
        .orderBy(col("antecedent"), col("rn"))
    },

    "q250_assoc_rules" -> { (s, d) =>
      // Two-itemset association rules (A-priori level 2) over orders
      // as part baskets: support/confidence/lift in exact floored ppm.
      // minSupport gates both levels (downward closure), so the pair
      // join runs over frequent-item posting lists only; pair volume
      // is bounded by the basket-size contract (an order holds ≤ 7
      // lines), never corpus².
      graft.operators.Association.rules2(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minSupport = 2L)
        .orderBy(col("antecedent"), col("consequent"))
    },

    "q228_changelog_compact" -> { (s, d) =>
      // Lakehouse changelog compaction (latest-wins MERGE apply): the
      // events stream read as a per-user change log — error records act
      // as tombstones, everything else upserts the value — collapsed to
      // the live snapshot in ONE combinable aggregate (struct-max +
      // count; a hot key never buffers history). Tombstoned users stay
      // as live=false rows (the incremental re-compaction contract).
      graft.operators.Changelog.compact(
        Tables.events(s, d).select(col("user_id"), col("ts"),
          col("event_id"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          (col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("cents")),
        "user_id", "ts", "event_id", "op", Seq("cents"))
        .orderBy(col("user_id"))
    },

    "q258_quality_constraints" -> { (s, d) =>
      // Declarative data-quality release gate (the Deequ-class check
      // suite): completeness/uniqueness/boundedness as exact-ppm
      // metrics with pass verdicts, one combinable aggregate per
      // check. The line-key uniqueness deliberately FAILS on this
      // corpus (45.8k distinct (orderkey, linenumber) pairs over 60k
      // rows at sf0.01) so both verdicts are live; prices are bounded
      // in exact cents.
      import graft.operators.Profile._
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey"),
        concat_ws("/", col("l_orderkey"), col("l_linenumber"))
          .as("line_key"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("price_cents"),
        col("l_returnflag"))
      graft.operators.Profile.constraintReport(li, Seq(
        Completeness("l_orderkey"),
        Completeness("l_returnflag", 990000L),
        Uniqueness("line_key", 800000L),
        BoundedBetween("price_cents", 1L, 20000000L)))
        .orderBy(col("check"), col("column_name"))
    },

    "q252_sortedness" -> { (s, d) =>
      // Sortedness audit of lineitem in l_orderkey write order: how
      // well would each candidate column prune under zone maps as the
      // data already lies? l_orderkey itself anchors at 1e6 ppm (fully
      // sorted); l_linenumber cycles per order (runs ≈ orders);
      // l_partkey / price are scattered. No global-order window — the
      // house two-phase bucket pattern (descents inside buckets + the
      // seam check over the bounded bucket table). Cents pre-cast
      // through DECIMAL on BOTH sides (double->long cast truncates in
      // Spark, rounds in DuckDB).
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_partkey"), col("l_linenumber"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("price_cents"))
      graft.operators.LayoutAudit.sortednessReport(
        li, "l_orderkey", Seq("l_orderkey", "l_linenumber", "l_partkey",
          "price_cents"))
        .orderBy(col("col_name"))
    },

    "q297_sort_key_advisor" -> { (s, d) =>
      // Sort-key advisor (B124): the layout DECISION the rest of the
      // family informs — replay the whole q285 probe workload (2 time
      // ranges + 2 user ranges) under each candidate sort key and roll
      // up what the reader pays. Emits the full table so the MARGIN is
      // visible, not just the winner.
      val ev = Tables.events(s, d)
        .select(unix_micros(col("ts")).as("ts_us"), col("user_id"))
      graft.operators.LayoutAudit.sortKeyAdvisor(ev,
        candidates = Seq(
          ("by_ts", "ts_us", 86400000000L),
          ("by_user", "user_id", 64L)),
        probes = Seq(
          ("ts_us", 1704844800000000L, 1705017599999999L),
          ("ts_us", 1705276800000000L, 1705881599999999L),
          ("user_id", 0L, 9L),
          ("user_id", 100L, 119L)),
        nChunks = 64)
        .orderBy(col("layout"))
    },

    "q285_skip_rate" -> { (s, d) =>
      // Zone-map SKIP-RATE readout (B112): events written in ts order,
      // probed by (a) time ranges — the layout's own key, most chunks
      // skipped — and (b) user-id ranges — the sort-by-time /
      // probe-by-user anti-pattern, ~zero skip. Completes the layout
      // family: q229 reports the bounding boxes, q252 the write-order
      // sortedness, this the number the reader actually pays. 64
      // equal-row chunks off the deterministic two-phase rank.
      val ev = Tables.events(s, d)
        .select(unix_micros(col("ts")).as("ts_us"), col("user_id"))
      val timeProbes = Seq(
        (1704844800000000L, 1705017599999999L), // Jan 10-11 UTC
        (1705276800000000L, 1705881599999999L)) // Jan 15-21 UTC
      val userProbes = Seq((0L, 9L), (100L, 119L))
      val byTime = graft.operators.LayoutAudit.skipRateReport(
          ev, "ts_us", "ts_us", timeProbes, nChunks = 64,
          bucketWidth = 86400000000L)
        .withColumn("probe_col", lit("ts"))
      val byUser = graft.operators.LayoutAudit.skipRateReport(
          ev, "ts_us", "user_id", userProbes, nChunks = 64,
          bucketWidth = 86400000000L)
        .withColumn("probe_col", lit("user_id"))
      byTime.unionByName(byUser)
        .select(col("probe_col"), col("probe_lo"), col("probe_hi"),
          col("n_chunks"), col("skipped_chunks"), col("skip_ppm"),
          col("rows_scanned"), col("rows_selected"))
        .orderBy(col("probe_col"), col("probe_lo"))
    },

    "q229_zorder_layout" -> { (s, d) =>
      // Write-side layout audit: Z-order vs lexicographic clustering of
      // lineitem on (l_partkey, l_suppkey), reported as the per-chunk
      // [min,max] bounding boxes a skipping reader prunes on — q106
      // shows zone maps per KEY-SPACE bucket; this cuts EQUAL-ROW
      // chunks (the files a writer actually emits) and sets the two
      // layouts side by side. The linear layout collapses the x range
      // and leaves y covering the full domain; Z-order keeps both
      // small. Exact integer bucketization, positions via the
      // two-phase cumsum (no global-order window), 128 bounded rows.
      graft.operators.LayoutAudit.zOrderReport(
        Tables.lineitem(s, d),
        "l_partkey", "l_suppkey", bits = 8, nChunks = 64)
        .orderBy(col("layout"), col("chunk"))
    },

    "q230_pareto_frontier" -> { (s, d) =>
      // Quality-length Pareto frontier over documents (skyline,
      // Börzsönyi et al. 2001): the docs no other doc beats on BOTH the
      // q140 quality score and raw length — the trade-off curve a
      // curation run consults before scalarizing. 2-D skyline as a
      // suffix max over the per-score value table: no dominance join
      // at any scale, corpus scanned once.
      val toks = split(col("text"), " ")
      graft.operators.Skyline.frontier2D(
        Tables.documents(s, d).select(
            TextFunctions.hashedFeatureScore(col("text")).as("score"),
            size(toks).cast("long").as("n_tokens"), col("n_chars"))
          .select(expr("((score + 500 * n_tokens) * 1000) div n_tokens")
            .as("score_millis"), col("n_chars")),
        "score_millis", "n_chars", bucketWidth = 10000L)
        .orderBy(col("score_millis"))
    },

    "q231_scd2_history" -> { (s, d) =>
      // SCD2 validity intervals from the q228 changelog: every change
      // becomes a version row valid [its ts, the next change's ts);
      // deletes close the prior version without emitting one. The
      // dimension-table history a warehouse join uses for as-of lookups
      // (q221's interval table, built instead of assumed). One
      // per-key-partitioned window — no global order.
      graft.operators.Changelog.scd2(
        Tables.events(s, d).select(col("user_id"), col("ts"),
          col("event_id"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          (col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("cents")),
        "user_id", "ts", "event_id", "op", Seq("cents"))
        .orderBy(col("user_id"), col("version"))
    },

    "q232_cohort_retention" -> { (s, d) =>
      // Weekly cohort-retention triangle (growth accounting): users
      // bucketed by the week of their first signup, counted active in
      // every later week they produce ANY event — q83 answers "did a
      // user convert once", this answers "did week-W's signups still
      // show up in week W+N". One user-cohort aggregate, one
      // co-partitioned join, one distinct matrix aggregate; exact
      // integer epoch-week grid (no calendar arithmetic).
      graft.operators.Cohort.retention(
        Tables.events(s, d), "user_id", "ts", "event_type", "signup",
        periodDays = 7)
        .orderBy(col("cohort_period"), col("period_offset"))
    },

    "q233_triangle_census" -> { (s, d) =>
      // Triangle census of the co-purchase graph (parts sharing an
      // order): exact triangle count + global clustering coefficient
      // via degree-ordered orientation (Suri & Vassilvitskii 2011) — a
      // hub part never enumerates its d^2 neighbor pairs. The density
      // audit CC (q119) can't give: cliques vs chains.
      val parts = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = parts.as("x").join(parts.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("src"), col("y.pk").as("dst"))
      graft.operators.Graphs.triangleStats(edges, "src", "dst")
    },

    "q288_degree_mixing" -> { (s, d) =>
      // Degree-mixing readout (B115, Newman 2002) of the co-purchase
      // graph: assortativity (hubs-to-hubs r > 0 vs hubs-to-leaves
      // r < 0), degree CV² (the q233/q240 wedge-bill predictor) and
      // max/mean degree — the cheap pre-flight SHAPE census before any
      // wedge enumeration is paid. Sqrt-free exact Pearson (symmetry
      // collapses both variance terms onto vertex degree moments);
      // sign-split truncating milli division.
      val parts = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = parts.as("x").join(parts.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("src"), col("y.pk").as("dst"))
      graft.operators.Graphs.degreeMixing(edges, "src", "dst")
    },

    "q234_gini_concentration" -> { (s, d) =>
      // Per-source token-count Gini: is a source many same-sized docs
      // (G~0) or a few mega-docs and dust (G->1)? Packing efficiency,
      // dedup pair volume and quota design all depend on this shape,
      // not just the totals q180 reports. Exact Lorenz-rank form over
      // the per-source distinct-value table + two-phase cumsum.
      graft.operators.Inequality.giniByGroup(
        Tables.documents(s, d).select(col("source"),
          size(split(col("text"), " ")).cast("long").as("n_toks")),
        "source", "n_toks", bucketWidth = 16L)
        .orderBy(col("source"))
    },

    "q235_stratified_sample" -> { (s, d) =>
      // Stratified exact-allocation pilot sample: 500 documents split
      // across languages by largest-remainder (Hamilton) apportionment
      // on the stratum counts — Σ alloc = 500 EXACTLY (float-rounded
      // quotas can't promise that), each stratum filled by the
      // smallest portable-hash priorities (q98's gate gives a RATE per
      // stratum; this gives a COUNT). Bounded allocation table +
      // k-bounded heap cut; re-run/repartition stable.
      graft.operators.Sampling.stratifiedSample(
        Tables.documents(s, d), "lang", "doc_id", k = 500)
        .orderBy(col("lang"), col("rn"))
    },

    "q265_strata_evidence" -> { (s, d) =>
      // Evidence twin for q235 (driver-red in r6/r7 while locally green
      // at both gate SFs): the identical stratified sample reduced to
      // per-stratum BIGINT checksums — row count, the stratum's alloc,
      // Σ rn, Σ doc_id. If q235 stays red while this is green, the
      // divergence is comparator representation, not values; if a
      // checksum diverges, the failing column is named. All four
      // outputs obey the house BIGINT cast rule (audit-enforced).
      graft.operators.Sampling.stratifiedSample(
          Tables.documents(s, d), "lang", "doc_id", k = 500)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_rows"),
          max(col("alloc")).as("alloc"),
          sum(col("rn")).as("rn_sum"),
          sum(col("doc_id")).as("docid_sum"))
        .orderBy(col("lang"))
    },

    "q270_hits" -> { (s, d) =>
      // HITS hubs & authorities (B99) over the directed buyer->supplier
      // graph: which customers are good DIRECTORIES (buy from many
      // strong suppliers) vs which suppliers are good DESTINATIONS —
      // the two-sided question q119's single PageRank score can't
      // separate. Supplier keys offset by 1e9 so the two key spaces
      // never collide in one vertex id. Two unrolled integer
      // fixed-point iterations, max-normalized; all sums in
      // DECIMAL(38,0) (oracle: HUGEINT) so scores are bit-stable at
      // any parallelism.
      val e = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"),
          (col("l_suppkey") + 1000000000L).as("supp"))
      graft.operators.Graphs.hits(e, "cust", "supp", iters = 2)
        .orderBy(col("vertex"))
    },

    "q275_personalized_pagerank" -> { (s, d) =>
      // Personalized PageRank (B103) over the co-purchase graph:
      // random walk with 15% restart to a seed category (every 500th
      // part) — "what is related to THESE parts", the retrieval
      // question q119's global rank flattens. Three integer
      // fixed-point iterations on a SPARSE frontier (iteration k only
      // touches vertices within k hops of a seed).
      val parts = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val pairs = parts.as("x").join(parts.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("src"), col("y.pk").as("dst"))
      val edges = pairs.unionByName(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = Tables.part(s, d)
        .filter(col("p_partkey") % 500 === 0)
        .select(col("p_partkey"))
      graft.operators.Graphs.personalizedPageRank(
        edges, "src", "dst", seeds, "p_partkey", iters = 3)
        .orderBy(col("vertex"))
    },

    "q236_sampled_triangles" -> { (s, d) =>
      // DOULION sampled triangle estimate over the same co-purchase
      // graph as q233 — the scale path when the exact census's wedge
      // join (cost ~ E²/V) outgrows the budget: keep 1/4 of the edges
      // by deterministic pair hash, census the sparsified graph
      // (wedge join ~16x cheaper), scale triangles by 4³. The hash
      // coin makes the estimate REPLAYABLE — both engines sample the
      // identical subgraph, so the oracle is a hash match, not a
      // tolerance band.
      val parts = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = parts.as("x").join(parts.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("src"), col("y.pk").as("dst"))
      graft.operators.Graphs.triangleEstimate(edges, "src", "dst", pInv = 4)
    },

    "q308_triangle_auto" -> { (s, d) =>
      // Auto-selecting triangle census over the q233 co-purchase
      // graph: the exact DEGREE census (the q288 cost class, no wedge
      // join) picks the plan against a wedge budget, so the same call
      // is exact under a wide budget and DOULION-sampled under a tight
      // one — both branches of the knee pinned in one row set. The
      // pInv ladder (smallest power of two with wedges div pInv² <=
      // budget) is exact integer arithmetic on the exact wedge count,
      // replayed verbatim by the oracle.
      val parts = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = parts.as("x").join(parts.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("src"), col("y.pk").as("dst"))
        .transform(Materialize.seam) // consumed by both fixtures
      graft.operators.Graphs
        .triangleAuto(edges, "src", "dst", budgetWedges = 1000000000000000L)
        .select(lit("wide_budget").as("fixture"), col("*"))
        .unionAll(graft.operators.Graphs
          .triangleAuto(edges, "src", "dst", budgetWedges = 20000L)
          .select(lit("tight_budget").as("fixture"), col("*")))
        .orderBy(col("fixture"))
    },

    "q237_kcore" -> { (s, d) =>
      // 80-core of the co-purchase graph: parts that keep >= 80
      // co-purchase partners AFTER all weaker parts are peeled away —
      // the dense-community extraction CC can't give (CC keeps any
      // chain). Iterative peel to fixpoint (3/5/10 rounds measured at
      // sf0.001/0.1/1); the oracle unrolls 16 rounds, idempotent past
      // convergence (the q217 unrolled-rounds pattern).
      val parts = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = parts.as("x").join(parts.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("src"), col("y.pk").as("dst"))
      graft.operators.Graphs.kCore(edges, "src", "dst", k = 80)
        .select(col("vertex").as("part"), col("core_deg"))
        .orderBy(col("part"))
    },

    "q238_fd_audit" -> { (s, d) =>
      // Functional-dependency STRENGTH audit (TANE's g3): how many
      // rows must be deleted for each candidate FD to hold exactly —
      // the data-quality number binary FD discovery can't give (one
      // bad row kills every exact FD). Four candidates across two
      // tables; each is two value-table aggregates, corpus scanned
      // once and never rejoined.
      val docs = graft.operators.Profile.fdStrength(
        Tables.documents(s, d),
        Seq(Seq("lang") -> "source", Seq("source") -> "lang"))
      val li = graft.operators.Profile.fdStrength(
        Tables.lineitem(s, d),
        Seq(Seq("l_partkey") -> "l_suppkey",
          Seq("l_orderkey") -> "l_returnflag"))
      docs.unionAll(li).orderBy(col("fd"))
    },

    "q239_skew_advisor" -> { (s, d) =>
      // Shuffle-skew advisor: exact per-key histogram stats that DECIDE
      // between plain shuffle, AQE split, and the q211 salted join —
      // skew_ppm = hottest/mean key, recommended_salts levels the hot
      // key back to the mean. The histogram of a skewed key is itself
      // skew-safe (hot keys combine map-side).
      val li = graft.operators.Skew.advisor(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_partkey", "l_suppkey"))
      val ev = graft.operators.Skew.advisor(Tables.events(s, d),
        Seq("user_id", "event_type"))
      li.unionAll(ev).orderBy(col("key"))
    },

    "q240_local_clustering" -> { (s, d) =>
      // Top-50 vertices by LOCAL clustering coefficient on the
      // co-purchase graph — the per-item complement of q233's global
      // census: near-clique members rank first, community-stitching
      // hubs last (the per-item evidence a dedup-cluster audit wants).
      // Same hub-safe wedge enumeration; inner closing join keeps all
      // three triangle vertices; k-cut is TakeOrdered.
      val parts = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = parts.as("x").join(parts.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("src"), col("y.pk").as("dst"))
      graft.operators.Graphs.localClusteringTopK(edges, "src", "dst", k = 50)
        .select(col("vertex").as("part"), col("degree"),
          col("n_triangles"), col("local_cc_ppm"))
    },

    "q282_label_propagation" -> { (s, d) =>
      // Community detection on the co-purchase graph (B109, Raghavan
      // 2007 LPA): CC finds connectivity, k-core density — LPA
      // partitions into label-coherent neighborhoods (the co-purchase
      // "categories"). Deterministic synchronous form: 3 unrolled
      // iterations, most-frequent neighbor label, ties to the smallest
      // — the oracle replays every round (q256/q275 rule).
      val parts = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = parts.as("x").join(parts.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("src"), col("y.pk").as("dst"))
      graft.operators.Graphs.labelPropagation(edges, "src", "dst", iters = 3)
        .select(col("vertex").as("part"), col("community"))
        .orderBy(col("part"))
    },

    "q281_sampled_local_clustering" -> { (s, d) =>
      // The DOULION scale twin of q240 (the #1 exact-cost graph row):
      // per-vertex clustering estimated on the 1/4-sparsified
      // co-purchase graph (deterministic pair-hash coin, the q236
      // contract) — wedge join ~16x cheaper, per-vertex triangles
      // scaled by 4^3, the cc DENOMINATOR degree kept exact. Both
      // engines sample the identical subgraph, so the oracle is a hash
      // match, not a tolerance band.
      val parts = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val edges = parts.as("x").join(parts.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("src"), col("y.pk").as("dst"))
      graft.operators.Graphs.localClusteringEstimate(
          edges, "src", "dst", k = 50, pInv = 4)
        .select(col("vertex").as("part"), col("degree"),
          col("sampled_triangles"), col("est_triangles"),
          col("est_cc_ppm"))
    },

    "q249_version_occupancy" -> { (s, d) =>
      // Sweep-line concurrency curve over the q231 SCD2 intervals: how
      // many user versions were OPEN at each hour — capacity/occupancy
      // without a grid join (each interval = two boundary deltas, the
      // curve = a prefix sum over calendar-bounded change ticks).
      val hist = graft.operators.Changelog.scd2(
        Tables.events(s, d).select(col("user_id"), col("ts"),
          col("event_id"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          (col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("cents")),
        "user_id", "ts", "event_id", "op", Seq("cents"))
      graft.operators.Intervals.hourlyCoverage(
        hist, "valid_from", "valid_to")
        .orderBy(col("tick_hour"))
    },

    "q247_benford_audit" -> { (s, d) =>
      // Benford first-digit audit of extended prices per return flag —
      // the fabricated-numbers screen (organic magnitudes lead with 1
      // ~30% of the time; invented ones tend uniform). Exact integer
      // ppm against pinned log10(1+1/d) constants; one aggregate to
      // the group x 9 digit histogram.
      graft.operators.Profile.benford(
        Tables.lineitem(s, d).select(col("l_returnflag"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents")),
        "l_returnflag", "cents")
        .orderBy(col("l_returnflag"))
    },

    "q246_join_size_audit" -> { (s, d) =>
      // Exact equi-join output-size prediction BEFORE paying for the
      // join — Σ cL(k)·cR(k) over matched keys plus the hottest key's
      // share (the number a capacity plan needs; the estimate that
      // misses one hot key is how clusters die). Cross-table
      // complement of q239's single-table advisor; value-table-sized.
      val li = Tables.lineitem(s, d)
      Seq(
        graft.operators.Skew.joinSizeAudit(li, "l_orderkey",
          Tables.orders(s, d), "o_orderkey", "lineitem_orders"),
        graft.operators.Skew.joinSizeAudit(li, "l_partkey",
          Tables.part(s, d), "p_partkey", "lineitem_part"),
        graft.operators.Skew.joinSizeAudit(li, "l_partkey",
          li, "l_partkey", "lineitem_self_part"))
        .reduce(_.unionAll(_)).orderBy(col("join_name"))
    },

    "q245_decayed_engagement" -> { (s, d) =>
      // Recency-weighted per-user engagement: half-life-decayed event
      // counts (weight = count >> whole-half-lives-old — exact integer
      // decay both engines replay bit for bit) plus the freshness
      // ratio. Yesterday's burst outranks last quarter's archive —
      // the signal a crawl scheduler or trending list actually wants;
      // anchor = the corpus's own max timestamp (1-row bounded agg).
      val ev = Tables.events(s, d)
      val asOf = ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      graft.operators.Decay.halfLifeCounts(
        ev, "user_id", "ts", halfLifeDays = 7, asOfMicros = asOf)
        .orderBy(col("user_id"))
    },

    "q243_conditional_fd" -> { (s, d) =>
      // Conditional-FD drill-down (Bohannon 2007): the q238 global
      // number says partkey->suppkey is 92% violated; this splits the
      // g3 strength BY SHIP MODE to find whether one partition carries
      // the damage — the per-slice evidence a data-quality triage
      // needs. Same aggregation ladder with the condition prepended.
      graft.operators.Profile.fdStrengthBy(Tables.lineitem(s, d),
        "l_returnflag", Seq("l_partkey"), "l_suppkey")
        .orderBy(col("l_returnflag"))
    },

    "q241_time_weighted_avg" -> { (s, d) =>
      // Per-user time-weighted average of the value signal: a value
      // counts for HOW LONG it held, not how often it was sampled — a
      // plain mean over-weights chatty periods (TWAP). One per-key
      // lead window + one combinable aggregate; exact micros × cents.
      graft.operators.Resample.timeWeightedAvg(
        Tables.events(s, d), "user_id", "ts", "value", tieCol = "event_id")
        .orderBy(col("user_id"))
    })

  /** Shared CTE chain of the q235 Hamilton stratified sample: the
    * NULL-stratum filter matches Sampling.stratifiedSample's up-front
    * `isNotNull` contract, and `res` pre-casts alloc to BIGINT (sum(n)
    * makes DuckDB's `//` propagate HUGEINT otherwise — the r6/r7
    * driver-red fingerprint). q265 aggregates the same rows into
    * per-stratum checksums as red-row evidence.
    */
  /** Shared also-bought CTE chain (memb → … → rk), reused by q260 and
    * the q294 exposure readout so both replay the identical rule table.
    */
  private val AlsoBoughtCte: String = """
      WITH memb AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      tot AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n FROM memb),
      isup AS (
        SELECT it, CAST(count(*) AS BIGINT) AS s FROM memb
        GROUP BY 1 HAVING count(*) >= 2),
      posts AS (SELECT m.bk, m.it, i.s FROM memb m JOIN isup i USING (it)),
      pairs AS MATERIALIZED (
        SELECT l.it AS a, r.it AS b, l.s AS sa, r.s AS sb,
          CAST(count(*) AS BIGINT) AS sab
        FROM posts l JOIN posts r ON l.bk = r.bk AND l.it < r.it
        GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2),
      dir AS (
        SELECT a AS ante, b AS cons, sab, sa AS sante, sb AS scons FROM pairs
        UNION ALL SELECT b, a, sab, sb, sa FROM pairs),
      sc AS MATERIALIZED (
        SELECT ante, cons, sab,
          (sab * 1000000) // sante AS confidence_ppm,
          CAST((CAST(sab AS HUGEINT) * n * 1000000)
            // (CAST(sante AS HUGEINT) * scons) AS BIGINT) AS lift_ppm
        FROM dir CROSS JOIN tot),
      rk AS (
        SELECT ante, cons, sab, confidence_ppm, lift_ppm,
          CAST(row_number() OVER (PARTITION BY ante
            ORDER BY lift_ppm DESC, cons) AS BIGINT) AS rn
        FROM sc)"""

  private val StratSampleCte: String = """
      WITH b AS (
        SELECT lang, doc_id,
          ((CAST(doc_id AS BIGINT) * 1000003 + 17) % 1000000007
            + 1000000007) % 1000000007 AS p
        FROM documents
        WHERE lang IS NOT NULL AND doc_id IS NOT NULL),
      cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1),
      tw AS (SELECT sum(n) AS w FROM cnt),
      qa AS (
        SELECT lang, n, (n * 500) // w AS base, (n * 500) % w AS r
        FROM cnt CROSS JOIN tw),
      lv AS (SELECT 500 - sum(base) AS l FROM qa),
      al AS (
        SELECT lang, base + CASE WHEN
            row_number() OVER (ORDER BY r DESC, lang) <= l
          THEN 1 ELSE 0 END AS alloc
        FROM qa CROSS JOIN lv),
      rk AS (
        SELECT lang, doc_id,
          CAST(row_number() OVER (PARTITION BY lang
            ORDER BY p, doc_id) AS BIGINT) AS rn
        FROM b),
      res AS (
        SELECT rk.lang AS lang, doc_id, rn, CAST(alloc AS BIGINT) AS alloc
        FROM rk JOIN al ON rk.lang = al.lang
        WHERE rn <= alloc)"""

  /** q275 oracle: three personalized-PageRank iterations unrolled as
    * MATERIALIZED CTEs (the q217/q270 pattern — every iteration's
    * argmax-free arithmetic replayed; a drift in any round hash-fails).
    */
  /** q285 oracle: chunk the (o, v) rank order into 64 equal chunks,
    * min/max per chunk, one output row per probe (skip decision on the
    * chunk table + exact selected count on the row table).
    */
  /** q297 oracle: ONE shared chunk table per candidate layout (rank by
    * (o, v0, v1) — the r10 2-pass form; each probed column reads its
    * own min/max off the shared table), rolled up per layout. */
  private def sortKeyAdvisorSql: String = {
    val tprobes = Seq((1704844800000000L, 1705017599999999L),
      (1705276800000000L, 1705881599999999L))
    val uprobes = Seq((0L, 9L), (100L, 119L))
    // probed columns in column-name order (ts_us < user_id): v0 = ts
    // micros, v1 = user_id; WHERE mirrors sortKeyAdvisor's combined
    // ord-nonnull AND every-probed-col-nonnull filter
    val where = "ts IS NOT NULL AND user_id IS NOT NULL"
    val candidates = Seq(
      ("a", "by_ts", "epoch_us(ts)"),
      ("b", "by_user", "user_id"))
    // (column index, probes): 0 = ts_us probes, 1 = user_id probes
    val probeCols = Seq((0, tprobes), (1, uprobes))
    val ctes = candidates.map { case (t, _, ord) =>
      s"""
      ev_$t AS MATERIALIZED (
        SELECT $ord AS o, epoch_us(ts) AS v0, user_id AS v1
        FROM events WHERE $where),
      nn_$t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ev_$t),
      ch_$t AS MATERIALIZED (
        SELECT (rn - 1) // ((n + 63) // 64) AS chunk,
          CAST(count(*) AS BIGINT) AS cn,
          min(v0) AS vmin0, max(v0) AS vmax0,
          min(v1) AS vmin1, max(v1) AS vmax1
        FROM (SELECT v0, v1,
                row_number() OVER (ORDER BY o, v0, v1) AS rn
              FROM ev_$t)
        CROSS JOIN nn_$t GROUP BY 1)"""
    }.mkString(",")
    val rows = candidates.flatMap { case (t, layout, _) =>
      probeCols.flatMap { case (i, probes) =>
        probes.map { case (lo, hi) =>
          s"""SELECT '$layout' AS layout,
            CAST(count(*) AS BIGINT) AS n_chunks,
            CAST(coalesce(sum(CASE WHEN vmax$i < $lo OR vmin$i > $hi
              THEN 1 END), 0) AS BIGINT) AS skipped_chunks,
            CAST(coalesce(sum(CASE WHEN vmax$i < $lo OR vmin$i > $hi
              THEN 0 ELSE cn END), 0) AS BIGINT) AS rows_scanned,
            (SELECT CAST(coalesce(sum(CASE WHEN v$i >= $lo
              AND v$i <= $hi THEN 1 END), 0) AS BIGINT) FROM ev_$t)
              AS rows_selected
          FROM ch_$t"""
        }
      }
    }.mkString("\n      UNION ALL ")
    s"""
      WITH $ctes,
      pa AS ($rows)
      SELECT layout, CAST(count(*) AS BIGINT) AS n_probes,
        CAST(sum(rows_scanned) AS BIGINT) AS rows_scanned_total,
        CAST(sum(rows_selected) AS BIGINT) AS rows_selected_total,
        CAST((sum(skipped_chunks) * 1000000) // sum(n_chunks) AS BIGINT)
          AS workload_skip_ppm,
        CASE WHEN sum(rows_selected) > 0
          THEN CAST((sum(rows_scanned) * 1000000) // sum(rows_selected)
            AS BIGINT) END AS scan_amplification_ppm
      FROM pa GROUP BY layout ORDER BY layout"""
  }

  private def skipRateSql: String = {
    def variant(label: String, valueExpr: String, extraFilter: String,
                probes: Seq[(Long, Long)]): (String, String) = {
      val ctes = s"""
      ev_$label AS MATERIALIZED (
        SELECT epoch_us(ts) AS o, $valueExpr AS v FROM events
        WHERE ts IS NOT NULL$extraFilter),
      nn_$label AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ev_$label),
      ch_$label AS MATERIALIZED (
        SELECT (rn - 1) // ((n + 63) // 64) AS chunk,
          CAST(count(*) AS BIGINT) AS cn, min(v) AS vmin, max(v) AS vmax
        FROM (SELECT v, row_number() OVER (ORDER BY o, v) AS rn
              FROM ev_$label)
        CROSS JOIN nn_$label GROUP BY 1)"""
      val rows = probes.map { case (lo, hi) =>
        s"""SELECT '$label' AS probe_col, CAST($lo AS BIGINT) AS probe_lo,
          CAST($hi AS BIGINT) AS probe_hi,
          CAST(count(*) AS BIGINT) AS n_chunks,
          CAST(coalesce(sum(CASE WHEN vmax < $lo OR vmin > $hi
            THEN 1 END), 0) AS BIGINT) AS skipped_chunks,
          CAST((coalesce(sum(CASE WHEN vmax < $lo OR vmin > $hi
            THEN 1 END), 0) * 1000000) // count(*) AS BIGINT) AS skip_ppm,
          CAST(coalesce(sum(CASE WHEN vmax < $lo OR vmin > $hi
            THEN 0 ELSE cn END), 0) AS BIGINT) AS rows_scanned,
          (SELECT CAST(coalesce(sum(CASE WHEN v >= $lo AND v <= $hi
            THEN 1 END), 0) AS BIGINT) FROM ev_$label) AS rows_selected
        FROM ch_$label"""
      }.mkString("\n      UNION ALL ")
      (ctes, rows)
    }
    val (c1, r1) = variant("ts", "epoch_us(ts)", "",
      Seq((1704844800000000L, 1705017599999999L),
        (1705276800000000L, 1705881599999999L)))
    val (c2, r2) = variant("user_id", "user_id",
      " AND user_id IS NOT NULL", Seq((0L, 9L), (100L, 119L)))
    s"""
      WITH $c1,$c2
      $r1
      UNION ALL $r2
      ORDER BY probe_col, probe_lo"""
  }

  private def pprSql(iters: Int): String = {
    def step(prev: String, cur: String) = s"""
      $cur AS MATERIALIZED (
        SELECT v, coalesce(rs, 0) + (85 * coalesce(infl, 0)) // 100 AS r
        FROM (
          SELECT coalesce(f.v, rst.v) AS v, f.infl, rst.rs
          FROM (SELECT e.dst AS v, sum($prev.r // dg.deg) AS infl
                FROM e JOIN $prev ON $prev.v = e.src
                JOIN dg ON dg.src = e.src
                GROUP BY 1) f
          FULL OUTER JOIN rst ON rst.v = f.v) t
        WHERE coalesce(rs, 0) + (85 * coalesce(infl, 0)) // 100 > 0)"""
    val steps = (1 to iters)
      .map(i => step(if (i == 1) "r0" else s"i${i - 1}", s"i$i"))
      .mkString(",\n")
    s"""
      WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      pr0 AS MATERIALIZED (
        SELECT DISTINCT x.pk AS s, y.pk AS d
        FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
      e AS MATERIALIZED (
        SELECT s AS src, d AS dst FROM pr0
        UNION ALL SELECT d, s FROM pr0),
      dg AS MATERIALIZED (
        SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
      sd AS MATERIALIZED (
        SELECT DISTINCT p_partkey AS v FROM part
        WHERE p_partkey % 500 = 0),
      ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sd),
      rst AS MATERIALIZED (
        SELECT v, ((1000000000000 * 15) // 100) // n AS rs
        FROM sd CROSS JOIN ns),
      r0 AS MATERIALIZED (
        SELECT v, 1000000000000 // n AS r FROM sd CROSS JOIN ns),
      $steps
      SELECT i$iters.v AS vertex, CAST(i$iters.r AS BIGINT) AS rank_fp,
        (sd.v IS NOT NULL) AS is_seed
      FROM i$iters LEFT JOIN sd ON sd.v = i$iters.v ORDER BY vertex"""
  }

  override def oracle: Map[String, String] = Map(
    "q275_personalized_pagerank" -> pprSql(3),


    "q224_score_auc" -> s"""
      WITH t AS (
        SELECT lang, text, string_split(text, ' ') AS toks FROM documents),
      s AS (
        SELECT lang,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(toks, tok ->
              (list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(tok, ''),
                   x -> CAST(unicode(x) AS BIGINT))),
                 (acc, c) -> (acc * 31 + c) % ${graft.operators.Dedup.M}) % 1024)
                * 2654435761 % 1000 - 500)),
            (a, w) -> a + w) AS score,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST(length(text) AS BIGINT) - (CAST(len(toks) AS BIGINT) - 1)
            AS char_sum,
          CAST(len(list_filter(toks, x -> x IN
            (${StopWords.map(sw => s"'$sw'").mkString(", ")}))) AS BIGINT)
            AS n_stop,
          CAST(len(list_distinct(toks)) AS BIGINT) AS n_types
        FROM t),
      g AS (
        SELECT lang, ((score + 500 * n_tokens) * 1000) // n_tokens AS v,
          (n_tokens BETWEEN 20 AND 400)
            AND (CAST(char_sum AS DOUBLE) / n_tokens BETWEEN 3.0 AND 8.0)
            AND n_stop >= 2
            AND (CAST(n_types AS DOUBLE) / n_tokens >= 0.3) AS y
        FROM s),
      vt AS (
        SELECT lang, v,
          CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS HUGEINT) AS p,
          CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS HUGEINT) AS q
        FROM g GROUP BY 1, 2),
      c AS (
        SELECT lang, v, p, q,
          coalesce(sum(q) OVER (PARTITION BY lang ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
        FROM vt),
      tt AS (SELECT lang, sum(p) AS n1, sum(q) AS n0 FROM vt GROUP BY 1),
      u AS (SELECT lang, sum(p * (2 * nb + q)) AS u2 FROM c GROUP BY 1)
      SELECT u.lang AS lang,
        CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
        CASE WHEN n1 > 0 AND n0 > 0
          THEN CAST(u2 * 1000000 // (2 * n1 * n0) AS BIGINT) END AS auc_ppm
      FROM u JOIN tt ON u.lang = tt.lang ORDER BY lang""",

    "q225_mad_outliers" -> """
      WITH b AS (
        SELECT event_type,
          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL),
      m AS (
        SELECT event_type, quantile_disc(cents, 0.5) AS med
        FROM b GROUP BY 1),
      dv AS (
        SELECT b.event_type, abs(cents - med) AS dev, med
        FROM b JOIN m ON b.event_type = m.event_type),
      md AS (
        SELECT event_type, quantile_disc(dev, 0.5) AS mad
        FROM dv GROUP BY 1)
      SELECT dv.event_type AS event_type,
        CAST(count(*) AS BIGINT) AS n,
        max(med) AS median, max(mad) AS mad,
        CAST(sum(CASE WHEN dev > mad * 5 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_outliers,
        (CAST(sum(CASE WHEN dev > mad * 5 THEN 1 ELSE 0 END) AS BIGINT)
          * 1000000) // CAST(count(*) AS BIGINT) AS out_ppm
      FROM dv JOIN md ON dv.event_type = md.event_type
      GROUP BY 1 ORDER BY event_type""",

    "q226_chi2_association" -> """
      WITH cells AS (
        SELECT lang AS a, source AS b, CAST(count(*) AS HUGEINT) AS o
        FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        GROUP BY 1, 2),
      rt AS (SELECT a, sum(o) AS r FROM cells GROUP BY 1),
      ct AS (SELECT b, sum(o) AS c FROM cells GROUP BY 1),
      tot AS (SELECT sum(o) AS n,
        CAST(count(DISTINCT a) AS BIGINT) AS ka,
        CAST(count(DISTINCT b) AS BIGINT) AS kb FROM cells),
      terms AS (
        SELECT a, r, ka, kb, (o * o * n * 1000000) // (r * c) AS term
        FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tot)
      SELECT a AS lang, CAST(max(r) AS BIGINT) AS n,
        max((ka - 1) * (kb - 1)) AS dof,
        CAST(sum(term) - max(r) * 1000000 AS BIGINT) AS chi2_ppm
      FROM terms GROUP BY 1 ORDER BY lang""",

    "q260_also_bought" -> s"""
      $AlsoBoughtCte
      SELECT ante AS antecedent, rn, cons AS consequent, sab AS n_pair,
        confidence_ppm, lift_ppm
      FROM rk WHERE rn <= 3 ORDER BY antecedent, rn""",

    "q299_rank_agreement" -> s"""
      $AlsoBoughtCte,
      rkc AS (
        SELECT ante, cons,
          CAST(row_number() OVER (PARTITION BY ante
            ORDER BY confidence_ppm DESC, cons) AS BIGINT) AS rn
        FROM sc),
      ta AS (SELECT ante, cons, rn FROM rk WHERE rn <= 3),
      tb AS (SELECT ante, cons, rn FROM rkc WHERE rn <= 3),
      mm AS (
        SELECT ta.ante, greatest(ta.rn, tb.rn) AS m
        FROM ta JOIN tb ON ta.ante = tb.ante AND ta.cons = tb.cons),
      pr2 AS (
        SELECT aa.ante,
          CAST((1000000 * (
            12 * sum(CASE WHEN m <= 1 THEN 1 ELSE 0 END)
            + 3 * sum(CASE WHEN m <= 2 THEN 1 ELSE 0 END)
            + sum(CASE WHEN m <= 3 THEN 1 ELSE 0 END))) // 21 AS BIGINT)
            AS rbo_ppm
        FROM (SELECT DISTINCT ante FROM ta) aa
        JOIN (SELECT DISTINCT ante FROM tb) bb ON bb.ante = aa.ante
        LEFT JOIN mm ON mm.ante = aa.ante
        GROUP BY 1),
      cs2 AS (
        SELECT rbo_ppm, CAST(count(*) AS BIGINT) AS n_antecedents
        FROM pr2 GROUP BY 1),
      tt2 AS (SELECT CAST(sum(n_antecedents) AS BIGINT) AS tot FROM cs2)
      SELECT rbo_ppm, n_antecedents,
        (n_antecedents * 1000000) // tot AS share_ppm
      FROM cs2 CROSS JOIN tt2 ORDER BY rbo_ppm""",

    "q294_rec_exposure" -> s"""
      $AlsoBoughtCte,
      rec3 AS (SELECT ante, cons FROM rk WHERE rn <= 3),
      cat AS (SELECT it, CAST(count(*) AS BIGINT) AS s FROM memb
        GROUP BY 1),
      cst AS (
        SELECT CAST(count(*) AS BIGINT) AS n_cat,
          CAST(sum(s) AS BIGINT) AS tot_sup FROM cat),
      rst AS (
        SELECT CAST(count(*) AS BIGINT) AS n_recs,
          CAST(count(DISTINCT ante) AS BIGINT) AS n_lists,
          CAST(count(DISTINCT cons) AS BIGINT) AS distinct_recommended,
          CAST(sum(c.s) AS BIGINT) AS rec_sup
        FROM rec3 JOIN cat c ON c.it = rec3.cons)
      SELECT n_cat AS catalog_size, n_lists, n_recs, distinct_recommended,
        CASE WHEN n_cat > 0
          THEN (distinct_recommended * 1000000) // n_cat END
          AS coverage_ppm,
        CASE WHEN n_recs > 0 AND tot_sup > 0
          THEN CAST((CAST(rec_sup AS HUGEINT) * n_cat * 1000000)
            // (CAST(n_recs AS HUGEINT) * tot_sup) AS BIGINT) END
          AS pop_lift_ppm
      FROM rst CROSS JOIN cst""",

    "q250_assoc_rules" -> """
      WITH memb AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      tot AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n FROM memb),
      isup AS (
        SELECT it, CAST(count(*) AS BIGINT) AS s FROM memb
        GROUP BY 1 HAVING count(*) >= 2),
      posts AS (SELECT m.bk, m.it, i.s FROM memb m JOIN isup i USING (it)),
      pairs AS (
        SELECT l.it AS a, r.it AS b, l.s AS sa, r.s AS sb,
          CAST(count(*) AS BIGINT) AS sab
        FROM posts l JOIN posts r ON l.bk = r.bk AND l.it < r.it
        GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2),
      dir AS (
        SELECT a AS ante, b AS cons, sab, sa AS sante, sb AS scons FROM pairs
        UNION ALL SELECT b, a, sab, sb, sa FROM pairs)
      SELECT ante AS antecedent, cons AS consequent, sab AS n_pair,
        sante AS n_ante, scons AS n_cons,
        (sab * 1000000) // n AS support_ppm,
        (sab * 1000000) // sante AS confidence_ppm,
        CAST((CAST(sab AS HUGEINT) * n * 1000000)
          // (CAST(sante AS HUGEINT) * scons) AS BIGINT) AS lift_ppm
      FROM dir CROSS JOIN tot ORDER BY antecedent, consequent""",

    "q227_pmi_collocations" -> """
      WITH t AS (SELECT string_split(text, ' ') AS l FROM documents),
      uni AS (
        SELECT w, CAST(count(*) AS HUGEINT) AS cw
        FROM t, unnest(l) AS uw(w) GROUP BY 1),
      bi AS (
        SELECT l[i] AS w1, l[i+1] AS w2, CAST(count(*) AS HUGEINT) AS cxy
        FROM t, unnest(generate_series(1, greatest(len(l) - 1, 0))) AS g(i)
        GROUP BY 1, 2 HAVING count(*) >= 5),
      tot AS (
        SELECT (SELECT CAST(sum(cw) AS HUGEINT) FROM uni) AS n,
          (SELECT CAST(sum(greatest(len(l) - 1, 0)) AS HUGEINT) FROM t) AS m)
      SELECT w1 || ' ' || w2 AS bigram, CAST(cxy AS BIGINT) AS n_pair,
        CAST(u1.cw AS BIGINT) AS n_left, CAST(u2.cw AS BIGINT) AS n_right,
        CAST((cxy * n * n * 1000000) // (m * u1.cw * u2.cw) AS BIGINT)
          AS lift_ppm
      FROM bi JOIN uni u1 ON bi.w1 = u1.w JOIN uni u2 ON bi.w2 = u2.w
      CROSS JOIN tot
      ORDER BY lift_ppm DESC, bigram LIMIT 20""",

    "q228_changelog_compact" -> """
      WITH ch AS (
        SELECT user_id, ts, event_id,
          CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events),
      r AS (
        SELECT *,
          row_number() OVER (PARTITION BY user_id
            ORDER BY ts DESC, event_id DESC) AS rn,
          CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_changes
        FROM ch)
      SELECT user_id, cents, ts AS last_ts, event_id AS last_seq,
        op <> 'D' AS live, n_changes
      FROM r WHERE rn = 1 ORDER BY user_id""",

    "q258_quality_constraints" -> """
      WITH li AS (
        SELECT l_orderkey,
          CAST(l_orderkey AS VARCHAR) || '/' ||
            CAST(l_linenumber AS VARCHAR) AS line_key,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS price_cents,
          l_returnflag
        FROM lineitem),
      checks AS (
        SELECT 'completeness' AS chk, 'l_orderkey' AS col_n,
          CASE WHEN count(*) = 0 THEN 1000000
            ELSE (count(l_orderkey) * 1000000) // count(*) END AS m,
          CAST(1000000 AS BIGINT) AS th
        FROM li
        UNION ALL
        SELECT 'completeness', 'l_returnflag',
          CASE WHEN count(*) = 0 THEN 1000000
            ELSE (count(l_returnflag) * 1000000) // count(*) END,
          990000
        FROM li
        UNION ALL
        SELECT 'uniqueness', 'line_key',
          CASE WHEN count(line_key) = 0 THEN 1000000
            ELSE (count(DISTINCT line_key) * 1000000)
              // count(line_key) END,
          800000
        FROM li
        UNION ALL
        SELECT 'bounded', 'price_cents',
          CASE WHEN count(price_cents) = 0 THEN 1000000
            ELSE (count(CASE WHEN price_cents >= 1
                AND price_cents <= 20000000 THEN 1 END) * 1000000)
              // count(price_cents) END,
          1000000
        FROM li)
      SELECT chk AS "check", col_n AS column_name, CAST(m AS BIGINT)
        AS metric_ppm, th AS threshold_ppm, m >= th AS pass
      FROM checks ORDER BY chk, col_n""",

    "q252_sortedness" -> {
      def cand(expr: String, name: String) = s"""
        SELECT '$name' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(dsc) AS BIGINT) AS n_desc_pairs,
          CAST(sum(dsc) + 1 AS BIGINT) AS n_runs,
          CAST(CASE WHEN count(*) >= 2 THEN
            ((count(*) - 1 - sum(dsc)) * 1000000) // (count(*) - 1)
          END AS BIGINT) AS sorted_ppm
        FROM (
          SELECT CASE WHEN v < lag(v) OVER (ORDER BY o, v)
            THEN 1 ELSE 0 END AS dsc
          FROM (SELECT l_orderkey AS o, CAST($expr AS BIGINT) AS v
                FROM lineitem
                WHERE l_orderkey IS NOT NULL AND ($expr) IS NOT NULL) b)"""
      Seq(
        cand("l_orderkey", "l_orderkey"),
        cand("l_linenumber", "l_linenumber"),
        cand("l_partkey", "l_partkey"),
        cand("CAST(l_extendedprice AS DECIMAL(18,2)) * 100", "price_cents"))
        .mkString(" UNION ALL ") + " ORDER BY col_name"
    },

    "q285_skip_rate" -> skipRateSql,

    "q297_sort_key_advisor" -> sortKeyAdvisorSql,

    "q229_zorder_layout" -> s"""
      WITH b AS (
        SELECT CAST(l_partkey AS BIGINT) AS x, CAST(l_suppkey AS BIGINT) AS y
        FROM lineitem WHERE l_partkey >= 0 AND l_suppkey >= 0),
      mx AS (SELECT max(x) AS mxx, max(y) AS mxy,
        CAST(count(*) AS BIGINT) AS n FROM b),
      kb AS (
        SELECT x, y, x * (mxy + 1) + y AS pid,
          (x * 256) // (mxx + 1) AS xb, (y * 256) // (mxy + 1) AS yb,
          (n + 63) // 64 AS csize
        FROM b CROSS JOIN mx),
      keys AS (
        SELECT x, y, pid, csize,
          ${graft.functions.Layout.interleaveBitsSql("xb", "yb", 8)} AS zkey
        FROM kb),
      rz AS (SELECT x, y, csize,
        row_number() OVER (ORDER BY zkey, pid) AS rk FROM keys),
      rl AS (SELECT x, y, csize,
        row_number() OVER (ORDER BY pid) AS rk FROM keys),
      cz AS (
        SELECT 'zorder' AS layout, (rk - 1) // csize AS chunk,
          CAST(count(*) AS BIGINT) AS n,
          min(x) AS min_x, max(x) AS max_x,
          min(y) AS min_y, max(y) AS max_y
        FROM rz GROUP BY 1, 2),
      cl AS (
        SELECT 'linear' AS layout, (rk - 1) // csize AS chunk,
          CAST(count(*) AS BIGINT) AS n,
          min(x) AS min_x, max(x) AS max_x,
          min(y) AS min_y, max(y) AS max_y
        FROM rl GROUP BY 1, 2)
      SELECT layout, chunk, n, min_x, max_x, min_y, max_y,
        (max_x - min_x + 1) * (max_y - min_y + 1) AS bbox_area
      FROM (SELECT * FROM cz UNION ALL SELECT * FROM cl)
      ORDER BY layout, chunk""",

    "q230_pareto_frontier" -> s"""
      WITH t AS (
        SELECT n_chars, text, string_split(text, ' ') AS toks
        FROM documents),
      s AS (
        SELECT n_chars,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(toks, tok ->
              (list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(tok, ''),
                   x -> CAST(unicode(x) AS BIGINT))),
                 (acc, c) -> (acc * 31 + c) % ${graft.operators.Dedup.M}) % 1024)
                * 2654435761 % 1000 - 500)),
            (a, w) -> a + w) AS score,
          CAST(len(toks) AS BIGINT) AS n_tokens
        FROM t),
      p AS (
        SELECT ((score + 500 * n_tokens) * 1000) // n_tokens AS x,
          n_chars AS y, CAST(count(*) AS BIGINT) AS n
        FROM s GROUP BY 1, 2),
      px AS (
        SELECT x, max(y) AS yb FROM p GROUP BY 1),
      sf AS (
        SELECT x, yb, max(yb) OVER (ORDER BY x DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS sm
        FROM px)
      SELECT sf.x AS score_millis, sf.yb AS n_chars, p.n AS n_points
      FROM sf JOIN p ON p.x = sf.x AND p.y = sf.yb
      WHERE sm IS NULL OR yb > sm
      ORDER BY score_millis""",

    "q231_scd2_history" -> """
      WITH ch AS (
        SELECT user_id, ts, event_id,
          CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events),
      v AS (
        SELECT user_id, ts, event_id, op, cents,
          lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS vto,
          CAST(row_number() OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS BIGINT) AS version
        FROM ch)
      SELECT user_id, cents, ts AS valid_from, vto AS valid_to,
        version, vto IS NULL AS is_current
      FROM v WHERE op <> 'D' ORDER BY user_id, version""",

    "q232_cohort_retention" -> """
      WITH ch AS (
        SELECT user_id, min(ts) AS c0
        FROM events WHERE event_type = 'signup' GROUP BY 1),
      act AS (
        SELECT DISTINCT e.user_id,
          epoch_us(c0) // 604800000000 AS cp,
          epoch_us(e.ts) // 604800000000 - epoch_us(c0) // 604800000000
            AS yo
        FROM events e JOIN ch ON e.user_id = ch.user_id
        WHERE e.ts >= c0),
      m AS (
        SELECT cp, yo, CAST(count(*) AS BIGINT) AS n_active
        FROM act GROUP BY 1, 2),
      sz AS (SELECT cp, n_active AS cohort_size FROM m WHERE yo = 0)
      SELECT m.cp AS cohort_period, m.yo AS period_offset, n_active,
        cohort_size, (n_active * 1000000) // cohort_size AS retention_ppm
      FROM m JOIN sz ON m.cp = sz.cp
      ORDER BY cohort_period, period_offset""",

    "q233_triangle_census" -> """
      WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e AS (
        SELECT DISTINCT x.pk AS a, y.pk AS b
        FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
      dg AS (
        SELECT v, CAST(count(*) AS HUGEINT) AS d FROM (
          SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        GROUP BY 1),
      tri AS (
        SELECT CAST(count(*) AS HUGEINT) AS t
        FROM e e1 JOIN e e2 ON e2.a = e1.b
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
      dtot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_vertices,
          sum((d * (d - 1)) // 2) AS wed FROM dg)
      SELECT n_vertices, n_edges, CAST(wed AS BIGINT) AS n_wedges,
        CAST(t AS BIGINT) AS n_triangles,
        CASE WHEN wed > 0 THEN CAST((3 * t * 1000000) // wed AS BIGINT)
          END AS global_cc_ppm
      FROM dtot CROSS JOIN tot CROSS JOIN tri""",

    "q288_degree_mixing" -> """
      WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e AS (
        SELECT DISTINCT x.pk AS a, y.pk AS b
        FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
      dg AS (
        SELECT v, CAST(count(*) AS HUGEINT) AS d FROM (
          SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        GROUP BY 1),
      vs AS (
        SELECT CAST(count(*) AS HUGEINT) AS nv, max(d) AS maxd,
          sum(d) AS sd, sum(d * d) AS sx, sum(d * d * d) AS sx2
        FROM dg),
      es AS (
        SELECT CAST(count(*) AS HUGEINT) AS ne, sum(da.d * db.d) AS sab
        FROM e JOIN dg da ON da.v = e.a JOIN dg db ON db.v = e.b)
      SELECT CAST(nv AS BIGINT) AS n_vertices,
        CAST(ne AS BIGINT) AS n_edges,
        CAST(maxd AS BIGINT) AS max_degree,
        CAST((2000 * ne) // nv AS BIGINT) AS mean_degree_milli,
        CASE WHEN sd > 0 THEN
          CAST((1000 * (nv * sx - sd * sd)) // (sd * sd) AS BIGINT)
          END AS degree_cv2_milli,
        CASE WHEN (2 * ne * sx2 - sx * sx) > 0 THEN
          CASE WHEN (4 * ne * sab - sx * sx) >= 0
            THEN CAST((1000 * (4 * ne * sab - sx * sx))
              // (2 * ne * sx2 - sx * sx) AS BIGINT)
            ELSE -CAST((1000 * (-(4 * ne * sab - sx * sx)))
              // (2 * ne * sx2 - sx * sx) AS BIGINT)
          END END AS assortativity_milli
      FROM es CROSS JOIN vs""",

    "q234_gini_concentration" -> """
      WITH b AS (
        SELECT source,
          CAST(len(string_split(text, ' ')) AS HUGEINT) AS v
        FROM documents),
      vt AS (
        SELECT source, v, CAST(count(*) AS HUGEINT) AS c
        FROM b GROUP BY 1, 2),
      cm AS (
        SELECT source, v, c,
          coalesce(sum(c) OVER (PARTITION BY source ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp
        FROM vt),
      r AS (
        SELECT source,
          sum(v * (2 * c * cp + c * (c + 1))) AS s2,
          sum(c) AS n, sum(c * v) AS t
        FROM cm GROUP BY 1)
      SELECT source, CAST(n AS BIGINT) AS n, CAST(t AS BIGINT) AS total,
        CASE WHEN n > 0 AND t > 0
          THEN CAST(((s2 - (n + 1) * t) * 1000000) // (n * t) AS BIGINT)
          END AS gini_ppm
      FROM r ORDER BY source""",

    "q235_stratified_sample" -> s"""
      $StratSampleCte
      SELECT lang, doc_id, rn, alloc
      FROM res ORDER BY lang, rn""",

    "q265_strata_evidence" -> s"""
      $StratSampleCte
      SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(max(alloc) AS BIGINT) AS alloc,
        CAST(sum(rn) AS BIGINT) AS rn_sum,
        CAST(sum(doc_id) AS BIGINT) AS docid_sum
      FROM res GROUP BY lang ORDER BY lang""",

    "q270_hits" -> """
      WITH e AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS src,
          l_suppkey + 1000000000 AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      a0 AS MATERIALIZED (
        SELECT DISTINCT dst, CAST(1000000000000 AS BIGINT) AS a FROM e),
      hp1 AS MATERIALIZED (
        SELECT src, sum(a) AS hp FROM e JOIN a0 USING (dst)
        GROUP BY 1),
      h1 AS MATERIALIZED (
        SELECT src, CAST((hp * 1000000000000)
          // (SELECT max(hp) FROM hp1) AS BIGINT) AS h FROM hp1),
      ap1 AS MATERIALIZED (
        SELECT dst, sum(h) AS ap FROM e JOIN h1 USING (src)
        GROUP BY 1),
      a1 AS MATERIALIZED (
        SELECT dst, CAST((ap * 1000000000000)
          // (SELECT max(ap) FROM ap1) AS BIGINT) AS a FROM ap1),
      hp2 AS MATERIALIZED (
        SELECT src, sum(a) AS hp FROM e JOIN a1 USING (dst)
        GROUP BY 1),
      h2 AS MATERIALIZED (
        SELECT src, CAST((hp * 1000000000000)
          // (SELECT max(hp) FROM hp2) AS BIGINT) AS h FROM hp2),
      ap2 AS MATERIALIZED (
        SELECT dst, sum(h) AS ap FROM e JOIN h2 USING (src)
        GROUP BY 1),
      a2 AS MATERIALIZED (
        SELECT dst, CAST((ap * 1000000000000)
          // (SELECT max(ap) FROM ap2) AS BIGINT) AS a FROM ap2)
      SELECT coalesce(h2.src, a2.dst) AS vertex, h2.h AS hub,
        a2.a AS auth
      FROM h2 FULL OUTER JOIN a2 ON h2.src = a2.dst
      ORDER BY vertex""",

    "q236_sampled_triangles" -> """
      WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e AS (
        SELECT DISTINCT x.pk AS a, y.pk AS b
        FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
      ek AS (
        SELECT a, b FROM e
        WHERE (a * 1000003 + b * 7919 + 17) % 1000000007 % 4 = 0),
      dg AS (
        SELECT v, CAST(count(*) AS HUGEINT) AS d FROM (
          SELECT a AS v FROM ek UNION ALL SELECT b AS v FROM ek)
        GROUP BY 1),
      tri AS (
        SELECT CAST(count(*) AS HUGEINT) AS t
        FROM ek e1 JOIN ek e2 ON e2.a = e1.b
          JOIN ek e3 ON e3.a = e1.a AND e3.b = e2.b),
      tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
      ktot AS (
        SELECT CAST(count(*) AS BIGINT) AS kept_edges FROM ek),
      dtot AS (
        SELECT sum((d * (d - 1)) // 2) AS wed FROM dg)
      SELECT n_edges, kept_edges,
        CAST(coalesce(wed, 0) AS BIGINT) AS sampled_wedges,
        CAST(t AS BIGINT) AS sampled_triangles,
        CAST(t * 64 AS BIGINT) AS est_triangles,
        CASE WHEN wed > 0 THEN CAST((3 * t * 4 * 1000000) // wed AS BIGINT)
          END AS est_cc_ppm
      FROM dtot CROSS JOIN tot CROSS JOIN ktot CROSS JOIN tri""",

    "q308_triangle_auto" -> """
      WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e AS MATERIALIZED (
        SELECT DISTINCT x.pk AS a, y.pk AS b
        FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
      dg AS (
        SELECT v, CAST(count(*) AS HUGEINT) AS d FROM (
          SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        GROUP BY 1),
      w0 AS MATERIALIZED (
        SELECT coalesce(sum((d * (d - 1)) // 2), 0) AS wed,
          (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges
        FROM dg),
      fx AS (SELECT * FROM (VALUES
        ('wide_budget', CAST(1000000000000000 AS HUGEINT)),
        ('tight_budget', CAST(20000 AS HUGEINT))) t(fixture, budget)),
      rungs AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64, 128, 256, 512,
        1024, 2048, 4096, 8192, 16384, 32768]) AS p),
      pick AS MATERIALIZED (
        SELECT fixture, CAST(coalesce(min(CASE
            WHEN wed // (CAST(p AS HUGEINT) * p) <= budget THEN p END),
          32768) AS BIGINT) AS p
        FROM fx CROSS JOIN rungs CROSS JOIN w0 GROUP BY 1),
      ek AS MATERIALIZED (
        SELECT pc.fixture, e.a, e.b
        FROM pick pc JOIN e
          ON (e.a * 1000003 + e.b * 7919 + 17) % 1000000007 % pc.p = 0),
      dgk AS (
        SELECT fixture, v, CAST(count(*) AS HUGEINT) AS d FROM (
          SELECT fixture, a AS v FROM ek
          UNION ALL SELECT fixture, b AS v FROM ek)
        GROUP BY 1, 2),
      wedk AS (
        SELECT fixture, coalesce(sum((d * (d - 1)) // 2), 0) AS swed
        FROM dgk GROUP BY 1),
      trik AS (
        SELECT e1.fixture, CAST(count(*) AS HUGEINT) AS t
        FROM ek e1 JOIN ek e2
          ON e2.fixture = e1.fixture AND e2.a = e1.b
        JOIN ek e3
          ON e3.fixture = e1.fixture AND e3.a = e1.a AND e3.b = e2.b
        GROUP BY 1)
      SELECT f.fixture,
        CASE WHEN pc.p = 1 THEN 'exact' ELSE 'sampled' END AS mode,
        pc.p AS p_inv,
        w0.n_edges,
        CAST(w0.wed AS BIGINT) AS n_wedges,
        CAST(coalesce(t.t, 0) * pc.p * pc.p * pc.p AS BIGINT)
          AS est_triangles,
        CASE WHEN coalesce(wk.swed, 0) > 0 THEN
          CAST((3 * coalesce(t.t, 0) * pc.p * 1000000) // wk.swed
            AS BIGINT) END AS est_cc_ppm
      FROM fx f JOIN pick pc USING (fixture)
        CROSS JOIN w0
        LEFT JOIN wedk wk USING (fixture)
        LEFT JOIN trik t USING (fixture)
      ORDER BY fixture""",

    "q237_kcore" -> KCoreOracle,

    "q238_fd_audit" -> (Seq(
      ("documents", "lang", "source"), ("documents", "source", "lang"),
      ("lineitem", "l_partkey", "l_suppkey"),
      ("lineitem", "l_orderkey", "l_returnflag")).map { case (t, x, y) =>
      s"""
      SELECT '$x->$y' AS fd,
        CAST(coalesce(sum(n), 0) AS BIGINT) AS n_rows,
        CAST(count(*) AS BIGINT) AS n_groups,
        CAST(coalesce(sum(CASE WHEN vals > 1 THEN 1 END), 0) AS BIGINT)
          AS n_violating_groups,
        CAST(coalesce(sum(n - keep), 0) AS BIGINT) AS rows_to_remove,
        CASE WHEN coalesce(sum(n), 0) > 0 THEN
          CAST((CAST(sum(n - keep) AS HUGEINT) * 1000000) // sum(n)
            AS BIGINT) END AS g3_ppm,
        coalesce(sum(n - keep), 0) = 0 AS holds
      FROM (
        SELECT $x, CAST(sum(c) AS BIGINT) AS n,
          CAST(max(c) AS BIGINT) AS keep, count(*) AS vals
        FROM (
          SELECT $x, $y, count(*) AS c FROM $t
          WHERE $x IS NOT NULL AND $y IS NOT NULL GROUP BY 1, 2)
        GROUP BY 1)"""
    }.mkString(" UNION ALL ") + " ORDER BY fd"),

    "q239_skew_advisor" -> (Seq(
      ("lineitem", "l_orderkey"), ("lineitem", "l_partkey"),
      ("lineitem", "l_suppkey"), ("events", "user_id"),
      ("events", "event_type")).map { case (t, k) =>
      s"""
      SELECT '$k' AS key, n_rows, n_null, ndv, max_count,
        CASE WHEN ndv > 0 THEN n_rows // ndv END AS mean_count,
        CASE WHEN n_rows > 0 THEN CAST(
          (CAST(max_count AS HUGEINT) * ndv * 1000000) // n_rows
          AS BIGINT) END AS skew_ppm,
        CASE WHEN n_rows > 0 THEN CAST(
          (CAST(max_count AS HUGEINT) * ndv + n_rows - 1) // n_rows
          AS BIGINT) END AS recommended_salts
      FROM (
        SELECT
          CAST(coalesce(sum(CASE WHEN k IS NOT NULL THEN c END), 0)
            AS BIGINT) AS n_rows,
          CAST(coalesce(sum(CASE WHEN k IS NULL THEN c END), 0)
            AS BIGINT) AS n_null,
          CAST(count(CASE WHEN k IS NOT NULL THEN 1 END) AS BIGINT) AS ndv,
          CAST(coalesce(max(CASE WHEN k IS NOT NULL THEN c END), 0)
            AS BIGINT) AS max_count
        FROM (SELECT $k AS k, count(*) AS c FROM $t GROUP BY 1))"""
    }.mkString(" UNION ALL ") + " ORDER BY key"),

    "q240_local_clustering" -> """
      WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e AS MATERIALIZED (
        SELECT DISTINCT x.pk AS a, y.pk AS b
        FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
      dg AS MATERIALIZED (
        SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
          SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        GROUP BY 1),
      t AS MATERIALIZED (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1 JOIN e e2 ON e2.a = e1.b
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      pv AS (
        SELECT v, CAST(count(*) AS BIGINT) AS nt FROM (
          SELECT x AS v FROM t UNION ALL SELECT y AS v FROM t
          UNION ALL SELECT z AS v FROM t)
        GROUP BY 1)
      SELECT dg.v AS part, d AS degree, coalesce(nt, 0) AS n_triangles,
        CAST((CAST(coalesce(nt, 0) AS HUGEINT) * 2000000) // (d * (d - 1))
          AS BIGINT) AS local_cc_ppm
      FROM dg LEFT JOIN pv ON pv.v = dg.v
      WHERE d >= 2
      ORDER BY local_cc_ppm DESC, part LIMIT 50""",

    "q282_label_propagation" -> ("""
      WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e AS MATERIALIZED (
        SELECT DISTINCT x.pk AS a, y.pk AS b
        FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
      lp0 AS MATERIALIZED (
        SELECT v, v AS l FROM (
          SELECT a AS v FROM e UNION SELECT b AS v FROM e))""" +
      (1 to 3).map { i =>
        s""",
      nb$i AS (
        SELECT e.a AS v, l.l AS l FROM e JOIN lp${i - 1} l ON l.v = e.b
        UNION ALL
        SELECT e.b AS v, l.l AS l FROM e JOIN lp${i - 1} l ON l.v = e.a),
      lc$i AS (
        SELECT v, l, count(*) AS c FROM nb$i GROUP BY 1, 2),
      lp$i AS MATERIALIZED (
        SELECT v, l FROM (
          SELECT v, l, row_number() OVER (
            PARTITION BY v ORDER BY c DESC, l) AS rn FROM lc$i)
        WHERE rn = 1)"""
      }.mkString + """
      SELECT v AS part, CAST(l AS BIGINT) AS community
      FROM lp3 ORDER BY part"""),

    "q281_sampled_local_clustering" -> """
      WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e AS MATERIALIZED (
        SELECT DISTINCT x.pk AS a, y.pk AS b
        FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
      ek AS MATERIALIZED (
        SELECT a, b FROM e
        WHERE (a * 1000003 + b * 7919 + 17) % 1000000007 % 4 = 0),
      dg AS MATERIALIZED (
        SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
          SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        GROUP BY 1),
      t AS MATERIALIZED (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM ek e1 JOIN ek e2 ON e2.a = e1.b
          JOIN ek e3 ON e3.a = e1.a AND e3.b = e2.b),
      pv AS (
        SELECT v, CAST(count(*) AS BIGINT) AS nt FROM (
          SELECT x AS v FROM t UNION ALL SELECT y AS v FROM t
          UNION ALL SELECT z AS v FROM t)
        GROUP BY 1)
      SELECT dg.v AS part, d AS degree,
        coalesce(nt, 0) AS sampled_triangles,
        coalesce(nt, 0) * 64 AS est_triangles,
        CAST((CAST(coalesce(nt, 0) AS HUGEINT) * 2000000 * 64)
          // (d * (d - 1)) AS BIGINT) AS est_cc_ppm
      FROM dg LEFT JOIN pv ON pv.v = dg.v
      WHERE d >= 2
      ORDER BY est_cc_ppm DESC, part LIMIT 50""",

    "q241_time_weighted_avg" -> """
      WITH b AS (
        SELECT user_id, ts, event_id,
          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL),
      dd AS (
        SELECT user_id, c,
          epoch_us(lead(ts) OVER (PARTITION BY user_id
            ORDER BY ts, event_id)) - epoch_us(ts) AS dt
        FROM b),
      ag AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
          CAST(coalesce(sum(dt), 0) AS BIGINT) AS span_us,
          sum(CAST(c AS HUGEINT) * dt) AS num
        FROM dd GROUP BY 1)
      SELECT user_id, n_obs, span_us,
        CASE WHEN span_us > 0 THEN CAST(num // span_us AS BIGINT)
          END AS twa_cents
      FROM ag ORDER BY user_id""",

    "q243_conditional_fd" -> """
      WITH pr AS (
        SELECT l_returnflag, l_partkey, l_suppkey, count(*) AS c
        FROM lineitem
        WHERE l_returnflag IS NOT NULL AND l_partkey IS NOT NULL
          AND l_suppkey IS NOT NULL
        GROUP BY 1, 2, 3),
      gx AS (
        SELECT l_returnflag, l_partkey, CAST(sum(c) AS BIGINT) AS n,
          CAST(max(c) AS BIGINT) AS keep, count(*) AS vals
        FROM pr GROUP BY 1, 2)
      SELECT l_returnflag, CAST(sum(n) AS BIGINT) AS n_rows,
        CAST(count(*) AS BIGINT) AS n_groups,
        CAST(coalesce(sum(CASE WHEN vals > 1 THEN 1 END), 0) AS BIGINT)
          AS n_violating_groups,
        CAST(sum(n - keep) AS BIGINT) AS rows_to_remove,
        CAST((CAST(sum(n - keep) AS HUGEINT) * 1000000) // sum(n)
          AS BIGINT) AS g3_ppm,
        sum(n - keep) = 0 AS holds
      FROM gx GROUP BY 1 ORDER BY l_returnflag""",

    "q249_version_occupancy" -> """
      WITH ch AS (
        SELECT user_id, ts, event_id,
          CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events),
      v AS (
        SELECT user_id, ts, op,
          lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS vto
        FROM ch),
      iv2 AS (SELECT ts AS vfrom, vto FROM v WHERE op <> 'D'),
      dl AS (
        SELECT (epoch_us(vfrom) + 3599999999) // 3600000000 AS tick,
          1 AS d
        FROM iv2
        UNION ALL
        SELECT (epoch_us(vto) + 3599999999) // 3600000000, -1
        FROM iv2 WHERE vto IS NOT NULL),
      bt AS (
        SELECT tick, CAST(sum(d) AS BIGINT) AS delta
        FROM dl GROUP BY 1 HAVING sum(d) <> 0)
      SELECT tick AS tick_hour, delta,
        CAST(sum(delta) OVER (ORDER BY tick) AS BIGINT) AS n_open
      FROM bt ORDER BY tick_hour""",

    "q247_benford_audit" -> """
      WITH b AS (
        SELECT l_returnflag AS g,
          CASE WHEN l_extendedprice IS NOT NULL AND l_extendedprice > 0
            THEN CAST(substring(CAST(CAST(CAST(l_extendedprice
              AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) END AS dig
        FROM lineitem WHERE l_returnflag IS NOT NULL),
      h AS (
        SELECT g, dig, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
      tt AS (
        SELECT g,
          CAST(coalesce(sum(CASE WHEN dig IS NOT NULL THEN c END), 0)
            AS BIGINT) AS n_values,
          CAST(coalesce(sum(CASE WHEN dig IS NULL THEN c END), 0)
            AS BIGINT) AS n_excluded
        FROM h GROUP BY 1),
      dv AS (
        SELECT h.g, dig,
          CAST((CAST(c AS HUGEINT) * 1000000) // n_values AS BIGINT)
            AS obs,
          CASE dig WHEN 1 THEN 301029 WHEN 2 THEN 176091 WHEN 3 THEN 124938
            WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66946
            WHEN 7 THEN 57991 WHEN 8 THEN 51152 WHEN 9 THEN 45757
            ELSE 0 END AS exp
        FROM h JOIN tt ON tt.g = h.g WHERE dig IS NOT NULL),
      wr AS (
        SELECT g,
          max_by(abs(obs - exp), abs(obs - exp) * 16 + 9 - dig)
            AS max_dev_ppm,
          max_by(dig, abs(obs - exp) * 16 + 9 - dig) AS worst_digit,
          CAST(coalesce(sum(CASE WHEN dig = 1 THEN obs END), 0) AS BIGINT)
            AS d1_ppm
        FROM dv GROUP BY 1)
      SELECT tt.g AS l_returnflag, n_values, n_excluded,
        max_dev_ppm, worst_digit, d1_ppm
      FROM tt LEFT JOIN wr ON wr.g = tt.g
      ORDER BY l_returnflag""",

    "q246_join_size_audit" -> (Seq(
      ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem_self_part", "lineitem", "l_partkey", "lineitem",
        "l_partkey")).map { case (n, lt, lk, rt, rk) =>
      s"""
      SELECT '$n' AS join_name, n_left, n_right, matched_keys, out_rows,
        max_key_rows,
        CASE WHEN out_rows > 0 THEN CAST(
          (CAST(max_key_rows AS HUGEINT) * 1000000) // out_rows AS BIGINT)
          END AS max_key_share_ppm
      FROM (
        SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM $lt
           WHERE $lk IS NOT NULL) AS n_left,
          (SELECT CAST(count(*) AS BIGINT) FROM $rt
           WHERE $rk IS NOT NULL) AS n_right,
          CAST(count(*) AS BIGINT) AS matched_keys,
          CAST(coalesce(sum(cl * cr), 0) AS BIGINT) AS out_rows,
          CAST(coalesce(max(cl * cr), 0) AS BIGINT) AS max_key_rows
        FROM (SELECT $lk AS k, CAST(count(*) AS HUGEINT) AS cl
              FROM $lt WHERE $lk IS NOT NULL GROUP BY 1) a
        JOIN (SELECT $rk AS k, CAST(count(*) AS HUGEINT) AS cr
              FROM $rt WHERE $rk IS NOT NULL GROUP BY 1) b
          ON a.k = b.k)"""
    }.mkString(" UNION ALL ") + " ORDER BY join_name"),

    "q245_decayed_engagement" -> """
      WITH mx AS (
        SELECT max(epoch_us(ts)) // 604800000000 AS anchor FROM events),
      ab AS (
        SELECT user_id,
          greatest(0, anchor - epoch_us(ts) // 604800000000) AS age
        FROM events CROSS JOIN mx
        WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      bk AS (
        SELECT user_id, age, CAST(count(*) AS BIGINT) AS c
        FROM ab WHERE age < 63 GROUP BY 1, 2)
      SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
        CAST(sum(c >> age) AS BIGINT) AS decayed_weight,
        CAST((CAST(sum(c >> age) AS HUGEINT) * 1000000) // sum(c)
          AS BIGINT) AS freshness_ppm
      FROM bk GROUP BY 1 ORDER BY user_id""")

  /** 16 unrolled peel rounds — idempotent once the core stabilizes
    * (measured convergence: 3/5/5/10 rounds at sf0.001/0.01/0.1/1), so
    * the extra rounds are no-ops, never a divergence. AS MATERIALIZED
    * is load-bearing: every e_i is consumed 4× (two degree legs + two
    * NOT IN probes via e_{i+1}), so an inlined chain expands 4^16
    * scans — DuckDB literally runs out of file handles. */
  private val KCoreOracle: String = {
    val rounds = (1 to 16).map { i =>
      s"""w$i AS MATERIALIZED (
        SELECT v FROM (
          SELECT a AS v FROM e${i - 1} UNION ALL SELECT b AS v FROM e${i - 1})
        GROUP BY 1 HAVING count(*) < 80),
      e$i AS MATERIALIZED (
        SELECT a, b FROM e${i - 1}
        WHERE a NOT IN (SELECT v FROM w$i)
          AND b NOT IN (SELECT v FROM w$i))"""
    }.mkString(",\n      ")
    s"""
      WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS MATERIALIZED (
        SELECT DISTINCT x.pk AS a, y.pk AS b
        FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
      $rounds
      SELECT v AS part, CAST(count(*) AS BIGINT) AS core_deg
      FROM (SELECT a AS v FROM e16 UNION ALL SELECT b AS v FROM e16)
      GROUP BY 1 ORDER BY part"""
  }
}
