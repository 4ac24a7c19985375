package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.runtime.Materialize

/** Level-2 sequential pattern mining with a max-gap constraint —
  * the PrefixSpan/GSP length-2 level (Pei et al. 2001; Srikant &
  * Agrawal 1996 introduced the max-gap) over per-entity event
  * sequences: for every ordered type pair ⟨a, b⟩, in how many entities
  * does some b follow some a within `maxGapMinutes`, and what are the
  * rule metrics? This closes the gap the event-sequence suite left
  * open: q274's precedence census is the UNCONSTRAINED a-before-b
  * count (gap = ∞), q104/q256 are adjacent-transition views (gap = one
  * step), and the basket family's support/confidence/lift (the
  * [[Association.rules2]] forms, replayed here verbatim on entity
  * counts) never sees order at all. A length-2 gap-constrained pattern
  * is the funnel-discovery primitive WITH the timeout every real
  * funnel has.
  *
  * Exact semantics: entity e supports ⟨a, b⟩ iff ∃ occurrences
  * t_a < t_b ≤ t_a + gap (strictly later — simultaneous events never
  * chain, a value-based rule both engines replay; a = b is allowed
  * and reads "a recurs within the gap"). Support counts ENTITIES, not
  * occurrence pairs (GSP's definition — one busy user can't inflate a
  * pattern). Metrics: support_ppm = n·1e6 div N, confidence_ppm =
  * n·1e6 div n_ante, lift_ppm = n·N·1e6 div (n_ante·n_cons) in
  * DECIMAL(38,0) — [[Association.rules2]]'s exact floored forms with
  * baskets → entities.
  *
  * Scale shape — NO occurrence-pair join anywhere (the naive
  * formulation is per-entity events², quadratic in the q295 power-user
  * tail):
  *  1. one aggregate collapses events to the per-(entity, timestamp)
  *     grid with k presence flags (k = |alphabet| ≤ 16, a bounded
  *     driver list — the q274 contract);
  *  2. one RUNNING window per entity (ORDER BY ts DESC, ROWS UNBOUNDED
  *     PRECEDING TO 1 PRECEDING — incremental, never the O(n²)
  *     unbounded-FOLLOWING frame) yields next-occurrence[b] for all k
  *     types in a single WindowExec pass; distinct grid timestamps
  *     make the 1-PRECEDING cut exactly "strictly later" with no
  *     tie nondeterminism;
  *  3. one per-entity aggregate takes min over a-flagged rows of
  *     (next[b] − ts) for all k² pairs;
  *  4. one global 1-row aggregate (entity count, k antecedent
  *     supports, k² gap-gated pattern counts), localCheckpoint'ed;
  *     the ≤ k² output rows assemble driver-side from it (the
  *     gapSensitivity/fdStrength shape).
  * Corpus pays one groupBy + one co-partitioned running window — the
  * same bill as sessionization.
  *
  * Output (≤ k² rows, minSupport-gated): (antecedent, consequent,
  * n_entities, n_ante, n_cons, support_ppm, confidence_ppm,
  * lift_ppm).
  */
object SeqPatterns {

  private def hasAggs(alphabet: Seq[String]) =
    alphabet.indices.map(j => max(when(col("__t") === alphabet(j), 1L)
      .otherwise(0L)).as(s"__has$j"))

  /** The ONE running-window spec every pass in this family shares
    * (ts DESC, rows unbounded-preceding → 1-preceding): a min over it
    * is "the next strictly-later occurrence" — grid timestamps are
    * distinct per entity, so the 1-PRECEDING cut IS strictness, and
    * stacked passes over the same spec share a single sort
    * (PlanSpec-pinned). Declared once: the spec is the semantic
    * contract, and a drifted copy would silently desynchronize the
    * passes.
    */
  private def wDescRunning = Window.partitionBy(col("__e"))
    .orderBy(col("__us").desc)
    .rowsBetween(Window.unboundedPreceding, -1)

  /** Stages 1+2 of [[level2]]: the per-(entity, ts) grid with k
    * presence flags and k next-occurrence columns off ONE running
    * window. Package-visible so PlanSpec can pin the window shape
    * (the outer level2 plan hides it behind the stats checkpoint).
    */
  private[graft] def nextOccurrenceGrid(df: DataFrame, entityCol: String,
      tsCol: String, typeCol: String, alphabet: Seq[String]): DataFrame = {
    val idx = alphabet.indices
    val ha = hasAggs(alphabet)
    val grid = df
      .filter(col(entityCol).isNotNull && col(tsCol).isNotNull &&
        col(typeCol).isin(alphabet.map(x => x: Any): _*))
      .select(col(entityCol).as("__e"), unix_micros(col(tsCol)).as("__us"),
        col(typeCol).as("__t"))
      .groupBy(col("__e"), col("__us"))
      .agg(ha.head, ha.tail: _*)
    // next strictly-later occurrence of each type off the shared
    // running spec (see wDescRunning)
    val wDesc = wDescRunning
    // all k next-columns in ONE select so they share a single
    // WindowExec (chained withColumn left k separate Window nodes
    // behind — PlanSpec pins the collapsed shape)
    grid.select(col("*") +: idx.map(j =>
      min(when(col(s"__has$j") === 1L, col("__us"))).over(wDesc)
        .as(s"__nxt$j")): _*)
  }

  def level2(df: DataFrame, entityCol: String, tsCol: String,
             typeCol: String, alphabet: Seq[String],
             maxGapMinutes: Long, minSupport: Long = 1L): DataFrame = {
    require(alphabet.nonEmpty && alphabet.size <= 16,
      s"alphabet must be a bounded driver list of 1..16 types, got ${alphabet.size}")
    require(alphabet.distinct.size == alphabet.size, "alphabet has duplicates")
    require(maxGapMinutes > 0, s"maxGapMinutes must be positive, got $maxGapMinutes")
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val dec = "decimal(38,0)"
    val gapUs = maxGapMinutes * 60000000L
    val k = alphabet.size
    val idx = alphabet.indices
    // stages 1+2: grid + next-occurrence columns (one window pass)
    val withNext = nextOccurrenceGrid(df, entityCol, tsCol, typeCol, alphabet)
    // 3. per-entity: min gap for every ordered pair + antecedent flags
    val pairAggs = idx.flatMap(a => idx.map(b =>
      min(when(col(s"__has$a") === 1L, col(s"__nxt$b") - col("__us")))
        .as(s"__mg_${a}_$b"))) ++
      idx.map(a => max(col(s"__has$a")).as(s"__ha$a"))
    val perEntity = withNext.groupBy(col("__e"))
      .agg(pairAggs.head, pairAggs.tail: _*)
    // 4. one global sufficient-statistics row
    val statAggs = Seq(count(lit(1)).as("__nu")) ++
      idx.map(a => sum(col(s"__ha$a")).as(s"__na$a")) ++
      idx.flatMap(a => idx.map(b =>
        sum(when(col(s"__mg_${a}_$b") <= gapUs, 1L).otherwise(0L))
          .as(s"__np_${a}_$b")))
    val stats = perEntity.agg(statAggs.head, statAggs.tail: _*)
      .transform(Materialize.seam)
    // assemble all k² rows in ONE select (explode of a struct array —
    // a k²-way unionAll of per-pair selects costs k² tiny jobs)
    val packed = idx.flatMap(a => idx.map(b =>
      struct(lit(alphabet(a)).as("a"), lit(alphabet(b)).as("b"),
        col(s"__np_${a}_$b").as("np"), col(s"__na$a").as("na"),
        col(s"__na$b").as("nb"))))
    stats.select(col("__nu"), explode(array(packed: _*)).as("__r"))
      .select(col("__r.a").as("antecedent"), col("__r.b").as("consequent"),
        col("__r.np").as("n_entities"),
        col("__r.na").as("n_ante"), col("__r.nb").as("n_cons"),
        expr("(__r.np * 1000000L) div __nu").as("support_ppm"),
        expr("CASE WHEN __r.na > 0 THEN " +
          "(__r.np * 1000000L) div __r.na END").as("confidence_ppm"),
        expr(s"CASE WHEN __r.na > 0 AND __r.nb > 0 THEN " +
          s"(CAST(__r.np AS $dec) * __nu * CAST(1000000 AS $dec))" +
          s" div (CAST(__r.na AS $dec) * __r.nb) END").cast("long")
          .as("lift_ppm"))
      .filter(col("n_entities") >= minSupport)
  }

  /** Level-3 sequential patterns with a PER-STEP max-gap — the depth-3
    * extension of [[level2]] and the DISCOVERY census behind q257's
    * declared funnel: for every ordered type triple ⟨a, b, c⟩, how
    * many entities see some b within the gap after some a AND some c
    * within the gap after that b. Existence is NOT greedy-chainable
    * (the first b after an a may have no c behind it while a later
    * in-gap b does — the spec pins this trap), so the exact form
    * composes two window passes:
    *
    *  1. the [[level2]] next-occurrence pass: next_c per grid row;
    *  2. a row-wise FLAG per (b, c): this row is a b-occurrence with
    *     a c strictly after it within the gap (next_c − ts ≤ G);
    *  3. a second running min over the SAME window spec: next
    *     FLAGGED-b strictly after each row, per (b, c);
    *  4. per entity, min over a-rows of (next-flagged-b − ts) for all
    *     k³ triples; the triple is present iff that min ≤ G.
    *
    * Correctness: a valid chain (t_a, t_b, t_c) makes t_b flagged
    * (next_c(t_b) ≤ t_c) and next-flagged-b(t_a) ≤ t_b ≤ t_a + G;
    * conversely a flagged b within the gap IS a chain head. Both
    * window passes share one sort (same partitioning/ordering —
    * PlanSpec-class shape, two stacked WindowExecs, no re-sort), so
    * the corpus bill stays one groupBy + one co-partitioned sort.
    *
    * Output (≤ k³ rows, minSupport-gated): (step1, step2, step3,
    * n_entities, n_step1, support_ppm, completion_ppm — the share of
    * step1-bearing entities that complete the whole triple).
    */
  def level3(df: DataFrame, entityCol: String, tsCol: String,
             typeCol: String, alphabet: Seq[String],
             maxGapMinutes: Long, minSupport: Long = 1L): DataFrame = {
    require(alphabet.nonEmpty && alphabet.size <= 8,
      s"alphabet must be a bounded driver list of 1..8 types (k^3 output), got ${alphabet.size}")
    require(alphabet.distinct.size == alphabet.size, "alphabet has duplicates")
    require(maxGapMinutes > 0, s"maxGapMinutes must be positive, got $maxGapMinutes")
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val gapUs = maxGapMinutes * 60000000L
    val k = alphabet.size
    val idx = alphabet.indices
    val withNext = nextOccurrenceGrid(df, entityCol, tsCol, typeCol, alphabet)
    // 2+3: flag b-rows that have an in-gap c behind them, then the
    // next flagged-b per (b, c) off a second pass over the same window
    val wDesc = wDescRunning
    val flagged = withNext.select(col("*") +:
      idx.flatMap(b => idx.map(c =>
        (col(s"__has$b") === 1L && col(s"__nxt$c").isNotNull &&
          col(s"__nxt$c") - col("__us") <= gapUs).as(s"__f_${b}_$c"))): _*)
    val withNextF = flagged.select(col("*") +:
      idx.flatMap(b => idx.map(c =>
        min(when(col(s"__f_${b}_$c"), col("__us"))).over(wDesc)
          .as(s"__nf_${b}_$c"))): _*)
    // 4: per-entity triple mins + antecedent flags
    val perAggs = idx.flatMap(a => idx.flatMap(b => idx.map(c =>
      min(when(col(s"__has$a") === 1L,
        col(s"__nf_${b}_$c") - col("__us"))).as(s"__m_${a}_${b}_$c")))) ++
      idx.map(a => max(col(s"__has$a")).as(s"__ha$a"))
    val perEntity = withNextF.groupBy(col("__e"))
      .agg(perAggs.head, perAggs.tail: _*)
    val statAggs = Seq(count(lit(1)).as("__nu")) ++
      idx.map(a => sum(col(s"__ha$a")).as(s"__na$a")) ++
      idx.flatMap(a => idx.flatMap(b => idx.map(c =>
        sum(when(col(s"__m_${a}_${b}_$c") <= gapUs, 1L).otherwise(0L))
          .as(s"__np_${a}_${b}_$c"))))
    val stats = perEntity.agg(statAggs.head, statAggs.tail: _*)
      .transform(Materialize.seam)
    // ONE exploded select for all k³ rows (the level2 assembly form —
    // a k³-way unionAll would cost k³ tiny jobs)
    val packed = idx.flatMap(a => idx.flatMap(b => idx.map(c =>
      struct(lit(alphabet(a)).as("a"), lit(alphabet(b)).as("b"),
        lit(alphabet(c)).as("c"),
        col(s"__np_${a}_${b}_$c").as("np"), col(s"__na$a").as("na")))))
    stats.select(col("__nu"), explode(array(packed: _*)).as("__r"))
      .select(col("__r.a").as("step1"), col("__r.b").as("step2"),
        col("__r.c").as("step3"),
        col("__r.np").as("n_entities"), col("__r.na").as("n_step1"),
        expr("(__r.np * 1000000L) div __nu").as("support_ppm"),
        expr("CASE WHEN __r.na > 0 THEN " +
          "(__r.np * 1000000L) div __r.na END").as("completion_ppm"))
      .filter(col("n_entities") >= minSupport)
  }

  /** Per-step drop-off readout for a DECLARED 3-step funnel with
    * PER-STEP max-gaps — the question q257 (one declared funnel,
    * completion + leg latencies) and q302 (triple discovery) both
    * leave open: of the entities lost at step i, how many saw the
    * step-i event arrive but only after the gap had expired, and how
    * many never saw it at all after entering? The distinction drives
    * opposite fixes (lengthen the timeout vs fix the step).
    *
    * Exact semantics ([[level3]]'s non-greedy existence, per-step
    * gaps): an entity reaches step 2 iff ∃ occurrences t₁ < t₂ ≤
    * t₁+G₂ of (s₁, s₂); reaches step 3 iff some such chain extends
    * with t₃ ≤ t₂+G₃. Among entities that reached step i−1 but not i:
    *  - gap_expired: some valid chain through step i−1 has an s_i
    *    occurrence strictly AFTER its completion (it arrived, but
    *    never inside the gap of any valid chain);
    *  - absent: no s_i occurrence follows any valid step-(i−1)
    *    completion at all (an s_i BEFORE entering doesn't count — the
    *    funnel is ordered).
    * Step 1 enters the whole entity universe; its absent bucket is
    * "never saw s₁" and gap_expired is 0 by definition.
    *
    * Implementation: the [[level3]] window machinery with one more
    * conditional-min column per step — the gap-expired test for step i
    * is the SAME next-flagged-b pass with the flag's gap condition
    * relaxed to "any s_i after" (a valid chain reaching a
    * flagged-any row within its gap ⟺ some valid completion precedes
    * an s_i occurrence). Two stacked window passes over one sort, one
    * per-entity aggregate, one global stats row; the 3 output rows
    * assemble from it driver-side (the level2 exploded-struct form).
    *
    * Steps need not be distinct (a repeated type reads "recurs within
    * the gap", the level2/level3 convention). Output (3 rows):
    * (step, event_type, n_entered, n_reached, n_gap_expired,
    * n_absent, conversion_ppm) with n_entered(i) = n_reached(i−1) and
    * conversion_ppm = n_reached·1e6 div n_entered.
    */
  def funnelDropoff3(df: DataFrame, entityCol: String, tsCol: String,
                     typeCol: String, steps: Seq[String],
                     gapsMinutes: Seq[Long]): DataFrame = {
    require(steps.size == 3, s"declared funnel must have 3 steps, got $steps")
    require(gapsMinutes.size == 2 && gapsMinutes.forall(_ > 0),
      s"need one positive max-gap per step transition, got $gapsMinutes")
    val alphabet = steps.distinct
    val g2 = gapsMinutes(0) * 60000000L
    val g3 = gapsMinutes(1) * 60000000L
    val Seq(i1, i2, i3) = steps.map(alphabet.indexOf)
    val withNext = nextOccurrenceGrid(df, entityCol, tsCol, typeCol, alphabet)
    val wDesc = wDescRunning
    // flag s2-rows two ways: a valid chain tail (in-gap s3 behind it)
    // and the relaxed gap-expired probe (ANY s3 behind it); both
    // next-flagged mins ride the same second window pass
    val flagged = withNext
      .withColumn("__fg", col(s"__has$i2") === 1L &&
        col(s"__nxt$i3").isNotNull && col(s"__nxt$i3") - col("__us") <= g3)
      .withColumn("__fa", col(s"__has$i2") === 1L &&
        col(s"__nxt$i3").isNotNull)
    val withNf = flagged.select(col("*"),
      min(when(col("__fg"), col("__us"))).over(wDesc).as("__nfg"),
      min(when(col("__fa"), col("__us"))).over(wDesc).as("__nfa"))
    val perEntity = withNf.groupBy(col("__e")).agg(
      max(col(s"__has$i1")).as("__ha1"),
      min(when(col(s"__has$i1") === 1L, col(s"__nxt$i2") - col("__us")))
        .as("__m2gap"),
      min(when(col(s"__has$i1") === 1L, col(s"__nxt$i2"))).as("__m2any"),
      min(when(col(s"__has$i1") === 1L, col("__nfg") - col("__us")))
        .as("__m3gap"),
      min(when(col(s"__has$i1") === 1L, col("__nfa") - col("__us")))
        .as("__m3any"))
    // reached/saw predicates; a null min coalesces to "not reached" so
    // gap-expired classification can't be swallowed by null && logic
    val r2 = coalesce(col("__m2gap") <= g2, lit(false))
    val r3 = coalesce(col("__m3gap") <= g2, lit(false))
    val saw2 = col("__m2any").isNotNull
    val saw3 = coalesce(col("__m3any") <= g2, lit(false))
    val stats = perEntity.agg(
      count(lit(1)).as("__nu"),
      cnt(col("__ha1") === 1L).as("__n1"),
      cnt(r2).as("__n2"),
      cnt(r3).as("__n3"),
      cnt(col("__ha1") === 1L && !r2 && saw2).as("__ge2"),
      cnt(r2 && !r3 && saw3).as("__ge3"))
      .transform(Materialize.seam)
    assembleDropoff(stats, steps)
  }

  private def cnt(c: Column) =
    coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))

  /** The 3-row drop-off assembly off a 1-row stats frame
    * (__nu/__n1/__n2/__n3/__ge2/__ge3) — shared by [[funnelDropoff3]]
    * and the [[dropoffFromFlags]] stream readout so both emit the
    * identical schema and derived columns.
    */
  private def assembleDropoff(stats: DataFrame,
                              steps: Seq[String]): DataFrame = {
    val packed = array(
      struct(lit(1L).as("step"), lit(steps(0)).as("t"),
        col("__nu").as("en"), col("__n1").as("re"), lit(0L).as("ge")),
      struct(lit(2L).as("step"), lit(steps(1)).as("t"),
        col("__n1").as("en"), col("__n2").as("re"), col("__ge2").as("ge")),
      struct(lit(3L).as("step"), lit(steps(2)).as("t"),
        col("__n2").as("en"), col("__n3").as("re"), col("__ge3").as("ge")))
    stats.select(explode(packed).as("__r"))
      .select(col("__r.step").as("step"), col("__r.t").as("event_type"),
        col("__r.en").as("n_entered"), col("__r.re").as("n_reached"),
        col("__r.ge").as("n_gap_expired"),
        (col("__r.en") - col("__r.re") - col("__r.ge")).as("n_absent"),
        expr("CASE WHEN __r.en > 0 THEN (__r.re * 1000000L) div __r.en END")
          .as("conversion_ppm"))
  }

  /** Reader-side drop-off rollup over the UPSERTED flag table emitted
    * by [[graft.streaming.FunnelDropoffStream]] (the rulesFromCells
    * convention: the per-step counts are a global function of every
    * entity's flags, so they live with the reader). `flags` columns:
    * (entity, flag) with flag ∈ {seen, s1, r2, saw2, r3, saw3} — each
    * monotone (set once, re-emissions legal), so duplicates collapse
    * by distinct. Output: identical schema and values to
    * [[funnelDropoff3]] on the same underlying events.
    *
    * Scale shape: the flag table is entity·6-bounded; one distinct +
    * one per-entity pivot + a 1-row stats aggregate — never the event
    * corpus.
    */
  def dropoffFromFlags(flags: DataFrame, entityCol: String,
                       flagCol: String, steps: Seq[String]): DataFrame = {
    require(steps.size == 3, s"declared funnel must have 3 steps, got $steps")
    def has(f: String) = max(when(col("__f") === f, 1L).otherwise(0L))
    val per = flags
      .select(col(entityCol).as("__e"), col(flagCol).as("__f"))
      .distinct()
      .groupBy(col("__e"))
      .agg(has("s1").as("__ha1"), has("r2").as("__r2"),
        has("saw2").as("__saw2"), has("r3").as("__r3"),
        has("saw3").as("__saw3"))
    val stats = per.agg(
      count(lit(1)).as("__nu"),
      cnt(col("__ha1") === 1L).as("__n1"),
      cnt(col("__r2") === 1L).as("__n2"),
      cnt(col("__r3") === 1L).as("__n3"),
      cnt(col("__ha1") === 1L && col("__r2") === 0L &&
        col("__saw2") === 1L).as("__ge2"),
      cnt(col("__r2") === 1L && col("__r3") === 0L &&
        col("__saw3") === 1L).as("__ge3"))
      .transform(Materialize.seam)
    assembleDropoff(stats, steps)
  }

  /** Reader-side rule rollup over an UPSERTED cell table — the
    * [[graft.streaming.SeqPatternsStream]] readout (the kappaFromCells
    * convention: the rule metrics are a global function of every
    * entity's cells, so they live with the reader, and batch == stream
    * reduces to cell-table equality). `cells` columns: (entity, ante,
    * cons, min_gap_us) with cons = "*" marking "ante seen by this
    * entity" — "*" is therefore RESERVED and must not be an alphabet
    * type (the stream side requires it); duplicate upserts collapse
    * by MIN (emissions are monotone decreasing), so any prefix of
    * re-emissions is legal input. Output: identical schema and values to [[level2]] on the
    * same underlying events.
    *
    * Scale shape: the cell table is entity·(k²+k)-bounded; one min
    * aggregate + bounded joins — never the event corpus.
    */
  def rulesFromCells(cells: DataFrame, entityCol: String, anteCol: String,
                     consCol: String, gapCol: String,
                     maxGapMinutes: Long, minSupport: Long = 1L): DataFrame = {
    require(maxGapMinutes > 0, s"maxGapMinutes must be positive, got $maxGapMinutes")
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val dec = "decimal(38,0)"
    val gapUs = maxGapMinutes * 60000000L
    val seen = cells.filter(col(consCol) === "*")
      .select(col(entityCol).as("__e"), col(anteCol).as("__t"))
      .distinct()
    val nu = seen.select(col("__e")).distinct()
      .agg(count(lit(1)).as("__nu"))
    val supp = seen.groupBy(col("__t")).agg(count(lit(1)).as("__ns"))
    val pat = cells.filter(col(consCol) =!= "*")
      .groupBy(col(entityCol).as("__e"), col(anteCol).as("__a"),
        col(consCol).as("__b"))
      .agg(min(col(gapCol)).as("__g"))
      .filter(col("__g") <= gapUs)
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__np"))
      .filter(col("__np") >= minSupport)
    pat
      .join(broadcast(supp.select(col("__t").as("__a"),
        col("__ns").as("__na"))), "__a")
      .join(broadcast(supp.select(col("__t").as("__b"),
        col("__ns").as("__nb"))), "__b")
      .crossJoin(broadcast(nu))
      .select(col("__a").as("antecedent"), col("__b").as("consequent"),
        col("__np").as("n_entities"),
        col("__na").as("n_ante"), col("__nb").as("n_cons"),
        expr("(__np * 1000000L) div __nu").as("support_ppm"),
        expr("(__np * 1000000L) div __na").as("confidence_ppm"),
        expr(s"(CAST(__np AS $dec) * __nu * CAST(1000000 AS $dec))" +
          s" div (CAST(__na AS $dec) * __nb)").cast("long")
          .as("lift_ppm"))
  }

  /** Level-3 reader rollup over an UPSERTED cell table — the
    * [[graft.streaming.SeqPatternsStream.cells3]] readout (the
    * rulesFromCells convention: the triple metrics are a global
    * function of every entity's cells, so they live with the reader).
    * `cells` columns: (entity, step1, step2, step3, min_gap_us) with
    * step2 = "*" marking "step1 seen by this entity" (the reserved
    * seen-marker); duplicate upserts collapse by MIN. A triple is
    * present for an entity iff its min cell value ≤ the gap — the
    * stream recurrence guarantees this matches [[level3]]'s presence
    * exactly (see the processor scaladoc). Output: identical schema
    * and values to [[level3]] on the same underlying events.
    *
    * Scale shape: the cell table is entity·(k³+k)-bounded; one min
    * aggregate + bounded joins — never the event corpus.
    */
  def triplesFromCells(cells: DataFrame, entityCol: String, s1Col: String,
                       s2Col: String, s3Col: String, gapCol: String,
                       maxGapMinutes: Long,
                       minSupport: Long = 1L): DataFrame = {
    require(maxGapMinutes > 0, s"maxGapMinutes must be positive, got $maxGapMinutes")
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val gapUs = maxGapMinutes * 60000000L
    val seen = cells.filter(col(s2Col) === "*")
      .select(col(entityCol).as("__e"), col(s1Col).as("__t"))
      .distinct()
    val nu = seen.select(col("__e")).distinct()
      .agg(count(lit(1)).as("__nu"))
    val supp = seen.groupBy(col("__t")).agg(count(lit(1)).as("__ns"))
    val pat = cells.filter(col(s2Col) =!= "*")
      .groupBy(col(entityCol).as("__e"), col(s1Col).as("__a"),
        col(s2Col).as("__b"), col(s3Col).as("__c"))
      .agg(min(col(gapCol)).as("__g"))
      .filter(col("__g") <= gapUs)
      .groupBy(col("__a"), col("__b"), col("__c"))
      .agg(count(lit(1)).as("__np"))
      .filter(col("__np") >= minSupport)
    pat
      .join(broadcast(supp.select(col("__t").as("__a"),
        col("__ns").as("__na"))), "__a")
      .crossJoin(broadcast(nu))
      .select(col("__a").as("step1"), col("__b").as("step2"),
        col("__c").as("step3"), col("__np").as("n_entities"),
        col("__na").as("n_step1"),
        expr("(__np * 1000000L) div __nu").as("support_ppm"),
        // the inner join on the support table guarantees __na >= 1
        expr("(__np * 1000000L) div __na").as("completion_ppm"))
  }
}
