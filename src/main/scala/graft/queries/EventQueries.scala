package graft.queries

import graft.Tables
import graft.operators.{Dedup, Joins, Windows}
import graft.runtime.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Det._

/** Stream-shaped operators exercised in batch so the DuckDB oracle can check
  * them (SURVEY.md §2 B12-B14, B4-B5): tumbling/sliding/session windows,
  * deterministic dedup, as-of join, range join, and a kaflow-style
  * deserialize→transform→serialize record pipeline (§2 Part A surface).
  * The same window/session expressions run unchanged under Structured
  * Streaming (see graft.streaming).
  */
object EventQueries extends QueryGroup {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q25_tumbling_window" -> { (s, d) =>
      Windows.tumbling(Tables.events(s, d), "ts", "1 hour", Seq("event_type"),
          Seq(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")))
        .select(col("window_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type"))
    },

    "q26_sliding_window" -> { (s, d) =>
      Windows.sliding(Tables.events(s, d), "ts", "1 hour", "30 minutes", Nil,
          Seq(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")))
        .select(col("window_start"), col("n"), col("sum_value"))
        .orderBy(col("window_start"))
    },

    "q27_session_window" -> { (s, d) =>
      Windows.session(Tables.events(s, d), "ts", "10 minutes", Seq("user_id"),
          Seq(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value")))
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start"))
    },

    "q28_dedup_first" -> { (s, d) =>
      Dedup.keepFirst(Tables.events(s, d), Seq("user_id", "event_type"),
          Seq(col("ts").asc, col("event_id").asc))
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
        .orderBy(col("user_id"), col("event_type"))
    },

    "q29_asof_join" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      // Pre-aggregate the right side to unique (user, ts) for determinism.
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts").as("sts"))
        .agg(max(col("event_id")).as("signup_event_id"))
      Joins.asof(purchases, signups, Seq("user_id"), "ts", "sts",
          Seq("signup_event_id", "sts"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_signup_event_id"), col("asof_sts"))
        .orderBy(col("event_id"))
    },

    "q59_asof_join_custom" -> { (s, d) =>
      // Same result as q29 through the custom AsofJoinExec physical
      // operator (single forward merge; see graft.plans.AsofJoin).
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts").as("sts"))
        .agg(max(col("event_id")).as("signup_event_id"))
      Joins.asofMerge(purchases, signups, Seq("user_id"), "ts", "sts")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_signup_event_id"), col("asof_sts"))
        .orderBy(col("event_id"))
    },

    "q30_range_join_count" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val all = ev.select(col("event_id").as("e2_id"), col("user_id"), col("ts").as("ts2"))
      val joined = Joins.rangeJoin(errors, all, Seq("user_id"), "ts", "ts2",
        expr("INTERVAL '0' SECOND"), expr("INTERVAL '5' MINUTE"), "left")
      joined
        .groupBy(col("l.event_id").as("event_id"))
        .agg(count(when(col("r.e2_id") =!= col("l.event_id"), 1)).as("n_nearby"))
        .orderBy(col("event_id"))
    },

    "q54_range_join_custom" -> { (s, d) =>
      // Same result as q30 through the custom RangeJoinExec physical
      // operator (sort-merge sweep; see graft.plans). Inner join is
      // equivalent here because every error event matches itself.
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val all = ev.select(col("event_id").as("e2_id"), col("user_id"), col("ts").as("ts2"))
      Joins.rangeJoinMerge(errors, all, Seq("user_id"), "ts", "ts2",
          loMicros = 0L, hiMicros = 5L * 60 * 1000000)
        .groupBy(col("event_id"))
        .agg(count(when(col("e2_id") =!= col("event_id"), 1)).as("n_nearby"))
        .orderBy(col("event_id"))
    },

    "q81_session_ids" -> { (s, d) =>
      // Event-LEVEL sessionization: label every event with its per-user
      // session sequence (lag + running sum) — q27 aggregates sessions,
      // this keeps the events for per-session feature joins. 30-minute
      // gap; event_id totalizes ordering under duplicate timestamps.
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      Windows.withSessionIds(ev, "user_id", "ts",
          gapMicros = 30L * 60 * 1000000, tieBreak = "event_id")
        .select(col("event_id"), col("user_id"), col("session_seq"))
        .orderBy(col("event_id"))
    },

    "q82_cohort_retention" -> { (s, d) =>
      // Cohort retention: users grouped by first-seen day, distinct
      // actives per (cohort, day-offset) — the classic product-analytics
      // triangle. Integer day arithmetic only (engine-exact).
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("ts"))
      val first = ev.groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
      ev.join(first, "user_id")
        .select(date_trunc("day", col("first_ts")).as("cohort_day"),
          datediff(col("ts").cast("date"), col("first_ts").cast("date"))
            .cast("long").as("day_offset"),
          col("user_id"))
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort_day"), col("day_offset"))
    },

    "q83_funnel" -> { (s, d) =>
      // Signup → purchase funnel with a 7-day conversion window: one
      // conditional-aggregation pass per user, then one global rollup.
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id")).agg(
        min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
        min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
      perUser.agg(
        count(when(col("first_signup").isNotNull, 1)).as("n_signup_users"),
        count(when(col("first_signup").isNotNull &&
          col("first_purchase") > col("first_signup"), 1)).as("n_purchased_after"),
        count(when(col("first_signup").isNotNull &&
          col("first_purchase") > col("first_signup") &&
          unix_micros(col("first_purchase")) - unix_micros(col("first_signup"))
            <= 7L * 24 * 3600 * 1000000, 1)).as("n_converted_7d"))
    },

    "q107_top_paths" -> { (s, d) =>
      // Top event trigram paths (funnel discovery): two lags per user's
      // time-ordered stream build 3-step paths; global top-10 by count
      // with a deterministic tiebreak. The path table is types³-bounded
      // after aggregation, so the final top-k is trivial.
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val tri = ev.select(
          lag(col("event_type"), 2).over(w).as("e1"),
          lag(col("event_type"), 1).over(w).as("e2"),
          col("event_type").as("e3"))
        .filter(col("e1").isNotNull && col("e2").isNotNull)
        .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
      tri.groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path").asc)
        .limit(10)
    },

    "q110_user_sequences" -> { (s, d) =>
      // Ordered per-user event sequences (the behavioral-sequence export a
      // training pipeline ships): each user's first 20 events as a '>'
      // joined string. BOUNDED before collection — a rank filter keeps 20
      // rows per user ahead of the collect, so no unbounded per-user
      // buffers; the final sort_array on structs (ts, event_id carried as
      // the total order) makes the collect order-deterministic.
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("event_type"))
      val first20 = graft.operators.TopK.perGroup(
        ev, Seq("user_id"), Seq(col("us").asc, col("event_id").asc), 20)
      first20.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          array_join(
            transform(
              sort_array(collect_list(struct(col("us"), col("event_id"),
                col("event_type")))),
              e => e.getField("event_type")), ">").as("seq"))
        .orderBy(col("user_id"))
    },

    "q104_transitions" -> { (s, d) =>
      // Event-type transition matrix (user-behavior bigrams): one lag per
      // user's time-ordered stream, then pair counts and exact row-
      // normalized probabilities. The lag shuffles once on user_id; the
      // count table is type²-sized and its row totals broadcast back.
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = ev.select(col("user_id"),
          lag(col("event_type"), 1).over(w).as("from_type"),
          col("event_type").as("to_type"))
        .filter(col("from_type").isNotNull)
      val counts = pairs.groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val fromTot = counts.groupBy(col("from_type"))
        .agg(sum(col("n")).as("from_n"))
      counts.join(broadcast(fromTot), "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          (col("n").cast("double") / col("from_n")).as("p"))
        .orderBy(col("from_type"), col("to_type"))
    },

    "q96_daily_change" -> { (s, d) =>
      // Day-over-day change per event type: windowed lag over the
      // PRE-AGGREGATED daily table — the window input is group-count-
      // sized, so the per-type sort is trivial regardless of event volume.
      val daily = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily.select(col("day"), col("event_type"), col("n"),
          lag(col("n"), 1).over(w).as("prev_n"))
        .withColumn("pct_change",
          (col("n") - col("prev_n")).cast("double") / col("prev_n"))
        .orderBy(col("event_type"), col("day"))
    },

    "q93_trailing_1h" -> { (s, d) =>
      // Event-time RANGE frame: per event, the trailing-hour count and sum
      // for its event type — the time-windowed sibling of the rows-frame
      // coverage in q17. The frame bound is in exact microseconds (no
      // fractional-second rounding ambiguity); equal-timestamp rows are
      // frame peers in both engines by RANGE semantics. One exchange on
      // the partition key; the running frame is computed in a single sort.
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("us"))
        .rangeBetween(-3600L * 1000000L, 0)
      Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"),
          unix_micros(col("ts")).as("us"))
        .select(col("event_id"), col("event_type"),
          count(lit(1)).over(w).as("n_1h"),
          sum(dec(col("value"))).over(w).cast("double").as("sum_1h"))
        .orderBy(col("event_id"))
    },

    "q111_trailing_1h_dist" -> { (s, d) =>
      // q93's trailing-hour frame on the SCALE path: Spark's sliding RANGE
      // frame re-accumulates the whole frame per row (O(rows × density))
      // and partitionBy(event_type) caps parallelism at 5, so q93 goes
      // ~100× slower on 10× data. Windows.trailingCountSum decomposes the
      // frame into two growing (incremental) frames over (type, hour
      // bucket) partitions — same oracle, linear scaling. q93 stays as the
      // built-in cross-check, the q50-vs-q65 pattern.
      Windows.trailingCountSum(
          Tables.events(s, d).select(col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("us"), col("value")),
          Seq("event_type"), "event_id", "us", dec(col("value")),
          windowMicros = 3600L * 1000000L)
        .select(col("event_id"), col("event_type"),
          col("n_trailing").as("n_1h"), col("sum_trailing").as("sum_1h"))
        .orderBy(col("event_id"))
    },

    "q305_trailing_evidence" -> { (s, d) =>
      // sf1 evidence twin for q111/q93 (BASELINE §20: the dense RANGE
      // self-window oracle exhausts DuckDB temp disk over 10M events):
      // the SAME Windows.trailingCountSum machinery over the 1%
      // mixedBucket event slice, collapsed to per-type BIGINT checksum
      // rows (row count, trailing-count total, an event_id-aligned
      // checksum that pins per-row attribution, and the trailing sums
      // in exact centi-units) — DuckDB replays the sparse slice at any
      // SF. The per-row floor(x*100+0.5) re-integerization is exact:
      // both engines hold the identical IEEE double of a DECIMAL(18,2)
      // value.
      val ev = Tables.events(s, d)
        .filter(graft.operators.Sampling.mixedBucket(col("event_id")) < 10)
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("value"))
      Windows.trailingCountSum(ev, Seq("event_type"), "event_id", "us",
          dec(col("value")), windowMicros = 3600L * 1000000L)
        .select(col("event_type"), col("event_id"), col("n_trailing"),
          coalesce(floor(col("sum_trailing") * 100 + lit(0.5)).cast("long"),
            lit(0L)).as("__c1h"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("n_trailing")).as("n1h_sum"),
          sum(col("n_trailing") * pmod(col("event_id"), lit(1000003L)))
            .as("align_sum"),
          sum(col("__c1h")).as("sum1h_centi"))
        .orderBy(col("event_type"))
    },

    "q89_outliers" -> { (s, d) =>
      // Z-score outlier flagging per event type: one sufficient-statistics
      // pass (order-independent DECIMAL sums), broadcast the tiny per-type
      // stats back, flag |z| > 3. The z derivation is a single IEEE
      // expression tree both engines evaluate identically (sqrt is
      // correctly-rounded in both), so the boundary predicate is portable.
      val ev = Tables.events(s, d)
      val stats = ev.groupBy(col("event_type")).agg(
        count(lit(1)).cast("double").as("n"),
        dsum(col("value")).as("s1"),
        sum(dec(col("value")) * dec(col("value"))).cast("double").as("s2"))
      val mean = col("s1") / col("n")
      val sd = sqrt(col("s2") / col("n") - mean * mean)
      ev.join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"), col("value"),
          ((col("value") - mean) / sd).as("z"))
        .filter(abs(col("z")) > 3.0)
        .orderBy(col("event_id"))
    },

    "q212_locf_resample" -> { (s, d) =>
      // Gap-fill (operators/Resample.locfGrid): per-user 6-hour grid from
      // the user's first event tick to the corpus's last, each tick
      // holding the latest (event_id, value) observation plus its age.
      // The fill runs through the custom as-of merge exec; the grid comes
      // from a bounded per-key table (users x ticks), so grid volume is
      // independent of event volume.
      graft.operators.Resample.locfGrid(
        Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("value")),
        "user_id", "ts", Seq("event_id", "value"), stepSeconds = 21600L)
        .orderBy(col("user_id"), col("grid_ts"))
    },

    "q263_session_stats" -> { (s, d) =>
      // Session economics over the q81 sessionization (10-minute gap):
      // bounce rate (single-event sessions), exact median/p90 session
      // span, mean events per session — the per-session rollup q27's
      // per-session listing doesn't aggregate. One window per user,
      // then everything runs on the session-bounded table.
      sessionStatsRow(s, d)
    },

    "q266_session_evidence" -> { (s, d) =>
      // Evidence twin for q263 (driver-red on first r7 appearance while
      // locally green): the identical one-row readout unpivoted into
      // (metric VARCHAR, value BIGINT) rows — one row per metric, so a
      // red names the divergent column, and a green alongside a red
      // q263 pins the divergence on comparator representation rather
      // than values.
      sessionStatsRow(s, d).selectExpr(
        """stack(5,
          'n_sessions', n_sessions,
          'bounce_ppm', bounce_ppm,
          'mean_events_milli', mean_events_milli,
          'median_span_micros', median_span_micros,
          'p90_span_micros', p90_span_micros) AS (metric, value)""")
        .orderBy(col("metric"))
    },

    "q277_fk_integrity" -> { (s, d) =>
      // Referential-integrity audit (B106): orphan census for three
      // declared FKs — two clean TPC-H edges (lineitem→orders,
      // orders→customer) and the deliberately-violated
      // events.user_id→customer edge (user ids are not customer keys),
      // so both verdict polarities are live. Child rows collapse to
      // distinct-key tables before the parent join; per-FK jobs union
      // driver-side.
      graft.operators.Profile.fkOrphans(Seq(
        ("lineitem.l_orderkey->orders", Tables.lineitem(s, d),
          "l_orderkey", Tables.orders(s, d), "o_orderkey"),
        ("orders.o_custkey->customer", Tables.orders(s, d),
          "o_custkey", Tables.customer(s, d), "c_custkey"),
        ("events.user_id->customer", Tables.events(s, d),
          "user_id", Tables.customer(s, d), "c_custkey")))
        .orderBy(col("fk_name"))
    },

    "q276_burstiness" -> { (s, d) =>
      // Traffic-shape monitor (B105): CV² of per-user inter-arrival
      // gaps pooled per event type — steady drizzle (→0), Poisson
      // (1000 milli), or silence-then-bursts (>1000); rate monitors
      // (q253's seasonal bands) can't see the difference. Windows
      // partition by (user, type) — entity-history-bounded; one
      // combinable aggregate per type; Σg² in DECIMAL(38,0).
      graft.operators.Burstiness.interArrivalCv2(
        Tables.events(s, d), "user_id", "event_type", "ts", "event_id")
        .orderBy(col("event_type"))
    },

    "q298_tick_dispersion" -> { (s, d) =>
      // Fisher index of dispersion over hourly tick counts (B125):
      // the Poisson-validity pre-check for q218's CUSUM and q287's
      // EWMA calibration, and the count-side complement of q276's gap
      // CV². Silent ticks counted via the per-type span — they are
      // what drives dispersion, and the tick table alone can't see
      // them. 1000 milli = Poisson; > 1000 bursty.
      graft.operators.Burstiness.tickDispersion(
        Tables.events(s, d), "event_type", "ts", stepSeconds = 3600L)
        .orderBy(col("event_type"))
    },

    "q296_watermark_advisor" -> { (s, d) =>
      // Watermark-delay advisor (B123, Akidau 2015 semantics measured):
      // replay a stream in arrival order, track the event-time
      // high-water mark, and report the exact ppm of rows a candidate
      // watermark delay would DROP — withWatermark as a measurement
      // instead of a guess. The live events stream is perfectly
      // in-order (measured: disorder 0 at every type — event_id IS the
      // time order), so the non-trivial scenario is the one every
      // backfill hits: replaying ORDERS key-ordered into an event-time
      // pipeline, where order dates are uncorrelated with keys
      // (~99.7% disorder) and only month/year-scale delays keep rows.
      // One arrival-ordered window pass + one conditional aggregate.
      val ord = Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"),
          expr("CAST(o_orderdate AS TIMESTAMP)").as("odts"))
      graft.operators.Lateness.watermarkAdvisor(
        ord, "o_orderpriority", "o_orderkey", "odts",
        delaysSeconds = Seq(2592000L, 31536000L, 94608000L))
        .orderBy(col("o_orderpriority"))
    },

    "q295_gap_sensitivity" -> { (s, d) =>
      // Session-gap sensitivity sweep (B122): the measurement behind
      // q27's 10-minute session window — sessions, mean events and
      // mean within-session time at gap = 5/10/20/40/80 min. One
      // lag-window pass + one aggregate regardless of grid size (every
      // threshold is a pair of conditional aggregates over the same
      // gap table); the knee of n_sessions(T) is the defensible gap.
      graft.operators.Windows.gapSensitivity(
        Tables.events(s, d), "user_id", "ts", "event_id",
        gapMinutes = Seq(5L, 10L, 20L, 40L, 80L))
        .orderBy(col("gap_minutes"))
    },

    "q291_markov_accuracy" -> { (s, d) =>
      // Next-event prediction eval (B118): the holdout accuracy of the
      // first-order Markov predictor next to the context-free
      // most-frequent baseline, per from-state — the gap between the
      // two columns is the measured value of sequence context (q104
      // builds the matrix, q256 its stationary summary; this says
      // whether the matrix predicts anything). User-level hash split
      // (transitions never straddle — the q279 leakage rule).
      graft.operators.Markov.nextEventAccuracy(
        Tables.events(s, d), "user_id", "ts", "event_id", "event_type")
        .orderBy(col("from_type"))
    },

    "q302_seq_funnel_discovery" -> { (s, d) =>
      // Depth-3 sequential pattern census with PER-STEP max-gap
      // (B129): for every ordered type triple, users where some b
      // follows some a within 60 min AND some c follows that b within
      // 60 min — the discovery census behind q257's declared funnel,
      // with the timeout every real funnel has. Existence is not
      // greedy-chainable; two stacked window passes over ONE sort
      // (flag b-rows with an in-gap c, then next-flagged-b per pair).
      graft.operators.SeqPatterns.level3(
        Tables.events(s, d), "user_id", "ts", "event_type",
        alphabet = Seq("click", "error", "purchase", "signup", "view"),
        maxGapMinutes = 60L, minSupport = 2L)
        .orderBy(col("step1"), col("step2"), col("step3"))
    },

    "q304_funnel_dropoff" -> { (s, d) =>
      // Declared-funnel drop-off readout (B130, the B88×B129
      // composition): view→click→purchase with per-step 4-hour
      // max-gaps, per-step counts of entities lost because the step
      // event arrived after the gap expired vs never arrived after
      // entering — the distinction that decides "lengthen the timeout"
      // vs "fix the step". Same one-sort two-window-pass machinery as
      // q302 plus one relaxed (any-gap) conditional-min per step.
      graft.operators.SeqPatterns.funnelDropoff3(
        Tables.events(s, d), "user_id", "ts", "event_type",
        steps = Seq("view", "click", "purchase"),
        gapsMinutes = Seq(240L, 240L))
        .orderBy(col("step"))
    },

    "q300_seq_patterns" -> { (s, d) =>
      // Level-2 sequential patterns with a max-gap (B127, PrefixSpan/
      // GSP level 2): for every ordered event-type pair <a, b>, how
      // many users see some b follow some a within 60 minutes, with
      // the rules2 support/confidence/lift forms on ENTITY counts.
      // q274 is this census at gap = infinity; q104 at gap = one step.
      // No occurrence-pair join: one (user, ts) grid aggregate + one
      // running window (ts DESC) + k-squared conditional mins.
      graft.operators.SeqPatterns.level2(
        Tables.events(s, d), "user_id", "ts", "event_type",
        alphabet = Seq("click", "error", "purchase", "signup", "view"),
        maxGapMinutes = 60L, minSupport = 2L)
        .orderBy(col("antecedent"), col("consequent"))
    },

    "q289_naive_bayes_gate" -> { (s, d) =>
      // Count-based Naive Bayes baseline (B116, Maron 1961): train the
      // add-one-smoothed classifier for the purchase label over q272's
      // feature set ($20 value bin capped at 49, hour-of-day,
      // day-of-week) on the deterministic 80% hash split and report
      // the holdout confusion matrix — the number a heavier model must
      // beat. Train = one counting pass; model = three bounded
      // contingency tables, broadcast; posteriors cross-multiplied as
      // identical left-assoc double chains in both engines.
      val ev = Tables.events(s, d)
        .filter(col("ts").isNotNull && col("value").isNotNull &&
          col("event_type").isNotNull)
        .select(col("event_id"),
          (col("event_type") === "purchase").as("is_purchase"),
          least(greatest(expr(
            "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) div 2000"),
            lit(0L)), lit(49L)).as("vbin"),
          pmod(expr("unix_micros(ts) div 3600000000L"), lit(24L))
            .as("hod"),
          pmod(expr("unix_micros(ts) div 86400000000L"), lit(7L))
            .as("dow"))
      graft.operators.NaiveBayes.confusionGate(ev, "event_id",
          "is_purchase", Seq("vbin", "hod", "dow"), trainPermille = 800)
        .orderBy(col("actual"), col("predicted"))
    },

    "q287_ewma_chart" -> { (s, d) =>
      // EWMA control chart (B114, Roberts 1959/Hunter 1986): the
      // smoothed-deviation monitor between q253's per-tick z-bands
      // (spike-only) and q218's CUSUM (accumulates forever) — s_t
      // forgets geometrically, catching sustained 1-2 sigma drift and
      // re-arming after it. alpha = 1/2 truncated at 8 lags makes the
      // statistic an exact rational (numerator integer, denominator
      // 2^(m+1)-1); the 3-sigma alarm cross-multiplies to all-integer
      // DECIMAL(38,0). Calendar-bounded tick series, one corpus
      // aggregate.
      val series = Tables.events(s, d)
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000L").as("tick"))
        .groupBy("event_type", "tick").agg(count(lit(1)).as("x"))
      graft.operators.Ewma.controlChart(series, Seq("event_type"),
          "tick", "x", memory = 8, l = 3)
        .orderBy(col("event_type"), col("tick"))
    },

    "q274_precedence_census" -> { (s, d) =>
      // Funnel DISCOVERY (B104), the step before q257's declared
      // funnel: for every ordered event-type pair, how many users have
      // both and for how many does a strictly precede some b — the
      // census that tells you WHICH funnel to declare. One corpus
      // aggregate to the (user, type, min, max) spans table; the pair
      // join is per-user alphabet², co-partitioned on the user.
      graft.operators.Funnel.precedenceCensus(
        Tables.events(s, d), "user_id", "ts", "event_type")
        .orderBy(col("type_a"), col("type_b"))
    },

    "q273_lag_correlation" -> { (s, d) =>
      // Lead/lag detection (B102): lagged cross-correlation between the
      // hourly click and purchase series — does purchasing FOLLOW
      // clicking, and by how many hours? Exact integer centering
      // (multiply through by n), DECIMAL(38,0) products, cc reported in
      // ppm of the max |cc|; the sweep runs on the calendar-bounded
      // tick grid, never the corpus.
      val ev = Tables.events(s, d).filter(col("ts").isNotNull)
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000L").as("tick"))
      def series(t: String) = ev.filter(col("event_type") === t)
        .groupBy(col("tick")).agg(count(lit(1)).as("v"))
      graft.operators.Trend.crossCorrelation(
        series("click"), series("purchase"), "tick", "v", maxLag = 6)
        .orderBy(col("lag_ticks"))
    },

    "q272_feature_split_audit" -> { (s, d) =>
      // Depth-1 decision-stump audit (B101): for each candidate
      // feature, the single best threshold split of the purchase label
      // by exact-ppm Gini impurity — "does this column carry signal"
      // before anyone trains on it (the ordered-threshold complement of
      // q226's chi²). Per feature: one aggregate to the
      // cardinality-bounded value table, two-phase cumulative counts,
      // one struct-min argmin; driver-side union (the fdStrength
      // shape).
      val ev = Tables.events(s, d)
        .filter(col("ts").isNotNull)
        .select((col("event_type") === "purchase").as("is_purchase"),
          (col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("value_cents"),
          pmod(expr("unix_micros(ts) div 3600000000L"), lit(24L))
            .as("hod"),
          pmod(expr("unix_micros(ts) div 86400000000L"), lit(7L))
            .as("dow"))
      graft.operators.Features.bestSplit(ev, "is_purchase",
        Seq("value_cents", "hod", "dow"))
        .orderBy(col("feature"))
    },

    "q269_histogram_drift" -> { (s, d) =>
      // Distribution drift between the q262 slices (B98): where the
      // value mass MOVED, per $20 bin, plus the total-variation
      // distance — the PSI-class alarm number q262's summary stats
      // (equal means can hide a bimodal split) cannot give. Exact
      // integer throughout (floor bins via remainder strip, ppm masses,
      // TV = half the L1); one combinable aggregate per side to the
      // bounded bin table.
      val ev = Tables.events(s, d).select(col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long")
          .as("value_cents"))
      graft.operators.Profile.histogramDrift(
        ev.filter(col("event_type").isin("click", "view")),
        ev.filter(col("event_type").isin("purchase", "signup", "error")),
        "value_cents", binWidth = 2000L)
        .orderBy(col("bin"))
    },

    "q262_column_drift" -> { (s, d) =>
      // Per-column statistics drift between two event-table slices
      // (engagement vs transactional — the "same table, one crawl
      // later" monitor shape): null rate / exact NDV / range / exact
      // milli-mean per side plus deltas. One combinable aggregate per
      // column per side; cents/epoch pre-cast to longs (the q252
      // cast rule).
      val ev = Tables.events(s, d).select(col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long")
          .as("value_cents"),
        col("user_id"),
        expr("unix_micros(ts)").as("ts_micros"))
      graft.operators.Profile.columnDrift(
        ev.filter(col("event_type").isin("click", "view")),
        ev.filter(col("event_type").isin("purchase", "signup", "error")),
        Seq("value_cents", "user_id", "ts_micros"))
        .orderBy(col("column_name"))
    },

    "q261_rfm_census" -> { (s, d) =>
      // RFM lifecycle census: per-user recency/frequency/monetary
      // quintile scores (1-5, threshold counting — the q221
      // duplicate-threshold rule) and the (r, f, m) cell table a
      // campaign targets. One corpus aggregate to the user table;
      // everything after is user-table- or cell-table-sized.
      graft.operators.Rfm.rfmCensus(
        Tables.events(s, d), "user_id", "ts", "value")
        .orderBy(col("r_score"), col("f_score"), col("m_score"))
    },

    "q257_ordered_funnel" -> { (s, d) =>
      // Three-step ordered funnel view -> click -> purchase: earliest
      // completion per user with strictly-increasing (ts, event_id)
      // stamps, per-step reach + conversion ppm + exact median leg
      // latency. Each step is one narrow type-filtered scan joined to
      // the user-bounded frontier; no windows over the raw stream.
      graft.operators.Funnel.orderedFunnel(
        Tables.events(s, d), "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"))
        .orderBy(col("step_idx"))
    },

    "q256_markov_stationary" -> { (s, d) =>
      // Stationary distribution of the q104 behavior chain: 8 integer
      // power-iteration steps in exact ppm (per-term floors both
      // engines replay; dangling states self-loop). One corpus
      // window+aggregate to the 5x5 type matrix; iterations run on
      // that bounded table driver-side (the centroid/BPE model-table
      // pattern), unrolled in the oracle as 8 MATERIALIZED CTEs.
      graft.operators.Markov.stationaryDistribution(
        Tables.events(s, d), "user_id", "ts", "event_id", "event_type",
        iters = 8)
        .orderBy(col("state"))
    },

    "q255_theil_sen_trend" -> { (s, d) =>
      // Robust per-type rate trend: Theil-Sen slope (median of all
      // pairwise slopes, 29% breakdown) over the DAILY event-count
      // series — the drift monitor next to q218's shift detector. The
      // pair space is calendar-bounded (days², independent of event
      // volume); slopes in exact truncated ppm, median via the exact
      // PERCENTILE_DISC ladder.
      val series = graft.operators.Changepoint.tickCounts(
          Tables.events(s, d), Seq("event_type"), "ts", 86400L)
        .select(col("event_type"),
          expr("unix_micros(tick) div 86400000000").as("day"), col("n"))
      graft.operators.Trend.theilSen(series, "event_type", "day", "n")
        .orderBy(col("event_type"))
    },

    "q254_ab_conversion" -> { (s, d) =>
      // A/B readout over a hash-gated split (the q98 deterministic
      // assignment — variant is a pure function of user_id, so both
      // engines and every re-run agree): per-variant conversion to
      // 'purchase', exact-ppm rate and lift vs control A, Wilson 95%
      // bounds floored to ppm (pinned IEEE op order, replayed verbatim
      // by the oracle), and the conservative disjoint-interval
      // significance call. One unit aggregate + one 2-row variant
      // table.
      val units = Tables.events(s, d)
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("cv"))
        .select(
          when(pmod(pmod(col("user_id") * 1000003L + 17L,
            lit(1000000007L)), lit(2L)) === 0L, "A").otherwise("B")
            .as("variant"),
          (col("cv") === 1L).as("converted"))
      graft.operators.Experiment.conversionLift(
        units, "variant", "converted", controlVariant = "A")
        .orderBy(col("variant"))
    },

    "q253_seasonal_anomalies" -> { (s, d) =>
      // Seasonal-baseline anomaly flags: per-type hourly counts fenced
      // against the MEDIAN of their own hour-of-day slot (|n − med| >
      // 3·MAD, the Hampel band per (type, hod)) — the rush-hour-aware
      // complement of q218's level-shift CUSUM and q225's static
      // fence. One corpus aggregate to the calendar-bounded tick
      // table; both exact PERCENTILE_DISC passes run on it.
      graft.operators.Seasonal.hourOfDayAnomalies(
        Tables.events(s, d).select(col("event_type"), col("ts")),
        "event_type", "ts", k = 3L)
        .orderBy(col("event_type"), col("tick_hour"))
    },

    "q218_cusum_changepoint" -> { (s, d) =>
      // One-sided CUSUM level-shift monitor (Page 1954) over per-type
      // hourly event rates: S_t via the prefix-sum closed form (two
      // windows over the CALENDAR-bounded tick series — no sequential
      // recurrence), exact DECIMAL deviations in ppm-of-mean units,
      // slack k = 10% of mean, alarm after 2 mean-ticks of cumulative
      // excess. Both alarm states live on this corpus (86-169 alarm
      // ticks of ~680 per type).
      val series = graft.operators.Changepoint.tickCounts(
        Tables.events(s, d), Seq("event_type"), "ts", 3600L)
      graft.operators.Changepoint.cusumShift(series, Seq("event_type"),
          "tick", "n", slackPpm = 100000L, hMeanTicksPpm = 2000000L)
        .orderBy(col("event_type"), col("tick"))
    },

    "q268_multitouch_attribution" -> { (s, d) =>
      // Multi-touch attribution (B97): the fractional-credit complement
      // of q219's last-touch — each purchase's credit splits across the
      // journey's touches under linear and U-shaped (40/20/40) models,
      // in exact ppm that sums to 1e6 per conversion; revenue allocates
      // via credit_ppm x value_cents products (no division, so channel
      // revenue reconciles to the milli-cent). Touch->conversion match
      // is one as-of merge on the negated clock (O(T+C) per user);
      // windows partition by conversion id only.
      graft.operators.Attribution.multiTouch(
        Tables.events(s, d), "user_id", "ts", "event_id", "event_type",
        "value", Seq("click", "view"), "purchase",
        windowMicros = 86400L * 1000000L)
        .orderBy(col("model"), col("channel"))
    },

    "q219_last_touch_attribution" -> { (s, d) =>
      // Last-touch attribution: each purchase credited to the user's
      // latest prior click/view within 24h, else 'direct' — the
      // composition the as-of merge exec exists for (purchases as the
      // probe side, touches pre-collapsed at exact-ts collisions by max
      // event_id, one exchange+sort per side, no windows over the raw
      // stream). Report: per-channel conversions + exact-decimal
      // revenue.
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val touches = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
        .groupBy(col("user_id"), col("ts"))
        .agg(max(struct(col("event_id"), col("event_type"))).as("__m"))
        .select(col("user_id"), col("ts").as("tts"),
          col("__m.event_type").as("touch_type"))
      val attributed = graft.operators.Joins.asofMerge(
          purchases, touches, Seq("user_id"), "ts", "tts")
        .withColumn("channel",
          when(col("asof_touch_type").isNotNull &&
            unix_micros(col("ts")) - unix_micros(col("asof_tts")) <=
              86400L * 1000000L,
            col("asof_touch_type")).otherwise(lit("direct")))
      attributed.groupBy(col("channel"))
        .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("revenue"))
        .orderBy(col("channel"))
    },

    "q31_record_pipeline" -> { (s, d) =>
      // kaflow-style per-record pipeline (reference surface §2 A4/A13-A16):
      // value-deserialize JSON → validate/filter → transform → serialize.
      // The reference does this one record at a time in Python
      // (/root/reference/kaflow/_consumer.py:246-258); here it is one
      // narrow codegen'd map over the batch with no shuffle at all.
      val k = get_json_object(col("props"), "$.k").cast("long")
      Tables.events(s, d)
        .select(col("event_id").as("offset"),
          (col("user_id") % 4).as("partition"),
          k.as("k"))
        .filter(col("k").isNotNull && col("k") % 2 === 0)
        .select(col("offset"), col("partition"),
          to_json(struct((col("k") * 2).as("k2"))).as("value"))
        .orderBy(col("offset"))
    },

    "q201_avro_ingest" -> { (s, d) =>
      // Avro-wire twin of q31 — the A9 hot path under the driver oracle:
      // per document the schemaless Avro wire bytes of
      // {key: 'doc-<id>', value: <source>} are synthesized with plain
      // byte arithmetic (an ASCII string under 64 chars encodes as the
      // one-byte varint 2*len followed by its UTF-8 bytes, so chr+concat
      // builds REAL wire payloads), pushed through the PRODUCTION native
      // decode (AvroDecode — a decoder or varint regression breaks this
      // oracle, not just the SerdeSpec golden bytes), and rolled up per
      // source. Every 10th payload is truncated to 3 bytes and must
      // decode to NULL (the DLQ contract): its key/value matches count
      // zero and its dlq count one — all replayed arithmetically by the
      // oracle without any Avro on the DuckDB side. Wholly narrow until
      // the bounded per-source aggregate.
      val serde = graft.serde.AvroSerde(
        """{"type":"record","name":"rec","fields":[
           {"name":"key","type":"string"},{"name":"value","type":"string"}]}""")
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          concat(lit("doc-"), col("doc_id").cast("string")).as("k"))
        .withColumn("wire", expr(
          "cast(concat(chr(length(k)*2), k, chr(length(source)*2), source) as binary)"))
        .withColumn("payload",
          when(col("doc_id") % 10 === 0, expr("substring(wire, 1, 3)"))
            .otherwise(col("wire")))
      base.select(col("doc_id"), col("source"), col("k"),
          serde.deserialize(col("payload")).as("v"))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_records"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_dlq"),
          sum(when(col("v.key") === col("k"), 1L).otherwise(0L)).as("n_key_ok"),
          sum(when(col("v.value") === col("source"), 1L).otherwise(0L))
            .as("n_value_ok"))
        .orderBy(col("source"))
    },

    "q202_pb_ingest" -> { (s, d) =>
      // q201's twin for PROTOBUF (A10 under the driver oracle): proto3
      // wire bytes of {1: key, 2: value} built with byte arithmetic —
      // tag 0x0a (field 1, length-delimited), one-byte varint length,
      // UTF-8 bytes; tag 0x12 for field 2 — decoded through the native
      // PbDecode expression and rolled up per source. The corrupt leg
      // differs from Avro's: a 2-byte truncation leaves tag 0x0a + a
      // length varint promising more bytes than remain -> decode NULL.
      // Also exercises proto3 defaults: every 7th record omits field 2
      // entirely (drop the second tag), which must decode to "" (the
      // canonical proto3 default), NOT null — a semantics the Avro
      // format cannot express.
      val serde = graft.serde.ProtobufSerde(Seq(
        graft.serde.PbField(1, "key", graft.serde.PbType.PbString),
        graft.serde.PbField(2, "value", graft.serde.PbType.PbString)))
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          concat(lit("doc-"), col("doc_id").cast("string")).as("k"))
        .withColumn("wire1", expr(
          "cast(concat(chr(10), chr(length(k)), k) as binary)"))
        .withColumn("wire", when(col("doc_id") % 7 === 0, col("wire1"))
          .otherwise(expr(
            "cast(concat(wire1, chr(18), chr(length(source)), source) as binary)")))
        .withColumn("payload",
          when(col("doc_id") % 10 === 0, expr("substring(wire, 1, 2)"))
            .otherwise(col("wire")))
      base.select(col("doc_id"), col("source"), col("k"),
          serde.deserialize(col("payload")).as("v"))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_records"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_dlq"),
          sum(when(col("v.key") === col("k"), 1L).otherwise(0L)).as("n_key_ok"),
          sum(when(col("v.value") === col("source"), 1L).otherwise(0L))
            .as("n_value_ok"),
          sum(when(col("v.value") === "", 1L).otherwise(0L))
            .as("n_defaulted"))
        .orderBy(col("source"))
    })

  /** The q263 one-row session-economics readout, shared with its q266
    * evidence twin. All five outputs are BIGINT (div, not //-style
    * HUGEINT — the r7 driver-red fingerprint, fixed by casting in the
    * oracle's roll CTE).
    */
  private def sessionStatsRow(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
    val sess = graft.operators.Windows.withSessionIds(
        ev, "user_id", "ts", gapMicros = 10L * 60 * 1000000,
        tieBreak = "event_id")
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n"),
        (max(expr("unix_micros(ts)")) - min(expr("unix_micros(ts)")))
          .as("span"))
      .transform(Materialize.seam) // rollup + two percentile passes
    val q = graft.operators.Percentiles.percentileDisc(
        sess.select(lit(0).as("__g"), col("span").as("__v")),
        "__g", "__v", Seq(0.5, 0.9))
      .groupBy(col("__g"))
      .agg(max(when(col("p") === 0.5, col("value"))).cast("long")
          .as("median_span_micros"),
        max(when(col("p") === 0.9, col("value"))).cast("long")
          .as("p90_span_micros"))
      .drop("__g")
    sess.agg(count(lit(1)).as("n_sessions"),
        expr("(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000L)" +
          " div count(1)").as("bounce_ppm"),
        expr("(sum(n) * 1000L) div count(1)").as("mean_events_milli"))
      .crossJoin(broadcast(q))
  }

  /** Shared CTE chain of the q263 session-economics readout (10-minute
    * gap sessionization → per-session table → roll + quantiles), reused
    * by the q266 unpivoted evidence twin. roll CASTs its `//` outputs
    * to BIGINT — DuckDB's sum() yields HUGEINT and `//` propagates it
    * (the r7 driver-red fingerprint).
    */
  private val SessionStatsCte: String = """
      WITH e AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      m AS (
        SELECT user_id, event_id, t,
          CASE WHEN lag(t) OVER w IS NULL
               OR epoch_us(t) - epoch_us(lag(t) OVER w) > 600000000
            THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
      numbered AS (
        SELECT user_id, t,
          sum(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
            ROWS UNBOUNDED PRECEDING) AS sid
        FROM m),
      sess AS MATERIALIZED (
        SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n,
          epoch_us(max(t)) - epoch_us(min(t)) AS span
        FROM numbered GROUP BY 1, 2),
      qn AS (
        SELECT CAST(quantile_disc(span, 0.5) AS BIGINT)
            AS median_span_micros,
          CAST(quantile_disc(span, 0.9) AS BIGINT) AS p90_span_micros
        FROM sess),
      roll AS (
        SELECT CAST(count(*) AS BIGINT) AS n_sessions,
          CAST((sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS bounce_ppm,
          CAST((sum(n) * 1000) // count(*) AS BIGINT) AS mean_events_milli
        FROM sess)"""

  val oracle: Map[String, String] = Map(
    "q25_tumbling_window" -> s"""
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
        count(*) AS n, ${sqlSum("value")} AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    "q26_sliding_window" -> s"""
      SELECT ws AS window_start, count(*) AS n, ${sqlSum("value")} AS sum_value
      FROM (
        SELECT unnest([time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)),
                       time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                         - INTERVAL '30 minutes']) AS ws,
               value
        FROM events)
      GROUP BY ws ORDER BY ws""",

    "q27_session_window" -> s"""
      WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      flagged AS (
        SELECT *, CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            <= INTERVAL '10 minutes' THEN 0 ELSE 1 END AS new_sess
        FROM e),
      numbered AS (
        SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged)
      SELECT user_id, min(ts) AS session_start,
        max(ts) + INTERVAL '10 minutes' AS session_end,
        count(*) AS n_events, ${sqlSum("value")} AS sum_value
      FROM numbered GROUP BY user_id, sid ORDER BY user_id, session_start""",

    "q28_dedup_first" -> """
      SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts FROM (
        SELECT user_id, event_type, event_id, ts,
          row_number() OVER (PARTITION BY user_id, event_type
            ORDER BY ts ASC, event_id ASC) AS rn
        FROM events)
      WHERE rn = 1 ORDER BY user_id, event_type""",

    "q29_asof_join" -> """
      WITH purchases AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        WHERE event_type = 'purchase'),
      signups AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS sts, max(event_id) AS signup_event_id
        FROM events WHERE event_type = 'signup' GROUP BY user_id, CAST(ts AS TIMESTAMP))
      SELECT p.event_id, p.user_id, p.ts,
        s.signup_event_id AS asof_signup_event_id, s.sts AS asof_sts
      FROM purchases p ASOF LEFT JOIN signups s
        ON p.user_id = s.user_id AND p.ts >= s.sts
      ORDER BY p.event_id""",

    "q59_asof_join_custom" -> """
      WITH purchases AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        WHERE event_type = 'purchase'),
      signups AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS sts, max(event_id) AS signup_event_id
        FROM events WHERE event_type = 'signup' GROUP BY user_id, CAST(ts AS TIMESTAMP))
      SELECT p.event_id, p.user_id, p.ts,
        s.signup_event_id AS asof_signup_event_id, s.sts AS asof_sts
      FROM purchases p ASOF LEFT JOIN signups s
        ON p.user_id = s.user_id AND p.ts >= s.sts
      ORDER BY p.event_id""",

    "q30_range_join_count" -> """
      WITH errors AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        WHERE event_type = 'error'),
      all_ev AS (SELECT event_id AS e2_id, user_id, CAST(ts AS TIMESTAMP) AS ts2 FROM events)
      SELECT e.event_id,
        count(CASE WHEN a.e2_id <> e.event_id THEN 1 END) AS n_nearby
      FROM errors e LEFT JOIN all_ev a
        ON e.user_id = a.user_id
        AND a.ts2 >= e.ts AND a.ts2 < e.ts + INTERVAL '5 minutes'
      GROUP BY e.event_id ORDER BY e.event_id""",

    "q54_range_join_custom" -> """
      WITH errors AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        WHERE event_type = 'error'),
      all_ev AS (SELECT event_id AS e2_id, user_id, CAST(ts AS TIMESTAMP) AS ts2 FROM events)
      SELECT e.event_id,
        count(CASE WHEN a.e2_id <> e.event_id THEN 1 END) AS n_nearby
      FROM errors e LEFT JOIN all_ev a
        ON e.user_id = a.user_id
        AND a.ts2 >= e.ts AND a.ts2 < e.ts + INTERVAL '5 minutes'
      GROUP BY e.event_id ORDER BY e.event_id""",

    "q82_cohort_retention" -> """
      WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS t
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      f AS (SELECT user_id, min(t) AS ft FROM e GROUP BY 1),
      a AS (
        SELECT CAST(date_trunc('day', f.ft) AS TIMESTAMP) AS cohort_day,
          CAST(date_diff('day', CAST(f.ft AS DATE), CAST(e.t AS DATE)) AS BIGINT)
            AS day_offset,
          e.user_id
        FROM e JOIN f USING (user_id))
      SELECT cohort_day, day_offset, count(DISTINCT user_id) AS n_active
      FROM a GROUP BY 1, 2 ORDER BY cohort_day, day_offset""",

    "q83_funnel" -> """
      WITH e AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS t
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      u AS (
        SELECT user_id,
          min(CASE WHEN event_type = 'signup' THEN t END) AS first_signup,
          min(CASE WHEN event_type = 'purchase' THEN t END) AS first_purchase
        FROM e GROUP BY 1)
      SELECT
        count(CASE WHEN first_signup IS NOT NULL THEN 1 END) AS n_signup_users,
        count(CASE WHEN first_signup IS NOT NULL
          AND first_purchase > first_signup THEN 1 END) AS n_purchased_after,
        count(CASE WHEN first_signup IS NOT NULL
          AND first_purchase > first_signup
          AND epoch_us(first_purchase) - epoch_us(first_signup)
            <= CAST(7 AS BIGINT) * 24 * 3600 * 1000000 THEN 1 END) AS n_converted_7d
      FROM u""",

    "q81_session_ids" -> """
      WITH e AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      m AS (
        SELECT event_id, user_id, t,
          CASE WHEN lag(t) OVER w IS NULL
               OR epoch_us(t) - epoch_us(lag(t) OVER w) > 1800000000
            THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
      SELECT event_id, user_id,
        CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM m ORDER BY event_id""",

    "q107_top_paths" -> """
      WITH e AS (
        SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      tri AS (
        SELECT
          lag(event_type, 2) OVER
            (PARTITION BY user_id ORDER BY t, event_id) AS e1,
          lag(event_type, 1) OVER
            (PARTITION BY user_id ORDER BY t, event_id) AS e2,
          event_type AS e3
        FROM e),
      paths AS (
        SELECT e1 || '>' || e2 || '>' || e3 AS path
        FROM tri WHERE e1 IS NOT NULL AND e2 IS NOT NULL)
      SELECT path, count(*) AS n FROM paths
      GROUP BY path ORDER BY n DESC, path LIMIT 10""",

    "q110_user_sequences" -> """
      WITH e AS (
        SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      numbered AS (
        SELECT user_id, event_type,
          row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn
        FROM e)
      SELECT user_id, count(*) AS n_events,
        array_to_string(list(event_type ORDER BY rn), '>') AS seq
      FROM numbered WHERE rn <= 20
      GROUP BY user_id ORDER BY user_id""",

    "q104_transitions" -> """
      WITH e AS (
        SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      p AS (
        SELECT user_id,
          lag(event_type, 1) OVER
            (PARTITION BY user_id ORDER BY t, event_id) AS from_type,
          event_type AS to_type
        FROM e),
      tc AS (
        SELECT from_type, to_type, count(*) AS n
        FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2),
      f AS (
        SELECT from_type, CAST(sum(n) AS BIGINT) AS from_n
        FROM tc GROUP BY 1)
      SELECT tc.from_type, tc.to_type, tc.n,
        CAST(tc.n AS DOUBLE) / f.from_n AS p
      FROM tc JOIN f USING (from_type)
      ORDER BY tc.from_type, tc.to_type""",

    "q96_daily_change" -> """
      WITH t AS (
        SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
          event_type,
          count(*) AS n
        FROM events GROUP BY 1, 2),
      w AS (
        SELECT day, event_type, n,
          lag(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
        FROM t)
      SELECT day, event_type, n, prev_n,
        CAST(n - prev_n AS DOUBLE) / prev_n AS pct_change
      FROM w ORDER BY event_type, day""",

    "q93_trailing_1h" -> """
      SELECT event_id, event_type,
        count(*) OVER w AS n_1h,
        CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
      FROM (SELECT event_id, event_type, value,
          epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events) e
      WINDOW w AS (PARTITION BY event_type ORDER BY us
        RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      ORDER BY event_id""",

    // identical semantics to q93 — the oracle pins the decomposed plan to
    // the naive frame's answer
    "q111_trailing_1h_dist" -> """
      SELECT event_id, event_type,
        count(*) OVER w AS n_1h,
        CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
      FROM (SELECT event_id, event_type, value,
          epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events) e
      WINDOW w AS (PARTITION BY event_type ORDER BY us
        RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      ORDER BY event_id""",

    // the q111 naive RANGE frame over the 1% mixedBucket slice —
    // sparse enough for DuckDB at sf1 — then per-type checksums
    "q305_trailing_evidence" -> s"""
      WITH e AS (
        SELECT event_id, event_type, value,
          epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events
        WHERE ${graft.operators.Sampling.mixedBucketSql("event_id")} < 10),
      w AS (
        SELECT event_id, event_type,
          count(*) OVER win AS n_1h,
          CAST(sum(CAST(value AS DECIMAL(18,2))) OVER win AS DOUBLE)
            AS s_1h
        FROM e
        WINDOW win AS (PARTITION BY event_type ORDER BY us
          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
      SELECT event_type,
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(n_1h) AS BIGINT) AS n1h_sum,
        CAST(sum(n_1h * ((event_id % 1000003 + 1000003) % 1000003))
          AS BIGINT) AS align_sum,
        CAST(sum(coalesce(CAST(floor(s_1h * 100 + 0.5) AS BIGINT), 0))
          AS BIGINT) AS sum1h_centi
      FROM w GROUP BY event_type ORDER BY event_type""",

    "q89_outliers" -> """
      WITH s AS (
        SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
          CAST(sum(CAST(value AS DECIMAL(18,2))
            * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
        FROM events GROUP BY event_type)
      SELECT e.event_id, e.event_type, e.value,
        (e.value - s1/n) / sqrt(s2/n - (s1/n) * (s1/n)) AS z
      FROM events e JOIN s USING (event_type)
      WHERE abs((e.value - s1/n) / sqrt(s2/n - (s1/n) * (s1/n)))
        > CAST(3 AS DOUBLE)
      ORDER BY e.event_id""",

    "q212_locf_resample" -> """
      WITH obs AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
          max(event_id) AS event_id, arg_max(value, event_id) AS value
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1, 2),
      k AS (
        SELECT user_id,
          CAST(to_timestamp(floor(epoch(min(ts)) / 21600) * 21600)
               AS TIMESTAMP) AS t0
        FROM obs GROUP BY 1),
      ge AS (
        SELECT CAST(to_timestamp(floor(epoch(max(ts)) / 21600) * 21600)
               AS TIMESTAMP) AS t1
        FROM obs),
      grid AS (
        SELECT user_id,
          unnest(generate_series(t0, t1, INTERVAL 21600 SECOND)) AS grid_ts
        FROM k CROSS JOIN ge)
      SELECT grid.user_id, grid.grid_ts,
        obs.event_id AS event_id, obs.value AS value,
        obs.ts AS last_obs_ts,
        epoch_us(grid.grid_ts) - epoch_us(obs.ts) AS gap_micros
      FROM grid ASOF LEFT JOIN obs
        ON grid.user_id = obs.user_id AND grid.grid_ts >= obs.ts
      ORDER BY grid.user_id, grid.grid_ts""",

    "q263_session_stats" -> s"""
      $SessionStatsCte
      SELECT n_sessions, bounce_ppm, mean_events_milli,
        median_span_micros, p90_span_micros
      FROM roll CROSS JOIN qn""",

    "q266_session_evidence" -> s"""
      $SessionStatsCte,
      one AS (
        SELECT n_sessions, bounce_ppm, mean_events_milli,
          median_span_micros, p90_span_micros
        FROM roll CROSS JOIN qn)
      SELECT 'n_sessions' AS metric, n_sessions AS value FROM one
      UNION ALL SELECT 'bounce_ppm', bounce_ppm FROM one
      UNION ALL SELECT 'mean_events_milli', mean_events_milli FROM one
      UNION ALL SELECT 'median_span_micros', median_span_micros FROM one
      UNION ALL SELECT 'p90_span_micros', p90_span_micros FROM one
      ORDER BY metric""",

    "q262_column_drift" -> {
      def sideAgg(flt: String, v: String) = s"""
        SELECT CAST(count(*) AS BIGINT) AS n,
          CASE WHEN count(*) = 0 THEN NULL
            ELSE ((count(*) - count(v)) * 1000000) // count(*)
          END AS null_ppm,
          CAST(count(DISTINCT v) AS BIGINT) AS ndv,
          CAST(min(v) AS BIGINT) AS mn, CAST(max(v) AS BIGINT) AS mx,
          CASE WHEN count(v) = 0 THEN NULL
            ELSE CAST(sum(CAST(v AS HUGEINT) * 1000 + 1000000000000)
              // count(v) - 1000000000000 AS BIGINT)
          END AS mean_milli
        FROM (SELECT $v AS v FROM events WHERE event_type IN $flt) x"""
      def one(name: String, v: String) = s"""
        SELECT '$name' AS column_name,
          ca.n AS n_a, cb.n AS n_b,
          ca.null_ppm AS null_ppm_a, cb.null_ppm AS null_ppm_b,
          cb.null_ppm - ca.null_ppm AS null_ppm_delta,
          ca.ndv AS ndv_a, cb.ndv AS ndv_b,
          (cb.ndv * 1000000) // greatest(ca.ndv, 1) AS ndv_ratio_ppm,
          ca.mn AS min_a, cb.mn AS min_b,
          ca.mx AS max_a, cb.mx AS max_b,
          ca.mean_milli AS mean_milli_a, cb.mean_milli AS mean_milli_b,
          cb.mean_milli - ca.mean_milli AS mean_shift_milli
        FROM (${sideAgg("('click', 'view')", v)}) ca
        CROSS JOIN (${sideAgg("('purchase', 'signup', 'error')", v)}) cb"""
      Seq(
        one("value_cents", "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"),
        one("user_id", "user_id"),
        one("ts_micros", "epoch_us(CAST(ts AS TIMESTAMP))"))
        .mkString(" UNION ALL ") + " ORDER BY column_name"
    },

    "q261_rfm_census" -> """
      WITH anc AS (
        SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS anchor
        FROM events),
      u AS MATERIALIZED (
        SELECT user_id,
          anchor - max(epoch_us(CAST(ts AS TIMESTAMP))) AS r,
          CAST(count(*) AS BIGINT) AS f,
          CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS m
        FROM events CROSS JOIN anc
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL
        GROUP BY user_id, anchor),
      qt AS (
        SELECT
          quantile_disc(r, 0.2) AS r1, quantile_disc(r, 0.4) AS r2,
          quantile_disc(r, 0.6) AS r3, quantile_disc(r, 0.8) AS r4,
          quantile_disc(f, 0.2) AS f1, quantile_disc(f, 0.4) AS f2,
          quantile_disc(f, 0.6) AS f3, quantile_disc(f, 0.8) AS f4,
          quantile_disc(m, 0.2) AS m1, quantile_disc(m, 0.4) AS m2,
          quantile_disc(m, 0.6) AS m3, quantile_disc(m, 0.8) AS m4
        FROM u),
      s AS (
        SELECT m,
          6 - (1 + (CASE WHEN r >= r1 THEN 1 ELSE 0 END)
             + (CASE WHEN r >= r2 THEN 1 ELSE 0 END)
             + (CASE WHEN r >= r3 THEN 1 ELSE 0 END)
             + (CASE WHEN r >= r4 THEN 1 ELSE 0 END)) AS r_score,
          1 + (CASE WHEN f >= f1 THEN 1 ELSE 0 END)
            + (CASE WHEN f >= f2 THEN 1 ELSE 0 END)
            + (CASE WHEN f >= f3 THEN 1 ELSE 0 END)
            + (CASE WHEN f >= f4 THEN 1 ELSE 0 END) AS f_score,
          1 + (CASE WHEN m >= m1 THEN 1 ELSE 0 END)
            + (CASE WHEN m >= m2 THEN 1 ELSE 0 END)
            + (CASE WHEN m >= m3 THEN 1 ELSE 0 END)
            + (CASE WHEN m >= m4 THEN 1 ELSE 0 END) AS m_score
        FROM u CROSS JOIN qt)
      SELECT CAST(r_score AS BIGINT) AS r_score,
        CAST(f_score AS BIGINT) AS f_score,
        CAST(m_score AS BIGINT) AS m_score,
        CAST(count(*) AS BIGINT) AS n_users,
        CAST(sum(m) AS BIGINT) AS sum_cents
      FROM s GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score""",

    "q257_ordered_funnel" -> """
      WITH ev AS MATERIALIZED (
        SELECT user_id AS u, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
          event_id AS s, event_type AS ty
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_id IS NOT NULL AND event_type IS NOT NULL),
      f1 AS MATERIALIZED (
        SELECT u, t, s FROM (
          SELECT u, t, s,
            row_number() OVER (PARTITION BY u ORDER BY t, s) AS rn
          FROM ev WHERE ty = 'view') x WHERE rn = 1),
      f2 AS MATERIALIZED (
        SELECT u, t, s, pt FROM (
          SELECT e.u, e.t, e.s, f1.t AS pt,
            row_number() OVER (PARTITION BY e.u ORDER BY e.t, e.s) AS rn
          FROM ev e JOIN f1 ON e.u = f1.u
          WHERE e.ty = 'click'
            AND (e.t > f1.t OR (e.t = f1.t AND e.s > f1.s))) x
        WHERE rn = 1),
      f3 AS MATERIALIZED (
        SELECT u, t, s, pt FROM (
          SELECT e.u, e.t, e.s, f2.t AS pt,
            row_number() OVER (PARTITION BY e.u ORDER BY e.t, e.s) AS rn
          FROM ev e JOIN f2 ON e.u = f2.u
          WHERE e.ty = 'purchase'
            AND (e.t > f2.t OR (e.t = f2.t AND e.s > f2.s))) x
        WHERE rn = 1),
      n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f1),
      n2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f2),
      n3 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f3),
      g2 AS (SELECT 0 AS g, CAST(quantile_disc(t - pt, 0.5) AS BIGINT)
               AS mg FROM f2 GROUP BY 1),
      g3 AS (SELECT 0 AS g, CAST(quantile_disc(t - pt, 0.5) AS BIGINT)
               AS mg FROM f3 GROUP BY 1)
      SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
        n AS n_reached, CAST(NULL AS BIGINT) AS conv_from_prev_ppm,
        CAST(NULL AS BIGINT) AS median_gap_micros
      FROM n1
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'click', n2.n,
        CASE WHEN n1.n > 0 THEN (n2.n * 1000000) // n1.n END, g2.mg
      FROM n2 CROSS JOIN n1 LEFT JOIN g2 ON true
      UNION ALL
      SELECT CAST(3 AS BIGINT), 'purchase', n3.n,
        CASE WHEN n2.n > 0 THEN (n3.n * 1000000) // n2.n END, g3.mg
      FROM n3 CROSS JOIN n2 LEFT JOIN g3 ON true
      ORDER BY step_idx""",

    "q256_markov_stationary" -> {
      // 8 unrolled power-iteration CTEs; every multiply-used stage is
      // AS MATERIALIZED (the q242 recursion-inlining lesson). Each
      // step LEFT-joins from the state list so zero-mass states keep
      // their row (Spark emits all K states).
      val steps = (1 to 8).map { i =>
        s"""pi$i AS MATERIALIZED (
          SELECT s.st AS st,
            CAST(coalesce(sum((p${i - 1}.v * pm.ppm) // 1000000), 0)
              AS BIGINT) AS v
          FROM sts s
          LEFT JOIN pm ON pm.j = s.st
          LEFT JOIN pi${i - 1} p${i - 1} ON p${i - 1}.st = pm.i
          GROUP BY 1)"""
      }.mkString(",\n      ")
      s"""
      WITH tr AS MATERIALIZED (
        SELECT lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS f,
          event_type AS t
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IS NOT NULL),
      cnt AS MATERIALIZED (
        SELECT f, t, CAST(count(*) AS BIGINT) AS c
        FROM tr WHERE f IS NOT NULL GROUP BY 1, 2),
      sts AS MATERIALIZED (
        SELECT DISTINCT f AS st FROM cnt
        UNION SELECT DISTINCT t FROM cnt),
      rt AS (SELECT f, sum(c) AS rc FROM cnt GROUP BY 1),
      pm AS MATERIALIZED (
        SELECT cnt.f AS i, cnt.t AS j, (c * 1000000) // rc AS ppm
        FROM cnt JOIN rt USING (f)
        UNION ALL
        SELECT st, st, 1000000 FROM sts
        WHERE st NOT IN (SELECT f FROM cnt)),
      kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM sts),
      pi0 AS MATERIALIZED (
        SELECT st, 1000000 // k AS v FROM sts CROSS JOIN kk),
      $steps
      SELECT st AS state, v AS pi_ppm FROM pi8 ORDER BY state"""
    },

    "q255_theil_sen_trend" -> """
      WITH t AS (
        SELECT event_type AS k,
          epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS x,
          CAST(count(*) AS BIGINT) AS y
        FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1, 2),
      p AS (
        SELECT a.k, ((b.y - a.y) * 1000000) // (b.x - a.x) AS s
        FROM t a JOIN t b ON a.k = b.k AND a.x < b.x),
      np AS (SELECT k, CAST(count(*) AS BIGINT) AS n_points FROM t GROUP BY 1),
      cp AS (SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(quantile_disc(s, 0.5) AS BIGINT) AS slope_ppm
             FROM p GROUP BY 1)
      SELECT np.k AS event_type, n_points, n_pairs, slope_ppm
      FROM np JOIN cp ON np.k = cp.k ORDER BY event_type""",

    "q254_ab_conversion" -> """
      WITH u AS (
        SELECT user_id,
          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cv
        FROM events WHERE user_id IS NOT NULL GROUP BY 1),
      v AS (
        SELECT CASE WHEN ((user_id * 1000003 + 17) % 1000000007
            + 1000000007) % 1000000007 % 2 = 0
          THEN 'A' ELSE 'B' END AS variant, cv
        FROM u),
      a AS (
        SELECT variant, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(cv) AS BIGINT) AS conversions
        FROM v GROUP BY 1),
      w AS (
        SELECT variant, n, conversions,
          (conversions * 1000000) // n AS rate_ppm,
          CAST(conversions AS DOUBLE) / CAST(n AS DOUBLE) AS ph,
          CAST(n AS DOUBLE) AS nd
        FROM a),
      h AS (
        SELECT variant, n, conversions, rate_ppm,
          (ph + (1.96 * 1.96) / (2.0 * nd))
            / (1.0 + (1.96 * 1.96) / nd) AS center,
          1.96 * sqrt(ph * (1.0 - ph) / nd
            + (1.96 * 1.96) / (4.0 * nd * nd))
            / (1.0 + (1.96 * 1.96) / nd) AS half
        FROM w),
      b AS (
        SELECT variant, n, conversions, rate_ppm,
          CAST(floor((center - half) * 1000000.0) AS BIGINT)
            AS wilson_lo_ppm,
          CAST(floor((center + half) * 1000000.0) AS BIGINT)
            AS wilson_hi_ppm
        FROM h),
      c AS (
        SELECT n AS cn, conversions AS cc, wilson_lo_ppm AS clo,
          wilson_hi_ppm AS chi
        FROM b WHERE variant = 'A')
      SELECT b.variant AS variant, b.n AS n, b.conversions AS conversions,
        b.rate_ppm AS rate_ppm, b.wilson_lo_ppm AS wilson_lo_ppm,
        b.wilson_hi_ppm AS wilson_hi_ppm,
        CASE WHEN b.variant <> 'A' AND cc > 0 THEN
          CAST((CAST(b.conversions AS HUGEINT) * cn * 1000000)
            // (CAST(b.n AS HUGEINT) * cc) AS BIGINT)
        END AS lift_vs_control_ppm,
        CASE WHEN b.variant <> 'A' THEN
          (b.wilson_lo_ppm > chi OR b.wilson_hi_ppm < clo)
        END AS significant
      FROM b CROSS JOIN c ORDER BY variant""",

    "q253_seasonal_anomalies" -> """
      WITH t AS (
        SELECT event_type AS k,
          epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS tk,
          CAST(count(*) AS BIGINT) AS n
        FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1, 2),
      h AS (SELECT k, tk, n, tk % 24 AS hod FROM t),
      m AS (
        SELECT k, hod, CAST(quantile_disc(n, 0.5) AS BIGINT) AS med
        FROM h GROUP BY 1, 2),
      dv AS (
        SELECT h.k, h.tk, h.hod, h.n, m.med, abs(h.n - m.med) AS dev
        FROM h JOIN m ON h.k = m.k AND h.hod = m.hod),
      md AS (
        SELECT k, hod, CAST(quantile_disc(dev, 0.5) AS BIGINT) AS mad
        FROM dv GROUP BY 1, 2)
      SELECT dv.k AS event_type, dv.tk AS tick_hour, dv.hod AS hod,
        dv.n AS n, dv.med AS med, md.mad AS mad,
        dv.dev > md.mad * 3 AS is_anomaly
      FROM dv JOIN md ON dv.k = md.k AND dv.hod = md.hod
      ORDER BY event_type, tick_hour""",

    "q218_cusum_changepoint" -> """
      WITH x AS (
        SELECT event_type,
          CAST(to_timestamp(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) * 3600)
            AS TIMESTAMP) AS tick,
          CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      st AS (
        SELECT event_type, CAST(count(*) AS HUGEINT) AS nt,
          CAST(sum(n) AS HUGEINT) AS tot
        FROM x GROUP BY 1),
      d AS (
        SELECT x.event_type, tick, n, tot,
          (n * nt * 1000000 - tot * 1100000) AS dd
        FROM x JOIN st USING (event_type)),
      p AS (
        SELECT event_type, tick, n, tot,
          sum(dd) OVER (PARTITION BY event_type ORDER BY tick
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
        FROM d),
      s AS (
        SELECT event_type, tick, n, tot,
          pp - least(CAST(0 AS HUGEINT),
            min(pp) OVER (PARTITION BY event_type ORDER BY tick
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS ss
        FROM p)
      SELECT event_type, tick, n,
        CAST(ss // tot AS BIGINT) AS cusum_ppm,
        ss > 2000000 * tot AS alarm
      FROM s ORDER BY event_type, tick""",

    "q277_fk_integrity" -> {
      def fk(name: String, child: String, ck: String, parent: String,
             pk: String) = s"""
        SELECT '$name' AS fk_name,
          CAST((SELECT count(*) FROM $child) AS BIGINT) AS n_rows,
          CAST((SELECT count(*) FROM $child WHERE $ck IS NULL) AS BIGINT)
            AS null_rows,
          CAST(coalesce(sum(CASE WHEN p.$pk IS NULL THEN w END), 0)
            AS BIGINT) AS orphan_rows,
          CASE WHEN (SELECT count(*) FROM $child)
              > (SELECT count(*) FROM $child WHERE $ck IS NULL)
            THEN CAST((coalesce(sum(CASE WHEN p.$pk IS NULL THEN w END), 0)
              * 1000000)
              // ((SELECT count(*) FROM $child)
                - (SELECT count(*) FROM $child WHERE $ck IS NULL))
              AS BIGINT) END AS orphan_ppm,
          CAST(coalesce(sum(CASE WHEN p.$pk IS NULL THEN 1 END), 0)
            AS BIGINT) AS orphan_keys
        FROM (SELECT $ck AS k, count(*) AS w FROM $child
              WHERE $ck IS NOT NULL GROUP BY 1) c
        LEFT JOIN (SELECT DISTINCT $pk FROM $parent
                   WHERE $pk IS NOT NULL) p ON p.$pk = c.k"""
      s"""${fk("events.user_id->customer", "events", "user_id",
            "customer", "c_custkey")}
        UNION ALL ${fk("lineitem.l_orderkey->orders", "lineitem",
            "l_orderkey", "orders", "o_orderkey")}
        UNION ALL ${fk("orders.o_custkey->customer", "orders",
            "o_custkey", "customer", "c_custkey")}
        ORDER BY fk_name"""
    },

    "q298_tick_dispersion" -> """
      WITH tk AS (
        SELECT event_type,
          epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS tick,
          CAST(count(*) AS BIGINT) AS c
        FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1, 2),
      a AS (
        SELECT event_type,
          CAST(max(tick) - min(tick) + 1 AS BIGINT) AS span_ticks,
          CAST(count(*) AS BIGINT) AS active_ticks,
          CAST(sum(c) AS BIGINT) AS total,
          sum(CAST(c AS HUGEINT) * c) AS c2
        FROM tk GROUP BY 1)
      SELECT event_type, span_ticks, active_ticks, total,
        (total * 1000) // span_ticks AS mean_milli,
        CASE WHEN total > 0 THEN
          CAST((1000 * (CAST(span_ticks AS HUGEINT) * c2
            - CAST(total AS HUGEINT) * total))
            // (CAST(span_ticks AS HUGEINT) * total) AS BIGINT)
          END AS dispersion_milli
      FROM a ORDER BY event_type""",

    "q296_watermark_advisor" -> {
      val delays = Seq(2592000L, 31536000L, 94608000L)
      val drops = delays.map { d =>
        s"""(CAST(sum(CASE WHEN lt > ${d * 1000000L} THEN 1 ELSE 0 END)
              AS BIGINT) * 1000000) // count(*) AS drop_ppm_$d"""
      }.mkString(",\n")
      s"""
      WITH b AS (
        SELECT o_orderpriority, o_orderkey AS arr,
          epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS us
        FROM orders WHERE o_orderpriority IS NOT NULL
          AND o_orderkey IS NOT NULL AND o_orderdate IS NOT NULL),
      l AS (
        SELECT o_orderpriority,
          greatest(coalesce(
            max(us) OVER (PARTITION BY o_orderpriority ORDER BY arr
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - us,
            0), 0) AS lt
        FROM b)
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_events,
        (CAST(sum(CASE WHEN lt > 0 THEN 1 ELSE 0 END) AS BIGINT)
          * 1000000) // count(*) AS disorder_ppm,
        CAST(max(lt) AS BIGINT) AS max_late_micros,
        $drops
      FROM l GROUP BY o_orderpriority ORDER BY o_orderpriority"""
    },

    "q295_gap_sensitivity" -> {
      val grid = Seq(5L, 10L, 20L, 40L, 80L)
      val aggs = grid.map { m =>
        val t = m * 60000000L
        s"""CAST(coalesce(sum(CASE WHEN gp > $t THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS x$m,
            CAST(coalesce(sum(CASE WHEN gp IS NOT NULL AND gp <= $t
              THEN gp ELSE 0 END), 0) AS BIGINT) AS w$m"""
      }.mkString(",\n")
      val rows = grid.map { m =>
        s"""SELECT CAST($m AS BIGINT) AS gap_minutes,
              ne + x$m AS n_sessions,
              CASE WHEN ne + x$m > 0
                THEN (nev * 1000) // (ne + x$m) END AS mean_events_milli,
              CASE WHEN ne + x$m > 0
                THEN w$m // (ne + x$m) END AS mean_dur_micros FROM a"""
      }.mkString("\nUNION ALL ")
      s"""
      WITH g AS (
        SELECT user_id AS e,
          epoch_us(CAST(ts AS TIMESTAMP))
            - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
              PARTITION BY user_id
              ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gp
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      a AS (
        SELECT CAST(count(DISTINCT e) AS BIGINT) AS ne,
          CAST(count(*) AS BIGINT) AS nev,
          $aggs
        FROM g)
      $rows
      ORDER BY gap_minutes"""
    },

    "q291_markov_accuracy" -> """
      WITH tr AS (
        SELECT user_id AS k,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS f,
          event_type AS t
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IS NOT NULL),
      tx AS (
        SELECT f, t,
          ((((((k % 1000000007 + 1000000007) % 1000000007)
               * ((k % 1000000007 + 1000000007) % 1000000007))
              % 1000000007) * 1000003
            + ((k % 1000000007 + 1000000007) % 1000000007) * 12345
            + 17) % 1000000007 + 1000000007) % 1000000007 % 1000
            < 800 AS istr
        FROM tr WHERE f IS NOT NULL),
      cn AS (
        SELECT f, t, CAST(count(*) AS BIGINT) AS c
        FROM tx WHERE istr GROUP BY 1, 2),
      pr AS (
        SELECT f, t AS pred FROM (
          SELECT f, t,
            row_number() OVER (PARTITION BY f ORDER BY c DESC, t) AS rn
          FROM cn)
        WHERE rn = 1),
      gl AS (
        SELECT t AS gpred FROM (
          SELECT t, sum(c) AS c FROM cn GROUP BY 1
          ORDER BY c DESC, t LIMIT 1)),
      ev2 AS (
        SELECT tx.f, tx.t, pr.pred
        FROM tx LEFT JOIN pr ON pr.f = tx.f WHERE NOT istr),
      ag AS (
        SELECT f AS from_type, pred AS predicted,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN pred = t THEN 1 ELSE 0 END) AS BIGINT)
            AS hits,
          CAST(sum(CASE WHEN gpred = t THEN 1 ELSE 0 END) AS BIGINT)
            AS base_hits
        FROM ev2 CROSS JOIN gl GROUP BY 1, 2)
      SELECT from_type, predicted, n, hits,
        (hits * 1000000) // n AS acc_ppm, base_hits,
        (base_hits * 1000000) // n AS base_acc_ppm
      FROM ag ORDER BY from_type""",

    "q302_seq_funnel_discovery" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val k = types.size
      val g = 3600000000L
      val win = "OVER (PARTITION BY u ORDER BY us DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
      val hs = types.zipWithIndex.map { case (t, j) =>
        s"max(CASE WHEN t = '$t' THEN 1 ELSE 0 END) AS h$j" }
        .mkString(",\n          ")
      val nx = (0 until k).map(j =>
        s"min(CASE WHEN h$j = 1 THEN us END) $win AS nx$j")
        .mkString(",\n          ")
      val nf = (for (b <- 0 until k; c <- 0 until k) yield
        s"min(CASE WHEN h$b = 1 AND nx$c IS NOT NULL AND nx$c - us <= $g" +
          s" THEN us END) $win AS nf_${b}_$c").mkString(",\n          ")
      val pe = ((for (a <- 0 until k; b <- 0 until k; c <- 0 until k) yield
        s"min(CASE WHEN h$a = 1 THEN nf_${b}_$c - us END) AS m_${a}_${b}_$c") ++
        (0 until k).map(a => s"max(h$a) AS ha$a")).mkString(",\n          ")
      val st = (Seq("CAST(count(*) AS BIGINT) AS nu") ++
        (0 until k).map(a => s"CAST(sum(ha$a) AS BIGINT) AS na$a") ++
        (for (a <- 0 until k; b <- 0 until k; c <- 0 until k) yield
          s"CAST(sum(CASE WHEN m_${a}_${b}_$c <= $g THEN 1 ELSE 0 END)" +
            s" AS BIGINT) AS np_${a}_${b}_$c")).mkString(",\n          ")
      val rows = (for (a <- 0 until k; b <- 0 until k; c <- 0 until k) yield
        s"""SELECT '${types(a)}' AS step1, '${types(b)}' AS step2,
            '${types(c)}' AS step3, np_${a}_${b}_$c AS n_entities,
            na$a AS n_step1,
            CAST((np_${a}_${b}_$c * 1000000) // nu AS BIGINT)
              AS support_ppm,
            CASE WHEN na$a > 0 THEN
              CAST((np_${a}_${b}_$c * 1000000) // na$a AS BIGINT) END
              AS completion_ppm
          FROM st WHERE np_${a}_${b}_$c >= 2""")
        .mkString("\n      UNION ALL ")
      s"""
      WITH e AS (
        SELECT user_id AS u, event_type AS t,
          epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IN (${types.map(t => s"'$t'").mkString(",")})),
      g AS (
        SELECT u, us,
          $hs
        FROM e GROUP BY u, us),
      w1 AS (
        SELECT *,
          $nx
        FROM g),
      w2 AS (
        SELECT *,
          $nf
        FROM w1),
      pe AS (
        SELECT u,
          $pe
        FROM w2 GROUP BY u),
      st AS MATERIALIZED (
        SELECT
          $st
        FROM pe)
      $rows
      ORDER BY step1, step2, step3"""
    },

    // the q302 window replay specialized to the declared
    // view->click->purchase funnel, plus the relaxed any-gap
    // conditional mins that split drop-off into gap-expired vs absent
    "q304_funnel_dropoff" -> {
      val g = 14400000000L // 240 min in micros, both steps
      val win = "OVER (PARTITION BY u ORDER BY us DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
      s"""
      WITH e AS (
        SELECT user_id AS u, event_type AS t,
          epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IN ('view','click','purchase')),
      g AS (
        SELECT u, us,
          max(CASE WHEN t = 'view' THEN 1 ELSE 0 END) AS h0,
          max(CASE WHEN t = 'click' THEN 1 ELSE 0 END) AS h1,
          max(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END) AS h2
        FROM e GROUP BY u, us),
      w1 AS (
        SELECT *,
          min(CASE WHEN h1 = 1 THEN us END) $win AS nx1,
          min(CASE WHEN h2 = 1 THEN us END) $win AS nx2
        FROM g),
      w2 AS (
        SELECT *,
          min(CASE WHEN h1 = 1 AND nx2 IS NOT NULL AND nx2 - us <= $g
            THEN us END) $win AS nfg,
          min(CASE WHEN h1 = 1 AND nx2 IS NOT NULL
            THEN us END) $win AS nfa
        FROM w1),
      pe AS (
        SELECT u, max(h0) AS ha1,
          min(CASE WHEN h0 = 1 THEN nx1 - us END) AS m2gap,
          min(CASE WHEN h0 = 1 THEN nx1 END) AS m2any,
          min(CASE WHEN h0 = 1 THEN nfg - us END) AS m3gap,
          min(CASE WHEN h0 = 1 THEN nfa - us END) AS m3any
        FROM w2 GROUP BY u),
      st AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS nu,
          CAST(coalesce(sum(ha1), 0) AS BIGINT) AS n1,
          CAST(coalesce(sum(CASE WHEN coalesce(m2gap <= $g, false)
            THEN 1 ELSE 0 END), 0) AS BIGINT) AS n2,
          CAST(coalesce(sum(CASE WHEN coalesce(m3gap <= $g, false)
            THEN 1 ELSE 0 END), 0) AS BIGINT) AS n3,
          CAST(coalesce(sum(CASE WHEN ha1 = 1
            AND NOT coalesce(m2gap <= $g, false)
            AND m2any IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS ge2,
          CAST(coalesce(sum(CASE WHEN coalesce(m2gap <= $g, false)
            AND NOT coalesce(m3gap <= $g, false)
            AND coalesce(m3any <= $g, false)
            THEN 1 ELSE 0 END), 0) AS BIGINT) AS ge3
        FROM pe)
      SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
        nu AS n_entered, n1 AS n_reached,
        CAST(0 AS BIGINT) AS n_gap_expired, nu - n1 AS n_absent,
        CASE WHEN nu > 0 THEN CAST((n1 * 1000000) // nu AS BIGINT) END
          AS conversion_ppm
      FROM st
      UNION ALL SELECT CAST(2 AS BIGINT), 'click', n1, n2, ge2,
        n1 - n2 - ge2,
        CASE WHEN n1 > 0 THEN CAST((n2 * 1000000) // n1 AS BIGINT) END
      FROM st
      UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', n2, n3, ge3,
        n2 - n3 - ge3,
        CASE WHEN n2 > 0 THEN CAST((n3 * 1000000) // n2 AS BIGINT) END
      FROM st
      ORDER BY step"""
    },

    "q300_seq_patterns" -> """
      WITH e AS (
        SELECT user_id AS u, event_type AS t,
          epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IN ('click','error','purchase','signup','view')),
      n AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS nu FROM e),
      s AS (SELECT t, CAST(count(DISTINCT u) AS BIGINT) AS ns
            FROM e GROUP BY 1),
      p AS (
        SELECT a.t AS ante, b.t AS cons,
          CAST(count(DISTINCT a.u) AS BIGINT) AS np
        FROM e a JOIN e b ON a.u = b.u AND b.us > a.us
          AND b.us <= a.us + 3600000000
        GROUP BY 1, 2)
      SELECT p.ante AS antecedent, p.cons AS consequent,
        p.np AS n_entities, sa.ns AS n_ante, sb.ns AS n_cons,
        CAST((p.np * 1000000) // n.nu AS BIGINT) AS support_ppm,
        CAST((p.np * 1000000) // sa.ns AS BIGINT) AS confidence_ppm,
        CAST((CAST(p.np AS HUGEINT) * n.nu * 1000000)
          // (CAST(sa.ns AS HUGEINT) * sb.ns) AS BIGINT) AS lift_ppm
      FROM p JOIN s sa ON sa.t = p.ante JOIN s sb ON sb.t = p.cons
      CROSS JOIN n
      WHERE p.np >= 2
      ORDER BY antecedent, consequent""",

    "q289_naive_bayes_gate" -> s"""
      WITH b AS (
        SELECT event_id AS id, (event_type = 'purchase') AS y,
          least(greatest(
            CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 2000,
            0), 49) AS vbin,
          ((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 + 24)
            % 24 AS hod,
          ((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) % 7 + 7)
            % 7 AS dow
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
          AND event_type IS NOT NULL AND event_id IS NOT NULL),
      sp AS (
        SELECT *,
          ${graft.operators.Sampling.mixedBucketSql("id")} < 800 AS istr
        FROM b),
      trn AS (SELECT * FROM sp WHERE istr),
      ev AS (SELECT * FROM sp WHERE NOT istr),
      pri AS (
        SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n0
        FROM trn),
      t0 AS (
        SELECT vbin,
          CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c1,
          CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c0
        FROM trn GROUP BY 1),
      v0 AS (SELECT CAST(count(*) AS BIGINT) AS v FROM t0),
      t1 AS (
        SELECT hod,
          CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c1,
          CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c0
        FROM trn GROUP BY 1),
      v1 AS (SELECT CAST(count(*) AS BIGINT) AS v FROM t1),
      t2 AS (
        SELECT dow,
          CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c1,
          CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c0
        FROM trn GROUP BY 1),
      v2 AS (SELECT CAST(count(*) AS BIGINT) AS v FROM t2),
      sc AS (
        SELECT e.y AS actual,
          (CAST(n1 AS DOUBLE)
            * CAST(coalesce(t0.c1, 0) + 1 AS DOUBLE)
            * CAST(n0 + v0.v AS DOUBLE)
            * CAST(coalesce(t1.c1, 0) + 1 AS DOUBLE)
            * CAST(n0 + v1.v AS DOUBLE)
            * CAST(coalesce(t2.c1, 0) + 1 AS DOUBLE)
            * CAST(n0 + v2.v AS DOUBLE))
          > (CAST(n0 AS DOUBLE)
            * CAST(coalesce(t0.c0, 0) + 1 AS DOUBLE)
            * CAST(n1 + v0.v AS DOUBLE)
            * CAST(coalesce(t1.c0, 0) + 1 AS DOUBLE)
            * CAST(n1 + v1.v AS DOUBLE)
            * CAST(coalesce(t2.c0, 0) + 1 AS DOUBLE)
            * CAST(n1 + v2.v AS DOUBLE)) AS predicted
        FROM ev e
        LEFT JOIN t0 ON t0.vbin = e.vbin
        LEFT JOIN t1 ON t1.hod = e.hod
        LEFT JOIN t2 ON t2.dow = e.dow
        CROSS JOIN pri CROSS JOIN v0 CROSS JOIN v1 CROSS JOIN v2),
      cf AS (
        SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
        FROM sc GROUP BY 1, 2),
      tt AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM cf)
      SELECT actual, predicted, n,
        CAST((n * 1000000) // tot AS BIGINT) AS share_ppm
      FROM cf CROSS JOIN tt ORDER BY actual, predicted""",

    "q287_ewma_chart" -> """
      WITH s AS (
        SELECT event_type,
          epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS tick,
          CAST(count(*) AS BIGINT) AS x
        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2),
      t AS (
        SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
          CAST(sum(x) AS HUGEINT) AS tot,
          sum(CAST(x AS HUGEINT) * x) AS sx2
        FROM s GROUP BY 1),
      lg AS (
        SELECT event_type, tick, x,
          least(CAST(row_number() OVER win AS INTEGER) - 1, 7) AS m,
          lag(x, 1) OVER win AS x1, lag(x, 2) OVER win AS x2,
          lag(x, 3) OVER win AS x3, lag(x, 4) OVER win AS x4,
          lag(x, 5) OVER win AS x5, lag(x, 6) OVER win AS x6,
          lag(x, 7) OVER win AS x7
        FROM s WINDOW win AS (PARTITION BY event_type ORDER BY tick)),
      nm AS (
        SELECT event_type, tick, x, m,
          CAST(x AS HUGEINT) * (CAST(1 AS BIGINT) << m)
          + coalesce(CASE WHEN 1 <= m THEN
              CAST(x1 AS HUGEINT) * (CAST(1 AS BIGINT) << (m - 1)) END, 0)
          + coalesce(CASE WHEN 2 <= m THEN
              CAST(x2 AS HUGEINT) * (CAST(1 AS BIGINT) << (m - 2)) END, 0)
          + coalesce(CASE WHEN 3 <= m THEN
              CAST(x3 AS HUGEINT) * (CAST(1 AS BIGINT) << (m - 3)) END, 0)
          + coalesce(CASE WHEN 4 <= m THEN
              CAST(x4 AS HUGEINT) * (CAST(1 AS BIGINT) << (m - 4)) END, 0)
          + coalesce(CASE WHEN 5 <= m THEN
              CAST(x5 AS HUGEINT) * (CAST(1 AS BIGINT) << (m - 5)) END, 0)
          + coalesce(CASE WHEN 6 <= m THEN
              CAST(x6 AS HUGEINT) * (CAST(1 AS BIGINT) << (m - 6)) END, 0)
          + coalesce(CASE WHEN 7 <= m THEN
              CAST(x7 AS HUGEINT) * (CAST(1 AS BIGINT) << (m - 7)) END, 0)
            AS num,
          CAST((CAST(1 AS BIGINT) << (m + 1)) - 1 AS HUGEINT) AS d
        FROM lg)
      SELECT event_type, tick, x,
        CAST((1000 * num) // d AS BIGINT) AS ewma_milli,
        (3 * (num * n - tot * d) * (num * n - tot * d))
          > (9 * d * d * (n * sx2 - tot * tot)) AS alarm
      FROM nm JOIN t USING (event_type)
      ORDER BY event_type, tick""",

    "q276_burstiness" -> """
      WITH g AS (
        SELECT event_type,
          epoch_us(CAST(ts AS TIMESTAMP))
            - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
              PARTITION BY user_id, event_type
              ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gp
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
          AND ts IS NOT NULL),
      a AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
          CAST(sum(gp) AS BIGINT) AS sg,
          sum(CAST(gp AS HUGEINT) * gp) AS sg2
        FROM g WHERE gp IS NOT NULL GROUP BY 1)
      SELECT event_type, n_gaps,
        CAST(sg // n_gaps AS BIGINT) AS mean_gap_micros,
        CASE WHEN n_gaps >= 2 AND sg > 0
          THEN CAST((1000 * (n_gaps * sg2 - CAST(sg AS HUGEINT) * sg))
            // (CAST(sg AS HUGEINT) * sg) AS BIGINT) END AS cv2_milli
      FROM a ORDER BY event_type""",

    "q274_precedence_census" -> """
      WITH sp AS (
        SELECT user_id AS u, event_type AS t,
          min(epoch_us(CAST(ts AS TIMESTAMP))) AS lo,
          max(epoch_us(CAST(ts AS TIMESTAMP))) AS hi
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IS NOT NULL
        GROUP BY 1, 2),
      px AS (
        SELECT a.t AS type_a, b.t AS type_b,
          CAST(count(*) AS BIGINT) AS n_both,
          CAST(sum(CASE WHEN a.lo < b.hi THEN 1 ELSE 0 END) AS BIGINT)
            AS n_precede
        FROM sp a JOIN sp b ON a.u = b.u AND a.t <> b.t
        GROUP BY 1, 2)
      SELECT type_a, type_b, n_both, n_precede,
        CAST((n_precede * 1000000) // n_both AS BIGINT) AS precede_ppm
      FROM px ORDER BY type_a, type_b""",

    "q273_lag_correlation" -> """
      WITH sa AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS t,
          CAST(count(*) AS BIGINT) AS xa
        FROM events WHERE event_type = 'click' AND ts IS NOT NULL
        GROUP BY 1),
      sb AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS t,
          CAST(count(*) AS BIGINT) AS xb
        FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
        GROUP BY 1),
      bnd AS (
        SELECT min(t) AS lo, max(t) AS hi FROM (
          SELECT t FROM sa UNION ALL SELECT t FROM sb)),
      grid AS (
        SELECT g.t, coalesce(xa, 0) AS xa, coalesce(xb, 0) AS xb
        FROM (SELECT unnest(generate_series(lo, hi)) AS t FROM bnd) g
        LEFT JOIN sa ON sa.t = g.t LEFT JOIN sb ON sb.t = g.t),
      sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(xa) AS BIGINT) AS sxa,
          CAST(sum(xb) AS BIGINT) AS sxb
        FROM grid),
      cent AS (
        SELECT t, CAST(n * xa - sxa AS HUGEINT) AS ca,
          CAST(n * xb - sxb AS HUGEINT) AS cb
        FROM grid CROSS JOIN sums),
      lgs AS (SELECT unnest(generate_series(-6, 6)) AS lg),
      ccx AS (
        SELECT lg, CAST(count(*) AS BIGINT) AS n_overlap,
          sum(x.ca * y.cb) AS scc
        FROM lgs CROSS JOIN cent x JOIN cent y ON y.t = x.t + lgs.lg
        GROUP BY 1),
      mxb AS (SELECT max(abs(scc)) AS mx FROM ccx),
      bst AS (SELECT lg FROM ccx ORDER BY scc DESC, lg LIMIT 1)
      SELECT CAST(ccx.lg AS BIGINT) AS lag_ticks, n_overlap,
        CAST(CASE WHEN mx = 0 THEN 0
          ELSE (scc * 1000000) // mx END AS BIGINT) AS cc_ppm,
        (ccx.lg = bst.lg) AS is_best
      FROM ccx CROSS JOIN mxb CROSS JOIN bst ORDER BY lag_ticks""",

    "q272_feature_split_audit" -> {
      def feat(name: String, ex: String) = s"""
        SELECT '$name' AS feature, t.threshold, t.split_ppm,
          t.base_ppm, t.base_ppm - t.split_ppm AS gain_ppm, t.n
        FROM (
          WITH f AS (
            SELECT CAST($ex AS BIGINT) AS v,
              (event_type = 'purchase') AS y
            FROM events WHERE ts IS NOT NULL AND $ex IS NOT NULL),
          vt AS (
            SELECT v, CAST(count(*) AS BIGINT) AS c,
              CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p
            FROM f GROUP BY 1),
          cum AS (
            SELECT v, sum(c) OVER w AS nl, sum(p) OVER w AS pl,
              sum(c) OVER () AS n, sum(p) OVER () AS pos
            FROM vt WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
          cand AS (
            SELECT v,
              (2 * pl * (nl - pl) * 1000000) // (nl * n)
                + (2 * (pos - pl) * ((n - nl) - (pos - pl)) * 1000000)
                  // ((n - nl) * n) AS s
            FROM cum WHERE nl < n),
          best AS (
            SELECT v AS bv, s FROM cand ORDER BY s, v LIMIT 1),
          tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
            FROM f)
          SELECT CAST(bv AS BIGINT) AS threshold,
            CAST(coalesce(s,
              (2 * pos * (n - pos) * 1000000) // (n * n)) AS BIGINT)
              AS split_ppm,
            CAST((2 * pos * (n - pos) * 1000000) // (n * n) AS BIGINT)
              AS base_ppm,
            n
          FROM tot LEFT JOIN best ON TRUE) t"""
      val vcents = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
      val hod = "((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24" +
        " + 24) % 24"
      val dow = "((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) % 7" +
        " + 7) % 7"
      s"""${feat("dow", dow)}
        UNION ALL ${feat("hod", hod)}
        UNION ALL ${feat("value_cents", vcents)}
        ORDER BY feature"""
    },

    "q269_histogram_drift" -> """
      WITH ev AS (
        SELECT event_type,
          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM events),
      sa AS (
        SELECT (v - ((v % 2000 + 2000) % 2000)) // 2000 AS bin,
          CAST(count(*) AS BIGINT) AS n_a
        FROM ev WHERE event_type IN ('click', 'view')
          AND v IS NOT NULL GROUP BY 1),
      sb AS (
        SELECT (v - ((v % 2000 + 2000) % 2000)) // 2000 AS bin,
          CAST(count(*) AS BIGINT) AS n_b
        FROM ev WHERE event_type IN ('purchase', 'signup', 'error')
          AND v IS NOT NULL GROUP BY 1),
      bins AS (
        SELECT coalesce(sa.bin, sb.bin) AS bin,
          coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        FROM sa FULL OUTER JOIN sb ON sa.bin = sb.bin),
      tot AS (
        SELECT CAST(sum(n_a) AS BIGINT) AS ta,
          CAST(sum(n_b) AS BIGINT) AS tb
        FROM bins),
      pp AS (
        SELECT bin, CAST(bin * 2000 AS BIGINT) AS bin_lo, n_a, n_b,
          CAST((n_a * 1000000) // greatest(ta, 1) AS BIGINT) AS ppm_a,
          CAST((n_b * 1000000) // greatest(tb, 1) AS BIGINT) AS ppm_b
        FROM bins CROSS JOIN tot),
      tv AS (
        SELECT CAST(sum(abs(ppm_b - ppm_a)) // 2 AS BIGINT) AS tv_ppm
        FROM pp)
      SELECT bin, bin_lo, n_a, n_b, ppm_a, ppm_b,
        CAST(ppm_b - ppm_a AS BIGINT) AS shift_ppm, tv_ppm
      FROM pp CROSS JOIN tv ORDER BY bin""",

    "q268_multitouch_attribution" -> """
      WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_id,
          event_type, value
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      conv AS (
        SELECT user_id, t AS cts,
          CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
        FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2),
      tch AS (
        SELECT user_id, t AS tts, arg_max(event_type, event_id) AS channel
        FROM ev WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
      nxt AS (
        SELECT tch.user_id AS user_id, tts, channel, cts, cents,
          row_number() OVER (PARTITION BY tch.user_id, tts
            ORDER BY cts) AS rn
        FROM tch JOIN conv
          ON conv.user_id = tch.user_id AND conv.cts >= tch.tts),
      cr AS (
        SELECT user_id, tts, channel, cts, cents
        FROM nxt
        WHERE rn = 1 AND epoch_us(cts) - epoch_us(tts) <= 86400000000),
      rkd AS (
        SELECT user_id, tts, channel, cts, cents,
          row_number() OVER (PARTITION BY user_id, cts ORDER BY tts) AS r,
          count(*) OVER (PARTITION BY user_id, cts) AS n
        FROM cr),
      lin AS (
        SELECT channel, 'linear' AS model,
          1000000 // n + CASE WHEN r = 1 THEN 1000000 % n ELSE 0 END
            AS ppm,
          cents, 1 AS tch_n FROM rkd),
      pos AS (
        SELECT channel, 'position' AS model,
          CASE WHEN n = 1 THEN 1000000
               WHEN n = 2 THEN 500000
               WHEN r = 1 THEN 400000
               WHEN r = n THEN 400000
               ELSE 200000 // (n - 2)
                 + CASE WHEN r = 2 THEN 200000 % (n - 2) ELSE 0 END
          END AS ppm, cents, 1 AS tch_n FROM rkd),
      dir AS (
        SELECT 'direct' AS channel, m.model, 1000000 AS ppm, cents,
          0 AS tch_n
        FROM conv c
        LEFT JOIN (SELECT DISTINCT user_id, cts FROM cr) x
          ON x.user_id = c.user_id AND x.cts = c.cts
        CROSS JOIN (SELECT unnest(['linear', 'position']) AS model) m
        WHERE x.user_id IS NULL),
      allr AS (
        SELECT * FROM lin UNION ALL SELECT * FROM pos
        UNION ALL SELECT * FROM dir)
      SELECT channel, model,
        CAST(sum(ppm) AS BIGINT) AS conversions_ppm,
        CAST(sum(CAST(ppm AS HUGEINT) * cents) // 1000 AS BIGINT)
          AS revenue_milli_cents,
        CAST(sum(tch_n) AS BIGINT) AS n_touches
      FROM allr GROUP BY 1, 2 ORDER BY model, channel""",

    "q219_last_touch_attribution" -> s"""
      WITH purchases AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        WHERE event_type = 'purchase'),
      touches AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
          arg_max(event_type, event_id) AS touch_type
        FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
      a AS (
        SELECT p.value, t.touch_type, p.ts AS pts, t.ts AS tts
        FROM purchases p ASOF LEFT JOIN touches t
          ON p.user_id = t.user_id AND p.ts >= t.ts)
      SELECT CASE WHEN touch_type IS NOT NULL
          AND epoch_us(pts) - epoch_us(tts) <= 86400000000
        THEN touch_type ELSE 'direct' END AS channel,
        count(*) AS n_purchases, ${sqlSum("value")} AS revenue
      FROM a GROUP BY 1 ORDER BY 1""",

    "q31_record_pipeline" -> """
      SELECT event_id AS "offset", user_id % 4 AS partition,
        '{"k2":' || (2 * CAST(json_extract_string(props, '$.k') AS BIGINT)) || '}' AS value
      FROM events
      WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0
      ORDER BY "offset"""",

    "q201_avro_ingest" -> """
      SELECT source,
        CAST(count(*) AS BIGINT) AS n_records,
        CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dlq,
        CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_key_ok,
        CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_value_ok
      FROM documents GROUP BY source ORDER BY source""",

    "q202_pb_ingest" -> """
      SELECT source,
        CAST(count(*) AS BIGINT) AS n_records,
        CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dlq,
        CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_key_ok,
        CAST(sum(CASE WHEN doc_id % 10 <> 0 AND doc_id % 7 <> 0
          THEN 1 ELSE 0 END) AS BIGINT) AS n_value_ok,
        CAST(sum(CASE WHEN doc_id % 10 <> 0 AND doc_id % 7 = 0
          THEN 1 ELSE 0 END) AS BIGINT) AS n_defaulted
      FROM documents GROUP BY source ORDER BY source""")
}
