package graft.queries

import graft.Tables
import graft.functions.{TextFunctions, UrlFunctions}
import graft.functions.TextFunctions.piiScrub
import graft.operators.{Budget, Dedup, Repetition, Snapshot, TopK}
import graft.runtime.Materialize
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Web-corpus front-door curation: URL hygiene (q143) and Gopher-style
  * document quality rules (q144). Both are narrow per-row passes until
  * a final bounded aggregate — the shapes that run at scan speed on a
  * 100 TB crawl.
  */
object WebQueries extends QueryGroup {

  /** Deterministic URL per document — scheme/case/www/port/query/
    * fragment/trailing-slash variants so every normalization rule is
    * exercised, with enough host variety (37 subdomains x 17 domains x
    * 4 TLDs, one a two-part suffix) that the registered-domain rollup
    * is a real group-by. Replayed verbatim in the oracle SQL.
    */
  private def syntheticUrl(s: SparkSession) = {
    val id = col("doc_id")
    concat(
      when(id % 3 === 1, lit("HTTP://")).otherwise(lit("https://")),
      when(id % 5 === 0, lit("www.")).otherwise(lit("")),
      when(id % 9 === 0, lit("SITE")).otherwise(lit("site")),
      (id % 37).cast("string"),
      lit(".d"), (id % 17).cast("string"),
      element_at(array(lit(".com"), lit(".co.uk"), lit(".org"), lit(".net")),
        (id % 4).cast("int") + 1),
      when(id % 11 === 0, lit(":8080")).otherwise(lit("")),
      lit("/p/"), (id % 13).cast("string"),
      when(id % 2 === 0, lit("/")).otherwise(lit("")),
      when(id % 6 === 0, concat(lit("?utm="), (id % 7).cast("string")))
        .otherwise(lit("")),
      when(id % 7 === 0, lit("#sec")).otherwise(lit("")))
  }

  private val urlSql = """
    (CASE WHEN doc_id % 3 = 1 THEN 'HTTP://' ELSE 'https://' END ||
     CASE WHEN doc_id % 5 = 0 THEN 'www.' ELSE '' END ||
     CASE WHEN doc_id % 9 = 0 THEN 'SITE' ELSE 'site' END ||
     CAST(doc_id % 37 AS VARCHAR) || '.d' || CAST(doc_id % 17 AS VARCHAR) ||
     (['.com', '.co.uk', '.org', '.net'])[CAST(doc_id % 4 AS INT) + 1] ||
     CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END ||
     '/p/' || CAST(doc_id % 13 AS VARCHAR) ||
     CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
     CASE WHEN doc_id % 6 = 0 THEN '?utm=' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END ||
     CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END)"""

  /** Gopher-style stopword list (subset that appears in the corpus).
    * Shared with q160's datasheet gate so both report the same rule.
    */
  private[queries] val StopWords = Seq("the", "a", "of", "to", "in")

  /** q147's six-stage oracle chain (url keep-first -> PII scrub ->
    * common-chunk removal -> Gopher gate -> scoring -> budget cumsum),
    * ending in `p` (gate-passed docs) and `b` (budget cumulative) —
    * shared with q164's drop-reason report.
    */
  private def pipelineV2Ctes: String = s"""u AS (
        SELECT doc_id, text, ${UrlFunctions.Sql.normalizedExpr} AS norm
        FROM (SELECT doc_id, text, $urlSql AS url FROM documents)),
      keep AS (SELECT min(doc_id) AS doc_id FROM u GROUP BY norm),
      raw AS (
        SELECT doc_id, ${TextQueries.piiRawExpr("VARCHAR")} AS raw
        FROM (SELECT u.doc_id, u.text FROM u JOIN keep USING (doc_id))),
      sc AS (
        SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(raw,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>', 'g'),
          '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '<IP>', 'g'),
          '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS stext
        FROM raw),
      t AS (SELECT doc_id, string_split(stext, ' ') AS ts FROM sc),
      c AS (
        SELECT doc_id, CAST(g AS INT) AS cpos,
          array_to_string(ts[g*8+1 : g*8+8], ' ') AS chunk
        FROM t, unnest(generate_series(0,
          CAST(ceil(len(ts) / 8.0) AS INT) - 1)) AS un(g)),
      dup AS (
        SELECT chunk FROM (SELECT DISTINCT chunk, doc_id FROM c)
        GROUP BY chunk HAVING count(*) > 1),
      keptc AS (
        SELECT c.doc_id, c.cpos, c.chunk FROM c
        WHERE c.chunk NOT IN (SELECT chunk FROM dup)),
      reb AS (
        SELECT t.doc_id, coalesce(r.ct, '') AS ct
        FROM t LEFT JOIN (
          SELECT doc_id, string_agg(chunk, ' ' ORDER BY cpos) AS ct
          FROM keptc GROUP BY doc_id) r ON t.doc_id = r.doc_id),
      g AS (
        SELECT doc_id, ct, string_split(ct, ' ') AS ws,
          CAST(length(ct) AS BIGINT) AS len
        FROM reb),
      f AS (
        SELECT doc_id, ct,
          CAST(len(ws) AS BIGINT) AS n_words,
          len - (CAST(len(ws) AS BIGINT) - 1) AS char_sum,
          CAST(len(list_filter(ws, x -> x IN (${StopWords.map(sw => s"'$sw'").mkString(", ")}))) AS BIGINT) AS n_stop,
          CAST(len(list_distinct(ws)) AS BIGINT) AS n_types
        FROM g),
      p AS (
        SELECT doc_id, ct, n_words FROM f
        WHERE (n_words BETWEEN 20 AND 400)
          AND (CAST(char_sum AS DOUBLE) / n_words BETWEEN 3.0 AND 8.0)
          AND n_stop >= 2
          AND (CAST(n_types AS DOUBLE) / n_words >= 0.3)),
      scored AS (
        SELECT doc_id,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(ct, ' '), tok ->
              (list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(tok, ''),
                   x -> CAST(unicode(x) AS BIGINT))),
                 (acc, ch) -> (acc * 31 + ch) % ${graft.operators.Dedup.M}) % 1024)
                * 2654435761 % 1000 - 500)),
            (a, w) -> a + w) AS score,
          n_words AS n_tokens
        FROM p),
      b AS (
        SELECT doc_id, score, n_tokens,
          sum(n_tokens) OVER (ORDER BY score DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cost
        FROM scored)"""

  /** The q177 signal projection — one narrow per-row pass over (doc_id,
    * text); stateless, so it applies unchanged to a streaming frame
    * (Append mode, no watermark needed).
    */
  def qualitySignals(docs: DataFrame): DataFrame = {
    val bl = array(lit("dup"), lit("slow"), lit("forbidden"))
    val toks = split(col("text"), " ")
    docs.select(col("doc_id"),
        TextFunctions.gopherStats(col("text"), StopWords).as("g"),
        TextFunctions.hashedFeatureScore(col("text")).as("score"),
        exists(toks, t => array_contains(bl, t)).as("blocked"))
      .select(col("doc_id"),
        col("g.n_words").as("n_tokens"),
        col("g.n_types").as("n_types"),
        col("g.n_stop").as("n_stop"),
        (col("g.char_sum").cast("double") / col("g.n_words")).as("mean_wlen"),
        (col("g.n_types").cast("double") / col("g.n_words")).as("ttr"),
        ((col("g.n_words") - col("g.n_types")).cast("double") /
          col("g.n_words")).as("frac_dup_tokens"),
        col("score"), col("blocked"),
        (col("g.n_words").between(20L, 400L) &&
          (col("g.char_sum").cast("double") / col("g.n_words"))
            .between(3.0, 8.0) &&
          col("g.n_stop") >= 2L &&
          (col("g.n_types").cast("double") / col("g.n_words")) >= 0.3)
          .as("gopher_pass"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q143_url_dedup_domains" -> { (s, d) =>
      // URL normalization + registered-domain rollup: per-domain doc
      // count, distinct canonical URLs, and the lexicographic canonical
      // representative. Two-phase aggregate (per-(domain, url) first) —
      // one COUNT DISTINCT next to a COUNT would make Catalyst EXPAND
      // every row; the pre-aggregate also collapses the per-domain hot
      // keys map-side before the final shuffle.
      val u = Tables.documents(s, d)
        .select(col("doc_id"), syntheticUrl(s).as("url"))
        .select(UrlFunctions.registeredDomain(col("url")).as("registered_domain"),
          UrlFunctions.normalizeUrl(col("url")).as("norm"))
      u.groupBy(col("registered_domain"), col("norm"))
        .agg(count(lit(1)).as("__n"))
        .groupBy(col("registered_domain"))
        .agg(sum(col("__n")).cast("long").as("n_docs"),
          count(lit(1)).as("n_urls"),
          min(col("norm")).as("canonical_url"))
        .orderBy(col("registered_domain"))
    },

    "q144_gopher_rules" -> { (s, d) =>
      // Gopher-style (Rae et al. 2021) document quality gates, adapted
      // to the fixture's vocabulary: word-count bounds, mean word
      // length bounds, minimum stopword hits, minimum type-token ratio.
      // One narrow per-row pass — counts are exact integers and the two
      // ratios are single int/int double divisions, so the oracle
      // reproduces them bit-for-bit; no regex (engines disagree on
      // regex corner semantics). The four counters come from the native
      // GopherStats byte-scan kernel (codegen, zero per-row array
      // allocation); GopherStatsSpec pins its parity against the
      // split/filter/array_distinct HOF chain the oracle replays.
      Tables.documents(s, d).select(col("doc_id"),
          TextFunctions.gopherStats(col("text"), StopWords).as("g"))
        .select(
          col("doc_id"), col("g.n_words").as("n_words"),
          (col("g.char_sum").cast("double") / col("g.n_words")).as("mean_wlen"),
          col("g.n_stop").as("n_stop"), col("g.n_types").as("n_types"),
          (col("g.n_types").cast("double") / col("g.n_words")).as("ttr"))
        .withColumn("passes",
          col("n_words").between(20L, 400L) &&
            col("mean_wlen").between(3.0, 8.0) &&
            col("n_stop") >= 2L && col("ttr") >= 0.3)
        .orderBy(col("doc_id"))
    },

    "q175_blocklist_gate" -> { (s, d) =>
      // C4-style blocklist filter (Raffel et al. 2020 §2.2: drop any
      // page containing a banned word — the bluntest and most universal
      // web-corpus gate). Expression-only and WHOLLY NARROW: occurrence
      // count via a token filter fold, distinct offending terms via
      // array_intersect on the deduped token list (sorted so both
      // engines agree on order, then joined to a single string — the
      // q49 house rule: the driver harness sorts result columns with
      // pandas, which cannot factorize raw array cells), pass = zero
      // hits. No shuffle at any corpus size — the same scan-speed
      // class as q144. The fixture list exercises all three edges: a
      // rare term ("dup"), a common term ("slow"), and one absent
      // from the corpus ("forbidden").
      val bl = array(lit("dup"), lit("slow"), lit("forbidden"))
      val toks = split(col("text"), " ")
      Tables.documents(s, d).select(col("doc_id"),
          size(filter(toks, t => array_contains(bl, t))).cast("long")
            .as("n_blocked"),
          array_sort(array_intersect(array_distinct(toks), bl))
            .as("bt"))
        .select(col("doc_id"), col("n_blocked"),
          size(col("bt")).cast("long").as("n_distinct_blocked"),
          array_join(col("bt"), " ").as("blocked_terms"),
          (col("n_blocked") === 0L).as("passes"))
        .orderBy(col("doc_id"))
    },

    "q213_dp_release" -> { (s, d) =>
      // Geometric-SHAPED noised count release (Ghosh et al. 2009 noise
      // distribution; deterministic seed-keyed draw — obfuscation, NOT
      // differential privacy; see Privacy.geometricNoisedCounts's
      // contract. Query key kept for baseline continuity.) —
      // the privacy ladder's perturbation rung: per-(source, lang) doc
      // counts released as max(0, n + X), X two-sided geometric at
      // eps=0.5, drawn via the portable (seed, key) polyhash so the
      // oracle replays the exact inverse-CDF ladder. Bounded group
      // table; one corpus aggregate.
      graft.operators.Privacy.geometricNoisedCounts(
          Tables.documents(s, d).select(col("source"), col("lang")),
          Seq("source", "lang"), epsPpm = 500000L, seed = 42L)
        .orderBy(col("source"), col("lang"))
    },

    "q222_ks_drift" -> { (s, d) =>
      // Exact two-sample Kolmogorov-Smirnov drift (Snapshot.ksDrift):
      // the largest ECDF gap between the en and de token-count
      // distributions, cross-multiplied in DECIMAL so the ppm is exact
      // — the numeric retrain-trigger next to q158's categorical token
      // drift. Distinct-value table + the house two-phase bucket
      // cumsum; no global-order window over raw rows.
      graft.operators.Snapshot.ksDrift(
        Tables.documents(s, d).select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_toks")),
        "n_toks", "lang", "en", "de", bucketWidth = 16L)
    },

    "q223_private_release_pipeline" -> { (s, d) =>
      // The privacy ladder end-to-end as ONE pipeline: k-anonymize the
      // (source, lang) quasi-identifier (q208's gate), drop suppressed
      // rows, and publish the release card as GEOMETRIC-MECHANISM
      // noised counts per released key (q213's rung) — true group
      // sizes never leave the pipeline. One corpus aggregate + the
      // bounded ladder cascade + a release-card-sized noise pass.
      val anon = graft.operators.Privacy.kAnonymize(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("lang")),
        Seq("source", "lang"), k = 10L)
      graft.operators.Privacy.geometricNoisedCounts(
          anon.filter(col("anon_group_size").isNotNull)
            .select(col("released_key")),
          Seq("released_key"), epsPpm = 500000L, seed = 7L)
        .orderBy(col("released_key"))
    },

    "q208_k_anonymity" -> { (s, d) =>
      // k-anonymity release gate (Sweeney 2002) over the (source, lang)
      // quasi-identifier with the suffix-generalization ladder: release
      // at full QI when the group reaches k, else at (source, *) when
      // the LEFTOVER mass does, else suppress — every published key is
      // shared by >= k published rows. k=10 exercises all three levels
      // on this corpus (172/319/9 docs at sf0.01). One corpus
      // aggregate + a bounded group-table cascade + one join back.
      graft.operators.Privacy.kAnonymize(
          Tables.documents(s, d)
            .select(col("doc_id"), col("source"), col("lang")),
          Seq("source", "lang"), k = 10L)
        .select(col("doc_id"), col("source"), col("lang"),
          col("anon_level"), col("anon_group_size"), col("released_key"))
        .orderBy(col("doc_id"))
    },

    "q209_l_diversity" -> { (s, d) =>
      // Distinct l-diversity audit over a k-anonymous release
      // (Machanavajjhala 2006): QI = (source) at k=10, sensitive
      // attribute = lang, l=5 — the flag catches released groups whose
      // members share too few sensitive values (attribute disclosure
      // k-anonymity alone misses). Both flag values are live on this
      // corpus (3 of 20 sources carry only 4 of the 5 langs).
      val anon = graft.operators.Privacy.kAnonymize(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("lang")),
        Seq("source"), k = 10L)
      graft.operators.Privacy.lDiversityReport(anon, "lang", l = 5L)
        .orderBy(col("released_key"))
    },

    "q210_t_closeness" -> { (s, d) =>
      // t-closeness audit over the q209 release (Li et al. 2007): the
      // skew l-diversity misses — per released source, the exact total
      // variation distance between its lang distribution and the
      // published table's, in ppm, against t = 0.15. Both flag values
      // are live on this corpus (12 of 20 sources within 150000 ppm,
      // range 78000-224000). Everything after the one corpus scan is
      // release-card sized; DECIMAL(38,0) arithmetic so 1e9-row
      // releases cannot overflow the ppm scaling.
      val anon = graft.operators.Privacy.kAnonymize(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("lang")),
        Seq("source"), k = 10L)
      graft.operators.Privacy.tClosenessReport(anon, "lang", tPpm = 150000L)
        .orderBy(col("released_key"))
    },

    "q176_score_calibration" -> { (s, d) =>
      // Reliability table for the model-based quality scorer (the
      // calibration check a pipeline runs before trusting a filter
      // threshold — Guo et al. 2017's reliability diagram, in exact
      // integers): bin q140's hashed-feature score by its shifted
      // per-token mean, label each document with q144's Gopher gate,
      // and report per-bin document counts, gate-pass counts, pass rate
      // (ppm) and mean score. The shift (+500/token) makes every
      // operand non-negative so truncating and floor division agree
      // across engines. One narrow per-row pass (both the scorer fold
      // and the gate kernel are per-row) into one bounded aggregate —
      // at most 11 bins regardless of corpus size.
      val toks = split(col("text"), " ")
      val base = Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.hashedFeatureScore(col("text")).as("score"),
        size(toks).cast("long").as("n_tokens"),
        TextFunctions.gopherStats(col("text"), StopWords).as("g"))
      val gate = col("g.n_words").between(20L, 400L) &&
        (col("g.char_sum").cast("double") / col("g.n_words")).between(3.0, 8.0) &&
        col("g.n_stop") >= 2L &&
        (col("g.n_types").cast("double") / col("g.n_words")) >= 0.3
      base.select(
          expr("((score + 500 * n_tokens) * 1000) div n_tokens").as("sm"),
          gate.as("pass"))
        .groupBy(expr("sm div 100000").as("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
          sum(col("sm")).as("__sms"))
        .select(col("bin"), col("n_docs"), col("n_pass"),
          expr("(n_pass * 1000000) div n_docs").as("pass_ppm"),
          expr("__sms div n_docs").as("mean_score_millis"))
        .orderBy(col("bin"))
    },

    "q177_quality_signals" -> { (s, d) =>
      // Per-document quality-signal export (the Dolma pattern — Soldaini
      // et al. 2024 ship per-doc attribute files so every downstream
      // mixture can re-threshold without re-scanning raw text): ALL
      // signals computed in ONE narrow per-row pass — the Gopher counter
      // kernel, the q140 hashed-feature score fold, the q175 blocklist
      // probe, and the duplicate-token fraction, each an exact integer
      // or a single int/int division. No shuffle at any corpus size;
      // at 100 TB this runs at scan speed and writes doc_id + 9 columns.
      // Stateless by construction, so the SAME projection runs on an
      // ingest stream in Append mode (StreamingSpec pins the parity).
      qualitySignals(Tables.documents(s, d)).orderBy(col("doc_id"))
    },

    "q185_curation_pipeline_v3" -> { (s, d) =>
      // The round-5 additions chained end-to-end under one oracle, each
      // stage keeping its standalone scale shape: C4 blocklist gate
      // (q175, narrow filter) -> chunk-level LM filtering (q182: score
      // 16-token chunks under the src0 bigram model, drop low-fluency
      // chunks, doc survives with its kept-token count) -> water-filling
      // source quota (q184: max-min-fair caps from a global budget over
      // the SURVIVING corpus) -> deterministic cap application via the
      // q98/q117 portable hash gate (realized mixture converges to the
      // cap with no RNG; stable under re-runs and repartitioning).
      // Corpus-sized data is never globally ordered or windowed; the
      // quota math runs on the bounded source table.
      val C = 16
      val docs = Tables.documents(s, d)
      val bl = array(lit("dup"), lit("slow"), lit("forbidden"))
      val clean = docs.filter(
        !exists(split(col("text"), " "), t => array_contains(bl, t)))
      val toks = split(col("text"), " ")
      val chunks = clean.select(col("doc_id"), col("source"),
          posexplode(transform(
            sequence(lit(0), ((size(toks) - 1) / C).cast("int")),
            i => concat_ws(" ", slice(toks, i * C + 1, lit(C)))))
            .as(Seq("chunk_idx", "chunk")))
        .select((col("doc_id") * 1000000L + col("chunk_idx")).as("cid"),
          col("doc_id"), col("source"), col("chunk"))
        // two consumers of the narrow subtree (q182)
        .transform(Materialize.seam)
      val scored = graft.operators.LmScore.bigramScores(
        chunks.select(col("cid"), col("chunk").as("text")),
        docs.filter(col("source") === "src0")
          .select(col("doc_id").as("cid"), col("text")),
        "cid", "text")
      val rebuilt = chunks
        .join(scored.select(col("cid"), col("avg_score")), "cid")
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(when(col("avg_score") >= 30000L,
          size(split(col("chunk"), " ")).cast("long")).otherwise(0L))
          .as("n_toks"))
        .filter(col("n_toks") > 0L)
        // two consumers (the quota aggregate and the cap join): without
        // the seam the whole LM-scoring subtree executes twice
        .transform(Materialize.seam)
      val perSrc = rebuilt.groupBy(col("source"))
        .agg(sum(col("n_toks")).as("n"))
      val caps = Budget.waterFillCaps(perSrc, "source", "n", budget = 2000L)
        .select(col("source"), col("n_tokens").as("src_tokens"),
          col("allocated"))
      rebuilt.join(broadcast(caps), "source")
        .withColumn("keep_ppm",
          expr("(allocated * 1000000L) div src_tokens"))
        .filter((col("doc_id") * 1000003L + 17L) % 1000000007L % 1000000L
          < col("keep_ppm"))
        .select(col("doc_id"), col("source"), col("n_toks"), col("keep_ppm"))
        .orderBy(col("doc_id"))
    },

    "q147_curation_pipeline_v2" -> { (s, d) =>
      // The round-5 front-door chain in one oracle-checked query, each
      // stage keeping its standalone scale shape: URL keep-first dedup
      // (q143's canonicalization; groupBy(min) + semi join — skew-safe
      // on a hot canonical URL, unlike a window) -> PII scrub (q138's
      // narrow codegen byte-scan, same injected fixtures) -> common-
      // chunk removal (q139: distinct-pair df + anti join, doc rebuild)
      // -> Gopher quality gate on the REBUILT text (q144's exact-int
      // rules) -> hashed-feature scoring (q140's fold, no model join)
      // -> token-budget head selection (q145's two-phase bucket prefix
      // sum). Corpus-sized data is never globally ordered and never
      // windowed on a potentially-hot key anywhere in the chain.
      val docs = Tables.documents(s, d)
      val withUrl = docs
        .select(col("doc_id"), col("text"),
          UrlFunctions.normalizeUrl(syntheticUrl(s)).as("norm"))
      val keepIds = withUrl.groupBy(col("norm"))
        .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
      val scrubbed = withUrl.join(keepIds, "doc_id")
        .withColumn("raw", expr(TextQueries.piiRawExpr("STRING")))
        .select(col("doc_id"), piiScrub(col("raw")).as("stext"))
      val rebuilt = Dedup.removeCommonChunks(scrubbed, "doc_id", "stext",
        chunkTokens = 8, maxDf = 1L)
      val gated = rebuilt
        .select(col("doc_id"), col("cleaned_text"),
          TextFunctions.gopherStats(col("cleaned_text"), StopWords).as("g"))
        .select(col("doc_id"), col("cleaned_text"),
          col("g.n_words").as("n_words"), col("g.char_sum").as("char_sum"),
          col("g.n_stop").as("n_stop"), col("g.n_types").as("n_types"))
        .filter(col("n_words").between(20L, 400L) &&
          (col("char_sum").cast("double") / col("n_words")).between(3.0, 8.0) &&
          col("n_stop") >= 2L &&
          (col("n_types").cast("double") / col("n_words")) >= 0.3)
      val scored = gated.select(col("doc_id"),
        TextFunctions.hashedFeatureScore(col("cleaned_text")).as("score"),
        col("n_words").as("n_tokens"))
      Budget.takeByBudget(scored, "doc_id", "score", "n_tokens",
          budget = 15000L)
        .orderBy(col("doc_id"))
    },

    "q164_drop_reasons" -> { (s, d) =>
      // "Why was my document dropped" over the q147 pipeline: the FIRST
      // stage that eliminates each document (url_dup -> gopher_fail ->
      // budget_cut -> kept), as a histogram. Each stage keeps its q147
      // scale shape; the attribution is three left semi-style joins on
      // doc ids — no stage is recomputed per reason.
      val docs = Tables.documents(s, d)
      val withUrl = docs
        .select(col("doc_id"), col("text"),
          UrlFunctions.normalizeUrl(syntheticUrl(s)).as("norm"))
      val keepIds = withUrl.groupBy(col("norm"))
        .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
      val scrubbed = withUrl.join(keepIds, "doc_id")
        .withColumn("raw", expr(TextQueries.piiRawExpr("STRING")))
        .select(col("doc_id"), piiScrub(col("raw")).as("stext"))
      val rebuilt = Dedup.removeCommonChunks(scrubbed, "doc_id", "stext",
        chunkTokens = 8, maxDf = 1L)
      val gated = rebuilt
        .select(col("doc_id"), col("cleaned_text"),
          TextFunctions.gopherStats(col("cleaned_text"), StopWords).as("g"))
        .select(col("doc_id"), col("cleaned_text"),
          col("g.n_words").as("n_words"), col("g.char_sum").as("char_sum"),
          col("g.n_stop").as("n_stop"), col("g.n_types").as("n_types"))
        .filter(col("n_words").between(20L, 400L) &&
          (col("char_sum").cast("double") / col("n_words")).between(3.0, 8.0) &&
          col("n_stop") >= 2L &&
          (col("n_types").cast("double") / col("n_words")) >= 0.3)
      val scored = gated.select(col("doc_id"),
        TextFunctions.hashedFeatureScore(col("cleaned_text")).as("score"),
        col("n_words").as("n_tokens"))
      val kept = Budget.takeByBudget(scored, "doc_id", "score", "n_tokens",
        budget = 15000L)
      docs.select(col("doc_id"))
        .join(keepIds.withColumn("__u", lit(1L)), Seq("doc_id"), "left")
        .join(gated.select(col("doc_id"), lit(1L).as("__g")), Seq("doc_id"), "left")
        .join(kept.select(col("doc_id"), lit(1L).as("__b")), Seq("doc_id"), "left")
        .select(when(col("__u").isNull, lit("url_dup"))
          .when(col("__g").isNull, lit("gopher_fail"))
          .when(col("__b").isNull, lit("budget_cut"))
          .otherwise(lit("kept")).as("reason"))
        .groupBy(col("reason")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("reason"))
    },

    "q148_domain_quota" -> { (s, d) =>
      // C4-style per-domain cap at the REGISTERED-domain level, in the
      // shape that survives a viral domain: q105's window form shuffles
      // every row of the hot domain to one reducer and sorts it there;
      // here the k-bounded heap aggregate (BoundedTopKAgg) keeps at
      // most 5 rows per domain per map partition, so the hot key
      // collapses BEFORE the shuffle and no task ever buffers a domain.
      // Selection is deterministic "random" — portable-hash order with
      // doc_id tiebreak (the q98/q105 gate) — so the cap survives
      // re-runs and repartitioning.
      val u = Tables.documents(s, d)
        .select(col("doc_id"),
          UrlFunctions.registeredDomain(syntheticUrl(s)).as("registered_domain"))
      val capKey = (col("doc_id") * 1000003L + 17L) % 1000000007L
      TopK.perGroupAgg(u.withColumn("ck", -capKey),
          Seq("registered_domain"), col("ck"), col("doc_id"), k = 5)
        .select(col("registered_domain"), col("rn").cast("long").as("rn"),
          col("id").as("doc_id"))
        .orderBy(col("registered_domain"), col("rn"))
    },

    "q155_line_repetition" -> { (s, d) =>
      // The remaining Gopher repetition signals (q79 covers the gram
      // level): per-document duplicate-LINE fraction and the fraction
      // of characters inside duplicate lines, over fixed 10-token line
      // windows (the corpus has no newlines — q113/q139's chunk
      // convention). Lines travel as polyHash ids + lengths after one
      // combinable (doc, line) aggregate; no window ever buffers a
      // document, so a pathologically repetitive document collapses
      // map-side.
      Repetition.lineStats(Tables.documents(s, d), "doc_id", "text",
          lineTokens = 10)
        .orderBy(col("doc_id"))
    },

    "q162_gate_ablation" -> { (s, d) =>
      // Gopher-gate ablation cube: how many documents pass/fail each
      // COMBINATION of the four q144 gates — the table that tells a
      // pipeline owner which rule does the killing and which are
      // redundant. Flags are non-null strings so CUBE's nulls are
      // unambiguous sentinels; one narrow pass + a 3^4-cell cube (the
      // B7 machinery on the curation story). Counts are exact.
      val g = Tables.documents(s, d)
        .select(TextFunctions.gopherStats(col("text"), StopWords).as("g"))
      val nW = col("g.n_words")
      def flag(c: org.apache.spark.sql.Column) =
        when(c, lit("pass")).otherwise(lit("fail"))
      g.select(
          flag(nW.between(20L, 400L)).as("f_words"),
          flag((col("g.char_sum").cast("double") / nW).between(3.0, 8.0))
            .as("f_wlen"),
          flag(col("g.n_stop") >= 2L).as("f_stop"),
          flag((col("g.n_types").cast("double") / nW) >= 0.3).as("f_ttr"))
        .cube(col("f_words"), col("f_wlen"), col("f_stop"), col("f_ttr"))
        .agg(count(lit(1)).as("n_docs"))
        .select(coalesce(col("f_words"), lit("ALL")).as("f_words"),
          coalesce(col("f_wlen"), lit("ALL")).as("f_wlen"),
          coalesce(col("f_stop"), lit("ALL")).as("f_stop"),
          coalesce(col("f_ttr"), lit("ALL")).as("f_ttr"), col("n_docs"))
        .orderBy(col("f_words"), col("f_wlen"), col("f_stop"), col("f_ttr"))
    },

    "q158_token_drift" -> { (s, d) =>
      // Token-distribution drift between q149's two snapshots: top-20
      // per-token ppm movers + the corpus L1 drift (over ALL tokens)
      // on every row. One tagged union + one combinable token
      // aggregate; both consumers (movers cut, L1 sum) read the same
      // aggregate subtree, so its exchange is reused at runtime and
      // the union is scanned once (the q141 pattern, plan-pinned).
      val docs = Tables.documents(s, d)
      val old = docs.filter(col("doc_id") % 10 =!= 9)
        .select(when(col("doc_id") % 10 === 7, concat(col("text"), lit(" v1")))
          .otherwise(col("text")).as("text"))
        .unionAll(docs.filter(col("doc_id") % 10 === 3).select(col("text")))
      Snapshot.tokenDrift(old, docs.select(col("text")), "text", topK = 20)
        .orderBy(abs(col("ppm_diff")).desc, col("tok").asc)
    },

    "q149_snapshot_diff" -> { (s, d) =>
      // Corpus snapshot diff (data versioning between recurring crawls):
      // two deterministic snapshots derived from the same table and
      // replayed verbatim in the oracle. "Old" drops doc_id%10==9
      // (those become adds), fingerprints a sentinel-modified text for
      // %10==7 (changed), and carries retired ids (doc_id+10_000_000
      // for %10==3) the new crawl no longer has (removed). Fingerprints
      // are md5 digests computed BEFORE the full-outer join, so the
      // diff moves (id, digest) pairs — never document bodies.
      val docs = Tables.documents(s, d)
      val cur = docs.select(col("doc_id"), md5(col("text")).as("fp"))
      val old = docs.filter(col("doc_id") % 10 =!= 9)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 10 === 7, concat(col("text"), lit(" v1")))
            .otherwise(col("text"))).as("fp"))
        .unionAll(docs.filter(col("doc_id") % 10 === 3)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            md5(col("text")).as("fp")))
      Snapshot.diff(old, cur, "doc_id", "fp")
        .select(col("doc_id"), col("status"), col("old_fp"), col("new_fp"))
        .orderBy(col("doc_id"))
    })

  val oracle: Map[String, String] = Map(

    "q210_t_closeness" -> """
      WITH c0 AS (
        SELECT source, count(*) AS n0 FROM documents GROUP BY 1),
      rel AS (
        SELECT d.source, d.lang FROM documents d
        JOIN c0 USING (source) WHERE c0.n0 >= 10),
      g AS (
        SELECT lang, CAST(count(*) AS HUGEINT) AS gg FROM rel GROUP BY 1),
      nn AS (SELECT CAST(count(*) AS HUGEINT) AS N FROM rel),
      pg AS (
        SELECT source, lang, CAST(count(*) AS HUGEINT) AS c
        FROM rel GROUP BY 1, 2),
      ks AS (
        SELECT source, CAST(sum(c) AS HUGEINT) AS n FROM pg GROUP BY 1),
      s AS (
        SELECT pg.source,
          sum(abs(pg.c * nn.N - g.gg * ks.n)) AS sumabs,
          sum(g.gg) AS sumg
        FROM pg JOIN g USING (lang) JOIN ks USING (source) CROSS JOIN nn
        GROUP BY 1)
      SELECT ks.source AS released_key,
        CAST(ks.n AS BIGINT) AS n_rows,
        CAST((s.sumabs + ks.n * (nn.N - s.sumg)) * 1000000
             // (2 * ks.n * nn.N) AS BIGINT) AS tvd_ppm,
        (s.sumabs + ks.n * (nn.N - s.sumg)) * 1000000
          <= 2 * 150000 * ks.n * nn.N AS close
      FROM s JOIN ks USING (source) CROSS JOIN nn
      ORDER BY released_key""",

    "q209_l_diversity" -> """
      WITH c0 AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n0
        FROM documents GROUP BY 1)
      SELECT d.source AS released_key,
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(DISTINCT d.lang) AS BIGINT) AS n_sensitive,
        count(DISTINCT d.lang) >= 5 AS diverse
      FROM documents d JOIN c0 ON c0.source = d.source
      WHERE c0.n0 >= 10
      GROUP BY d.source ORDER BY released_key""",

    "q222_ks_drift" -> """
      WITH d0 AS (
        SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS v
        FROM documents WHERE lang IN ('en', 'de')),
      vt AS (
        SELECT v,
          CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS HUGEINT) AS ca,
          CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS HUGEINT) AS cb
        FROM d0 GROUP BY v),
      c AS (
        SELECT v,
          sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW) AS cuma,
          sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW) AS cumb
        FROM vt),
      t AS (SELECT CAST(sum(ca) AS HUGEINT) AS na,
        CAST(sum(cb) AS HUGEINT) AS nb FROM vt),
      dd AS (SELECT v, abs(cuma * nb - cumb * na) AS diff
        FROM c CROSS JOIN t),
      sel AS (SELECT diff, v FROM dd ORDER BY diff DESC, v LIMIT 1)
      SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        CAST(diff * 1000000 // (na * nb) AS BIGINT) AS ks_ppm,
        v AS at_value
      FROM sel CROSS JOIN t""",

    "q223_private_release_pipeline" -> s"""
      WITH c0 AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n0
        FROM documents GROUP BY 1, 2),
      c1 AS (
        SELECT source, CAST(sum(n0) AS BIGINT) AS n1
        FROM c0 WHERE n0 < 10 GROUP BY 1),
      rel AS (
        SELECT CASE WHEN c0.n0 >= 10 THEN d.source || '/' || d.lang
               ELSE d.source || '/*' END AS released_key
        FROM documents d
        JOIN c0 ON c0.source = d.source AND c0.lang = d.lang
        LEFT JOIN c1 ON c1.source = d.source
        WHERE c0.n0 >= 10 OR coalesce(c1.n1, 0) >= 10),
      kc AS (
        SELECT released_key, CAST(count(*) AS BIGINT) AS n
        FROM rel GROUP BY 1),
      h AS (
        SELECT released_key, n,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split('7/' || released_key, ''),
              x -> CAST(unicode(x) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % ${graft.operators.Dedup.M}) AS ph
        FROM kc),
      hu AS (
        SELECT released_key, n,
          ${graft.operators.Privacy.mixSql("ph")} AS u
        FROM h)
      SELECT released_key,
        greatest(CAST(0 AS BIGINT), n + CASE ${
          graft.operators.Privacy.geometricThresholds(500000L, 16)
            .zip(-16 until 16)
            .map { case (t, k) => s"WHEN u < $t THEN $k" }.mkString(" ")
        } ELSE 16 END) AS released_n
      FROM hu ORDER BY released_key""",

    "q213_dp_release" -> s"""
      WITH c0 AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2),
      h AS (
        SELECT source, lang, n,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(
              '42/' || coalesce(CAST(source AS VARCHAR), 'null') || '/' ||
              coalesce(CAST(lang AS VARCHAR), 'null'), ''),
              x -> CAST(unicode(x) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % ${graft.operators.Dedup.M}) AS ph
        FROM c0),
      hu AS (
        SELECT source, lang, n,
          ${graft.operators.Privacy.mixSql("ph")} AS u
        FROM h)
      SELECT source, lang,
        greatest(CAST(0 AS BIGINT), n + CASE ${
          graft.operators.Privacy.geometricThresholds(500000L, 16)
            .zip(-16 until 16)
            .map { case (t, k) => s"WHEN u < $t THEN $k" }.mkString(" ")
        } ELSE 16 END) AS released_n
      FROM hu ORDER BY source, lang""",

    "q208_k_anonymity" -> """
      WITH c0 AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n0
        FROM documents GROUP BY 1, 2),
      c1 AS (
        SELECT source, CAST(sum(n0) AS BIGINT) AS n1
        FROM c0 WHERE n0 < 10 GROUP BY 1)
      SELECT d.doc_id, d.source, d.lang,
        CAST(CASE WHEN c0.n0 >= 10 THEN 0
                  WHEN coalesce(c1.n1, 0) >= 10 THEN 1
                  ELSE 2 END AS BIGINT) AS anon_level,
        CASE WHEN c0.n0 >= 10 THEN c0.n0
             WHEN coalesce(c1.n1, 0) >= 10 THEN c1.n1
             ELSE NULL END AS anon_group_size,
        CASE WHEN c0.n0 >= 10 THEN d.source || '/' || d.lang
             WHEN coalesce(c1.n1, 0) >= 10 THEN d.source || '/*'
             ELSE '*/*' END AS released_key
      FROM documents d
      JOIN c0 ON c0.source = d.source AND c0.lang = d.lang
      LEFT JOIN c1 ON c1.source = d.source
      ORDER BY doc_id""",

    "q175_blocklist_gate" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      g AS (
        SELECT doc_id,
          CAST(len(list_filter(l,
            x -> list_contains(['dup', 'slow', 'forbidden'], x))) AS BIGINT)
            AS n_blocked,
          list_sort(list_intersect(list_distinct(l),
            ['dup', 'slow', 'forbidden'])) AS blocked_terms
        FROM t)
      SELECT doc_id, n_blocked,
        CAST(len(blocked_terms) AS BIGINT) AS n_distinct_blocked,
        coalesce(array_to_string(blocked_terms, ' '), '') AS blocked_terms,
        n_blocked = 0 AS passes
      FROM g ORDER BY doc_id""",

    "q185_curation_pipeline_v3" -> """
      WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
      b AS (
        SELECT l[i] AS w1, l[i+1] AS w2, CAST(count(*) AS BIGINT) AS cb
        FROM toks, unnest(generate_series(1, greatest(len(l) - 1, 0))) AS g(i)
        WHERE source = 'src0' GROUP BY 1, 2),
      u AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu FROM b GROUP BY w1),
      v AS (
        SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vs
        FROM (SELECT unnest(l) AS tok FROM toks WHERE source = 'src0') t),
      cl AS (
        SELECT * FROM toks
        WHERE len(list_filter(l,
          x -> list_contains(['dup', 'slow', 'forbidden'], x))) = 0),
      ch AS (
        SELECT doc_id, source, doc_id * 1000000 + i AS cid,
          array_to_string(l[i*16+1 : i*16+16], ' ') AS chunk
        FROM cl, unnest(generate_series(0, (len(l) - 1) // 16)) AS gi(i)),
      cb AS (
        SELECT cid, sl[i] AS w1, sl[i+1] AS w2
        FROM (SELECT cid, string_split(chunk, ' ') AS sl FROM ch) x,
             unnest(generate_series(1, greatest(len(sl) - 1, 0))) AS g(i)),
      scored AS (
        SELECT cid,
          ((coalesce(b.cb, 0) + 1) * 1000000) // (coalesce(u.cu, 0) + v.vs) AS sc
        FROM cb LEFT JOIN b USING (w1, w2) LEFT JOIN u USING (w1) CROSS JOIN v),
      agg AS (
        SELECT cid, CAST(count(*) AS BIGINT) AS nb, CAST(sum(sc) AS BIGINT) AS ss
        FROM scored GROUP BY cid),
      reb AS (
        SELECT ch.doc_id, ch.source,
          CAST(sum(CASE WHEN coalesce(ss // nb, 0) >= 30000
            THEN len(string_split(chunk, ' ')) ELSE 0 END) AS BIGINT) AS n_toks
        FROM ch LEFT JOIN agg USING (cid)
        GROUP BY 1, 2),
      sur AS (SELECT * FROM reb WHERE n_toks > 0),
      per AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS n
              FROM sur GROUP BY source),
      r AS (
        SELECT source, n,
          CAST(row_number() OVER (ORDER BY n, source) AS BIGINT) AS i,
          CAST(sum(n) OVER (ORDER BY n, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
        FROM per),
      t AS (SELECT CAST(max(i) AS BIGINT) AS k,
              CAST(max(p) AS BIGINT) AS tot FROM r),
      cand AS (
        SELECT r.source, r.n, r.i, r.p, t.k,
          (2000 - (p - n)) // (k - i + 1) AS cap
        FROM r CROSS JOIN t),
      bd AS (SELECT min(i) AS bi FROM cand WHERE cap < n),
      wt AS (
        SELECT cap AS c FROM cand JOIN bd ON i = bi
        UNION ALL
        SELECT CAST(NULL AS BIGINT) FROM t, bd WHERE bi IS NULL),
      caps AS (
        SELECT source, n AS src_tokens,
          CAST(CASE WHEN c IS NULL OR n <= c THEN n ELSE c END AS BIGINT)
            AS allocated
        FROM r CROSS JOIN wt)
      SELECT sur.doc_id, sur.source, sur.n_toks,
        (allocated * 1000000) // src_tokens AS keep_ppm
      FROM sur JOIN caps USING (source)
      WHERE (doc_id * 1000003 + 17) % 1000000007 % 1000000
        < (allocated * 1000000) // src_tokens
      ORDER BY doc_id""",

    "q176_score_calibration" -> s"""
      WITH t AS (
        SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      s AS (
        SELECT doc_id,
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
        SELECT ((score + 500 * n_tokens) * 1000) // n_tokens AS sm,
          (n_tokens BETWEEN 20 AND 400)
            AND (CAST(char_sum AS DOUBLE) / n_tokens BETWEEN 3.0 AND 8.0)
            AND n_stop >= 2
            AND (CAST(n_types AS DOUBLE) / n_tokens >= 0.3) AS pass
        FROM s)
      SELECT sm // 100000 AS bin,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        (CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
          // CAST(count(*) AS BIGINT) AS pass_ppm,
        CAST(sum(sm) AS BIGINT) // CAST(count(*) AS BIGINT)
          AS mean_score_millis
      FROM g GROUP BY 1 ORDER BY bin""",

    "q177_quality_signals" -> s"""
      WITH t AS (
        SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      s AS (
        SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
          CAST(len(list_filter(toks, x -> x IN
            (${StopWords.map(sw => s"'$sw'").mkString(", ")}))) AS BIGINT)
            AS n_stop,
          CAST(length(text) AS BIGINT) - (CAST(len(toks) AS BIGINT) - 1)
            AS char_sum,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(toks, tok ->
              (list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(tok, ''),
                   x -> CAST(unicode(x) AS BIGINT))),
                 (acc, c) -> (acc * 31 + c) % ${graft.operators.Dedup.M}) % 1024)
                * 2654435761 % 1000 - 500)),
            (a, w) -> a + w) AS score,
          len(list_filter(toks,
            x -> list_contains(['dup', 'slow', 'forbidden'], x))) > 0
            AS blocked
        FROM t)
      SELECT doc_id, n_tokens, n_types, n_stop,
        CAST(char_sum AS DOUBLE) / n_tokens AS mean_wlen,
        CAST(n_types AS DOUBLE) / n_tokens AS ttr,
        CAST(n_tokens - n_types AS DOUBLE) / n_tokens AS frac_dup_tokens,
        score, blocked,
        (n_tokens BETWEEN 20 AND 400)
          AND (CAST(char_sum AS DOUBLE) / n_tokens BETWEEN 3.0 AND 8.0)
          AND n_stop >= 2
          AND (CAST(n_types AS DOUBLE) / n_tokens >= 0.3) AS gopher_pass
      FROM s ORDER BY doc_id""",

    "q143_url_dedup_domains" -> s"""
      WITH u AS (
        SELECT ${UrlFunctions.Sql.registeredExpr()} AS registered_domain,
               ${UrlFunctions.Sql.normalizedExpr} AS norm
        FROM (SELECT doc_id, $urlSql AS url FROM documents)),
      per_url AS (
        SELECT registered_domain, norm, count(*) AS n
        FROM u GROUP BY 1, 2)
      SELECT registered_domain, CAST(sum(n) AS BIGINT) AS n_docs,
             count(*) AS n_urls, min(norm) AS canonical_url
      FROM per_url GROUP BY 1 ORDER BY 1""",

    "q144_gopher_rules" -> s"""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words,
               CAST(length(text) AS BIGINT) AS len
        FROM documents),
      f AS (
        SELECT doc_id,
          CAST(len(words) AS BIGINT) AS n_words,
          len - (CAST(len(words) AS BIGINT) - 1) AS char_sum,
          CAST(len(list_filter(words, x -> x IN (${StopWords.map(sw => s"'$sw'").mkString(", ")}))) AS BIGINT) AS n_stop,
          CAST(len(list_distinct(words)) AS BIGINT) AS n_types
        FROM w)
      SELECT doc_id, n_words,
        CAST(char_sum AS DOUBLE) / n_words AS mean_wlen,
        n_stop, n_types,
        CAST(n_types AS DOUBLE) / n_words AS ttr,
        (n_words BETWEEN 20 AND 400)
          AND (CAST(char_sum AS DOUBLE) / n_words BETWEEN 3.0 AND 8.0)
          AND n_stop >= 2
          AND (CAST(n_types AS DOUBLE) / n_words >= 0.3) AS passes
      FROM f ORDER BY doc_id""",

    "q147_curation_pipeline_v2" -> s"""
      WITH $pipelineV2Ctes
      SELECT doc_id, score, n_tokens, CAST(cum_cost AS BIGINT) AS cum_cost
      FROM b WHERE cum_cost <= 15000 ORDER BY doc_id""",

    "q164_drop_reasons" -> s"""
      WITH $pipelineV2Ctes,
      reasons AS (
        SELECT d.doc_id,
          CASE WHEN k.doc_id IS NULL THEN 'url_dup'
               WHEN pz.doc_id IS NULL THEN 'gopher_fail'
               WHEN bb.doc_id IS NULL THEN 'budget_cut'
               ELSE 'kept' END AS reason
        FROM documents d
        LEFT JOIN keep k ON k.doc_id = d.doc_id
        LEFT JOIN p pz ON pz.doc_id = d.doc_id
        LEFT JOIN (SELECT doc_id FROM b WHERE cum_cost <= 15000) bb
          ON bb.doc_id = d.doc_id)
      SELECT reason, CAST(count(*) AS BIGINT) AS n_docs
      FROM reasons GROUP BY reason ORDER BY reason""",

    "q148_domain_quota" -> s"""
      WITH u AS (
        SELECT doc_id, ${UrlFunctions.Sql.registeredExpr()} AS registered_domain
        FROM (SELECT doc_id, $urlSql AS url FROM documents)),
      t AS (
        SELECT registered_domain, doc_id,
          row_number() OVER (PARTITION BY registered_domain
            ORDER BY (doc_id * 1000003 + 17) % 1000000007, doc_id) AS rn
        FROM u)
      SELECT registered_domain, CAST(rn AS BIGINT) AS rn, doc_id
      FROM t WHERE rn <= 5 ORDER BY registered_domain, rn""",

    "q155_line_repetition" -> s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      l AS (
        SELECT doc_id, array_to_string(ts[g*10+1 : g*10+10], ' ') AS line
        FROM t, unnest(generate_series(0,
          CAST((len(ts) - 1) // 10 AS INT))) AS u(g)),
      h AS (
        SELECT doc_id,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(line, ''),
              x -> CAST(unicode(x) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % ${graft.operators.Dedup.M}) AS lid,
          CAST(length(line) AS BIGINT) AS len
        FROM l),
      g AS (
        SELECT doc_id, lid, CAST(count(*) AS BIGINT) AS c,
          max(len) AS len
        FROM h GROUP BY 1, 2),
      a AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
          CAST(sum(c - 1) AS BIGINT) AS n_dup_lines,
          CAST(sum((c - 1) * len) AS BIGINT) AS dupch,
          CAST(sum(c * len) AS BIGINT) AS ch
        FROM g GROUP BY 1)
      SELECT doc_id, n_lines, n_dup_lines,
        CAST(n_dup_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) AS dup_line_frac,
        CAST(dupch AS DOUBLE) / CAST(ch AS DOUBLE) AS dup_char_frac
      FROM a ORDER BY doc_id""",

    "q162_gate_ablation" -> s"""
      WITH w AS (
        SELECT string_split(text, ' ') AS ws,
          CAST(length(text) AS BIGINT) AS len
        FROM documents),
      f AS (
        SELECT
          CASE WHEN CAST(len(ws) AS BIGINT) BETWEEN 20 AND 400
            THEN 'pass' ELSE 'fail' END AS f_words,
          CASE WHEN CAST(len - (CAST(len(ws) AS BIGINT) - 1) AS DOUBLE)
              / CAST(len(ws) AS BIGINT) BETWEEN 3.0 AND 8.0
            THEN 'pass' ELSE 'fail' END AS f_wlen,
          CASE WHEN CAST(len(list_filter(ws, x -> x IN (${StopWords.map(sw => s"'$sw'").mkString(", ")}))) AS BIGINT) >= 2
            THEN 'pass' ELSE 'fail' END AS f_stop,
          CASE WHEN CAST(len(list_distinct(ws)) AS DOUBLE)
              / CAST(len(ws) AS BIGINT) >= 0.3
            THEN 'pass' ELSE 'fail' END AS f_ttr
        FROM w)
      SELECT coalesce(f_words, 'ALL') AS f_words,
        coalesce(f_wlen, 'ALL') AS f_wlen,
        coalesce(f_stop, 'ALL') AS f_stop,
        coalesce(f_ttr, 'ALL') AS f_ttr,
        CAST(count(*) AS BIGINT) AS n_docs
      FROM f GROUP BY CUBE (f_words, f_wlen, f_stop, f_ttr)
      ORDER BY 1, 2, 3, 4""",

    "q158_token_drift" -> """
      WITH a AS (
        SELECT CASE WHEN doc_id % 10 = 7 THEN text || ' v1' ELSE text END AS text
        FROM documents WHERE doc_id % 10 <> 9
        UNION ALL
        SELECT text FROM documents WHERE doc_id % 10 = 3),
      tagged AS (
        SELECT unnest(string_split(text, ' ')) AS tok, 1 AS o, 0 AS n FROM a
        UNION ALL
        SELECT unnest(string_split(text, ' ')) AS tok, 0 AS o, 1 AS n
        FROM documents),
      counts AS (
        SELECT tok, CAST(sum(o) AS BIGINT) AS cnt_old,
          CAST(sum(n) AS BIGINT) AS cnt_new
        FROM tagged GROUP BY tok),
      tt AS (
        SELECT CAST(sum(cnt_old) AS BIGINT) AS ato,
          CAST(sum(cnt_new) AS BIGINT) AS atn
        FROM counts),
      pd AS (
        SELECT tok, cnt_old, cnt_new,
          (1000000 * cnt_old) // greatest(ato, 1) AS ppm_old,
          (1000000 * cnt_new) // greatest(atn, 1) AS ppm_new,
          (1000000 * cnt_new) // greatest(atn, 1)
            - (1000000 * cnt_old) // greatest(ato, 1) AS ppm_diff
        FROM counts CROSS JOIN tt),
      l1 AS (SELECT CAST(sum(abs(ppm_diff)) AS BIGINT) AS l1_drift_ppm FROM pd)
      SELECT tok, cnt_old, cnt_new, CAST(ppm_old AS BIGINT) AS ppm_old,
        CAST(ppm_new AS BIGINT) AS ppm_new,
        CAST(ppm_diff AS BIGINT) AS ppm_diff, l1_drift_ppm
      FROM (SELECT * FROM pd ORDER BY abs(ppm_diff) DESC, tok ASC LIMIT 20)
      CROSS JOIN l1
      ORDER BY abs(ppm_diff) DESC, tok ASC""",

    "q149_snapshot_diff" -> """
      WITH a AS (
        SELECT doc_id,
          md5(CASE WHEN doc_id % 10 = 7 THEN text || ' v1' ELSE text END) AS old_fp
        FROM documents WHERE doc_id % 10 <> 9
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id, md5(text) AS old_fp
        FROM documents WHERE doc_id % 10 = 3),
      b AS (SELECT doc_id, md5(text) AS new_fp FROM documents),
      d AS (
        SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, a.old_fp, b.new_fp
        FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
      SELECT doc_id,
        CASE WHEN old_fp IS NULL THEN 'added'
             WHEN new_fp IS NULL THEN 'removed'
             WHEN old_fp = new_fp THEN 'unchanged'
             ELSE 'changed' END AS status,
        old_fp, new_fp
      FROM d ORDER BY doc_id""")
}
