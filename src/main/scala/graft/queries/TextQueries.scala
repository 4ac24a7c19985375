package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.{Dedup, LmScore, Packing, Percentiles, RankFusion, Retrieval, Sampling, Vocab}
import graft.runtime.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis inventory over the documents table (SURVEY.md §2 B17 +
  * the training-data-pipeline ops): token statistics, quality scoring,
  * language-ID heuristic, and positional document fingerprinting.
  * Everything is expression-only (no UDFs) and DuckDB-oracle-checked.
  */
object TextQueries extends QueryGroup {

  /** Fixed stopword list shared with the oracle SQL. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")
  private val StopwordsSql = Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** q138's synthesized-PII input, shared by both dialects (the corpus
    * itself contains no PII, so the redactor would be trivially green on
    * the raw text): a deterministic per-doc email, phone and dotted-quad
    * appended to the text, with every 5th email invalid (bare `@invalid`,
    * no TLD) so the non-match path is exercised too. `cast` is the
    * dialect's string type name — STRING for Spark, VARCHAR for DuckDB;
    * every other construct parses identically in both.
    */
  private[queries] def piiRawExpr(cast: String): String =
    s"concat(text, ' contact user', CAST(doc_id AS $cast), " +
      s"CASE WHEN doc_id % 5 = 0 THEN '@invalid' " +
      s"ELSE concat('@mail', CAST(doc_id % 7 AS $cast), '.example.com') END, " +
      s"' tel 555-', lpad(CAST(doc_id % 1000 AS $cast), 3, '0'), '-', " +
      s"lpad(CAST((doc_id * 7) % 10000 AS $cast), 4, '0'), " +
      s"' ip ', CAST(doc_id % 256 AS $cast), '.', " +
      s"CAST((doc_id * 3) % 256 AS $cast), '.', " +
      s"CAST((doc_id * 5) % 256 AS $cast), '.', " +
      s"CAST((doc_id * 11) % 256 AS $cast))"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q220_script_mix" -> { (s, d) =>
      // Unicode-script composition per language (multilingual corpus
      // front door: a lang label contradicted by its script histogram
      // is mislabeled or boilerplate). One native byte pass per doc
      // (ScriptMix kernel), one bounded per-lang aggregate; latin_ppm
      // in exact integer division. This corpus is ASCII, so the
      // cyrillic/cjk columns pin the ZERO side of the ranges while the
      // kernel's multibyte decode is spec-pinned (ScriptMixSpec fuzz).
      val m = graft.functions.TextFunctions.scriptMix(col("text"))
      Tables.documents(s, d)
        .select(col("lang"), m.as("m"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("m.n_latin")).as("n_latin"),
          sum(col("m.n_cyrillic")).as("n_cyrillic"),
          sum(col("m.n_cjk")).as("n_cjk"),
          sum(col("m.n_digit")).as("n_digit"),
          sum(col("m.n_space")).as("n_space"),
          sum(col("m.n_other")).as("n_other"))
        .withColumn("latin_ppm",
          expr("n_latin * 1000000 div (n_latin + n_cyrillic + n_cjk + " +
            "n_digit + n_space + n_other)"))
        .orderBy(col("lang"))
    },

    "q133_bm25_topk" -> { (s, d) =>
      // BM25 lexical retrieval: every 97th document donates tokens 5..7
      // as a 3-term query; top-10 documents per query over the whole
      // corpus. Rational idf + scaled-integer contribution sums keep the
      // doubles bit-identical to the oracle; the cut is the bounded
      // top-k aggregate, not a per-query sort.
      val docs = Tables.documents(s, d)
      val queries = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(col("text"), " "), 5, 3), " ").as("qtext"))
      Retrieval.bm25TopK(docs, queries, "doc_id", "text", "query_id", "qtext")
        .orderBy(col("query_id"), col("rank"))
    },

    "q134_bpe_merges" -> { (s, d) =>
      // Distributed BPE tokenizer training: 10 merges learned on the
      // word-frequency table (the corpus is scanned once; iterations run
      // on the vocabulary). The oracle replays all 10 iterations —
      // pair counts, (count DESC, pair ASC) argmax, and the left-fold
      // merge application — so the hash match covers the whole loop.
      graft.operators.Bpe.learnMerges(Tables.documents(s, d), "text", 10)
        .orderBy(col("merge_rank"))
    },

    "q136_cut_bpe_pipeline" -> { (s, d) =>
      // Composition: ExactSubstr find+cut (q135) feeds BPE training
      // (q134) — the tokenizer is learned on the DEDUPLICATED corpus, as
      // a real pipeline would, so duplicated boilerplate can't dominate
      // the merge table. learnMerges checkpoints the initial pieces, so
      // the cut subplan executes once, not once per iteration.
      val docs = Tables.documents(s, d)
      val cut = graft.operators.Dedup
        .exactSubstringCut(docs, "doc_id", "text", minLen = 5)
        .select(col("doc_id"), col("cleaned_text").as("text"))
      graft.operators.Bpe.learnMerges(cut, "text", 8)
        .orderBy(col("merge_rank"))
    },

    "q137_bpe_symbol_freqs" -> { (s, d) =>
      // Corpus symbol histogram under the learned tokenizer: train 10
      // merges, then ENCODE the corpus with the native codegen'd kernel
      // (the HOF chain is its spec-pinned parity reference) and count
      // symbol occurrences weighted by word frequency — the top-20
      // table a vocabulary report starts from. Encoding replays the
      // training evolution exactly (each merge once, in rank order), so
      // the oracle reads the symbols straight off its final stage.
      val docs = Tables.documents(s, d)
      val model = graft.operators.Bpe.learnMerges(docs, "text", 10)
        .orderBy(col("merge_rank"))
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      val words = docs.select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      words
        .select(explode(split(
          graft.operators.Bpe.tokenizeNative(col("word"), model), " ")).as("sym"),
          col("cnt"))
        .groupBy(col("sym")).agg(sum(col("cnt")).as("freq"))
        .orderBy(col("freq").desc, col("sym").asc).limit(20)
    },

    "q153_doremi_weights" -> { (s, d) =>
      // DoReMi-style domain mixture reweighting (Xie et al. 2023): the
      // per-source excess OOV rate under the src0-trained bigram LM
      // (q122's model) drives three multiplicative-weights updates with
      // a 1% uniform floor. The exp() update is linearized to the
      // rational factor (scale + excess) and every step is long
      // arithmetic, so the oracle replays all three iterations
      // bit-for-bit. Corpus work: one LM-scoring pass + one combinable
      // per-source aggregate; the iteration runs on the checkpointed
      // source-sized table.
      val docs = Tables.documents(s, d)
      graft.operators.Doremi.domainWeights(docs,
          docs.filter(col("source") === "src0"), "doc_id", "text", "source",
          iters = 3)
        .orderBy(col("source"))
    },

    "q154_bpe_fertility" -> { (s, d) =>
      // Tokenizer fertility per language under the q134-trained merges:
      // symbols per word and chars per symbol — the fairness table that
      // shows which languages a skewed tokenizer over-fragments. The
      // corpus is scanned once into (lang, word, cnt); the native
      // encode then runs per DISTINCT (lang, word) pair — vocabulary-
      // sized work, no join, no vocab broadcast. The oracle re-derives
      // the same symbols from the training replay's final stage (p10).
      val docs = Tables.documents(s, d)
      val model = graft.operators.Bpe.learnMerges(docs, "text", 10)
        .orderBy(col("merge_rank"))
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Bpe.fertilityByGroup(docs, "lang", "text", model)
        .orderBy(col("lang"))
    },

    "q156_mixture_pack_pipeline" -> { (s, d) =>
      // The LM batch-prep chain end-to-end: DoReMi weights (q153) ->
      // deterministic per-doc epoch copy counts (q117's exact hash
      // gate against the weight's fractional part, capped at 8 epochs)
      // -> replicated corpus packed into 256-token bins (q121's
      // two-phase cumsum). The order key `copy * 2e9 + injective-hash`
      // is collision-free (hash < 1e9+7 < 2e9), so packing order is
      // total and the oracle replays the whole pipeline bit-for-bit.
      val docs = Tables.documents(s, d)
      val w = graft.operators.Doremi.domainWeights(docs,
          docs.filter(col("source") === "src0"), "doc_id", "text", "source",
          iters = 3)
        .select(col("source"), col("w3"))
      val k = w.select(count(lit(1)).as("__k"))
      val perDoc = docs.select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
        .join(broadcast(w), "source").crossJoin(broadcast(k))
        .withColumn("__rel", col("w3") * col("__k")) // ppm of uniform
        .withColumn("__bucket",
          (col("doc_id") * 1000003L + 17L) % 1000000007L % 1000000L)
        .withColumn("n_copies", least(expr("__rel div 1000000L") +
          when(col("__bucket") < expr("__rel % 1000000L"), 1L).otherwise(0L),
          lit(8L)))
      val rep = perDoc.filter(col("n_copies") >= 1L)
        .select(col("doc_id"), col("n_toks"),
          explode(sequence(lit(1L), col("n_copies"))).as("cp"))
        .withColumn("ord", col("cp") * 2000000000L +
          (col("doc_id") * 1000003L + 17L) % 1000000007L)
      Packing.packBins(rep, "ord", "n_toks",
          capacity = 256L, bucketWidth = 10000000L)
        .select(col("bin"), col("n_docs"), col("n_starting"), col("n_tokens"))
        .orderBy(col("bin"))
    },

    "q157_span_corruption" -> { (s, d) =>
      // T5-style span corruption (Raffel et al. 2020): hash-gated 15%
      // token masking, maximal masked runs become numbered sentinels in
      // the input, target = sentinel + original tokens. Narrow explode
      // + per-document windows (q132's gaps-and-islands convention) +
      // one reassembly aggregate — scan-speed, no joins.
      graft.operators.SpanCorrupt
        .corrupt(Tables.documents(s, d), "doc_id", "text", maskPct = 15)
        .orderBy(col("doc_id"))
    },

    "q160_corpus_datasheet" -> { (s, d) =>
      // One-row corpus datasheet (the "data card" numbers a release
      // ships with): doc/token totals, distinct tokens, exact-dup rate,
      // Gopher-gate pass rate (q144's rule), language/source counts —
      // all exact integers + ppm divisions. Shape: ONE corpus scan into
      // the (lang, source, text-hash) pre-aggregate that four bounded
      // sub-aggregates consume (exchange reuse — the q141 pattern), plus
      // one token-distinct pass. No corpus-sized EXPAND: every distinct
      // count runs on its own pre-collapsed table.
      val docs = Tables.documents(s, d)
      val gs = gopherStats(col("text"), WebQueries.StopWords)
      val passes = {
        val nW = col("__g.n_words")
        nW.between(20L, 400L) &&
          (col("__g.char_sum").cast("double") / nW).between(3.0, 8.0) &&
          col("__g.n_stop") >= 2L &&
          (col("__g.n_types").cast("double") / nW) >= 0.3
      }
      val g = docs
        .select(col("lang"), col("source"),
          Dedup.polyHash(col("text")).as("th"),
          size(split(col("text"), " ")).cast("long").as("__nt"),
          gs.as("__g"))
        .select(col("lang"), col("source"), col("th"), col("__nt"),
          when(passes, 1L).otherwise(0L).as("__gp"))
        .groupBy(col("lang"), col("source"), col("th"))
        .agg(count(lit(1)).as("n"), sum(col("__nt")).as("nt"),
          sum(col("__gp")).as("gp"))
        // Aggregate-output barrier (the q141 pattern): referencing every
        // aggregate column keeps all four consumer subtrees identical,
        // so column pruning can't specialize them into four separate
        // corpus scans and the pre-aggregate's exchange is reused.
        .filter(col("n") >= 0L && col("nt") >= 0L && col("gp") >= 0L)
      val a = g.agg(sum(col("n")).cast("long").as("n_docs"),
        sum(col("nt")).cast("long").as("n_tokens"),
        sum(col("gp")).cast("long").as("__gop"))
      val b = g.select(col("th")).distinct()
        .agg(count(lit(1)).as("n_distinct_texts"))
      val c = g.select(col("lang")).distinct().agg(count(lit(1)).as("n_langs"))
      val e = g.select(col("source")).distinct()
        .agg(count(lit(1)).as("n_sources"))
      val tk = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .distinct().agg(count(lit(1)).as("n_distinct_tokens"))
      a.crossJoin(broadcast(b)).crossJoin(broadcast(c))
        .crossJoin(broadcast(e)).crossJoin(broadcast(tk))
        .select(col("n_docs"), col("n_tokens"), col("n_distinct_tokens"),
          col("n_distinct_texts"),
          expr("(1000000L * (n_docs - n_distinct_texts)) div n_docs")
            .as("dup_doc_ppm"),
          expr("(1000000L * __gop) div n_docs").as("gopher_pass_ppm"),
          col("n_langs"), col("n_sources"))
    },

    "q259_rake_keywords" -> { (s, d) =>
      // RAKE keyword extraction (Rose et al. 2010): top-50 candidate
      // phrases (maximal content-word runs between stopword/non-alnum
      // delimiters) scored by summed word degree/frequency ratios in
      // exact floored ppm — the phrase-level complement of q75's
      // unigram TF-IDF and q227's adjacency PMI. One per-doc islands
      // window + bounded phrase/word aggregates; ties lexicographic.
      graft.operators.Keywords.rakeTopK(
        Tables.documents(s, d), "text", WebQueries.StopWords, k = 50)
    },

    "q251_readability" -> { (s, d) =>
      // Per-source readability rollup: Flesch reading ease in exact
      // floored milli-points over the vowel-group syllable proxy (runs
      // of [aeiouy]) and [.!?]+ sentence terminators — both regexes in
      // the portable Java∩RE2 subset. The per-source mean shifts
      // through +1e12 before the integer div: BOTH engines truncate
      // toward zero (DuckDB // included — measured: -7 // 2 = -3), so
      // the shift pins floor semantics on a possibly-negative Flesch
      // sum rather than enabling cross-engine agreement; DECIMAL(38,0)
      // keeps the shifted sum exact to ~1e25 docs. One narrow pass +
      // one bounded aggregate.
      val c = graft.functions.TextFunctions.readabilityCounts(col("text"))
      Tables.documents(s, d)
        .select(col("source"), c.as("c"))
        .select(col("source"),
          col("c.n_words").as("w"), col("c.n_sentences").as("st"),
          col("c.n_syllables").as("y"),
          graft.functions.TextFunctions.fleschMilli(col("c")).as("fm"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("w")).as("n_words"),
          sum(col("st")).as("n_sentences"),
          sum(col("y")).as("n_syllables"),
          expr("(sum(CAST(fm + 1000000000000 AS DECIMAL(38,0)))" +
            " div count(1) - 1000000000000)").cast("long")
            .as("mean_flesch_milli"),
          min(col("fm")).as("min_flesch_milli"),
          max(col("fm")).as("max_flesch_milli"))
        .orderBy(col("source"))
    },

    "q32_token_stats" -> { (s, d) =>
      // One native GopherStats pass replaces the three HOF kernels
      // (tokenCount + distinctTokenCount + avgTokenLength) — identical
      // semantics: n_words counts split(text, " ") spans, n_types is
      // the array_distinct cardinality, and char_sum/n_words is the
      // same sum-of-token-lengths / count division the HOF fold
      // computed (the r7 HOF-audit swap; HOF forms stay in
      // TextFunctions as parity references).
      val gs = gopherStats(col("text"), Seq.empty)
      Tables.documents(s, d)
        .select(col("doc_id"), gs.as("g"),
          length(col("text")).cast("long").as("n_chars_computed"))
        .select(col("doc_id"),
          col("g.n_words").as("n_tokens"),
          col("g.n_types").as("n_distinct"),
          (col("g.char_sum").cast("double") / col("g.n_words"))
            .as("avg_token_len"),
          col("n_chars_computed"))
        .orderBy(col("doc_id"))
    },

    "q33_quality_score" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          stopwordRatio(col("text"), Stopwords).as("stopword_ratio"),
          punctRatio(col("text")).as("punct_ratio"),
          qualityScore(col("text"), Stopwords).as("quality"))
        .orderBy(col("doc_id"))
    },

    "q293_frequency_spectrum" -> { (s, d) =>
      // 4-gram frequency-of-frequencies census (B120, Good & Turing
      // 1953): types occurring exactly r times, r = 1..10 + open tail.
      // The r = 1 token share IS the Good-Turing unseen mass N1/N —
      // the OOV-budget number vocab sizing starts from — and the
      // non-hapax 4-gram mass is the template/boilerplate signal (the
      // unigram spectrum saturates on this corpus's 31-word shared
      // vocabulary; the 4-gram one fills all 11 buckets at sf1). One
      // tokenize pass, one vocabulary-bounded rollup.
      graft.operators.Vocab.frequencySpectrum(
        Tables.documents(s, d), "text", n = 4)
        .orderBy(col("r_bucket"))
    },

    "q290_gate_agreement" -> { (s, d) =>
      // Cohen's kappa redundancy audit (B117) between two cheap quality
      // gates — length (n_chars >= 300) vs stopword profile
      // (ratio >= 0.15) — per source: two lenient gates agree mostly by
      // CHANCE, and kappa is what says whether the second gate adds
      // information (1 redundant, 0 independent, < 0 systematic
      // disagreement). One corpus aggregate to the (source x 2 x 2)
      // contingency table; every term derives from that bounded table.
      val ratio = stopwordRatio(col("text"), Stopwords)
      val gated = Tables.documents(s, d)
        .filter(col("source").isNotNull)
        .select(col("source"),
          (col("n_chars") >= 300).as("long_doc"),
          (ratio >= 0.15).as("stopwordy"))
      graft.operators.Agreement.cohenKappa(gated, "long_doc",
          "stopwordy", Seq("source"))
        .orderBy(col("source"))
    },

    "q264_lang_confusion" -> { (s, d) =>
      // Confusion census of the q34 heuristic language ID against the
      // labeled lang column — the classifier-audit rollup (which label
      // pairs confuse, at what rate). One narrow scoring pass + one
      // bounded (labels x predictions) aggregate with per-cell exact
      // row ppm.
      val ratio = stopwordRatio(col("text"), Stopwords)
      val scored = Tables.documents(s, d)
        .filter(col("lang").isNotNull)
        .select(col("lang").as("labeled_lang"),
          when(ratio >= 0.15, lit("en"))
            .when(ratio >= 0.05, lit("mixed"))
            .otherwise(lit("other")).as("predicted_lang"))
      scored.groupBy(col("labeled_lang"), col("predicted_lang"))
        .agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(scored.agg(count(lit(1)).as("__tot"))))
        .select(col("labeled_lang"), col("predicted_lang"), col("n"),
          expr("(n * 1000000L) div __tot").as("cell_ppm"))
        .orderBy(col("labeled_lang"), col("predicted_lang"))
    },

    "q34_lang_id" -> { (s, d) =>
      // Heuristic language ID: stopword-profile score. (The synthetic corpus
      // uses one shared vocabulary, so this demonstrates the operator shape,
      // not linguistics.) Deterministic and oracle-checkable.
      val ratio = stopwordRatio(col("text"), Stopwords)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang").as("labeled_lang"),
          when(ratio >= 0.15, lit("en"))
            .when(ratio >= 0.05, lit("mixed"))
            .otherwise(lit("other")).as("predicted_lang"))
        .orderBy(col("doc_id"))
    },

    "q35_fingerprint" -> { (s, d) =>
      // Positional fingerprint over the deterministic token-id dictionary:
      // fp = sum(tid * pos) mod P, pos 1-based. A content+order-sensitive
      // hash whose every step is exact integer math (engine-portable).
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos0", "tok")))
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("tok"))
      val vocab = toks.select(col("tok")).distinct()
        .withColumn("tid", row_number().over(Window.orderBy(col("tok"))).cast("long"))
      toks.join(broadcast(vocab), "tok")
        .groupBy(col("doc_id"))
        .agg((sum(col("tid") * col("pos")) % Dedup.P).as("fingerprint"),
          count(lit(1)).as("n_tokens"))
        .orderBy(col("doc_id"))
    },

    "q79_repetition" -> { (s, d) =>
      // Within-document repetition signals (the Gopher-style quality
      // filters): duplicate 3-gram fraction and the most-frequent token's
      // coverage. Both are RELATIONAL (explode + aggregates over
      // content-hashed shingle ids) — a per-row array_distinct over
      // shingle strings is O(len²) string compares, the exact pathology
      // the dedup stack documents. Exact ratio arithmetic throughout, so
      // DuckDB replays it bit-for-bit.
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("tok"))
      val top = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_toks"))
      val ids = Dedup.shingleIdsPoly(docs, "doc_id", "text", distinct = false)
      val shStats = ids.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sh"), countDistinct(col("tid")).as("n_dist"))
      docs.select(col("doc_id"))
        .join(shStats, Seq("doc_id"), "left") // < k-token docs have no shingles
        .join(top, "doc_id")
        .select(col("doc_id"),
          coalesce(lit(1.0) - col("n_dist").cast("double") / col("n_sh"),
            lit(0.0)).as("dup_3gram_frac"),
          (col("top_c").cast("double") / col("n_toks")).as("top_token_frac"),
          col("top_c").cast("long").as("top_c"))
        .orderBy(col("doc_id"))
    },

    "q78_winnowing" -> { (s, d) =>
      // Winnowing fingerprint sets (MOSS scheme) — partial-overlap
      // detection; oracle replays the shingle hashing + windowed min in
      // SQL. Sorted for deterministic hashing.
      Dedup.winnowingFingerprints(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"), col("fingerprint"))
    },

    "q77_bpe_tokens" -> { (s, d) =>
      // BPE-ish pretoken counting next to the whitespace count — the
      // token statistic an LLM-training cost estimate wants. The regex is
      // the portable Java∩RE2 subset so DuckDB replays it exactly.
      val bpe = bpeTokenCount(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          tokenCount(col("text")).cast("long").as("n_ws"),
          bpe.cast("long").as("n_bpe"),
          (length(col("text")).cast("double") /
            greatest(bpe, lit(1))).as("chars_per_tok"))
        .orderBy(col("doc_id"))
    },

    "q84_chunk_dedup" -> { (s, d) =>
      // Chunk-level exact dedup (the C4/RefinedWeb passage-dedup shape):
      // split each document into non-overlapping 16-token chunks, keep only
      // the first corpus-wide occurrence of each chunk (ordered by doc_id,
      // then position), and report per-document retention. The chunk build
      // is narrow per-row work; the only shuffle is the first-occurrence
      // window keyed on the chunk — at corpus scale that key would be
      // xxhash64(chunk) (same plan, 8-byte shuffle rows); the raw string is
      // kept here so DuckDB replays the query exactly.
      val C = 16
      val toks = split(col("text"), " ")
      val chunked = Tables.documents(s, d).select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), ((size(toks) - 1) / lit(C)).cast("int")),
          i => concat_ws(" ", slice(toks, i * C + 1, lit(C)))))
          .as(Seq("chunk_idx", "chunk")))
      val marked = chunked.withColumn("keep",
        (row_number().over(Window.partitionBy(col("chunk"))
          .orderBy(col("doc_id"), col("chunk_idx"))) === 1).cast("int"))
      marked.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("keep")).cast("long").as("kept_chunks"))
        .withColumn("retained_frac",
          col("kept_chunks").cast("double") / col("n_chunks"))
        .orderBy(col("doc_id"))
    },

    "q88_inverted_index" -> { (s, d) =>
      // Inverted-index build: term -> document frequency + the first 10
      // postings. The posting list is bounded BEFORE collection via the
      // bounded top-k aggregate (map-side combined, at most k ids per term
      // per partition cross the shuffle) — collect_list over raw postings
      // would buffer unbounded lists per term at corpus scale.
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "").distinct()
      val dfreq = toks.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val posts = graft.operators.TopK
        .perGroupAgg(toks, Seq("term"), -col("doc_id"), col("doc_id"), 10)
        .groupBy(col("term"))
        .agg(array_join(transform(sort_array(collect_list(col("id"))),
          _.cast("string")), ",").as("postings"))
      dfreq.join(posts, "term")
        .select(col("term"), col("df"), col("postings"))
        .orderBy(col("term"))
    },

    "q91_token_gini" -> { (s, d) =>
      // Per-source token concentration: Gini impurity 1 - sum(c^2)/N^2 of
      // the term-count distribution — a rational-arithmetic diversity
      // signal (no logs, so DuckDB computes it bit-identically; the
      // entropy variant needs ln and would break float parity). Two
      // aggregations, both keyed small (source x term, then source).
      val toks = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
      toks.groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_terms"),
          sum(col("c") * col("c")).as("sumsq"))
        .select(col("source"), col("n_tokens"), col("n_terms"),
          (lit(1.0) - col("sumsq").cast("double") /
            (col("n_tokens") * col("n_tokens")).cast("double")).as("gini"))
        .orderBy(col("source"))
    },

    "q108_heavy_hitters" -> { (s, d) =>
      // Heavy hitters, the scale pattern: Misra-Gries candidates (k=64 →
      // any token with freq > n/65 is provably in the summary), then an
      // exact recount of ONLY the candidates, thresholded at c·50 > n —
      // above the MG guarantee line, so the two-phase result is EXACT and
      // the oracle is a plain GROUP BY/HAVING. At corpus scale phase 1
      // ships one 64-entry buffer per partition instead of the full
      // n-gram vocabulary, and phase 2 aggregates ≤ 64 keys. The corpus
      // total joins in-plan as a broadcast 1-row aggregate (no eager
      // driver-side count(): the whole query is one job).
      val toks = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val total = toks.agg(count(lit(1)).as("n"))
      val cands = graft.operators.TopK.frequentItems(toks, col("tok"), 64)
        .select(col("item").as("tok"))
      toks.join(broadcast(cands), "tok")
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .crossJoin(broadcast(total))
        .filter(col("c") * 50 > col("n"))
        .select(col("tok"), col("c"))
        .orderBy(col("tok"))
    },

    "q109_group_heavy_hitters" -> { (s, d) =>
      // Per-group heavy hitters: the Misra-Gries summary as a GROUPED
      // aggregate (one bounded buffer per source per map partition),
      // then exact recount of only the per-group candidates, thresholded
      // at c·50 > group_total — above the per-group n/65 guarantee, so
      // the result is exact and the oracle a plain grouped HAVING.
      val toks = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val cands = graft.operators.TopK
        .frequentItemsPerGroup(toks, Seq("source"), col("tok"), 64)
        .select(col("source"), col("item").as("tok"))
      val totals = toks.groupBy(col("source")).agg(count(lit(1)).as("gn"))
      toks.join(broadcast(cands), Seq("source", "tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
        .join(broadcast(totals), "source")
        .filter(col("c") * 50 > col("gn"))
        .select(col("source"), col("tok"), col("c"))
        .orderBy(col("source"), col("tok"))
    },

    "q112_text_clean" -> { (s, d) =>
      // Cleaning pipeline (the CCNet/C4 normalization shape): stopword
      // removal + consecutive-duplicate-token collapse, emitting the
      // cleaned text plus retention stats. Entirely narrow array kernels —
      // zero shuffles besides the deterministic output sort — so at 100 TB
      // this is pure map-side work that scales with input splits. The
      // collapse uses the indexed filter HOF against the previous element
      // (guarded CASE, no out-of-bounds access under ANSI mode).
      val toks = split(col("text"), " ")
      Tables.documents(s, d)
        .withColumn("__ns", filter(toks, t => !t.isin(Stopwords: _*)))
        .select(col("doc_id"),
          array_join(filter(col("__ns"), (t, i) =>
            when(i === 0, lit(true)).otherwise(t =!= get(col("__ns"), i - 1))),
            " ").as("cleaned_text"),
          size(toks).cast("long").as("n_orig"),
          size(filter(col("__ns"), (t, i) =>
            when(i === 0, lit(true)).otherwise(t =!= get(col("__ns"), i - 1))))
            .cast("long").as("n_clean"))
        .withColumn("removed_frac",
          (col("n_orig") - col("n_clean")).cast("double") / col("n_orig"))
        .orderBy(col("doc_id"))
    },

    "q115_text_clean_native" -> { (s, d) =>
      // q112's cleaning pipeline on the fused native kernel (the
      // q37-vs-q67 pairing): CleanTokens walks the UTF-8 bytes once inside
      // whole-stage codegen, where the HOF chain interprets two lambdas
      // per token and materializes both intermediate arrays. Same oracle
      // SQL as q112 — the driver hash-checks the two plans agree.
      val toks = split(col("text"), " ")
      Tables.documents(s, d)
        .select(col("doc_id"),
          cleanTokens(col("text"), Stopwords).as("cleaned_text"),
          size(toks).cast("long").as("n_orig"),
          cleanTokensCount(col("text"), Stopwords).cast("long").as("n_clean"))
        .withColumn("removed_frac",
          (col("n_orig") - col("n_clean")).cast("double") / col("n_orig"))
        .orderBy(col("doc_id"))
    },

    "q138_pii_scrub" -> { (s, d) =>
      // PII redaction (the pre-training privacy-compliance pass): the
      // native byte-level kernel replaces emails, dotted-quad IPs and
      // dashed phones with markers in one codegen'd projection — purely
      // narrow map-side work, so at 100 TB it scales with input splits
      // exactly like q115. The DuckDB oracle replays the same three
      // passes as RE2 global regexp_replace (PiiScrubSpec fuzz-pins the
      // kernel byte-equal to the Java-regex formulation; both regex
      // disciplines pick identical matches for these patterns).
      Tables.documents(s, d)
        .withColumn("raw", expr(piiRawExpr("STRING")))
        .select(col("doc_id"), piiScrub(col("raw")).as("scrubbed"))
        .select(col("doc_id"), col("scrubbed"),
          (size(split(col("scrubbed"), "<EMAIL>")) - 1).cast("long").as("n_email"),
          (size(split(col("scrubbed"), "<IP>")) - 1).cast("long").as("n_ip"),
          (size(split(col("scrubbed"), "<PHONE>")) - 1).cast("long").as("n_phone"))
        .orderBy(col("doc_id"))
    },

    "q140_quality_classifier" -> { (s, d) =>
      // Linear quality classifier over hashed bag-of-token features (the
      // fastText-style filter of the CCNet/C4 pipelines): feature bucket
      // = poly_hash(token) % 1024, weight = a fixed integer mix of the
      // bucket (the stand-in for a pretrained weight vector — integer so
      // the per-doc sum is order-free), logit = score / n_tokens. The
      // whole scorer is one narrow per-row fold: no explode, no model
      // join, no shuffle — at 100 TB it scales with input splits. The
      // oracle replays the nested fold (polyhash inner, weight-sum
      // outer) via list_reduce.
      val toks = split(col("text"), " ")
      Tables.documents(s, d).select(col("doc_id"),
          hashedFeatureScore(col("text")).as("quality_score"),
          size(toks).cast("long").as("n_tokens"))
        .withColumn("q_logit",
          col("quality_score").cast("double") / col("n_tokens"))
        .withColumn("label", col("quality_score") > 0)
        .orderBy(col("doc_id"))
    },

    "q146_ccnet_buckets" -> { (s, d) =>
      // CCNet's head/middle/tail split: per-LANGUAGE perplexity terciles
      // of the bigram-LM score (q122's scorer), docs bucketed against
      // the broadcast thresholds. The tercile boundaries come from the
      // distributed PERCENTILE_DISC machinery — no per-lang windows, so
      // a 100 TB lang partition never funnels to one task; the bucket
      // assignment is a broadcast join + two comparisons.
      val docs = Tables.documents(s, d)
      // The LM scoring pass feeds BOTH the tercile computation and the
      // final bucket assignment — localCheckpoint the narrow (doc_id,
      // lang, avg_score) table so the corpus-sized scoring (explode +
      // model joins) runs once, not twice (q119's edge-list trick; the
      // checkpoint is 3 columns/row, far cheaper than a second scan).
      val scored = docs.select(col("doc_id"), col("lang"))
        .join(LmScore.bigramScores(docs,
            docs.filter(col("source") === "src0"), "doc_id", "text")
          .select(col("doc_id"), col("avg_score")), "doc_id")
        .transform(Materialize.seam)
      val th = Percentiles.percentileDisc(scored, "lang", "avg_score",
          Seq(1.0 / 3, 2.0 / 3))
        .groupBy(col("lang")).agg(
          max(when(col("p") === 1.0 / 3, col("value"))).as("t1"),
          max(when(col("p") === 2.0 / 3, col("value"))).as("t2"))
      scored.join(broadcast(th), "lang")
        .withColumn("bucket",
          when(col("avg_score") > col("t2"), lit("head"))
            .when(col("avg_score") > col("t1"), lit("middle"))
            .otherwise(lit("tail")))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("avg_score")).as("lo_score"),
          max(col("avg_score")).as("hi_score"))
        .orderBy(col("lang"), col("bucket"))
    },

    "q145_token_budget" -> { (s, d) =>
      // Budgeted data selection: q140's hashed-feature quality score
      // ranks the corpus, and Budget.takeByBudget keeps the head until
      // 10k tokens — the two-phase bucket prefix sum, so no task ever
      // sees a global order over the corpus. The oracle replays the
      // naive single-window form; matching it exactly is the proof the
      // decomposition is lossless.
      val toks = split(col("text"), " ")
      val scored = Tables.documents(s, d).select(col("doc_id"),
        hashedFeatureScore(col("text")).as("score"),
        size(toks).cast("long").as("n_tokens"))
      graft.operators.Budget.takeByBudget(scored, "doc_id", "score",
          "n_tokens", budget = 10000L)
        .orderBy(col("doc_id"))
    },

    "q141_dsir_importance" -> { (s, d) =>
      // DSIR-style data selection: raw docs scored by hashed-bigram
      // similarity to the doc_id%50 target slice (the same gate the
      // decontamination bench uses). Rational per-gram ratios floored to
      // integers before the per-doc sum — order-free, oracle-exact; the
      // bucket model is bounded at 4096 rows so its broadcast is guarded
      // by construction.
      graft.operators.Dsir.importanceScores(Tables.documents(s, d),
          "doc_id", "text", targetPred = col("doc_id") % 50 === 0)
        .orderBy(col("doc_id"))
    },

    "q278_greedy_coverage" -> { (s, d) =>
      // Submodular pilot-set selection (B107): 5 greedy rounds picking
      // the documents that together cover the most distinct vocabulary
      // (facility-location greedy, Nemhauser 1978's (1-1/e) bound) —
      // the selector for tokenizer warmup / eval seeds where random
      // sampling picks near-duplicates of each other. k corpus passes
      // (k bounded); the seen vocabulary stays selection-bounded and
      // broadcasts; argmax is one combinable struct-max.
      graft.operators.Coverage.greedySelect(
        Tables.documents(s, d), "doc_id", "text", k = 5)
    },

    "q280_stochastic_coverage" -> { (s, d) =>
      // The 100 TB relaxation of q278 (Mirzasoleiman 2015 stochastic
      // greedy): each round evaluates gains only on a 40% HASH-GATED
      // subsample of the remaining pool (the q98 portable gate keyed by
      // round, engine-replayable), picks the subsample argmax. Expected
      // coverage within (1 − 1/e − ε) of optimal, ε = exp(−k·pct/100)
      // ≈ 0.14 here; per-round cost drops to the gated fraction. Same
      // output contract as q278; CoverageSpec pins the quality ratio
      // against exact greedy on a fixture.
      graft.operators.Coverage.stochasticGreedySelect(
        Tables.documents(s, d), "doc_id", "text", k = 5, samplePct = 40)
    },

    "q271_quantile_normalize" -> { (s, d) =>
      // Cross-source quantile normalization (B100): map each source's
      // token-count distribution onto the GLOBAL one — after it, a
      // length threshold means the same thing in every source (the
      // calibration step score fusion and quota design assume). Exact
      // integer midrank/PERCENTILE_DISC contract; value tables bounded
      // by the signal's cardinality; rank→value probe via the q221
      // broadcast interval lookup.
      val toks = Tables.documents(s, d)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
      graft.operators.Calibrate.quantileNormalize(toks, "source", "n_toks")
        .orderBy(col("source"), col("n_toks"))
    },

    "q113_sliding_chunks" -> { (s, d) =>
      // Overlapping sliding-window chunker (the RAG / context-window prep
      // shape): size-32 chunks at stride 24, one output row per chunk with
      // its 1-based token span. Chunk construction is narrow per-row array
      // work (same kernel family as q84's non-overlapping variant); output
      // rows ~ len/stride per doc, so the fan-out is a constant factor of
      // the corpus, not quadratic.
      val C = 32; val S = 24
      val toks = split(col("text"), " ")
      Tables.documents(s, d)
        .select(col("doc_id"), size(toks).as("__len"),
          posexplode(transform(
            sequence(lit(0), ((size(toks) - 1) / lit(S)).cast("int")),
            i => concat_ws(" ", slice(toks, i * S + 1, lit(C)))))
            .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          (col("chunk_idx") * S + 1).cast("long").as("token_start"),
          least(lit(C), col("__len") - col("chunk_idx") * S)
            .cast("long").as("n_chunk_tokens"),
          col("chunk"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    "q114_sampling_weights" -> { (s, d) =>
      // Temperature-based source mixture weights (the multilingual
      // alpha-sampling scheme, alpha = 0.5): p_target ∝ sqrt(n_tokens),
      // sample_weight = the per-source duplication factor that reshapes the
      // natural token distribution into the target. Token counts come from
      // a narrow per-row size(filter(split)) — no explode, one tiny
      // source-keyed agg. Determinism note: the sqrt weights are summed as
      // scaled integers (floor(sqrt·1e6)) because a float sum's value
      // depends on reduction order — integer sums are order-independent,
      // so both engines derive bit-identical doubles downstream.
      val nToks = sum(size(filter(split(col("text"), " "), t => t =!= "")))
      val perSrc = Tables.documents(s, d)
        .groupBy(col("source")).agg(nToks.cast("long").as("n_tokens"))
        .withColumn("__rt",
          floor(sqrt(col("n_tokens").cast("double")) * lit(1000000.0)).cast("long"))
      val tot = perSrc.agg(sum(col("n_tokens")).as("__n"), sum(col("__rt")).as("__rsum"))
      perSrc.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"),
          (col("n_tokens").cast("double") / col("__n")).as("p_natural"),
          (col("__rt").cast("double") / col("__rsum")).as("p_target"),
          ((col("__rt").cast("double") / col("__rsum")) *
            (col("__n").cast("double") / col("n_tokens"))).as("sample_weight"))
        .orderBy(col("source"))
    },

    "q117_mixture_apply" -> { (s, d) =>
      // Applying q114's mixture weights: deterministic per-document copy
      // counts — floor(w) guaranteed copies plus one more iff the doc's
      // portable hash bucket clears the fractional part (q98's hash gate,
      // so the realized mixture converges to the target with no RNG and is
      // stable under re-runs and repartitioning). The weight table is
      // source-sized and broadcast; the corpus side stays narrow.
      val nToks = sum(size(filter(split(col("text"), " "), t => t =!= "")))
      val perSrc = Tables.documents(s, d)
        .groupBy(col("source")).agg(nToks.cast("long").as("n_tokens"))
        .withColumn("__rt",
          floor(sqrt(col("n_tokens").cast("double")) * lit(1000000.0)).cast("long"))
      val tot = perSrc.agg(sum(col("n_tokens")).as("__n"), sum(col("__rt")).as("__rsum"))
      val w = perSrc.crossJoin(broadcast(tot))
        .select(col("source"),
          ((col("__rt").cast("double") / col("__rsum")) *
            (col("__n").cast("double") / col("n_tokens"))).as("__w"))
      val bucket = (col("doc_id") * 1000003L + 17L) % 1000000007L % 1000000L
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .join(broadcast(w), "source")
        .select(col("doc_id"), col("source"),
          (floor(col("__w")) + when(bucket <
            floor((col("__w") - floor(col("__w"))) * lit(1000000.0)).cast("long"),
            1).otherwise(0)).cast("long").as("n_copies"))
        .orderBy(col("doc_id"))
    },

    "q171_packing_efficiency" -> { (s, d) =>
      // Capacity-tuning report over q121's token stream: bins, fill
      // fraction, and boundary-straddling documents for three candidate
      // sequence lengths, all derived from ONE packPositions pass
      // (start offsets are capacity-independent).
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
      Packing.efficiencyReport(docs, "doc_id", "n_toks",
          Seq(128L, 256L, 512L), bucketWidth = 100L)
        .orderBy(col("capacity"))
    },

    "q121_seq_pack" -> { (s, d) =>
      // Sequence packing ("concat and chunk", the padding-free LM batch
      // prep): documents concatenated in doc_id order, the token stream
      // cut into 256-token bins. Per-bin fill stats; every bin except the
      // last holds exactly 256 tokens (invariant pinned in PackingSpec).
      // The global offset comes from Packing's two-phase cumsum — only
      // BUCKET TOTALS ever cross a single partition.
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
      Packing.packBins(docs, "doc_id", "n_toks",
          capacity = 256L, bucketWidth = 100L)
        .select(col("bin"), col("n_docs"), col("n_starting"), col("n_tokens"))
        .orderBy(col("bin"))
    },

    "q186_packing_spans" -> { (s, d) =>
      // The packed batch's ATTENTION-MASK metadata: per bin, the ordered
      // (doc, start, len) spans — what a trainer needs to build the
      // block-diagonal mask so packed documents don't attend across
      // boundaries (the detail q121's fill stats abstract away; every
      // packing consumer re-derives exactly this table). Same two-phase
      // cumsum; the span explode is narrow (a doc emits one row per bin
      // it touches, ≥ 1, bounded by ceil(n/capacity) + 1).
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
      Packing.packPositions(docs, "doc_id", "n_toks",
          capacity = 256L, bucketWidth = 100L)
        .filter(col("n_tokens") > 0L)
        .select(col("doc_id"), col("n_tokens"), col("start_off"),
          explode(sequence(expr("start_off div 256"),
            expr("(start_off + n_tokens - 1) div 256"))).as("bin"))
        .select(col("bin"), col("doc_id"),
          greatest(col("start_off") - col("bin") * 256L, lit(0L))
            .as("start_in_bin"),
          (least(col("start_off") + col("n_tokens"), (col("bin") + 1L) * 256L)
            - greatest(col("start_off"), col("bin") * 256L)).as("len_in_bin"))
        .orderBy(col("bin"), col("start_in_bin"))
    },

    "q189_weighted_sample" -> { (s, d) =>
      // Deterministic weighted sampling per source (the E-S reservoir
      // scheme with the portable RATIONAL priority h div w): 5 docs per
      // source, weighted by token count — the audit/pilot sample that is
      // re-run and repartition stable. The per-group cut is the
      // k-bounded heap, so a mega-source collapses map-side; the weight
      // join-back touches only the broadcast sample.
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
      Sampling.weightedSample(docs, Seq("source"), "doc_id", "n_toks", k = 5)
        .orderBy(col("source"), col("rn"))
    },

    "q190_pack_whole_docs" -> { (s, d) =>
      // Document-preserving packing (no doc ever splits across bins —
      // the SFT/instruction-tuning packing mode): harmonic size classes,
      // k docs per bin in class k, cumsum chunking for the small-doc
      // tail. Every bin total <= 64 by construction; assignment is pure
      // parallel arithmetic (two-phase per class), unlike the inherently
      // sequential first-fit-decreasing heuristic it approximates.
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
      Packing.packWhole(docs, "doc_id", "n_toks", capacity = 64L, m = 4,
          bucketWidth = 100L)
        .orderBy(col("doc_id"))
    },

    "q191_borda_fusion" -> { (s, d) =>
      // Rank-fusion quality ensembling (Borda): the hashed-feature
      // classifier score (q140) and the backoff-LM integer score sum
      // (q173) fused by summing GLOBAL ranks — scale-free, outlier
      // robust. Each global rank is the two-phase bucket cumsum (only
      // bucket totals cross one partition), never a global-order window.
      val docs = Tables.documents(s, d)
      val lm = LmScore.stupidBackoffScores(docs,
          docs.filter(col("source") === "src0"), "doc_id", "text")
        .select(col("doc_id"), col("score_sum"))
      // borda's two rank stages each consume the scored frame twice
      // (in-bucket window + bucket totals) — localCheckpoint the NARROW
      // (doc_id, 2 scores) table so the LM fit runs once, not 4x (the
      // q182 twice-consumed-subtree rule; measured 3.2 -> ~1.9 s)
      val scored = docs
        .select(col("doc_id"),
          hashedFeatureScore(col("text")).as("feat_score"))
        .join(lm, "doc_id")
        .transform(Materialize.seam)
      RankFusion.borda(scored, "doc_id", Seq("feat_score", "score_sum"),
          bucketWidth = 1000L)
        .orderBy(col("doc_id"))
    },

    "q193_select_pack_pipeline" -> { (s, d) =>
      // Selection-to-batch pipeline: Borda-fuse two scorers (q191) ->
      // keep the best documents under a 12k-token budget in fused order
      // (q145's two-phase running cost, no global window) -> pack the
      // SURVIVORS whole into 64-token bins (q190's harmonic classes).
      // The "score, pick the best B tokens, lay out batches" flow end to
      // end, every stage the scale shape its standalone query pins.
      val docs = Tables.documents(s, d)
      val lm = LmScore.stupidBackoffScores(docs,
          docs.filter(col("source") === "src0"), "doc_id", "text")
        .select(col("doc_id"), col("score_sum"))
      // the scored frame feeds borda's four two-phase branches AND the
      // n_toks cost join; the budget stage consumes ITS input twice
      // more. localCheckpoint the narrow seams (scored: 4 longs/row;
      // sel: the budget-bounded keep set) so the LM fit and the fusion
      // each run once — the q182 twice-consumed-subtree rule (measured
      // 9.8 -> ~3 s at sf0.1)
      val scored = docs
        .select(col("doc_id"),
          hashedFeatureScore(col("text")).as("feat_score"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
        .join(lm, "doc_id")
        .transform(Materialize.seam)
      val fused = RankFusion.borda(
        scored.select(col("doc_id"), col("feat_score"), col("score_sum")),
        "doc_id", Seq("feat_score", "score_sum"), bucketWidth = 1000L)
      val sel = graft.operators.Budget.takeByBudget(
        fused.join(scored.select(col("doc_id"), col("n_toks")), "doc_id")
          .withColumn("__neg", -col("fused_rank"))
          .transform(Materialize.seam),
        "doc_id", "__neg", "n_toks", budget = 12000L, bucketWidth = 100L)
      Packing.packWhole(sel, "doc_id", "n_toks", capacity = 64L, m = 4,
          bucketWidth = 100L)
        .join(sel.select(col("doc_id"), (-col("__neg")).as("fused_rank"),
          col("cum_cost")), "doc_id")
        .select(col("doc_id"), col("n_tokens"), col("fused_rank"),
          col("cum_cost"), col("size_class"), col("bin"))
        .orderBy(col("doc_id"))
    },

    "q192_padding_report" -> { (s, d) =>
      // Length-bucketed batching padding report (the inference/SFT
      // serving mode where docs pad to a power-of-two bucket length):
      // per bucket, doc/token/batch counts and padding overhead ppm.
      // Exact integer next-pow2 (shiftleft by binary-string length — a
      // float ceil(log2) misbuckets exact powers on last-bit error);
      // one narrow pass into a <= ~40-row aggregate.
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
      Packing.paddingReport(docs, "n_toks", batchSize = 8L)
        .orderBy(col("bucket_len"))
    },

    "q122_lm_score" -> { (s, d) =>
      // Bigram LM scoring (the CCNet/KenLM perplexity-filter analogue):
      // train on the held-in src0 slice, score every document with
      // Laplace-smoothed INTEGER-ratio probabilities — exact in both
      // engines, no transcendental functions. Unseen bigrams count as
      // OOV, so the score separates in-distribution from novel phrasing.
      val docs = Tables.documents(s, d)
      LmScore.bigramScores(docs, docs.filter(col("source") === "src0"),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    "q173_backoff_lm" -> { (s, d) =>
      // Stupid Backoff trigram scoring (Brants et al. 2007 — the backoff
      // scheme built FOR distributed count-based LMs: plain count ratios,
      // no discount normalization, so the model is mergeable and every
      // level replays as exact integer arithmetic). Train on the held-in
      // src0 slice; per-document trigram-hit / backoff / OOV counts plus
      // the summed integer score separate fluent from novel text with a
      // longer context than q122's bigram filter.
      val docs = Tables.documents(s, d)
      LmScore.stupidBackoffScores(docs, docs.filter(col("source") === "src0"),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    "q180_source_datacard" -> { (s, d) =>
      // Per-source data card (the per-source table a mixture decision
      // actually reads — RedPajama/Dolma release exactly this rollup):
      // document/token counts, Gopher-gate pass rate, blocklist hit
      // rate, and the held-in backoff-LM fluency stats (OOV ppm + mean
      // integer score over ALL of the source's trigrams — sums of sums,
      // not means of means). One narrow signal pass + the q173 scoring
      // pipeline, joined on doc_id and collapsed to one row per source;
      // every rate is an exact integer ppm.
      val docs = Tables.documents(s, d)
      val scores = LmScore.stupidBackoffScores(docs,
        docs.filter(col("source") === "src0"), "doc_id", "text")
      val bl = array(lit("dup"), lit("slow"), lit("forbidden"))
      val toks = split(col("text"), " ")
      val sig = docs.select(col("doc_id"), col("source"),
          gopherStats(col("text"), WebQueries.StopWords).as("g"),
          exists(toks, t => array_contains(bl, t)).as("blocked"))
        .select(col("doc_id"), col("source"),
          col("g.n_words").as("n_tokens"),
          (col("g.n_words").between(20L, 400L) &&
            (col("g.char_sum").cast("double") / col("g.n_words"))
              .between(3.0, 8.0) &&
            col("g.n_stop") >= 2L &&
            (col("g.n_types").cast("double") / col("g.n_words")) >= 0.3)
            .as("gopher_pass"),
          col("blocked"))
      sig.join(scores, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(when(col("gopher_pass"), 1L).otherwise(0L)).as("__gp"),
          sum(when(col("blocked"), 1L).otherwise(0L)).as("__bl"),
          sum(col("n_trigrams")).as("__tri"),
          sum(col("n_oov")).as("__oov"),
          sum(col("score_sum")).as("__ss"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          expr("(__gp * 1000000) div n_docs").as("gopher_pass_ppm"),
          expr("(__bl * 1000000) div n_docs").as("blocked_ppm"),
          coalesce(expr("(__oov * 1000000) div nullif(__tri, 0)"), lit(0L))
            .as("oov_ppm"),
          coalesce(expr("__ss div nullif(__tri, 0)"), lit(0L))
            .as("mean_lm_score"))
        .orderBy(col("source"))
    },

    "q184_token_waterfill" -> { (s, d) =>
      // Water-filling source quota: given a global token budget, the
      // uniform per-source cap (max-min-fair waterline) — small sources
      // keep everything, big ones are cut to the same level. The cap a
      // LLaMA-class recipe hand-tunes, computed exactly: all windows run
      // over the SOURCE-level table (bounded k rows), never the corpus;
      // the corpus contributes one combinable token-count aggregate.
      val perSrc = Tables.documents(s, d).groupBy(col("source"))
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("n"))
      graft.operators.Budget.waterFillCaps(perSrc, "source", "n",
          budget = 27000L)
        .orderBy(col("source"))
    },

    "q183_shard_manifest" -> { (s, d) =>
      // Release/export manifest over q129's deterministic epoch shards —
      // the reproducibility record a 100 TB dataset release ships
      // alongside its shards (counts + totals + a content checksum per
      // shard, so a re-run or a consumer can verify integrity without
      // re-reading text): per shard, document count, token total,
      // min/max shuffle position, and an ORDER-FREE checksum (sum of
      // portable doc-content hashes mod P — summing makes it
      // reduction-order-proof, the house rule for cross-row digests).
      // One corpus pass + the q129 two-phase rank; 16 rows out.
      val h = (col("doc_id") * 1000003L + 17L) % 1000000007L
      val docs = Tables.documents(s, d)
      val hashed = docs.select(col("doc_id"), h.as("h"))
      val sharded = Packing.packPositions(hashed.withColumn("one", lit(1L)),
          "h", "one", capacity = 1L, bucketWidth = 10000000L)
        .join(hashed, "h")
        .select(col("doc_id"), col("start_off").as("pos"),
          (col("start_off") % 16).as("shard"))
      val content = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        ((Dedup.polyHash(col("text")) * 31L + col("doc_id")) % 1000000007L)
          .as("chash"))
      sharded.join(content, "doc_id")
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          min(col("pos")).as("min_pos"),
          max(col("pos")).as("max_pos"),
          sum(col("chash")).as("checksum"))
        .orderBy(col("shard"))
    },

    "q182_chunk_lm_filter" -> { (s, d) =>
      // CCNet-style SEGMENT-level LM filtering (Wenzek et al. 2020 score
      // and filter per paragraph, not per document — one spammy block
      // shouldn't sink a good page, and good boilerplate shouldn't save
      // a bad one): non-overlapping 16-token chunks, each scored under
      // the q122 bigram model (integer ratios), kept iff its mean score
      // clears the gate, and the document REBUILT from surviving chunks
      // in order. Chunking is narrow; scoring is the guarded-broadcast
      // model join; the rebuild is one per-doc aggregate (collect_list
      // drops null = dropped chunks, array_sort restores chunk order).
      val C = 16
      val docs = Tables.documents(s, d)
      val toks = split(col("text"), " ")
      // localCheckpoint: BOTH consumers below (the scorer's bigram
      // explode and the rebuild join) read the chunk table — without it
      // the narrow chunk-construction subtree is recomputed per
      // consumer (no exchange for Catalyst to reuse), measured 5.6x at
      // 10x data; with it 3.3x and 1.3x faster at sf0.1 too (the
      // q165/q119/q153 pattern)
      val chunks = docs.select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0), ((size(toks) - 1) / C).cast("int")),
            i => concat_ws(" ", slice(toks, i * C + 1, lit(C)))))
            .as(Seq("chunk_idx", "chunk")))
        // synthetic chunk id: collision-free for docs under 10^6 chunks
        // (16M tokens) and ids under ~9.2·10^12 — far past any real
        // corpus id space; both engines compute it identically
        .select((col("doc_id") * 1000000L + col("chunk_idx")).as("cid"),
          col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk"))
        .transform(Materialize.seam)
      val scored = LmScore.bigramScores(
        chunks.select(col("cid"), col("chunk").as("text")),
        docs.filter(col("source") === "src0")
          .select(col("doc_id").as("cid"), col("text")),
        "cid", "text")
      chunks.join(scored.select(col("cid"), col("avg_score")), "cid")
        .withColumn("keep", col("avg_score") >= 30000L)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          concat_ws(" ", transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("chunk_idx"), col("chunk"))))),
            x => x.getField("chunk"))).as("rebuilt"))
        .orderBy(col("doc_id"))
    },

    "q181_ngram_sketch" -> { (s, d) =>
      // The SCALE PATH for q178: distinct-n via HLL++ sketches
      // (approx_count_distinct, rsd 0.05 — mergeable, no (n, gram)
      // exchange carrying every distinct gram) with the exact two-phase
      // count kept IN-PLAN as the tolerance anchor (the q47 contract:
      // the boolean bound hash-matches, the sketch never leaves the
      // plan unchecked). At 100 TB the production form drops the
      // anchor aggregate and the sketch pass is the only wide edge —
      // partials are 2^14 registers per (n,) group instead of the full
      // gram dictionary.
      val base = Tables.documents(s, d)
        .select(split(col("text"), " ").as("l"))
        .select(col("l"), explode(sequence(lit(1), size(col("l")))).as("i"))
      val g2 = when(col("i") + 1 <= size(col("l")),
        concat_ws(" ", element_at(col("l"), col("i")),
          element_at(col("l"), col("i") + 1)))
      val g3 = when(col("i") + 2 <= size(col("l")),
        concat_ws(" ", element_at(col("l"), col("i")),
          element_at(col("l"), col("i") + 1),
          element_at(col("l"), col("i") + 2)))
      val grams = base.select(explode(array(
          struct(lit(1L).as("n"), element_at(col("l"), col("i")).as("gram")),
          struct(lit(2L).as("n"), g2.as("gram")),
          struct(lit(3L).as("n"), g3.as("gram")))).as("g"))
        .select(col("g.n").as("n"), col("g.gram").as("gram"))
        .filter(col("gram").isNotNull)
      val sk = grams.groupBy(col("n"))
        .agg(approx_count_distinct(col("gram")).as("__est"),
          count(lit(1)).as("total_grams"))
      val exact = grams.select(col("n"), col("gram")).distinct()
        .groupBy(col("n")).agg(count(lit(1)).as("exact_distinct"))
      sk.join(exact, "n")
        .select(col("n"), col("total_grams"), col("exact_distinct"),
          (abs(col("__est") - col("exact_distinct")) <=
            col("exact_distinct") * 0.15).as("est_ok"))
        .orderBy(col("n"))
    },

    "q178_ngram_diversity" -> { (s, d) =>
      // Corpus n-gram diversity ("distinct-n", Li et al. 2016 — the
      // standard memorization/templatedness health metric: a synthetic
      // or over-deduplicated corpus shows it immediately): for n = 1..3,
      // total vs distinct n-grams and the distinct rate in ppm. ONE
      // corpus scan — positions explode once and each position emits its
      // 1/2/3-gram rows inline (no per-n re-scan); the distinct count is
      // the house two-phase form (groupBy(n, gram) then groupBy(n)) so
      // there is no COUNT-DISTINCT EXPAND and hot grams collapse
      // map-side. Output: 3 rows regardless of corpus size.
      val base = Tables.documents(s, d)
        .select(split(col("text"), " ").as("l"))
        .select(col("l"), explode(sequence(lit(1), size(col("l")))).as("i"))
      val g2 = when(col("i") + 1 <= size(col("l")),
        concat_ws(" ", element_at(col("l"), col("i")),
          element_at(col("l"), col("i") + 1)))
      val g3 = when(col("i") + 2 <= size(col("l")),
        concat_ws(" ", element_at(col("l"), col("i")),
          element_at(col("l"), col("i") + 1),
          element_at(col("l"), col("i") + 2)))
      base.select(explode(array(
          struct(lit(1L).as("n"), element_at(col("l"), col("i")).as("gram")),
          struct(lit(2L).as("n"), g2.as("gram")),
          struct(lit(3L).as("n"), g3.as("gram")))).as("g"))
        .select(col("g.n").as("n"), col("g.gram").as("gram"))
        .filter(col("gram").isNotNull)
        .groupBy(col("n"), col("gram")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("n"))
        .agg(sum(col("cnt")).as("total_grams"),
          count(lit(1)).as("distinct_grams"))
        .select(col("n"), col("total_grams"), col("distinct_grams"),
          expr("(distinct_grams * 1000000) div total_grams").as("distinct_ppm"))
        .orderBy(col("n"))
    },

    "q127_vocab_coverage" -> { (s, d) =>
      // Tokenizer vocabulary construction: top-50 tokens with document
      // frequency and cumulative stream coverage. One corpus explode +
      // token aggregate; the rank/cumsum window runs over VOCAB rows
      // only (bounded single-partition step, same class as q121's
      // bucket totals).
      Vocab.coverage(Tables.documents(s, d), "doc_id", "text", topN = 50)
        .orderBy(col("rank"))
    },

    "q129_corpus_shuffle" -> { (s, d) =>
      // Deterministic epoch shuffle + sharding: the portable affine hash
      // (injective for id < P, so no ties) defines a reproducible random
      // order; the global rank comes from Packing's two-phase cumsum
      // with unit weights (only bucket totals cross one partition), and
      // shard = rank mod 16 gives balanced, reproducible output shards.
      val h = (col("doc_id") * 1000003L + 17L) % 1000000007L
      val hashed = Tables.documents(s, d).select(col("doc_id"), h.as("h"))
      Packing.packPositions(hashed.withColumn("one", lit(1L)),
          "h", "one", capacity = 1L, bucketWidth = 10000000L)
        .join(hashed, "h")
        .select(col("doc_id"), col("h"), col("start_off").as("shuffle_pos"),
          (col("start_off") % 16).as("shard"))
        .orderBy(col("doc_id"))
    },

    "q75_tfidf" -> { (s, d) =>
      // Corpus TF-IDF: top-3 terms per document. The weight uses the
      // rational idf N/df (not ln) so every arithmetic step is an exact
      // IEEE multiply/divide both engines compute identically — same
      // ranking behavior, hash-parity safe. One exploded-term table feeds
      // both the tf and df aggregates; the df side is vocabulary-sized and
      // broadcast back.
      val docs = Tables.documents(s, d)
      val terms = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
      val tf = terms.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = terms.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val total = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(broadcast(dfreq), "term").crossJoin(broadcast(total))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          (col("tf").cast("double") *
            (col("n_docs").cast("double") / col("df"))).as("w"))
      graft.operators.TopK
        .perGroup(scored, Seq("doc_id"), Seq(col("w").desc, col("term").asc), 3)
        .select(col("doc_id"), col("rn").cast("long").as("rank"),
          col("term"), col("tf"), col("df"), col("w"))
        .orderBy(col("doc_id"), col("rank"))
    })

  /** Generated N-stage replay of the BPE training loop — each stage is
    * (pair counts from the previous pieces) -> (1-row argmax) ->
    * (left-fold merge application via list_reduce on the space-joined
    * accumulator), exactly the operator's semantics. `src`/`textCol`
    * parameterize the corpus (q136 trains on the ExactSubstr-cut
    * corpus). Returns the CTE chain (ending in p{n} and b1..b{n}) for
    * composition; [[bpeOracleSql]] wraps it with the merge-table select.
    */
  private[queries] def bpeStagesSql(n: Int, src: String = "documents",
                                    textCol: String = "text"): String = {
    // Every p{i} is referenced twice (by pc{i+1} and p{i+1}); without
    // MATERIALIZED DuckDB inlines each reference, re-evaluating the
    // whole chain — exponential in n (OOM at sf0.1 for the q136
    // composition). Same results, linear evaluation.
    val head = s"""w0 AS (
        SELECT word, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split($textCol, ' ')) AS word FROM $src)
        WHERE word <> '' GROUP BY word),
      p0 AS MATERIALIZED (SELECT word, cnt,
        ' ' || array_to_string(string_split(word, ''), ' ') AS s FROM w0)"""
    val stages = (1 to n).map { i =>
      s"""pc$i AS (
        SELECT l[j] || ' ' || l[j+1] AS pair, CAST(sum(cnt) AS BIGINT) AS c
        FROM (SELECT cnt, string_split(substr(s, 2), ' ') AS l FROM p${i - 1}),
             unnest(generate_series(1, greatest(len(l) - 1, 0))) AS u(j)
        GROUP BY 1),
      b$i AS (SELECT pair, c FROM pc$i ORDER BY c DESC, pair ASC LIMIT 1),
      p$i AS MATERIALIZED (
        SELECT word, cnt,
          list_reduce(list_prepend('', string_split(substr(s, 2), ' ')),
            (acc, x) -> CASE
              WHEN acc = '' THEN ' ' || x
              WHEN ends_with(acc, ' ' || string_split(b.pair, ' ')[1])
                   AND x = string_split(b.pair, ' ')[2]
                THEN left(acc, len(acc) - len(string_split(b.pair, ' ')[1]) - 1)
                     || ' ' || replace(b.pair, ' ', '')
              ELSE acc || ' ' || x END) AS s
        FROM p${i - 1} CROSS JOIN b$i b)"""
    }
    s"""$head,
      ${stages.mkString(",\n      ")}"""
  }

  /** The q153 DoReMi oracle chain: q122's LM-scoring CTEs, per-source
    * loss/excess, and three unrolled multiplicative-weights iterations
    * ending in `i3 (source, n_docs, loss, excess, w1, w2, w3)`. All
    * integer `//` arithmetic — operands are nonnegative, so DuckDB
    * floor division == Spark `div` truncation. Shared with q156, which
    * builds the replicate-and-pack pipeline on top of i3.
    */
  private val doremiCtes: String = """toks AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
      b AS (
        SELECT l[i] AS w1, l[i+1] AS w2, CAST(count(*) AS BIGINT) AS cb
        FROM toks, unnest(generate_series(1, greatest(len(l) - 1, 0))) AS g(i)
        WHERE source = 'src0' GROUP BY 1, 2),
      u AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu FROM b GROUP BY w1),
      v AS (
        SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vs
        FROM (SELECT unnest(l) AS tok FROM toks WHERE source = 'src0') t),
      c AS (
        SELECT doc_id, l[i] AS w1, l[i+1] AS w2
        FROM toks, unnest(generate_series(1, greatest(len(l) - 1, 0))) AS g(i)),
      scored AS (
        SELECT c.doc_id,
          CASE WHEN b.cb IS NULL THEN 1 ELSE 0 END AS oov
        FROM c LEFT JOIN b USING (w1, w2) LEFT JOIN u USING (w1) CROSS JOIN v),
      t AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          CAST(sum(oov) AS BIGINT) AS n_oov
        FROM scored GROUP BY doc_id),
      per AS (
        SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(coalesce(sum(t.n_bigrams), 0) AS BIGINT) AS nb,
          CAST(coalesce(sum(t.n_oov), 0) AS BIGINT) AS noov
        FROM documents d LEFT JOIN t USING (doc_id) GROUP BY d.source),
      perl AS (
        SELECT source, n_docs,
          (1000000 * noov) // greatest(nb, 1) AS loss
        FROM per),
      ref AS (SELECT min(loss) AS r, CAST(count(*) AS BIGINT) AS k FROM perl),
      e AS (
        SELECT source, n_docs, loss, greatest(0, loss - ref.r) AS excess,
          1000000 // ref.k AS w0, ref.k AS k
        FROM perl CROSS JOIN ref),
      s1 AS (SELECT CAST(sum(w0 * (1000000 + excess)) AS BIGINT) AS s FROM e),
      i1 AS (SELECT e.*, CAST(((1000000 - 10000) * (w0 * (1000000 + excess)))
          // s1.s + 10000 // k AS BIGINT) AS w1 FROM e CROSS JOIN s1),
      s2 AS (SELECT CAST(sum(w1 * (1000000 + excess)) AS BIGINT) AS s FROM i1),
      i2 AS (SELECT i1.*, CAST(((1000000 - 10000) * (w1 * (1000000 + excess)))
          // s2.s + 10000 // k AS BIGINT) AS w2 FROM i1 CROSS JOIN s2),
      s3 AS (SELECT CAST(sum(w2 * (1000000 + excess)) AS BIGINT) AS s FROM i2),
      i3 AS (SELECT i2.*, CAST(((1000000 - 10000) * (w2 * (1000000 + excess)))
          // s3.s + 10000 // k AS BIGINT) AS w3 FROM i2 CROSS JOIN s3)"""

  private def bpeOracleSql(n: Int, src: String = "documents",
                           textCol: String = "text",
                           prefixCtes: String = ""): String = {
    val union = (1 to n).map { i =>
      s"""SELECT $i AS r, string_split(pair, ' ')[1] AS lhs,
        string_split(pair, ' ')[2] AS rhs, c FROM b$i"""
    }.mkString("\nUNION ALL\n")
    val pre = if (prefixCtes.isEmpty) "" else prefixCtes + ",\n      "
    s"""
      WITH $pre${bpeStagesSql(n, src, textCol)}
      SELECT CAST(r AS BIGINT) AS merge_rank, lhs, rhs,
        CAST(c AS BIGINT) AS pair_cnt
      FROM ($union) ORDER BY merge_rank"""
  }

  /** q278/q280 oracle: the greedy coverage rounds unrolled as MATERIALIZED
    * CTEs (the q217/q275 pattern): per round, gains against the
    * accumulated seen vocabulary, argmax by (gain DESC, id), seen set
    * unioned forward. A drift in any round's pick or gain hash-fails.
    * With samplePct < 100 the per-round pool additionally passes the
    * portable round-keyed hash gate — the q280 stochastic form.
    */
  private def coverageSql(k: Int, samplePct: Int = 100): String = {
    val rounds = (1 to k).map { r =>
      val notSeen =
        if (r == 1) "" else s"WHERE tok NOT IN (SELECT tok FROM s${r - 1})"
      val gateConds =
        (if (samplePct < 100)
          Seq(s"(ids.id * 1000003 + $r * 999983 + 17) % 1000000007 % 100 < $samplePct")
        else Seq.empty[String]) ++
          (1 until r).map(i => s"ids.id NOT IN (SELECT id FROM w$i)")
      val notPicked =
        if (gateConds.isEmpty) "" else "WHERE " + gateConds.mkString(" AND ")
      val seenUnion =
        if (r == 1) s"SELECT tok FROM toks JOIN w1 ON toks.id = w1.id"
        else s"SELECT tok FROM s${r - 1} UNION " +
          s"SELECT tok FROM toks JOIN w$r ON toks.id = w$r.id"
      s"""g$r AS MATERIALIZED (
        SELECT ids.id, coalesce(cnt, 0) AS gain FROM ids
        LEFT JOIN (
          SELECT id, CAST(count(*) AS BIGINT) AS cnt FROM toks
          $notSeen GROUP BY 1) x ON x.id = ids.id
        $notPicked),
      w$r AS MATERIALIZED (
        SELECT id, gain FROM g$r ORDER BY gain DESC, id LIMIT 1),
      s$r AS MATERIALIZED ($seenUnion)"""
    }.mkString(",\n      ")
    val out = (1 to k).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, w$r.id AS doc_id,
        CAST(w$r.gain AS BIGINT) AS gain,
        CAST((SELECT count(*) FROM s$r) AS BIGINT) AS cum_coverage
      FROM w$r"""
    }.mkString("\n      UNION ALL ")
    s"""
      WITH toks AS MATERIALIZED (
        SELECT DISTINCT doc_id AS id, t AS tok FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS t
          FROM documents
          WHERE doc_id IS NOT NULL AND text IS NOT NULL)
        WHERE t <> ''),
      ids AS MATERIALIZED (
        SELECT DISTINCT doc_id AS id FROM documents
        WHERE doc_id IS NOT NULL),
      $rounds
      $out
      ORDER BY round"""
  }

  val oracle: Map[String, String] = Map(
    "q278_greedy_coverage" -> coverageSql(5),
    "q280_stochastic_coverage" -> coverageSql(5, samplePct = 40),

    "q220_script_mix" -> """
      WITH cps AS (
        SELECT lang,
          unnest(list_transform(string_split(text, ''),
            x -> unicode(x))) AS cp
        FROM documents),
      cls AS (
        SELECT lang,
          CASE WHEN (cp BETWEEN 65 AND 90) OR (cp BETWEEN 97 AND 122)
                 OR (cp BETWEEN 192 AND 591) THEN 0
               WHEN cp BETWEEN 1024 AND 1279 THEN 1
               WHEN (cp BETWEEN 19968 AND 40959)
                 OR (cp BETWEEN 12352 AND 12543)
                 OR (cp BETWEEN 44032 AND 55215) THEN 2
               WHEN cp BETWEEN 48 AND 57 THEN 3
               WHEN cp IN (32, 9, 10, 13) THEN 4
               ELSE 5 END AS c
        FROM cps),
      agg AS (
        SELECT lang,
          CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_latin,
          CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cyrillic,
          CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_cjk,
          CAST(sum(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_digit,
          CAST(sum(CASE WHEN c = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_space,
          CAST(sum(CASE WHEN c = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_other
        FROM cls GROUP BY lang),
      nd AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang)
      SELECT nd.lang, n_docs, n_latin, n_cyrillic, n_cjk, n_digit,
        n_space, n_other,
        n_latin * 1000000 // (n_latin + n_cyrillic + n_cjk + n_digit
          + n_space + n_other) AS latin_ppm
      FROM agg JOIN nd USING (lang)
      ORDER BY lang""",

    "q134_bpe_merges" -> bpeOracleSql(10),

    // Train on the ExactSubstr-cut corpus: the q135 CTE chain feeds the
    // same generated BPE stages, sourced from cdocs.cleaned_text.
    "q136_cut_bpe_pipeline" -> bpeOracleSql(8, src = "cdocs",
      textCol = "cleaned_text",
      prefixCtes = graft.queries.DedupQueries.exactSubstringCutCtes),

    // The symbols of the training replay's FINAL stage (p10) are the
    // encoded corpus — weighted by word frequency, top-20.
    "q137_bpe_symbol_freqs" -> s"""
      WITH ${bpeStagesSql(10)}
      SELECT sym, CAST(sum(cnt) AS BIGINT) AS freq
      FROM (SELECT cnt, unnest(string_split(substr(s, 2), ' ')) AS sym
            FROM p10)
      GROUP BY sym ORDER BY freq DESC, sym ASC LIMIT 20""",

    "q133_bm25_topk" -> {
      // Interpolate the IDENTICAL derived constants the operator uses —
      // Double.toString round-trips, so both engines parse the same bits.
      val (bmNum, bmAdd, bmMul) = graft.operators.Retrieval.bm25Constants()
      s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      dl AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS dl FROM t),
      st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(dl) AS BIGINT) AS tot FROM dl),
      qt AS (
        SELECT DISTINCT query_id, term FROM (
          SELECT doc_id AS query_id, unnest(l[5:7]) AS term
          FROM t WHERE doc_id % 97 = 0)
        WHERE term <> ''),
      qv AS (SELECT DISTINCT term FROM qt),
      tf AS (
        SELECT ct.doc_id, ct.term, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(l) AS term FROM t) ct
        JOIN qv USING (term)
        GROUP BY ct.doc_id, ct.term),
      dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
      scored AS (
        SELECT qt.query_id, tf.doc_id,
          CAST(floor(
            (CAST(2*st.n_docs - 2*dfq.df + 1 AS DOUBLE) /
             CAST(2*dfq.df + 1 AS DOUBLE))
            * (CAST(tf.tf AS DOUBLE) * $bmNum /
               (CAST(tf.tf AS DOUBLE) + $bmAdd + $bmMul *
                (CAST(dl.dl * st.n_docs AS DOUBLE) / CAST(st.tot AS DOUBLE))))
            * 1000000.0 + 0.5) AS BIGINT) AS micro
        FROM tf
        JOIN qt USING (term)
        JOIN dfq USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN st),
      sc AS (SELECT query_id, doc_id, CAST(sum(micro) AS BIGINT) AS score_micro
             FROM scored GROUP BY query_id, doc_id),
      ranked AS (
        SELECT query_id, doc_id, score_micro,
          row_number() OVER (PARTITION BY query_id
            ORDER BY score_micro DESC, doc_id ASC) AS rn
        FROM sc)
      SELECT query_id, CAST(rn AS BIGINT) AS rank, doc_id, score_micro
      FROM ranked WHERE rn <= 10
      ORDER BY query_id, rank"""
    },

    "q127_vocab_coverage" -> """
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      c AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS cnt,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM toks GROUP BY tok),
      t AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM c),
      r AS (
        SELECT tok, cnt, df,
          CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC) AS BIGINT) AS rank,
          CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cnt
        FROM c)
      SELECT rank, tok, cnt, df, CAST(cum_cnt AS DOUBLE) / tot AS cum_frac
      FROM r CROSS JOIN t WHERE rank <= 50 ORDER BY rank""",

    "q129_corpus_shuffle" -> """
      WITH t AS (
        SELECT doc_id,
          (doc_id * 1000003 + 17) % 1000000007 AS h
        FROM documents)
      SELECT doc_id, CAST(h AS BIGINT) AS h,
        CAST(row_number() OVER (ORDER BY h) - 1 AS BIGINT) AS shuffle_pos,
        CAST((row_number() OVER (ORDER BY h) - 1) % 16 AS BIGINT) AS shard
      FROM t ORDER BY doc_id""",

    // q122's LM-scoring CTE chain, then per-source aggregates and the
    // three unrolled multiplicative-weights iterations — all integer
    // `//` arithmetic (operands nonnegative, so DuckDB floor division
    // == Spark `div` truncation).
    "q153_doremi_weights" -> s"""
      WITH $doremiCtes
      SELECT source, n_docs, CAST(loss AS BIGINT) AS loss,
        CAST(excess AS BIGINT) AS excess, w1, w2, w3
      FROM i3 ORDER BY source""",

    // q153's chain feeds the copy-count gate (q117's form), the
    // replicate explode, and the q121 bin aggregation.
    "q156_mixture_pack_pipeline" -> s"""
      WITH $doremiCtes,
      perdoc AS (
        SELECT d.doc_id,
          CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks,
          least((i3.w3 * kt.kk) // 1000000 +
            CASE WHEN ((d.doc_id * 1000003 + 17) % 1000000007) % 1000000
                 < (i3.w3 * kt.kk) % 1000000 THEN 1 ELSE 0 END, 8) AS n_copies
        FROM documents d
        JOIN i3 ON d.source = i3.source
        CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS kk FROM i3) kt),
      rep AS (
        SELECT doc_id, n_toks, CAST(c AS BIGINT) AS cp
        FROM perdoc, unnest(generate_series(1, CAST(n_copies AS INT))) AS u(c)
        WHERE n_copies >= 1),
      orded AS (
        SELECT doc_id, n_toks,
          cp * 2000000000 + (doc_id * 1000003 + 17) % 1000000007 AS ord
        FROM rep),
      cum AS (
        SELECT ord, n_toks,
          CAST(sum(n_toks) OVER (ORDER BY ord
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks
            AS BIGINT) AS st
        FROM orded),
      bx AS (
        SELECT ord, n_toks, st, st // 256 AS fb, (st + n_toks - 1) // 256 AS lb
        FROM cum WHERE n_toks > 0),
      xx AS (SELECT *, unnest(generate_series(fb, lb)) AS bin FROM bx)
      SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN fb = bin THEN 1 ELSE 0 END) AS BIGINT) AS n_starting,
        CAST(sum(least(st + n_toks, (bin + 1) * 256)
          - greatest(st, bin * 256)) AS BIGINT) AS n_tokens
      FROM xx GROUP BY bin ORDER BY bin""",

    "q157_span_corruption" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      p AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos, l[i] AS tok,
          ((doc_id * 1000003 + i * 7919) % 100) < 15 AS m
        FROM t, unnest(generate_series(1, len(l))) AS u(i)),
      rr AS (
        SELECT *, m AND NOT coalesce(
          lag(m) OVER (PARTITION BY doc_id ORDER BY pos), false) AS start
        FROM p),
      ss AS (
        SELECT *, sum(CASE WHEN start THEN 1 ELSE 0 END)
          OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM rr),
      pieces AS (
        SELECT doc_id, pos, m, sid,
          CASE WHEN NOT m THEN tok
               WHEN start THEN '<extra_id_' || CAST(sid - 1 AS VARCHAR) || '>'
               ELSE NULL END AS in_piece,
          CASE WHEN start THEN '<extra_id_' || CAST(sid - 1 AS VARCHAR) || '>'
                 || ' ' || tok
               WHEN m THEN tok
               ELSE NULL END AS tg_piece
        FROM ss)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        CAST(max(sid) AS BIGINT) AS n_spans,
        coalesce(string_agg(in_piece, ' ' ORDER BY pos), '') AS input_text,
        coalesce(string_agg(tg_piece, ' ' ORDER BY pos), '') AS target_text
      FROM pieces GROUP BY doc_id ORDER BY doc_id""",

    // The training replay's final stage (p10) holds each word's final
    // symbol list — join it to per-(lang, word) counts for the
    // fertility table.
    "q154_bpe_fertility" -> s"""
      WITH ${bpeStagesSql(10)},
      wl AS (
        SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE word <> '' GROUP BY 1, 2),
      enc AS (
        SELECT word,
          CAST(len(string_split(substr(s, 2), ' ')) AS BIGINT) AS sy,
          CAST(length(word) AS BIGINT) AS ch
        FROM p10)
      SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_words,
        CAST(count(*) AS BIGINT) AS n_distinct_words,
        CAST(sum(cnt * sy) AS BIGINT) AS n_syms,
        CAST(sum(cnt * ch) AS BIGINT) AS n_chars,
        CAST(sum(cnt * sy) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS fertility,
        CAST(sum(cnt * ch) AS DOUBLE) / CAST(sum(cnt * sy) AS DOUBLE)
          AS chars_per_sym
      FROM wl JOIN enc USING (word)
      GROUP BY lang ORDER BY lang""",

    "q160_corpus_datasheet" -> s"""
      WITH w0x AS (
        SELECT lang, source, text, string_split(text, ' ') AS ws
        FROM documents),
      rowsx AS (
        SELECT lang, source,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(text, ''),
              x -> CAST(unicode(x) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % ${graft.operators.Dedup.M}) AS th,
          CAST(len(ws) AS BIGINT) AS nt,
          CASE WHEN (CAST(len(ws) AS BIGINT) BETWEEN 20 AND 400)
            AND (CAST(CAST(length(text) AS BIGINT)
                 - (CAST(len(ws) AS BIGINT) - 1) AS DOUBLE)
                 / CAST(len(ws) AS BIGINT) BETWEEN 3.0 AND 8.0)
            AND CAST(len(list_filter(ws, x -> x IN (${WebQueries.StopWords.map(sw => s"'$sw'").mkString(", ")}))) AS BIGINT) >= 2
            AND (CAST(len(list_distinct(ws)) AS DOUBLE)
                 / CAST(len(ws) AS BIGINT) >= 0.3)
          THEN 1 ELSE 0 END AS gp
        FROM w0x),
      g AS (
        SELECT lang, source, th, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(nt) AS BIGINT) AS nt, CAST(sum(gp) AS BIGINT) AS gp
        FROM rowsx GROUP BY 1, 2, 3),
      a AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_docs,
          CAST(sum(nt) AS BIGINT) AS n_tokens,
          CAST(sum(gp) AS BIGINT) AS gop
        FROM g),
      b AS (SELECT CAST(count(DISTINCT th) AS BIGINT) AS n_texts FROM g),
      cc AS (SELECT CAST(count(DISTINCT lang) AS BIGINT) AS n_langs FROM g),
      dd AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources FROM g),
      tk AS (
        SELECT CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents))
      SELECT a.n_docs, a.n_tokens, tk.n_distinct_tokens,
        b.n_texts AS n_distinct_texts,
        (1000000 * (a.n_docs - b.n_texts)) // a.n_docs AS dup_doc_ppm,
        (1000000 * a.gop) // a.n_docs AS gopher_pass_ppm,
        cc.n_langs, dd.n_sources
      FROM a CROSS JOIN b CROSS JOIN cc CROSS JOIN dd CROSS JOIN tk""",

    "q180_source_datacard" -> s"""
      WITH toks AS (SELECT doc_id, source, text, string_split(text, ' ') AS l FROM documents),
      t3 AS (
        SELECT l[i] AS w1, l[i+1] AS w2, l[i+2] AS w3,
          CAST(count(*) AS BIGINT) AS c3
        FROM toks, unnest(generate_series(1, greatest(len(l) - 2, 0))) AS g(i)
        WHERE source = 'src0' GROUP BY 1, 2, 3),
      t2 AS (
        SELECT l[i] AS w1, l[i+1] AS w2, CAST(count(*) AS BIGINT) AS c2
        FROM toks, unnest(generate_series(1, greatest(len(l) - 1, 0))) AS g(i)
        WHERE source = 'src0' GROUP BY 1, 2),
      t1 AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c1
        FROM (SELECT unnest(l) AS tok FROM toks WHERE source = 'src0') t
        GROUP BY tok),
      nt AS (
        SELECT CAST(count(*) AS BIGINT) AS nn
        FROM (SELECT unnest(l) AS tok FROM toks WHERE source = 'src0') t),
      c AS (
        SELECT doc_id, l[i] AS w1, l[i+1] AS w2, l[i+2] AS w3
        FROM toks, unnest(generate_series(1, greatest(len(l) - 2, 0))) AS g(i)),
      scored AS (
        SELECT c.doc_id,
          CASE WHEN t3.c3 IS NULL AND b.c2 IS NULL AND lu.c1 IS NULL
               THEN 1 ELSE 0 END AS oov,
          CASE WHEN t3.c3 IS NOT NULL THEN (t3.c3 * 1000000) // ctx.c2
               WHEN b.c2 IS NOT NULL THEN (4 * b.c2 * 1000000) // (10 * mu.c1)
               WHEN lu.c1 IS NOT NULL THEN (16 * lu.c1 * 1000000) // (100 * nt.nn)
               ELSE 0 END AS sc
        FROM c
        LEFT JOIN t3 USING (w1, w2, w3)
        LEFT JOIN t2 ctx ON ctx.w1 = c.w1 AND ctx.w2 = c.w2
        LEFT JOIN t2 b ON b.w1 = c.w2 AND b.w2 = c.w3
        LEFT JOIN t1 mu ON mu.tok = c.w2
        LEFT JOIN t1 lu ON lu.tok = c.w3
        CROSS JOIN nt),
      lm AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS tri,
          CAST(sum(oov) AS BIGINT) AS oov, CAST(sum(sc) AS BIGINT) AS ss
        FROM scored GROUP BY doc_id),
      sig AS (
        SELECT doc_id, source,
          CAST(len(l) AS BIGINT) AS n_tokens,
          (CAST(len(l) AS BIGINT) BETWEEN 20 AND 400)
            AND (CAST(CAST(length(text) AS BIGINT)
                   - (CAST(len(l) AS BIGINT) - 1) AS DOUBLE)
                 / CAST(len(l) AS BIGINT) BETWEEN 3.0 AND 8.0)
            AND CAST(len(list_filter(l, x -> x IN
                (${WebQueries.StopWords.map(sw => s"'$sw'").mkString(", ")})))
              AS BIGINT) >= 2
            AND (CAST(CAST(len(list_distinct(l)) AS BIGINT) AS DOUBLE)
                 / CAST(len(l) AS BIGINT) >= 0.3) AS gopher_pass,
          len(list_filter(l,
            x -> list_contains(['dup', 'slow', 'forbidden'], x))) > 0 AS blocked
        FROM toks),
      j AS (
        SELECT sig.source, sig.n_tokens, sig.gopher_pass, sig.blocked,
          coalesce(lm.tri, 0) AS tri, coalesce(lm.oov, 0) AS oov,
          coalesce(lm.ss, 0) AS ss
        FROM sig LEFT JOIN lm USING (doc_id))
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        (CAST(sum(CASE WHEN gopher_pass THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
          // CAST(count(*) AS BIGINT) AS gopher_pass_ppm,
        (CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
          // CAST(count(*) AS BIGINT) AS blocked_ppm,
        coalesce((CAST(sum(oov) AS BIGINT) * 1000000)
          // nullif(CAST(sum(tri) AS BIGINT), 0), 0) AS oov_ppm,
        coalesce(CAST(sum(ss) AS BIGINT)
          // nullif(CAST(sum(tri) AS BIGINT), 0), 0) AS mean_lm_score
      FROM j GROUP BY source ORDER BY source""",

    "q189_weighted_sample" -> """
      WITH t AS (
        SELECT doc_id, source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS w
        FROM documents),
      p AS (
        SELECT doc_id, source, w,
          (((CAST(doc_id AS BIGINT) * 1000003 + 17) % 1000000007
            + 1000000007) % 1000000007) // greatest(w, 1) AS pri
        FROM t),
      r AS (
        SELECT source, doc_id, w, pri,
          row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rn
        FROM p)
      SELECT source, CAST(rn AS BIGINT) AS rn, doc_id, w AS weight,
        CAST(pri AS BIGINT) AS priority
      FROM r WHERE rn <= 5 ORDER BY source, rn""",

    "q190_pack_whole_docs" -> """
      WITH t AS (
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM documents),
      c AS (
        SELECT doc_id, n,
          CASE WHEN n > 64 THEN 0 WHEN n <= 0 THEN 4
               ELSE least(64 // n, 4) END AS sc
        FROM t),
      w AS (
        SELECT doc_id, n, sc,
          CASE WHEN sc = 4 THEN greatest(n, 0) ELSE 1 END AS w
        FROM c),
      cm AS (
        SELECT doc_id, n, sc, w,
          sum(w) OVER (PARTITION BY sc ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM w)
      SELECT doc_id, n AS n_tokens, CAST(sc AS BIGINT) AS size_class,
        CAST(CASE WHEN sc = 0 THEN cum - 1
                  WHEN sc = 4 THEN (cum - w) // 48
                  ELSE (cum - 1) // sc END AS BIGINT) AS bin
      FROM cm ORDER BY doc_id""",

    "q191_borda_fusion" -> s"""
      WITH ft AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      fs AS (
        SELECT doc_id,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(toks, tok ->
              (list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(tok, ''),
                   x -> CAST(unicode(x) AS BIGINT))),
                 (acc, c) -> (acc * 31 + c) % ${graft.operators.Dedup.M}) % 1024)
                * 2654435761 % 1000 - 500)),
            (a, w) -> a + w) AS qs
        FROM ft),
      toks AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
      t3 AS (
        SELECT l[i] AS w1, l[i+1] AS w2, l[i+2] AS w3,
          CAST(count(*) AS BIGINT) AS c3
        FROM toks, unnest(generate_series(1, greatest(len(l) - 2, 0))) AS g(i)
        WHERE source = 'src0' GROUP BY 1, 2, 3),
      t2 AS (
        SELECT l[i] AS w1, l[i+1] AS w2, CAST(count(*) AS BIGINT) AS c2
        FROM toks, unnest(generate_series(1, greatest(len(l) - 1, 0))) AS g(i)
        WHERE source = 'src0' GROUP BY 1, 2),
      t1 AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c1
        FROM (SELECT unnest(l) AS tok FROM toks WHERE source = 'src0') t
        GROUP BY tok),
      nt AS (
        SELECT CAST(count(*) AS BIGINT) AS nn
        FROM (SELECT unnest(l) AS tok FROM toks WHERE source = 'src0') t),
      c AS (
        SELECT doc_id, l[i] AS w1, l[i+1] AS w2, l[i+2] AS w3
        FROM toks, unnest(generate_series(1, greatest(len(l) - 2, 0))) AS g(i)),
      scored AS (
        SELECT c.doc_id,
          CASE WHEN t3.c3 IS NOT NULL THEN (t3.c3 * 1000000) // ctx.c2
               WHEN b.c2 IS NOT NULL THEN (4 * b.c2 * 1000000) // (10 * mu.c1)
               WHEN lu.c1 IS NOT NULL THEN (16 * lu.c1 * 1000000) // (100 * nt.nn)
               ELSE 0 END AS sc
        FROM c
        LEFT JOIN t3 USING (w1, w2, w3)
        LEFT JOIN t2 ctx ON ctx.w1 = c.w1 AND ctx.w2 = c.w2
        LEFT JOIN t2 b ON b.w1 = c.w2 AND b.w2 = c.w3
        LEFT JOIN t1 mu ON mu.tok = c.w2
        LEFT JOIN t1 lu ON lu.tok = c.w3
        CROSS JOIN nt),
      lm AS (
        SELECT doc_id, CAST(sum(sc) AS BIGINT) AS ss
        FROM scored GROUP BY doc_id),
      j AS (
        SELECT fs.doc_id, fs.qs, coalesce(lm.ss, 0) AS ss
        FROM fs LEFT JOIN lm ON fs.doc_id = lm.doc_id),
      r AS (
        SELECT doc_id,
          row_number() OVER (ORDER BY qs DESC, doc_id) AS rf,
          row_number() OVER (ORDER BY ss DESC, doc_id) AS rl
        FROM j),
      bo AS (SELECT doc_id, rf, rl, rf + rl AS borda FROM r)
      SELECT doc_id, CAST(rf AS BIGINT) AS rank_feat_score,
        CAST(rl AS BIGINT) AS rank_score_sum,
        CAST(borda AS BIGINT) AS borda,
        CAST(row_number() OVER (ORDER BY borda, doc_id) AS BIGINT)
          AS fused_rank
      FROM bo ORDER BY doc_id""",

    "q193_select_pack_pipeline" -> s"""
      WITH ft AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      fs AS (
        SELECT doc_id,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(toks, tok ->
              (list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(tok, ''),
                   x -> CAST(unicode(x) AS BIGINT))),
                 (acc, c) -> (acc * 31 + c) % ${graft.operators.Dedup.M}) % 1024)
                * 2654435761 % 1000 - 500)),
            (a, w) -> a + w) AS qs
        FROM ft),
      toks AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
      t3 AS (
        SELECT l[i] AS w1, l[i+1] AS w2, l[i+2] AS w3,
          CAST(count(*) AS BIGINT) AS c3
        FROM toks, unnest(generate_series(1, greatest(len(l) - 2, 0))) AS g(i)
        WHERE source = 'src0' GROUP BY 1, 2, 3),
      t2 AS (
        SELECT l[i] AS w1, l[i+1] AS w2, CAST(count(*) AS BIGINT) AS c2
        FROM toks, unnest(generate_series(1, greatest(len(l) - 1, 0))) AS g(i)
        WHERE source = 'src0' GROUP BY 1, 2),
      t1 AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c1
        FROM (SELECT unnest(l) AS tok FROM toks WHERE source = 'src0') t
        GROUP BY tok),
      nt AS (
        SELECT CAST(count(*) AS BIGINT) AS nn
        FROM (SELECT unnest(l) AS tok FROM toks WHERE source = 'src0') t),
      c AS (
        SELECT doc_id, l[i] AS w1, l[i+1] AS w2, l[i+2] AS w3
        FROM toks, unnest(generate_series(1, greatest(len(l) - 2, 0))) AS g(i)),
      scored AS (
        SELECT c.doc_id,
          CASE WHEN t3.c3 IS NOT NULL THEN (t3.c3 * 1000000) // ctx.c2
               WHEN b.c2 IS NOT NULL THEN (4 * b.c2 * 1000000) // (10 * mu.c1)
               WHEN lu.c1 IS NOT NULL THEN (16 * lu.c1 * 1000000) // (100 * nt.nn)
               ELSE 0 END AS sc
        FROM c
        LEFT JOIN t3 USING (w1, w2, w3)
        LEFT JOIN t2 ctx ON ctx.w1 = c.w1 AND ctx.w2 = c.w2
        LEFT JOIN t2 b ON b.w1 = c.w2 AND b.w2 = c.w3
        LEFT JOIN t1 mu ON mu.tok = c.w2
        LEFT JOIN t1 lu ON lu.tok = c.w3
        CROSS JOIN nt),
      lm AS (
        SELECT doc_id, CAST(sum(sc) AS BIGINT) AS ss
        FROM scored GROUP BY doc_id),
      j AS (
        SELECT fs.doc_id, fs.qs, coalesce(lm.ss, 0) AS ss
        FROM fs LEFT JOIN lm ON fs.doc_id = lm.doc_id),
      r AS (
        SELECT doc_id,
          row_number() OVER (ORDER BY qs DESC, doc_id) AS rf,
          row_number() OVER (ORDER BY ss DESC, doc_id) AS rl
        FROM j),
      f AS (
        SELECT doc_id,
          row_number() OVER (ORDER BY rf + rl, doc_id) AS fr
        FROM r),
      nn AS (
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM documents),
      sel AS (
        SELECT f.doc_id, f.fr, nn.n,
          sum(nn.n) OVER (ORDER BY f.fr
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM f JOIN nn USING (doc_id)),
      kept AS (SELECT doc_id, fr, n, cum FROM sel WHERE cum <= 12000),
      cls AS (
        SELECT doc_id, fr, n, cum,
          CASE WHEN n > 64 THEN 0 WHEN n <= 0 THEN 4
               ELSE least(64 // n, 4) END AS sc
        FROM kept),
      w AS (
        SELECT doc_id, fr, n, cum, sc,
          CASE WHEN sc = 4 THEN greatest(n, 0) ELSE 1 END AS w
        FROM cls),
      cm AS (
        SELECT doc_id, fr, n, cum, sc, w,
          sum(w) OVER (PARTITION BY sc ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
        FROM w)
      SELECT doc_id, n AS n_tokens, CAST(fr AS BIGINT) AS fused_rank,
        CAST(cum AS BIGINT) AS cum_cost,
        CAST(sc AS BIGINT) AS size_class,
        CAST(CASE WHEN sc = 0 THEN cum2 - 1
                  WHEN sc = 4 THEN (cum2 - w) // 48
                  ELSE (cum2 - 1) // sc END AS BIGINT) AS bin
      FROM cm ORDER BY doc_id""",

    "q192_padding_report" -> """
      WITH t AS (
        SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM documents),
      b AS (
        SELECT CASE WHEN n <= 1 THEN 1
                    ELSE 1 << length(bin(n - 1)) END AS bl, n
        FROM t),
      g AS (
        SELECT bl, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n) AS BIGINT) AS n_tokens
        FROM b GROUP BY 1)
      SELECT CAST(bl AS BIGINT) AS bucket_len, n_docs, n_tokens,
        CAST((n_docs + 7) // 8 AS BIGINT) AS n_batches,
        CAST(((n_docs * bl - n_tokens) * 1000000) // (n_docs * bl) AS BIGINT)
          AS pad_ppm
      FROM g ORDER BY bucket_len""",

    "q184_token_waterfill" -> """
      WITH per AS (
        SELECT source,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n
        FROM documents GROUP BY source),
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
          (27000 - (p - n)) // (k - i + 1) AS cap
        FROM r CROSS JOIN t),
      bd AS (SELECT min(i) AS bi FROM cand WHERE cap < n),
      ch AS (
        SELECT cap AS c, 27000 - ((p - n) + (k - i + 1) * cap) AS rem
        FROM cand JOIN bd ON i = bi
        UNION ALL
        SELECT CAST(NULL AS BIGINT), 27000 - tot
        FROM t, bd WHERE bi IS NULL)
      SELECT source, n AS n_tokens, CAST(c AS BIGINT) AS cap,
        CAST(CASE WHEN c IS NULL OR n <= c THEN n ELSE c END AS BIGINT)
          AS allocated,
        CAST(rem AS BIGINT) AS remainder
      FROM r CROSS JOIN ch ORDER BY source""",

    "q183_shard_manifest" -> s"""
      WITH t AS (
        SELECT doc_id,
          (doc_id * 1000003 + 17) % 1000000007 AS h,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
          (list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ''),
               x -> CAST(unicode(x) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % ${graft.operators.Dedup.M})
            * 31 + doc_id) % 1000000007 AS chash
        FROM documents),
      r AS (
        SELECT doc_id, h, n_toks, chash,
          row_number() OVER (ORDER BY h) - 1 AS pos
        FROM t)
      SELECT CAST(pos % 16 AS BIGINT) AS shard,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        CAST(min(pos) AS BIGINT) AS min_pos,
        CAST(max(pos) AS BIGINT) AS max_pos,
        CAST(sum(chash) AS BIGINT) AS checksum
      FROM r GROUP BY 1 ORDER BY shard""",

    "q182_chunk_lm_filter" -> """
      WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
      b AS (
        SELECT l[i] AS w1, l[i+1] AS w2, CAST(count(*) AS BIGINT) AS cb
        FROM toks, unnest(generate_series(1, greatest(len(l) - 1, 0))) AS g(i)
        WHERE source = 'src0' GROUP BY 1, 2),
      u AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu FROM b GROUP BY w1),
      v AS (
        SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vs
        FROM (SELECT unnest(l) AS tok FROM toks WHERE source = 'src0') t),
      ch AS (
        SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
          doc_id * 1000000 + i AS cid,
          array_to_string(l[i*16+1 : i*16+16], ' ') AS chunk
        FROM toks, unnest(generate_series(0, (len(l) - 1) // 16)) AS gi(i)),
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
      k AS (
        SELECT ch.doc_id, ch.chunk_idx, ch.chunk,
          coalesce(ss // nb, 0) >= 30000 AS keep
        FROM ch LEFT JOIN agg USING (cid))
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx)
          FILTER (WHERE keep), '') AS rebuilt
      FROM k GROUP BY doc_id ORDER BY doc_id""",

    "q181_ngram_sketch" -> """
      WITH t AS (SELECT string_split(text, ' ') AS l FROM documents),
      g AS (
        SELECT CAST(n AS BIGINT) AS n,
          CASE WHEN n = 1 THEN l[i]
               WHEN n = 2 AND i + 1 <= len(l)
                 THEN l[i] || ' ' || l[i+1]
               WHEN n = 3 AND i + 2 <= len(l)
                 THEN l[i] || ' ' || l[i+1] || ' ' || l[i+2]
          END AS gram
        FROM t, unnest(generate_series(1, len(l))) AS gi(i),
             unnest([1, 2, 3]) AS gn(n))
      SELECT n, CAST(count(*) AS BIGINT) AS total_grams,
        CAST(count(DISTINCT gram) AS BIGINT) AS exact_distinct,
        TRUE AS est_ok
      FROM g WHERE gram IS NOT NULL GROUP BY n ORDER BY n""",

    "q178_ngram_diversity" -> """
      WITH t AS (SELECT string_split(text, ' ') AS l FROM documents),
      g AS (
        SELECT CAST(n AS BIGINT) AS n,
          CASE WHEN n = 1 THEN l[i]
               WHEN n = 2 AND i + 1 <= len(l)
                 THEN l[i] || ' ' || l[i+1]
               WHEN n = 3 AND i + 2 <= len(l)
                 THEN l[i] || ' ' || l[i+1] || ' ' || l[i+2]
          END AS gram
        FROM t, unnest(generate_series(1, len(l))) AS gi(i),
             unnest([1, 2, 3]) AS gn(n)),
      c AS (
        SELECT n, gram, CAST(count(*) AS BIGINT) AS cnt
        FROM g WHERE gram IS NOT NULL GROUP BY 1, 2)
      SELECT n, CAST(sum(cnt) AS BIGINT) AS total_grams,
        CAST(count(*) AS BIGINT) AS distinct_grams,
        (CAST(count(*) AS BIGINT) * 1000000) // CAST(sum(cnt) AS BIGINT)
          AS distinct_ppm
      FROM c GROUP BY n ORDER BY n""",

    "q173_backoff_lm" -> """
      WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
      t3 AS (
        SELECT l[i] AS w1, l[i+1] AS w2, l[i+2] AS w3,
          CAST(count(*) AS BIGINT) AS c3
        FROM toks, unnest(generate_series(1, greatest(len(l) - 2, 0))) AS g(i)
        WHERE source = 'src0' GROUP BY 1, 2, 3),
      t2 AS (
        SELECT l[i] AS w1, l[i+1] AS w2, CAST(count(*) AS BIGINT) AS c2
        FROM toks, unnest(generate_series(1, greatest(len(l) - 1, 0))) AS g(i)
        WHERE source = 'src0' GROUP BY 1, 2),
      t1 AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c1
        FROM (SELECT unnest(l) AS tok FROM toks WHERE source = 'src0') t
        GROUP BY tok),
      nt AS (
        SELECT CAST(count(*) AS BIGINT) AS nn
        FROM (SELECT unnest(l) AS tok FROM toks WHERE source = 'src0') t),
      c AS (
        SELECT doc_id, l[i] AS w1, l[i+1] AS w2, l[i+2] AS w3
        FROM toks, unnest(generate_series(1, greatest(len(l) - 2, 0))) AS g(i)),
      scored AS (
        SELECT c.doc_id,
          CASE WHEN t3.c3 IS NOT NULL THEN 0
               WHEN b.c2 IS NOT NULL THEN 1
               WHEN lu.c1 IS NOT NULL THEN 2 ELSE 3 END AS lvl,
          CASE WHEN t3.c3 IS NOT NULL THEN (t3.c3 * 1000000) // ctx.c2
               WHEN b.c2 IS NOT NULL THEN (4 * b.c2 * 1000000) // (10 * mu.c1)
               WHEN lu.c1 IS NOT NULL THEN (16 * lu.c1 * 1000000) // (100 * nt.nn)
               ELSE 0 END AS sc
        FROM c
        LEFT JOIN t3 USING (w1, w2, w3)
        LEFT JOIN t2 ctx ON ctx.w1 = c.w1 AND ctx.w2 = c.w2
        LEFT JOIN t2 b ON b.w1 = c.w2 AND b.w2 = c.w3
        LEFT JOIN t1 mu ON mu.tok = c.w2
        LEFT JOIN t1 lu ON lu.tok = c.w3
        CROSS JOIN nt),
      t AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
          CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit3,
          CAST(sum(CASE WHEN lvl IN (1, 2) THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
          CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
          CAST(sum(sc) AS BIGINT) AS score_sum
        FROM scored GROUP BY doc_id)
      SELECT doc_id,
        coalesce(n_trigrams, CAST(0 AS BIGINT)) AS n_trigrams,
        coalesce(n_hit3, CAST(0 AS BIGINT)) AS n_hit3,
        coalesce(n_backoff, CAST(0 AS BIGINT)) AS n_backoff,
        coalesce(n_oov, CAST(0 AS BIGINT)) AS n_oov,
        coalesce(score_sum, CAST(0 AS BIGINT)) AS score_sum,
        coalesce(score_sum // n_trigrams, CAST(0 AS BIGINT)) AS avg_score
      FROM documents LEFT JOIN t USING (doc_id) ORDER BY doc_id""",

    "q122_lm_score" -> """
      WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
      b AS (
        SELECT l[i] AS w1, l[i+1] AS w2, CAST(count(*) AS BIGINT) AS cb
        FROM toks, unnest(generate_series(1, greatest(len(l) - 1, 0))) AS g(i)
        WHERE source = 'src0' GROUP BY 1, 2),
      u AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu FROM b GROUP BY w1),
      v AS (
        SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vs
        FROM (SELECT unnest(l) AS tok FROM toks WHERE source = 'src0') t),
      c AS (
        SELECT doc_id, l[i] AS w1, l[i+1] AS w2
        FROM toks, unnest(generate_series(1, greatest(len(l) - 1, 0))) AS g(i)),
      scored AS (
        SELECT c.doc_id,
          CASE WHEN b.cb IS NULL THEN 1 ELSE 0 END AS oov,
          ((coalesce(b.cb, 0) + 1) * 1000000) // (coalesce(u.cu, 0) + v.vs) AS sc
        FROM c LEFT JOIN b USING (w1, w2) LEFT JOIN u USING (w1) CROSS JOIN v),
      t AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          CAST(sum(oov) AS BIGINT) AS n_oov, CAST(sum(sc) AS BIGINT) AS score_sum
        FROM scored GROUP BY doc_id)
      SELECT doc_id,
        coalesce(n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
        coalesce(n_oov, CAST(0 AS BIGINT)) AS n_oov,
        coalesce(score_sum, CAST(0 AS BIGINT)) AS score_sum,
        coalesce(score_sum // n_bigrams, CAST(0 AS BIGINT)) AS avg_score
      FROM documents LEFT JOIN t USING (doc_id) ORDER BY doc_id""",

    "q171_packing_efficiency" -> """
      WITH toks AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM documents),
      cum AS (
        SELECT doc_id, n,
          CAST(sum(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS so
        FROM toks),
      caps AS (SELECT CAST(unnest([128, 256, 512]) AS BIGINT) AS capacity),
      agg AS (
        SELECT capacity, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n) AS BIGINT) AS total_tokens,
          CAST(sum(CASE WHEN so // capacity
                   <> (so + greatest(n, 1) - 1) // capacity
                   THEN 1 ELSE 0 END) AS BIGINT) AS straddling_docs
        FROM cum, caps GROUP BY capacity)
      SELECT capacity, n_docs, total_tokens,
        CAST(CASE WHEN total_tokens > 0
             THEN (total_tokens - 1) // capacity + 1 ELSE 0 END
          AS BIGINT) AS n_bins,
        CAST(CASE WHEN total_tokens > 0
             THEN (1000000 * total_tokens)
               // (((total_tokens - 1) // capacity + 1) * capacity)
             ELSE 0 END AS BIGINT) AS fill_ppm,
        straddling_docs
      FROM agg ORDER BY capacity""",

    "q186_packing_spans" -> """
      WITH t AS (
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM documents),
      cum AS (
        SELECT doc_id, n,
          CAST(sum(n) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS s
        FROM t),
      b AS (
        SELECT doc_id, n, s, s // 256 AS fb, (s + n - 1) // 256 AS lb
        FROM cum WHERE n > 0),
      x AS (
        SELECT doc_id, n, s, fb, lb, unnest(generate_series(fb, lb)) AS bin
        FROM b)
      SELECT CAST(bin AS BIGINT) AS bin, doc_id,
        CAST(greatest(s - bin * 256, 0) AS BIGINT) AS start_in_bin,
        CAST(least(s + n, (bin + 1) * 256) - greatest(s, bin * 256) AS BIGINT)
          AS len_in_bin
      FROM x ORDER BY bin, start_in_bin""",

    "q121_seq_pack" -> """
      WITH t AS (
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM documents),
      cum AS (
        SELECT doc_id, n,
          CAST(sum(n) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS s
        FROM t),
      b AS (
        SELECT doc_id, n, s, s // 256 AS fb, (s + n - 1) // 256 AS lb
        FROM cum WHERE n > 0),
      x AS (
        SELECT doc_id, n, s, fb, lb, unnest(generate_series(fb, lb)) AS bin
        FROM b)
      SELECT bin,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN fb = bin THEN 1 ELSE 0 END) AS BIGINT) AS n_starting,
        CAST(sum(least(s + n, (bin + 1) * 256) - greatest(s, bin * 256)) AS BIGINT) AS n_tokens
      FROM x GROUP BY bin ORDER BY bin""",

    "q259_rake_keywords" -> """
      WITH dd AS MATERIALIZED (
        SELECT doc_id,
          string_split_regex(lower(text), '[^a-z0-9 ]+') AS fl
        FROM documents WHERE text IS NOT NULL),
      fr AS MATERIALIZED (
        SELECT doc_id, fi, string_split(fl[fi], ' ') AS l
        FROM dd, unnest(generate_series(1, len(fl))) AS g(fi)),
      tk AS MATERIALIZED (
        SELECT doc_id, fi, i, l[i] AS w,
          (l[i] = '' OR l[i] IN ('the', 'a', 'of', 'to', 'in')) AS stop
        FROM fr, unnest(generate_series(1, len(l))) AS h(i)),
      runs AS MATERIALIZED (
        SELECT doc_id, fi, i, w, stop,
          sum(CASE WHEN stop THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id, fi ORDER BY i) AS run
        FROM tk),
      ph AS MATERIALIZED (
        SELECT doc_id, fi, run, string_agg(w, ' ' ORDER BY i) AS phrase,
          CAST(count(*) AS BIGINT) AS len
        FROM runs WHERE NOT stop GROUP BY 1, 2, 3),
      phf AS MATERIALIZED (
        SELECT phrase, len FROM ph WHERE len <= 6),
      wstat AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS freq,
          CAST(sum(len) AS BIGINT) AS deg
        FROM (SELECT len, unnest(string_split(phrase, ' ')) AS w
              FROM phf) x
        GROUP BY 1),
      pt AS MATERIALIZED (
        SELECT phrase, CAST(max(len) AS BIGINT) AS n_words,
          CAST(count(*) AS BIGINT) AS n_occurrences
        FROM phf GROUP BY 1),
      pw AS (
        SELECT phrase, n_words, n_occurrences,
          unnest(string_split(phrase, ' ')) AS w
        FROM pt),
      sc AS (
        SELECT pw.phrase, pw.n_words, pw.n_occurrences,
          CAST(sum((deg * 1000000) // freq) AS BIGINT) AS score_ppm
        FROM pw JOIN wstat USING (w) GROUP BY 1, 2, 3)
      SELECT phrase, n_words, n_occurrences, score_ppm
      FROM sc ORDER BY score_ppm DESC, phrase LIMIT 50""",

    "q251_readability" -> """
      WITH c AS (
        SELECT source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
          CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS st,
          CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
            AS BIGINT) AS y
        FROM documents),
      f AS (
        SELECT source, w, st, y,
          206835 - (1015 * greatest(w, 1)) // greatest(st, 1)
                 - (84600 * y) // greatest(w, 1) AS fm
        FROM c)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(w) AS BIGINT) AS n_words,
        CAST(sum(st) AS BIGINT) AS n_sentences,
        CAST(sum(y) AS BIGINT) AS n_syllables,
        CAST(sum(CAST(fm + 1000000000000 AS HUGEINT)) // count(*)
          - 1000000000000 AS BIGINT) AS mean_flesch_milli,
        CAST(min(fm) AS BIGINT) AS min_flesch_milli,
        CAST(max(fm) AS BIGINT) AS max_flesch_milli
      FROM f GROUP BY source ORDER BY source""",

    "q32_token_stats" -> """
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS DOUBLE)
          / len(string_split(text, ' ')) AS avg_token_len,
        CAST(length(text) AS BIGINT) AS n_chars_computed
      FROM documents ORDER BY doc_id""",

    "q33_quality_score" -> s"""
      WITH t AS (
        SELECT doc_id, text, string_split(text, ' ') AS toks,
          CAST(len(list_filter(string_split(text, ' '),
            x -> list_contains($StopwordsSql, x))) AS DOUBLE)
            / len(string_split(text, ' ')) AS swr,
          CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
            / greatest(length(text), 1) AS pr
        FROM documents)
      SELECT doc_id, swr AS stopword_ratio, pr AS punct_ratio,
        0.5 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
          + 0.3 * least(swr * 3.0, 1.0)
          + 0.2 * (1.0 - pr) AS quality
      FROM t ORDER BY doc_id""",

    "q293_frequency_spectrum" -> """
      WITH la AS (
        SELECT list_filter(string_split(text, ' '), x -> x <> '') AS arr
        FROM documents WHERE text IS NOT NULL),
      tk AS (
        SELECT unnest(list_transform(range(len(arr) - 3),
          i -> array_to_string(arr[i+1:i+4], ' '))) AS tok
        FROM la WHERE len(arr) >= 4),
      ct AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS r FROM tk GROUP BY 1),
      spx AS (
        SELECT least(r, 11) AS r_bucket,
          CAST(count(*) AS BIGINT) AS n_types,
          CAST(sum(r) AS BIGINT) AS n_tokens
        FROM ct GROUP BY 1),
      tot AS (
        SELECT CAST(sum(n_types) AS BIGINT) AS tt,
          CAST(sum(n_tokens) AS BIGINT) AS tn FROM spx)
      SELECT r_bucket, n_types, n_tokens,
        (n_types * 1000000) // tt AS type_share_ppm,
        (n_tokens * 1000000) // tn AS token_share_ppm
      FROM spx CROSS JOIN tot ORDER BY r_bucket""",

    "q290_gate_agreement" -> s"""
      WITH t AS (
        SELECT source, n_chars >= 300 AS a,
          (CAST(len(list_filter(string_split(text, ' '),
            x -> list_contains($StopwordsSql, x))) AS DOUBLE)
            / len(string_split(text, ' '))) >= 0.15 AS b
        FROM documents WHERE source IS NOT NULL),
      ct AS (
        SELECT source, a, b, CAST(count(*) AS HUGEINT) AS c
        FROM t WHERE a IS NOT NULL AND b IS NOT NULL GROUP BY 1, 2, 3),
      nn AS (SELECT source, sum(c) AS n FROM ct GROUP BY 1),
      dg AS (SELECT source, sum(c) AS o FROM ct WHERE a = b GROUP BY 1),
      ma AS (SELECT source, a AS k, sum(c) AS ra FROM ct GROUP BY 1, 2),
      mb AS (SELECT source, b AS k, sum(c) AS cb FROM ct GROUP BY 1, 2),
      pc AS (
        SELECT ma.source, sum(ra * cb) AS p
        FROM ma JOIN mb ON ma.source = mb.source AND ma.k = mb.k
        GROUP BY 1)
      SELECT nn.source, CAST(n AS BIGINT) AS n,
        CAST((1000000 * coalesce(o, 0)) // n AS BIGINT) AS po_ppm,
        CAST((1000000 * coalesce(p, 0)) // (n * n) AS BIGINT) AS pe_ppm,
        CASE WHEN (n * n - coalesce(p, 0)) > 0 THEN
          CASE WHEN (n * coalesce(o, 0) - coalesce(p, 0)) >= 0
            THEN CAST((1000 * (n * coalesce(o, 0) - coalesce(p, 0)))
              // (n * n - coalesce(p, 0)) AS BIGINT)
            ELSE -CAST((1000 * (-(n * coalesce(o, 0) - coalesce(p, 0))))
              // (n * n - coalesce(p, 0)) AS BIGINT)
          END END AS kappa_milli
      FROM nn LEFT JOIN dg ON nn.source = dg.source
      LEFT JOIN pc ON nn.source = pc.source
      ORDER BY nn.source""",

    "q264_lang_confusion" -> s"""
      WITH t AS (
        SELECT lang,
          CAST(len(list_filter(string_split(text, ' '),
            x -> list_contains($StopwordsSql, x))) AS DOUBLE)
            / len(string_split(text, ' ')) AS swr
        FROM documents WHERE lang IS NOT NULL),
      sc AS (
        SELECT lang AS labeled_lang,
          CASE WHEN swr >= 0.15 THEN 'en'
               WHEN swr >= 0.05 THEN 'mixed'
               ELSE 'other' END AS predicted_lang
        FROM t),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM sc)
      SELECT labeled_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n,
        (CAST(count(*) AS BIGINT) * 1000000) // tt AS cell_ppm
      FROM sc CROSS JOIN tot GROUP BY labeled_lang, predicted_lang, tt
      ORDER BY labeled_lang, predicted_lang""",

    "q34_lang_id" -> s"""
      WITH t AS (
        SELECT doc_id, lang,
          CAST(len(list_filter(string_split(text, ' '),
            x -> list_contains($StopwordsSql, x))) AS DOUBLE)
            / len(string_split(text, ' ')) AS swr
        FROM documents)
      SELECT doc_id, lang AS labeled_lang,
        CASE WHEN swr >= 0.15 THEN 'en'
             WHEN swr >= 0.05 THEN 'mixed'
             ELSE 'other' END AS predicted_lang
      FROM t ORDER BY doc_id""",

    "q35_fingerprint" -> s"""
      WITH toks AS (
        SELECT doc_id,
          unnest(string_split(text, ' ')) AS tok,
          CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos
        FROM documents),
      vocab AS (
        SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS BIGINT) AS tid
        FROM (SELECT DISTINCT tok FROM toks))
      SELECT doc_id, CAST(sum(tid * pos) % ${Dedup.P} AS BIGINT) AS fingerprint,
        count(*) AS n_tokens
      FROM toks JOIN vocab USING (tok)
      GROUP BY doc_id ORDER BY doc_id""",

    "q84_chunk_dedup" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      chunks AS (
        SELECT doc_id, i AS chunk_idx,
          array_to_string(l[(i*16+1):(i*16+16)], ' ') AS chunk
        FROM t, unnest(generate_series(0, (len(l)-1)//16)) AS u(i)),
      k AS (
        SELECT doc_id,
          CASE WHEN row_number() OVER (PARTITION BY chunk
            ORDER BY doc_id, chunk_idx) = 1 THEN 1 ELSE 0 END AS keep
        FROM chunks)
      SELECT doc_id, count(*) AS n_chunks,
        CAST(sum(keep) AS BIGINT) AS kept_chunks,
        CAST(sum(keep) AS DOUBLE) / count(*) AS retained_frac
      FROM k GROUP BY doc_id ORDER BY doc_id""",

    "q88_inverted_index" -> """
      WITH raw AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      toks AS (SELECT DISTINCT doc_id, term FROM raw WHERE term <> '')
      SELECT term, count(*) AS df,
        array_to_string(list_transform(list_sort(list(doc_id))[1:10],
          x -> CAST(x AS VARCHAR)), ',') AS postings
      FROM toks GROUP BY term ORDER BY term""",

    "q91_token_gini" -> """
      WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
      tc AS (SELECT source, term, count(*) AS c
        FROM toks WHERE term <> '' GROUP BY 1, 2)
      SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_terms,
        CAST(1 AS DOUBLE) - CAST(sum(c*c) AS DOUBLE)
          / CAST(sum(c) * sum(c) AS DOUBLE) AS gini
      FROM tc GROUP BY source ORDER BY source""",

    "q108_heavy_hitters" -> """
      WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      t AS (SELECT tok FROM toks WHERE tok <> ''),
      tot AS (SELECT count(*) AS n FROM t)
      SELECT tok, count(*) AS c FROM t
      GROUP BY tok HAVING count(*) * 50 > (SELECT n FROM tot)
      ORDER BY tok""",

    "q109_group_heavy_hitters" -> """
      WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
      t AS (SELECT source, tok FROM toks WHERE tok <> ''),
      g AS (SELECT source, count(*) AS gn FROM t GROUP BY 1),
      c AS (SELECT source, tok, count(*) AS c FROM t GROUP BY 1, 2)
      SELECT c.source, c.tok, c.c
      FROM c JOIN g USING (source)
      WHERE c.c * 50 > g.gn
      ORDER BY c.source, c.tok""",

    "q79_repetition" -> s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      tc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
      top AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_c,
        CAST(sum(c) AS BIGINT) AS n_toks FROM tc GROUP BY 1),
      shw AS (
        SELECT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
          unnest(generate_series(1, greatest(len(l) - 2, 0))) AS w(i)),
      ids0 AS (
        SELECT doc_id,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(shingle, ''),
              x -> CAST(unicode(x) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % ${Dedup.M}) AS tid
        FROM shw),
      shstats AS (
        SELECT doc_id, count(*) AS n_sh, count(DISTINCT tid) AS n_dist
        FROM ids0 GROUP BY 1)
      SELECT d.doc_id,
        coalesce(1.0 - CAST(s.n_dist AS DOUBLE) / s.n_sh, 0.0) AS dup_3gram_frac,
        CAST(t.top_c AS DOUBLE) / t.n_toks AS top_token_frac,
        t.top_c
      FROM documents d
      LEFT JOIN shstats s ON s.doc_id = d.doc_id
      JOIN top t ON t.doc_id = d.doc_id
      ORDER BY d.doc_id""",

    "q78_winnowing" -> s"""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      sh AS (
        SELECT doc_id, i AS pos,
          l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
        FROM toks, unnest(generate_series(1, greatest(len(l) - 2, 0))) AS t(i)),
      h AS (
        SELECT doc_id, pos,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(shingle, ''),
              x -> CAST(unicode(x) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % ${Dedup.M}) AS hv
        FROM sh),
      wins AS (
        SELECT doc_id, pos,
          min(hv) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
          count(*) OVER (PARTITION BY doc_id) AS m
        FROM h)
      SELECT DISTINCT doc_id, fp AS fingerprint
      FROM wins WHERE pos <= m - 3
      ORDER BY doc_id, fingerprint""",

    "q77_bpe_tokens" -> """
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
        CAST(len(regexp_extract_all(text,
          '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 '']+| '))
          AS BIGINT) AS n_bpe,
        CAST(length(text) AS DOUBLE)
          / greatest(len(regexp_extract_all(text,
              '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 '']+| ')), 1)
          AS chars_per_tok
      FROM documents ORDER BY doc_id""",

    "q112_text_clean" -> s"""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      f AS (
        SELECT doc_id, toks,
          list_filter(toks, x -> NOT list_contains($StopwordsSql, x)) AS ns
        FROM t),
      c AS (
        SELECT doc_id, toks,
          list_filter(ns, (x, i) ->
            CASE WHEN i = 1 THEN true ELSE x <> ns[i-1] END) AS cl
        FROM f)
      SELECT doc_id, array_to_string(cl, ' ') AS cleaned_text,
        CAST(len(toks) AS BIGINT) AS n_orig,
        CAST(len(cl) AS BIGINT) AS n_clean,
        CAST(len(toks) - len(cl) AS DOUBLE) / len(toks) AS removed_frac
      FROM c ORDER BY doc_id""",

    "q138_pii_scrub" -> s"""
      WITH raw AS (
        SELECT doc_id, ${piiRawExpr("VARCHAR")} AS raw FROM documents),
      s AS (
        SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(raw,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>', 'g'),
          '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '<IP>', 'g'),
          '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
        FROM raw)
      SELECT doc_id, scrubbed,
        CAST(len(string_split(scrubbed, '<EMAIL>')) - 1 AS BIGINT) AS n_email,
        CAST(len(string_split(scrubbed, '<IP>')) - 1 AS BIGINT) AS n_ip,
        CAST(len(string_split(scrubbed, '<PHONE>')) - 1 AS BIGINT) AS n_phone
      FROM s ORDER BY doc_id""",

    "q140_quality_classifier" -> s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      s AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(toks, tok ->
              (list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(tok, ''),
                   x -> CAST(unicode(x) AS BIGINT))),
                 (acc, c) -> (acc * 31 + c) % ${graft.operators.Dedup.M}) % 1024)
                * 2654435761 % 1000 - 500)),
            (a, w) -> a + w) AS quality_score
        FROM t)
      SELECT doc_id, quality_score, n_tokens,
        CAST(quality_score AS DOUBLE) / n_tokens AS q_logit,
        quality_score > 0 AS label
      FROM s ORDER BY doc_id""",

    "q146_ccnet_buckets" -> s"""
      WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
      b AS (
        SELECT l[i] AS w1, l[i+1] AS w2, CAST(count(*) AS BIGINT) AS cb
        FROM toks, unnest(generate_series(1, greatest(len(l) - 1, 0))) AS g(i)
        WHERE source = 'src0' GROUP BY 1, 2),
      u AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu FROM b GROUP BY w1),
      v AS (
        SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vs
        FROM (SELECT unnest(l) AS tok FROM toks WHERE source = 'src0') t),
      c AS (
        SELECT doc_id, l[i] AS w1, l[i+1] AS w2
        FROM toks, unnest(generate_series(1, greatest(len(l) - 1, 0))) AS g(i)),
      scored AS (
        SELECT c.doc_id,
          ((coalesce(b.cb, 0) + 1) * 1000000) // (coalesce(u.cu, 0) + v.vs) AS sc
        FROM c LEFT JOIN b USING (w1, w2) LEFT JOIN u USING (w1) CROSS JOIN v),
      t AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          CAST(sum(sc) AS BIGINT) AS score_sum
        FROM scored GROUP BY doc_id),
      sc2 AS (
        SELECT d.doc_id, d.lang,
          coalesce(t.score_sum // t.n_bigrams, CAST(0 AS BIGINT)) AS avg_score
        FROM documents d LEFT JOIN t USING (doc_id)),
      th AS (
        SELECT lang, quantile_disc(avg_score, ${1.0 / 3}) AS t1,
               quantile_disc(avg_score, ${2.0 / 3}) AS t2
        FROM sc2 GROUP BY lang)
      SELECT lang,
        CASE WHEN avg_score > t2 THEN 'head'
             WHEN avg_score > t1 THEN 'middle'
             ELSE 'tail' END AS bucket,
        count(*) AS n_docs, CAST(min(avg_score) AS BIGINT) AS lo_score,
        CAST(max(avg_score) AS BIGINT) AS hi_score
      FROM sc2 JOIN th USING (lang)
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "q145_token_budget" -> s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      s AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(toks, tok ->
              (list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(tok, ''),
                   x -> CAST(unicode(x) AS BIGINT))),
                 (acc, c) -> (acc * 31 + c) % ${graft.operators.Dedup.M}) % 1024)
                * 2654435761 % 1000 - 500)),
            (a, w) -> a + w) AS score
        FROM t),
      cum AS (
        SELECT doc_id, score, n_tokens,
          SUM(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cost
        FROM s)
      SELECT doc_id, score, n_tokens, CAST(cum_cost AS BIGINT) AS cum_cost
      FROM cum WHERE cum_cost <= 10000 ORDER BY doc_id""",

    "q141_dsir_importance" -> s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      sh AS (
        SELECT doc_id, array_to_string(l[i:i+1], ' ') AS g
        FROM t, unnest(generate_series(1, greatest(len(l) - 1, 0))) AS u(i)),
      b AS (
        SELECT doc_id,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(g, ''),
              x -> CAST(unicode(x) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % ${graft.operators.Dedup.M}) % 4096 AS bkt
        FROM sh),
      m AS (
        SELECT bkt,
          (1000000 * (sum(CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END) + 1))
            // (sum(CASE WHEN doc_id % 50 <> 0 THEN 1 ELSE 0 END) + 1) AS contrib
        FROM b GROUP BY bkt),
      sc AS (
        SELECT b.doc_id, count(*) AS n_grams, sum(m.contrib) AS imp_score
        FROM b JOIN m USING (bkt) WHERE b.doc_id % 50 <> 0
        GROUP BY b.doc_id)
      SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        CAST(imp_score AS BIGINT) AS imp_score,
        CAST(imp_score AS DOUBLE) / n_grams AS imp_per_gram
      FROM sc ORDER BY doc_id""",

    "q115_text_clean_native" -> s"""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      f AS (
        SELECT doc_id, toks,
          list_filter(toks, x -> NOT list_contains($StopwordsSql, x)) AS ns
        FROM t),
      c AS (
        SELECT doc_id, toks,
          list_filter(ns, (x, i) ->
            CASE WHEN i = 1 THEN true ELSE x <> ns[i-1] END) AS cl
        FROM f)
      SELECT doc_id, array_to_string(cl, ' ') AS cleaned_text,
        CAST(len(toks) AS BIGINT) AS n_orig,
        CAST(len(cl) AS BIGINT) AS n_clean,
        CAST(len(toks) - len(cl) AS DOUBLE) / len(toks) AS removed_frac
      FROM c ORDER BY doc_id""",

    "q271_quantile_normalize" -> """
      WITH b AS (
        SELECT source AS g,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS v
        FROM documents WHERE source IS NOT NULL),
      vt AS (
        SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
      cum AS (
        SELECT g, v, c,
          coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp,
          sum(c) OVER (PARTITION BY g) AS n
        FROM vt),
      p AS (
        SELECT g, v, c, ((2 * cp + c + 1) * 1000000) // (2 * n) AS p
        FROM cum),
      gv AS (
        SELECT v, CAST(count(*) AS BIGINT) AS gc FROM b GROUP BY 1),
      gcum AS (
        SELECT v, gc,
          coalesce(sum(gc) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gcp
        FROM gv),
      nt AS (SELECT CAST(count(*) AS BIGINT) AS N FROM b),
      pr AS (
        SELECT g, v, c, p,
          greatest(1, (p * N + 999999) // 1000000) AS R
        FROM p CROSS JOIN nt)
      SELECT pr.g AS source, pr.v AS n_toks, CAST(pr.c AS BIGINT) AS n,
        CAST(pr.p AS BIGINT) AS p_ppm, gcum.v AS normalized
      FROM pr JOIN gcum
        ON pr.R > gcum.gcp AND pr.R <= gcum.gcp + gcum.gc
      ORDER BY source, n_toks""",

    "q113_sliding_chunks" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        CAST(i*24 + 1 AS BIGINT) AS token_start,
        CAST(least(32, len(l) - i*24) AS BIGINT) AS n_chunk_tokens,
        array_to_string(l[(i*24+1):(i*24+32)], ' ') AS chunk
      FROM t, unnest(generate_series(0, (len(l)-1)//24)) AS u(i)
      ORDER BY doc_id, chunk_idx""",

    "q114_sampling_weights" -> """
      WITH s AS (
        SELECT source,
          CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
            AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      r AS (
        SELECT source, n_tokens,
          CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT) AS rt
        FROM s),
      tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n,
        CAST(sum(rt) AS BIGINT) AS rsum FROM r)
      SELECT source, n_tokens,
        CAST(n_tokens AS DOUBLE) / n AS p_natural,
        CAST(rt AS DOUBLE) / rsum AS p_target,
        (CAST(rt AS DOUBLE) / rsum) * (CAST(n AS DOUBLE) / n_tokens) AS sample_weight
      FROM r CROSS JOIN tot ORDER BY source""",

    "q117_mixture_apply" -> """
      WITH s AS (
        SELECT source,
          CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
            AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      r AS (
        SELECT source, n_tokens,
          CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT) AS rt
        FROM s),
      tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n,
        CAST(sum(rt) AS BIGINT) AS rsum FROM r),
      w AS (
        SELECT source,
          (CAST(rt AS DOUBLE) / rsum) * (CAST(n AS DOUBLE) / n_tokens) AS wgt
        FROM r CROSS JOIN tot)
      SELECT d.doc_id, d.source,
        CAST(floor(wgt) + CASE WHEN
          (d.doc_id * 1000003 + 17) % 1000000007 % 1000000 <
            CAST(floor((wgt - floor(wgt)) * 1000000.0) AS BIGINT)
          THEN 1 ELSE 0 END AS BIGINT) AS n_copies
      FROM documents d JOIN w USING (source)
      ORDER BY d.doc_id""",

    "q75_tfidf" -> """
      WITH terms AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      t AS (SELECT doc_id, term, count(*) AS tf
            FROM terms WHERE term <> '' GROUP BY 1, 2),
      d AS (SELECT term, count(DISTINCT doc_id) AS df
            FROM terms WHERE term <> '' GROUP BY 1),
      n AS (SELECT count(*) AS n_docs FROM documents),
      scored AS (
        SELECT t.doc_id, t.term, CAST(t.tf AS BIGINT) AS tf,
          CAST(d.df AS BIGINT) AS df,
          CAST(t.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / d.df) AS w
        FROM t JOIN d USING (term) CROSS JOIN n),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY w DESC, term ASC) AS rank
        FROM scored)
      SELECT doc_id, rank, term, tf, df, w FROM ranked
      WHERE rank <= 3 ORDER BY doc_id, rank""")
}
