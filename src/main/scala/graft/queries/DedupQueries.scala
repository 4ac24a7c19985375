package graft.queries

import graft.Tables
import graft.operators.Dedup
import graft.runtime.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication inventory over documents (SURVEY.md §2 B15 + the
  * training-data-pipeline ops): exact hash dedup, MinHash signatures,
  * LSH candidate pairs, SimHash, and exact n-gram Jaccard. All hashing is
  * integer arithmetic over content-derived shingle ids (Dedup.polyHash, a
  * base-31 code-point fold) that DuckDB reproduces bit-for-bit — no
  * vocabulary pass on either engine.
  */
object DedupQueries extends QueryGroup {

  private val P = Dedup.P
  private val M = Dedup.M

  /** Shared oracle SQL prelude: exploded 3-shingles hashed to tids with the
    * same polynomial fold Dedup.polyHash computes in Spark (unicode() ==
    * ascii() per code point; list_prepend supplies the 0 seed). DISTINCT at
    * the (doc_id, tid) level matches shingleIdsPoly(distinct = true).
    */
  /** The q119 fixed-point PageRank pipeline over an arbitrary doc set
    * — shared by the full-corpus query and the q306 sf1 evidence twin.
    * Returns one (doc_id, deg, rank_fp) row per input doc, unordered.
    */
  private def graphRank(docs: DataFrame): DataFrame = {
    val S = 1000000000000L
    val ids = Dedup.shingleIdsPoly(docs, "doc_id", "text", distinct = false)
    val sigs = Dedup.minhashSignatures(ids, "doc_id", numHashes = 8)
    val pairs = Dedup.lshCandidatePairs(sigs, "doc_id", numHashes = 8, rowsPerBand = 2)
    // The edge list is edge-set-sized (tiny vs the corpus) but carries
    // the whole shingle->signature->banding lineage; localCheckpoint it
    // once (the connectedComponents pattern) so the three iterations
    // join against the materialized RDD instead of re-running the LSH
    // pipeline per step — without it the executed plan re-scans the
    // corpus 36 times.
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .transform(Materialize.seam)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .transform(Materialize.seam)
    val nTab = docs.agg(count(lit(1)).as("__n"))
    val nodes = docs.select(col("doc_id"))
    val r0 = nodes.crossJoin(broadcast(nTab))
      .select(col("doc_id"), expr(s"${S}L div __n").as("r"))
    def step(prev: DataFrame): DataFrame = {
      val inflow = edges
        .join(prev.withColumnRenamed("doc_id", "src"), "src")
        .join(deg, "src")
        .select(col("dst").as("doc_id"), expr("r div deg").as("c"))
        .groupBy(col("doc_id")).agg(sum(col("c")).as("inflow"))
      nodes.join(inflow, Seq("doc_id"), "left").crossJoin(broadcast(nTab))
        .select(col("doc_id"),
          expr(s"((${S}L * 15) div 100) div __n + (85 * coalesce(inflow, 0L)) div 100")
            .as("r"))
    }
    val r3 = step(step(step(r0)))
    r3.join(deg.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("deg"), lit(0L)).cast("long").as("deg"),
        col("r").cast("long").as("rank_fp"))
  }

  private val ShingleCte = s"""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      sh AS (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)),
            i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingle
        FROM toks),
      ids AS (
        SELECT DISTINCT doc_id,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(string_split(shingle, ''),
                x -> CAST(unicode(x) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % $M) AS tid
        FROM sh)"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q165_typo_pairs" -> { (s, d) =>
      // Exact edit-distance<=1 similarity self-join over the customer
      // name dictionary (FastSS deletion neighborhoods — no cross join;
      // the oracle IS the cross join, so the hash compare proves the
      // neighborhood filter loses nothing). Digit-position variants of
      // the Customer#... keys give a dense, non-trivial pair set.
      // localCheckpoint before the oracle sort: the range partitioner's
      // sampling pass would otherwise recompute the whole join+verify
      // pipeline (measured 2x at sf1 — pairs are ~3.3M rows there, the
      // join feed ~15M).
      graft.operators.EditDistance.pairs(
          Tables.customer(s, d).select(col("c_name")), "c_name", tau = 1)
        .transform(Materialize.seam)
        .orderBy(col("s_a"), col("s_b"))
    },

    "q170_typo_pairs_incremental" -> { (s, d) =>
      // q165 in the recurring-ingest shape: customers with
      // c_custkey % 10 == 0 arrive as the new batch against the rest as
      // history. Batch variants probe the union's variants — candidate
      // volume stays |batch|-proportional, history x history is never
      // generated (the q97/q130/q161 incremental contract).
      val cust = Tables.customer(s, d)
      graft.operators.EditDistance.pairsIncremental(
          cust.where(col("c_custkey") % 10 === 0).select(col("c_name")),
          cust.where(col("c_custkey") % 10 =!= 0).select(col("c_name")),
          "c_name", tau = 1)
        .transform(Materialize.seam)
        .orderBy(col("s_a"), col("s_b"))
    },

    "q166_typo_pairs_tau2" -> { (s, d) =>
      // tau=2 path of q165 over the part-name dictionary: short
      // multi-word keys where 2-deletion neighborhoods collapse heavily
      // (worst-case regime from the operator scaladoc) — the verify
      // step must discard nearly all candidates and still hash-match
      // the exact cross-join oracle.
      graft.operators.EditDistance.pairs(
          Tables.part(s, d).select(col("p_name")), "p_name", tau = 2)
        .orderBy(col("s_a"), col("s_b"))
    },

    "q36_exact_dedup" -> { (s, d) =>
      // Corpus-level stats: hash full text to md5, count collision groups.
      // The exchange moves 16-byte digests, not documents.
      Tables.documents(s, d)
        .select(md5(col("text")).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_distinct_texts"),
          sum(col("n")).as("n_docs"),
          sum(when(col("n") > 1, col("n") - 1).otherwise(0L)).as("n_redundant"))
    },

    "q37_minhash_signatures" -> { (s, d) =>
      val ids = Dedup.shingleIdsPoly(Tables.documents(s, d), "doc_id", "text",
        distinct = false) // min() is duplicate-insensitive: no dedup shuffle
      Dedup.minhashSignatures(ids, "doc_id", numHashes = 8)
        .orderBy(col("doc_id"))
    },

    "q38_lsh_pairs" -> { (s, d) =>
      val ids = Dedup.shingleIdsPoly(Tables.documents(s, d), "doc_id", "text",
        distinct = false)
      val sigs = Dedup.minhashSignatures(ids, "doc_id", numHashes = 8)
      Dedup.lshCandidatePairs(sigs, "doc_id", numHashes = 8, rowsPerBand = 2)
        .orderBy(col("id_a"), col("id_b"))
    },

    "q279_split_leakage" -> { (s, d) =>
      // Eval-hygiene gate (B108): an 80/20 hash split is uniform over
      // documents, but near-dup PAIRS straddling the boundary leak
      // training text into the test set (Lee et al. 2021). One summary
      // row: split sizes, q38's banded-LSH candidate pairs, straddling
      // count + ppm. Pair-table-sized joins only.
      val docs = Tables.documents(s, d)
      val ids = Dedup.shingleIdsPoly(docs, "doc_id", "text",
        distinct = false)
      val sigs = Dedup.minhashSignatures(ids, "doc_id", numHashes = 8)
      val pairs = Dedup.lshCandidatePairs(sigs, "doc_id", numHashes = 8,
        rowsPerBand = 2)
      graft.operators.Splits.leakageAudit(
        graft.operators.Splits.hashSplit(docs, "doc_id",
          trainPermille = 800),
        pairs, "doc_id")
    },

    "q152_lsh_tuning" -> { (s, d) =>
      // LSH design surface: bucket stats + candidate volume for every
      // (bands × rows) split of the 8-hash signature, off ONE shared
      // signature table. All-integer outputs; run UNCAPPED — the grid's
      // point is to SEE the bucket skew the production cap would bound.
      val ids = Dedup.shingleIdsPoly(Tables.documents(s, d), "doc_id", "text",
        distinct = false)
      val sigs = Dedup.minhashSignatures(ids, "doc_id", numHashes = 8)
      Dedup.lshTuningGrid(sigs, "doc_id", numHashes = 8, Seq(1, 2, 4, 8))
        .orderBy(col("rows_per_band"))
    },

    "q67_minhash_narrow" -> { (s, d) =>
      // Fourth path to the same signature table: the fully NARROW per-row
      // form (HOFs only — no explode, no shuffle, no aggregation), the
      // signature path streaming ingest uses. Same oracle as q37/q41a/q41b.
      val docs = Tables.documents(s, d)
      docs.filter(size(split(col("text"), " ")) >= 3)
        .select(col("doc_id"),
          Dedup.minhashSignatureCol(col("text"), numHashes = 8).as("sig"))
        .select(col("doc_id") +:
          (0 until 8).map(i => element_at(col("sig"), i + 1).as(s"h$i")): _*)
        .orderBy(col("doc_id"))
    },

    "q39_simhash" -> { (s, d) =>
      // Native fused kernel (one narrow pass; in-row distinct) — the
      // aggregated set-table form (Dedup.simhash) computes the identical
      // hash and is parity-tested in DedupSimilaritySpec.
      Tables.documents(s, d)
        .filter(size(split(col("text"), " ")) >= 3)
        .select(col("doc_id"), Dedup.simhashCol(col("text"), nBits = 16).as("simhash"))
        .orderBy(col("doc_id"))
    },

    "q41b_minhash_native" -> { (s, d) =>
      // Third path to the same signatures: the native
      // TypedImperativeAggregate (raw long-array buffer, no Encoder).
      val ids = Dedup.shingleIdsPoly(Tables.documents(s, d), "doc_id", "text",
        distinct = false)
      Dedup.minhashSignaturesNative(ids, "doc_id").orderBy(col("doc_id"))
    },

    "q41a_minhash_udaf" -> { (s, d) =>
      // Same signatures as q37, computed through the typed Aggregator
      // (custom-UDAF surface, §2 B19): one k-vector aggregate instead of
      // k min() columns; the shuffle carries one array per doc.
      import org.apache.spark.sql.functions.udaf
      val agg = udaf(new graft.functions.MinHashAggregator(8))
      val ids = Dedup.shingleIdsPoly(Tables.documents(s, d), "doc_id", "text",
        distinct = false)
      val sigs = ids.groupBy(col("doc_id")).agg(agg(col("tid")).as("sig"))
      sigs.select(col("doc_id") +:
          (0 until 8).map(i => col("sig").getItem(i).as(s"h$i")): _*)
        .orderBy(col("doc_id"))
    },

    "q73_lsh_capped" -> { (s, d) =>
      // The capped banding (maxPerBucket): every (band, bkey) bucket keeps
      // its lowest-2 ids before pairing — the batch form of the streaming
      // state cap, and the 100 TB safety valve against degenerate
      // (boilerplate) buckets going quadratic. cap=2 so the semantics bind
      // on any bucket of >= 3 members; the oracle replays the same
      // row_number() <= 2 rule in SQL.
      val ids = Dedup.shingleIdsPoly(Tables.documents(s, d), "doc_id", "text",
        distinct = false)
      val sigs = Dedup.minhashSignatures(ids, "doc_id", numHashes = 8)
      Dedup.lshCandidatePairs(sigs, "doc_id", numHashes = 8, rowsPerBand = 2,
          maxPerBucket = 2)
        .orderBy(col("id_a"), col("id_b"))
    },

    "q244_exact_jaccard_join" -> { (s, d) =>
      // EXACT all-pairs Jaccard >= 0.4 over the shingle sets — the
      // lossless complement of q38's banded LSH (a band can miss a
      // true pair; a decontamination gate can't afford that). Prefix
      // filtering (Bayardo 2007/PPJoin): candidates join on each
      // record's RAREST shingles only, then verify exactly. The oracle
      // is the independent brute form (any-shared-shingle pairs +
      // exact verify), so the hash match proves losslessness, not just
      // self-consistency.
      val ids = graft.operators.Dedup.shingleIdsPoly(
        Tables.documents(s, d), "doc_id", "text")
      graft.operators.SetJoin.jaccardJoin(ids, "doc_id", "tid",
        tauPpm = 400000L)
        .orderBy(col("id_a"), col("id_b"))
    },

    "q40_ngram_jaccard" -> { (s, d) =>
      // Exact 3-gram Jaccard for consecutive doc pairs (a linear-size,
      // deterministic pair set; LSH pairs are checked separately in q38).
      val docs = Tables.documents(s, d)
      val ids = Dedup.shingleIdsPoly(docs, "doc_id", "text")
      val pairs = docs.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .join(docs.select(col("doc_id").as("id_b")), "id_b")
      Dedup.jaccard(ids, "doc_id", pairs)
        .orderBy(col("id_a"))
    },

    "q286_lsh_advisor" -> { (s, d) =>
      // LSH parameter advisor (B113): the q239 measure-first philosophy
      // applied to q38's banding knobs — weight P(s) = 1−(1−s^r)^b
      // against the corpus's OWN pair-similarity histogram (the q40
      // consecutive-pair set) and report, per (bands, rows) config, the
      // expected candidate bill, recall over true pairs (j ≥ 0.4), and
      // the wasted-candidate fraction. Doubles appear only in literal
      // multiplication chains (identical IEEE sequence both engines),
      // then floor to ppm; all sums integer.
      val docs = Tables.documents(s, d)
      val ids = Dedup.shingleIdsPoly(docs, "doc_id", "text")
      val pairs = docs.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .join(docs.select(col("doc_id").as("id_b")), "id_b")
      val j = Dedup.jaccard(ids, "doc_id", pairs)
      Dedup.lshParamAdvisor(j, "jaccard",
          Seq((2, 4), (4, 2), (4, 4), (8, 2), (16, 1)), tauCenti = 40)
        .orderBy(col("bands"), col("rows_per_band"))
    },

    "q198_overlap_sketch" -> { (s, d) =>
      // q103's cross-source vocabulary overlap at SKETCH scale — the
      // q181 pattern applied to set INTERSECTION: per-source HLL
      // sketches of the shingle-id sets (one combinable aggregate, no
      // pairwise id exchange), intersection estimated by
      // inclusion-exclusion est(A) + est(B) − est(A∪B) over merged
      // sketches. At 100 TB the exact anchors drop and each source
      // ships one 2^12-register sketch instead of its vocabulary; here
      // the exact inter/union stay in-plan (q47-style) and the output
      // asserts the estimate within the compounded 3-sketch bound
      // (~3σ ≈ 10% of the union at lgK=12, + a small-set floor).
      val docs = Tables.documents(s, d)
      val ids = Dedup.shingleIdsPoly(docs, "source", "text")
      val srcs = docs.select(col("source")).distinct()
      val pairs = srcs.select(col("source").as("id_a"))
        .crossJoin(srcs.select(col("source").as("id_b")))
        .filter(col("id_a") < col("id_b"))
      val exact = Dedup.overlapStats(ids, "source", pairs)
        .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
      val sks = ids.groupBy(col("source"))
        .agg(hll_sketch_agg(col("tid")).as("sk"))
      val est = exact
        .join(sks.select(col("source").as("id_a"), col("sk").as("__ska")), "id_a")
        .join(sks.select(col("source").as("id_b"), col("sk").as("__skb")), "id_b")
        .withColumn("__ea", hll_sketch_estimate(col("__ska")))
        .withColumn("__eb", hll_sketch_estimate(col("__skb")))
        .withColumn("__eu",
          hll_sketch_estimate(hll_union(col("__ska"), col("__skb"))))
        .withColumn("__ei", col("__ea") + col("__eb") - col("__eu"))
      est.select(col("id_a"), col("id_b"), col("inter"), col("uni"),
          (abs(col("__ei") - col("inter")) <=
            greatest(col("uni") * 0.1, lit(50.0))).as("est_ok"))
        .orderBy(col("id_a"), col("id_b"))
    },

    "q103_source_overlap" -> { (s, d) =>
      // Corpus-level vocabulary overlap BETWEEN ingest feeds: Jaccard of
      // each source's distinct shingle-id set — the cross-feed duplication
      // diagnostic that tells you two crawls cover the same content before
      // any doc-level pairing. Same overlapStats machinery keyed by
      // source; the pair list is source-count² (tiny, broadcast).
      val docs = Tables.documents(s, d)
      val ids = Dedup.shingleIdsPoly(docs, "source", "text")
      val srcs = docs.select(col("source")).distinct()
      val pairs = srcs.select(col("source").as("id_a"))
        .crossJoin(srcs.select(col("source").as("id_b")))
        .filter(col("id_a") < col("id_b"))
      Dedup.jaccard(ids, "source", pairs)
        .orderBy(col("id_a"), col("id_b"))
    },

    "q97_incremental_lsh" -> { (s, d) =>
      // Incremental ingest dedup: every 10th document is "today's batch";
      // only candidate pairs touching the batch are generated (the banded
      // new side joins the full banded corpus — history×history never
      // exists). Same signatures as q38, so the oracle is q38's banding
      // restricted to pairs with a new member.
      val docs = Tables.documents(s, d)
      val ids = Dedup.shingleIdsPoly(docs, "doc_id", "text", distinct = false)
      val sigs = Dedup.minhashSignatures(ids, "doc_id", numHashes = 8)
        .join(docs.select(col("doc_id"), (col("doc_id") % 10 === 0).as("is_new")),
          "doc_id")
      Dedup.lshCandidatePairsIncremental(sigs, "doc_id", "is_new",
          numHashes = 8, rowsPerBand = 2)
        .orderBy(col("id_a"), col("id_b"))
    },

    "q116_decontamination" -> { (s, d) =>
      // Benchmark decontamination (the n-gram-overlap gate an LLM training
      // pipeline runs before training): every 50th document stands in as
      // the held-out eval set; each remaining corpus document reports how
      // many distinct 4-token shingles it shares with that set (width
      // scaled to the short synthetic documents; production uses 8-13).
      // Bench shingle ids broadcast, corpus side one narrow hashed-shingle
      // pass — see Dedup.contaminationStats for the scale argument.
      val docs = Tables.documents(s, d)
      Dedup.contaminationStats(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", k = 4)
        .orderBy(col("doc_id"))
    },

    "q131_bloom_decontamination" -> { (s, d) =>
      // The at-scale form of q116: the bench shingle-id set is summarized
      // into a 2^16-bit Bloom blob by one mergeable aggregate, the corpus
      // shingle stream is prefiltered by the codegen'd probe, and only
      // the survivors meet the exact verify join. Same EXACT output as
      // q116 under q116's oracle — false positives die in the verify,
      // false negatives are impossible — so the hash match proves the
      // whole bloom path end-to-end.
      val docs = Tables.documents(s, d)
      Dedup.contaminationStatsBloom(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", k = 4, logBits = 16, numHashes = 5)
        .orderBy(col("doc_id"))
    },

    "q172_span_decontamination" -> { (s, d) =>
      // Span-level decontamination: q116's bench slice (every 50th doc)
      // held out, and every corpus token run of >= 5 tokens that also
      // occurs in the bench set reported as merged per-document spans —
      // the n-gram gate's surgical counterpart (where q116 counts, this
      // locates). Bench gram ids broadcast; corpus one narrow pass.
      val docs = Tables.documents(s, d)
      Dedup.crossCorpusSpans(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", minLen = 4)
        .orderBy(col("doc_id"), col("span_start"))
    },

    "q132_exact_substring_spans" -> { (s, d) =>
      // ExactSubstr dedup (Lee et al. 2021): every maximal token run of
      // >= 5 tokens that also occurs elsewhere in the corpus, reported
      // as merged per-document spans — the unit a span-cut pass removes.
      // Gram duplication is a combine-safe groupBy, span merging is
      // per-document gaps-and-islands; nothing corpus-wide is windowed.
      val docs = Tables.documents(s, d)
      Dedup.exactSubstringSpans(docs, "doc_id", "text", minLen = 5)
        .orderBy(col("doc_id"), col("span_start"))
    },

    "q135_exact_substring_cut" -> { (s, d) =>
      // The cut step over q132's spans: duplicated passages are removed
      // token-precisely, documents survive with their unique remainder —
      // the ExactSubstr output a training pipeline actually keeps.
      val docs = Tables.documents(s, d)
      Dedup.exactSubstringCut(docs, "doc_id", "text", minLen = 5)
        .orderBy(col("doc_id"))
    },

    "q139_common_chunk_removal" -> { (s, d) =>
      // CCNet-style paragraph dedup: 8-token chunks shared by >1
      // distinct document are removed from ALL of them and each doc is
      // rebuilt from its surviving chunks — the paragraph-level
      // counterpart of q135's token-span cut. Document frequency is
      // distinct-pairs + groupBy (map-side combinable); the removal is
      // an anti join against only the over-threshold set, which AQE
      // broadcasts.
      Dedup.removeCommonChunks(Tables.documents(s, d), "doc_id", "text",
          chunkTokens = 8, maxDf = 1L)
        .orderBy(col("doc_id"))
    },

    "q118_corpus_pipeline" -> { (s, d) =>
      // The whole training-corpus prep chain in one oracle-checked query:
      // clean (native kernel) -> quality gate (cleaned token count) ->
      // exact dedup on cleaned text (first doc_id wins) -> benchmark
      // decontamination (4-shingles of cleaned text vs the doc_id%50
      // bench set) -> surviving docs. Every stage is the scale shape its
      // standalone query pins: cleaning narrow (q115), dedup one window
      // keyed on cleaned text (q84's shape — hash the key at corpus
      // scale), decontamination bag-shingles + broadcast bench (q116).
      import graft.functions.TextFunctions.{cleanTokens, cleanTokensCount}
      val cleaned = Tables.documents(s, d).select(col("doc_id"), col("source"),
        cleanTokens(col("text"), TextQueries.Stopwords).as("ctext"),
        cleanTokensCount(col("text"), TextQueries.Stopwords)
          .cast("long").as("n_clean"))
      val deduped = cleaned.filter(col("n_clean") >= 25)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("ctext")).orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
      val ids = Dedup.shingleIdsPoly(cleaned.select(col("doc_id"), col("ctext")),
        "doc_id", "ctext", k = 4, distinct = false)
      val benchTids = ids.filter(col("doc_id") % 50 === 0)
        .select(col("tid")).distinct()
      val contaminated = ids.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(benchTids), "tid").select(col("doc_id")).distinct()
      deduped.filter(col("doc_id") % 50 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("n_clean"))
        .orderBy(col("doc_id"))
    },

    "q119_graph_rank" -> { (s, d) =>
      // PageRank-style importance over the LSH candidate graph (q38's
      // edges), 3 unrolled iterations, damping 0.85 — the iterative
      // distributed-graph shape: each step is one edge-partitioned join +
      // one aggregate, no driver-side loop state. ALL arithmetic is
      // integer fixed-point (rank scaled by 1e12, integer division for
      // contributions and damping) because per-node inflow is a SUM over
      // neighbors and float sums depend on reduction order — long sums
      // are partition-order-independent, so ranks are bit-stable at any
      // parallelism and DuckDB replays them exactly.
      graphRank(Tables.documents(s, d)).orderBy(col("doc_id"))
    },

    "q306_graph_rank_evidence" -> { (s, d) =>
      // sf1 evidence twin for q119 (BASELINE §20: its shingle->banding
      // oracle CTEs exhaust DuckDB temp disk at the 10x corpus): the
      // SAME graphRank pipeline over the deterministic 2%
      // mixedBucket doc slice, collapsed to one BIGINT-checksum row
      // DuckDB can replay at any SF — the q265/q266 red-row pattern.
      // rank_checksum stays in BIGINT range by rank conservation
      // (Σr ≈ 1e12 regardless of n, so Σ r·(id mod 1000003) < 1e18).
      val docs = Tables.documents(s, d)
        .filter(graft.operators.Sampling.mixedBucket(col("doc_id")) < 20)
      graphRank(docs).agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("deg")), lit(0L)).as("deg_sum"),
        coalesce(sum(col("rank_fp")), lit(0L)).as("rank_sum"),
        coalesce(sum(col("rank_fp") * pmod(col("doc_id"), lit(1000003L))),
          lit(0L)).as("rank_checksum"))
    },

    "q120_boilerplate" -> { (s, d) =>
      // Corpus-boilerplate phrases (line-dedup analogue for a corpus with
      // no newlines): 5-grams occurring in >= 2 distinct documents are
      // boilerplate; report each document's boilerplate occurrence
      // fraction. On this corpus the >=2 threshold catches exactly the
      // near-dup families' shared phrasing (non-empty at sf0.01).
      Dedup.boilerplateStats(Tables.documents(s, d), "doc_id", "text",
          k = 5, minDocs = 2)
        .orderBy(col("doc_id"))
    },

    "q159_cdc_neardup" -> { (s, d) =>
      // Near-dup pairs via CDC chunk fingerprints: exact Jaccard over
      // q128's chunk-hash sets. Edit-robust (CDC boundaries survive
      // insertions), and the pair space is bounded by posting lists of
      // rare chunks only (df in [2, 10]) — common chunks are
      // boilerplate, excluded from intersection AND set sizes. The
      // threshold keeps genuinely similar pairs (>= 30% ppm Jaccard).
      Dedup.cdcNearDupPairs(Tables.documents(s, d), "doc_id", "text",
          w = 3, divisor = 8L, maxDf = 10L, minJacPpm = 300000L)
        .orderBy(col("id_a"), col("id_b"))
    },

    "q163_dedup_threshold_curve" -> { (s, d) =>
      // Threshold-tuning curve for q159's resemblance pairs: pair count
      // at each 10%-Jaccard threshold, from one pass over the pair
      // table. Buckets first (combinable aggregate, 11 rows), then the
      // cumulative >= threshold counts via a window over the BOUNDED
      // bucket rows — the documented bounded-single-partition class,
      // never over pairs.
      val pairs = Dedup.cdcNearDupPairs(Tables.documents(s, d),
        "doc_id", "text", w = 3, divisor = 8L, maxDf = 10L, minJacPpm = 1L)
      val bucketed = pairs
        .select(least(expr("jac_ppm div 100000L"), lit(10L)).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_in_bucket"))
      val cum = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bucketed
        .withColumn("threshold_ppm", col("bucket") * 100000L)
        .withColumn("n_pairs_at_least", sum(col("n_in_bucket")).over(cum))
        .select(col("threshold_ppm"), col("n_in_bucket"),
          col("n_pairs_at_least"))
        .orderBy(col("threshold_ppm"))
    },

    "q161_incremental_cdc" -> { (s, d) =>
      // q159's resemblance pairs in the recurring-ingest shape: docs
      // with doc_id % 3 == 0 arrive as the new batch against the rest
      // as history. Every output pair involves a batch doc;
      // history x history is never generated (the q97/q130 incremental
      // contract at CDC granularity). Chunk df and set sizes are
      // computed over the union, so batch-induced boilerplate is
      // excluded immediately.
      val docs = Tables.documents(s, d)
      Dedup.cdcNearDupPairsIncremental(
          docs.filter(col("doc_id") % 3 =!= 0),
          docs.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", w = 3, divisor = 8L, maxDf = 10L,
          minJacPpm = 300000L)
        .orderBy(col("id_a"), col("id_b"))
    },

    "q128_cdc_chunks" -> { (s, d) =>
      // Content-defined chunking: boundaries where the 3-token rolling
      // polyHash ≡ 0 mod 8 (expected chunk ~8 tokens) — the
      // insertion-robust chunk unit, vs q84's fixed-stride chunks that
      // reshift after any edit. The oracle replays hash, prefix-sum
      // chunk ids, and chunk re-hashing exactly.
      Dedup.cdcChunks(Tables.documents(s, d), "doc_id", "text",
          w = 3, divisor = 8L)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    "q126_curation_pipeline" -> { (s, d) =>
      // Curation v2 — the round-4 ops composed end-to-end: boilerplate
      // gate (q120's fraction <= 0.5) + LM quality gate (q122's integer
      // avg score >= 25000) + exact keep-first dedup on the content
      // hash. Each stage keeps its standalone scale shape; the gates
      // join id+metric tables on doc_id. Drops 47 boilerplate-heavy and
      // 3 low-scoring documents at sf0.01 before the dedup pass.
      val docs = Tables.documents(s, d)
      val boiler = Dedup.boilerplateStats(docs, "doc_id", "text", k = 5, minDocs = 2)
      val lm = graft.operators.LmScore.bigramScores(
        docs, docs.filter(col("source") === "src0"), "doc_id", "text")
      val gated = docs.select(col("doc_id"), col("text"), col("source"))
        .join(boiler.select(col("doc_id"), col("boiler_frac")), "doc_id")
        .join(lm.select(col("doc_id"), col("avg_score")), "doc_id")
        .filter(col("boiler_frac") <= 0.5 && col("avg_score") >= 25000L)
        .withColumn("__h", md5(col("text")))
      Dedup.keepFirst(gated, Seq("__h"), Seq(col("doc_id").asc))
        .select(col("doc_id"), col("source"), col("boiler_frac"), col("avg_score"))
        .orderBy(col("doc_id"))
    },

    "q94_containment" -> { (s, d) =>
      // Asymmetric containment |A∩B|/|A| (and its mirror) over the same
      // consecutive-pair set as q40 — the measure that catches a small
      // document embedded verbatim in a larger one, where symmetric
      // Jaccard stays low. One overlapStats pass yields every overlap
      // measure; only the (id, tid) intersection join shuffles.
      val docs = Tables.documents(s, d)
      val ids = Dedup.shingleIdsPoly(docs, "doc_id", "text")
      val pairs = docs.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .join(docs.select(col("doc_id").as("id_b")), "id_b")
      Dedup.overlapStats(ids, "doc_id", pairs)
        .select(col("id_a"), col("id_b"), col("inter"),
          col("sz_a"), col("sz_b"),
          (col("inter").cast("double") / col("sz_a")).as("containment_a"),
          (col("inter").cast("double") / col("sz_b")).as("containment_b"))
        .orderBy(col("id_a"))
    })

  /** q286 oracle: the q40 jaccard table → centi histogram → per-config
    * expected-candidate/recall/waste rows. P(s) is built from literal
    * left-associated multiplication chains (no pow) so the IEEE op
    * sequence matches the Spark operator exactly, then floors to ppm;
    * all sums integer (HUGEINT on the DuckDB side).
    */
  private def lshAdvisorSql(grid: Seq[(Int, Int)], tauCenti: Int): String = {
    val configs = grid.map { case (bands, rows) =>
      val sE = "((CAST(jb AS DOUBLE) + 0.5) / 100.0)"
      val srE = Seq.fill(rows)(sE).mkString("(", " * ", ")")
      val qE = s"(1.0 - $srE)"
      val qbE = Seq.fill(bands)(qE).mkString("(", " * ", ")")
      val pE = s"CAST(floor((1.0 - $qbE) * 1000000) AS BIGINT)"
      s"""SELECT CAST($bands AS BIGINT) AS bands,
        CAST($rows AS BIGINT) AS rows_per_band,
        CAST(coalesce(sum(c * p), 0) // 1000000 AS BIGINT) AS exp_candidates,
        CASE WHEN coalesce(sum(CASE WHEN jb >= $tauCenti THEN c END), 0) > 0
          THEN CAST(sum(CASE WHEN jb >= $tauCenti THEN c * p END)
            // sum(CASE WHEN jb >= $tauCenti THEN c END) AS BIGINT)
          END AS recall_ppm,
        CASE WHEN coalesce(sum(c * p), 0) > 0 THEN
          CAST(((sum(c * p) -
            coalesce(sum(CASE WHEN jb >= $tauCenti THEN c * p END), 0))
            * 1000000) // sum(c * p) AS BIGINT)
          END AS waste_ppm
      FROM (SELECT jb, c, $pE AS p FROM jh)"""
    }.mkString("\n      UNION ALL ")
    s"""$ShingleCte,
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
      inter AS (
        SELECT p.id_a, p.id_b, count(*) AS inter
        FROM pairs p
        JOIN ids ia ON ia.doc_id = p.id_a
        JOIN ids ib ON ib.doc_id = p.id_b AND ib.tid = ia.tid
        GROUP BY p.id_a, p.id_b),
      sizes AS (SELECT doc_id, count(*) AS sz FROM ids GROUP BY doc_id),
      jtab AS (
        SELECT CAST(coalesce(i.inter, 0) AS DOUBLE)
          / (sa.sz + sb.sz - coalesce(i.inter, 0)) AS jaccard
        FROM pairs p
        LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
        JOIN sizes sa ON sa.doc_id = p.id_a
        JOIN sizes sb ON sb.doc_id = p.id_b),
      jh AS MATERIALIZED (
        SELECT least(CAST(floor(jaccard * 100) AS BIGINT), 99) AS jb,
          CAST(count(*) AS BIGINT) AS c
        FROM jtab WHERE jaccard IS NOT NULL GROUP BY 1)
      $configs
      ORDER BY bands, rows_per_band"""
  }

  /** The 4-band (2 rows/band) band-key union over `sigs` — shared with the
    * end-to-end near-dup oracle in ExtraQueries.
    */
  private[queries] val BandedCteBody: String = (0 until 4).map { b =>
    s"SELECT doc_id, $b AS band, CAST(h${2 * b} AS VARCHAR) || '_' || CAST(h${2 * b + 1} AS VARCHAR) AS bkey FROM sigs"
  }.mkString(" UNION ALL ")

  private[queries] def minhashSql(extraCte: String, selectList: String, tail: String): String = {
    val hashes = Dedup.hashParams(8).zipWithIndex.map { case ((a, b), i) =>
      s"CAST(min((tid * $a + $b) % $P) AS BIGINT) AS h$i"
    }.mkString(", ")
    s"""$ShingleCte,
      sigs AS (SELECT doc_id, $hashes FROM ids GROUP BY doc_id)$extraCte
      SELECT $selectList $tail"""
  }

  val oracle: Map[String, String] = Map(
    "q244_exact_jaccard_join" -> s"""$ShingleCte,
      szs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
              FROM ids GROUP BY 1),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ids a JOIN ids b
          ON a.tid = b.tid AND a.doc_id < b.doc_id),
      iv AS (
        SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS inter
        FROM cand c
        JOIN ids ia ON ia.doc_id = c.id_a
        JOIN ids ib ON ib.doc_id = c.id_b AND ib.tid = ia.tid
        GROUP BY 1, 2)
      SELECT iv.id_a, iv.id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
        (inter * 1000000) // (sa.sz + sb.sz - inter) AS jaccard_ppm
      FROM iv JOIN szs sa ON sa.doc_id = iv.id_a
      JOIN szs sb ON sb.doc_id = iv.id_b
      WHERE inter * 1000000 >= 400000 * (sa.sz + sb.sz - inter)
      ORDER BY id_a, id_b""",

    "q165_typo_pairs" -> """
      WITH d AS (SELECT DISTINCT CAST(c_name AS VARCHAR) AS s
                 FROM customer WHERE c_name IS NOT NULL)
      SELECT a.s AS s_a, b.s AS s_b,
        CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
      FROM d a JOIN d b
        ON a.s < b.s AND abs(len(a.s) - len(b.s)) <= 1
       AND levenshtein(a.s, b.s) <= 1
      ORDER BY s_a, s_b""",

    "q170_typo_pairs_incremental" -> """
      WITH db AS (SELECT DISTINCT CAST(c_name AS VARCHAR) AS s
                  FROM customer WHERE c_custkey % 10 = 0
                    AND c_name IS NOT NULL),
      du AS (SELECT DISTINCT CAST(c_name AS VARCHAR) AS s
             FROM customer WHERE c_name IS NOT NULL)
      SELECT DISTINCT least(a.s, b.s) AS s_a, greatest(a.s, b.s) AS s_b,
        CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
      FROM db a JOIN du b
        ON a.s <> b.s AND abs(len(a.s) - len(b.s)) <= 1
       AND levenshtein(a.s, b.s) <= 1
      ORDER BY s_a, s_b""",

    "q166_typo_pairs_tau2" -> """
      WITH d AS (SELECT DISTINCT CAST(p_name AS VARCHAR) AS s
                 FROM part WHERE p_name IS NOT NULL)
      SELECT a.s AS s_a, b.s AS s_b,
        CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
      FROM d a JOIN d b
        ON a.s < b.s AND abs(len(a.s) - len(b.s)) <= 2
       AND levenshtein(a.s, b.s) <= 2
      ORDER BY s_a, s_b""",

    "q118_corpus_pipeline" -> s"""
      WITH t0 AS (
        SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
      f AS (
        SELECT doc_id, source,
          list_filter(toks, x -> NOT list_contains(
            ['the', 'a', 'of', 'and', 'to', 'in'], x)) AS ns
        FROM t0),
      cleaned AS (
        SELECT doc_id, source,
          list_filter(ns, (x, i) ->
            CASE WHEN i = 1 THEN true ELSE x <> ns[i-1] END) AS cl
        FROM f),
      q AS (
        SELECT doc_id, source, array_to_string(cl, ' ') AS ctext,
          CAST(len(cl) AS BIGINT) AS n_clean
        FROM cleaned WHERE len(cl) >= 25),
      d AS (
        SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY ctext
          ORDER BY doc_id) AS rn FROM q) WHERE rn = 1),
      sh AS (
        SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(array_to_string(l2[i:i+3], ' '), ''),
              x -> CAST(unicode(x) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % $M) AS tid
        FROM (SELECT doc_id, string_split(array_to_string(cl, ' '), ' ') AS l2
          FROM cleaned),
          unnest(generate_series(1, greatest(len(l2) - 3, 0))) AS u(i)),
      bench AS (SELECT DISTINCT tid FROM sh WHERE doc_id % 50 = 0),
      contaminated AS (
        SELECT DISTINCT doc_id FROM sh
        WHERE doc_id % 50 <> 0 AND tid IN (SELECT tid FROM bench))
      SELECT doc_id, source, n_clean FROM d
      WHERE doc_id % 50 <> 0
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
      ORDER BY doc_id""",

    "q119_graph_rank" -> {
      val S = "1000000000000"
      def iter(k: Int): String = s"""
        i$k AS (SELECT e.dst AS doc_id, CAST(sum(r${k - 1}.r // d.deg) AS BIGINT) AS inflow
          FROM edges e JOIN r${k - 1} ON r${k - 1}.doc_id = e.src
          JOIN deg d ON d.src = e.src GROUP BY e.dst),
        r$k AS (SELECT d0.doc_id, (($S * 15) // 100) // (SELECT n FROM n)
            + (85 * coalesce(i$k.inflow, 0)) // 100 AS r
          FROM documents d0 LEFT JOIN i$k USING (doc_id))"""
      minhashSql(
        s""", banded AS ($BandedCteBody),
          pairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM banded l JOIN banded r
            ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
          edges AS (SELECT a AS src, b AS dst FROM pairs
            UNION ALL SELECT b, a FROM pairs),
          deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY src),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
          r0 AS (SELECT doc_id, $S // n AS r FROM documents CROSS JOIN n),
          ${iter(1)},
          ${iter(2)},
          ${iter(3)}""",
        """r3.doc_id, CAST(coalesce(deg.deg, 0) AS BIGINT) AS deg,
          CAST(r3.r AS BIGINT) AS rank_fp""",
        """FROM r3 LEFT JOIN deg ON deg.src = r3.doc_id
          ORDER BY r3.doc_id""")
    },

    // the q119 chain verbatim over the 2% mixedBucket doc slice (every
    // FROM documents redirected to the docsl CTE), collapsed to one
    // checksum row — DuckDB replays it at sf1 where the full-corpus
    // q119 oracle exhausts temp disk
    "q306_graph_rank_evidence" -> {
      val S = "1000000000000"
      def iter(k: Int): String = s"""
        i$k AS (SELECT e.dst AS doc_id, CAST(sum(r${k - 1}.r // d.deg) AS BIGINT) AS inflow
          FROM edges e JOIN r${k - 1} ON r${k - 1}.doc_id = e.src
          JOIN deg d ON d.src = e.src GROUP BY e.dst),
        r$k AS (SELECT d0.doc_id, (($S * 15) // 100) // (SELECT n FROM n)
            + (85 * coalesce(i$k.inflow, 0)) // 100 AS r
          FROM documents d0 LEFT JOIN i$k USING (doc_id))"""
      val mb = graft.operators.Sampling.mixedBucketSql("doc_id")
      minhashSql(
        s""", banded AS ($BandedCteBody),
          pairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM banded l JOIN banded r
            ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
          edges AS (SELECT a AS src, b AS dst FROM pairs
            UNION ALL SELECT b, a FROM pairs),
          deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY src),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
          r0 AS (SELECT doc_id, $S // n AS r FROM documents CROSS JOIN n),
          ${iter(1)},
          ${iter(2)},
          ${iter(3)}""",
        """CAST(count(*) AS BIGINT) AS n_docs,
          CAST(coalesce(sum(coalesce(deg.deg, 0)), 0) AS BIGINT) AS deg_sum,
          CAST(coalesce(sum(r3.r), 0) AS BIGINT) AS rank_sum,
          CAST(coalesce(sum(CAST(r3.r AS HUGEINT)
            * (((r3.doc_id % 1000003) + 1000003) % 1000003)), 0)
            AS BIGINT) AS rank_checksum""",
        """FROM r3 LEFT JOIN deg ON deg.src = r3.doc_id""")
        .replace("FROM documents", "FROM docsl")
        .replaceFirst("WITH ",
          s"WITH docsl AS (SELECT doc_id, text FROM documents WHERE $mb < 20), ")
    },

    "q116_decontamination" -> decontaminationSql,

    // Same oracle as q116 BY DESIGN: the bloom is a prefilter before an
    // exact verify, so the answer is identical — the hash match is the
    // end-to-end no-false-negatives proof.
    "q131_bloom_decontamination" -> decontaminationSql,

    "q172_span_decontamination" -> s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      sh AS (
        SELECT doc_id, i, array_to_string(l[i:i+3], ' ') AS shingle
        FROM t, unnest(generate_series(1, greatest(len(l) - 3, 0))) AS u(i)),
      ids AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(shingle, ''),
              x -> CAST(unicode(x) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % $M) AS tid
        FROM sh),
      bt AS (SELECT DISTINCT tid FROM ids WHERE doc_id % 50 = 0),
      occ AS (
        SELECT doc_id, pos FROM ids JOIN bt USING (tid)
        WHERE doc_id % 50 <> 0),
      marked AS (
        SELECT doc_id, pos,
          CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 4
            THEN 1 ELSE 0 END AS new_isl
        FROM occ),
      isl AS (
        SELECT doc_id, pos,
          sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM marked)
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        CAST(max(pos) + 3 AS BIGINT) AS span_end,
        CAST(max(pos) + 3 - min(pos) + 1 AS BIGINT) AS span_tokens
      FROM isl GROUP BY doc_id, island
      ORDER BY doc_id, span_start""",

    "q132_exact_substring_spans" -> s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      sh AS (
        SELECT doc_id, i, array_to_string(l[i:i+4], ' ') AS shingle
        FROM t, unnest(generate_series(1, greatest(len(l) - 4, 0))) AS u(i)),
      ids AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(shingle, ''),
              x -> CAST(unicode(x) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % $M) AS tid
        FROM sh),
      dup AS (SELECT tid FROM ids GROUP BY tid HAVING count(*) > 1),
      occ AS (SELECT doc_id, pos FROM ids JOIN dup USING (tid)),
      marked AS (
        SELECT doc_id, pos,
          CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
            THEN 1 ELSE 0 END AS new_isl
        FROM occ),
      isl AS (
        SELECT doc_id, pos,
          sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM marked)
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        CAST(max(pos) + 4 AS BIGINT) AS span_end,
        CAST(max(pos) + 4 - min(pos) + 1 AS BIGINT) AS span_tokens
      FROM isl GROUP BY doc_id, island
      ORDER BY doc_id, span_start""",

    "q135_exact_substring_cut" -> s"""
      WITH $exactSubstringCutCtes
      SELECT doc_id, cleaned_text, n_kept, n_removed FROM cdocs
      ORDER BY doc_id""",

    "q139_common_chunk_removal" -> s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      c AS (
        SELECT doc_id, CAST(g AS INT) AS cpos,
          array_to_string(ts[g*8+1 : g*8+8], ' ') AS chunk
        FROM t, unnest(generate_series(0,
          CAST(ceil(len(ts) / 8.0) AS INT) - 1)) AS u(g)),
      d AS (
        SELECT chunk FROM (SELECT DISTINCT chunk, doc_id FROM c)
        GROUP BY chunk HAVING count(*) > 1),
      kept AS (
        SELECT c.doc_id, c.cpos, c.chunk FROM c
        WHERE c.chunk NOT IN (SELECT chunk FROM d)),
      r AS (
        SELECT doc_id, string_agg(chunk, ' ' ORDER BY cpos) AS cleaned_text,
          count(*) AS n_kept
        FROM kept GROUP BY doc_id)
      SELECT t.doc_id, coalesce(r.cleaned_text, '') AS cleaned_text,
        CAST(ceil(len(t.ts) / 8.0) AS BIGINT) AS n_chunks,
        CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
      FROM t LEFT JOIN r ON t.doc_id = r.doc_id
      ORDER BY t.doc_id""",

    "q36_exact_dedup" -> """
      WITH g AS (SELECT md5(text) AS h, count(*) AS n FROM documents GROUP BY 1)
      SELECT count(*) AS n_distinct_texts,
        CAST(sum(n) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT) AS n_redundant
      FROM g""",

    "q37_minhash_signatures" ->
      minhashSql("", "doc_id, h0, h1, h2, h3, h4, h5, h6, h7",
        "FROM sigs ORDER BY doc_id"),

    "q152_lsh_tuning" -> {
      val grid = Seq(1, 2, 4, 8)
      val ctes = grid.map { r =>
        val nb = 8 / r
        val bandSql = (0 until nb).map { b =>
          val key = (0 until r).map(i => s"CAST(h${b * r + i} AS VARCHAR)")
            .mkString(" || '_' || ")
          s"SELECT doc_id, $b AS band, $key AS bkey FROM sigs"
        }.mkString(" UNION ALL ")
        s"""b$r AS ($bandSql),
          g$r AS (SELECT band, bkey, count(*) AS n FROM b$r GROUP BY 1, 2),
          p$r AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b2
            FROM b$r l JOIN b$r r
            ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
          st$r AS (SELECT
            CAST($r AS BIGINT) AS rows_per_band,
            CAST($nb AS BIGINT) AS n_bands,
            (SELECT CAST(coalesce(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END), 0)
               AS BIGINT) FROM g$r) AS n_buckets,
            (SELECT CAST(coalesce(max(n), 0) AS BIGINT) FROM g$r) AS max_bucket,
            (SELECT CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT)
               FROM g$r) AS n_bucket_pairs,
            (SELECT CAST(count(*) AS BIGINT) FROM p$r) AS n_candidate_pairs)"""
      }.mkString(", ")
      minhashSql(s", $ctes", "*",
        s"FROM (${grid.map(r => s"SELECT * FROM st$r").mkString(" UNION ALL ")}) t " +
          "ORDER BY rows_per_band")
    },

    // The UDAF and native-aggregate paths must produce the exact same
    // signature table.
    "q41a_minhash_udaf" ->
      minhashSql("", "doc_id, h0, h1, h2, h3, h4, h5, h6, h7",
        "FROM sigs ORDER BY doc_id"),
    "q41b_minhash_native" ->
      minhashSql("", "doc_id, h0, h1, h2, h3, h4, h5, h6, h7",
        "FROM sigs ORDER BY doc_id"),
    "q67_minhash_narrow" ->
      minhashSql("", "doc_id, h0, h1, h2, h3, h4, h5, h6, h7",
        "FROM sigs ORDER BY doc_id"),

    "q38_lsh_pairs" -> {
      minhashSql(s", banded AS ($BandedCteBody)",
        "DISTINCT l.doc_id AS id_a, r.doc_id AS id_b",
        """FROM banded l JOIN banded r
            ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
          ORDER BY id_a, id_b""")
    },

    "q279_split_leakage" -> {
      minhashSql(
        s""", banded AS ($BandedCteBody),
          cand AS (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.bkey = r.bkey
                AND l.doc_id < r.doc_id),
          asn AS (
            SELECT DISTINCT doc_id,
              ((doc_id * 1000003 + 17) % 1000000007 + 1000000007)
                % 1000000007 % 1000 < 800 AS is_train
            FROM documents WHERE doc_id IS NOT NULL),
          szb AS (
            SELECT CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END)
                AS BIGINT) AS n_train,
              CAST(sum(CASE WHEN is_train THEN 0 ELSE 1 END)
                AS BIGINT) AS n_test
            FROM asn),
          agx AS (
            SELECT CAST(count(*) AS BIGINT) AS n_pairs,
              CAST(sum(CASE WHEN a.is_train <> b.is_train THEN 1 ELSE 0
                END) AS BIGINT) AS n_cross
            FROM cand JOIN asn a ON a.doc_id = cand.id_a
            JOIN asn b ON b.doc_id = cand.id_b)""",
        """n_train, n_test, n_pairs, n_cross,
          CASE WHEN n_pairs > 0
            THEN CAST((n_cross * 1000000) // n_pairs AS BIGINT)
          END AS cross_ppm""",
        "FROM agx CROSS JOIN szb")
    },

    "q73_lsh_capped" -> {
      minhashSql(
        s""", banded0 AS ($BandedCteBody),
          banded AS (
            SELECT doc_id, band, bkey FROM (
              SELECT doc_id, band, bkey,
                row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) AS rn
              FROM banded0)
            WHERE rn <= 2)""",
        "DISTINCT l.doc_id AS id_a, r.doc_id AS id_b",
        """FROM banded l JOIN banded r
            ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
          ORDER BY id_a, id_b""")
    },

    "q39_simhash" -> {
      val bits = Dedup.hashParams(16).zipWithIndex.map { case ((a, b), j) =>
        s"CASE WHEN sum(((tid * $a + $b) % $P % 2) * 2 - 1) > 0 THEN ${1L << j} ELSE 0 END"
      }.mkString(" + ")
      s"""$ShingleCte
        SELECT doc_id, CAST($bits AS BIGINT) AS simhash
        FROM ids GROUP BY doc_id ORDER BY doc_id"""
    },

    "q40_ngram_jaccard" -> s"""$ShingleCte,
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
      inter AS (
        SELECT p.id_a, p.id_b, count(*) AS inter
        FROM pairs p
        JOIN ids ia ON ia.doc_id = p.id_a
        JOIN ids ib ON ib.doc_id = p.id_b AND ib.tid = ia.tid
        GROUP BY p.id_a, p.id_b),
      sizes AS (SELECT doc_id, count(*) AS sz FROM ids GROUP BY doc_id)
      SELECT p.id_a, p.id_b,
        CAST(coalesce(i.inter, 0) AS DOUBLE)
          / (sa.sz + sb.sz - coalesce(i.inter, 0)) AS jaccard
      FROM pairs p
      LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
      JOIN sizes sa ON sa.doc_id = p.id_a
      JOIN sizes sb ON sb.doc_id = p.id_b
      ORDER BY p.id_a""",

    "q286_lsh_advisor" -> lshAdvisorSql(
      Seq((2, 4), (4, 2), (4, 4), (8, 2), (16, 1)), tauCenti = 40),

    "q198_overlap_sketch" -> s"""
      WITH toks AS (SELECT source, string_split(text, ' ') AS l FROM documents),
      sh AS (
        SELECT source,
          unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)),
            i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingle
        FROM toks),
      ids AS (
        SELECT DISTINCT source,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(string_split(shingle, ''),
                x -> CAST(unicode(x) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % $M) AS tid
        FROM sh),
      pairs AS (
        SELECT a.source AS id_a, b.source AS id_b
        FROM (SELECT DISTINCT source FROM documents) a
        JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source),
      inter AS (
        SELECT p.id_a, p.id_b, count(*) AS inter
        FROM pairs p
        JOIN ids ia ON ia.source = p.id_a
        JOIN ids ib ON ib.source = p.id_b AND ib.tid = ia.tid
        GROUP BY 1, 2),
      sizes AS (SELECT source, count(*) AS sz FROM ids GROUP BY 1)
      SELECT p.id_a, p.id_b,
        CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
        CAST(sa.sz + sb.sz - coalesce(i.inter, 0) AS BIGINT) AS uni,
        TRUE AS est_ok
      FROM pairs p
      LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
      JOIN sizes sa ON sa.source = p.id_a
      JOIN sizes sb ON sb.source = p.id_b
      ORDER BY p.id_a, p.id_b""",

    "q103_source_overlap" -> s"""
      WITH toks AS (SELECT source, string_split(text, ' ') AS l FROM documents),
      sh AS (
        SELECT source,
          unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)),
            i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingle
        FROM toks),
      ids AS (
        SELECT DISTINCT source,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(string_split(shingle, ''),
                x -> CAST(unicode(x) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % $M) AS tid
        FROM sh),
      pairs AS (
        SELECT a.source AS id_a, b.source AS id_b
        FROM (SELECT DISTINCT source FROM documents) a
        JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source),
      inter AS (
        SELECT p.id_a, p.id_b, count(*) AS inter
        FROM pairs p
        JOIN ids ia ON ia.source = p.id_a
        JOIN ids ib ON ib.source = p.id_b AND ib.tid = ia.tid
        GROUP BY 1, 2),
      sizes AS (SELECT source, count(*) AS sz FROM ids GROUP BY 1)
      SELECT p.id_a, p.id_b,
        CAST(coalesce(i.inter, 0) AS DOUBLE)
          / (sa.sz + sb.sz - coalesce(i.inter, 0)) AS jaccard
      FROM pairs p
      LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
      JOIN sizes sa ON sa.source = p.id_a
      JOIN sizes sb ON sb.source = p.id_b
      ORDER BY p.id_a, p.id_b""",

    "q97_incremental_lsh" -> minhashSql(
      s""", banded AS ($BandedCteBody)""",
      """DISTINCT least(l.doc_id, r.doc_id) AS id_a,
        greatest(l.doc_id, r.doc_id) AS id_b""",
      """FROM banded l JOIN banded r
        ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id <> r.doc_id
        WHERE l.doc_id % 10 = 0
        ORDER BY id_a, id_b"""),

    "q120_boilerplate" -> s"""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      sh AS (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, greatest(len(l) - 4, 0)),
            i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' || l[i+4])) AS shingle
        FROM toks),
      ids AS (
        SELECT doc_id,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(string_split(shingle, ''),
                x -> CAST(unicode(x) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % $M) AS tid
        FROM sh),
      d AS (SELECT tid, count(DISTINCT doc_id) AS nd FROM ids GROUP BY tid),
      t AS (
        SELECT ids.doc_id, CAST(count(*) AS BIGINT) AS n_phrases,
          CAST(sum(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
        FROM ids JOIN d USING (tid) GROUP BY ids.doc_id)
      SELECT doc_id,
        coalesce(n_phrases, CAST(0 AS BIGINT)) AS n_phrases,
        coalesce(n_boiler, CAST(0 AS BIGINT)) AS n_boiler,
        coalesce(CAST(n_boiler AS DOUBLE) / n_phrases, 0.0) AS boiler_frac
      FROM documents LEFT JOIN t USING (doc_id) ORDER BY doc_id""",

    "q128_cdc_chunks" -> s"""
      WITH $cdcChunkCtes
      SELECT doc_id, chunk_idx, n_tokens, chunk_hash
      FROM cdcch ORDER BY doc_id, chunk_idx""",

    "q163_dedup_threshold_curve" -> s"""
      WITH $cdcChunkCtes,
      sets AS (SELECT DISTINCT doc_id, chunk_hash FROM cdcch),
      dfreq AS (
        SELECT chunk_hash, CAST(count(*) AS BIGINT) AS nd
        FROM sets GROUP BY chunk_hash),
      perdoc AS (
        SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n
        FROM sets s JOIN dfreq USING (chunk_hash)
        WHERE dfreq.nd <= 10 GROUP BY s.doc_id),
      rare AS (
        SELECT s.doc_id, s.chunk_hash
        FROM sets s JOIN dfreq USING (chunk_hash)
        WHERE dfreq.nd > 1 AND dfreq.nd <= 10),
      shr AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(count(*) AS BIGINT) AS shared_chunks
        FROM rare a JOIN rare b ON a.chunk_hash = b.chunk_hash
          AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      jp AS (
        SELECT (1000000 * shared_chunks) // (pa.n + pb.n - shared_chunks)
          AS jac
        FROM shr
        JOIN perdoc pa ON pa.doc_id = id_a
        JOIN perdoc pb ON pb.doc_id = id_b
        WHERE (1000000 * shared_chunks) // (pa.n + pb.n - shared_chunks) >= 1),
      bk AS (
        SELECT least(jac // 100000, 10) AS bucket,
          CAST(count(*) AS BIGINT) AS n_in_bucket
        FROM jp GROUP BY 1)
      SELECT CAST(bucket * 100000 AS BIGINT) AS threshold_ppm, n_in_bucket,
        CAST(sum(n_in_bucket) OVER (ORDER BY bucket DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS n_pairs_at_least
      FROM bk ORDER BY threshold_ppm""",

    "q161_incremental_cdc" -> s"""
      WITH $cdcChunkCtes,
      sets AS (SELECT DISTINCT doc_id, chunk_hash FROM cdcch),
      dfreq AS (
        SELECT chunk_hash, CAST(count(*) AS BIGINT) AS nd
        FROM sets GROUP BY chunk_hash),
      kept AS (
        SELECT s.doc_id, s.chunk_hash, dfreq.nd
        FROM sets s JOIN dfreq USING (chunk_hash)
        WHERE dfreq.nd <= 10),
      perdoc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        FROM kept GROUP BY doc_id),
      rare AS (SELECT doc_id, chunk_hash FROM kept WHERE nd > 1),
      shr AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          (b.doc_id % 3 <> 0) AS other_in_history,
          CAST(count(*) AS BIGINT) AS shared_chunks
        FROM rare a JOIN rare b ON a.chunk_hash = b.chunk_hash
          AND a.doc_id <> b.doc_id
          AND (b.doc_id % 3 <> 0 OR a.doc_id < b.doc_id)
        WHERE a.doc_id % 3 = 0
        GROUP BY 1, 2, 3)
      SELECT id_a, id_b, shared_chunks, pa.n AS n_a, pb.n AS n_b,
        (1000000 * shared_chunks) // (pa.n + pb.n - shared_chunks) AS jac_ppm,
        other_in_history
      FROM shr
      JOIN perdoc pa ON pa.doc_id = id_a
      JOIN perdoc pb ON pb.doc_id = id_b
      WHERE (1000000 * shared_chunks) // (pa.n + pb.n - shared_chunks) >= 300000
      ORDER BY id_a, id_b""",

    "q159_cdc_neardup" -> s"""
      WITH $cdcChunkCtes,
      sets AS (SELECT DISTINCT doc_id, chunk_hash FROM cdcch),
      dfreq AS (
        SELECT chunk_hash, CAST(count(*) AS BIGINT) AS nd
        FROM sets GROUP BY chunk_hash),
      perdoc AS (
        SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n
        FROM sets s JOIN dfreq USING (chunk_hash)
        WHERE dfreq.nd <= 10 GROUP BY s.doc_id),
      rare AS (
        SELECT s.doc_id, s.chunk_hash
        FROM sets s JOIN dfreq USING (chunk_hash)
        WHERE dfreq.nd > 1 AND dfreq.nd <= 10),
      shr AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(count(*) AS BIGINT) AS shared_chunks
        FROM rare a JOIN rare b ON a.chunk_hash = b.chunk_hash
          AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, shared_chunks, pa.n AS n_a, pb.n AS n_b,
        (1000000 * shared_chunks) // (pa.n + pb.n - shared_chunks) AS jac_ppm
      FROM shr
      JOIN perdoc pa ON pa.doc_id = id_a
      JOIN perdoc pb ON pb.doc_id = id_b
      WHERE (1000000 * shared_chunks) // (pa.n + pb.n - shared_chunks) >= 300000
      ORDER BY id_a, id_b""",

    "q126_curation_pipeline" -> s"""
      WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
      sh AS (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, greatest(len(l) - 4, 0)),
            i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' || l[i+3] || ' ' || l[i+4])) AS shingle
        FROM toks),
      ids AS (
        SELECT doc_id,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(string_split(shingle, ''),
                x -> CAST(unicode(x) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % $M) AS tid
        FROM sh),
      d AS (SELECT tid, count(DISTINCT doc_id) AS nd FROM ids GROUP BY tid),
      t AS (
        SELECT ids.doc_id, count(*) AS np,
          sum(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS nb
        FROM ids JOIN d USING (tid) GROUP BY ids.doc_id),
      b AS (
        SELECT l[i] AS w1, l[i+1] AS w2, CAST(count(*) AS BIGINT) AS cb
        FROM toks, unnest(generate_series(1, greatest(len(l) - 1, 0))) AS g2(i)
        WHERE source = 'src0' GROUP BY 1, 2),
      u AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu FROM b GROUP BY w1),
      v AS (
        SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vs
        FROM (SELECT unnest(l) AS tok FROM toks WHERE source = 'src0') vt),
      c AS (
        SELECT doc_id, l[i] AS w1, l[i+1] AS w2
        FROM toks, unnest(generate_series(1, greatest(len(l) - 1, 0))) AS g2(i)),
      scored AS (
        SELECT c.doc_id,
          ((coalesce(b.cb, 0) + 1) * 1000000) // (coalesce(u.cu, 0) + v.vs) AS sc
        FROM c LEFT JOIN b USING (w1, w2) LEFT JOIN u USING (w1) CROSS JOIN v),
      g AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS nbi,
          CAST(sum(sc) AS BIGINT) AS ss
        FROM scored GROUP BY doc_id),
      f AS (
        SELECT doc_id, source, text,
          coalesce(CAST(t.nb AS DOUBLE) / t.np, 0.0) AS boiler_frac,
          coalesce(g.ss // g.nbi, CAST(0 AS BIGINT)) AS avg_score
        FROM documents LEFT JOIN t USING (doc_id) LEFT JOIN g USING (doc_id)),
      k AS (
        SELECT doc_id, source, boiler_frac, avg_score,
          row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM f WHERE boiler_frac <= 0.5 AND avg_score >= 25000)
      SELECT doc_id, source, boiler_frac, avg_score
      FROM k WHERE rn = 1 ORDER BY doc_id""",

    "q94_containment" -> s"""$ShingleCte,
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
      inter AS (
        SELECT p.id_a, p.id_b, count(*) AS inter
        FROM pairs p
        JOIN ids ia ON ia.doc_id = p.id_a
        JOIN ids ib ON ib.doc_id = p.id_b AND ib.tid = ia.tid
        GROUP BY p.id_a, p.id_b),
      sizes AS (SELECT doc_id, count(*) AS sz FROM ids GROUP BY doc_id)
      SELECT p.id_a, p.id_b,
        CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
        sa.sz AS sz_a, sb.sz AS sz_b,
        CAST(coalesce(i.inter, 0) AS DOUBLE) / sa.sz AS containment_a,
        CAST(coalesce(i.inter, 0) AS DOUBLE) / sb.sz AS containment_b
      FROM pairs p
      LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
      JOIN sizes sa ON sa.doc_id = p.id_a
      JOIN sizes sb ON sb.doc_id = p.id_b
      ORDER BY p.id_a""")

  /** The full ExactSubstr find+cut CTE chain, ending in
    * `cdocs(doc_id, cleaned_text, n_kept, n_removed)` — shared by the
    * q135 oracle and compositions that train on the cut corpus (q136).
    */
  /** q128's CDC chunk replay, ending in
    * `cdcch (doc_id, chunk_idx, n_tokens, chunk_hash)` — shared with
    * q159's resemblance pairs.
    */
  private def cdcChunkCtes: String = s"""toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      p AS (
        SELECT doc_id, l, unnest(l) AS tok,
          CAST(generate_subscripts(l, 1) AS BIGINT) AS pos
        FROM toks),
      f AS (
        SELECT doc_id, tok, pos,
          CASE WHEN pos >= 3 AND
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(string_split(
                l[pos - 2] || ' ' || l[pos - 1] || ' ' || l[pos], ''),
                x -> CAST(unicode(x) AS BIGINT))),
              (acc, c) -> (acc * 31 + c) % $M) % 8 = 0
          THEN 1 ELSE 0 END AS b
        FROM p),
      x AS (
        SELECT doc_id, tok, pos,
          CAST(coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS chunk_idx
        FROM f),
      a AS (
        SELECT doc_id, chunk_idx, CAST(count(*) AS BIGINT) AS n_tokens,
          string_agg(tok, ' ' ORDER BY pos) AS chunk
        FROM x GROUP BY doc_id, chunk_idx),
      cdcch AS (
        SELECT doc_id, chunk_idx, n_tokens,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(chunk, ''),
              x -> CAST(unicode(x) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % $M) AS chunk_hash
        FROM a)"""

  private[queries] def exactSubstringCutCtes: String = s"""t AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      sh AS (
        SELECT doc_id, i, array_to_string(l[i:i+4], ' ') AS shingle
        FROM t, unnest(generate_series(1, greatest(len(l) - 4, 0))) AS u(i)),
      ids AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(shingle, ''),
              x -> CAST(unicode(x) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % $M) AS tid
        FROM sh),
      dup AS (SELECT tid FROM ids GROUP BY tid HAVING count(*) > 1),
      occ AS (SELECT doc_id, pos FROM ids JOIN dup USING (tid)),
      marked AS (
        SELECT doc_id, pos,
          CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
            THEN 1 ELSE 0 END AS new_isl
        FROM occ),
      isl AS (
        SELECT doc_id, pos,
          sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM marked),
      spans AS (
        SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end
        FROM isl GROUP BY doc_id, island),
      cut AS (
        SELECT doc_id, CAST(j AS BIGINT) AS pos
        FROM spans, unnest(generate_series(span_start, span_end)) AS u(j)),
      toks AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos, l[i] AS tok
        FROM t, unnest(generate_series(1, len(l))) AS u(i)),
      kept AS (
        SELECT k.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
          string_agg(k.tok, ' ' ORDER BY k.pos) AS cleaned_text
        FROM (SELECT toks.* FROM toks
              LEFT JOIN cut ON cut.doc_id = toks.doc_id AND cut.pos = toks.pos
              WHERE cut.doc_id IS NULL) k
        GROUP BY k.doc_id),
      cdocs AS (
        SELECT d.doc_id,
          coalesce(kept.cleaned_text, '') AS cleaned_text,
          coalesce(kept.n_kept, 0) AS n_kept,
          CAST(len(string_split(d.text, ' ')) - coalesce(kept.n_kept, 0)
            AS BIGINT) AS n_removed
        FROM documents d LEFT JOIN kept USING (doc_id))"""

  /** Shared by q116 and q131: the exact n-gram-overlap decontamination
    * answer (the bloom path must reproduce it bit-for-bit).
    */
  private def decontaminationSql: String = s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      sh AS (
        SELECT doc_id, array_to_string(l[i:i+3], ' ') AS shingle
        FROM t, unnest(generate_series(1, greatest(len(l) - 3, 0))) AS u(i)),
      ids AS (
        SELECT DISTINCT doc_id,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(shingle, ''),
              x -> CAST(unicode(x) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % $M) AS tid
        FROM sh),
      bench AS (SELECT DISTINCT tid FROM ids WHERE doc_id % 50 = 0),
      corpus AS (SELECT doc_id, tid FROM ids WHERE doc_id % 50 <> 0),
      hits AS (
        SELECT doc_id, count(*) AS n_shared
        FROM corpus JOIN bench USING (tid) GROUP BY doc_id)
      SELECT d.doc_id,
        CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared_ngrams,
        coalesce(h.n_shared, 0) > 0 AS contaminated
      FROM documents d LEFT JOIN hits h USING (doc_id)
      WHERE d.doc_id % 50 <> 0
      ORDER BY d.doc_id"""
}
