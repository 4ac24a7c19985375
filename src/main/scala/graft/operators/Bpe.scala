package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.runtime.Materialize

/** Distributed BPE tokenizer training (byte-pair encoding, Sennrich et
  * al. 2016, arXiv:1508.07909): iteratively find the most frequent
  * adjacent symbol pair in the corpus and fuse it into a new symbol.
  * The reference pipeline tokenizes with a fixed vocabulary; this is
  * the op that LEARNS one — the remaining step of a training-data
  * pipeline that the rest of the inventory (packing, vocab coverage,
  * LM scoring) consumes.
  *
  * Scale design — classic BPE trains on the WORD-FREQUENCY table, not
  * the raw corpus, and so does this: the corpus is touched exactly once
  * (combine-safe word count); every iteration then runs on the
  * vocabulary-sized (word, cnt, pieces) table — pair counting is one
  * narrow transform + combine-safe aggregate, the argmax is a global
  * 1-row limit, and the merge application is a narrow per-word fold.
  * The per-iteration driver collect is ONE row (the winning pair — the
  * model being learned, same class as the k-means centroid fold), and
  * `localCheckpoint` caps lineage growth across iterations.
  *
  * Determinism — integer counts, argmax tie-broken by (count DESC,
  * pair-string ASC), and merge application defined as a LEFT FOLD over
  * the word's pieces (merge when the accumulator's last piece == lhs
  * and the next piece == rhs; the fused piece never immediately
  * re-merges). The DuckDB oracle replays the identical fold via
  * `list_reduce` on a space-joined accumulator string, so q134
  * hash-checks the whole iterative computation end-to-end.
  */
object Bpe {

  /** Pieces-string representation: a leading-space-sentinel,
    * space-joined symbol list (symbols never contain spaces — they come
    * from whitespace-split words). `" l o w"` -> merge(l,o) ->
    * `" lo w"`.
    */
  private def initialPieces(word: Column): Column =
    concat(lit(" "), array_join(split(word, ""), " "))

  private def symbols(s: Column): Column = split(s.substr(lit(2), length(s)), " ")

  /** Adjacent pairs of the symbol list as "lhs rhs" strings. */
  private def adjacentPairs(l: Column): Column =
    when(size(l) >= 2, transform(sequence(lit(1), size(l) - 1),
      j => concat(element_at(l, j), lit(" "), element_at(l, j + 1))))
      .otherwise(array().cast("array<string>"))

  /** One left-fold merge application over the pieces string. */
  private def applyMerge(s: Column, lhs: String, rhs: String): Column =
    aggregate(symbols(s), lit(""),
      (acc, x) => when(acc === "", concat(lit(" "), x))
        .otherwise(when(endswith(acc, lit(" " + lhs)) && (x === lit(rhs)),
          concat(acc.substr(lit(1), length(acc) - lit(lhs.length + 1)),
            lit(" " + lhs + rhs)))
          .otherwise(concat(acc, lit(" "), x))))

  /** Learn `numMerges` merges over the whitespace words of `textCol`.
    * Output: (merge_rank 1.., lhs, rhs, pair_cnt) in learning order —
    * the model table a tokenizer applies with [[tokenize]]. Stops early
    * if the vocabulary runs out of adjacent pairs.
    */
  def learnMerges(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    var pieces = df
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("word"), col("cnt"), initialPieces(col("word")).as("s"))
      .transform(Materialize.seam)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var it = 1
    var exhausted = false
    while (it <= numMerges && !exhausted) {
      val best = pieces
        .select(col("cnt"), explode(adjacentPairs(symbols(col("s")))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("pair").asc).limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val pair = best(0).getString(0)
        val cnt = best(0).getLong(1)
        val Array(lhs, rhs) = pair.split(" ", 2)
        merges += ((it.toLong, lhs, rhs, cnt))
        pieces = pieces
          .select(col("word"), col("cnt"), applyMerge(col("s"), lhs, rhs).as("s"))
          .transform(Materialize.seam)
        it += 1
      }
    }
    merges.result().toDF("merge_rank", "lhs", "rhs", "pair_cnt")
  }

  /** Apply a learned merge list (in rank order) to a WORD column: the
    * ENCODE step (merges never cross word boundaries, so tokenize the
    * exploded words, not whole texts). One narrow pass — the model
    * rides as expression literals (it is tiny), each merge one fold.
    * Output column: the word's final symbols, space-joined.
    */
  def tokenize(word: Column, merges: Seq[(String, String)]): Column = {
    val s0 = initialPieces(word)
    val sN = merges.foldLeft(s0) { case (s, (lhs, rhs)) => applyMerge(s, lhs, rhs) }
    sN.substr(lit(2), length(sN))
  }

  /** Per-group tokenizer fertility/compression stats under a learned
    * merge list — the tokenizer-fairness report a multilingual corpus
    * runs after training (fertility = symbols emitted per whitespace
    * word; chars-per-symbol = how much text each symbol carries). A
    * tokenizer trained on a skewed mixture over-fragments the
    * under-represented groups; this is the table that shows it.
    *
    * Scale shape: ONE corpus scan into the combinable
    * (group, word, cnt) aggregate; the encode then runs once per
    * DISTINCT (group, word) pair — vocabulary-sized×k work, not
    * corpus-sized — as a narrow codegen'd column ([[tokenizeNative]]),
    * with NO join anywhere (joining an encoded-vocab table back would
    * either broadcast an unbounded vocabulary — the q127 footgun — or
    * add a shuffle; computing in place does neither). Totals are exact
    * longs; the two ratios are single long/long double divisions.
    */
  def fertilityByGroup(df: DataFrame, groupCol: String, textCol: String,
                       merges: Seq[(String, String)]): DataFrame = {
    val words = df
      .select(col(groupCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col(groupCol), col("word")).agg(count(lit(1)).as("cnt"))
    words
      .select(col(groupCol), col("cnt"),
        size(split(tokenizeNative(col("word"), merges), " ")).cast("long")
          .as("__sy"),
        length(col("word")).cast("long").as("__ch"))
      .groupBy(col(groupCol))
      .agg(sum(col("cnt")).cast("long").as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        sum(col("cnt") * col("__sy")).cast("long").as("n_syms"),
        sum(col("cnt") * col("__ch")).cast("long").as("n_chars"))
      .select(col(groupCol), col("n_words"), col("n_distinct_words"),
        col("n_syms"), col("n_chars"),
        (col("n_syms").cast("double") / col("n_words")).as("fertility"),
        (col("n_chars").cast("double") / col("n_syms")).as("chars_per_sym"))
  }

  /** [[tokenize]] on the native fused kernel
    * ([[graft.functions.expressions.BpeEncode]]) — the hot path for
    * encoding a full corpus: one codegen'd pass per word instead of one
    * interpreted fold per merge. Bitwise parity with the HOF chain is
    * spec-pinned.
    */
  def tokenizeNative(word: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.expressions.BpeEncode(
      ColumnBridge.expression(word), merges))
  }
}
