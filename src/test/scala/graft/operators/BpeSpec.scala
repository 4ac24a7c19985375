package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "low lower lowest low"),
    (2L, "new newer newest new low"),
    (3L, "wide wider widest")
  ).toDF("doc_id", "text")

  test("learnMerges replays the classic BPE sequence with deterministic ties") {
    val got = Bpe.learnMerges(corpus, "text", 6)
      .orderBy(col("merge_rank"))
      .as[(Long, String, String, Long)].collect().toSeq
    // hand-checked: 5x 'low'-prefix words drive (l,o) then (lo,w); the
    // 4x 'new'-family drives (e,w) then (n,ew); ties broken by pair asc
    assert(got == Seq(
      (1L, "l", "o", 5L),
      (2L, "lo", "w", 5L),
      (3L, "e", "w", 4L),
      (4L, "n", "ew", 4L),
      (5L, "d", "e", 3L),
      (6L, "i", "de", 3L)), s"got $got")
  }

  test("tokenize applies merges in rank order without crossing merges") {
    val merges = Seq("l" -> "o", "lo" -> "w", "e" -> "w", "n" -> "ew",
      "d" -> "e", "i" -> "de")
    val toks = Seq("lower", "newest", "widest", "x").toDF("word")
      .select(Bpe.tokenize(col("word"), merges).as("t"))
      .as[String].collect().toSeq
    assert(toks == Seq("low e r", "new e s t", "w ide s t", "x"), s"got $toks")
  }

  test("native BpeEncode kernel equals the HOF fold chain and the SQL form") {
    val merges = Seq("l" -> "o", "lo" -> "w", "e" -> "w", "n" -> "ew",
      "d" -> "e", "i" -> "de")
    val words = Seq("lower", "newest", "widest", "x", "llll", "wewewe",
      "olé", "中中文", "").toDF("word")
    val both = words.select(
      Bpe.tokenize(col("word"), merges).as("hof"),
      Bpe.tokenizeNative(col("word"), merges).as("native"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    both.foreach { case (hof, nat) =>
      assert(hof == nat, s"HOF '$hof' != native '$nat'") }
    // SQL registration path, model as the rank-ordered literal
    words.createOrReplaceTempView("bpe_words")
    val sql = spark.sql(
      "SELECT bpe_encode(word, 'l o,lo w,e w,n ew,d e,i de') FROM bpe_words")
      .collect().map(_.getString(0)).toSeq
    assert(sql == both.map(_._2).toSeq)
  }

  test("vocabulary with no adjacent pairs stops early with an empty model") {
    val singles = Seq((1L, "a b c a")).toDF("doc_id", "text")
    assert(Bpe.learnMerges(singles, "text", 5).count() == 0)
  }

  test("fertilityByGroup weights symbol counts by word frequency per group") {
    // merges (l,o)+(lo,w): "low"->1 sym, "lower"->3 ("low e r"), "x"->1.
    val docs = Seq(
      (1L, "low low lower", "en"),
      (2L, "x", "de")
    ).toDF("doc_id", "text", "lang")
    val merges = Seq("l" -> "o", "lo" -> "w")
    val out = Bpe.fertilityByGroup(docs, "lang", "text", merges)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6))).toMap
    // en: 3 words (2 distinct), syms = 2*1 + 1*3 = 5, chars = 2*3 + 5 = 11.
    assert(out("en") == ((3L, 2L, 5L, 11L, 5.0 / 3.0, 11.0 / 5.0)),
      s"en: ${out("en")}")
    assert(out("de") == ((1L, 1L, 1L, 1L, 1.0, 1.0)), s"de: ${out("de")}")
  }
}
