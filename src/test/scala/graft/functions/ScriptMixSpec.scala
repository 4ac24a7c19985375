package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ScriptMixSpec extends SparkSpec {
  import spark.implicits._

  private def mix(s: String): Seq[Long] = {
    val r = Seq(s).toDF("t")
      .select(TextFunctions.scriptMix(col("t")).as("m"))
      .select(col("m.*")).collect()(0)
    (0 until 6).map(r.getLong)
  }

  test("hand-computed class counts across scripts") {
    // latin, cyrillic, cjk (han + kana + hangul), digit, space, other
    assert(mix("Abc") == Seq(3, 0, 0, 0, 0, 0))
    assert(mix("Приве́т") == Seq(0, 6, 0, 0, 0, 1)) // combining acute = other
    assert(mix("日本語カナ한") == Seq(0, 0, 6, 0, 0, 0))
    assert(mix("a1 ё中!") == Seq(1, 1, 1, 1, 1, 1))
    assert(mix("éÉøŸ") == Seq(4, 0, 0, 0, 0, 0)) // Latin-1/Extended
    assert(mix("") == Seq(0, 0, 0, 0, 0, 0))
    assert(mix("\t\n\r ") == Seq(0, 0, 0, 0, 4, 0))
    assert(mix("🙂") == Seq(0, 0, 0, 0, 0, 1)) // astral plane -> other
  }

  test("fuzz parity: native kernel equals the HOF reference") {
    val rnd = new scala.util.Random(42)
    val pools = Seq(
      ('a' to 'z').mkString, "ЖЗИЙклмн", "日本語漢字", "가나다라",
      "0123456789", "   \t\n", "!?;:,.()", "éàüßñ", "ΑΒΓαβγ") // greek = other
    val docs = (1 to 300).map { _ =>
      val n = rnd.nextInt(40)
      (1 to n).map { _ =>
        val p = pools(rnd.nextInt(pools.length))
        p(rnd.nextInt(p.length))
      }.mkString
    }
    val df = docs.toDF("t")
    val native = df.select(TextFunctions.scriptMix(col("t")).as("m")).collect()
    val hof = df.select(TextFunctions.scriptMixViaHof(col("t")).as("m")).collect()
    native.zip(hof).zip(docs).foreach { case ((n, h), d) =>
      assert(n.getStruct(0).toSeq == h.getStruct(0).toSeq,
        s"mismatch on ${d.take(40)}: ${n.getStruct(0)} vs ${h.getStruct(0)}")
    }
  }

  test("sql registration: script_mix end-to-end") {
    Seq("ab 1中").toDF("t").createOrReplaceTempView("sm_in")
    val r = spark.sql("SELECT script_mix(t) AS m FROM sm_in")
      .select(col("m.*")).collect()(0)
    assert((0 until 6).map(r.getLong) == Seq(2, 0, 1, 1, 1, 0))
  }
}
