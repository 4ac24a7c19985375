package graft.functions

import graft.SparkSpec
import graft.functions.expressions.BloomHash
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Bloom filter: no false negatives ever, sane false-positive rate,
  * partition-order-invariant build, SQL registration, and the
  * bloom-gated decontamination operator's exact equivalence to the
  * broadcast-exact path.
  */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  test("kernel: inserted ids always probe true; FP rate sane at sizing") {
    val rnd = new scala.util.Random(7)
    val members = Array.fill(1000)(rnd.nextLong())
    val words = new Array[Long](1 << (16 - 6))
    members.foreach(BloomHash.setBits(words, _, 5, 16))
    val blob = BloomHash.toBytes(words)
    assert(members.forall(BloomHash.mightContain(blob, _, 5)),
      "false negative — structurally impossible, hashing is broken")
    val memberSet = members.toSet
    val probes = Array.fill(20000)(rnd.nextLong()).filterNot(memberSet)
    val fp = probes.count(BloomHash.mightContain(blob, _, 5))
    // 1000 ids in 2^16 bits at k=5: theoretical fpp ~ (1-e^(-5000/65536))^5
    // ~ 2e-6; allow a loose 1% bound for the draw
    assert(fp < probes.length / 100, s"FP rate too high: $fp/${probes.length}")
  }

  test("distributed build is partition-count and order invariant (OR merge)") {
    val ids = (0L until 5000L).map(i => i * 2654435761L + 17L)
    def build(parts: Int): Array[Byte] = {
      ids.toDF("id").repartition(parts)
        .agg(expr("bloom_build(id, 16, 5)").as("b"))
        .collect().head.getAs[Array[Byte]]("b")
    }
    val one = build(1)
    val many = build(16)
    assert(java.util.Arrays.equals(one, many),
      "distributed OR-merge must byte-equal the sequential build")
    assert(ids.forall(BloomHash.mightContain(one, _, 5)))
  }

  test("SQL surface: bloom_build + bloom_might_contain round-trip") {
    Seq(1L, 2L, 3L).toDF("id").createOrReplaceTempView("bloom_in")
    val out = spark.sql("""
      WITH b AS (SELECT bloom_build(id, 10, 3) AS blob FROM bloom_in)
      SELECT v.id, bloom_might_contain(b.blob, v.id, 3) AS hit
      FROM VALUES (1L), (3L), (999999999L) AS v(id) CROSS JOIN b
      ORDER BY v.id""").collect()
    assert(out(0).getBoolean(1) && out(1).getBoolean(1))
    // 999999999 was never inserted; with 3 ids in 1024 bits a FP on this
    // fixed probe would mean the kernel is broken, not unlucky
    assert(!out(2).getBoolean(1))
  }

  test("contaminationStatsBloom == contaminationStats exactly (FPs die in verify)") {
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    def text(seed: Long) = {
      val r = new scala.util.Random(seed)
      Seq.fill(12)(vocab(r.nextInt(vocab.size))).mkString(" ")
    }
    // 200 docs; every 10th is "bench"; some corpus docs are exact copies
    // of bench docs (guaranteed shingle overlap), the rest random
    val docs = (0L until 200L).map { i =>
      val t =
        if (i % 10 != 0 && i % 7 == 0) text((i - i % 10) / 10 * 10) // copy a bench doc
        else text(i)
      (i, t)
    }.toDF("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val exact = Dedup.contaminationStats(corpus, bench, "doc_id", "text", k = 3)
      .orderBy("doc_id").collect().toSeq
    // tiny filter (2^8 bits) on purpose: force real false positives
    // through the prefilter and prove the verify join kills them
    val bloom = Dedup.contaminationStatsBloom(corpus, bench, "doc_id", "text",
        k = 3, logBits = 8, numHashes = 2)
      .orderBy("doc_id").collect().toSeq
    assert(bloom == exact)
    assert(exact.exists(_.getAs[Long]("n_shared_ngrams") > 0),
      "fixture must contain real contamination")
  }
}
