package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sign random projection: determinism, matrix balance, the JL distance
  * preservation property on real-shaped data, and plan narrowness.
  */
class ProjectionSpec extends SparkSpec {
  import spark.implicits._

  private def randVec(rng: scala.util.Random, dim: Int): Seq[Float] =
    Seq.fill(dim)((rng.nextDouble() * 2 - 1).toFloat)

  test("sign matrix is deterministic, ±1-valued, and roughly balanced") {
    val m = Projection.signMatrix(32, 64, seed = 42L)
    assert(m == Projection.signMatrix(32, 64, seed = 42L))
    assert(m.flatten.forall(s => s == 1L || s == -1L))
    // balance: no row (projection direction) may be near-constant — a
    // structured parity leak would show up here
    m.foreach { row =>
      val plus = row.count(_ == 1L)
      assert(plus >= 16 && plus <= 48, s"unbalanced row: $plus/+64")
    }
    // rows must differ from each other (decorrelated directions)
    assert(m.distinct.size == m.size)
  }

  test("JL property: projected distances track original distances") {
    val rng = new scala.util.Random(7)
    val dim = 64
    val vecs = (0L until 40L).map(i => (i, randVec(rng, dim)))
    val df = vecs.toDF("id", "v")
    val proj = Projection.signProject(df, "id", "v", dim, dOut = 32,
        scale = 10000L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val orig = vecs.toMap
    def d2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    def pd2(a: Seq[Long], b: Seq[Long]): Double =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    // E[|proj(u)-proj(v)|²] = dOut · scale² · |u-v|² — check the ratio
    // concentrates (most pairs within 2x, median much tighter)
    val ratios = for {
      i <- 0L until 40L; j <- (i + 1) until 40L
    } yield pd2(proj(i), proj(j)) / (32.0 * 1e8 * d2(orig(i), orig(j)))
    val within2 = ratios.count(r => r > 0.5 && r < 2.0)
    assert(within2 >= (ratios.size * 0.9).toInt,
      s"only $within2/${ratios.size} pairs within 2x distortion")
    val sorted = ratios.sorted
    val median = sorted(sorted.size / 2)
    assert(median > 0.75 && median < 1.33, s"median ratio $median")
  }

  test("projection plan is narrow — no exchange at any corpus size") {
    val df = (0L until 8L).map(i => (i, Seq.fill(8)(0.5f))).toDF("id", "v")
    val out = Projection.signProject(df, "id", "v", 8, 4)
    val exchanges = out.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.isEmpty, s"projection shuffled: $exchanges")
  }

  test("native kernel matches the HOF reference bitwise") {
    val rng = new scala.util.Random(11)
    val vecs = (0L until 30L).map(i => (i, randVec(rng, 24)))
    val df = vecs.toDF("id", "v")
    def dump(out: org.apache.spark.sql.DataFrame) =
      out.orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    val native = dump(Projection.signProject(df, "id", "v", 24, 8,
      scale = 777L, seed = 7L))
    val hof = dump(Projection.signProjectViaHof(df, "id", "v", 24, 8,
      scale = 777L, seed = 7L))
    assert(native == hof)
  }

  test("sign_project is SQL-registered with identical results") {
    val rng = new scala.util.Random(13)
    val df = (0L until 10L).map(i => (i, randVec(rng, 16))).toDF("id", "v")
    df.createOrReplaceTempView("sp_probe")
    val viaSql = spark.sql(
      "SELECT id, sign_project(v, 4, 16, 7, 777) AS proj FROM sp_probe")
      .orderBy("id").collect().map(_.getSeq[Long](1)).toSeq
    val viaApi = Projection.signProject(df, "id", "v", 16, 4,
      scale = 777L, seed = 7L)
      .orderBy("id").collect().map(_.getSeq[Long](1)).toSeq
    assert(viaSql == viaApi)
  }

  test("signOf matches the oracle SQL formula shape on edge cells") {
    // replicate signSql arithmetic in plain Scala for a few cells
    val p = 1000000007L; val a = 618033988L; val b = 13L
    for (c <- Seq(0L, 1L, 63L, 64L, 1023L, 42L + 15 * 64 + 63)) {
      val h1 = (c * a + b) % p
      val h = ((h1 * h1) % p * a + h1) % p
      val expect = if (h % 2 == 0) 1L else -1L
      assert(Projection.signOf(c) == expect, s"cell $c")
    }
  }
}
