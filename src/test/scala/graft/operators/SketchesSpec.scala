package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private def hash(x: Long): Long =
    Math.floorMod(x * 1000003L + 17L, 1000000007L)

  test("unsaturated sketch = all distinct hashes sorted; estimate exact") {
    val rows = Seq(("a", 5L), ("a", 7L), ("a", 5L), ("a", 9L), ("b", 1L))
      .toDF("g", "id")
    val out = Sketches.kminNdv(rows, Seq("g"), "id", k = 16)
      .collect().map(r => r.getAs[String]("g") ->
        ((r.getAs[scala.collection.Seq[Long]]("sketch").toSeq, r.getAs[Long]("ndv_est")))).toMap
    assert(out("a")._1 == Seq(5L, 7L, 9L).map(hash).sorted)
    assert(out("a")._2 == 3L && out("b")._2 == 1L)
  }

  test("saturated sketch = k smallest distinct hashes; estimate within bound") {
    val n = 5000
    val ids = (0 until n).map(i => ("g", (i * 37L + 11L) % 100000L)).distinct
    val k = 64
    val out = Sketches.kminNdv(ids.toDF("g", "id"), Seq("g"), "id", k)
      .collect().head
    val expectSketch = ids.map(t => hash(t._2)).distinct.sorted.take(k)
    assert(out.getAs[scala.collection.Seq[Long]]("sketch").toSeq == expectSketch)
    val exact = ids.map(_._2).distinct.size.toLong
    val est = out.getAs[Long]("ndv_est")
    // 1/sqrt(k-2) ~ 12.7%; allow 4 sigma
    assert(math.abs(est - exact).toDouble / exact < 0.5,
      s"est $est vs exact $exact")
  }

  test("sketch is repartition-invariant (merge exactness)") {
    val ids = (0 until 3000).map(i => ("g", (i * 1009L + 3L) % 50000L))
    val one = Sketches.kminNdv(ids.toDF("g", "id").coalesce(1),
      Seq("g"), "id", 32).collect().head.getAs[scala.collection.Seq[Long]]("sketch").toSeq
    val many = Sketches.kminNdv(ids.toDF("g", "id").repartition(17),
      Seq("g"), "id", 32).collect().head.getAs[scala.collection.Seq[Long]]("sketch").toSeq
    assert(one == many)
  }

  test("pairwise set ops: overlap estimated, disjoint groups intersect to 0") {
    // A = [0, 2000), B = [1000, 3000) -> |A u B| = 3000, J = 1/3
    // C = [50000, 51000) disjoint from both
    val rows = (0L until 2000L).map(("A", _)) ++
      (1000L until 3000L).map(("B", _)) ++
      (50000L until 51000L).map(("C", _))
    val k = 128
    val sk = Sketches.kminNdv(rows.toDF("g", "id"), Seq("g"), "id", k)
    val out = Sketches.pairwiseSetOps(sk, "g", k)
      .collect().map(r => (r.getAs[String]("group_a"),
        r.getAs[String]("group_b")) ->
        ((r.getAs[Long]("est_union"), r.getAs[Long]("jaccard_ppm"),
          r.getAs[Long]("est_intersect")))).toMap
    val (unionAB, jacAB, interAB) = out(("A", "B"))
    assert(math.abs(unionAB - 3000L) < 1200, s"union $unionAB")
    assert(jacAB > 150000L && jacAB < 550000L, s"jaccard $jacAB")
    assert(interAB > 300L && interAB < 1900L, s"intersect $interAB")
    assert(out(("A", "C"))._3 == 0L && out(("B", "C"))._3 == 0L)
    assert(out(("A", "C"))._2 == 0L)
  }

  test("negative values fail loudly; nulls are skipped") {
    val neg = Seq(("g", -5L)).toDF("g", "id")
    val e = intercept[Exception] {
      // bypass the operator's hash to hit the aggregate's domain guard
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val raw = ColumnBridge.column(
        graft.functions.expressions.KminSketchAgg(
          ColumnBridge.expression(col("id")), 4).toAggregateExpression())
      neg.groupBy(col("g")).agg(raw.as("s")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("non-negative")))
    val withNull = Seq(("g", java.lang.Long.valueOf(5L)), ("g", null))
      .toDF("g", "id")
    val out = Sketches.kminNdv(withNull, Seq("g"), "id", 4).collect().head
    assert(out.getAs[Long]("ndv_est") == 1L)
  }

  test("kmin_sketch is SQL-registered") {
    Seq(("g", 1L), ("g", 2L)).toDF("g", "id").createOrReplaceTempView("kmv_t")
    val r = spark.sql(
      "SELECT kmin_sketch(id, 4) AS s FROM kmv_t GROUP BY g")
      .collect().head.getAs[scala.collection.Seq[Long]]("s").toSeq
    assert(r == Seq(1L, 2L))
  }
}
