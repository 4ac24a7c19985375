package graft.functions

import graft.SparkSpec
import graft.functions.expressions.MinHashSignature
import graft.operators.TopK
import org.apache.spark.sql.functions._

/** Count-min sketch: grid parity with a scalar reference, the one-sided
  * guarantee, merge determinism under repartition, null/negative
  * handling, and the SQL registration.
  */
class CountMinSpec extends SparkSpec {
  import spark.implicits._

  private val P = MinHashSignature.M
  private val depth = 3
  private val width = 16

  private def refGrid(ids: Seq[Long]): Array[Long] = {
    val g = new Array[Long](depth * width)
    for (x <- ids; i <- 0 until depth) {
      val b = ((MinHashSignature.AS(i) * x + MinHashSignature.BS(i)) % P % width).toInt
      g(i * width + b) += 1L
    }
    g
  }

  test("grid equals the scalar reference; estimates never undercount") {
    val ids = (0L until 500L).map(x => x * x % 97L) // collision-rich
    val df = ids.toDF("id")
    val grid = df.agg(TopK.countMin(col("id"), depth, width).as("cms"))
      .collect()(0).getSeq[Long](0).toArray
    assert(grid.toSeq == refGrid(ids).toSeq)
    // point estimates: >= exact for every distinct id, and the grid's
    // per-row total equals n (no lost mass)
    val exact = ids.groupBy(identity).view.mapValues(_.size.toLong)
    val ests = df.distinct()
      .crossJoin(df.agg(TopK.countMin(col("id"), depth, width).as("cms")))
      .select(col("id"), TopK.countMinEstimate(col("cms"), col("id"), depth, width).as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, n) <- exact) assert(ests(id) >= n, s"undercount for $id: ${ests(id)} < $n")
    for (i <- 0 until depth)
      assert(grid.slice(i * width, (i + 1) * width).sum == ids.length.toLong)
  }

  test("merge is exact: grid invariant under repartition; nulls skipped") {
    val ids = (1L to 1000L).map(x => x % 37L)
    val base = ids.map(Option(_)).toDF("id")
      .union(Seq(Option.empty[Long]).toDF("id"))
    val g1 = base.repartition(1)
      .agg(TopK.countMin(col("id"), depth, width)).collect()(0).getSeq[Long](0)
    val g8 = base.repartition(8)
      .agg(TopK.countMin(col("id"), depth, width)).collect()(0).getSeq[Long](0)
    assert(g1 == g8)
    assert(g1.slice(0, width).sum == 1000L) // the null row contributed nothing
  }

  test("negative and out-of-range ids are rejected loudly") {
    val e = intercept[org.apache.spark.SparkException] {
      Seq(-1L).toDF("id").agg(TopK.countMin(col("id"), depth, width)).collect()
    }
    assert(e.getMessage.contains("count_min") ||
      Option(e.getCause).exists(_.getMessage.contains("count_min")))
  }

  test("sql registration: count_min works end-to-end") {
    Seq(5L, 5L, 9L).toDF("id").createOrReplaceTempView("cm_in")
    val grid = spark.sql(s"SELECT count_min(id, $depth, $width) FROM cm_in")
      .collect()(0).getSeq[Long](0).toArray
    assert(grid.toSeq == refGrid(Seq(5L, 5L, 9L)).toSeq)
  }
}
