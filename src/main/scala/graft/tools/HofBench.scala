package graft.tools

import graft.runtime.Sessions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev measurement for the round-7 HOF audit: isolates the surviving
  * live higher-order-function kernels against their native (or
  * arithmetic-free) counterparts on the sf0.1 corpus, best-of-3
  * per path, noop-sink forced. Not part of the bench surface — a
  * provenance tool for the BASELINE HOF-audit table.
  *
  * Paths measured:
  *   1. q32 token stats — one native GopherStats pass vs the retired
  *      three-kernel HOF chain (tokenCount + distinctTokenCount +
  *      avgTokenLength).
  *   2. IvfPq residual — the zip_with(v, centroid, _-_) per-row fold
  *      (q74/q152 encode path) vs the no-subtraction toDouble baseline
  *      on the same rows; the delta is the HOF's own cost.
  *   3. SpanCorrupt reassembly — array_join(transform(collect'd
  *      structs, getField)) per document (q156/q157) vs the same
  *      aggregate without the transform (array_join of a pre-projected
  *      string array); the delta is the post-shuffle HOF cost.
  */
object HofBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(32, "graft-hofbench")
    spark.sparkContext.setLogLevel("WARN")

    def best3(name: String)(df: => DataFrame): Double = {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val b = times.min
      println(f"[hofbench] $name%-34s $b%.3f s (best of 3)")
      b
    }

    import graft.functions.TextFunctions._
    val docs = graft.Tables.documents(spark, sfDir)
    // warm-up
    docs.select(col("doc_id")).write.format("noop").mode("overwrite").save()

    // 1. q32 kernels
    best3("q32 native gopherStats") {
      val gs = gopherStats(col("text"), Seq.empty)
      docs.select(col("doc_id"), gs.getField("n_words"),
        gs.getField("n_types"),
        gs.getField("char_sum").cast("double") / gs.getField("n_words"))
    }
    best3("q32 HOF three-kernel chain") {
      docs.select(col("doc_id"), tokenCount(col("text")),
        distinctTokenCount(col("text")), avgTokenLength(col("text")))
    }

    // 2. IvfPq residual zip_with
    val emb = graft.Tables.embeddings(spark, sfDir)
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val cent = array((0 until dim).map(i => lit(i * 0.01)): _*)
    best3("ivfpq toDouble baseline") {
      emb.select(graft.functions.VectorFunctions.toDouble(col("embedding")))
    }
    best3("ivfpq residual zip_with") {
      emb.select(zip_with(
        graft.functions.VectorFunctions.toDouble(col("embedding")),
        cent, (x, c) => x - c))
    }

    // 3. SpanCorrupt reassembly transform
    val pieces = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    best3("spancorrupt join WITH transform") {
      pieces.groupBy(col("doc_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok").as("s")))),
          x => x.getField("s")), " ").as("t"))
    }
    best3("spancorrupt join pre-projected") {
      // no per-element lambda: sort by a zero-padded sort key embedded
      // in the string, then join — NOT semantics-equal (key prefix
      // kept), just the no-HOF cost floor for the same shuffle
      pieces.groupBy(col("doc_id"))
        .agg(array_join(array_sort(collect_list(col("tok"))), " ").as("t"))
    }

    spark.stop()
  }
}
