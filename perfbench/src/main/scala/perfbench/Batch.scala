package perfbench

import java.nio.file.Path

import graft.SparkEntry
import org.apache.spark.perfbench.BusBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-query work of one traced pass. */
final case class QueryTrace(buildS: Double, executeS: Double, spark: SparkTotals,
                            plans: Seq[PlanStats], checkpoints: Int, checkpointBytes: Long)

/** `batch-analytic`: a fixed subset of `SparkEntry.queries`, each run as a
  * noop write (which, unlike count(), computes every output column).
  */
final class Batch(spark: SparkSession, dataDir: Path, tracer: Tracer) {
  import Batch._

  private def fn(name: String): (SparkSession, String) => DataFrame = SparkEntry.queries(name)

  /** Drop what a query left cached or checkpointed, outside any timing. */
  private def sweep(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Write every query's result as parquet, for the oracle comparison. */
  def writeResults(out: Path): Unit = Queries.foreach { q =>
    fn(q)(spark, dataDir.toString).write.mode("overwrite").parquet(out.resolve(q).toString)
    sweep()
  }

  /** One pass: per query, seconds inside the `queries(name)` call (which
    * includes eager checkpoint jobs) and seconds of the noop write; and,
    * outside that window, the scheduler totals and plans the listeners saw
    * (zero when they are not attached) and the RDDs the query left
    * persisted, before the sweep drops them.
    */
  def pass(counters: SparkCounters, plans: PlanCollector): Seq[QueryTrace] =
    tracer.span("queries.pass") {
      val sc = spark.sparkContext
      Queries.map { q =>
        BusBridge.drain(sc)
        val before = counters.snapshot
        val plansFrom = plans.count
        val persisted = sc.getPersistentRDDs.keySet
        val t0 = System.nanoTime()
        val df = tracer.span("queries.build")(fn(q)(spark, dataDir.toString))
        val t1 = System.nanoTime()
        tracer.span("queries.execute")(Router.noop(df))
        val t2 = System.nanoTime()
        val fresh = sc.getPersistentRDDs.keySet -- persisted
        val bytes = sc.getRDDStorageInfo.filter(i => fresh.contains(i.id))
          .map(i => i.memSize + i.diskSize).sum
        BusBridge.drain(sc)
        val trace = QueryTrace((t1 - t0) / 1e9, (t2 - t1) / 1e9,
          counters.snapshot - before, plans.since(plansFrom), fresh.size, bytes)
        sweep()
        System.gc() // keep one query's garbage out of the next one's window
        trace
      }
    }
}

object Batch {
  /** Short fixed-cost-bound queries (q36 runs in about half a second on
    * 4 cores) next to iterative ones (q123); q170 checkpoints eagerly and
    * q54 runs graft's own RangeJoinExec. Every one has a DuckDB oracle.
    * About 6 s per pass on 4 cores.
    */
  val Queries: Seq[String] = Seq(
    "q03_revenue_by_nation", "q36_exact_dedup", "q38_lsh_pairs",
    "q54_range_join_custom", "q77_bpe_tokens", "q123_kmeans",
    "q170_typo_pairs_incremental")

  /** The query that set-up runs once, to time a first query on a new session. */
  val WarmUp = "q36_exact_dedup"
}
