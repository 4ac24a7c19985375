package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Pins the Spark jobs each benchmark query starts, from building its
  * frame to the end of a noop write (the `batch-analytic` workload's
  * unit of work), on the sf0.001 testdata. Jobs are the fixed cost of a
  * small query: a new count guard, eager seam or inference read shows
  * up here as a count change, not as wall-time noise. The counts
  * repeat run to run and at 2 and 4 cores (AQE submits one job per
  * query stage, so they follow the plan shape, not the core count).
  */
class JobBudgetSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** batch-analytic's seven queries → jobs per build + noop write. */
  private val budget = Seq(
    "q03_revenue_by_nation" -> 8,
    "q36_exact_dedup" -> 3,
    "q38_lsh_pairs" -> 5,
    "q54_range_join_custom" -> 6,
    "q77_bpe_tokens" -> 3,
    "q123_kmeans" -> 9,
    "q170_typo_pairs_incremental" -> 8)

  /** Jobs started while `name` is built and written to the noop sink. */
  private def jobs(name: String): Int = {
    val sc = spark.sparkContext
    val started = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit = {
        started.incrementAndGet(); ()
      }
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      ListenerBusAccess.drain(sc)
      started.get
    } finally {
      sc.removeSparkListener(listener)
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
  }

  test("batch-analytic queries start their pinned number of jobs") {
    val got = budget.map { case (name, _) => name -> jobs(name) }
    val off = budget.zip(got).collect {
      case ((name, want), (_, n)) if n != want => s"$name: $n jobs (pinned $want)"
    }
    assert(off.isEmpty, s"job counts moved:\n${off.mkString("\n")}\n" +
      s"all counts: ${got.map { case (q, n) => s"$q=$n" }.mkString(" ")}")
  }
}
