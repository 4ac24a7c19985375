package graft.tools

import graft.runtime.Sessions

/** Executed-plan audit over many queries in one JVM: per query, the
  * number of parquet scans, exchanges, reused exchanges/subqueries and
  * broadcast joins in the FINAL adaptive plan. High scan counts flag
  * repeated-subtree recomputation (a seam candidate); high exchange
  * counts flag shuffle-heavy shapes.
  * Usage: runMain graft.tools.ScanAudit <sfDir> <q1,q2,...|all>
  */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cpus, "graft-scanaudit")
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args(1) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(",").toSeq
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        val plan = df.queryExecution.executedPlan.toString
        def c(p: String) = p.r.findAllIn(plan).length
        println(s"[audit] $name scans=${c("Scan parquet")} " +
          s"exch=${c("Exchange (hash|range|Single)")} reuse=${c("ReusedExchange")} " +
          s"bhj=${c("BroadcastHashJoin")} smj=${c("SortMergeJoin")} " +
          s"rdd=${c("Scan ExistingRDD")}")
      } catch { case e: Throwable =>
        println(s"[audit] $name FAILED ${e.getMessage.take(80)}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
