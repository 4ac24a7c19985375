package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark's listener bus drain, which is package-private to Spark. */
object BusBridge {
  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
