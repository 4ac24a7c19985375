package org.apache.spark

/** Lets specs wait until every posted listener event has been delivered;
  * Spark keeps the listener bus package-private.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
