package org.apache.spark

/** Lets the traced run wait until every listener has seen an op's events,
  * so counts land on the op that caused them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
