package org.apache.spark

/** Test bridge (`SparkContext.listenerBus` is `private[spark]`): wait until
  * every listener has seen the events posted so far. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
