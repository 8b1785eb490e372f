package org.apache.spark

/** Waits until every posted listener event has been delivered. The live
  * listener bus is package-private, so this lives in Spark's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
