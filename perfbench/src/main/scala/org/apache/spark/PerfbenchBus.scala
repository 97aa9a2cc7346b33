package org.apache.spark

/** Reaches the one `private[spark]` call the census needs: block until the
  * listener bus has delivered every queued event, so counts read right
  * after an action are complete.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
