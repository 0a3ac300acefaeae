package org.apache.spark

/** The one `private[spark]` call the benchmark needs: wait until every
  * posted listener event has been delivered, so a pass's task metrics
  * are complete before they are read. */
object PerfbenchBridge {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
