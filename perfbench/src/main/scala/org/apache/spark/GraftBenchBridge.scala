package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark reads its listeners' totals only after every event posted
  * so far has been delivered. */
object GraftBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
