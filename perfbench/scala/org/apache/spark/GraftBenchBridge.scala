package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * per-operation engine counters are read only after every event posted
  * during the operation has been delivered. */
object GraftBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
