package org.apache.spark

/** Bridge to the listener bus's drain, which Spark keeps package-private:
  * the traced run reads its listener's per-group totals only after every
  * posted event has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
