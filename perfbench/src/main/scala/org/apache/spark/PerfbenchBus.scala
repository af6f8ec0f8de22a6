package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run reads its job records only after every queued
  * listener event has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
