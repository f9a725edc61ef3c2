package org.apache.spark

/** The listener bus is `private[spark]`; draining it before a listener
  * is removed guarantees the listener has seen every event of the jobs
  * that already finished.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
