package org.apache.spark

/** Waits until every event posted so far reached the listeners, so a
  * traced pass is read only after its last task, job and stream event.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
