package org.apache.spark

/** Waits until every posted scheduler event has reached the listeners
  * (`listenerBus` is `private[spark]`), so counters read after a phase
  * include the last tasks' metrics.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
