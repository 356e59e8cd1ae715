package org.apache.spark

/** The listener bus is private[spark]; the harness drains it so that task,
  * job and query events are counted against the pass or key that caused
  * them before the next one starts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
