package org.apache.spark

/** Core-side bridge (the sql-side one is o.a.s.sql.GraftShim):
  * `graft.Meter` attributes task metrics to blocks of code via a
  * SparkListener, and task-end events post asynchronously — without
  * draining the bus between blocks, bytes from block N would be credited
  * to block N+1.
  * `listenerBus` is private[spark], hence this shim.
  */
object GraftCoreShim {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
