package org.apache.spark

/** Core-side bridge (the sql-side one is o.a.s.sql.GraftShim):
  * `graft.Meter` attributes task metrics to blocks of code via a
  * SparkListener, and task-end events post asynchronously — without
  * draining the bus between blocks, bytes from block N would be credited
  * to block N+1.
  * It also names a stage by the operation scopes of its RDDs.
  * `listenerBus` and `RDDOperationScope` are private[spark], hence this
  * shim.
  */
object GraftCoreShim {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The distinct operation scopes of a stage's RDDs (`Scan parquet`,
    * `WholeStageCodegen (2)`, `Exchange`, ...), in data-flow order.
    */
  def scopeNames(info: scheduler.StageInfo): Seq[String] =
    info.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim)).distinct
}
