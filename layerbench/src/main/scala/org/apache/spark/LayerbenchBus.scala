package org.apache.spark

import scala.util.Try

/** Spark internals the benchmark reads: the listener bus, to wait
  * until every posted event has been delivered, and Spark's own status
  * store, which keeps every job's stages and their I/O whether or not a
  * listener of the benchmark is attached. */
object LayerbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes read and written by the stages of the jobs submitted between
    * `fromMs` and `toMs` (epoch milliseconds, both included). */
  def jobBytes(sc: SparkContext, fromMs: Long, toMs: Long): (Long, Long) = {
    drain(sc)
    val store = sc.statusStore
    val stageIds = store.jobsList(null)
      .filter(_.submissionTime.exists(t => t.getTime >= fromMs && t.getTime <= toMs))
      .flatMap(_.stageIds).distinct
    val stages = stageIds.flatMap(id => Try(store.stageData(id)).getOrElse(Nil))
    (stages.map(_.inputBytes).sum, stages.map(_.outputBytes).sum)
  }
}
