package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * traced run reads complete job, stage and progress records. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
