package org.apache.spark

/** The listener bus is `private[spark]`; tests that count scheduler
  * events wait through this for every queued event to be delivered.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Whether a job is an action (ends in a result stage), not one of
    * the map-stage jobs AQE submits for each shuffle.
    */
  def isAction(e: scheduler.SparkListenerJobStart): Boolean =
    e.stageInfos.maxBy(_.stageId).shuffleDepId.isEmpty
}
