package org.apache.spark.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerJobStart

/** Listener-bus shim for `graft.QueryMetrics`: the bus and a stage's
  * shuffle dependency are `private[spark]`, so this one object lives
  * under the org.apache.spark namespace to reach them.
  */
object ListenerBridge {
  /** Waits until every queued event has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Whether a job ends in a result stage (an action), not one of the
    * map-stage jobs AQE submits for each shuffle.
    */
  def isAction(e: SparkListenerJobStart): Boolean =
    e.stageInfos.maxBy(_.stageId).shuffleDepId.isEmpty
}
