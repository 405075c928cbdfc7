package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event (task, job and streaming progress)
 * has been delivered, so a run reads complete metrics. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
