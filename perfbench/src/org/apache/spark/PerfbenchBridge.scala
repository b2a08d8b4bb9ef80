package org.apache.spark

/** The one engine internal the benchmark needs: waiting until every
  * queued listener event has been delivered, so a traced run reads its
  * job, stage, task and query records only after all of them arrived. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
