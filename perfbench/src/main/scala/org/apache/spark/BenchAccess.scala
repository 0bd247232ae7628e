package org.apache.spark

/** The one Spark-internal call the harness needs: wait until every posted
  * listener event has been delivered, so counters read after an action
  * include that action's jobs, stages and tasks. Used only when tracing. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
