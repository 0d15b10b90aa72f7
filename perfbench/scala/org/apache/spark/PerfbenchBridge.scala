package org.apache.spark

/** The one Spark-internal call the benchmark's tracer needs: wait until
  * every listener event posted so far has been delivered, so a pass's
  * job, task and query-execution events are all counted before the pass
  * is summed. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
