package org.apache.spark

/** The one Spark-internal call the tracer needs: wait until every queued
  * listener event has been delivered, so per-operation counters are read
  * after the operation's last task-end event, not while it is in flight. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
