package org.apache.spark

/** The one Spark-internal hook the tracer needs: listener events are
  * delivered asynchronously, so a span boundary must wait until every
  * event posted so far has reached the listeners before it reads the
  * counters. Otherwise a job's tasks would be charged to the next span. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
