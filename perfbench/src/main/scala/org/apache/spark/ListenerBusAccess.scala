package org.apache.spark

/** The listener bus is asynchronous; span boundaries must see every event
  * of the jobs that ran inside the span, so the tracer drains the bus
  * first. `waitUntilEmpty` is Spark-private, hence this package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
