package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/** The two listener-bus calls the benchmark's tracer needs and Spark keeps
  * package-private: posting a span marker in order with Spark's own events,
  * and waiting until every listener has seen everything posted so far. */
object PipebenchBus {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
