package org.apache.spark

/** Spark's listener bus is private to the `spark` package; the tracer needs
  * every queued task-end event delivered before it reads a span's metrics.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
