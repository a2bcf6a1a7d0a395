package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark reads its
  * counters only after every posted event has been handled. The bus is
  * private to Spark, hence this accessor in Spark's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
