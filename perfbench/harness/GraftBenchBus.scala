package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * counters read after an operation include all of its tasks. The bus is
  * visible only inside the `org.apache.spark` package. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
