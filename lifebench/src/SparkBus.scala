package org.apache.spark

/** The listener bus is private to Spark; a span boundary waits until
  * every event posted so far has reached the benchmark's listeners, so
  * each span reads exact task and job totals. */
object LifeBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
