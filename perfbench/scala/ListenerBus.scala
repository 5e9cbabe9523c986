package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The context's listener bus is private to Spark's packages; this one
  * call reaches it from the benchmark.
  */
object ListenerBus {
  /** Returns once every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
