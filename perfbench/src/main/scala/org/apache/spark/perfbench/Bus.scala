package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; this is the one call the benchmark
  * needs from it. `drain` returns once every event posted so far has been
  * delivered to every listener, so counters read afterwards are complete.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
