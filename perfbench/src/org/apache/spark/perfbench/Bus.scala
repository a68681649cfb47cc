package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's listener bus, so that job, task and stream-progress
  * events posted so far have reached the benchmark's listeners. The bus is
  * `private[spark]`, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
