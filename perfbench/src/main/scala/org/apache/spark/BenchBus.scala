package org.apache.spark

/** The one private-API touch of the benchmark: block until the listener
  * bus has delivered every posted event, so a traced op's events are all
  * attributed before the next op starts. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
