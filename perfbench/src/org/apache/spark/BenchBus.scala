package org.apache.spark

/** Exact drain of the async listener bus. `waitUntilEmpty` is
  * package-private to Spark, so the benchmark reaches it from here; a
  * counter read before the bus is empty misses straggler task events
  * and charges them to the next operation. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
