package org.apache.spark

/** Access to the SparkContext's listener bus, which is package-private:
  * the benchmark drains it before reading what its listeners recorded. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
