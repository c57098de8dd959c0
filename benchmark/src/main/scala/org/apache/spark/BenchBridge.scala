package org.apache.spark

/** Access to the listener bus flush, which Spark keeps package-private:
  * the benchmark reads per-span counts only after every event posted
  * so far has reached its listener. */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
