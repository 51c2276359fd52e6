package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far, so per-job counts read after a call are complete. The bus is
  * package-private; this accessor is the only reason the file lives in
  * Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
