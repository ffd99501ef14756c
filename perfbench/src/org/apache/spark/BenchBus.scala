package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run waits for every queued job and task event before it
  * reduces the listener's counts.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
