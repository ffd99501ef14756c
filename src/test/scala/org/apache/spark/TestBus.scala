package org.apache.spark

/** The listener bus drain, which Spark keeps package-private: a test
  * that counts jobs waits for every queued event before it reads the
  * count.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
