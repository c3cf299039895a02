package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * tracer must see every event of a run before it attributes them. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
