package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: a
  * traced run waits for every job event of a period before it attributes
  * them.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
