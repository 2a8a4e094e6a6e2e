package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: a
  * listener that counts jobs waits for every job event before it reports.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
