package org.apache.spark

/** Test access to the listener bus drain, which Spark keeps
  * package-private: a test that counts jobs with a listener waits for
  * every job event before it reads the count.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
