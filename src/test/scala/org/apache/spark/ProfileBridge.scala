package org.apache.spark

/** The listener-bus drain, which Spark keeps package-private: a profile is
  * read only after every event posted so far has been delivered. */
object ProfileBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
