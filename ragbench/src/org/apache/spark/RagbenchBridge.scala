package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: the
  * probes read listener state only after every event posted so far has been
  * delivered. */
object RagbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
