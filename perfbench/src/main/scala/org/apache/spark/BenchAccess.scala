package org.apache.spark

/** The one scheduler hook the benchmark needs that Spark keeps package
  * private: waiting until the listener bus has delivered every event.
  */
object BenchAccess {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
