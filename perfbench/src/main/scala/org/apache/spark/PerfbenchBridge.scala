package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * listener counters are read only after every posted event is delivered.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
