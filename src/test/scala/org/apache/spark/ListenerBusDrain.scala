package org.apache.spark

/** Test access to the context's listener bus, which Spark keeps private:
  * a listener's counts are complete once the bus has delivered every event
  * posted so far. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
