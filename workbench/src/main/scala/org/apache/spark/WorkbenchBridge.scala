package org.apache.spark

/** Access to the listener bus for the benchmark's traced run: wait until
  * every posted event has reached the listeners before attributing. */
object WorkbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
