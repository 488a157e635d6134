package org.apache.spark

/** Test access to Spark's listener bus: returns once every event
  * posted so far has reached its listeners, so a spec can count the
  * jobs a call started without racing the asynchronous bus. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
