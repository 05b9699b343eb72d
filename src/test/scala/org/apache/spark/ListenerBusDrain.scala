package org.apache.spark

/** Test access to the context's listener bus, which delivers events
  * asynchronously: [[apply]] returns once every event posted so far has
  * reached every listener, so a test can read counts right after an action. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
