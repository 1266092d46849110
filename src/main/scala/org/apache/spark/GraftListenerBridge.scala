package org.apache.spark

/** Bridge into the `private[spark]` listener bus. Listener events are
  * delivered asynchronously, so a listener read right after an action must
  * first wait until the bus has delivered every posted event. */
object GraftListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
