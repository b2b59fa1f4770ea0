package org.apache.spark

/** Test-only bridge into the `private[spark]` listener bus. */
object GraftTestBridge {

  /** Blocks until every event posted so far has reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
