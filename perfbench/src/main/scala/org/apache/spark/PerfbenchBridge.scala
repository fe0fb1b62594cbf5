package org.apache.spark

/** The listener bus delivers events asynchronously; reading listener
  * state before it drains would undercount the last operation's jobs. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
