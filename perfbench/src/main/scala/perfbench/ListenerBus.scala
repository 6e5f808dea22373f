package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private.
  * The traced run drains at each op boundary so that every event an op
  * caused is delivered before the op's figures are read.
  */
object PerfbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
