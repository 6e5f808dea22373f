package org.apache.spark

/** Spec access to the listener bus's drain, which Spark keeps package-private. */
object SpecListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
