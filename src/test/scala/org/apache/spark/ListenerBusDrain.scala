package org.apache.spark

/** Blocks until Spark's listener bus has delivered every event posted so
  * far, so a spec's listener has seen every job an action ran. The bus
  * is private to Spark's own packages, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
