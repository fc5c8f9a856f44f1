package org.apache.spark

/** Blocks until Spark's listener bus has delivered every event posted so
  * far. The bus is private to Spark's own packages, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
