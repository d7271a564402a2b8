package org.apache.spark

/** The one Spark-internal the traced run needs: waiting until the
  * listener bus has delivered every event posted so far. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
