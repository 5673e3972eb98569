package org.apache.spark

/** The listener bus delivers events asynchronously; a traced probe
  * reads its counters only after every event of the probed call has
  * been delivered. `waitUntilEmpty` is package-private to Spark, hence
  * this one-line bridge in Spark's package. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
