package org.apache.spark

/** Access to the one scheduler hook the benchmark needs that Spark keeps
  * package-private. */
object ConnbenchBridge {

  /** Block until every listener event posted so far has been delivered,
    * so the listener's counts are complete before they are read. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
