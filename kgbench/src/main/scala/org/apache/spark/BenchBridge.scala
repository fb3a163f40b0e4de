package org.apache.spark

/** The one private-API touch of the benchmark: block until every event
  * already posted to the listener bus has been delivered, so span
  * metrics are complete before they are read. Called only outside timed
  * regions. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
