package org.apache.spark

/** The one Spark-internal the harness needs: listener events are
  * delivered asynchronously, so counters read at a span boundary are only
  * complete once the listener bus has drained. Used in traced runs only.
  */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
