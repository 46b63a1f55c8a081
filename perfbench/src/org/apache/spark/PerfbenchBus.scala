package org.apache.spark

/** The listener bus's drain call is package-private to Spark; the
  * benchmark's tracer needs it so that every event of a traced pass has
  * been delivered before its listeners are detached. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
