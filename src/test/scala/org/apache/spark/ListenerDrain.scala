package org.apache.spark

/** The listener bus drain is package-private to Spark; specs that count
  * jobs, stages or task metrics call it so every event of the work they
  * ran has been delivered before they read their listener. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
