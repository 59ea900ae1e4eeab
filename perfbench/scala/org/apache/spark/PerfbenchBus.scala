package org.apache.spark

/** The listener bus drain is package-private to Spark; the traced
  * replay needs it so every job/stage/task event of the replayed
  * operations has been delivered before it reads its listener. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
