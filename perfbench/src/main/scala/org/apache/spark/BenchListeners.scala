package org.apache.spark

/** Waits until every scheduler event posted so far has reached the
  * listeners, so per-query counts are read after the query's last task.
  */
object BenchListeners {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
