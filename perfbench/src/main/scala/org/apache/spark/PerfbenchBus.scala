package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * traced operation's jobs, tasks and query phases are all attributed
  * before the next operation starts. The bus is package-private, hence
  * the package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
