package org.apache.spark

/** The listener bus drain, which Spark keeps package-private: a spec
  * that counts events must wait until every posted one is delivered.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
