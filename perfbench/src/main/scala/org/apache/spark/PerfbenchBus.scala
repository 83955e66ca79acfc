package org.apache.spark

/** Waits until every event posted to Spark's listener bus has been
  * delivered, so a traced phase's listener records are complete before
  * they are read. The bus is package-private, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
