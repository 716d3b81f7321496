package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so a traced iteration's job and query metrics are complete
  * before they are read. The listener bus is internal to Spark, hence
  * this one accessor in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
