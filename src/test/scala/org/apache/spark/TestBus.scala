package org.apache.spark

/** Lets a test wait until every posted listener event has been
  * delivered, so a listener's job count is complete before it is read.
  * The listener bus is internal to Spark, hence this one accessor in
  * Spark's package. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
