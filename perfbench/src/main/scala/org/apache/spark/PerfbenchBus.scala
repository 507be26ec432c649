package org.apache.spark

/** The listener bus is package-private to Spark; the traced run needs
  * it to attach a listener for exactly one op and to wait until every
  * event of that op was delivered before detaching it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
