package org.apache.spark

/** Lets the benchmark wait for Spark's asynchronous listener bus, so a
  * traced operation's listener counts are complete when it reads them.
  * The bus is private to the `org.apache.spark` package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
