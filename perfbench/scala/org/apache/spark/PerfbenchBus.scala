package org.apache.spark

/** The listener bus is Spark-internal; the benchmark drains it so that
  * every task and query event of a finished operation is counted before
  * the operation's numbers are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
