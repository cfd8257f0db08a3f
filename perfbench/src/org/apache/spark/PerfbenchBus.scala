package org.apache.spark

/** Lets the benchmark wait for Spark's asynchronous listener bus, so every
  * event an op caused has been delivered before the op's span is closed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
