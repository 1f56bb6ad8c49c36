package org.apache.spark

/** Drains the listener bus so every Spark event a finished call produced
  * has reached the benchmark's listeners before its counters are read.
  * `listenerBus` is package-private, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
