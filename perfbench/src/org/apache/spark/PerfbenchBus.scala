package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so a span's counters are complete when it closes.
  * `listenerBus` is `private[spark]`, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
