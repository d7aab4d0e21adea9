package org.apache.spark

/** Drains the listener bus so a traced query's job, task and
  * micro-batch events are counted before its spans close.
  * `waitUntilEmpty` is package-private to Spark, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
