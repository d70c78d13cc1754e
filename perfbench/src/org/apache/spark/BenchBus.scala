package org.apache.spark

/** The listener bus drain is `private[spark]`; the benchmark needs it so
  * that every task-end event of an operation has been counted before the
  * per-operation Spark counters are read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
