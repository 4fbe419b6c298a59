package org.apache.spark

/** The listener bus's drain is Spark-private; the traced benchmark run
  * needs it to charge asynchronous listener events to the span that
  * caused them before that span closes.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
