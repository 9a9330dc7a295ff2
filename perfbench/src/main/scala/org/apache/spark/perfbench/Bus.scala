package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus barrier. Spark delivers listener events asynchronously;
  * the benchmark reads its counters only after every event an operation
  * produced has been delivered, so each operation's deltas are its own.
  * `waitUntilEmpty` is package-private to Spark, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => }
}
