package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's own drain, which Spark keeps package-private: returns
  * once every event posted so far has reached every listener, or false when
  * that takes longer than `timeoutMs`.
  */
object BusDrain {
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
