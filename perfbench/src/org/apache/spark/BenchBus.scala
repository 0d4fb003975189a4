package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a traced run must see every queued event before it reads its counters.
  */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
