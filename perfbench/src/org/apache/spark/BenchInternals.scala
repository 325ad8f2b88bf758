package org.apache.spark

/** The two Spark internals the benchmark reads: the listener-bus drain
  * (so listener callbacks of a finished job call are all delivered before
  * its spans are read) and the memory manager's off-heap execution use.
  */
object BenchInternals {

  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  def offHeapExecutionBytes(): Long = {
    val env = SparkEnv.get
    if (env == null) 0L else env.memoryManager.offHeapExecutionMemoryUsed
  }
}
