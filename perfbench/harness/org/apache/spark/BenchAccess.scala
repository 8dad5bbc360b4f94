package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** The two engine internals the benchmark reads that Spark scopes to its
  * own package: draining the listener bus (so a traced operation's
  * events have all arrived before its listeners are detached) and the
  * codegen compile histogram.
  */
object BenchAccess {

  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** (compilations so far, total compile milliseconds so far). The
    * histogram keeps a sample, so the total is its mean times its count.
    */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    (n, if (n == 0) 0.0 else h.getSnapshot.getMean * n)
  }
}
