package org.apache.spark

/** The two Spark internals the traced run reads: draining the listener bus,
  * so a run's events are complete before they are read, and the codegen
  * compile histogram. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** (compilations so far, mean compile ms over the histogram's reservoir). */
  def codegen(): (Long, Double) = {
    val h = metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}
