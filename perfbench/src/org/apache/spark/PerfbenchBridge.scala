package org.apache.spark

/** The two `private[spark]` reads the benchmark's tracer needs: draining
  * the listener bus so an op's events have all been delivered before its
  * record is read, and the codegen compile counter. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
