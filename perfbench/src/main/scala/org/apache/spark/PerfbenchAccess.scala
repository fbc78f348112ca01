package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** The two engine internals the benchmark's tracer reads: draining the
  * listener bus before counting, and the process-wide count of
  * whole-stage-codegen compilations.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
