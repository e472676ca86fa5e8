package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two scheduler-side readings the harness needs that Spark keeps
  * package-private: draining the listener bus, so every event of a
  * finished op has been delivered before it is attributed, and the
  * whole-stage codegen compile count. */
object SparkInternals {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Codegen compiles so far in this JVM. */
  def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
