package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark-internal reads the traced run needs. */
object SparkInternals {

  /** Block until every listener event posted so far is delivered, so
    * the counts read after a pass include all of the pass's events. */
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Classes whole-stage codegen has compiled in this JVM so far. */
  def codegenClasses: Long =
    CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
}
