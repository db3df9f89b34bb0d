package graft.streaming

import org.apache.spark.metrics.source.CodegenMetrics

/** Classes compiled from generated code, in this JVM, while `body` runs. */
object Compiles {
  def during(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }
}
