package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Codegen compile counting for budget specs: the Janino compiles (cache
  * misses of Spark's `CodeGenerator`) while `body` runs. The counter is
  * JVM-wide, so a spec counts only queries it runs serially. In local
  * mode a new class compiles twice: the cache is keyed on the class
  * loader, and the planning thread and the task threads have their own. */
object CompileCount {
  def of(body: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }
}
