package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col

import graft.core.SparkTestBase

/** Spark's generated-class cache holds a session's working set of
  * distinct whole-stage plans, so a warm pass over them compiles
  * nothing. Each plan keeps two entries (the driver-side and the
  * task-side compile are keyed by different classloaders); with
  * Spark's default of 100 entries, split into 4 LRU segments, a second
  * sweep over this working set misses on nearly every lookup.
  */
class CodegenCacheSpec extends SparkTestBase {
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a Harness session carries the codegen cache size") {
    try assert(Harness.session().conf.get("spark.sql.codegen.cache.maxEntries") == "1024")
    finally spark.sparkContext.setLogLevel("ERROR") // Harness.session logs at WARN
  }

  test("a second sweep over 100 distinct whole-stage plans compiles no class") {
    // a Long literal is inlined into the generated source, so every i
    // is a distinct class
    def sweep(): Long = {
      val before = compiles
      (1 to 100).foreach { i =>
        spark.range(1000).selectExpr(s"id * $i + 1 AS v").filter(col("v") % 3 === 0).collect()
      }
      compiles - before
    }
    val cold = sweep()
    assert(cold >= 100, s"the first sweep compiled only $cold classes: the plans are not distinct")
    val warm = sweep()
    assert(warm == 0, s"the second sweep recompiled $warm of the $cold classes")
  }
}
