package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The JVM's generated-class cache holds more than one run's working set
  * (Tables.SessionConfigs, `spark.sql.codegen.cache.maxEntries`): a
  * second pass over 150 distinct plans compiles nothing. Each plan is one
  * whole-stage-codegen stage with no exchange (so AQE's stage order
  * cannot change what compiles), and its integer literals are inlined into
  * the generated source, so each plan compiles its own classes (300 in
  * all). At Spark's default of 100 entries the first pass evicts its own
  * early classes and the second pass recompiles all 300. The count reads
  * the cache the JVM actually built, not the conf string. */
class CodegenCacheSpec extends SparkSpec {
  test("a second pass over 150 distinct plans compiles no class") {
    def pass(): Unit = (1 to 150).foreach { i =>
      spark.range(0, 1000, 1, 1).selectExpr(s"id * $i + $i AS v").collect()
    }
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    pass()
    val before = compiles.getCount
    pass()
    val recompiled = compiles.getCount - before
    assert(recompiled == 0,
      s"the second pass recompiled $recompiled generated classes")
  }
}
