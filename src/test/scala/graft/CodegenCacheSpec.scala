package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark's generated-class cache holds graft's working set: a query's
  * classes survive well over 100 distinct compiles in between, so a
  * rerun compiles nothing. At Spark's default cache size (100 entries,
  * ~50 classes in local mode, where each whole-stage class is cached
  * once per classloader) the filler evicts the query and the rerun
  * recompiles. The size comes from GraftSession.builder, which the
  * shared SparkSpec session is built from. */
class CodegenCacheSpec extends SparkSpec {
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a query's generated classes survive 120 distinct queries in between") {
    def queryA(): Unit = spark.range(1000)
      .selectExpr("id % 7 AS k", "id * 3 AS v")
      .groupBy("k").sum("v")
      .collect()
    queryA()
    val afterA = compiles
    // each literal lands in the generated source, so every query
    // compiles a class no other query shares
    for (i <- 1 to 120) spark.range(10).selectExpr(s"id * $i + 1").collect()
    val afterFiller = compiles
    assert(afterFiller - afterA >= 120,
      s"filler compiled ${afterFiller - afterA} classes, expected >= 120")
    queryA()
    assert(compiles == afterFiller,
      s"rerunning the query compiled ${compiles - afterFiller} classes: " +
        "its generated code was evicted from Spark's codegen cache " +
        "(spark.sql.codegen.cache.maxEntries too small)")
  }
}
