package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.StaticSQLConf

/** The generated-class cache holds a whole pass of the engine's queries:
  * repeating a set of queries compiles nothing. The test session sizes
  * the cache with the same [[GraftSession.CodegenCacheEntries]] as
  * `GraftSession.local`. */
class CodegenCacheSpec extends SparkSpec {
  /** Spark's own default cache size, which one pass outgrows. */
  private val SparkDefaultEntries = 100

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the codegen cache size is pinned and reaches the session") {
    assert(GraftSession.CodegenCacheEntries == 2048)
    assert(spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key) ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a second round over more classes than Spark's default cache compiles nothing") {
    // one whole-stage class per query: literals are inlined into the
    // generated Java, so each multiplier yields distinct source
    val n = SparkDefaultEntries + 30
    def round(): Long = {
      val c0 = compiles
      (1 to n).foreach { i =>
        val v = spark.range(0, 4, 1, 1).selectExpr(s"id * $i + 7919 AS v").collect()
        assert(v.map(_.getLong(0)).toSeq == (0 until 4).map(_ * i + 7919L))
      }
      compiles - c0
    }
    val first = round()
    assert(first >= n, s"expected at least $n compiles in the first round, got $first")
    val second = round()
    assert(second == 0L, s"the second round recompiled $second of $first classes")
  }
}
