package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spark compiles every whole-stage plan into a class and keeps the
  * classes in one JVM-wide LRU cache of `spark.sql.codegen.cache.maxEntries`
  * entries (default 100). The eleven `etl` queries alone compile more
  * than 100 distinct classes at sf0.001 (126 in a fresh JVM), so at the
  * default a repeated pass evicts each class before its next use and
  * recompiles most of what it ran. Sessions built like `Graft.session`
  * size the cache to the engine's working set: a warm pass compiles
  * nothing.
  */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val etl = Seq(
    "q01_agg", "q02_grep", "q04_scan_project", "q05_topk", "q10_join_inner",
    "q14_semi_anti", "q24_distinct", "q31_secondary_sort",
    "q36_window_running", "q149_star_join", "q173_skew_audit")

  test("the session carries Graft's codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      core.Graft.CodegenCacheEntries.toString)
  }

  test("a warm pass over the etl queries compiles no generated class") {
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    def pass(): Long = {
      val c0 = core.Graft.codegenCompiles
      etl.foreach { n =>
        byName(n).run(spark, TestSpark.sf0001).queryExecution.toRdd.count()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
      core.Graft.codegenCompiles - c0
    }
    val first = pass()
    val second = pass()
    info(s"compiles: first pass $first, second pass $second")
    assert(second == 0L, s"warm pass recompiled $second generated classes")
  }
}
