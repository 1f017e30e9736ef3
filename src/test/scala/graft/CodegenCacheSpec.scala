package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spark compiles every whole-stage plan into a class and keeps the
  * classes in one JVM-wide LRU cache of `spark.sql.codegen.cache.maxEntries`
  * entries (default 100). The eleven `etl` queries alone compile more
  * than 100 distinct classes at sf0.001 (126 in a fresh JVM), so at the
  * default a repeated pass evicts each class before its next use and
  * recompiles most of what it ran. Sessions built like `Graft.session`
  * size the cache to the engine's working set: a warm pass compiles
  * nothing. They also name each class by its code rather than its
  * codegen stage id, so plans that differ only in stage numbering share
  * classes.
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

  test("the session names generated classes by their code, not their stage id") {
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
    core.Graft.SharedConf.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }

  test("a chained k-NN append compiles ~nothing from its third batch on") {
    // each append adds a union child to the chained index, which shifts
    // every later codegen stage id; with ids in the class names the same
    // code recompiled under new names every batch (72 classes in the
    // third batch here)
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val base = emb.filter(col("xid") % 10 =!= 9)
    val nb = base.count()
    val cells = Similarity.ivfCellsFor(nb)
    val idx0 = Similarity.knnGraphBuild(base,
      base.orderBy(col("xid")).limit(cells).select(col("xid").as("cid"), col("xvec").as("cvec")),
      Similarity.ivfProbesFor(cells), 3, Similarity.knnCellCapFor(nb, cells, 3))
    // the serve CLI's shape: each delta its own file, read the same way
    val dir = TestSpark.tempDir("graft-knn-chain")
    val deltas = (0 until 3).map { b =>
      val p = s"$dir/delta-$b"
      emb.filter(col("xid") % 30 === 9 + 10 * b).coalesce(1).write.parquet(p)
      p
    }
    var idx = idx0
    val compiles = deltas.map { p =>
      val c0 = core.Graft.codegenCompiles
      idx = Similarity.knnGraphAppend(idx, KnnServeMain.readDelta(spark, p))
      assert(Similarity.mutualize(idx.directed).count() > 0)
      core.Graft.codegenCompiles - c0
    }
    info(s"compiles per batch: ${compiles.mkString(" / ")}")
    assert(compiles(2) <= 5, s"third chained batch compiled ${compiles(2)} classes")
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
