package graft

/** Measurement tool (optimization rounds, guide §1): dump
  * `.explain("formatted")` for the named queries to
  * `$SPARK_GRAFT_PLAN_DIR/<name>_$SPARK_GRAFT_PLAN_SUFFIX.txt`. The
  * directory defaults to `target/plans` (git-ignored) and the suffix to
  * `before`; the committed records under `plans/` are written only when
  * `SPARK_GRAFT_PLAN_DIR` names them.
  *
  * Runs each query's builder (which may execute eager sub-jobs — index
  * builds materialize through localCheckpoint) and prints the FINAL
  * DataFrame's formatted physical plan, the same plan `Bench` executes
  * via `queryExecution.toRdd`. Not part of the driver contract; a
  * diagnostic main only.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "target/plans")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val cpus = graft.core.Graft.cores
    val spark = graft.core.Graft.session("graft-plandump", cpus.toString, cpus)
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    args.foreach { name =>
      val q = byName.getOrElse(name, sys.error(s"unknown query '$name'"))
      val df = q.run(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
      java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
      System.err.println(s"[plandump] wrote $p (${txt.length} chars)")
    }
    spark.stop()
  }
}
