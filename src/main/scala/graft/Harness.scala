package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** What the mains (Bench, Prof, Verify, PlanDump) share: the scale
  * directory, the session, the registry lookup, the warm-up, the sweep
  * between queries and the drain that executes a query.
  */
object Harness {

  /** The scale directory a main reads its tables from:
    * `SPARK_GRAFT_SF_DIR`, else sf0.1. The one read of that variable.
    */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** A session at [[graft.core.Graft.cores]] local cores and shuffle width. */
  def session(appName: String): SparkSession = {
    val cpus = graft.core.Graft.cores
    graft.core.Graft.session(appName, cpus.toString, cpus)
  }

  /** The registered query `name`; an unknown name fails the main. */
  def query(name: String): Q =
    SparkEntry.registry.find(_.name == name)
      .getOrElse(sys.error(s"unknown query '$name'"))

  /** Warm the JVM/codegen/scan/agg/join paths so the first measured query
    * isn't charged for JIT + classloading (~5s on a cold session).
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    // tolerate a partial data dir (e.g. pointing at soak fixtures that
    // carry only the tables under test) — warmup is best-effort
    scala.util.Try {
      val n = spark.read.parquet(s"$sfDir/nation.parquet")
      n.groupBy(col("n_regionkey"))
        .agg(sum(col("n_nationkey").cast(DecimalType(18, 4))), count(lit(1)))
        .collect()
      n.join(n.select(col("n_nationkey").as("k")), col("n_nationkey") === col("k"))
        .count()
    }
    // touch the big fact/doc scans too: the first query over each file
    // otherwise pays its parquet-footer + column-reader JIT inside the
    // measured window (q01 was ~1.4s warmup + ~0.3s compute)
    Seq("lineitem", "orders", "events", "documents").foreach { t =>
      scala.util.Try(
        spark.read.parquet(s"$sfDir/$t.parquet").agg(count(lit(1))).collect())
    }
  }

  /** Sweep engine state a query leaked (pinned localCheckpoints, caches)
    * so it can't tax the NEXT query's timing, nor 285 queries in one
    * session accumulate pinned executor memory.
    */
  def sweep(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.clearCache()
  }

  /** Execute the query's OWN physical plan (toRdd) — a `.count()` would
    * let Catalyst prune projections/regex work out of map-only queries
    * and time a metadata count instead.
    */
  def drain(df: DataFrame): Long = df.queryExecution.toRdd.count()
}
