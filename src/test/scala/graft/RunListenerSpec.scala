package graft

import graft.core.{RunListener, TaskProbe}
import org.apache.spark.UnknownReason
import org.apache.spark.scheduler.{SparkListenerTaskEnd, TaskInfo, TaskLocality}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The engine's one run listener (core/RunListener.scala): job
  * descriptions and graft call sites, AQE query-stage jobs attributed to
  * the action they run for, and failed attempts kept as zeroed rows.
  */
class RunListenerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def observed(body: => Unit): RunListener = {
    val runs = new RunListener
    spark.sparkContext.addSparkListener(runs)
    try { body; runs.settle() }
    finally spark.sparkContext.removeSparkListener(runs)
    runs
  }

  private def described[T](d: String)(body: => T): T = {
    spark.sparkContext.setJobDescription(d)
    try body finally spark.sparkContext.setJobDescription(null)
  }

  private val here = "RunListenerSpec.scala:"

  test("a described job records its description and its graft source line") {
    val runs = observed(described("p")(spark.sparkContext.parallelize(1 to 100, 4).count()))
    val js = runs.jobs
    assert(js.size == 1, js)
    assert(js.head.description == "p" && js.head.callSite.startsWith(here), js)
    assert(js.head.endMs >= js.head.startMs)
    val st = runs.stages
    assert(st.map(s => (s.jobId, s.numTasks)) == Vector((js.head.jobId, 4)), st)
    assert(runs.tasks.count(t => !t.failed) == 4)
  }

  test("AQE query-stage jobs carry the description and line of their action") {
    val a = spark.range(0, 2000).withColumn("k", col("id") % 17)
    val b = spark.range(0, 300).select(col("id").as("j"), (col("id") % 17).as("k2"))
    val join = a.join(b, col("k") === col("k2"))
    // a Dataset action, and the mains' drain (`toRdd`, outside any SQL
    // execution) whose jobs all take the drain's line; broadcast is off so
    // AQE plans shuffle stages
    Seq[(() => Long, String)]((() => join.count(), here),
      (() => Harness.drain(join), "Harness.scala:")).foreach { case (act, site) =>
      val runs = observed {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try described("p")(act())
        finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      // the query stages run from AQE's pool: their stage names carry no
      // line of this file, only the jobs' recorded call sites do
      assert(runs.stages.exists(!_.name.contains(here)), runs.stages)
      val js = runs.jobs
      assert(js.nonEmpty && js.forall(j => j.description == "p" && j.callSite.startsWith(site)), js)
    }
  }

  test("a task that throws is recorded as a failed attempt with zeroed metrics") {
    val runs = observed {
      intercept[Exception](spark.sparkContext.parallelize(1 to 4, 2)
        .map(i => if (i == 3) throw new IllegalStateException("boom") else i).count())
    }
    val failed = runs.tasks.filter(_.failed)
    assert(failed.nonEmpty, runs.tasks)
    assert(failed.forall(t => t.shuffleReadRecords == 0 && t.shuffleWriteBytes == 0 &&
      t.inputBytes == 0 && t.spillBytes == 0), failed)
    // an attempt that ends without metrics (lost executor, kill) still
    // counts as a launched attempt, with zeroed metrics
    val l = new RunListener
    l.onTaskEnd(SparkListenerTaskEnd(7, 0, "ResultTask", UnknownReason,
      new TaskInfo(1L, 0, 1, 0, 0L, "driver", "localhost", TaskLocality.PROCESS_LOCAL, false),
      null, null))
    assert(l.tasks == Vector(TaskProbe(7, 1, true, 0L, 0L, 0L, 0L, 0L)))
  }
}
