package graft.core

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** One task attempt: the facts vaidya's rules read (records and bytes
  * through the stage's shuffle boundary, source bytes, spill, the
  * attempt number) plus its wall duration.
  */
final case class TaskProbe(
    stageId: Int,
    attemptNumber: Int,
    failed: Boolean,
    shuffleReadRecords: Long,
    shuffleWriteBytes: Long,
    inputBytes: Long,
    spillBytes: Long,
    durationMs: Long)

/** One completed stage: the job that first listed it, its name (Spark's
  * short call site), task count and (rdd id, partitions) of its RDDs.
  */
final case class StageRun(stageId: Int, jobId: Int, name: String,
                          numTasks: Int, rdds: Seq[(Int, Int)])

/** One job: scheduler start and end times (epoch ms; `endMs` is -1 while
  * it runs), its `spark.job.description`, and the graft source line
  * (`File.scala:line`) it ran for, empty if none was found.
  */
final case class JobRun(jobId: Int, startMs: Long, endMs: Long,
                        description: String, callSite: String)

/** The engine's one run listener — the counters a job leaves behind, the
  * way the reference's post-hoc advisor (vaidya) reads JobHistory
  * counters after the fact. It records a [[TaskProbe]] per task attempt,
  * a [[StageRun]] per completed stage and a [[JobRun]] per job;
  * `Vaidya.diagnose` reads the tasks and `graft.Prof` prints the jobs and
  * stages. Register it around the work to observe:
  * {{{
  * val runs = new RunListener
  * spark.sparkContext.addSparkListener(runs)
  * try { query.collect(); runs.settle() }
  * finally spark.sparkContext.removeSparkListener(runs)
  * }}}
  * Driver memory is one small row per task, stage and job: bounded by
  * the observed work's task count, never by data volume.
  *
  * A job's call site is the first `graft.` frame of the stack that
  * submitted it. AQE submits its query-stage jobs (and broadcast builds)
  * from a pool thread, whose stack holds no graft frame (in Spark 4 so
  * does a Dataset action's result stage); those take the call site of
  * the SQL execution they run for, through the `spark.sql.execution.id`
  * local property the pool thread inherits, else that of the action that
  * consumes them ([[jobs]]).
  */
final class RunListener extends SparkListener {
  private val taskBuf = mutable.ArrayBuffer.empty[TaskProbe]
  private val stageBuf = mutable.ArrayBuffer.empty[StageRun]
  private val jobBuf = mutable.Map.empty[Int, JobRun]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execSite = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        RunListener.graftLine(s.details).foreach(execSite(s.executionId) = _)
      case s: SparkListenerSQLExecutionEnd => execSite -= s.executionId
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    // the result stage is created last, so it carries this job's own stack
    val own = e.stageInfos.sortBy(-_.stageId).headOption
      .flatMap(s => RunListener.graftLine(s.details))
    val site = own.orElse(prop(SQLExecution.EXECUTION_ID_KEY)
      .flatMap(id => execSite.get(id.toLong)))
    e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
    jobBuf(e.jobId) = JobRun(e.jobId, e.time, -1L,
      prop("spark.job.description").getOrElse(""), site.getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobBuf.get(e.jobId).foreach(j => jobBuf(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageBuf += StageRun(si.stageId, stageJob.getOrElse(si.stageId, -1), si.name,
      si.numTasks, si.rddInfos.map(r => (r.id, r.numPartitions)).sortBy(_._1).toVector)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val t = e.taskInfo
    // taskMetrics is routinely null for FAILED attempts; dropping those
    // rows would make the re-execution rule undercount launched attempts
    // (or see distinct=0) — exactly the retry storms it exists to flag.
    // Record the attempt with zeroed metrics instead.
    if (t != null)
      taskBuf += TaskProbe(
        stageId = e.stageId,
        attemptNumber = t.attemptNumber,
        failed = !t.successful,
        shuffleReadRecords = if (m != null) m.shuffleReadMetrics.recordsRead else 0L,
        shuffleWriteBytes = if (m != null) m.shuffleWriteMetrics.bytesWritten else 0L,
        inputBytes = if (m != null) m.inputMetrics.bytesRead else 0L,
        spillBytes = if (m != null) m.memoryBytesSpilled + m.diskBytesSpilled else 0L,
        durationMs = if (t.finished) t.duration else 0L)
  }

  def tasks: Vector[TaskProbe] = synchronized(taskBuf.toVector)
  def stages: Vector[StageRun] = synchronized(stageBuf.toVector)

  /** Ended jobs, in id order. A job with no call site of its own or of
    * its SQL execution takes the site of the next job that has one: a
    * `toRdd` drain runs outside any SQL execution, and AQE submits the
    * query stages it consumes just before the drain's own job.
    */
  def jobs: Vector[JobRun] = synchronized {
    var next = ""
    jobBuf.values.toVector.sortBy(-_.jobId).map { j =>
      if (j.callSite.nonEmpty) next = j.callSite
      j.copy(callSite = next)
    }.filter(_.endMs >= 0).reverse
  }

  /** Waits until the asynchronous listener bus has caught up with the
    * actions already returned: no job open and nothing recorded for
    * 100 ms (Spark keeps its own drain call private). Gives up after 10 s.
    */
  def settle(): Unit = {
    def state = synchronized((jobBuf.values.count(_.endMs < 0), taskBuf.size + stageBuf.size))
    var seen = (-1, -1)
    var tries = 0
    while (tries < 100 && (state._1 > 0 || state != seen)) {
      seen = state
      tries += 1
      Thread.sleep(100)
    }
  }
}

object RunListener {
  private val Frame = """graft\.[^(\s]*\(([^():]+:\d+)\)""".r

  /** `File.scala:line` of the first `graft.` frame in a long-form call
    * site (one stack frame per line), if any.
    */
  private def graftLine(details: String): Option[String] =
    Option(details).flatMap(d =>
      d.linesIterator.map(_.trim).collectFirst { case Frame(site) => site })
}
