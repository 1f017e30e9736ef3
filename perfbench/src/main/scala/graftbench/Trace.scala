package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval: a workload run, an op, or a phase of an op. Times are
  * epoch-aligned nanoseconds (`Spans.now`), so a span can be set against the
  * listener's millisecond stage times.
  */
final case class Span(id: Int, name: String, kind: String, parent: Int,
                      runId: String, start: Long, end: Long, traced: Boolean)

/** In-memory span recorder. Spans are kept until the run ends and are then
  * written out with the result. Once [[attach]]ed to a context (the traced
  * run), each span also becomes the Spark job group of the jobs started
  * inside it, so the [[StageRecorder]] can attribute stages to the span that
  * caused them.
  */
final class Spans(runId: String) {
  private val done = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List(-1)
  private var sc: Option[SparkContext] = None

  def attach(c: Option[SparkContext]): Unit = sc = c

  def all: Seq[Span] = done.toSeq

  def apply[T](name: String, kind: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = stack.head
    stack = id :: stack
    sc.foreach(_.setJobGroup(id.toString, name, interruptOnCancel = false))
    val traced = sc.isDefined
    val t0 = Spans.now()
    try body
    finally {
      done += Span(id, name, kind, parent, runId, t0, Spans.now(), traced)
      stack = stack.tail
      sc.foreach { c =>
        if (parent < 0) c.clearJobGroup()
        else c.setJobGroup(parent.toString, "", interruptOnCancel = false)
      }
    }
  }
}

object Spans {
  private val originNanos = System.nanoTime()
  private val originEpochNanos = System.currentTimeMillis() * 1000000L

  /** Monotonic nanoseconds on the epoch time line. */
  def now(): Long = originEpochNanos + (System.nanoTime() - originNanos)
}

/** Per-stage counts for the traced run, keyed by the job group (span id)
  * of the job that ran the stage.
  */
final class StageRecorder extends SparkListener {
  final class Stage(val group: String, val stage: Int, val attempt: Int) {
    var numTasks = 0
    var submitted = 0L
    var completed = 0L
    var tasksEnded = 0
    var taskSumMs = 0L
    var maxTaskMs = 0L
    var schedDelayMs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var failedTasks = 0
  }
  final class Job(val group: String, val job: Int, val start: Long, var end: Long)

  private val groupOfStage = scala.collection.mutable.Map.empty[Int, String]
  private val stages = scala.collection.mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt),
      new Stage(groupOfStage.getOrElse(id, ""), id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    e.stageIds.foreach(groupOfStage.getOrElseUpdate(_, g))
    jobs(e.jobId) = new Job(g, e.jobId, e.time, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    val s = stage(info.stageId, info.attemptNumber())
    s.numTasks = info.numTasks
    s.submitted = info.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val s = stage(info.stageId, info.attemptNumber())
    s.numTasks = info.numTasks
    s.completed = info.completionTime.getOrElse(System.currentTimeMillis())
    if (s.submitted == 0L) s.submitted = info.submissionTime.getOrElse(s.completed)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    val dur = info.duration
    s.tasksEnded += 1
    s.taskSumMs += dur
    s.maxTaskMs = math.max(s.maxTaskMs, dur)
    if (info.failed || info.killed) s.failedTasks += 1
    Option(e.taskMetrics).foreach { m =>
      // the Spark UI's scheduler delay: task wall time not spent running,
      // deserializing, serializing the result or fetching it
      s.schedDelayMs += math.max(0L, dur - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
    }
  }

  def stageJson: Seq[String] = synchronized {
    stages.values.toSeq.map { s =>
      Json.obj(
        "group" -> Json.str(s.group), "stage" -> s.stage.toString,
        "attempt" -> s.attempt.toString, "num_tasks" -> s.numTasks.toString,
        "tasks_ended" -> s.tasksEnded.toString,
        "submitted_ms" -> s.submitted.toString, "completed_ms" -> s.completed.toString,
        "task_sum_ms" -> s.taskSumMs.toString, "max_task_ms" -> s.maxTaskMs.toString,
        "sched_delay_ms" -> s.schedDelayMs.toString,
        "shuffle_read_bytes" -> s.shuffleReadBytes.toString,
        "shuffle_write_bytes" -> s.shuffleWriteBytes.toString,
        "spill_bytes" -> s.spillBytes.toString,
        "failed_tasks" -> s.failedTasks.toString)
    }
  }

  def jobJson: Seq[String] = synchronized {
    jobs.values.toSeq.map(j => Json.obj("group" -> Json.str(j.group),
      "job" -> j.job.toString, "start_ms" -> j.start.toString, "end_ms" -> j.end.toString))
  }
}

/** Just enough JSON writing for the harness's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
