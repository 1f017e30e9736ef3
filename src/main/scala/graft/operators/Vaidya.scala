package graft.operators

import graft.core.TaskProbe

/** One rule verdict. `positive` = impact ≥ threshold = problem detected
  * (the reference's TEST POSITIVE convention).
  */
final case class Finding(
    rule: String,
    importance: String,
    stageId: Option[Int],
    impact: Double,
    threshold: Double,
    positive: Boolean,
    detail: String,
    prescription: String)

/** vaidya-lite: rule-based post-hoc performance diagnosis — the reference's
  * contrib/vaidya advisor (`src/contrib/vaidya/src/java/org/apache/hadoop/
  * vaidya/postexdiagnosis/tests/postex_diagnosis_tests.xml` and the five
  * DiagnosticTest classes beside it) re-expressed over Spark's task
  * metrics. Each rule computes an impact in [0, 1]; impact ≥ the rule's
  * success threshold means TEST POSITIVE (the problem is detected), and
  * the report carries the reference's prescription text shape.
  *
  * Sources differ by necessity: the reference reads JobHistory counters
  * (MAP_INPUT_BYTES, REDUCE_INPUT_RECORDS, LAUNCHED_MAPS…); here the
  * engine's run listener ([[graft.core.RunListener]]) snapshots the same
  * facts from `SparkListenerTaskEnd` task metrics, one [[TaskProbe]] per
  * attempt — records/bytes through each stage's shuffle boundary,
  * spill volume, extra attempts. Stage-level framing replaces job-level:
  * a Spark job is a DAG of map/reduce-like stages, so skew and
  * re-execution are diagnosed per stage and the report lists every
  * positive stage (the reference's single map/reduce phase is the special
  * case). Evaluation itself is a pure function over the probe rows, so
  * the rules unit-test without a cluster — and the probe volume is one
  * small row PER TASK, held on the driver only for the queries the user
  * chose to diagnose (bounded by tasks-per-job, never by data).
  */
object Vaidya {

  /** Run every diagnostic rule over the collected probes. Thresholds and
    * normalization factors default to the reference XML's shipped values
    * (`postex_diagnosis_tests.xml`: 0.20/0.85 balanced-reduce, 0.40
    * re-execution, 0.05/2.0 side-effect reads, 0.3/3.0 map spill).
    */
  def diagnose(tasks: Seq[TaskProbe],
               percentReduceRecords: Double = 0.85,
               balanceThreshold: Double = 0.20,
               reExecThreshold: Double = 0.40,
               sideEffectThreshold: Double = 0.05,
               sideEffectNorm: Double = 2.0,
               spillThreshold: Double = 0.3,
               spillNorm: Double = 3.0): Seq[Finding] = {
    val ok = tasks.filterNot(_.failed)
    val byStage = ok.groupBy(_.stageId).toSeq.sortBy(_._1)

    // --- Balanced reduce partitioning (BalancedReducePartitioning.java:
    // busy reducers = smallest descending-sorted prefix holding
    // `percentReduceRecords` of all reduce input records; impact =
    // 1 − busy/total). A stage with ≤1 reducer or no shuffle input can't
    // be imbalanced.
    val balance = byStage.collect {
      case (sid, ts) if ts.size > 1 && ts.exists(_.shuffleReadRecords > 0) =>
        val recs = ts.map(_.shuffleReadRecords).sortBy(-_)
        val total = recs.sum
        val want = math.ceil(percentReduceRecords * total).toLong
        var acc = 0L
        val busy = recs.indexWhere { r => acc += r; acc >= want } + 1
        val impact = 1.0 - busy.toDouble / recs.size
        Finding("BalancedReducePartitioning", "High", Some(sid), impact,
          balanceThreshold, impact >= balanceThreshold,
          s"stage $sid: $busy of ${recs.size} reduce tasks process " +
            f"${percentReduceRecords * 100}%.0f%% of ${total} shuffle records",
          "repartition on a higher-cardinality key, salt the skewed key, " +
            "or enable AQE skew-join splitting " +
            "(spark.sql.adaptive.skewJoin.enabled)")
    }

    // --- Re-execution impact (Maps/ReducesReExecutionImpact.java:
    // (launched − distinct)/distinct). Spark launches extra attempts for
    // retries and speculation; map-like = stages with no shuffle input.
    def reExec(name: String, pred: Seq[TaskProbe] => Boolean) = {
      val stages = tasks.groupBy(_.stageId).filter { case (_, ts) => pred(ts) }
      val launched = stages.values.map(_.size).sum
      val distinct = stages.values.map(_.count(_.attemptNumber == 0)).sum
      val impact =
        if (distinct == 0) 0.0 else (launched - distinct).toDouble / distinct
      Finding(name, "High", None, math.min(1.0, impact), reExecThreshold,
        impact >= reExecThreshold,
        s"$launched attempts for $distinct tasks",
        "look for flaky executors / OOM kills; cap speculative execution " +
          "or fix the failing partition (SkipBadRecords for poison rows)")
    }
    val mapReExec = reExec("MapsReExecutionImpact",
      ts => ts.forall(_.shuffleReadRecords == 0))
    val redReExec = reExec("ReducesReExecutionImpact",
      ts => ts.exists(_.shuffleReadRecords > 0))

    // --- Side-effect input reads (ReadingHDFSFilesAsSideEffect.java:
    // total read / primary map input, normalized). Spark analog: source
    // bytes read by REDUCE-side stages (post-shuffle stages re-scanning a
    // source instead of consuming the shuffle) vs map-stage input.
    val mapInput = byStage.collect {
      case (_, ts) if ts.forall(_.shuffleReadRecords == 0) => ts.map(_.inputBytes).sum
    }.sum
    val sideInput = byStage.collect {
      case (_, ts) if ts.exists(_.shuffleReadRecords > 0) => ts.map(_.inputBytes).sum
    }.sum
    val sideImpact =
      if (sideInput == 0) 0.0
      else if (mapInput == 0) 1.0
      else math.min(1.0, (sideInput.toDouble / mapInput) / sideEffectNorm)
    val sideEffect = Finding("ReadingInputAsSideEffect", "High", None,
      sideImpact, sideEffectThreshold, sideImpact >= sideEffectThreshold,
      s"$sideInput source bytes read inside shuffle-consuming stages vs $mapInput in scan stages",
      "broadcast the re-read table or cache it; a post-shuffle source " +
        "re-scan multiplies the read per reducer wave")

    // --- Map-side disk spill (MapSideDiskSpill.java: local bytes written
    // vs map output bytes, normalized). Spark analog: spill bytes vs
    // shuffle bytes written across shuffle-writing tasks.
    val written = ok.map(_.shuffleWriteBytes).sum
    val spilled = ok.map(_.spillBytes).sum
    val spillImpact =
      if (spilled == 0) 0.0
      else if (written == 0) 1.0
      else math.min(1.0, (spilled.toDouble / written) / spillNorm)
    val spill = Finding("MapSideDiskSpill", "Low", None, spillImpact,
      spillThreshold, spillImpact >= spillThreshold,
      s"$spilled bytes spilled against $written shuffle bytes written",
      "raise spark.sql.shuffle.partitions (smaller per-task working set) " +
        "or executor memory; check for wide rows inflating the sort buffer")

    balance ++ Seq(mapReExec, redReExec, sideEffect, spill)
  }

  /** Diagnosis over the engine's OBSERVE counters ([[Counters]] facade):
    * after an action on a frame that carries observations, flag any
    * metric whose name marks a lossy guard (`DROPPED_*`, e.g. the LSH
    * bucket cap's DROPPED_MEMBERS) that actually dropped rows — the
    * "silent truncation" class of problem, surfaced with the same
    * Finding shape as the task-metric rules. Boolean rules use
    * threshold 1 (the reference XML's convention for yes/no tests).
    */
  def diagnoseObserved(df: org.apache.spark.sql.DataFrame): Seq[Finding] =
    df.queryExecution.observedMetrics.toSeq.sortBy(_._1).flatMap {
      case (obsName, row) =>
        row.schema.fieldNames.zip(row.toSeq).collect {
          case (metric, v: Long) if metric.startsWith("DROPPED_") =>
            val impact = if (v > 0) 1.0 else 0.0
            Finding(s"LossyGuard:$obsName.$metric", "Medium", None, impact,
              1.0, v > 0,
              s"$v rows dropped by the $obsName guard",
              "raise the guard's cap, or pre-shard the hot key so the " +
                "capped group stays under it; the drop count is exact")
        }
    }

  /** Human-readable report, positives first — the reference's
    * PostExPerformanceDiagnoser report shape (title, impact, threshold,
    * prescription on failure).
    */
  def report(findings: Seq[Finding]): String = {
    val (pos, neg) = findings.partition(_.positive)
    def fmt(f: Finding) = {
      val stage = f.stageId.map(s => s" [stage $s]").getOrElse("")
      f"${if (f.positive) "POSITIVE" else "negative"}  ${f.rule}$stage " +
        f"(${f.importance}) impact=${f.impact}%.2f threshold=${f.threshold}%.2f\n" +
        s"  ${f.detail}" +
        (if (f.positive) s"\n  prescription: ${f.prescription}" else "")
    }
    (pos ++ neg).map(fmt).mkString("\n")
  }
}
