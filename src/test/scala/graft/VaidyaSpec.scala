package graft

import graft.core.{RunListener, TaskProbe}
import graft.operators.{Finding, Vaidya}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** vaidya-lite (operators/Vaidya.scala): the reference's five post-hoc
  * diagnosis rules, unit-tested as pure functions over probe rows and
  * integration-tested against a REAL deliberately-skewed Spark run.
  */
class VaidyaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def probe(stage: Int, recs: Long, attempt: Int = 0,
                    write: Long = 0L, in: Long = 0L, spill: Long = 0L,
                    failed: Boolean = false) =
    TaskProbe(stage, attempt, failed, recs, write, in, spill, 0L)

  private def rule(fs: Seq[Finding], name: String, stage: Option[Int] = None): Finding =
    fs.find(f => f.rule == name && (stage.isEmpty || f.stageId == stage))
      .getOrElse(fail(s"no finding for $name"))

  test("balanced-reduce rule: one hot reducer fires, even spread does not") {
    // 8 reducers, one takes 93% of records: busy prefix at 85% = 1 task,
    // impact = 1 - 1/8 = 0.875 >= 0.20 -> POSITIVE
    val skewed = probe(1, 9300) +: (2 to 8).map(i => probe(1, 100, in = 0))
    val f = rule(Vaidya.diagnose(skewed), "BalancedReducePartitioning", Some(1))
    assert(f.positive && math.abs(f.impact - 0.875) < 1e-9, f.toString)
    // even 8-way spread: 85% needs 7 of 8 tasks, impact = 1/8 < 0.20
    val even = (1 to 8).map(i => probe(2, 1000))
    val g = rule(Vaidya.diagnose(even), "BalancedReducePartitioning", Some(2))
    assert(!g.positive && math.abs(g.impact - 0.125) < 1e-9, g.toString)
    // a single-reducer stage cannot be "imbalanced" — no finding at all
    assert(!Vaidya.diagnose(Seq(probe(3, 5000)))
      .exists(f => f.rule == "BalancedReducePartitioning" && f.stageId.contains(3)))
  }

  test("re-execution rules follow the (launched - distinct)/distinct formula") {
    // 4 map tasks, 2 extra attempts -> impact 0.5 >= 0.40 POSITIVE;
    // reduce stage clean -> negative
    val tasks =
      (0 until 4).map(i => probe(0, 0, in = 100)) ++
        Seq(probe(0, 0, attempt = 1), probe(0, 0, attempt = 2)) ++
        (0 until 4).map(i => probe(1, 500))
    val fs = Vaidya.diagnose(tasks)
    assert(rule(fs, "MapsReExecutionImpact").positive)
    assert(math.abs(rule(fs, "MapsReExecutionImpact").impact - 0.5) < 1e-9)
    assert(!rule(fs, "ReducesReExecutionImpact").positive)
  }

  test("side-effect read and spill rules normalize like the reference XML") {
    // reduce stage re-reads 300 source bytes vs 1000 map-stage bytes:
    // impact = (300/1000)/2.0 = 0.15 >= 0.05 POSITIVE
    val side = Seq(probe(0, 0, in = 1000), probe(1, 10, in = 300))
    assert(rule(Vaidya.diagnose(side), "ReadingInputAsSideEffect").positive)
    // spill 2x the shuffle write: impact = 2/3.0 = 0.667 >= 0.3 POSITIVE;
    // spill-free run is negative with impact exactly 0
    val spilly = Seq(probe(0, 0, write = 1000, spill = 2000))
    val f = rule(Vaidya.diagnose(spilly), "MapSideDiskSpill")
    assert(f.positive && math.abs(f.impact - 2.0 / 3.0) < 1e-9)
    assert(rule(Vaidya.diagnose(Seq(probe(0, 0, write = 1000))),
      "MapSideDiskSpill").impact == 0.0)
  }

  test("diagnoseObserved surfaces a lossy-guard drop from the observe facade") {
    import spark.implicits._
    import graft.operators.Dedup
    // 50 ids in one band bucket, cap 10: 40 members drop — the observe
    // metric carries it, and the vaidya rule must read it as POSITIVE
    val bands = (1L to 50L).map(i => (i, 0, "sig")).toDF("id", "band", "key")
    val capped = Dedup.candidatePairs(bands, maxBucket = 10)
    capped.collect()
    val fs = Vaidya.diagnoseObserved(capped)
    val hit = fs.find(_.rule.contains("bucket_cap"))
      .getOrElse(fail(s"no lossy-guard finding in $fs"))
    assert(hit.positive && hit.detail.contains("40"), hit.toString)
    // an uncapped run reports the rule negative with impact 0
    val clean = Dedup.candidatePairs(
      Seq((1L, 0, "x"), (2L, 0, "x")).toDF("id", "band", "key"))
    clean.collect()
    val neg = Vaidya.diagnoseObserved(clean).find(_.rule.contains("bucket_cap"))
      .getOrElse(fail("expected a negative finding"))
    assert(!neg.positive && neg.impact == 0.0)
  }

  test("listener + diagnosis flags a real skewed aggregation, clears a balanced one") {
    import spark.implicits._
    def run(key: org.apache.spark.sql.Column): Seq[TaskProbe] = {
      val l = new RunListener
      spark.sparkContext.addSparkListener(l)
      try {
        spark.range(0, 100000)
          .withColumn("k", key)
          .repartition(8, col("k"))
          .groupBy(col("k")).agg(count(lit(1)))
          .collect()
        // the listener bus is async (and its drain API is private[spark]):
        // poll until the probe count stabilizes
        var prev = -1
        var tries = 0
        while (l.tasks.size != prev && tries < 100) {
          prev = l.tasks.size; tries += 1; Thread.sleep(100)
        }
      } finally spark.sparkContext.removeSparkListener(l)
      l.tasks
    }
    // all rows on ONE key -> one reducer holds everything
    val skewFs = Vaidya.diagnose(run(lit(0L)))
    assert(skewFs.exists(f => f.rule == "BalancedReducePartitioning" && f.positive),
      Vaidya.report(skewFs))
    // high-cardinality key -> spread within threshold
    val evenFs = Vaidya.diagnose(run(col("id")))
    assert(!evenFs.exists(f => f.rule == "BalancedReducePartitioning" && f.positive),
      Vaidya.report(evenFs))
    // the report renders, positives first
    assert(Vaidya.report(skewFs).startsWith("POSITIVE"))
  }
}
