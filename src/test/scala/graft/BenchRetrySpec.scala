package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the bench harness's outlier-retry decision (round-8:
  * a host stall spanned BOTH min-of-2 passes of q95 in the round-7 record,
  * so min-of-N alone can't absorb a sustained stall — queries whose min
  * exceeds SPARK_GRAFT_BENCH_RETRY_RATIO x their baseline (default 2.0,
  * matching benchgate's threshold) get one bounded extra pass).
  */
class BenchRetrySpec extends AnyFunSuite {

  test("outliers: flags only queries past ratio x baseline") {
    val best = Map("q1" -> 1.0, "q2" -> 7.6, "q3" -> 0.2, "q95" -> 14.43)
    val base = Map("q1" -> 1.1, "q2" -> 2.5, "q3" -> 0.1, "q95" -> 2.50)
    // ratio 3.0: q2 is 3.04x (flag), q95 is 5.8x (flag), q3 is 2x (no),
    // q1 is below baseline (no)
    assert(Bench.outliers(best, base, 3.0) == Vector("q2", "q95"))
  }

  test("outliers: no baseline entry / zero baseline / failed run never retry") {
    val best = Map("new_q" -> 50.0, "failed_q" -> -1.0, "zero_q" -> 9.0)
    val base = Map("failed_q" -> 0.5, "zero_q" -> 0.0)
    assert(Bench.outliers(best, base, 3.0).isEmpty)
  }

  test("outliers: boundary is strictly greater than ratio x baseline") {
    val base = Map("q" -> 2.0)
    assert(Bench.outliers(Map("q" -> 6.0), base, 3.0).isEmpty)  // exactly 3x
    assert(Bench.outliers(Map("q" -> 6.01), base, 3.0) == Vector("q"))
  }

  test("loadBaseline parses the queries map; absent file is empty") {
    val f = TestSpark.tempFile("bench-base", ".json")
    java.nio.file.Files.write(f,
      """{"metric":"total","value":3.5,"queries":{"q1_agg":1.25,"q2_grep":2.25},
        |"calib_par_ms":900.0}""".stripMargin.replace("\n", "").getBytes("UTF-8"))
    val m = Bench.loadBaseline(f.toString)
    assert(m == Map("q1_agg" -> 1.25, "q2_grep" -> 2.25))
    java.nio.file.Files.delete(f)
    assert(Bench.loadBaseline("/nonexistent/path.json").isEmpty)
    // malformed JSON must degrade to "no retries", never throw
    val g = TestSpark.tempFile("bench-bad", ".json")
    java.nio.file.Files.write(g, "{not json".getBytes("UTF-8"))
    assert(Bench.loadBaseline(g.toString).isEmpty)
    java.nio.file.Files.delete(g)
  }
}
