package graft

/** Driver-run benchmark: every registered query on SPARK_GRAFT_SF_DIR,
  * one JSON line. A failing query reports an explicit "err" marker (and a
  * sentinel -1 timing) instead of masquerading as a fast run.
  *
  * Hygiene + diagnostics (round-6, after four queries "regressed" across
  * rounds with no code change on their paths):
  *  - per-query GC milliseconds ride along in "gc_ms" — a query whose
  *    seconds grow while its gc share stays flat was slowed by something
  *    OUTSIDE the JVM (host contention), not by engine state;
  *  - between queries, leaked persistent RDDs (e.g. a localCheckpoint the
  *    query never released) are swept and caches cleared, so query N's
  *    pinned memory can't tax query N+1 — each timing measures ITS query;
  *  - a parallel calibration probe ("calib_par_ms" pre/post) runs the spin
  *    on all cores: the single-thread spin stays flat when the host still
  *    has ONE free core, which is exactly how 32-way queries slow 3x while
  *    calib_spin_ms swears nothing changed;
  *  - SPARK_GRAFT_BENCH_ONLY=q46_skipbad,q66_... runs a subset (in the
  *    given order); SPARK_GRAFT_BENCH_REPEAT=N (default 2) loops the suite
  *    N times and reports each query's MINIMUM — measured on this host, a
  *    query's FIRST execution pays 2-6x in classload/JIT/codegen that its
  *    plan does not own, and one-shot timings of sub-second queries in a
  *    32-thread shared JVM spike 3-5x on host contention (that is exactly
  *    the round-2..5 "drift": q46 0.58→3.09 s with zero code change,
  *    unreproducible afterwards). min-of-2 with sweeps is the stable,
  *    honest per-query signal; per-pass lines go to stderr;
  *  - OUTLIER RETRY (round-8, after a host stall spanned BOTH min-of-2
  *    passes of q95 and poisoned the round-7 record): after the repeat
  *    passes, any query whose min exceeds SPARK_GRAFT_BENCH_RETRY_RATIO
  *    (default 2.0 — aligned with tools/benchgate.py's max_ratio, so
  *    exactly the measurements that would fail the gate get retried)
  *    times its BENCH_BASELINE.json entry gets ONE bounded extra pass
  *    before recording. A genuine regression survives the retry and
  *    still fails the gate; a sustained transient gets one more chance
  *    to clear. Retries are logged to stderr.
  */
object Bench {

  /** Queries whose measured min exceeds `ratio` x their baseline entry —
    * the outlier-retry decision, kept pure so BenchRetrySpec can exercise
    * it. Queries with no baseline entry (or a failed measurement, -1)
    * never retry: there is nothing to compare against / re-running a
    * deterministic failure is waste.
    */
  def outliers(best: Map[String, Double], baseline: Map[String, Double],
               ratio: Double): Vector[String] =
    best.collect {
      case (n, v) if v >= 0 && baseline.get(n).exists(b => b > 0 && v > ratio * b) => n
    }.toVector.sorted

  /** Per-query baseline seconds from a BENCH_BASELINE.json-shaped file;
    * empty map (=> no retries) if absent or unparseable — the retry is an
    * opportunistic harness nicety, never a failure mode.
    */
  def loadBaseline(path: String = "BENCH_BASELINE.json"): Map[String, Double] =
    scala.util.Try {
      val txt = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(txt).get("queries")
      import scala.jdk.CollectionConverters._
      node.fields().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap
    }.getOrElse(Map.empty)
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val cpus = graft.core.Graft.cores
    val spark = Harness.session("graft-bench")
    Harness.warmUp(spark, sfDir)
    // fixed-work CPU calibration (single-thread xorshift): query seconds
    // divided by this constant are comparable across rounds even when the
    // host is contended (observed: 10% steal + forced idle turns the same
    // binary 3x slower) — same work every run, so it moves with the noise.
    // Sampled BEFORE and AFTER the query loop: contention arriving
    // mid-bench shows up as pre/post divergence, not silently.
    def spin(): Unit = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42) System.err.println("") // defeat dead-code elimination
    }
    def timedMs(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e6
    }
    def calibMs: Double = timedMs(spin())
    // same fixed work on EVERY core at once: scales with how much of the
    // MACHINE is actually available, which the 1-thread spin can't see
    def calibParMs: Double = timedMs {
      val threads = (1 to Runtime.getRuntime.availableProcessors()).map(_ => new Thread(() => spin()))
      threads.foreach(_.start()); threads.foreach(_.join())
    }
    def gcTotalMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    val calibPre = calibMs
    val calibParPre = calibParMs
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toVector)
    val selected = only match {
      case Some(names) => names.map(Harness.query)
      case None => SparkEntry.registry
    }
    val repeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "2").toInt
    var gcs = Map.empty[String, Long]
    var compiles = Map.empty[String, Long]
    // per query: min over passes of the successful runs (-1 only if EVERY
    // pass failed — a flaky pass must not mask a broken query, and a
    // broken pass must not hide a working one)
    var best = Map.empty[String, Double]
    def runOne(q: Q, pass: String): Unit = {
      val gc0 = gcTotalMs
      val cc0 = graft.core.Graft.codegenCompiles
      val t0 = System.nanoTime()
      val ok =
        try { Harness.drain(q.run(spark, sfDir)); true }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}")
            false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // gc delta BEFORE the sweep (its cleanup GC is not the query's),
      // recorded only when this pass sets the reported minimum — the
      // published gc_ms must describe the same run as the seconds, or
      // the "slow with flat gc => host noise" triage misfires
      val gcMs = gcTotalMs - gc0
      val ccN = graft.core.Graft.codegenCompiles - cc0
      Harness.sweep(spark)
      System.err.println(f"[bench] pass $pass ${q.name} ${sec}%.3f s gc $gcMs ms compiles $ccN")
      if (ok && sec < best.getOrElse(q.name, Double.MaxValue)) {
        best += q.name -> sec
        gcs += q.name -> gcMs
        compiles += q.name -> ccN
      }
    }
    for (pass <- 1 to repeat)
      selected.foreach(q => runOne(q, pass.toString))
    // outlier retry: a host stall long enough to span every regular pass
    // (the round-7 q95 incident) gets ONE more chance to clear before the
    // minimum is recorded; a real regression survives and still gates
    val retryRatio =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY_RATIO", "2.0").toDouble
    val baseline = loadBaseline()
    outliers(best, baseline, retryRatio).foreach { n =>
      System.err.println(f"[bench] RETRY $n: min ${best(n)}%.3f s > " +
        f"$retryRatio%.1fx baseline ${baseline(n)}%.3f s — one extra pass")
      runOne(Harness.query(n), "retry")
    }
    val results = selected.toVector.map(q => q.name -> best.getOrElse(q.name, -1.0))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def perQuery(m: Map[String, Long]) =
      results.map { case (k, _) => "\"" + k + "\":" + m.getOrElse(k, 0L) }
        .mkString("{", ",", "}")
    val gcJson = perQuery(gcs)
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // report only queries that failed EVERY pass (flaky single-pass
    // failures still show in stderr)
    val errJson = selected.collect { case q if !best.contains(q.name) => "\"" + q.name + "\"" }
      .mkString("[", ",", "]")
    val calibPost = calibMs
    val calibParPost = calibParMs
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"gc_ms":$gcJson,"errors":$errJson,"calib_spin_ms":$calibPre,"calib_spin_ms_post":$calibPost,"calib_par_ms":$calibParPre,"calib_par_ms_post":$calibParPost,"sf":"$sfDir"}"""
    // full-fidelity record goes to a file (benchgate + gate.sh read it);
    // written BEFORE the stdout lines so the stderr note can't trail them;
    // only it carries codegen_compiles (of each query's min pass; ~0 warm)
    // and the host shape (session cores, JVM-visible cores) benchgate
    // checks before comparing against a baseline
    scala.util.Try {
      val p = java.nio.file.Paths.get("target/bench_latest.json")
      java.nio.file.Files.createDirectories(p.getParent)
      val record = json.dropRight(1) + s""","codegen_compiles":${perQuery(compiles)},""" +
        s""""cpus":$cpus,"available_processors":${Runtime.getRuntime.availableProcessors}}"""
      java.nio.file.Files.write(p, (record + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] wrote ${p.toAbsolutePath}")
    }
    println(json)
    // The round driver scrapes a BOUNDED tail of this process's output
    // (2000 chars — BENCH_r01..r11 all recorded parsed:null because the
    // full JSON line above is ~6KB and was always clipped mid-line). The
    // LAST line is therefore a compact variant guaranteed to fit whole in
    // that window: short query keys (the unique qNN prefix), 2-decimal
    // seconds, no gc/calib payload. Anything needing full fidelity reads
    // target/bench_latest.json / BENCH_LATEST.json instead.
    def d2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val compact = {
      val shortKeys = results.map { case (k, v) =>
        "\"" + k.takeWhile(_ != '_') + "\":" + d2(v) }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${d2(total)},"unit":"sec","queries":$shortKeys,"errors":$errJson,"sf":"$sfDir"}"""
    }
    println(compact)
    // ...but at 175+ queries even the compact line is ~2.3KB and the tail
    // window ALSO has to hold sbt's trailing "[success]" line, so rounds
    // 1–12 all archived parsed:null. The true LAST json line is therefore
    // a bounded SUMMARY — total, query count, errors, and a "queries" map
    // holding only the 5 slowest (the driver contract's key, partiality
    // signalled by n > its size) — ~220 bytes, whole inside any plausible
    // tail capture. Full fidelity still lives in line 1 /
    // target/bench_latest.json / BENCH_LATEST.json.
    val summary = {
      val worst = results.filter(_._2 >= 0).sortBy(-_._2).take(5)
        .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + d2(v) }
        .mkString("{", ",", "}")
      // "partial":true structurally marks this as the 5-slowest summary:
      // a consumer grepping any "metric":"total" line can no longer
      // mistake it for the full compact map (ADVICE r13)
      s"""{"metric":"total","partial":true,"value":${d2(total)},"unit":"sec","n":${results.size},"queries":$worst,"errors":$errJson,"sf":"$sfDir"}"""
    }
    println(summary)
    spark.stop()
  }
}
