package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Q, SparkEntry}
import graft.core.{Graft, IndexStore}
import graft.operators.Similarity
import graft.streaming.KnnIngest

/** The benchmark's JVM side: one workload, one process.
  *
  * It sets up a session once, runs the etl queries once untimed
  * (the check pass: outputs are compared with the reference digests; the
  * index arc is checked in its timed run instead), then runs timed passes,
  * each in an order drawn from the seed. Every op is timed from outside,
  * through the engine's public calls.
  * Results, spans and (traced passes only) per-stage Spark counts go to
  * `--out` as one JSON object; `perfbench/run.py` turns them into metrics.
  *
  * Usage: graftbench.Main --workload etl|index --seed N --seconds S
  *   --trace 0|1 --cores N --data DIR --work DIR --out FILE
  *   --launch-ms EPOCH_MS [--digests FILE] [--record DIR]
  */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, cores: Int, data: String, work: String,
                        out: String, digests: String, launchMs: Long,
                        record: Option[String])

  /** q167j's neighbour count. */
  val K = 3
  val EtlWarmupPasses = 2
  val ServeBatches = 3
  val ServeBatchSize = 50

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Sub-second queries whose time is mostly per-query fixed cost: scans,
    * aggregates, joins, sorts, a window, a star join, and one query whose
    * frame construction runs eager `localCheckpoint` jobs (q173).
    */
  val Etl: Seq[String] = Seq(
    "q01_agg", "q02_grep", "q04_scan_project", "q05_topk", "q10_join_inner",
    "q14_semi_anti", "q24_distinct", "q31_secondary_sort",
    "q36_window_running", "q149_star_join", "q173_skew_audit")

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Conf(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, need("data"), need("work"),
      need("out"), m.getOrElse("digests", ""), need("launch-ms").toLong, m.get("record"))
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    require(Set("etl", "index")(conf.workload),
      s"unknown workload '${conf.workload}'")
    val res = new Run(conf).go()
    Files.writeString(Paths.get(conf.out), res)
  }

  /** Row digest that does not depend on row order or partitioning: the
    * sorted canonical row strings, hashed.
    */
  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    s"${rows.size}:" + md.digest().take(12).map("%02x".format(_)).mkString
  }

  def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  /** Bytes and regular files under a directory. */
  def du(p: Path): (Long, Int) =
    if (!Files.exists(p)) (0L, 0)
    else {
      val w = Files.walk(p)
      try {
        val fs = w.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (fs.map(Files.size).sum, fs.size)
      } finally w.close()
    }
}

final class Run(conf: Main.Conf) {
  import Main._

  private val runId = s"${conf.workload}-${conf.seed}-${ProcessHandle.current().pid()}"
  private var spark: SparkSession = _
  private val spans = new Spans(runId)
  private val recorder = new StageRecorder
  private var traced = false
  private val opRecords = scala.collection.mutable.ArrayBuffer.empty[String]
  private val passRecords = scala.collection.mutable.ArrayBuffer.empty[String]
  private val storeRecords = scala.collection.mutable.ArrayBuffer.empty[String]
  private val checkFailures = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private val recorded = scala.collection.mutable.LinkedHashMap.empty[String, String]

  private lazy val registry: Map[String, Q] =
    SparkEntry.registry.map(q => q.name -> q).toMap

  /** Reference digests by output label (`perfbench/digests.json`). */
  private lazy val refDigests: Map[String, String] =
    if (conf.digests.isEmpty || !Files.exists(Paths.get(conf.digests))) Map.empty
    else new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(conf.digests))).get("digests")
      .fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap

  /** One set-up: a fresh session with the workload's input tables resolved. */
  private def setUp(): Unit = {
    spark = Graft.session("perfbench", conf.cores.toString, conf.cores)
    (if (conf.workload == "index") Seq("embeddings") else Tables)
      .foreach(t => Graft.table(spark, conf.data, t))
  }

  /** Drop what an op left behind (pinned checkpoints, cached frames), as
    * `graft.Bench` does between queries, but wait for the blocks to go so
    * that their removal is not timed in the next op.
    */
  private def sweep(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(f => Files.deleteIfExists(f))
      finally w.close()
    }

  // ---- ops -----------------------------------------------------------------

  /** A registry query timed in three phases: frame construction (including
    * any eager checkpoint jobs), Catalyst planning, execution.
    */
  private def queryOp(q: Q): Unit = {
    val df = spans("build", "phase")(q.run(spark, conf.data))
    spans("plan", "phase")(df.queryExecution.executedPlan)
    spans("exec", "phase")(df.queryExecution.toRdd.count())
  }

  private def embeddings: DataFrame = Graft.table(spark, conf.data, "embeddings")

  private def vecs(df: DataFrame): DataFrame =
    df.select(col("vec_id").as("xid"), col("embedding").as("xvec"))

  private def storePath(n: Int): String = s"${conf.work}/store-$n"

  /** Records the bytes and files of a newly committed store version. */
  private def storeVersion(path: String, op: String, before: Long): Long = {
    val v = IndexStore.latest(spark, path).map(_.version).getOrElse(-1L)
    if (v != before && v >= 0) {
      val (bytes, files) = du(Paths.get(path, s"v=$v"))
      storeRecords += Json.obj("op" -> Json.str(op), "traced" -> traced.toString,
        "bytes" -> bytes.toString, "files" -> files.toString)
    }
    v
  }

  /** The q167j maintain arc through the public lifecycle calls, one op span
    * per call. Returns the drained maintain rows.
    */
  private def indexArc(path: String): Seq[Row] = {
    val emb = embeddings
    val base = vecs(emb.filter(col("vec_id") % 3 =!= 0))
    var v = -1L
    def step[T](name: String)(body: => T): T = {
      val r = spans(name, "op")(body)
      v = storeVersion(path, name, v)
      r
    }
    val idx = step("knn_build") {
      val nb = base.count()
      val cells = Similarity.ivfCellsFor(nb)
      val cents = base.orderBy(col("xid")).limit(cells)
        .select(col("xid").as("cid"), col("xvec").as("cvec"))
      Similarity.knnGraphBuild(base, cents, Similarity.ivfProbesFor(cells), K,
        Similarity.knnCellCapFor(nb, cells, K))
    }
    step("knn_save")(Similarity.knnIndexSave(idx, path))
    val ingest = step("ingest_resume")(KnnIngest.resume(spark, path))
    step("ingest_fold")(ingest.foldBatch(
      vecs(emb.filter(col("vec_id") % 3 === 0)).localCheckpoint(true), 0L))
    step("ingest_save")(ingest.save(path))
    step("knn_load")(Similarity.knnIndexLoad(spark, path).directed.count())
    step("knn_maintain")(Similarity.knnMaintain(spark, path, vecs(emb)).collect().toSeq)
  }

  private def opNames: Seq[String] = conf.workload match {
    case "etl" => Etl
    case _ => Seq("arc")
  }

  /** Output label the reference digest is kept under. */
  private def label(op: String): String = if (op == "arc") "q167j_knn_maintain" else op

  // ---- warm-up and check pass ---------------------------------------------

  /** Runs one op untimed and checks its output against the reference
    * digest; in record mode writes the rows for the oracle compare instead.
    */
  private def checkOp(op: String): Unit = try check(op) catch {
    case e: Exception if conf.record.isEmpty =>
      checkFailures(op) = s"failed: $e"
      sweep()
  }

  private def check(op: String): Unit = {
    val (rows, frame) =
      if (op == "arc") {
        val r = spans("arc", "arc")(indexArc(storePath(0)))
        deleteTree(Paths.get(storePath(0)))
        (r, None)
      } else {
        val df = spans(op, "op")(registry(op).run(spark, conf.data))
        (df.collect().toSeq, Some(df))
      }
    val d = digest(rows)
    conf.record match {
      case Some(dir) =>
        frame.getOrElse(spark.createDataFrame(rows.asJava, rows.head.schema))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/${label(op)}")
        recorded(label(op)) = d
      case None =>
        if (!refDigests.get(label(op)).contains(d)) checkFailures(op) =
          s"digest $d, reference ${refDigests.getOrElse(label(op), "missing")}"
    }
    sweep()
  }

  // ---- timed passes --------------------------------------------------------

  /** One timed pass over the ops; returns the number that failed. An op
    * fails when it throws or when its output did not match the reference.
    */
  private def timedPass(pass: Int, order: Seq[String], kind: String): Int = {
    var failed = 0
    val gc0 = gcMs
    val t0 = Spans.now()
    order.foreach { op =>
      val s0 = Spans.now()
      val out = scala.util.Try {
        if (op == "arc") Some(spans("arc", "arc")(indexArc(storePath(pass))))
        else { spans(op, "op")(queryOp(registry(op))); None }
      }
      val ms = (Spans.now() - s0) / 1e6
      out.failed.foreach(e => System.err.println(s"[perfbench] $op failed: $e"))
      val ok = out.isSuccess && !checkFailures.contains(op) &&
        out.get.forall(rows => refDigests.get(label(op)).contains(digest(rows)))
      if (!ok) failed += 1
      opRecords += Json.obj("name" -> Json.str(op), "pass" -> pass.toString,
        "ms" -> Json.num(ms), "ok" -> ok.toString, "kind" -> Json.str(kind))
      if (op == "arc") deleteTree(Paths.get(storePath(pass - 1)))
      sweep()
    }
    passRecords += Json.obj("pass" -> pass.toString,
      "wall_ms" -> Json.num((Spans.now() - t0) / 1e6), "gc_ms" -> (gcMs - gc0).toString,
      "kind" -> Json.str(kind))
    failed
  }

  private def setTracing(on: Boolean): Unit = if (on != traced) {
    traced = on
    if (on) spark.sparkContext.addSparkListener(recorder)
    else {
      org.apache.spark.BusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(recorder)
    }
    spans.attach(if (on) Some(spark.sparkContext) else None)
  }

  // ---- serve ---------------------------------------------------------------

  /** Writes the seeded delta batches for the serve child and computes the
    * edge count a one-shot serve over their union gives: chained appends
    * must compound to exactly that.
    */
  private def prepareServe(store: String): String = {
    val rnd = new Random(conf.seed)
    val maxId = embeddings.agg(org.apache.spark.sql.functions.max("vec_id"))
      .first().getLong(0)
    val s = spark
    import s.implicits._
    val paths = (0 until ServeBatches).map { b =>
      val rows = (0 until ServeBatchSize).map { i =>
        val v = Array.fill(64)(rnd.nextGaussian())
        val n = math.sqrt(v.map(x => x * x).sum)
        (maxId + 1 + b * ServeBatchSize + i, v.map(x => (x / n).toFloat).toSeq)
      }
      val p = s"${conf.work}/delta-$b"
      rows.toDF("xid", "xvec").coalesce(1).write.mode("overwrite").parquet(p)
      p
    }
    val union = paths.map(p => spark.read.parquet(p)).reduce(_ union _)
    val expected = Similarity.knnGraphServe(
      Similarity.knnIndexLoad(spark, store), union).count()
    sweep()
    Json.obj("store" -> Json.str(store), "deltas" -> Json.arr(paths.map(Json.str)),
      "expected_edges" -> expected.toString)
  }

  // ---- the run -------------------------------------------------------------

  def go(): String = {
    val launch = conf.launchMs * 1000000L
    val s0 = Spans.now()
    setUp()
    val sessionS = (Spans.now() - s0) / 1e9
    // warm-up and check pass. The index arc is not warmed up: a maintain
    // arc runs once per fresh pipeline process, so its first run is the one
    // timed. The cold time is that of the check pass: a fresh session's
    // first answer to each query.
    val c0 = Spans.now()
    if (conf.workload != "index" || conf.record.isDefined) opNames.foreach(checkOp)
    val coldS = (Spans.now() - c0) / 1e9
    if (conf.record.isDefined) {
      spark.stop()
      val oracles = SparkEntry.oracleSql
      return Json.obj(
        "digests" -> Json.obj(recorded.toSeq.map { case (k, d) => k -> Json.str(d) }: _*),
        "oracles" -> Json.obj(recorded.keys.toSeq
          .flatMap(k => oracles.get(k).map(sql => k -> Json.str(sql))): _*))
    }

    // etl: two more warm-up passes, then measured passes until --seconds
    // have gone by, at least five. index: one cold arc. The traced run
    // warms up first, then interleaves traced and untraced passes so that
    // further warm-up favours neither side; the tracing overhead is the
    // median traced pass wall minus the median untraced one.
    val warmup = Seq.fill(EtlWarmupPasses)("warmup")
    val kinds: Seq[String] = (conf.workload, conf.trace) match {
      case ("index", false) => Seq("measured")
      case ("index", true) => Seq("warmup", "traced", "measured", "traced")
      case (_, false) => warmup ++ Seq.fill(5)("measured")
      case (_, true) => warmup ++ Seq("measured", "traced", "traced", "measured",
        "measured", "traced")
    }
    val budget = (conf.seconds * 1e9).toLong
    var pass = 0
    var failed = 0
    var attempted = 0
    var measureStart = 0L
    spans(conf.workload, "run") {
      while (pass < kinds.size ||
        (conf.workload == "etl" && !conf.trace && Spans.now() - measureStart < budget)) {
        val kind = kinds.lift(pass).getOrElse(kinds.last)
        if (measureStart == 0L && kind != "warmup") measureStart = Spans.now()
        pass += 1
        setTracing(kind == "traced")
        val order = new Random(conf.seed * 1000003L + pass).shuffle(opNames)
        failed += spans("pass", "pass")(timedPass(pass, order, kind))
        attempted += order.size
      }
      setTracing(false)
    }
    // no serve when the arc left no store behind; run.py counts it failed
    val serve = if (conf.workload != "index") "null"
      else scala.util.Try(prepareServe(storePath(pass))).getOrElse("null")
    val out = Json.obj(
      "workload" -> Json.str(conf.workload),
      "cores" -> conf.cores.toString,
      "host" -> Json.obj(
        "available_processors" -> Runtime.getRuntime.availableProcessors().toString,
        "max_heap_mb" -> (Runtime.getRuntime.maxMemory() >> 20).toString,
        "spark_version" -> Json.str(spark.version),
        "jdk_version" -> Json.str(System.getProperty("java.version"))),
      // launch to the first timed op, warm-up included
      "setup_s" -> Json.num((measureStart - launch) / 1e9),
      "session_s" -> Json.num(sessionS),
      "cold_s" -> Json.num(coldS),
      "check_failures" -> Json.obj(
        checkFailures.toSeq.map { case (k, v) => k -> Json.str(v) }: _*),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "passes" -> Json.arr(passRecords),
      "ops" -> Json.arr(opRecords),
      "spans" -> Json.arr(spans.all.map(s => Json.obj(
        "id" -> s.id.toString, "name" -> Json.str(s.name), "kind" -> Json.str(s.kind),
        "parent" -> s.parent.toString, "run_id" -> Json.str(s.runId),
        "start_ms" -> Json.num(s.start / 1e6), "end_ms" -> Json.num(s.end / 1e6),
        "traced" -> s.traced.toString))),
      "stages" -> Json.arr(recorder.stageJson),
      "jobs" -> Json.arr(recorder.jobJson),
      "store" -> Json.arr(storeRecords),
      "input_bytes" -> du(Paths.get(conf.data, "embeddings.parquet"))._1.toString,
      "serve" -> serve)
    spark.stop()
    out
  }
}
