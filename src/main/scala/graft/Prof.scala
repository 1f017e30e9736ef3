package graft

/** Measurement tool (optimization rounds, guide §1): per-phase wall-clock
  * breakdown of a query's build and drain, with each Spark job's and
  * stage's time and the graft source line it ran for, read from the
  * engine's one run listener ([[graft.core.RunListener]]) so a phase
  * decomposes into jobs without the UI. Diagnostic main only — not part
  * of the driver contract.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... tools/run.sh graft.Prof <lane> [lane...]
  * Lanes: vec_micro, store_schemas, or any registered query name (PHASE
  * `<name> build` times frame construction, eager checkpoints included,
  * then PHASE `<name>` the drain).
  * Before each PHASE line come the phase's jobs of 20 ms or more
  * (`[prof-job]`: id, wall, description, `@ File.scala:line`) and,
  * above each, its stages with a task-time sum of 200 ms or more
  * (`[prof-stage]`): the UI stand-in for guide §7.1's skew/serialization
  * triage — task count, max vs sum vs median task time, shuffle records
  * read, shuffle and spill MB. A stage whose max ≈ sum with many tasks
  * is serialized through one task; max >> median with balanced bytes is
  * compute skew. AQE's query-stage jobs carry the line of the action
  * they ran for, so an index lane (q150d, q150e, q167e) or q128's
  * set-similarity join reads job by job by source line.
  * PHASE lines also count generated classes compiled: name a lane twice,
  * and a warm phase that still compiles has outgrown the codegen cache.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session("graft-prof")
    Harness.warmUp(spark, sfDir)
    val runs = new graft.core.RunListener
    spark.sparkContext.addSparkListener(runs)
    var printed = Set.empty[Int]
    // the jobs (with their stages) ended since the last report
    def report(): Unit = {
      runs.settle()
      val tasks = runs.tasks.groupBy(_.stageId)
      val stages = runs.stages.groupBy(_.jobId)
      runs.jobs.filterNot(j => printed(j.jobId)).foreach { j =>
        printed += j.jobId
        stages.getOrElse(j.jobId, Vector.empty).foreach { si =>
          val ts = tasks.getOrElse(si.stageId, Vector.empty)
          val ds = ts.map(_.durationMs).sorted
          if (ds.sum >= 200)
            System.err.println(f"[prof-stage] stage ${si.stageId}%4d tasks ${si.numTasks}%4d " +
              f"sum ${ds.sum}%7d ms max ${ds.last}%7d med ${ds(ds.size / 2)}%6d " +
              f"sRead ${ts.map(_.shuffleReadRecords).sum}%9d rec " +
              f"sWrite ${ts.map(_.shuffleWriteBytes).sum / 1048576}%5d MB " +
              f"spill ${ts.map(_.spillBytes).sum / 1048576}%4d MB  " +
              s"${si.name.takeWhile(_ != '\n').take(60)}  @ ${j.callSite}" +
              s"  rdds ${si.rdds.map { case (id, n) => s"$id/$n" }.mkString(",")}")
        }
        val ms = j.endMs - j.startMs
        if (ms >= 20)
          System.err.println(f"[prof-job] job ${j.jobId}%4d ${ms}%8d ms  ${j.description}  @ ${j.callSite}")
      }
    }
    def phase[T](name: String)(f: => T): T = {
      spark.sparkContext.setJobDescription(name)
      val cc0 = graft.core.Graft.codegenCompiles
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      val cc = graft.core.Graft.codegenCompiles - cc0
      spark.sparkContext.setJobDescription(null)
      report()
      System.err.println(f"[prof] PHASE $name%-28s ${sec}%7.3f s  compiles $cc%5d")
      r
    }

    args.foreach {
      case "vec_micro" =>
        // isolates the quantize/encode kernels (ScaleLongs/Sq8Recon255 vs
        // the HOF forms they replaced) at a row count where per-element
        // cost dominates — sf0.1's corpora are too small to separate the
        // kernel from job overhead. Deterministic synthetic vectors, all
        // inside the sq8 budget.
        import org.apache.spark.sql.functions._
        val n = 1000000L
        val corpus = phase("vec gen 1M×64")(
          spark.range(n).select(col("id").as("xid"),
            array((0 until 64).map(d =>
              pmod(col("id") * (d + 7), lit(997)).cast("float") / 500f - 1f): _*)
              .as("xvec"))
            .localCheckpoint(true))
        val stats = phase("sq8 stats")(
          operators.Similarity.sq8StatsOf(corpus))
        (1 to 3).foreach { i =>
          phase(s"scaled+selfdot pass $i")(Harness.drain(corpus.select(
            operators.Similarity.dotDecimal(col("xvec"), col("xvec")).as("d"))))
          val enc = phase(s"sq8 encode pass $i")(
            operators.Similarity.sq8EncodeFrozen(corpus, stats))
          operators.Dedup.release(enc) // free the pass's checkpoint snapshot
        }

      case "store_schemas" =>
        // ground truth for the explicit load schemas: run the three
        // store-writing lanes, then print every saved table's INFERRED
        // schema (partition column included, in its inferred position)
        Seq("q150d_rag_serve_disk", "q167e_knn_graph_persisted",
          "q183b_cc_streaming").foreach { n =>
          Harness.drain(Harness.query(n).run(spark, sfDir))
        }
        val root = java.nio.file.Paths.get(graft.core.Graft.scratch(""))
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala
          .filter(p => java.nio.file.Files.isDirectory(p) &&
            p.getFileName.toString.startsWith("v="))
          .foreach { vdir =>
            java.nio.file.Files.list(vdir).iterator().asScala
              .filter(java.nio.file.Files.isDirectory(_))
              .toVector.sortBy(_.getFileName.toString)
              .foreach { t =>
                scala.util.Try {
                  val sch = spark.read.parquet(t.toString).schema.toDDL
                  System.err.println(s"[schema] ${vdir.getParent.getFileName}/" +
                    s"${t.getFileName}: $sch")
                }
              }
          }
      case name =>
        val df = phase(s"$name build")(Harness.query(name).run(spark, sfDir))
        phase(name)(Harness.drain(df))
        // AQE FINAL plan (post-execution): what actually ran, including
        // AQEShuffleRead coalescing and runtime join-strategy changes
        if (sys.env.contains("SPARK_GRAFT_PROF_FINALPLAN"))
          System.err.println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
    }
    report()
    spark.stop()
  }
}
