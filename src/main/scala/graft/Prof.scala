package graft

/** Measurement tool (optimization rounds, guide §1): per-phase wall-clock
  * breakdown of the heavy index lanes (build / save / load / append /
  * serve), plus a per-job listener so each Spark job's seconds and
  * description are visible without the UI. Diagnostic main only — not
  * part of the driver contract.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... tools/run.sh graft.Prof <lane> [lane...]
  * Lanes: rag_disk, rag_incr_detail, setsim_detail, vec_micro,
  * store_schemas, or any registered query name (PHASE
  * `<name> build` times frame construction, eager checkpoints included,
  * then PHASE `<name>` the drain).
  * PHASE lines also count generated classes compiled: name a lane twice,
  * and a warm phase that still compiles has outgrown the codegen cache.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.core.Graft.cores
    val spark = graft.core.Graft.session("graft-prof", cpus.toString, cpus)
    // per-job seconds with descriptions, so phases decompose into jobs
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.put(js.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { case (t0, desc) =>
          val ms = (System.nanoTime() - t0) / 1e6
          if (ms >= 20)
            System.err.println(f"[prof-job] job ${je.jobId}%4d ${ms}%8.0f ms  $desc")
        }
      }
    })
    // per-stage task-metric summary (SPARK_GRAFT_PROF_STAGES=1): the UI
    // stand-in for guide §7.1's skew/serialization triage — task count,
    // max vs sum task time, shuffle bytes, spill. A stage whose max ≈ sum
    // with many tasks is serialized through one task; max >> median with
    // balanced bytes is compute skew.
    if (sys.env.contains("SPARK_GRAFT_PROF_STAGES"))
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        val durs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
        override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          durs.computeIfAbsent(te.stageId, _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
            .add(Option(te.taskInfo).map(_.duration).getOrElse(0L))
        }
        override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val m = si.taskMetrics
          import scala.jdk.CollectionConverters._
          val ds = Option(durs.get(si.stageId)).map(_.asScala.toVector.sorted).getOrElse(Vector.empty)
          val maxMs = if (ds.nonEmpty) ds.last else 0L
          val medMs = if (ds.nonEmpty) ds(ds.size / 2) else 0L
          val sumMs = ds.sum
          if (sumMs >= 200)
            System.err.println(f"[prof-stage] stage ${si.stageId}%4d tasks ${si.numTasks}%4d " +
              f"sum ${sumMs}%7d ms max $maxMs%7d med $medMs%6d " +
              f"sRead ${m.shuffleReadMetrics.totalBytesRead / 1048576}%5d MB " +
              f"sWrite ${m.shuffleWriteMetrics.bytesWritten / 1048576}%5d MB " +
              f"spill ${m.diskBytesSpilled / 1048576}%4d MB  ${si.name.takeWhile(_ != '\n').take(60)}" +
              s"  rdds ${si.rddInfos.sortBy(_.id).map(r => s"${r.id}/${r.numPartitions}").mkString(",")}")
        }
      })
    def phase[T](name: String)(f: => T): T = {
      spark.sparkContext.setJobDescription(name)
      val cc0 = graft.core.Graft.codegenCompiles
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      val cc = graft.core.Graft.codegenCompiles - cc0
      System.err.println(f"[prof] PHASE $name%-28s ${sec}%7.3f s  compiles $cc%5d")
      spark.sparkContext.setJobDescription(null)
      r
    }
    def drain(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()

    // warmup (same as Bench)
    locally {
      import org.apache.spark.sql.functions._
      scala.util.Try {
        val n = spark.read.parquet(s"$sfDir/nation.parquet")
        n.groupBy(col("n_regionkey")).agg(count(lit(1))).collect()
      }
      Seq("lineitem", "orders", "events", "documents").foreach { t =>
        scala.util.Try(
          spark.read.parquet(s"$sfDir/$t.parquet")
            .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1))).collect())
      }
    }

    args.foreach {
      case "rag_disk" =>
        import org.apache.spark.sql.functions._
        val docs = graft.core.Graft.table(spark, sfDir, "documents")
        val path = graft.core.Graft.scratch("prof_rag_index")
        val idx = phase("rag build")(operators.Retrieval.ragIndexBuildOf(docs))
        phase("rag save")(operators.Retrieval.ragIndexSave(idx, path))
        val loaded = phase("rag load")(operators.Retrieval.ragIndexLoad(spark, path))
        val qt = phase("rag qterms")(
          operators.Retrieval.ragQueryTermsOf(docs, 13L).localCheckpoint(true))
        val qv = phase("rag qvec")(
          operators.Retrieval.ragQueryVectorOf(docs, 13L).localCheckpoint(true))
        val served = phase("rag serve")(
          operators.Retrieval.ragServeDisk(loaded, qt, qv, 20))
        phase("rag serve exec")(drain(served))
      case "rag_incr_detail" =>
        import org.apache.spark.sql.functions._
        val docs = graft.core.Graft.table(spark, sfDir, "documents")
        val path = graft.core.Graft.scratch("prof_rag_incr")
        val baseIdx = phase("base build (49/50)")(
          operators.Retrieval.ragIndexBuildOf(docs.filter(col("doc_id") % 50 =!= 49)))
        phase("save")(operators.Retrieval.ragIndexSave(baseIdx, path))
        val loaded = phase("load")(operators.Retrieval.ragIndexLoad(spark, path))
        val appended = phase("append 1/50")(
          operators.Retrieval.ragIndexAppend(loaded, docs.filter(col("doc_id") % 50 === 49)))
        val qt = operators.Retrieval.ragQueryTermsOf(docs, 23L).localCheckpoint(true)
        val qv = operators.Retrieval.ragQueryVectorOf(docs, 23L).localCheckpoint(true)
        val served = phase("serve plan")(
          operators.Retrieval.ragServeDisk(appended, qt, qv, 20))
        phase("serve exec")(drain(served))
      case "setsim_detail" =>
        import org.apache.spark.sql.functions._
        import graft.operators.Dedup
        val docs = graft.core.Graft.table(spark, sfDir, "documents")
          .select(col("doc_id").as("id"),
            array_distinct(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("toks"))
        val (sorted, pref, cand) = phase("setsim sorted build")(
          Dedup.setSimParts(docs, 80))
        System.err.println(s"[prof] sorted rdd parts ${sorted.rdd.getNumPartitions} " +
          s"pref rdd parts ${pref.rdd.getNumPartitions}")
        phase("setsim pref count")(drain(pref.select(col("id"))))
        val c = phase("setsim cand distinct")(cand.localCheckpoint(true))
        System.err.println(s"[prof] cand rows ${c.count()}")
        phase("setsim verify join")(drain(
          c.join(sorted.select(col("id").as("a"), col("ws").as("wa"), col("n").as("na")), "a")
            .join(sorted.select(col("id").as("b"), col("ws").as("wb"), col("n").as("nb")), "b")
            .withColumn("inter", size(array_intersect(col("wa"), col("wb"))).cast("long"))
            .filter(lit(100) * col("inter") >= lit(80) * (col("na") + col("nb") - col("inter")))
            .select(col("a"), col("b"), col("inter"), col("na"), col("nb"))))
        phase("setsim FULL q128")(drain(Dedup.setSimJoin(docs, 80)))
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
          phase(s"scaled+selfdot pass $i")(drain(corpus.select(
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
          drain(SparkEntry.registry.find(_.name == n).get.run(spark, sfDir))
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
        val q = SparkEntry.registry.find(_.name == name)
          .getOrElse(sys.error(s"unknown lane/query '$name'"))
        val df = phase(s"$name build")(q.run(spark, sfDir))
        phase(name)(drain(df))
        // AQE FINAL plan (post-execution): what actually ran, including
        // AQEShuffleRead coalescing and runtime join-strategy changes
        if (sys.env.contains("SPARK_GRAFT_PROF_FINALPLAN"))
          System.err.println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
