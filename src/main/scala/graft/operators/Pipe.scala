package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** External-process operator — the reference's any-language UDF surface.
  *
  * Reference: Hadoop streaming `PipeMapRed` forks the user executable and
  * feeds `key \t value \n` lines over stdin, reading the same framing back
  * (`src/contrib/streaming/src/java/org/apache/hadoop/streaming/PipeMapRed.java:204-214`;
  * separator rules `PipeMapper.java:78-80`: a missing separator means the
  * whole line is the key and the value is empty).
  *
  * Spark shape: `rdd.pipe(cmd)` — identical fork model, one process per
  * partition, streaming both directions (no buffering of the partition in
  * memory). Scale: the external process is per-task; 1000 executors fork
  * 1000 pipelines, exactly like the reference's one-per-map-task.
  */
object Pipe {

  /** Pipe (key, value) rows through `cmd` as `key \t value` lines; parse
    * the output back with first-separator splitting.
    */
  def pipeKV(spark: SparkSession, df: DataFrame, cmd: String): DataFrame = {
    import spark.implicits._
    val lines = df.select(
      concat_ws("\t", col("key"), col("value")).as("line"))
      .as[String]
      .rdd
      .pipe(cmd)
    lines.toDF("line").select(
      substring_index(col("line"), "\t", 1).as("key"),
      when(instr(col("line"), "\t") > 0,
        expr("substring(line, instr(line, '\t') + 1)")).otherwise("").as("value"))
  }

  /** Crash-range-skipping line pipe — SkipBadRecords semantics for an
    * EXTERNAL process (`src/mapred/org/apache/hadoop/mapred/
    * SkipBadRecords.java:51` + the narrowing ranges of
    * `SortedRanges.java:383`): a user binary that crashes on some record
    * must not fail the job; the framework isolates the offending record
    * range, skips it, and counts it.
    *
    * Spark shape: the partition streams through the process in bounded
    * CHUNKS (one fork per chunk — bounded memory, since a chunk must be
    * replayable). A chunk whose process exits non-zero is BISECTED and
    * each half re-run, recursively, until the crashing records are
    * isolated 1-by-1 — the reference's skip-range narrowing, at log₂(chunk)
    * extra forks per bad record, paid only on failure. Skipped records
    * count into the returned accumulator (the reference's
    * `MAP_SKIPPED_RECORDS` counter) and each one logs to task stderr.
    * Accumulator caveat (standard Spark transformation semantics): a
    * retried or speculatively-duplicated task re-adds its skips, so the
    * counter is at-least-once under failures — the per-record stderr log
    * is the exact audit trail; the partition-level `maxSkip` limit is
    * enforced per attempt and unaffected.
    *
    * Same contract as the reference's skip mode: the command must be
    * deterministic and record-wise (output for record i must not depend
    * on records before i), because a failed chunk's partial output is
    * discarded and recomputed from clean re-runs. `maxSkip` bounds the
    * skipped records PER PARTITION — past it the job fails loudly
    * (`mapred.skip.map.max.skip.records` semantics): a binary that
    * crashes on everything is a broken job, not a skippable blemish.
    */
  def pipeLinesSkipping(spark: SparkSession, lines: DataFrame, cmd: Seq[String],
                        maxSkip: Long, chunkSize: Int = 4096)
      : (DataFrame, org.apache.spark.util.LongAccumulator) = {
    import spark.implicits._
    require(maxSkip > 0, s"pipeLinesSkipping: maxSkip must be positive (got $maxSkip)")
    require(chunkSize > 0, s"pipeLinesSkipping: chunkSize must be positive (got $chunkSize)")
    val skipped = spark.sparkContext.longAccumulator("graft.pipe.skipped_records")
    val out = lines.select(col("line")).as[String].rdd.mapPartitions { it =>
      var partitionSkips = 0L
      def runChunk(chunk: Seq[String]): Option[Vector[String]] = {
        val proc = new ProcessBuilder(cmd: _*)
          .redirectError(ProcessBuilder.Redirect.INHERIT)
          .start()
        val writer = new Thread(() => {
          val w = new java.io.BufferedWriter(
            new java.io.OutputStreamWriter(proc.getOutputStream))
          // the process may die mid-write (that is the point) — swallow
          // the broken pipe; the exit code decides pass/fail
          try { chunk.foreach { l => w.write(l); w.newLine() }; w.flush() }
          catch { case _: java.io.IOException => () }
          finally scala.util.Try(w.close())
        })
        writer.setDaemon(true)
        writer.start()
        val r = new java.io.BufferedReader(
          new java.io.InputStreamReader(proc.getInputStream))
        val outLines = Vector.newBuilder[String]
        try Iterator.continually(r.readLine()).takeWhile(_ != null).foreach(outLines += _)
        finally r.close()
        if (proc.waitFor() == 0) Some(outLines.result()) else None
      }
      def runOrBisect(chunk: Seq[String]): Iterator[String] =
        runChunk(chunk) match {
          case Some(ok) => ok.iterator
          case None if chunk.size == 1 =>
            partitionSkips += 1
            if (partitionSkips > maxSkip)
              sys.error(s"pipe skip limit exceeded: > $maxSkip skipped records " +
                "in one partition (mapred.skip.map.max.skip.records)")
            skipped.add(1)
            System.err.println(s"[graft.pipe] skipped crashing record: ${chunk.head.take(200)}")
            Iterator.empty
          case None =>
            val (l, r) = chunk.splitAt(chunk.size / 2)
            runOrBisect(l) ++ runOrBisect(r)
        }
      it.grouped(chunkSize).flatMap(c => runOrBisect(c))
    }
    (out.toDF("line"), skipped)
  }

  /** RawBytes pipe mode (`-io rawbytes`, `io/RawBytesOutputReader.java`):
    * length-prefixed key and value frames, no type tags — the fastest
    * binary interchange. Same [[pipeFramed]] core as typedbytes.
    */
  def pipeRawBytes(spark: SparkSession, df: DataFrame, cmd: Seq[String]): DataFrame = {
    import spark.implicits._
    def readFrame(in: java.io.DataInputStream): Array[Byte] = {
      val n = in.readInt(); val b = new Array[Byte](n); in.readFully(b); b
    }
    pipeFramed(df.select(col("key").cast("binary"), col("value").cast("binary"))
      .as[(Array[Byte], Array[Byte])], cmd)(
      { case (out, (k, v)) =>
        out.writeInt(k.length); out.write(k)
        out.writeInt(v.length); out.write(v)
      },
      in => (readFrame(in), readFrame(in)))
  }

  /** TypedBytes pipe mode (`-io typedbytes`): frame (key, value) records
    * with the TypedBytes codec over the child's stdin/stdout — binary-safe,
    * no line/separator ambiguity.
    */
  def pipeTypedBytes(spark: SparkSession, df: DataFrame, cmd: Seq[String]): DataFrame = {
    import graft.functions.TypedBytes
    import spark.implicits._
    pipeFramed(df.select(col("key").cast("string"), col("value").cast("string"))
      .as[(String, String)], cmd)(
      { case (out, (k, v)) => TypedBytes.write(out, k); TypedBytes.write(out, v) },
      in => (TypedBytes.read(in).toString, TypedBytes.read(in).toString))
  }

  /** The framed binary pipe both modes run: one `cmd` fork per non-empty
    * partition, a writer thread feeding each row to the child's stdin
    * through `write` while the task thread reads `read` frames back from
    * its stdout until EOF (both directions stream; neither side buffers a
    * partition). A child that exits non-zero fails the task.
    */
  private def pipeFramed[T: Encoder](rows: Dataset[T], cmd: Seq[String])(
      write: (java.io.DataOutputStream, T) => Unit,
      read: java.io.DataInputStream => T): DataFrame =
    rows.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val proc = new ProcessBuilder(cmd: _*)
          .redirectError(ProcessBuilder.Redirect.INHERIT) // drain stderr
          .start()
        val writer = new Thread(() => {
          val out = new java.io.DataOutputStream(
            new java.io.BufferedOutputStream(proc.getOutputStream))
          try { it.foreach(write(out, _)); out.flush() }
          finally out.close()
        })
        writer.setDaemon(true)
        writer.start()
        val in = new java.io.DataInputStream(
          new java.io.BufferedInputStream(proc.getInputStream))
        new Iterator[T] {
          private var pending: Option[T] = None
          private var done = false
          private def advance(): Unit =
            if (!done && pending.isEmpty) {
              try pending = Some(read(in))
              catch {
                case _: java.io.EOFException =>
                  done = true; in.close()
                  val rc = proc.waitFor()
                  if (rc != 0)
                    throw new java.io.IOException(s"pipe command exited $rc")
              }
            }
          def hasNext: Boolean = { advance(); pending.isDefined }
          def next(): T = { advance(); val p = pending.get; pending = None; p }
        }
      }
    }.toDF("key", "value")
}
