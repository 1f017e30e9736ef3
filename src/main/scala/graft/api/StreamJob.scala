package graft.api

import java.util.regex.Pattern

import graft.core.Graft
import graft.operators.{KeyFieldSpec, Pipe}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parsed streaming-job invocation — the reference's `StreamJob` argument
  * surface (`src/contrib/streaming/src/java/org/apache/hadoop/streaming/
  * StreamJob.java:290-310`): repeatable `-input`, one `-output`, the three
  * pipeline commands, `-io` framing, partitioner/reduce-count overrides and
  * the free-form `-D`/`-jobconf` configuration map.
  */
final case class StreamArgs(
    inputs: Vector[String] = Vector.empty,
    output: Option[String] = None,
    mapper: Option[String] = None,
    combiner: Option[String] = None,
    reducer: Option[String] = None,
    io: String = "text",
    partitioner: Option[String] = None,
    numReduceTasks: Option[Int] = None,
    conf: Map[String, String] = Map.empty,
    /** `-inputreader StreamXmlRecordReader,begin=...,end=...` → the
      * (begin, end) record delimiters; None = plain line input.
      */
    inputReader: Option[(String, String)] = None,
    /** `-inputformat` routing: "text" (default; mapper sees the value
      * line, offset key dropped), "kvtext" (KeyValueTextInputFormat:
      * first-separator split, mapper sees key+sep+value), or "seqfile"
      * (the SequenceFile family, writables rendered toString).
      */
    inputFormat: String = "text",
    /** `-outputformat` routing: "text" (`key sep value` lines, the
      * default) or "seqfile" (`SequenceFileOutputFormat`: Text/Text
      * records — binary-safe, no separator framing on disk).
      */
    outputFormat: String = "text") {

  /** `stream.map.output.field.separator` (PipeMapRed.java:204-214). */
  def mapSep: String = conf.getOrElse("stream.map.output.field.separator", "\t")

  /** `stream.num.map.output.key.fields` (StreamJob.java:760-764): the key
    * is the first N separator-joined fields of a mapper output line.
    */
  def numMapKeyFields: Int =
    conf.getOrElse("stream.num.map.output.key.fields", "1").toInt

  def reduceSep: String =
    conf.getOrElse("stream.reduce.output.field.separator", "\t")

  /** Reducer INPUT framing is a separate knob from its output separator
    * (`stream.reduce.input.field.separator`, default tab).
    */
  def reduceInputSep: String =
    conf.getOrElse("stream.reduce.input.field.separator", "\t")

  def numReduceKeyFields: Int =
    conf.getOrElse("stream.num.reduce.output.key.fields", "1").toInt

  /** Reduce count: `-numReduceTasks` wins, then the classic
    * `-D mapred.reduce.tasks=N` / `-jobconf` form.
    */
  def reduceTasks: Option[Int] =
    numReduceTasks.orElse(conf.get("mapred.reduce.tasks").map(_.toInt))
}

/** The Hadoop-streaming CLI front door (SURVEY §7.1-8): composes the
  * engine's Pipe / KeyFieldSpec / aggregate pieces from a `StreamJob`-shaped
  * argument vector, so a reference user's invocation
  * `-input X -mapper 'cmd' -reducer aggregate -output Y` runs unchanged.
  *
  * Semantics per the reference (`StreamJob.java:690-814`):
  *  - a command that is not a known Java class forks as an external process
  *    fed `key \t value` lines (PipeMapper/PipeReducer);
  *  - `-reducer aggregate` routes to ValueAggregatorReducer: mapper output
  *    keys are `AggType:id`, the reduce emits `id \t report`
  *    (`ValueAggregatorReducer.java:57-72`), with the combiner applied
  *    automatically (here: Catalyst partial aggregation);
  *  - `-reducer NONE` / `-numReduceTasks 0` means map-only;
  *  - a mapper output line with fewer than `stream.num.map.output.key.fields`
  *    separators is all key, empty value (PipeMapper.java:78-80);
  *  - `-partitioner KeyFieldBasedPartitioner` honors
  *    `mapred.text.key.partitioner.options`, and the shuffle sort honors
  *    `mapred.text.key.comparator.options` (KeyFieldBasedComparator).
  *
  * Spark shape: map = per-partition fork over the scan (no shuffle);
  * shuffle = one `repartition(n, keyCols)` + per-partition sort — exactly
  * the reference's partition/sort/reduce contract — then one fork per
  * reduce partition. At 1000 executors this is one pipeline fork per task,
  * the same process model the reference runs.
  */
object StreamJob {

  val ReduceNone = "NONE"

  /** Parse an argv vector (StreamJob.java:290-310 option set). Unknown
    * options fail fast, matching the reference's `fail(...)`.
    */
  def parseArgs(argv: Seq[String]): StreamArgs = {
    @annotation.tailrec
    def loop(rest: List[String], s: StreamArgs): StreamArgs = rest match {
      case Nil => s
      // one -input value may carry comma-separated paths
      // (FileInputFormat.addInputPaths splits on ',')
      case "-input" :: v :: t =>
        loop(t, s.copy(inputs = s.inputs ++ v.split(",").filter(_.nonEmpty)))
      case "-output" :: v :: t => loop(t, s.copy(output = Some(v)))
      case "-mapper" :: v :: t => loop(t, s.copy(mapper = Some(v)))
      case "-combiner" :: v :: t => loop(t, s.copy(combiner = Some(v)))
      case "-reducer" :: v :: t => loop(t, s.copy(reducer = Some(v)))
      case "-io" :: v :: t => loop(t, s.copy(io = v))
      // only the two partitioners this engine routes are accepted — a
      // custom class silently falling back to whole-key hashing would
      // change output placement with no error
      case "-partitioner" :: v :: t =>
        if (v.contains("KeyFieldBasedPartitioner") || v.contains("HashPartitioner"))
          loop(t, s.copy(partitioner = Some(v)))
        else sys.error(s"-partitioner: unsupported class $v " +
          "(KeyFieldBasedPartitioner and HashPartitioner are routed)")
      case "-numReduceTasks" :: v :: t =>
        loop(t, s.copy(numReduceTasks = Some(v.toInt)))
      // -jobconf is the deprecated alias of -D (StreamJob.java:306-310)
      case ("-D" | "-jobconf") :: kv :: t =>
        kv.split("=", 2) match {
          case Array(k, v) => loop(t, s.copy(conf = s.conf + (k -> v)))
          case _ => sys.error(s"bad -D '$kv' (want key=value)")
        }
      // the XML record reader is the one -inputreader the reference ships
      // (StreamJob.java:295, StreamXmlRecordReader.java); an unknown
      // reader class must fail, not silently fall back to line input
      case "-inputreader" :: v :: t =>
        val parts = v.split(",").map(_.trim)
        if (!parts.head.contains("StreamXmlRecordReader"))
          sys.error(s"-inputreader: unsupported reader '${parts.head}' " +
            "(StreamXmlRecordReader is routed)")
        val kv = parts.tail.flatMap(_.split("=", 2) match {
          case Array(k, value) => Some(k -> value)
          case _ => None
        }).toMap
        val begin = kv.getOrElse("begin",
          sys.error("-inputreader StreamXmlRecordReader: missing begin="))
        val end = kv.getOrElse("end",
          sys.error("-inputreader StreamXmlRecordReader: missing end="))
        loop(t, s.copy(inputReader = Some((begin, end))))
      // files ship with the Spark job submit; nothing to do per-job
      case "-file" :: _ :: t => loop(t, s)
      // the reference accepts any InputFormat class (StreamJob.java:
      // 690-814); this facade routes the three families the engine
      // implements — plain text, KeyValueTextInputFormat (the q40
      // first-separator reader), and the SequenceFile family (the q42
      // shim, streamed as toString-rendered lines exactly like the
      // reference's non-text mapper framing). Anything else fails fast
      // rather than silently reading bytes as lines.
      case "-inputformat" :: v :: t =>
        if (v.contains("KeyValueTextInputFormat"))
          loop(t, s.copy(inputFormat = "kvtext"))
        else if (v.contains("SequenceFile"))
          loop(t, s.copy(inputFormat = "seqfile"))
        else if (v.contains("Text")) loop(t, s.copy(inputFormat = "text"))
        else sys.error(s"-inputformat: unsupported class $v (TextInputFormat, " +
          "KeyValueTextInputFormat and the SequenceFile family are routed)")
      case "-outputformat" :: v :: t =>
        if (v.contains("SequenceFile"))
          loop(t, s.copy(outputFormat = "seqfile"))
        else if (v.contains("Text")) loop(t, s.copy(outputFormat = "text"))
        else sys.error(s"-outputformat: unsupported class $v " +
          "(TextOutputFormat and SequenceFileOutputFormat are routed)")
      case other :: _ => sys.error(s"unrecognized streaming option: $other")
    }
    loop(argv.toList, StreamArgs())
  }

  /** Shell-style command tokenizer: whitespace-split with single/double
    * quote grouping — enough for `awk -F'\t' '{...}'`-class commands
    * (the reference tokenizes with quoting in `StreamUtil`).
    */
  def tokenize(cmd: String): Seq[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var quote: Char = 0
    var sawToken = false
    cmd.foreach { ch =>
      if (quote != 0) {
        if (ch == quote) quote = 0 else cur += ch
      } else if (ch == '\'' || ch == '"') { quote = ch; sawToken = true }
      else if (ch.isWhitespace) {
        if (sawToken || cur.nonEmpty) { out += cur.toString; cur.clear(); sawToken = false }
      } else cur += ch
    }
    if (sawToken || cur.nonEmpty) out += cur.toString
    out.result()
  }

  /** Split pipe-output lines into (key, value) on the Nth separator:
    * key = first `nKey` fields; fewer separators than `nKey` means the
    * whole line is the key and the value is empty (PipeMapper.java:78-80,
    * UTF8ByteArrayUtils.splitKeyVal). Declarative — stays in codegen.
    */
  def splitKeyVal(lines: DataFrame, sep: String, nKey: Int): DataFrame = {
    val arr = split(col("line"), Pattern.quote(sep), -1)
    lines.select(
      when(size(arr) <= nKey, col("line"))
        .otherwise(array_join(slice(arr, lit(1), lit(nKey)), sep)).as("key"),
      when(size(arr) <= nKey, lit(""))
        .otherwise(array_join(slice(arr, lit(nKey + 1), size(arr) - nKey), sep))
        .as("value"))
  }

  /** One external-command stage over (key, value) rows: frame input as
    * `key inSep value` lines, fork per partition, re-split the output on
    * `outSep` (input and output separators are independent knobs).
    */
  private def pipeStage(
      spark: SparkSession, kv: DataFrame, cmd: String,
      inSep: String, outSep: String, nKeyOut: Int): DataFrame = {
    import spark.implicits._
    val lines = kv
      .select(concat(col("key"), lit(inSep), col("value")).as("line"))
      .as[String].rdd
      .pipe(tokenize(cmd))
    splitKeyVal(lines.toDF("line"), outSep, nKeyOut)
  }

  private val ScalarAggTypes = Seq(
    "LongValueSum", "DoubleValueSum", "LongValueMax", "LongValueMin",
    "StringValueMax", "StringValueMin", "UniqValueCount")

  /** ValueAggregatorReducer (`ValueAggregatorReducer.java:57-72`): keys are
    * `AggType:id`; emit `id \t report`. One two-stage pipeline serves every
    * aggregator type — stage 1 pre-aggregates per (type, id, VALUE) with a
    * frequency count, stage 2 folds per (type, id) — so the external
    * mapper's output is consumed exactly once, distinct counts need no
    * expand (stage-2 rows ARE the distinct values), and ValueHistogram's
    * frequency stats fall out of the same pass (its report: tab-joined
    * [unique, min, median, max, mean, stddev] of value frequencies,
    * `ValueHistogram.java:78-134`). A ValueHistogram VALUE is itself
    * `item \t count`, split on the LAST tab (`ValueHistogram.java:47-66`
    * uses `lastIndexOf`): the item's frequency grows by `count`, a value
    * with no tab counts once, and a non-numeric count fails the job like
    * the reference's `Long.parseLong`. Weighted frequencies make the
    * moment sums overflowable in long arithmetic (two 4e9 weights square
    * to > Long.MaxValue), so s and Σf² accumulate in DECIMAL(38,0) —
    * exact, never a silent wrap. The histogram's mean/stddev render at a
    * fixed 2-decimal scale (DECIMAL, not raw double → string): the
    * reference prints Java `Double.toString`, which flips to scientific
    * notation at 1e7 — a notation no other engine reproduces — so the
    * report trades that Java-ism for engine-portable fixed-point, same
    * values. An aggregator type outside the registry
    * FAILS the job — the reference NPEs on unknown descriptors, and
    * silently dropping those groups would be invisible data loss.
    * DoubleValueSum accumulates in DECIMAL so the report is
    * engine-portable. Strict type-gated casts: a non-numeric value under a
    * numeric aggregator fails the job like the reference's
    * NumberFormatException, while other types' values are nulled out of
    * the numeric folds instead of poisoning them.
    *
    * ValueHistogram per-key state is BOUNDED by `exactCap` (conf
    * `graft.valuehistogram.exact.cap`, default 100k): up to the cap the
    * report is the reference's exact recipe; past it — where the
    * reference's own per-key TreeMap would OOM — the median comes from a
    * fixed-size quantile sketch and Σf² from order-free running moments,
    * so the job completes on a 10⁸-distinct key instead of buffering a
    * 10⁸-element array (same routing contract as
    * `Aggregates.valueHistogramAuto`; StreamCliSpec pins both branches).
    */
  private def aggregateReduce(kv: DataFrame,
                              exactCap: Int = 100000): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val typed = kv.select(
      substring_index(col("key"), ":", 1).as("atype"),
      expr("substring(key, instr(key, ':') + 1)").as("id"),
      col("value"))
    // ValueHistogram weight parse: item = before the LAST tab, weight =
    // after it (whole value / 1 when tab-less). coalesce catches both the
    // non-numeric and the Long-overflow null so neither is silently dropped.
    val isHist = col("atype") === "ValueHistogram"
    val afterTab = substring_index(col("value"), "\t", -1)
    val hasTab = instr(col("value"), "\t") > 0
    val histItem = when(hasTab,
      col("value").substr(lit(1), length(col("value")) - length(afterTab) - 1))
      .otherwise(col("value"))
    val histWeight = when(!hasTab, lit(1L))
      .otherwise(coalesce(
        when(afterTab.rlike("^[+-]?\\d+$"), afterTab.cast("long")),
        raise_error(concat(
          lit("ValueHistogram: non-numeric count '"), afterTab, lit("'")))))
    val freq = typed
      .select(col("atype"), col("id"),
        when(isHist, histItem).otherwise(col("value")).as("value"),
        // DECIMAL from the FIRST sum: a long Σw wraps silently too
        when(isHist, histWeight).otherwise(lit(1L))
          .cast(DecimalType(38, 0)).as("w"))
      .groupBy(col("atype"), col("id"), col("value"))
      .agg(sum(col("w")).as("f"))
      // rank distinct values per key so the histogram's collected array
      // is CAPPED (see the fs aggregate below): the window rides the
      // (atype, id) shuffle the next groupBy needs anyway — no extra
      // exchange, though every aggregate job (histogram or not) now pays
      // the window's within-partition sort, the flat price of bounding
      // histogram state. (f, value) is duplicate-free here, so the rank
      // is deterministic
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("atype"), col("id"))
          .orderBy(col("f"), col("value"))))
    val numericVal = when(
      col("atype").isin("LongValueSum", "LongValueMax", "LongValueMin"),
      col("value")).cast("long")
    val doubleVal = when(col("atype") === "DoubleValueSum", col("value"))
      .cast(DecimalType(18, 4))
    val histF = when(col("atype") === "ValueHistogram", col("f"))
    val histFd = histF.cast(DecimalType(38, 0))
    freq.groupBy(col("atype"), col("id"))
      .agg(
        sum(numericVal * col("f")).as("lsum"),
        round(sum(doubleVal * col("f")), 2).as("dsum"),
        max(numericVal).as("lmax"),
        min(numericVal).as("lmin"),
        max(col("value")).as("smax"),
        min(col("value")).as("smin"),
        count(lit(1)).as("nvals"), // rows here = distinct values of the id
        min(histF).as("min_f"),
        max(histF).as("max_f"),
        sum(histFd).as("s"),
        // per-key state is bounded: only the exactCap lowest-ranked
        // frequencies are collected (a key with more distinct values gets
        // its median/stddev from the sketch + order-free moments below —
        // the exact branch's buffered map is the reference's own shape,
        // but a 10⁸-distinct key must not become a 10⁸-element buffer)
        sort_array(collect_list(when(col("_rn") <= exactCap, histF))).as("fs"),
        percentile_approx(histF, lit(0.5), lit(10000)).as("fmed"),
        sum(histF.cast("double") * histF.cast("double")).as("ssq_all"))
      .select(
        col("id").as("key"),
        when(col("atype") === "LongValueSum", col("lsum").cast("string"))
          .when(col("atype") === "DoubleValueSum", col("dsum").cast("string"))
          .when(col("atype") === "LongValueMax", col("lmax").cast("string"))
          .when(col("atype") === "LongValueMin", col("lmin").cast("string"))
          .when(col("atype") === "StringValueMax", col("smax"))
          .when(col("atype") === "StringValueMin", col("smin"))
          .when(col("atype") === "UniqValueCount", col("nvals").cast("string"))
          .when(col("atype") === "ValueHistogram", concat_ws("\t",
            col("nvals"),
            col("min_f"),
            // exact median while the capped array is complete; the
            // quantile sketch past the cap (where the reference's own
            // buffered TreeMap would have OOMed long before)
            when(col("nvals") <= exactCap,
              element_at(col("fs"), (col("nvals") / 2).cast("int") + 1))
              .otherwise(col("fmed")),
            col("max_f"),
            round(col("s").cast("double") / col("nvals"), 2)
              .cast(DecimalType(38, 2)),
            // one-pass moment variance (reference-parity formula) can go
            // slightly negative from double cancellation; clamped at 0 so
            // sqrt can never yield NaN → DECIMAL NULL → a report whose
            // stddev field silently vanishes from concat_ws.
            // Σf² is a sequential double fold over the SORTED fs array —
            // the oracle uses the identical recipe via an EXPLICIT ordered
            // fold (list_reduce left-fold over list_transform of
            // list_sort, zero prepended), so both engines execute the same
            // IEEE multiply/add sequence by documented semantics — not by
            // assuming list_sum happens to fold in order — and agree
            // bit-for-bit at any magnitude (exact-int-then-cast vs
            // incremental double would diverge once f² leaves the 2^53
            // exact range). Past the cap the fold's array is incomplete,
            // so Σf² comes from the order-free running double sum instead
            // — deterministic enough for a report whose median is already
            // a sketch, on keys no oracle (or reference) can reach.
            round(sqrt(greatest(
              (when(col("nvals") <= exactCap,
                aggregate(col("fs"), lit(0.0),
                  (acc, x) => acc + x.cast("double") * x.cast("double")))
                .otherwise(col("ssq_all"))
                - col("s").cast("double") * col("s").cast("double") / col("nvals")) / col("nvals"),
              lit(0.0))), 2)
              .cast(DecimalType(38, 2))))
          // unknown aggregator (or a key with no ':' at all) = corrupt
          // mapper output; vanishing groups would be silent data loss
          .otherwise(raise_error(concat(
            lit("unknown aggregator type '"), col("atype"),
            lit(s"' (expected one of ${ScalarAggTypes.mkString(", ")}, ValueHistogram)"))))
          .as("value"))
  }

  /** Run a parsed streaming job and return the (key, value) result. Also
    * writes `-output` as `key sep value` text (un-coalesced — one file per
    * reduce partition, like the reference's part-NNNNN files).
    */
  def run(spark: SparkSession, args: StreamArgs): DataFrame = {
    require(args.inputs.nonEmpty, "streaming job needs at least one -input")
    import spark.implicits._

    // -inputreader swaps the line scanner for the begin/end XML record
    // scanner: each record becomes one mapper input line, exactly the
    // reference's StreamXmlRecordReader contract
    require(args.inputReader.isEmpty || args.inputFormat == "text",
      "-inputreader replaces the record reader and cannot combine with a " +
        s"non-text -inputformat (got ${args.inputFormat})")
    val rawLines = args.inputReader match {
      case Some((begin, end)) =>
        args.inputs
          .map(p => graft.sources.XmlScan.records(spark, p, begin, end))
          .reduce(_ unionByName _)
          .select(col("record").as("line"))
      case None => args.inputFormat match {
        case "kvtext" =>
          // KeyValueTextInputFormat (KeyValueLineRecordReader.java): key =
          // text before the first separator, value = the rest. Streaming
          // frames mapper stdin as key+sep+value for every non-text
          // format (PipeMapper.java) — byte-identical to the raw line
          // when it contains a separator, key + trailing separator when
          // it does not (empty value still framed).
          spark.read.textFile(args.inputs: _*).toDF("line")
            .select(when(instr(col("line"), "\t") > 0, col("line"))
              .otherwise(concat(col("line"), lit("\t"))).as("line"))
        case "seqfile" =>
          // SequenceFile[AsText]InputFormat via Hadoop's own AsText view
          // (the q42c shim): each writable rendered toString, framed
          // key+sep+value — non-text keys (LongWritable etc.) arrive as
          // their decimal rendering, exactly the reference's framing
          args.inputs.map { p =>
            spark.sparkContext.hadoopFile(p,
              classOf[org.apache.hadoop.mapred.SequenceFileAsTextInputFormat],
              classOf[org.apache.hadoop.io.Text],
              classOf[org.apache.hadoop.io.Text])
              .map { case (k, v) => k.toString + "\t" + v.toString }
              .toDF("line")
          }.reduce(_ unionByName _)
        case _ => spark.read.textFile(args.inputs: _*).toDF("line")
      }
    }

    // ---- map phase: external fork (or IdentityMapper when -mapper absent)
    val mapped: DataFrame = args.mapper match {
      case Some(cmd) if args.io == "typedbytes" || args.io == "rawbytes" =>
        // KV framing through the binary codecs; input lines split first-sep
        val kvIn = splitKeyVal(rawLines, args.mapSep, 1)
        if (args.io == "typedbytes") Pipe.pipeTypedBytes(spark, kvIn, tokenize(cmd))
        else Pipe.pipeRawBytes(spark, kvIn, tokenize(cmd))
          .select(col("key").cast("string"), col("value").cast("string"))
      case Some(cmd) =>
        // `-D mapred.skip.map.max.skip.records=N` (SkipBadRecords.java:51)
        // arms crash-range skipping: a mapper binary that dies on a record
        // skips + counts it instead of failing the job
        val maxSkip = args.conf.get("mapred.skip.map.max.skip.records")
          .map(_.toLong).getOrElse(0L)
        val out =
          if (maxSkip > 0)
            Pipe.pipeLinesSkipping(spark, rawLines, tokenize(cmd), maxSkip)._1
          else rawLines.as[String].rdd.pipe(tokenize(cmd)).toDF("line")
        splitKeyVal(out, args.mapSep, args.numMapKeyFields)
      case None =>
        splitKeyVal(rawLines, args.mapSep, args.numMapKeyFields)
    }

    // ---- reduce phase: -reducer NONE / 0 reduces = map-only; absent
    // -reducer = IdentityReducer (shuffle + sort, pass through) — the MR
    // default the reference inherits
    val mapOnly =
      args.reduceTasks.contains(0) || args.reducer.contains(ReduceNone)
    // case-insensitive like the reference's compareToIgnoreCase
    // (StreamJob.java:760) — '-reducer Aggregate' must not fork a process
    val isAggregate = args.reducer.exists(_.equalsIgnoreCase("aggregate"))

    // ---- combiner: local sort (spill-sort contract) + fork, NO shuffle.
    // NEVER runs on a map-only job (the reference only invokes combiners
    // inside the map-output spill/merge path, which 0-reduce jobs skip).
    // Binary -io modes also skip it (a combiner is an optimization the MR
    // contract lets the framework omit; results are unchanged). An
    // aggregate reducer force-installs ValueAggregatorCombiner over any
    // -combiner (StreamJob.java:760-764) — Catalyst partial aggregation
    // plays that role here, so the external command must not run first.
    val combined: DataFrame = args.combiner match {
      case Some(cmd) if !mapOnly && !isAggregate && args.io == "text" =>
        val locallySorted = mapped.sortWithinPartitions(col("key"))
        pipeStage(spark, locallySorted, cmd,
          args.mapSep, args.mapSep, args.numMapKeyFields)
      case _ => mapped
    }
    val result: DataFrame =
      if (mapOnly) combined
      else if (isAggregate) {
        // honor the requested reduce count on the output shape, like the
        // non-aggregate branch (part-file count = reduce tasks)
        val agg = aggregateReduce(combined,
          args.conf.get("graft.valuehistogram.exact.cap")
            .map(_.toInt).getOrElse(100000))
        args.reduceTasks.fold(agg)(n => agg.repartition(n, col("key")))
      }
      else {
        val parts = args.reduceTasks.getOrElse(Graft.width(spark))
        val partCols: Seq[Column] = args.partitioner match {
          case Some(p) if p.contains("KeyFieldBasedPartitioner") =>
            args.conf.get("mapred.text.key.partitioner.options") match {
              case Some(opts) =>
                KeyFieldSpec.partitionColumns(col("key"), args.mapSep, opts)
              case None => Seq(col("key"))
            }
          case _ => Seq(col("key"))
        }
        val sortCols: Seq[Column] =
          args.conf.get("mapred.text.key.comparator.options") match {
            case Some(opts) => KeyFieldSpec.sortColumns(col("key"), args.mapSep, opts)
            case None => Seq(col("key").asc)
          }
        // partition-by-key + sort-within = the MR reduce contract: every
        // key's values contiguous and key-ordered inside one partition
        val arranged = combined
          .repartition(parts, partCols: _*)
          .sortWithinPartitions(sortCols: _*)
        args.reducer match {
          case Some(cmd) if args.io == "typedbytes" =>
            Pipe.pipeTypedBytes(spark, arranged, tokenize(cmd))
          case Some(cmd) if args.io == "rawbytes" =>
            Pipe.pipeRawBytes(spark, arranged, tokenize(cmd))
              .select(col("key").cast("string"), col("value").cast("string"))
          case Some(cmd) =>
            pipeStage(spark, arranged, cmd,
              args.reduceInputSep, args.reduceSep, args.numReduceKeyFields)
          case None => arranged // IdentityReducer
        }
      }

    // with -output, write ONCE and hand back a read of the written files —
    // returning the unexecuted plan would re-run every external fork when
    // the caller consumes it (and could disagree with the files for a
    // non-deterministic command). A map-only result keeps the MAP-side
    // separator/key-field framing; re-splitting with the reduce knobs
    // would silently move the key/value boundary of the returned frame.
    args.output match {
      case Some(out) if args.outputFormat == "seqfile" =>
        // SequenceFileOutputFormat (Text, Text): records, not separator-
        // framed lines — a key or value CONTAINING the separator
        // round-trips byte-exact, which the text sink cannot promise for
        // keys. Written with the q42 shim, read back through it.
        val p = new org.apache.hadoop.fs.Path(out)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        result
          .select(col("key").cast("string"), col("value").cast("string"))
          .rdd.map(r => (r.getString(0), r.getString(1)))
          .saveAsSequenceFile(out)
        spark.sparkContext.sequenceFile[String, String](out).toDF("key", "value")
      case Some(out) =>
        val (outSep, outKeyFields) =
          if (mapOnly) (args.mapSep, args.numMapKeyFields)
          else (args.reduceSep, args.numReduceKeyFields)
        result
          .select(concat(col("key"), lit(outSep), col("value")).as("line"))
          .write.mode("overwrite").text(out)
        splitKeyVal(spark.read.textFile(out).toDF("line"),
          outSep, outKeyFields)
      case None => result
    }
  }

  /** argv convenience overload — the actual CLI shape. */
  def run(spark: SparkSession, argv: Seq[String]): DataFrame =
    run(spark, parseArgs(argv))
}
