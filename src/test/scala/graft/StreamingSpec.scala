package graft

import graft.streaming.EventStream
import graft.streaming.EventStream.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Top-level on purpose: nested case classes trip Janino encoder codegen
  * (see the EventStream scaladoc); this one rides a MemoryStream.
  */
final case class IngestEv(eventId: Long, userId: Long, eventType: String,
                          ts: java.sql.Timestamp, dayBucket: Long)

final case class Vec(xid: Long, xvec: Array[Float])

final case class Doc(doc_id: Long, text: String)

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("windowed totals with watermark aggregate per window and key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.windowedTotals(in.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(
        Event(ts("2026-01-01 10:01:00"), "click", 1.0),
        Event(ts("2026-01-01 10:04:00"), "click", 2.0),
        Event(ts("2026-01-01 10:12:00"), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT eventType, n, total FROM win_out")
        .as[(String, Long, Double)].collect().toSet
      assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("aggregate descriptors compile onto a watermarked stream window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val out = EventStream.windowedDescriptors(
      in.toDF().withColumnRenamed("eventType", "k"),
      org.apache.spark.sql.functions.col("k"),
      "10 minutes", "5 minutes",
      Seq("LongValueSum:value", "LongValueMax:value"))
    val q = out.writeStream.format("memory").queryName("desc_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(
        Event(ts("2026-01-01 10:01:00"), "click", 1.0),
        Event(ts("2026-01-01 10:04:00"), "click", 4.0),
        Event(ts("2026-01-01 10:12:00"), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT k, longvaluesum_value, longvaluemax_value FROM desc_out")
        .as[(String, Long, Long)].collect().toSet
      assert(rows == Set(("click", 5L, 4L), ("view", 5L, 5L)))
    } finally q.stop()
  }

  test("file-source stream over the events table aggregates like batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // stream the real parquet fixture as a file source (one-batch read),
    // aggregate per event_type, compare against the batch answer
    val dir = TestSpark.sf0001
    // file sources watch a directory; stage the fixture into one
    val streamDir = TestSpark.tempDir("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .parquet(streamDir.toString)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("file_stream_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT event_type, n FROM file_stream_out")
        .as[(String, Long)].collect().toMap
      val batch = spark.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect().toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming dedup: watermarked dropDuplicates suppresses replays") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = in.toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("eventType", "ts")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        Event(ts("2026-01-01 10:00:00"), "a", 1.0),
        Event(ts("2026-01-01 10:00:00"), "a", 1.0), // exact replay
        Event(ts("2026-01-01 10:01:00"), "b", 2.0))
      q.processAllAvailable()
      in.addData(Event(ts("2026-01-01 10:00:00"), "a", 1.0)) // cross-batch replay
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*) FROM dedup_out").head().getLong(0)
      assert(n == 2, s"expected 2 deduped rows, got $n")
    } finally q.stop()
  }

  test("firstArrivalDedup matches the q122 batch keeper set on ordered feed") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // a real fixture slice, fed ONE EVENT PER BATCH in (ts, event_id)
    // order: the streaming "first arrival" is then exactly the batch
    // "earliest (ts, event_id)" keeper, so parity is an equality, not a
    // count check. user_id = 3 keeps the slice small (65 events).
    val evFix = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
    val slice = evFix
      .filter(col("user_id") === 3)
      .select(col("event_id"), col("user_id"), col("event_type"),
        graft.core.Graft.tsUs(evFix).as("ts_us"))
    val rows = slice.as[(Long, Long, String, Long)].collect()
      .sortBy(r => (r._4, r._1))
    val evs = rows.map { case (id, u, t, us) =>
      IngestEv(id, u, t, new java.sql.Timestamp(us / 1000), us / 86400000000L)
    }
    val in = MemoryStream[IngestEv]
    // the watermark must OUTLIVE the dedup key's span: day-bucket keys
    // need ≥24 h of state or an early-morning key evicts before its
    // late-evening replay arrives and the replay re-emits
    val q = EventStream.firstArrivalDedup(
      in.toDF(), Seq("userId", "eventType", "dayBucket"), "25 hours")
      .writeStream.format("memory").queryName("ingest_dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      evs.foreach { e => in.addData(e); q.processAllAvailable() }
      val streamed = spark.sql("SELECT eventId FROM ingest_dedup_out")
        .as[Long].collect().toSet
      val batch = graft.queries.StreamQueries.q122IngestDedup
        .run(spark, TestSpark.sf0001)
        .filter(col("user_id") === 3)
        .select(col("event_id")).as[Long].collect().toSet
      assert(streamed == batch,
        s"streaming keepers ${streamed.size} != batch keepers ${batch.size}")
      assert(streamed.size < evs.length, "slice must actually contain replays")
    } finally q.stop()
  }

  test("streaming EWMA anomaly matches q151 batch rows on ordered replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.{DayObs, EwmaRow}
    implicit val sqlCtx = spark.sqlContext
    val evFix = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
    val obs = evFix
      .select(col("event_type"),
        (graft.core.Graft.tsUs(evFix).cast("long") / lit(86400000000L))
          .cast("long").as("day"))
      .as[(String, Long)].collect()
      .map { case (t, d) => DayObs(t, d) }
      .sortBy(_.day)
    val byDay = obs.groupBy(_.day).toSeq.sortBy(_._1)
    val sentinelDay = obs.map(_.day).max + 100
    val in = MemoryStream[DayObs]
    val q = EventStream.ewmaAnomaly(in.toDS())
      .writeStream.format("memory").queryName("ewma_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // one micro-batch per closed day (the ordered-feed contract), then
      // a sentinel day per type to flush each type's final verdict
      byDay.foreach { case (_, rows) => in.addData(rows.toSeq); q.processAllAvailable() }
      in.addData(obs.map(_.eventType).distinct.toSeq.map(DayObs(_, sentinelDay)))
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM ewma_out").as[EwmaRow]
        .collect().map(r => (r.eventType, r.day, r.c, r.num, r.den, r.anomaly))
        .toSet
      val batch = graft.queries.MiscQueries.q151EwmaAnomaly
        .run(spark, TestSpark.sf0001)
        .as[(String, Long, Long, Long, Long, Boolean)].collect().toSet
      assert(streamed === batch,
        s"streamed ${streamed.size} rows != batch ${batch.size}")
      assert(batch.exists(_._6), "fixture must contain at least one anomaly")
    } finally q.stop()
  }

  test("streaming transition pairs aggregate to the q189 batch matrix on ordered replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.{TransEvent, TransPair}
    implicit val sqlCtx = spark.sqlContext
    val evFix = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
    val obs = evFix
      .select(col("user_id"), graft.core.Graft.tsUs(evFix).as("us"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)].collect()
      .map { case (u, us, id, t) => TransEvent(u, us, id, t) }
      .sortBy(e => (e.us, e.eventId)) // global time order => per-user order
    val in = MemoryStream[TransEvent]
    val q = EventStream.transitionPairs(in.toDS())
      .writeStream.format("memory").queryName("trans_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // four ordered micro-batches: cross-batch transitions must be
      // emitted exactly once via the per-user boundary state
      obs.grouped(math.max(1, obs.length / 4 + 1)).foreach { chunk =>
        in.addData(chunk.toSeq); q.processAllAvailable()
      }
      val pairs = spark.sql("SELECT * FROM trans_out").as[TransPair].collect()
      // aggregate the pair stream the way the production streaming agg
      // would (bounded |types|² keys) and derive p_ppm as q189 does
      val counts = pairs.groupBy(p => (p.cur, p.nxt)).view.mapValues(_.length.toLong).toMap
      val outDeg = counts.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      val streamed = counts.map { case ((cur, nxt), n) =>
        (cur, nxt, n, n * 1000000L / outDeg(cur))
      }.toSet
      val batch = graft.queries.StreamQueries.q189TransitionMatrix
        .run(spark, TestSpark.sf0001)
        .as[(String, String, Long, Long)].collect().toSet
      assert(streamed === batch,
        s"streamed matrix ${streamed.size} cells != batch ${batch.size}")
      assert(batch.nonEmpty, "degenerate fixture: empty transition matrix")
    } finally q.stop()
  }

  test("streaming decayed counts equal the q229 batch scores on ordered replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.{DecayEvent, DecayRow}
    implicit val sqlCtx = spark.sqlContext
    val evFix = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
    // epoch-day = CAST(ts AS DATE) for non-negative timestamps, so the
    // age arithmetic is the same integers as q229's datediff
    val obs = evFix
      .select(col("user_id"), col("event_id"),
        (graft.core.Graft.tsUs(evFix) / lit(86400000000L)).cast("long").as("day"))
      .as[(Long, Long, Long)].collect()
      .map { case (u, id, d) => DecayEvent(u, d, id) }
      .sortBy(e => (e.day, e.eventId))
    val globalMax = obs.map(_.day).max
    val in = MemoryStream[DecayEvent]
    val q = EventStream.decayedCounts(in.toDS())
      .writeStream.format("memory").queryName("decay_out")
      .outputMode(OutputMode.Append()).start()
    try {
      obs.grouped(math.max(1, obs.length / 4 + 1)).foreach { chunk =>
        in.addData(chunk.toSeq); q.processAllAvailable()
      }
      // one clock tick per user at the corpus max day — the global
      // reference instant batch q229 scores against
      in.addData(obs.map(_.userId).distinct.toSeq.map(DecayEvent(_, globalMax, -1L)))
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM decay_out").as[DecayRow].collect()
        .groupBy(_.userId).map { case (u, rs) =>
          val r = rs.maxBy(_.seq); (u, r.nEvents, r.decayedMilli)
        }.toSet
      val batch = graft.queries.MiscQueries.q229DecayedCount
        .run(spark, TestSpark.sf0001)
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === batch,
        s"streamed ${streamed.size} users != batch ${batch.size}")
      assert(batch.exists(_._3 > 0), "fixture must contain a non-zero decayed score")
    } finally q.stop()
  }

  test("streaming CUSUM equals the q217 batch flag series at window close") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    import graft.streaming.{CusumDay, CusumRow}
    implicit val sqlCtx = spark.sqlContext
    // closed per-type daily totals with q217's exact micros math — the
    // rows a daily-rollup feeder stream would deliver
    val obs = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
      .groupBy(col("event_type").as("et"),
        unix_micros(date_trunc("DAY", col("ts"))).as("day_us"))
      .agg((sum(col("value").cast(DecimalType(18, 4))) * 1000000)
        .cast("long").as("x"))
      .as[(String, Long, Long)].collect()
      .map { case (t, du, x) => CusumDay(t, du, x) }
      .sortBy(_.dayUs)
    val in = MemoryStream[CusumDay]
    val q = EventStream.cusumChangepoints(in.toDS())
      .writeStream.format("memory").queryName("cusum_out")
      .outputMode(OutputMode.Append()).start()
    try {
      obs.grouped(math.max(1, obs.length / 4 + 1)).foreach { chunk =>
        in.addData(chunk.toSeq); q.processAllAvailable()
      }
      // nothing may be emitted before the window closes — the stats
      // normalizing every prefix are not final until then
      assert(spark.sql("SELECT * FROM cusum_out").isEmpty,
        "CUSUM emitted before window close")
      in.addData(obs.map(_.eventType).distinct.toSeq
        .map(CusumDay(_, Long.MaxValue, 0L)))
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM cusum_out").as[CusumRow].collect()
        .map(r => (r.eventType, r.dayUs, r.cusumN, r.flag)).toSet
      val batch = graft.queries.StreamQueries.q217CusumChangepoint
        .run(spark, TestSpark.sf0001)
        .as[(String, Long, Long, Long)].collect().toSet
      assert(streamed === batch,
        s"streamed ${streamed.size} rows != batch ${batch.size}")
      assert(batch.exists(_._4 == 1L), "fixture must contain at least one flag")
      // the close tick dropped the state: a stray second tick must not
      // re-emit the whole flag series into the append sink
      val emitted = spark.sql("SELECT count(*) FROM cusum_out").head.getLong(0)
      in.addData(obs.map(_.eventType).distinct.toSeq
        .map(CusumDay(_, Long.MaxValue, 0L)))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM cusum_out").head.getLong(0) == emitted,
        "a second close tick re-emitted the series")
    } finally q.stop()
  }

  test("streaming TWAP equals the q219 batch rows after ordered replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.{TwapObs, TwapRow}
    implicit val sqlCtx = spark.sqlContext
    val ev = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
    val obs = ev.select(col("user_id"), graft.core.Graft.tsUs(ev).as("us"),
        col("event_id"),
        round(col("value").cast("double") * 100).cast("long").as("v"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (u, us, eid, v) => TwapObs(u, us, eid, v) }
      .sortBy(e => (e.us, e.eventId)) // the ordered-replay feeder contract
    val in = MemoryStream[TwapObs]
    val q = EventStream.twapRunning(in.toDS())
      .writeStream.format("memory").queryName("twap_out")
      .outputMode(OutputMode.Append()).start()
    try {
      obs.grouped(math.max(1, obs.length / 4 + 1)).foreach { chunk =>
        in.addData(chunk.toSeq); q.processAllAvailable()
      }
      val streamed = spark.sql("SELECT * FROM twap_out").as[TwapRow].collect()
        .groupBy(_.userId).map { case (u, rs) =>
          val r = rs.maxBy(_.seq); (u, r.nEvents, r.twapMillicents)
        }.toSet
      val batch = graft.queries.StreamQueries.q219Twap
        .run(spark, TestSpark.sf0001)
        .as[(Long, Long, Option[Long])].collect().toSet
      assert(streamed === batch,
        s"streamed ${streamed.size} users != batch ${batch.size}")
      assert(batch.exists(_._3.isDefined), "fixture must contain a defined TWAP")
    } finally q.stop()
  }

  test("streaming interval union equals the q225 batch rows after ordered replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.{IntervalObs, IntervalRow}
    implicit val sqlCtx = spark.sqlContext
    val ev = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
    val obs = ev.select(col("user_id"), graft.core.Graft.tsUs(ev).as("st"),
        col("event_id"))
      .as[(Long, Long, Long)].collect()
      .map { case (u, st, eid) => IntervalObs(u, st, eid) }
      .sortBy(e => (e.st, e.eventId)) // the ordered-replay feeder contract
    val in = MemoryStream[IntervalObs]
    val q = EventStream.intervalUnion(in.toDS())
      .writeStream.format("memory").queryName("interval_out")
      .outputMode(OutputMode.Append()).start()
    try {
      obs.grouped(math.max(1, obs.length / 4 + 1)).foreach { chunk =>
        in.addData(chunk.toSeq); q.processAllAvailable()
      }
      val streamed = spark.sql("SELECT * FROM interval_out").as[IntervalRow].collect()
        .groupBy(_.userId).map { case (u, rs) =>
          val r = rs.maxBy(_.seq); (u, r.nMerged, r.nIntervals, r.coveredUs)
        }.toSet
      val batch = graft.queries.StreamQueries.q225IntervalUnion
        .run(spark, TestSpark.sf0001)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed === batch,
        s"streamed ${streamed.size} users != batch ${batch.size}")
      // the equality only bites if some user actually merged overlaps
      assert(batch.exists(r => r._3 > r._2), "fixture must contain a merged overlap")
    } finally q.stop()
  }

  test("stateful EWMA survives a checkpointed restart (file source, parquet sink)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.{DayObs, EwmaRow}
    // the production durability shape: file source -> stateful operator ->
    // parquet sink, all riding one checkpoint. The query is STOPPED midway
    // and a NEW query restarts from the checkpoint: state (each type's
    // trailing day counts + emission frontier) must survive, and the final
    // output must equal the batch query row for row — a dropped or doubled
    // day would break the EWMA arithmetic, not just a count.
    val evFix = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
    val obs = evFix
      .select(col("event_type"),
        (graft.core.Graft.tsUs(evFix).cast("long") / lit(86400000000L))
          .cast("long").as("day"))
      .as[(String, Long)].collect()
      .map { case (t, d) => DayObs(t, d) }
      .sortBy(_.day)
    val days = obs.groupBy(_.day).toSeq.sortBy(_._1)
    val types = obs.map(_.eventType).distinct.toSeq
    val sentinel = obs.map(_.day).max + 100
    val root = TestSpark.tempDir("graft-ewma-ck").toString
    val (srcDir, outDir, ckDir) = (s"$root/src", s"$root/out", s"$root/ck")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    var fileNo = 0
    def addDayFile(rows: Seq[DayObs]): Unit = {
      // one FILE per day, lexicographically ordered, so maxFilesPerTrigger=1
      // replays the ordered-feed contract across restarts
      val stage = s"$root/stage$fileNo"
      rows.toDS().repartition(1).write.parquet(stage)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(f"$srcDir/day-$fileNo%03d.parquet"))
      fileNo += 1
    }
    def startQuery() = {
      val src = spark.readStream
        .schema("eventType STRING, day BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
        .as[DayObs]
      EventStream.ewmaAnomaly(src)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckDir)
        .outputMode(OutputMode.Append()).start()
    }
    val (firstHalf, secondHalf) = days.splitAt(days.size / 2)
    firstHalf.foreach { case (_, rows) => addDayFile(rows.toSeq) }
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    secondHalf.foreach { case (_, rows) => addDayFile(rows.toSeq) }
    addDayFile(types.map(DayObs(_, sentinel)))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val streamed = spark.read.parquet(outDir).as[EwmaRow]
      .collect().map(r => (r.eventType, r.day, r.c, r.num, r.den, r.anomaly))
      .toSet
    val batch = graft.queries.MiscQueries.q151EwmaAnomaly
      .run(spark, TestSpark.sf0001)
      .as[(String, Long, Long, Long, Long, Boolean)].collect().toSet
    assert(streamed === batch,
      s"restarted stream ${streamed.size} rows != batch ${batch.size}")
  }

  test("session_window sessionizes a stream with the q68 batch semantics") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    // the exact expression q68 runs in batch, on an unbounded source
    val q = in.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "10 minutes"), col("eventType"))
      .agg(count(lit(1)).as("n"))
      .select(col("eventType"), col("session_window.start").as("start"), col("n"))
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(
        Event(ts("2026-01-01 10:00:00"), "a", 1.0),
        Event(ts("2026-01-01 10:09:00"), "a", 1.0),  // < gap: same session
        Event(ts("2026-01-01 10:19:00"), "a", 1.0),  // chained: still same
        Event(ts("2026-01-01 10:29:00.000001"), "a", 1.0), // ≥ gap: new session
        Event(ts("2026-01-01 10:00:00"), "b", 1.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT eventType, CAST(start AS STRING), n FROM sess_out")
        .as[(String, String, Long)].collect().toSet
      assert(rows == Set(
        ("a", "2026-01-01 10:00:00", 3L),
        ("a", "2026-01-01 10:29:00.000001", 1L),
        ("b", "2026-01-01 10:00:00", 1L)))
    } finally q.stop()
  }

  test("session_window boundary: exactly gap-after merges, beyond it splits") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // pins the semantics the q68 oracle encodes as `diff > gap`: Spark's
    // session merge is on overlapping-OR-TOUCHING windows, so an event at
    // exactly prev + gap continues the session
    val df = Seq(
      ("u", ts("2026-01-01 10:00:00")),
      ("u", ts("2026-01-01 10:10:00")),        // exactly +gap: merges
      ("u", ts("2026-01-01 10:20:00.000001"))) // +gap+1µs: NEW session
      .toDF("k", "t")
    val got = df.groupBy(session_window(col("t"), "10 minutes"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").cast("string"), col("n"))
      .as[(String, Long)].collect().toSet
    assert(got == Set(
      ("2026-01-01 10:00:00", 2L),
      ("2026-01-01 10:20:00.000001", 1L)))
  }

  test("stream-stream interval join matches within the window, bounded state") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val joined = EventStream.intervalJoin(
      clicks.toDF(), buys.toDF(), "eventType", "1 hour", "30 minutes")
      .select(col("l.eventType").as("k"),
        col("l.ts").cast("string").as("click_ts"),
        col("r.ts").cast("string").as("buy_ts"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(
        Event(ts("2026-01-01 10:00:00"), "u1", 1.0),
        Event(ts("2026-01-01 10:00:00"), "u3", 1.0))
      buys.addData(
        Event(ts("2026-01-01 10:20:00"), "u1", 9.0), // within 30 min: match
        Event(ts("2026-01-01 11:00:00"), "u1", 9.0), // past the interval: no
        Event(ts("2026-01-01 09:59:00"), "u1", 9.0), // before the click: no
        Event(ts("2026-01-01 10:10:00"), "u2", 9.0)) // no matching click: no
      q.processAllAvailable()
      val rows = spark.sql("SELECT k, click_ts, buy_ts FROM ssj_out")
        .as[(String, String, String)].collect().toSet
      assert(rows == Set(
        ("u1", "2026-01-01 10:00:00", "2026-01-01 10:20:00")))
    } finally q.stop()
  }

  test("idempotent foreachBatch sink: replayed batches do not duplicate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val out = graft.core.Graft.scratch("idemsink")
    val write = EventStream.idempotentParquetWriter(out)
    val b0 = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    write(b0, 0L)
    write(b0, 0L) // crash-replay of the same epoch: must overwrite, not append
    val b1 = Seq(("c", 3)).toDF("k", "v")
    write(b1, 1L)
    val rows = spark.read.parquet(out)
      .select(col("k"), col("v")).as[(String, Int)].collect().toSet
    assert(rows == Set(("a", 1), ("b", 2), ("c", 3)))
    // and through a real stream: each processed batch lands once
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val out2 = graft.core.Graft.scratch("idemsink2")
    val q = in.toDF().writeStream
      .foreachBatch(EventStream.idempotentParquetWriter(out2))
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(Event(ts("2026-01-01 10:00:00"), "x", 1.0))
      q.processAllAvailable()
      in.addData(Event(ts("2026-01-01 10:01:00"), "y", 2.0))
      q.processAllAvailable()
      assert(spark.read.parquet(out2).count() == 2)
    } finally q.stop()
  }

  test("streaming as-of enriches probes with the latest prior ref across batches") {
    import spark.implicits._
    import graft.streaming.TemporalRow
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TemporalRow]
    val q = EventStream.streamingAsOf(in.toDS(), horizonUs = 100L)
      .writeStream.format("memory").queryName("asof_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: ref@10, probe@15 (matches), probe@5 (nothing precedes),
      // equal-instant probe@10 (<= matches the ref)
      in.addData(
        TemporalRow(1L, 10L, isRef = true, "r10"),
        TemporalRow(1L, 15L, isRef = false, "p15"),
        TemporalRow(1L, 5L, isRef = false, "p5"),
        TemporalRow(1L, 10L, isRef = false, "p10"))
      q.processAllAvailable()
      // batch 2: newer ref, a probe after it, and an OUT-OF-ORDER probe
      // that must still match the batch-1 ref retained in state; a
      // different key never sees key 1's refs
      in.addData(
        TemporalRow(1L, 20L, isRef = true, "r20"),
        TemporalRow(1L, 25L, isRef = false, "p25"),
        TemporalRow(1L, 12L, isRef = false, "p12"),
        TemporalRow(2L, 30L, isRef = false, "other"))
      q.processAllAvailable()
      val got = spark.sql("SELECT payload, refPayload FROM asof_out")
        .as[(String, Option[String])].collect().toMap
      assert(got == Map(
        "p15" -> Some("r10"), "p5" -> None, "p10" -> Some("r10"),
        "p25" -> Some("r20"), "p12" -> Some("r10"), "other" -> None))
    } finally q.stop()
  }

  test("streaming as-of prunes refs behind the horizon but keeps the floor") {
    import spark.implicits._
    import graft.streaming.TemporalRow
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TemporalRow]
    val q = EventStream.streamingAsOf(in.toDS(), horizonUs = 10L)
      .writeStream.format("memory").queryName("asof_prune")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        TemporalRow(1L, 100L, isRef = true, "old"),
        TemporalRow(1L, 200L, isRef = true, "floor"),
        TemporalRow(1L, 300L, isRef = true, "recent"))
      q.processAllAvailable()
      // "old" and "floor" are both behind 300-10, but "floor" survives as
      // the single floor entry; a probe below it still matches it
      in.addData(
        TemporalRow(1L, 295L, isRef = false, "edge"),
        TemporalRow(1L, 400L, isRef = false, "late"))
      q.processAllAvailable()
      val got = spark.sql("SELECT payload, refPayload FROM asof_prune")
        .as[(String, Option[String])].collect().toMap
      assert(got == Map("edge" -> Some("floor"), "late" -> Some("recent")))
    } finally q.stop()
  }

  test("reconcileAsOf corrects probes whose reference arrived late") {
    import spark.implicits._
    import graft.streaming.{AsOfMatch, TemporalRow}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TemporalRow]
    val q = EventStream.streamingAsOf(in.toDS(), horizonUs = 1000L)
      .writeStream.format("memory").queryName("asof_late")
      .outputMode(OutputMode.Append()).start()
    try {
      // the probe fires FIRST; its reference (r5, earlier event time)
      // arrives a batch later — the stream emits refPayload=None, the
      // documented limitation
      in.addData(TemporalRow(1L, 10L, isRef = false, "p10"))
      q.processAllAvailable()
      in.addData(
        TemporalRow(1L, 5L, isRef = true, "r5"),
        TemporalRow(1L, 20L, isRef = false, "p20"))
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM asof_late").as[AsOfMatch]
      val byProbe = streamed.collect().map(m => m.payload -> m.refPayload).toMap
      assert(byProbe == Map("p10" -> None, "p20" -> Some("r5")),
        s"precondition: the stream must have missed the late ref, got $byProbe")
      // downstream reconcile against the COMPLETE reference set re-matches
      // the miss; the already-correct probe is unchanged
      val allRefs = Seq(TemporalRow(1L, 5L, isRef = true, "r5")).toDS()
      val fixed = EventStream.reconcileAsOf(streamed, allRefs)
        .collect().map(m => m.payload -> m.refPayload).toMap
      assert(fixed == Map("p10" -> Some("r5"), "p20" -> Some("r5")))
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running totals across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.runningTotals(in.toDS())
      .writeStream.format("memory").queryName("state_out")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(Event(ts("2026-01-01 00:00:00"), "a", 1.0))
      q.processAllAvailable()
      in.addData(Event(ts("2026-01-01 00:01:00"), "a", 2.0),
        Event(ts("2026-01-01 00:01:00"), "b", 7.0))
      q.processAllAvailable()
      val last = spark.sql(
        "SELECT eventType, max(n) AS n, max(total) AS total FROM state_out GROUP BY eventType")
        .as[(String, Long, Double)].collect().toSet
      assert(last == Set(("a", 2L, 3.0), ("b", 1L, 7.0)))
    } finally q.stop()
  }

  test("streaming HLL equals the batch sketch after every batch prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val in = MemoryStream[(String, String)]
    val q = EventStream.streamingHll(in.toDS())
      .writeStream.format("memory").queryName("hll_out")
      .outputMode(OutputMode.Update()).start()
    def batchEst(pairs: Seq[(String, String)]): Map[String, Long] =
      graft.operators.Sketches
        .hllCountDistinct(pairs.toDF("k", "v"), col("k"), col("v"))
        .as[(String, Long)].collect().toMap
    val b1 = (1 to 400).map(i => ("t1", s"u$i")) ++ (1 to 50).map(i => ("t2", s"u$i"))
    val b2 = (200 to 900).map(i => ("t1", s"u$i")) // 200..400 are replays
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      val after1 = spark.sql(
        "SELECT key, max(hllEst) FROM hll_out GROUP BY key") // single update per key
        .as[(String, Long)].collect().toMap
      assert(after1 == batchEst(b1), s"prefix-1 mismatch: $after1 vs ${batchEst(b1)}")
      in.addData(b2: _*)
      q.processAllAvailable()
      // registers only grow, so the estimate is non-decreasing: the max
      // emission per key IS the latest state
      val after2 = spark.sql(
        "SELECT key, max(hllEst) FROM hll_out GROUP BY key")
        .as[(String, Long)].collect().toMap
      // the update stream's LAST emission per key must equal batch over
      // the full union — incremental maintenance == one-shot sketch
      val full = batchEst(b1 ++ b2)
      assert(after2("t1") == full("t1") && after2("t2") == full("t2"),
        s"prefix-2 mismatch: $after2 vs $full")
      // and the estimates are ACCURATE: t1 saw 900 distinct, t2 50
      assert(math.abs(after2("t1") - 900) < 180 && math.abs(after2("t2") - 50) < 10)
    } finally q.stop()
  }

  test("streaming count-min cells equal the batch sketch after every batch prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val in = MemoryStream[(String, String)]
    val q = EventStream.streamingCms(in.toDS())
      .writeStream.format("memory").queryName("cms_out")
      .outputMode(OutputMode.Update()).start()
    // batch reference: exact count table -> deterministic sketch cells
    def batchCells(pairs: Seq[(String, String)]): Map[(Int, Long), Long] =
      graft.operators.Sketches.countMinDeterministic(
          pairs.map(_._2).groupBy(identity).toSeq
            .map { case (t, xs) => (t, xs.size.toLong) }.toDF("term", "cnt"),
          "term", "cnt")
        .as[(Int, Long, Long)].collect()
        .map { case (i, b, c) => (i, b) -> c }.toMap
    // zipf-ish feed with replays across batches, one sketch key
    val b1 = (1 to 300).map(i => ("k", s"w${i % 40}"))
    val b2 = (1 to 500).map(i => ("k", s"w${i % 90}"))
    def streamed(): Map[(Int, Long), Long] = {
      // seen is cumulative, so max(seen) marks the latest emission
      val row = spark.sql(
        "SELECT cells FROM cms_out ORDER BY seen DESC LIMIT 1")
        .as[Array[Long]].collect().head
      row.zipWithIndex.collect {
        case (c, idx) if c > 0 => (idx / 1024, (idx % 1024).toLong) -> c
      }.toMap
    }
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(streamed() == batchCells(b1), "prefix-1 cells diverge from batch sketch")
      in.addData(b2: _*)
      q.processAllAvailable()
      assert(streamed() == batchCells(b1 ++ b2), "prefix-2 cells diverge from batch sketch")
    } finally q.stop()
  }

  test("knn ingest stream: micro-batch appends chain to the one-shot serve") {
    // the q167d trickle regime as an ACTUAL Structured Streaming
    // pipeline: a vector stream folds into the index batch by batch via
    // foreachBatch (KnnIngest — the returned-index chaining contract);
    // after three micro-batches the mutual graph must equal the
    // one-shot serve of the whole delta under the frozen config
    import graft.operators.Similarity
    import graft.streaming.KnnIngest
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 10 =!= 9)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val delta = emb.filter(col("vec_id") % 10 === 9)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val nb = base.count()
    val cells = Similarity.ivfCellsFor(nb)
    val centroids = base.orderBy(col("xid")).limit(cells)
      .select(col("xid").as("cid"), col("xvec").as("cvec"))
    val idx0 = Similarity.knnGraphBuild(base, centroids,
      Similarity.ivfProbesFor(cells), 3,
      Similarity.knnCellCapFor(nb, cells, 3))
    val ingest = new KnnIngest(idx0)
    val in = MemoryStream[Vec]
    val q = in.toDS().toDF()
      .writeStream.foreachBatch(ingest.foldBatch _).start()
    try {
      val vecs = delta.as[Vec].collect() // 50 rows at this scale
      val batches = vecs.grouped(math.max(1, vecs.length / 3)).toSeq
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      assert(batches.size >= 3, "fixture must exercise several micro-batches")
      val streamed = ingest.edges.localCheckpoint(true)
      val oneShot = Similarity.knnGraphServe(idx0, delta).localCheckpoint(true)
      assert(streamed.count() > 0, "ingested graph must be non-empty")
      assert(streamed.exceptAll(oneShot).isEmpty
        && oneShot.exceptAll(streamed).isEmpty,
        "streamed ingest diverged from the one-shot serve")
    } finally q.stop()
  }

  test("rag ingest stream: micro-batch appends equal one append of the union") {
    import graft.operators.Retrieval
    import graft.streaming.RagIngest
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 50 =!= 49)
    val delta = docs.filter(col("doc_id") % 50 === 49)
    val idx0 = Retrieval.ragIndexBuildOf(base)
    val ingest = new RagIngest(idx0)
    val in = MemoryStream[Doc]
    val q = in.toDS().toDF()
      .writeStream.foreachBatch(ingest.foldBatch _).start()
    try {
      val rows = delta.as[Doc].collect() // 10 docs at this scale
      val batches = rows.grouped(math.max(1, rows.length / 3)).toSeq
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      assert(batches.size >= 3, "fixture must exercise several micro-batches")
      val got = ingest.index
      val want = Retrieval.ragIndexAppend(idx0, delta)
      def same(a: org.apache.spark.sql.DataFrame,
               b: org.apache.spark.sql.DataFrame, what: String): Unit =
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          s"$what diverged between streamed and one-shot append")
      same(got.postings, want.postings, "postings")
      same(got.termStats.select(col("term"), col("df")),
        want.termStats.select(col("term"), col("df")), "term stats")
      same(got.tot, want.tot, "totals")
      same(got.index, want.index, "codes")
      assert(got.corpusCount === want.corpusCount, "corpusCount diverged")
    } finally q.stop()
  }

  /** One index family's lifecycle fixture: a built index over a base
    * slice, the delta its ingest folds (split into batches on `idCol`),
    * and the frames the lifecycle tests compare. Each family's view
    * normalizes what a store round trip changes (partition columns
    * added, cell ids re-typed) so a reloaded index compares against an
    * in-memory one.
    */
  private final class Lifecycle[I](
      val name: String, idCol: String,
      val build: () => (I, org.apache.spark.sql.DataFrame),
      val view: I => Seq[org.apache.spark.sql.DataFrame])(
      implicit val family: graft.core.IndexFamily[I]) {
    def batches(delta: org.apache.spark.sql.DataFrame,
                k: Int): Seq[org.apache.spark.sql.DataFrame] = {
      import org.apache.spark.sql.functions.col
      (0 until k).map(r =>
        delta.filter(col(idCol) % k === r).localCheckpoint(true))
    }
  }

  private def knnLifecycle = {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    new Lifecycle[Similarity.KnnIndex]("knn", "xid", { () =>
      val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      val base = emb.filter(col("vec_id") % 10 =!= 9)
        .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
      val delta = emb.filter(col("vec_id") % 10 === 9)
        .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
      val nb = base.count()
      val cells = Similarity.ivfCellsFor(nb)
      val centroids = base.orderBy(col("xid")).limit(cells)
        .select(col("xid").as("cid"), col("xvec").as("cvec"))
      (Similarity.knnGraphBuild(base, centroids,
        Similarity.ivfProbesFor(cells), 3,
        Similarity.knnCellCapFor(nb, cells, 3)), delta)
    }, i => Seq(Similarity.mutualize(i.directed)))
  }

  private def ragLifecycle = {
    import graft.operators.Retrieval
    import org.apache.spark.sql.functions._
    new Lifecycle[Retrieval.RagIndex]("rag", "doc_id", { () =>
      val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
        .select(col("doc_id"), col("text"))
      (Retrieval.ragIndexBuildOf(docs.filter(col("doc_id") % 50 =!= 49)),
        docs.filter(col("doc_id") % 50 === 49))
    }, i => Seq(
      i.postings.select("xid", "term", "tf", "dl"),
      i.termStats.select("term", "df"),
      i.tot.select("nd", "tt"),
      i.index.select(col("xid"), col("rx"), col("xnorm"),
        col("cid").cast("long"))))
  }

  private def ccLifecycle = {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions._
    new Lifecycle[Dedup.CcIndex]("cc", "doc_id", { () =>
      val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
        .select(col("doc_id"), col("text"))
      val base = docs.filter(col("doc_id") % 10 =!= 0)
      val n = base.count()
      val (bnd, rpb) = Dedup.lshGeometry(n)
      val bands = Dedup.textBands(base, bnd, rpb).localCheckpoint(true)
      val labels = Dedup.connectedComponents(Dedup.bucketStarEdges(bands))
        .localCheckpoint(true)
      (Dedup.CcIndex(bands, labels, bnd, rpb, n),
        docs.filter(col("doc_id") % 10 === 0))
    }, i => Seq(i.labels, i.bands.select("id", "band", "key")))
  }

  private def sameFrames(got: Seq[org.apache.spark.sql.DataFrame],
                         want: Seq[org.apache.spark.sql.DataFrame],
                         what: String): Unit =
    got.zip(want).foreach { case (a, b) =>
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, what)
    }

  private def replayFoldsAsNoOp[I](l: Lifecycle[I]): Unit =
    test(s"${l.name} ingest: a replayed micro-batch folds as a no-op") {
      // foreachBatch is AT-LEAST-ONCE on restart: the sink may see the
      // same (batch, batchId) again. The ingest tracks its last folded
      // id, so a replay must leave every artifact bit-identical — a
      // double-append would violate the unique-id contract and
      // duplicate graph edges, postings or band rows.
      import l.family
      val (idx0, delta) = l.build()
      val ingest = new graft.core.Ingest(idx0)
      val Seq(b0, b1) = l.batches(delta, 2)
      ingest.foldBatch(b0, 0L)
      ingest.foldBatch(b1, 1L)
      val before = l.view(ingest.index).map(_.localCheckpoint(true))
      ingest.foldBatch(b1, 1L) // the restart replay
      ingest.foldBatch(b0, 0L) // an even staler replay
      val after = l.view(ingest.index).map(_.localCheckpoint(true))
      sameFrames(after, before, "replayed batches must not change the graph")
      assert(ingest.lastBatch === 1L)
    }
  replayFoldsAsNoOp(knnLifecycle)
  replayFoldsAsNoOp(ragLifecycle)
  replayFoldsAsNoOp(ccLifecycle)

  test("knn ingest: resume from a saved checkpoint restores the replay cursor") {
    // KnnIngest.resume's half of the crash/restart contract (RagIngest's
    // is proven end-to-end below): the cursor rides the index store's
    // commit marker, so a resumed ingest skips the replay prefix and a
    // suffix fold lands on the chained append of the same batches.
    import graft.operators.Similarity
    import graft.streaming.KnnIngest
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 10 =!= 9)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val delta = emb.filter(col("vec_id") % 10 === 9)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val nb = base.count()
    val cells = Similarity.ivfCellsFor(nb)
    val centroids = base.orderBy(col("xid")).limit(cells)
      .select(col("xid").as("cid"), col("xvec").as("cvec"))
    val idx0 = Similarity.knnGraphBuild(base, centroids,
      Similarity.ivfProbesFor(cells), 3,
      Similarity.knnCellCapFor(nb, cells, 3))
    val b0 = delta.filter(col("xid") % 2 === 0).localCheckpoint(true)
    val b1 = delta.filter(col("xid") % 2 === 1).localCheckpoint(true)
    val ingest = new KnnIngest(idx0)
    ingest.foldBatch(b0, 0L)
    val path = graft.core.Graft.scratch("spec_knn_resume")
    ingest.save(path)

    val resumed = KnnIngest.resume(spark, path)
    assert(resumed.lastBatch === 0L, "replay cursor must load from the commit")
    resumed.foldBatch(b0, 0L) // source replay — must skip
    resumed.foldBatch(b1, 1L) // the genuine suffix
    val got = resumed.edges.localCheckpoint(true)
    val want = Similarity.mutualize(
      Similarity.knnGraphAppend(
        Similarity.knnIndexLoad(spark, path), b1).directed)
      .localCheckpoint(true)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "resumed ingest diverged from one append of the suffix")
    assert(resumed.lastBatch === 1L)
  }

  private def saveChainStaysExact[I](l: Lifecycle[I]): Unit =
    test(s"${l.name} ingest: fold→save→fold→save→fold stays exact past the second prune") {
      // ADVICE r18's exact shape: one long-lived ingest saving at a
      // checkpoint cadence while it keeps folding. The SECOND save's
      // prune reclaims the version the pre-first-save frames referenced
      // (retention buys one cycle of grace); save()'s re-point at the
      // just-committed version is what keeps fold #3 off deleted files.
      import l.family
      val (idx0, delta) = l.build()
      val b = l.batches(delta, 3)
      val path = graft.core.Graft.scratch(s"spec_${l.name}_save_chain")
      val ingest = new graft.core.Ingest(idx0)
      ingest.foldBatch(b(0), 0L)
      ingest.save(path) // v1
      ingest.foldBatch(b(1), 1L)
      ingest.save(path) // v2 commits; prune retains v1
      ingest.foldBatch(b(2), 2L) // v3 era: pre-v1 frames would be gone
      ingest.save(path) // v3 commits; prune RECLAIMS v1
      // serving and one more fold must still work from the live frames
      val want = b.foldLeft(idx0)((i, d) => l.family.append(i, d).get)
      sameFrames(l.view(ingest.index).map(_.localCheckpoint(true)),
        l.view(want).map(_.localCheckpoint(true)),
        "save-interleaved folds diverged from the chained appends")
      assert(graft.core.IndexStore.latest(spark, path).get.version === 3L)
    }
  saveChainStaysExact(knnLifecycle)
  saveChainStaysExact(ragLifecycle)
  saveChainStaysExact(ccLifecycle)

  test("cc ingest: chained micro-batch folds equal the one-shot incremental serve") {
    // the dedup family's streaming lane (CcIngest — q183b's engine):
    // after k micro-batches the labels must equal ONE ccIncrementalServe
    // of the union delta's star edges (chaining composes because every
    // fold's output labels are again full-graph component minima), a
    // replayed duplicate must no-op, and a resume from the committed
    // store must restore the cursor and keep folding correctly.
    import graft.operators.Dedup
    import graft.streaming.CcIngest
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val delta = docs.filter(col("doc_id") % 10 === 0)
    val (bnd, rpb) = Dedup.lshGeometry(base.count())
    def bandsOf(d: org.apache.spark.sql.DataFrame) =
      Dedup.textBands(d, bnd, rpb)
    val baseBands = bandsOf(base).localCheckpoint(true)
    val baseLabels = Dedup.connectedComponents(Dedup.bucketStarEdges(baseBands))
      .localCheckpoint(true)

    val path = graft.core.Graft.scratch("spec_cc_resume")
    Dedup.ccIndexSave(Dedup.CcIndex(baseBands, baseLabels, bnd, rpb,
      base.count()), path, lastBatch = -1L)
    val ingest = CcIngest.resume(spark, path)
    assert(ingest.lastBatch === -1L)
    val b = (0 until 3).map(r =>
      delta.filter(expr("doc_id div 10") % 3 === r).localCheckpoint(true))
    ingest.foldBatch(b(0), 0L)
    ingest.save(path) // checkpoint mid-stream: index + cursor commit together

    val resumed = CcIngest.resume(spark, path)
    assert(resumed.lastBatch === 0L, "replay cursor must load from the commit")
    resumed.foldBatch(b(0), 0L) // source replay — must skip
    resumed.foldBatch(b(1), 1L)
    resumed.foldBatch(b(1), 1L) // duplicate — must no-op
    resumed.foldBatch(b(2), 2L)
    val got = resumed.index.labels.localCheckpoint(true)

    // one-shot: the q183 shape over the same frozen geometry
    val oneShotEdges = Dedup.ccDeltaStarEdges(baseBands, bandsOf(delta))
    val want = Dedup.ccIncrementalServe(baseLabels, oneShotEdges)
      .select(col("doc_id").as("id"), col("component").as("lbl"))
      .localCheckpoint(true)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "chained streamed folds diverged from the one-shot incremental serve")
    assert(got.count() > 0 && resumed.lastBatch === 2L)
  }

  test("rag ingest: resume from a saved checkpoint skips the replay prefix") {
    // crash/restart posture: fold batches 0–1, checkpoint (index + replay
    // cursor commit atomically), then a fresh ingest resumes from disk and
    // the source replays from batch 0 — the resumed ingest must skip the
    // already-folded prefix and fold only batch 2, landing exactly on the
    // one-shot append of all three batches.
    import graft.operators.Retrieval
    import graft.streaming.RagIngest
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 50 =!= 49)
    val delta = docs.filter(col("doc_id") % 50 === 49)
    val b = (0 until 3).map(r =>
      delta.filter(col("doc_id") % 3 === r).localCheckpoint(true))
    val idx0 = Retrieval.ragIndexBuildOf(base)
    val ingest = new RagIngest(idx0)
    ingest.foldBatch(b(0), 0L)
    ingest.foldBatch(b(1), 1L)
    val path = graft.core.Graft.scratch("spec_rag_resume")
    ingest.save(path)

    val resumed = RagIngest.resume(spark, path)
    assert(resumed.lastBatch === 1L, "replay cursor must load from the commit")
    resumed.foldBatch(b(0), 0L) // source replay — must skip
    resumed.foldBatch(b(1), 1L) // source replay — must skip
    resumed.foldBatch(b(2), 2L) // the genuine suffix
    val got = resumed.index
    val want = Retrieval.ragIndexAppend(Retrieval.ragIndexLoad(spark, path)
      .copy(), b(2)) // same loaded artifacts, one append of the suffix
    def same(a: org.apache.spark.sql.DataFrame,
             bd: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(bd).isEmpty && bd.exceptAll(a).isEmpty,
        s"$what diverged between resumed ingest and one-shot append")
    same(got.postings, want.postings, "postings")
    same(got.termStats.select(col("term"), col("df")),
      want.termStats.select(col("term"), col("df")), "term stats")
    same(got.tot, want.tot, "totals")
    same(got.index.select(col("xid")), want.index.select(col("xid")), "codes")
    assert(got.corpusCount === want.corpusCount, "corpusCount diverged")
  }
}
