package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (builder brief): the reference is batch-only
  * (SURVEY §2.9 — Hadoop "streaming" is process piping, not continuous
  * processing), so this module is a forward extension: the same engine
  * operators over unbounded event streams.
  *
  * Scale posture: watermarks bound state; windowed aggregation state is
  * per (window × key); `mapGroupsWithState` state is one running struct per
  * key with processing-time timeout — both shuffle once on the group key
  * and survive 1000-executor checkpointed restarts.
  */
/** One row of a keyed temporal stream: a reference (isRef=true, the side
  * being looked up) or a probe (isRef=false, the side being enriched).
  * Top-level (not nested in the object): nested case classes trip Janino
  * encoder codegen into silent interpreted fallback, and these types
  * (de)serialize on every batch of every key through the state store.
  */
final case class TemporalRow(key: Long, tsUs: Long, isRef: Boolean, payload: String)
final case class HllEstimate(key: String, hllEst: Long)
final case class DayObs(eventType: String, day: Long)
final case class EwmaState(counts: Map[Long, Long], emitted: Long)
final case class EwmaRow(eventType: String, day: Long, c: Long,
                         num: Long, den: Long, anomaly: Boolean)
final case class AsOfMatch(key: Long, tsUs: Long, payload: String,
                           refTsUs: Option[Long], refPayload: Option[String])
final case class AsOfState(refs: List[(Long, String)], maxTsUs: Long)
final case class CmsSketch(key: String, seen: Long, cells: Array[Long])
final case class TransEvent(userId: Long, us: Long, eventId: Long, eventType: String)
final case class TransPair(userId: Long, cur: String, nxt: String)
final case class LastEvent(us: Long, eventId: Long, eventType: String)
final case class DecayEvent(userId: Long, day: Long, eventId: Long)
final case class DecayState(refDay: Long, n: Long, seq: Long, slots: Array[Long])
final case class DecayRow(userId: Long, seq: Long, nEvents: Long, decayedMilli: Long)
final case class CusumDay(eventType: String, dayUs: Long, x: Long)
final case class CusumState(daysUs: List[Long], xs: List[Long])
final case class CusumRow(eventType: String, dayUs: Long, cusumN: Long, flag: Long)
final case class TwapObs(userId: Long, us: Long, eventId: Long, vCents: Long)
final case class TwapState(seq: Long, nEvents: Long, firstUs: Long,
                           lastUs: Long, lastV: Long, numStr: String)
final case class TwapRow(userId: Long, seq: Long, nEvents: Long,
                         twapMillicents: Option[Long])
final case class IntervalObs(userId: Long, st: Long, eventId: Long)
final case class IntervalState(seq: Long, nIntervals: Long, nClosed: Long,
                               closedCov: Long, openSt: Long, openEn: Long)
final case class IntervalRow(userId: Long, seq: Long, nMerged: Long,
                             nIntervals: Long, coveredUs: Long)

object EventStream {

  final case class Event(ts: java.sql.Timestamp, eventType: String, value: Double)
  final case class TypeTotal(eventType: String, n: Long, total: Double)

  /** Event-time windowed counts/sums with a watermark: late events beyond
    * the watermark are dropped, state is evicted once windows close.
    */
  def windowedTotals(events: DataFrame, windowDur: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("eventType"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("win_start"), col("eventType"),
        col("n"), col("total"))

  /** Per-key running totals via mapGroupsWithState — the custom-state path
    * for logic windows can't express (the reference's stateful Reducer
    * equivalent, made incremental).
    *
    * State scales with the key domain unless bounded: pass `idleTimeout`
    * to evict keys idle past that duration (emitting their final total),
    * so state tracks the ACTIVE key set — required when the key domain is
    * unbounded. With a timeout the engine runs continuous timer batches,
    * so it is opt-in: bounded-domain jobs (and tests that rely on
    * `processAllAvailable` quiescing) keep NoTimeout.
    */
  def runningTotals(events: Dataset[Event],
                    idleTimeout: Option[String] = None): Dataset[TypeTotal] = {
    import events.sparkSession.implicits._
    val mode = idleTimeout
      .map(_ => GroupStateTimeout.ProcessingTimeTimeout)
      .getOrElse(GroupStateTimeout.NoTimeout)
    events
      .groupByKey(_.eventType)
      .mapGroupsWithState[TypeTotal, TypeTotal](mode) {
        (key: String, rows: Iterator[Event], state: GroupState[TypeTotal]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            last
          } else {
            val prev = state.getOption.getOrElse(TypeTotal(key, 0L, 0.0))
            var n = prev.n; var total = prev.total
            rows.foreach { e => n += 1; total += e.value }
            val next = TypeTotal(key, n, total)
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            next
          }
      }
  }

  /** Streaming twin of q189's transition-matrix FRONT HALF: per-user
    * adjacent (cur → next) event pairs emitted incrementally via
    * `flatMapGroupsWithState` — state is ONE LastEvent struct per user
    * (the boundary event, so a transition spanning two micro-batches is
    * emitted exactly once, by the batch that delivers its right edge).
    * Within a batch a user's rows sort by (us, event_id) — q189's exact
    * window order; across batches the ordered-feed contract applies
    * (the q151/q122 convention: event time advances batch to batch).
    *
    * Production shape: this pair stream feeds a streaming count
    * aggregation keyed (cur, nxt) — bounded |types|² state — giving a
    * continuously-maintained transition matrix; StreamingSpec proves the
    * pair stream aggregates to exactly q189's batch matrix on an
    * ordered replay. State here is O(active users), evictable by the
    * same idle-timeout dial as [[runningTotals]] once a user's session
    * is over.
    */
  def transitionPairs(events: Dataset[TransEvent]): Dataset[TransPair] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[LastEvent, TransPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[TransEvent], state: GroupState[LastEvent]) =>
          val sorted = rows.toVector.sortBy(e => (e.us, e.eventId))
          val seq = state.getOption
            .map(s => TransEvent(uid, s.us, s.eventId, s.eventType))
            .toVector ++ sorted
          if (seq.nonEmpty) {
            val last = seq.last
            state.update(LastEvent(last.us, last.eventId, last.eventType))
          }
          seq.sliding(2).collect {
            case Seq(a, b) => TransPair(uid, a.eventType, b.eventType)
          }
      }
  }

  /** Streaming twin of q229's recency-decayed engagement count: per-user
    * state is the REFERENCE DAY plus a 31-slot age histogram (counts of
    * events at age 0..30 relative to that reference) — when the clock
    * advances by Δ days the histogram shifts up by Δ (slots past the
    * horizon drop to exactly zero, the same hard cutoff as batch), and a
    * new event increments its age slot. Keeping the HISTOGRAM rather
    * than the folded Σ 2^(30−age) is what keeps the twin EXACT: shifting
    * the folded sum right truncates low bits of co-aged events (3 events
    * at age 30 fold to 3, which >>1 gives 1, not the 0 batch says),
    * while shifting the histogram ages each COUNT losslessly. The score
    * Σ slots[a]·2^(30−a) is re-derived dyadically at emit — no float
    * pow/exp here either. Rows with eventId < 0 are CLOCK TICKS (the
    * q151 sentinel convention): they advance the reference day without
    * counting, which is how a feeder pins every user to one global
    * as-of instant — batch q229's corpus-max reference.
    *
    * Scale posture: state is 31 longs + 3 scalars per user, constant in
    * the stream length; evictable by the usual idle-timeout dial. Each
    * emission carries a monotone `seq` so a consumer (and the parity
    * test) can select the latest row per user from an append sink.
    */
  def decayedCounts(events: Dataset[DecayEvent]): Dataset[DecayRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[DecayState, DecayRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[DecayEvent], state: GroupState[DecayState]) =>
          val st0 = state.getOption
            .getOrElse(DecayState(Long.MinValue, 0L, 0L, Array.fill(31)(0L)))
          var ref = st0.refDay
          var n = st0.n
          val slots = st0.slots.clone()
          rows.toVector.sortBy(e => (e.day, e.eventId)).foreach { e =>
            if (e.day > ref) {
              val shift = if (ref == Long.MinValue) 31L else e.day - ref
              if (shift >= 31) java.util.Arrays.fill(slots, 0L)
              else {
                var a = 30
                while (a >= 0) { // shift ages up, oldest first
                  slots(a) = if (a >= shift) slots(a - shift.toInt) else 0L
                  a -= 1
                }
              }
              ref = e.day
            }
            if (e.eventId >= 0) { // ticks advance the clock only
              n += 1
              val age = ref - e.day
              if (age <= 30) slots(age.toInt) += 1
            }
          }
          var acc = 0L
          var a = 0
          while (a <= 30) { acc += slots(a) << (30 - a); a += 1 }
          val seq = st0.seq + 1
          state.update(DecayState(ref, n, seq, slots))
          Iterator.single(DecayRow(uid, seq, n, (acc * 1000L) >> 30))
      }
  }

  /** Streaming twin of q217's CUSUM change-point series: the
    * Brownian-bridge statistic normalizes every prefix by the FULL
    * series' n, S and Sq, so per-day flags are only final when the
    * monitoring window closes — the twin therefore accumulates the
    * per-type day series (closed daily totals arrive as [[CusumDay]]
    * rows, the q151 feeder convention) and emits the WHOLE exact flag
    * series when the window-close tick (dayUs = Long.MaxValue) arrives.
    * The math is bit-for-bit q217's: C_t = n·Σᵢ≤ₜxᵢ − t·S and the alarm
    * C_t²·n > 4·(n·Sq − S²)·t·(n−t), evaluated in BigInt — the same
    * exact-integer tree the batch query runs in DECIMAL(38,0).
    *
    * Scale posture: state is the (type × day) grid — the identical
    * model-sized bound the batch plan's per-type prefix window carries;
    * types shuffle once on the group key and emit day-grid-sized output.
    */
  def cusumChangepoints(days: Dataset[CusumDay]): Dataset[CusumRow] = {
    import days.sparkSession.implicits._
    days
      .groupByKey(_.eventType)
      .flatMapGroupsWithState[CusumState, CusumRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (et: String, rows: Iterator[CusumDay], state: GroupState[CusumState]) =>
          val (ticks, real) = rows.toVector.partition(_.dayUs == Long.MaxValue)
          val st0 = state.getOption.getOrElse(CusumState(Nil, Nil))
          val daysUs = st0.daysUs ++ real.map(_.dayUs)
          val xs = st0.xs ++ real.map(_.x)
          if (ticks.isEmpty) { state.update(CusumState(daysUs, xs)); Iterator.empty }
          else {
            // the window is closed: emit the final series exactly once
            // and drop the state — a later stray tick must not re-emit
            // the whole flag series into an append sink
            state.remove()
            val series = daysUs.zip(xs).sortBy(_._1)
            val n = BigInt(series.size)
            val s = series.iterator.map(d => BigInt(d._2)).sum
            val sq = series.iterator.map(d => BigInt(d._2) * BigInt(d._2)).sum
            val prefix =
              series.scanLeft(BigInt(0)) { case (p, (_, x)) => p + BigInt(x) }.tail
            series.zip(prefix).zipWithIndex.iterator.map {
              case (((day, _), px), i) =>
                val t = BigInt(i + 1)
                val c = n * px - t * s
                val flag =
                  if (c * c * n > BigInt(4) * (n * sq - s * s) * t * (n - t)) 1L
                  else 0L
                CusumRow(et, day, c.toLong, flag)
            }
          }
      }
  }

  /** Streaming twin of q219's per-user TWAP (the time-weighted mean over
    * irregular samples): state is the bounded running form of the batch
    * lead() sweep — first/last observation time, the last HELD value,
    * and the exact Σ v·(t₊₁−t) accumulator, carried as a decimal string
    * (BigInt — the batch query runs the identical sum in DECIMAL(38,0);
    * a raw long would wrap at corpus-scale cents × micros). The feeder
    * delivers each key's events in (us, event_id) order across batches
    * (the q151 ordered-replay convention; within a batch the twin
    * re-sorts), so after ANY prefix of batches the latest emitted row
    * equals the batch query over that prefix — floor division, the
    * single-observation NULL, and all.
    *
    * Scale posture: one fixed-size struct per user, shuffled once on the
    * group key; emission is one row per key per batch.
    */
  def twapRunning(events: Dataset[TwapObs]): Dataset[TwapRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[TwapState, TwapRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[TwapObs], state: GroupState[TwapState]) =>
          val st0 = state.getOption.getOrElse(TwapState(0L, 0L, -1L, -1L, 0L, "0"))
          var n = st0.nEvents
          var first = st0.firstUs
          var last = st0.lastUs
          var lastV = st0.lastV
          var num = BigInt(st0.numStr)
          rows.toVector.sortBy(e => (e.us, e.eventId)).foreach { e =>
            if (n == 0L) first = e.us
            else num += BigInt(lastV) * BigInt(e.us - last)
            last = e.us; lastV = e.vCents; n += 1
          }
          val seq = st0.seq + 1
          state.update(TwapState(seq, n, first, last, lastV, num.toString))
          val t = last - first
          // BigInt / truncates toward zero — DECIMAL DIV's rule, so the
          // twin agrees with the batch query for negative values too
          val twap = if (t == 0L) None
                     else Some(((BigInt(1000) * num) / BigInt(t)).toLong)
          Iterator.single(TwapRow(uid, seq, n, twap))
      }
  }

  /** Streaming twin of q225's per-user interval union (exact covered
    * time under overlap merging): the ordered sweep keeps ONE open
    * island (start, end) plus closed totals — the bounded-state form of
    * the batch prefix-max window. Each arriving 5-minute interval either
    * extends the open island or closes it and opens the next; emission
    * after any batch counts the open island exactly as the batch query's
    * last island, so ordered-replay equality holds at every prefix.
    * Feeder contract as [[twapRunning]]: per-key (st, event_id) order
    * across batches, re-sorted within each batch.
    *
    * Scale posture: six scalars per user — the whole point of the sweep
    * form; the batch plan's per-user window becomes one running struct.
    */
  def intervalUnion(events: Dataset[IntervalObs]): Dataset[IntervalRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[IntervalState, IntervalRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[IntervalObs], state: GroupState[IntervalState]) =>
          val st0 = state.getOption
            .getOrElse(IntervalState(0L, 0L, 0L, 0L, -1L, -1L))
          var nIv = st0.nIntervals
          var nClosed = st0.nClosed
          var cov = st0.closedCov
          var oSt = st0.openSt
          var oEn = st0.openEn
          rows.toVector.sortBy(e => (e.st, e.eventId)).foreach { e =>
            val en = e.st + 300000000L
            if (nIv == 0L) { oSt = e.st; oEn = en }
            else if (e.st > oEn) {
              cov += oEn - oSt; nClosed += 1
              oSt = e.st; oEn = en
            } else if (en > oEn) oEn = en
            nIv += 1
          }
          val seq = st0.seq + 1
          state.update(IntervalState(seq, nIv, nClosed, cov, oSt, oEn))
          Iterator.single(IntervalRow(uid, seq, nClosed + 1, nIv, cov + (oEn - oSt)))
      }
  }

  /** Streaming twin of [[graft.operators.Sketches.hllCountDistinct]]:
    * per-key 256-register HLL maintained incrementally in
    * `mapGroupsWithState` — each micro-batch folds its values into the
    * registers (max of ranks, the HLL merge), and the emitted estimate
    * after any prefix of batches equals the batch operator over the same
    * prefix, register for register (StreamingSpec proves the equality).
    * Hashing and the two-branch estimator are the SAME math as batch:
    * md5-prefix 60-bit hash, rank = leading zeros + 1 in the 40-bit
    * window, K div S with the shared linear-counting table — only the
    * md5 runs through MessageDigest here instead of the Catalyst
    * expression.
    *
    * Scale posture: state is one fixed 256-int array per key — the whole
    * point of a sketch under unbounded input; no watermark needed because
    * state never grows with the stream.
    */
  def streamingHll(pairs: Dataset[(String, String)]): Dataset[HllEstimate] = {
    import pairs.sparkSession.implicits._
    pairs
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Int], HllEstimate](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)], state: GroupState[Array[Int]]) =>
          val reg = state.getOption.getOrElse(Array.fill(256)(0))
          val md = java.security.MessageDigest.getInstance("MD5")
          rows.foreach { case (_, v) =>
            md.reset()
            val hex = md.digest(v.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString.substring(0, 15)
            val h = java.lang.Long.parseLong(hex, 16)
            val b = (h % 256).toInt
            val v40 = (h / 256) % (1L << 40)
            val r = if (v40 == 0) 41 else 41 - (64 - java.lang.Long.numberOfLeadingZeros(v40))
            if (r > reg(b)) reg(b) = r
          }
          state.update(reg)
          HllEstimate(key, hllEstimateOf(reg))
      }
  }

  /** Streaming twin of [[graft.operators.Sketches.countMinDeterministic]]:
    * per-key 4×1024 count-min cells maintained incrementally in
    * `mapGroupsWithState` — each micro-batch adds 1 to each of the
    * value's four hashed cells, and because CMS cells are plain sums
    * (the sketch is a linear merge), the state after any prefix of
    * batches equals the batch sketch built from that prefix's exact
    * count table, cell for cell (StreamingSpec proves the equality).
    * Hashing is the SAME math as batch: first 8 hex chars of
    * md5(value || '#' || row) mod 1024 — MessageDigest here instead of
    * the Catalyst expression. `seen` counts folded values, so the
    * latest emission per key is the one with max(seen).
    *
    * Scale posture: state is one fixed 4096-long array (32 KB) per key
    * regardless of stream volume or value cardinality — the sketch
    * trade; no watermark needed because state never grows with the
    * stream. Heavy-hitter queries probe the emitted cells exactly like
    * the batch q130 probe (min over the four cells).
    */
  def streamingCms(pairs: Dataset[(String, String)]): Dataset[CmsSketch] = {
    import pairs.sparkSession.implicits._
    pairs
      .groupByKey(_._1)
      .mapGroupsWithState[CmsSketch, CmsSketch](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)], state: GroupState[CmsSketch]) =>
          val prev = state.getOption.getOrElse(
            CmsSketch(key, 0L, Array.fill(4 * 1024)(0L)))
          val cells = prev.cells.clone()
          var seen = prev.seen
          val md = java.security.MessageDigest.getInstance("MD5")
          rows.foreach { case (_, v) =>
            var i = 0
            while (i < 4) {
              md.reset()
              val hex = md.digest((v + "#" + i).getBytes("UTF-8"))
                .map("%02x".format(_)).mkString.substring(0, 8)
              cells(i * 1024 + (java.lang.Long.parseLong(hex, 16) % 1024).toInt) += 1L
              i += 1
            }
            seen += 1L
          }
          val next = CmsSketch(key, seen, cells)
          state.update(next)
          next
      }
  }

  /** The shared integer estimator over a 256-register array (0 = empty):
    * identical constants to the batch expression in Sketches.
    */
  private[graft] def hllEstimateOf(reg: Array[Int]): Long = {
    val K = 103513989865891026L
    var sp = 0L; var nb = 0L
    reg.foreach { r => if (r > 0) { sp += 1L << (41 - r); nb += 1 } }
    val raw = K / (sp + (256 - nb) * (1L << 41))
    val v = (256 - nb).toInt
    if (raw <= 640 && v > 0) graft.operators.Sketches.lcTable(v - 1) else raw
  }

  /** The aggregate-descriptor DSL (SURVEY §2.4) over an unbounded stream:
    * the same `"AggType:column"` strings that drive batch
    * `Aggregates.aggregate` compile onto a watermarked event-time window —
    * a reference aggregate job, made continuous. State per (window × key),
    * evicted at the watermark; Catalyst's partial aggregation is the
    * combiner, exactly as in batch.
    */
  def windowedDescriptors(events: DataFrame, key: org.apache.spark.sql.Column,
                          windowDur: String, watermark: String,
                          specs: Seq[String]): DataFrame = {
    val cols = graft.operators.Aggregates.compile(specs)
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), key)
      .agg(cols.head, cols.tail: _*)
      .withColumn("win_start", col("window.start"))
      .drop("window")
  }

  /** Watermarked stream-stream interval join: each left event matched to
    * right events with the same key whose timestamps land inside
    * `[left.ts, left.ts + within]`. Both sides carry watermarks and the
    * join condition bounds the event-time range, so the state store
    * retains only rows inside the watermark + interval horizon — the
    * REQUIRED shape for an unbounded-source join (an unconstrained
    * stream-stream join would buffer both streams forever). Inner join:
    * results emit as soon as both sides arrive; state evicts as the
    * watermark passes each row's ts + within.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   watermark: String, within: String): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col("r.ts") >= col("l.ts") &&
        col("r.ts") <= col("l.ts") + expr(s"INTERVAL $within"))
  }

  /** Streaming as-of enrichment — the unbounded counterpart of
    * [[graft.operators.TemporalJoins.asOf]] (a temporal-table join): each
    * probe row is enriched with the latest reference row of its key at or
    * before its event time, `None` when no reference precedes it.
    *
    * State per key is the sorted reference list pruned to `horizonUs`
    * behind the key's max seen time, PLUS one floor entry below the
    * cutoff (the match target for probes right at the horizon edge) — so
    * state is bounded by references-per-horizon, not stream length.
    * Within a batch, rows process in event-time order with references
    * first at equal instants (the batch operator's `<=` convention).
    * Probes may arrive out of order and still match (the retained list
    * serves any probe inside the horizon); a REFERENCE arriving after a
    * probe that needed it cannot retro-correct the already-emitted probe —
    * the documented streaming-enrichment limitation (reconcile downstream
    * or widen the batch as-of).
    *
    * State is horizon-bounded PER KEY; on an unbounded key domain pass
    * `idleTimeout` so idle keys evict (same opt-in contract as
    * [[runningTotals]] — the processing-time timeout makes the engine run
    * continuous timer batches, so tests that rely on
    * `processAllAvailable` quiescing keep the NoTimeout default).
    */
  def streamingAsOf(rows: Dataset[TemporalRow], horizonUs: Long,
                    idleTimeout: Option[String] = None): Dataset[AsOfMatch] = {
    import rows.sparkSession.implicits._
    require(horizonUs > 0, s"streamingAsOf: horizonUs must be positive (got $horizonUs)")
    val mode = idleTimeout
      .map(_ => GroupStateTimeout.ProcessingTimeTimeout)
      .getOrElse(GroupStateTimeout.NoTimeout)
    rows
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsOfState, AsOfMatch](
        OutputMode.Append(), mode) {
        (key: Long, it: Iterator[TemporalRow], state: GroupState[AsOfState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
          val prev = state.getOption.getOrElse(AsOfState(Nil, Long.MinValue))
          // refs kept ascending by ts; payload max breaks equal-ts ties,
          // matching the batch operator's deterministic struct-max rule
          var refs = prev.refs
          var maxTs = prev.maxTsUs
          val out = Vector.newBuilder[AsOfMatch]
          val batch = it.toVector.sortBy(r => (r.tsUs, !r.isRef, r.payload))
          batch.foreach { r =>
            maxTs = math.max(maxTs, r.tsUs)
            if (r.isRef) {
              // full (ts, payload) order so equal-ts ties resolve to the
              // payload max even when the refs arrive in different batches
              val (below, above) = refs.partition(e =>
                e._1 < r.tsUs || (e._1 == r.tsUs && e._2 <= r.payload))
              refs = below ::: ((r.tsUs, r.payload) :: above)
            } else {
              val m = refs.reverseIterator.find(_._1 <= r.tsUs)
              out += AsOfMatch(key, r.tsUs, r.payload, m.map(_._1), m.map(_._2))
            }
          }
          // prune: drop refs behind the horizon, keep the last one below
          // the cutoff as the floor for edge probes
          val cutoff = maxTs - horizonUs
          val (old, live) = refs.partition(_._1 < cutoff)
          refs = (old.lastOption.toList ::: live)
          state.update(AsOfState(refs, maxTs))
          idleTimeout.foreach(state.setTimeoutDuration)
          out.result().iterator
          }
      }
  }

  /** Batch reconciliation for [[streamingAsOf]]'s documented limitation:
    * a reference arriving AFTER a probe it should have matched cannot
    * retro-correct the already-emitted row. Downstream, where the full
    * reference set exists (the reference stream's sink, or the batch
    * table it lands in), this helper RE-matches every emitted probe with
    * the batch as-of operator and returns the corrected enrichment —
    * run it over the suspect horizon (e.g. each day's probes against
    * that day's complete references) and the streaming answer converges
    * to the batch answer.
    *
    * Tie rule matches both engines' convention: at equal timestamps the
    * payload-max reference wins ([[TemporalJoins.asOf]]'s struct-max —
    * `refTsUs` ties inside a key resolve by payload — and
    * [[streamingAsOf]]'s in-state payload-max insertion). Scale shape is
    * the batch operator's: one shuffle, |probes| + |refs| window rows,
    * no inequality join.
    */
  def reconcileAsOf(matches: Dataset[AsOfMatch],
                    refs: Dataset[TemporalRow]): Dataset[AsOfMatch] = {
    import matches.sparkSession.implicits._
    val probes = matches.toDF().select(col("key"), col("tsUs"), col("payload"))
    val refRows = refs.filter(_.isRef).toDF()
      .select(col("key").as("_rk"), col("tsUs").as("refTsUs"),
        col("payload").as("refPayload"))
    graft.operators.TemporalJoins
      .asOf(probes, col("key"), col("tsUs"), refRows, col("_rk"), col("refTsUs"))
      .select(col("key"), col("tsUs"), col("payload"),
        col("matched.refTsUs").as("refTsUs"),
        col("matched.refPayload").as("refPayload"))
      .as[AsOfMatch]
  }

  /** First-arrival ingest dedup over an unbounded stream —
    * `dropDuplicatesWithinWatermark`, the at-least-once-delivery
    * suppressor: the first row of each key is emitted, every replay
    * inside the watermark horizon is dropped, and (unlike a plain
    * streaming `dropDuplicates`) the key's state EVICTS once the
    * watermark passes it — state is bounded by keys-per-horizon, not by
    * stream lifetime, which is the difference between a dedup that
    * survives a month-long run and one that OOMs. The batch counterpart
    * with a deterministic keeper (earliest event time, id tiebreak) is
    * q122's oracle-checked query; StreamingSpec pins that an event-time-
    * ordered feed through this operator lands on exactly that keeper set.
    */
  def firstArrivalDedup(events: DataFrame, keys: Seq[String],
                        watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Idempotent `foreachBatch` parquet sink — exactly-once-to-storage on
    * a non-transactional sink: each micro-batch lands in its OWN
    * `batch_id=` partition with dynamic partition overwrite, so a
    * replayed batch (post-crash re-execution of the same epoch) rewrites
    * its partition instead of appending duplicates. Pair with a
    * checkpointLocation; the contract is Spark's "batchId is stable
    * across replays" guarantee. Readers see the union of partitions —
    * `spark.read.parquet(path)` — and can drop `batch_id` or prune on it.
    */
  def idempotentParquetWriter(path: String): (DataFrame, Long) => Unit =
    (batch, id) => {
      // withColumn would silently REPLACE a user column of this name and
      // repurpose it as the partition value — refuse instead of losing data
      require(!batch.columns.contains("batch_id"),
        "idempotentParquetWriter reserves column name 'batch_id'; rename the source column")
      batch.withColumn("batch_id", lit(id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    }

  /** Streaming twin of the q151 batch EWMA anomaly detector: per
    * event-type daily volumes accumulate in `flatMapGroupsWithState`,
    * and a day's verdict EMITS once a strictly later day arrives for
    * that type (a day is only judgeable when it is complete — the same
    * reason the batch query runs on closed days). The state is one
    * bounded map per type — the trailing 9 days of counts plus the
    * emission frontier — so state never grows with the stream; the
    * emitted row (c, num, den, anomaly) is the IDENTICAL integer
    * arithmetic to the batch query: dyadic weights 2⁷…2⁰ over the days
    * actually present, spike test 2·c·den ≥ 3·num (StreamingSpec proves
    * row-for-row equality against q151 on an ordered replay, with a
    * sentinel day flushing each type's final verdict).
    *
    * Contract: the feed is event-time ordered per type (the
    * firstArrivalDedup parity contract); production fronts this with a
    * watermarked pre-aggregation so late days are dropped, not
    * double-judged.
    */
  def ewmaAnomaly(days: Dataset[DayObs]): Dataset[EwmaRow] = {
    import days.sparkSession.implicits._
    days
      .groupByKey(_.eventType)
      .flatMapGroupsWithState[EwmaState, EwmaRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[DayObs], state: GroupState[EwmaState]) =>
          val prev = state.getOption.getOrElse(EwmaState(Map.empty, Long.MinValue))
          var m = prev.counts
          rows.foreach { r => m += r.day -> (m.getOrElse(r.day, 0L) + 1L) }
          val maxDay = m.keys.max
          val closed = m.keys.filter(d => d < maxDay && d > prev.emitted).toSeq.sorted
          val out = closed.map { d =>
            var num = 0L; var den = 0L
            for (k <- 1 to 8) m.get(d - k).foreach { c =>
              num += c * (1L << (8 - k)); den += (1L << (8 - k))
            }
            val c = m(d)
            EwmaRow(key, d, c, num, den, den > 0 && 2 * c * den >= 3 * num)
          }
          val frontier = if (closed.nonEmpty) closed.max else prev.emitted
          // emission first, THEN prune: judged days stay around as the
          // history of the still-open days (≥ maxDay − 8)
          state.update(EwmaState(m.filter(_._1 >= maxDay - 8), frontier))
          out.iterator
      }
  }
}
