package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** What one persisted index family (the k-NN graph, the RAG chunk
  * index, the CC components) supplies to the shared lifecycle: how its
  * artifacts are written and read, how a micro-batch folds in, how its
  * staleness dial reads, and how it rebuilds. Everything around that —
  * the crash-atomic save, loading one resolved version, the maintain
  * arc and the streaming [[Ingest]] — is written once, in the companion
  * object and [[Ingest]], over an instance, so a store fix lands once
  * for all three families. The split follows the incremental
  * top-k similarity framework (PAPERS.md, EDBT 2020): each family keeps
  * its own delta step under one session-level lifecycle.
  */
trait IndexFamily[I] {

  /** The session the index's frames belong to. */
  def session(idx: I): SparkSession

  /** Write every artifact table of `idx` under the version directory
    * `dir`. Uncommitted: only [[IndexStore.save]] calls it, between
    * claiming the version and committing it.
    */
  def write(idx: I, dir: String): Unit

  /** Reconstitute the index from one committed version directory —
    * every frame a FileScan over the saved tables.
    */
  def read(s: SparkSession, dir: String): I

  /** Fold one micro-batch into the index; None when the batch is empty
    * (the family decides how it finds out, so each fold runs the jobs
    * it always ran).
    */
  def append(idx: I, batch: DataFrame): Option[I]

  /** Collapse the lazy union chains appends stack on the index. */
  def flatten(idx: I): I

  /** One dial row with a boolean `stale` column. `base` (the staleness
    * baseline) is by-name so a family whose dial needs no baseline
    * artifacts never loads them; `n` is the corpus row count, counted
    * at most once per maintain call.
    */
  def dials(base: => I, cur: I, n: => Long): DataFrame

  /** Re-index `corpus` (the source of truth, `n` rows) at the config
    * re-derived from it.
    */
  def rebuild(cur: I, corpus: DataFrame, n: => Long): I
}

object IndexFamily {

  /** Folded batches between two [[IndexFamily.flatten]]s of a live
    * ingest: bounds the lazy-union chain depth (and with it per-batch
    * analysis cost) at a constant, while amortizing the wide-table
    * materialization over several appends.
    */
  val FlattenEvery: Int = 8

  /** Save `idx` as one crash-atomic committed version (see
    * [[IndexStore]]). `lastBatch` is the streaming replay cursor (−1
    * for non-streaming saves); `baseVersion` the staleness baseline this
    * save descends from (−1 ⇒ a full build, its own baseline).
    */
  def save[I](idx: I, path: String, lastBatch: Long = -1L,
              baseVersion: Long = -1L)
             (implicit f: IndexFamily[I]): IndexStore.Commit =
    IndexStore.save(f.session(idx), path, lastBatch, baseVersion)(
      f.write(idx, _))

  /** The index of commit `c` — exactly the version that was resolved. */
  def read[I](s: SparkSession, path: String, c: IndexStore.Commit)
             (implicit f: IndexFamily[I]): I =
    f.read(s, IndexStore.dirOf(path, c))

  /** The latest committed version and its index, resolved once. */
  def load[I](s: SparkSession, path: String)
             (implicit f: IndexFamily[I]): (IndexStore.Commit, I) = {
    val c = IndexStore.committed(s, path)
    (c, read[I](s, path, c))
  }

  /** The maintenance entry a scheduler crons against a persisted store:
    * load the latest committed version and, lazily, its recorded
    * staleness BASELINE (the last full build — the commit marker names
    * it and [[IndexStore.prune]] never reclaims it), probe
    * [[IndexFamily.dials]] between them, and when the dial fires
    * re-index `corpus` at the re-derived config, save it as the NEW
    * baseline (the rebuild commit names itself, releasing the old
    * baseline for reclaim) and probe the version that save committed.
    * Returns the phase-tagged dial rows — `before` alone when the store
    * is healthy, `before` + a quiet `after` when a re-index ran. The
    * rebuild carries the replay cursor forward: the corpus already
    * contains every folded batch, so a resumed ingest must keep
    * skipping them. `retain` widens the concurrent-reader grace window
    * of the rebuild's save ([[IndexStore.prune]]).
    */
  def maintain[I](s: SparkSession, path: String, corpus: DataFrame,
                  retain: Int = 1)(implicit f: IndexFamily[I]): DataFrame = {
    val (c, cur) = load[I](s, path)
    lazy val base =
      if (c.baseVersion == c.version) cur
      else f.read(s, IndexStore.committedDirOf(s, path, c.baseVersion)
        .getOrElse(sys.error(
          s"maintain: baseline v=${c.baseVersion} of $path is gone — it " +
            "must stay retained until a rebuild resets it (widen `retain` " +
            "if an external cleaner removed it)")))
    lazy val n = corpus.count()
    val before = f.dials(base, cur, n)
      .withColumn("phase", lit("before")).localCheckpoint(true)
    if (!before.first().getAs[Boolean]("stale")) return phased(before)
    val rebuilt = f.rebuild(cur, corpus, n)
    val c2 = IndexStore.save(f.session(rebuilt), path, c.lastBatch,
      retain = retain)(f.write(rebuilt, _))
    val cur2 = read[I](s, path, c2)
    phased(before.unionByName(
      f.dials(cur2, cur2, n).withColumn("phase", lit("after"))))
  }

  /** Column order of the maintain/arc dial rows — phase first. */
  def phased(dials: DataFrame): DataFrame =
    dials.select(col("phase") +:
      dials.columns.filterNot(_ == "phase").map(col).toSeq: _*)
}

/** Streaming ingest for a persisted index family: a stream drives
  * `writeStream.foreachBatch(ingest.foldBatch _)` and each micro-batch
  * folds into the index through [[IndexFamily.append]].
  *
  * The state IS the index: held on the driver like any
  * foreachBatch-maintained artifact (its payload tables live as
  * checkpointed/FileScan frames on the executors — nothing data-scale
  * sits in driver memory), persisted with [[save]] at whatever cadence
  * the caller checkpoints, and reconstitutable in a fresh session with
  * [[Ingest.resume]].
  *
  * REPLAY-IDEMPOTENT: foreachBatch is at-least-once on restart, so
  * [[foldBatch]] tracks the last folded `batchId` and skips any batch
  * at or below it — a replayed micro-batch can never double-append ids
  * already in the index. The cursor persists WITH the index ([[save]]
  * writes it into the [[IndexStore]] commit marker), so a resumed
  * ingest skips exactly the source's replay of already-folded batches
  * and folds the genuine suffix — the idempotence holds across
  * crashes, not just within a run.
  *
  * CHAIN-DEPTH BOUNDED: each append layers lazy Unions onto the wide
  * tables, so every [[IndexFamily.FlattenEvery]] folded batches the
  * index flattens ([[IndexFamily.flatten]]) — analysis cost per batch
  * stays constant, not O(batches since start). Past executor-storage
  * scale, use a [[save]]/[[Ingest.resume]] cadence instead — the disk
  * round-trip is the flatten.
  *
  * Parity: after any prefix of batches the index equals the chained
  * appends of those batches (StreamingSpec, all three families,
  * through saves and replays); q167f, q150f and q183b pin the folded
  * serves against their oracles on the board.
  */
final class Ingest[I](initial: I, startAfterBatch: Long = -1L,
                      baseVersion: Long = -1L)(implicit f: IndexFamily[I]) {
  @volatile private var current: I = initial
  @volatile private var last: Long = startAfterBatch
  private var folded: Long = 0L

  /** The live index — serve against it between batches, or [[save]] it
    * as a streaming checkpoint.
    */
  def index: I = current

  /** The last folded batch id — the replay cursor [[save]] persists. */
  def lastBatch: Long = last

  /** foreachBatch sink: fold one micro-batch into the index. Ids must
    * be unique across the index and all batches (the append contract;
    * retirements run between batches on [[index]]). Batches at or below
    * the last folded id are REPLAYS (at-least-once delivery) and fold
    * as no-ops.
    */
  def foldBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
    if (batchId > last) {
      f.append(current, batch).foreach { next =>
        folded += 1
        current =
          if (folded % IndexFamily.FlattenEvery == 0) f.flatten(next) else next
      }
      last = batchId
    }
  }

  /** Checkpoint the live index + replay cursor as one atomic committed
    * version, then RE-POINT the live index at the version just
    * committed: the frames held before the save may still reference an
    * older on-disk version that the NEXT save's prune reclaims
    * (retention buys exactly one re-index cycle of grace), so the
    * reload is what keeps a long-lived ingest folding past a second
    * save. Append-saves PROPAGATE the staleness baseline they resumed
    * from, so a maintain probe compares against the build, not against
    * yesterday's append-save.
    */
  def save(path: String): Unit = synchronized {
    val c = IndexFamily.save(current, path, last, baseVersion)
    current = IndexFamily.read[I](f.session(current), path, c)
  }
}

object Ingest {
  /** Reconstitute an ingest from a [[Ingest.save]] checkpoint: the
    * latest committed index version together with ITS replay cursor
    * and staleness baseline (one resolution of the store), so the
    * stream's replay of already-folded batches lands on the skip path
    * and only the genuine suffix folds.
    */
  def resume[I](s: SparkSession, path: String)
               (implicit f: IndexFamily[I]): Ingest[I] = {
    val (c, idx) = IndexFamily.load[I](s, path)
    new Ingest(idx, c.lastBatch, c.baseVersion)
  }
}
