package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Crash-atomic versioning for the persisted index stores
  * ([[graft.operators.Similarity]]'s k-NN index,
  * [[graft.queries.TextQueries]]'s RAG chunk index,
  * [[graft.operators.Dedup]]'s CC index) — the two-phase commit
  * discipline the reference applies to every job's output
  * (`src/mapred/org/apache/hadoop/mapred/FileOutputCommitter.java:41-42,121`
  * — `_temporary` staging + atomic promote), lifted to INDEX
  * granularity: a save writes its 3–6 artifact tables under a fresh
  * `v=<n>/` directory and only then commits the version with one
  * atomic marker rename, so a crash at ANY point between table writes
  * leaves the store serving the previous committed version instead of
  * a torn mix of new centroids beside old codes.
  *
  * Layout under the store root:
  * {{{
  *   $path/v=1/<tables...>   $path/v=1/COMMIT   <- superseded, RETAINED
  *   $path/v=2/<tables...>   $path/v=2/COMMIT   <- committed (served)
  *   $path/v=3/<tables...>                      <- torn save: no COMMIT,
  *                                                 invisible to loaders
  * }}}
  *
  * The COMMIT marker carries the store metadata (currently the last
  * folded streaming batch id — the replay-idempotence cursor
  * [[graft.core.Ingest]] resumes from). It is written as `COMMIT.tmp`
  * and RENAMED into place: rename-to-fresh-target is the one atomic
  * primitive every Hadoop `FileSystem` guarantees, so a marker either
  * exists with complete content or not at all — existence alone is the
  * commit signal, exactly the `_SUCCESS` contract. A marker that
  * exists but cannot be PARSED (zero-byte or garbled — a filesystem
  * that lied about rename atomicity) is treated as uncommitted: the
  * loader warns and falls through to the next-highest committed
  * version, honoring the layer's contract — never serve torn, always
  * serve the best committed.
  *
  * SINGLE-WRITER per version: [[begin]] claims its version directory
  * by atomically creating a `WRITER` lock file
  * (`FileSystem.create(overwrite = false)` — create-if-absent), so two
  * concurrent savers can never interleave table writes into one
  * `v=<n>` directory; the slower one claims the next number. Note the
  * lock guards the DIRECTORY, not the store: concurrent savers of the
  * same store commit distinct versions and the highest wins — callers
  * that need one logical winner still serialize at their own layer
  * ([[graft.core.Ingest]] is `synchronized`). Exclusive create is atomic
  * on HDFS and local filesystems; on object stores without an atomic
  * create-if-absent (e.g. S3A, where the Hadoop FS spec makes it
  * check-then-act) the lock is ADVISORY only — same caveat class as
  * the marker rename, and the same answer: serialize writers at the
  * job-scheduler layer there.
  *
  * BASELINE TRACKING: every commit records the version its config
  * DESCENDS from — itself for a full (re)build, the originating
  * build's version for an append/ingest save ([[graft.core.Ingest]]
  * propagates it). The baseline is what a staleness probe compares
  * against: the quantizer/geometry were derived THERE, so "how stale
  * is this store" means "what drifted since the baseline", not "since
  * the last save". [[prune]] never reclaims the latest commit's baseline,
  * so the probe's base artifacts stay loadable no matter how many
  * append-saves stack on top; a REBUILD commit (baseline = itself)
  * naturally releases the old baseline for reclaim.
  *
  * CONCURRENT-READER RETENTION: [[prune]] (called after a successful
  * commit) keeps the newest `retain` SUPERSEDED committed versions
  * (default 1) plus the latest commit's baseline, and deletes the
  * rest — so a long-lived serving JVM holding FileScans over `v=n`
  * (the `KnnServeMain`/`RagServeMain` daemon posture) survives a
  * writer committing `v=n+1`: its frames keep reading retained files.
  * The serve-refresh contract: a reader re-resolves [[latest]] at
  * its own cadence and reads the directory of the commit it resolved
  * ([[dirOf]]); one retained version buys one full re-index cycle
  * of grace — a reader older than `retain` re-index cycles must
  * re-resolve before its files are reclaimed. Torn (uncommitted)
  * versions below the new commit are always deleted; versions ABOVE
  * the kept one are left alone — they are a concurrent writer's
  * in-flight staging, not garbage.
  *
  * Index families never call [[begin]]/[[commit]]/[[prune]] themselves:
  * every save goes through [[save]], and the lifecycle around it (load,
  * maintain, streaming ingest) is written once in
  * [[graft.core.IndexFamily]].
  */
object IndexStore {

  /** Metadata carried by a committed version. `lastBatch` is the last
    * streaming batch id folded into the saved index (−1 when the save
    * did not come from a streaming ingest). `baseVersion` is the
    * version this save's CONFIG descends from: itself for a full
    * build, the build's version for an append-descended save — the
    * staleness baseline [[graft.core.IndexFamily.maintain]] probes
    * against.
    */
  final case class Commit(version: Long, lastBatch: Long, baseVersion: Long)

  private def fsOf(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def versionDir(path: String, v: Long): String = s"$path/v=$v"

  private def commitMarker(path: String, v: Long): Path =
    new Path(versionDir(path, v), "COMMIT")

  /** All version numbers present under the root — committed or torn. */
  private def versions(fs: FileSystem, path: String): Seq[Long] = {
    val root = new Path(path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") =>
        scala.util.Try(n.stripPrefix("v=").toLong).toOption
      }
      .flatten
  }

  /** The marker metadata of version `v`, when `v` is committed AND its
    * marker parses. A present-but-garbled marker warns and reads as
    * uncommitted (fail-soft: the caller falls through to the next
    * version rather than crashing the loader on one bad file). A
    * marker that VANISHES between the exists check and the read is the
    * concurrent-prune race (a reader re-resolving while a writer
    * reclaims the directory) — it reads as uncommitted the same way,
    * silently, because a pruned-away version is normal operation, not
    * corruption (ADVICE r19). Line 1 is the replay cursor; an optional
    * `base=<v>` line carries the staleness baseline (absent on
    * markers written before baseline tracking → the version is its own
    * baseline).
    */
  private def committedMeta(fs: FileSystem, path: String,
                            v: Long): Option[Commit] = {
    val m = commitMarker(path, v)
    val read: Option[String] =
      try {
        if (!fs.exists(m)) None
        else {
          val in = fs.open(m)
          try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
          finally in.close()
        }
      } catch {
        case _: java.io.FileNotFoundException => None // pruned mid-resolve
        case e: java.io.IOException =>
          System.err.println(
            s"IndexStore: COMMIT marker at $m unreadable ($e) — " +
              s"treating v=$v as uncommitted")
          None
      }
    read.flatMap { txt =>
      val lines = txt.split('\n').map(_.trim)
      scala.util.Try(lines.head.toLong).toOption match {
        case Some(b) =>
          val base = lines.collectFirst {
            case l if l.startsWith("base=") =>
              scala.util.Try(l.stripPrefix("base=").toLong).toOption
          }.flatten.getOrElse(v)
          Some(Commit(v, b, base))
        case None =>
          System.err.println(
            s"IndexStore: unreadable COMMIT marker at $m (content: " +
              s"'${txt.take(64)}') — skipping v=$v, serving the " +
              "next-highest committed version")
          None
      }
    }
  }

  /** The highest committed version with a PARSEABLE marker and its
    * metadata, or None when the store has never completed a save.
    */
  def latest(s: SparkSession, path: String): Option[Commit] = {
    val fs = fsOf(s, path)
    versions(fs, path).sorted(Ordering[Long].reverse)
      .collectFirst(Function.unlift(committedMeta(fs, path, _)))
  }

  /** The highest committed version. Fails loudly on a store with no
    * committed version (serving a torn or absent store silently is the
    * failure mode this layer removes).
    */
  def committed(s: SparkSession, path: String): Commit =
    latest(s, path).getOrElse(sys.error(
      s"IndexStore: no committed index version under $path " +
        "(either never saved, or every save crashed before commit)"))

  /** Directory of commit `c` — what a loader reads after resolving `c`
    * once. Resolving the store a second time could pair one version's
    * replay cursor or baseline with another version's tables.
    */
  def dirOf(path: String, c: Commit): String = versionDir(path, c.version)

  /** Directory of version `v` when `v` is committed (marker parses),
    * None otherwise — how [[graft.core.IndexFamily.maintain]] resolves
    * the staleness baseline a commit names.
    */
  def committedDirOf(s: SparkSession, path: String, v: Long): Option[String] =
    committedMeta(fsOf(s, path), path, v).map(c => versionDir(path, c.version))

  /** The one save sequence: claim a version ([[begin]]), stage the
    * tables under its directory (`write`), [[commit]] it, then
    * [[prune]] superseded versions keeping `retain` of them. Returns
    * the commit, so the caller can re-read exactly what it wrote.
    */
  def save(s: SparkSession, path: String, lastBatch: Long = -1L,
           baseVersion: Long = -1L, retain: Int = 1)
          (write: String => Unit): Commit = {
    val (dir, v) = begin(s, path)
    write(dir)
    commit(s, path, v, lastBatch, baseVersion)
    prune(s, path, v, retain)
    Commit(v, lastBatch, if (baseVersion < 0) v else baseVersion)
  }

  /** Start a save: claim the next free version directory (past every
    * existing one, committed or torn) by atomically creating its
    * `WRITER` lock file — create-if-absent, so two concurrent savers
    * can never stage into the same directory; the loser claims the
    * next number. Nothing is visible to loaders until [[commit]].
    */
  def begin(s: SparkSession, path: String): (String, Long) = {
    val fs = fsOf(s, path)
    var next = (versions(fs, path) :+ 0L).max + 1
    while (true) {
      val dir = new Path(versionDir(path, next))
      fs.mkdirs(dir)
      val lock = new Path(dir, "WRITER")
      val claimed =
        try { fs.create(lock, false).close(); true }
        catch {
          case e: java.io.IOException =>
            // a lost race leaves the winner's lock file behind; a create
            // that failed with NO lock present is a real IO error (ACL,
            // quota) — advancing would mkdirs v=N dirs forever (ADVICE r19)
            if (!fs.exists(lock)) throw e
            false
        }
      if (claimed) return (versionDir(path, next), next)
      next += 1
    }
    sys.error("unreachable") // the while(true) above only exits by return
  }

  /** Atomically commit version `v`: write the marker content to
    * `COMMIT.tmp`, then rename it to `COMMIT` — the flip that makes
    * the version visible. Rename targets a fresh path (any stale tmp
    * is deleted first), so the marker appears complete or not at all.
    * `baseVersion` records the staleness baseline (−1 ⇒ this version
    * IS a full build, its own baseline).
    */
  def commit(s: SparkSession, path: String, v: Long, lastBatch: Long,
             baseVersion: Long = -1L): Unit = {
    val fs = fsOf(s, path)
    val base = if (baseVersion < 0) v else baseVersion
    val tmp = new Path(versionDir(path, v), "COMMIT.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"$lastBatch\nbase=$base\n".getBytes("UTF-8"))
    finally out.close()
    val marker = commitMarker(path, v)
    if (fs.exists(marker)) fs.delete(marker, false)
    if (!fs.rename(tmp, marker))
      sys.error(s"IndexStore: commit rename failed for $marker")
  }

  /** Reclaim superseded versions after committing `keep`: among the
    * versions BELOW `keep`, retain the newest `retain` committed ones
    * (the concurrent-reader grace window — see the object doc) PLUS
    * `keep`'s own baseline version (the staleness probe's base
    * artifacts — reclaimed only once a rebuild resets the baseline to
    * itself), and delete the rest (older committed versions and every
    * torn save). Versions above `keep` are never touched — they are a
    * concurrent writer's in-flight staging. Safe to crash mid-prune:
    * loaders only ever resolve the highest committed version.
    */
  def prune(s: SparkSession, path: String, keep: Long,
            retain: Int = 1): Unit = {
    val fs = fsOf(s, path)
    val below = versions(fs, path).filter(_ < keep)
    val baseline = committedMeta(fs, path, keep).map(_.baseVersion)
      .filter(_ < keep)
    val retained = below
      .filter(committedMeta(fs, path, _).isDefined)
      .sorted(Ordering[Long].reverse).take(math.max(0, retain)).toSet ++
      baseline
    below.filterNot(retained)
      .foreach(v => fs.delete(new Path(versionDir(path, v)), true))
  }
}
