package graft

import graft.operators.{Dedup, Retrieval, Similarity}
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Crash-atomicity of the persisted index stores
  * ([[graft.core.IndexStore]]): a save that dies between table writes
  * must be INVISIBLE — the loader keeps serving the previous committed
  * version bit-exactly — and a subsequent successful save must supersede
  * both. This is the failure the versioned layout exists for: the old
  * flat layout's `mode("overwrite")` sequence could leave new centroids
  * beside old codes with nothing to detect the skew.
  */
class IndexStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sameFrame(a: org.apache.spark.sql.DataFrame,
                        b: org.apache.spark.sql.DataFrame,
                        what: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$what diverged from the committed version")

  /** A column that throws on evaluation — simulates the executor dying
    * mid-save, AFTER some tables of the new version are already on disk.
    */
  private def poisoned(c: String) =
    expr(s"if($c is not null, cast(raise_error('torn save') as long), $c)")

  private def knnIndexOf(base: DataFrame): Similarity.KnnIndex = {
    val nb = base.count()
    val cells = Similarity.ivfCellsFor(nb)
    val cents = base.orderBy(col("xid")).limit(cells)
      .select(col("xid").as("cid"), col("xvec").as("cvec"))
    Similarity.knnGraphBuild(base, cents, Similarity.ivfProbesFor(cells), 3,
      Similarity.knnCellCapFor(nb, cells, 3))
  }

  private def ccIndexOf(docs: DataFrame): Dedup.CcIndex = {
    val n = docs.count()
    val (bnd, rpb) = Dedup.lshGeometry(n)
    val bands = Dedup.textBands(docs, bnd, rpb).localCheckpoint(true)
    Dedup.CcIndex(bands,
      Dedup.connectedComponents(Dedup.bucketStarEdges(bands))
        .localCheckpoint(true), bnd, rpb, n)
  }

  test("knn store: a save crashing between tables keeps serving the prior version") {
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 10 =!= 9)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val nb = base.count()
    val cells = Similarity.ivfCellsFor(nb)
    val cents = base.orderBy(col("xid")).limit(cells)
      .select(col("xid").as("cid"), col("xvec").as("cvec"))
    val idx = Similarity.knnGraphBuild(base, cents,
      Similarity.ivfProbesFor(cells), 3,
      Similarity.knnCellCapFor(nb, cells, 3))
    val path = graft.core.Graft.scratch("spec_store_knn")

    Similarity.knnIndexSave(idx, path) // v1, committed
    val v1 = Similarity.knnIndexLoad(spark, path).directed.localCheckpoint(true)

    // a second save whose PROBES table (5th of 6) throws mid-write: the
    // earlier tables of the new version are already on disk when it dies
    val poisonedIdx = idx.copy(
      probes = idx.probes.withColumn("cid", poisoned("cid")),
      directed = idx.directed.limit(0)) // would also corrupt, if reached
    intercept[Exception] { Similarity.knnIndexSave(poisonedIdx, path) }

    // the torn version is invisible: load resolves v1 and serves it bit-exact
    val after = Similarity.knnIndexLoad(spark, path)
    sameFrame(after.directed, v1, "directed top-k after torn save")
    assert(graft.core.IndexStore.latest(spark, path).get.version === 1L)

    // a subsequent successful save supersedes v1 (and the torn dir)
    Similarity.knnIndexSave(idx, path, lastBatch = 7L)
    val c = graft.core.IndexStore.latest(spark, path).get
    assert(c.version > 1L, "recovered save must commit a fresh version")
    assert(c.lastBatch === 7L, "replay cursor must survive the commit")
    sameFrame(Similarity.knnIndexLoad(spark, path).directed, v1,
      "directed top-k after recovered save")
  }

  test("rag store: a save crashing between tables keeps serving the prior version") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val idx = Retrieval.ragIndexBuildOf(docs)
    val path = graft.core.Graft.scratch("spec_store_rag")

    Retrieval.ragIndexSave(idx, path) // v1, committed
    val v1 = Retrieval.ragIndexLoad(spark, path)
    val v1Postings = v1.postings.drop("tb").localCheckpoint(true)

    // poison the CODES table (written last): every sparse table of the
    // torn version is fully on disk when the save dies
    val poisonedIdx = idx.copy(
      index = idx.index.withColumn("cid", poisoned("cid")))
    intercept[Exception] { Retrieval.ragIndexSave(poisonedIdx, path) }

    val after = Retrieval.ragIndexLoad(spark, path)
    sameFrame(after.postings.drop("tb"), v1Postings,
      "postings after torn save")
    assert(after.corpusCount === v1.corpusCount)
    assert(graft.core.IndexStore.latest(spark, path).get.version === 1L)

    Retrieval.ragIndexSave(idx, path, lastBatch = 3L)
    val c = graft.core.IndexStore.latest(spark, path).get
    assert(c.version > 1L && c.lastBatch === 3L)
    sameFrame(Retrieval.ragIndexLoad(spark, path).postings.drop("tb"),
      v1Postings, "postings after recovered save")
  }

  test("cc store: a save crashing between tables keeps serving the prior version") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val idx = ccIndexOf(docs)
    val path = graft.core.Graft.scratch("spec_store_cc")

    Dedup.ccIndexSave(idx, path) // v1, committed
    val v1 = Dedup.ccIndexLoad(spark, path).labels.localCheckpoint(true)

    // poison the LABELS table (2nd of 3): the band table of the torn
    // version is fully on disk when the save dies
    val poisonedIdx = idx.copy(labels = idx.labels.withColumn("lbl", poisoned("lbl")))
    intercept[Exception] { Dedup.ccIndexSave(poisonedIdx, path) }

    val after = Dedup.ccIndexLoad(spark, path)
    sameFrame(after.labels, v1, "labels after torn save")
    assert(after.docCount === idx.docCount)
    assert(graft.core.IndexStore.latest(spark, path).get.version === 1L)

    Dedup.ccIndexSave(idx, path, lastBatch = 4L)
    val c = graft.core.IndexStore.latest(spark, path).get
    assert(c.version > 1L && c.lastBatch === 4L)
    sameFrame(Dedup.ccIndexLoad(spark, path).labels, v1,
      "labels after recovered save")
  }

  test("store with no committed version refuses to load") {
    val path = graft.core.Graft.scratch("spec_store_empty")
    val e = intercept[RuntimeException] {
      graft.core.IndexStore.committed(spark, path)
    }
    assert(e.getMessage.contains("no committed index version"))
  }

  test("retention: frames loaded from v1 survive a v2 commit + prune") {
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 10 =!= 9)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val nb = base.count()
    val cells = Similarity.ivfCellsFor(nb)
    val cents = base.orderBy(col("xid")).limit(cells)
      .select(col("xid").as("cid"), col("xvec").as("cvec"))
    val idx = Similarity.knnGraphBuild(base, cents,
      Similarity.ivfProbesFor(cells), 3,
      Similarity.knnCellCapFor(nb, cells, 3))
    val path = graft.core.Graft.scratch("spec_store_retain")

    Similarity.knnIndexSave(idx, path) // v1, committed
    // a long-lived serving JVM: its frames are FileScans over v1 files
    // (NOT checkpointed — the point is that they keep READING v1's
    // parquet after the writer moves on)
    val reader = Similarity.knnIndexLoad(spark, path)
    val expect = reader.directed.localCheckpoint(true)

    // the writer re-indexes: v2 commits AND prunes (retain=1 keeps v1)
    Similarity.knnIndexSave(idx, path, lastBatch = 11L)
    assert(graft.core.IndexStore.latest(spark, path).get.version === 2L)

    // the v1 reader still serves bit-exact from the retained files —
    // the ADVICE r18 failure was FileNotFoundException right here
    sameFrame(reader.directed, expect, "v1-loaded directed after v2 prune")
    // and a serve over the stale index still runs end-to-end
    val delta = emb.filter(col("vec_id") % 10 === 9)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    assert(Similarity.knnGraphServe(reader, delta).count() > 0,
      "serve over the retained version must still run")

    // one MORE re-index reclaims v1 (one retained version = one full
    // re-index cycle of grace): only v2 and v3 remain on disk
    Similarity.knnIndexSave(idx, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(left === Set("v=2", "v=3"),
      s"retain=1 must keep exactly the newest superseded version: $left")
  }

  test("fail-soft markers: empty or garbled COMMIT resolves to the prior version") {
    val store = graft.core.IndexStore
    val path = graft.core.Graft.scratch("spec_store_garbled")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._

    val (d1, v1) = store.begin(spark, path)
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$d1/t")
    store.commit(spark, path, v1, lastBatch = 5L)

    // a zero-byte marker (a filesystem that lied about rename atomicity):
    // the version must read as uncommitted, not crash the loader
    val (d2, v2) = store.begin(spark, path)
    Seq((2L, "b")).toDF("id", "s").write.parquet(s"$d2/t")
    fs.create(new org.apache.hadoop.fs.Path(d2, "COMMIT"), true).close()
    val afterEmpty = store.latest(spark, path).get
    assert(afterEmpty.version === v1 && afterEmpty.lastBatch === 5L,
      s"empty marker must fall through to v=$v1: $afterEmpty")
    assert(store.dirOf(path, store.committed(spark, path)) === d1)

    // a garbled marker behaves the same
    val out = fs.create(new org.apache.hadoop.fs.Path(d2, "COMMIT"), true)
    out.write("not-a-batch-id\n".getBytes("UTF-8")); out.close()
    assert(store.latest(spark, path).get.version === v1,
      "garbled marker must fall through to the prior version")

    // and a later HEALTHY commit supersedes both
    val (d3, v3) = store.begin(spark, path)
    Seq((3L, "c")).toDF("id", "s").write.parquet(s"$d3/t")
    store.commit(spark, path, v3, lastBatch = 9L)
    assert(store.latest(spark, path).get === store.Commit(v3, 9L, v3))
  }

  private def dirsUnder(path: String): Set[String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
  }

  test("baseline retention: append-saves never reclaim the build; a rebuild does") {
    val store = graft.core.IndexStore
    val path = graft.core.Graft.scratch("spec_store_baseline")
    import spark.implicits._
    def save(batch: Long, base: Long = -1L): Long = {
      val (d, v) = store.begin(spark, path)
      Seq(v).toDF("v").write.parquet(s"$d/t")
      store.commit(spark, path, v, batch, base)
      store.prune(spark, path, v)
      v
    }
    val v1 = save(0L) // the build — its own baseline
    assert(store.latest(spark, path).get.baseVersion === v1,
      "a build commit must be its own baseline")
    save(1L, v1)      // append-save day 1 (the ingest cadence)
    val v3 = save(2L, v1) // append-save day 2
    // retain=1 alone would reclaim v1 after the THIRD commit; the
    // baseline rule keeps it loadable for the staleness probe
    assert(dirsUnder(path) === Set("v=1", "v=2", "v=3"),
      s"the baseline (v=1) and the grace version (v=2) must both survive")
    assert(store.latest(spark, path).get === store.Commit(v3, 2L, v1))
    assert(store.committedDirOf(spark, path, v1).isDefined,
      "the baseline must stay resolvable for maintain's probe")
    save(3L) // the REBUILD — baseline resets to itself, old history frees
    assert(dirsUnder(path) === Set("v=3", "v=4"),
      s"a rebuild commit must release the old baseline: ${dirsUnder(path)}")
  }

  test("retain=2 widens the reader grace window through the save paths") {
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 10 =!= 9)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val nb = base.count()
    val cells = Similarity.ivfCellsFor(nb)
    val cents = base.orderBy(col("xid")).limit(cells)
      .select(col("xid").as("cid"), col("xvec").as("cvec"))
    val idx = Similarity.knnGraphBuild(base, cents,
      Similarity.ivfProbesFor(cells), 3,
      Similarity.knnCellCapFor(nb, cells, 3))
    val path = graft.core.Graft.scratch("spec_store_retain2")
    (1 to 4).foreach(i =>
      graft.core.IndexStore.save(spark, path, lastBatch = i, retain = 2)(
        Similarity.KnnFamily.write(idx, _)))
    // two superseded committed versions retained (v2, v3) + the live v4:
    // a reader may lag TWO full re-index cycles before re-resolving
    assert(dirsUnder(path) === Set("v=2", "v=3", "v=4"),
      s"retain=2 must keep the two newest superseded versions: ${dirsUnder(path)}")
    assert(Similarity.knnIndexLoad(spark, path).directed.count() ===
      idx.directed.count())
  }

  test("pre-baseline markers read as their own baseline") {
    val store = graft.core.IndexStore
    val path = graft.core.Graft.scratch("spec_store_oldmarker")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    val (d1, v1) = store.begin(spark, path)
    Seq(1L).toDF("v").write.parquet(s"$d1/t")
    // a round-19 marker: one line, no base= — written before baseline
    // tracking existed; it must parse with baseVersion = the version
    val out = fs.create(new org.apache.hadoop.fs.Path(d1, "COMMIT"), true)
    out.write("7\n".getBytes("UTF-8")); out.close()
    assert(store.latest(spark, path).get === store.Commit(v1, 7L, v1),
      "a marker without base= must read as its own baseline")
  }

  test("single-writer: concurrent begins claim distinct version directories") {
    val store = graft.core.IndexStore
    val path = graft.core.Graft.scratch("spec_store_writers")
    // two savers race begin() with NO intervening commit: the WRITER
    // lock (atomic create-if-absent) must hand them different dirs —
    // the ADVICE r18 torn-store scenario was both staging into one
    val (d1, v1) = store.begin(spark, path)
    val (d2, v2) = store.begin(spark, path)
    assert(d1 != d2 && v1 != v2,
      s"concurrent begins must never share a staging dir: $d1 vs $d2")
    // each commits its own version; the highest wins, both are intact
    import spark.implicits._
    Seq(1L).toDF("id").write.parquet(s"$d1/t")
    Seq(2L).toDF("id").write.parquet(s"$d2/t")
    store.commit(spark, path, v1, -1L)
    store.commit(spark, path, v2, -1L)
    assert(store.latest(spark, path).get.version === math.max(v1, v2))
  }

  /** Saves v1 (replay cursor 5), arms [[RacingLocalFs]] to commit v2
    * (cursor 9) right after the first listing of the store root, then
    * resumes an ingest through the racing scheme: its cursor and every
    * file its index reads must come from ONE version — resolving the
    * store twice pairs v1's cursor with v2's tables.
    */
  private def resumesOneVersion(name: String)(save: (String, Long) => Unit)(
      resume: String => (Long, Seq[DataFrame])): Unit = {
    val path = graft.core.Graft.scratch(s"spec_store_race_$name")
    save(path, 5L)
    RacingLocalFs.arm(path)(save(path, 9L))
    val (lastBatch, frames) = resume(s"${RacingLocalFs.Scheme}://$path")
    assert(!RacingLocalFs.armed, "the racing commit never ran")
    assert(graft.core.IndexStore.latest(spark, path).get.lastBatch === 9L)
    val v = if (lastBatch == 5L) 1 else 2
    val files = frames.flatMap(_.inputFiles)
    assert(files.nonEmpty, "the resumed index reads no files")
    val foreign = files.filterNot(_.contains(s"/v=$v/"))
    assert(foreign.isEmpty, s"cursor $lastBatch is v=$v's, but the index " +
      s"read ${foreign.length} files of another version: ${foreign.take(1)}")
  }

  test("knn resume reads the one version it resolved") {
    RacingLocalFs.register(spark)
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val idx = knnIndexOf(emb.select(col("vec_id").as("xid"), col("embedding").as("xvec")))
    resumesOneVersion("knn")((p, b) => Similarity.knnIndexSave(idx, p, lastBatch = b)) { p =>
      val in = graft.streaming.KnnIngest.resume(spark, p)
      val i = in.index
      (in.lastBatch, Seq(i.centroids, i.xn, i.enc, i.assignD2, i.servable,
        i.probes, i.directed))
    }
  }

  test("rag resume reads the one version it resolved") {
    RacingLocalFs.register(spark)
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val idx = Retrieval.ragIndexBuildOf(docs)
    resumesOneVersion("rag")((p, b) => Retrieval.ragIndexSave(idx, p, lastBatch = b)) { p =>
      val in = graft.streaming.RagIngest.resume(spark, p)
      val i = in.index
      (in.lastBatch, Seq(i.postings, i.termStats, i.tot, i.centroids, i.index))
    }
  }

  test("cc resume reads the one version it resolved") {
    RacingLocalFs.register(spark)
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val idx = ccIndexOf(docs)
    resumesOneVersion("cc")((p, b) => Dedup.ccIndexSave(idx, p, lastBatch = b)) { p =>
      val in = graft.streaming.CcIngest.resume(spark, p)
      (in.lastBatch, Seq(in.index.bands, in.index.labels))
    }
  }
}

/** The local filesystem under a scratch scheme, with one hook: a store
  * root armed by [[RacingLocalFs.arm]] gets a concurrent writer's
  * commit right after its first listing — the window between a reader
  * resolving the latest version and reading its tables.
  */
class RacingLocalFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${RacingLocalFs.Scheme}:///")

  override def listStatus(p: Path): Array[FileStatus] = {
    val listed = super.listStatus(p)
    RacingLocalFs.afterListing(p.toUri.getPath)
    listed
  }
}

object RacingLocalFs {
  val Scheme = "racefs"
  @volatile private var hook: Option[(String, () => Unit)] = None

  def register(s: org.apache.spark.sql.SparkSession): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    conf.set(s"fs.$Scheme.impl", classOf[RacingLocalFs].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
  }

  /** Run `commit` once, right after the next listing of `root`. */
  def arm(root: String)(commit: => Unit): Unit = hook = Some((root, () => commit))

  def armed: Boolean = hook.isDefined

  private def afterListing(path: String): Unit = synchronized {
    hook match {
      case Some((root, commit)) if path.stripSuffix("/") == root.stripSuffix("/") =>
        hook = None
        commit()
      case _ =>
    }
  }
}
