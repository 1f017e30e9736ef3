package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The dedup index's maintenance contract (the CC family's twin of
  * KnnIncrementalSpec/RagIndexSpec): retire ≡ rebuild-minus-deleted —
  * including HUB deletions, which can split a component and are exactly
  * why delete has no contraction shortcut — retire chains with the
  * streaming append, and the staleness dial fires on geometry-moving
  * growth only.
  */
class CcIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs: DataFrame =
    spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select(col("doc_id"), col("text"))

  private def same(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$what diverged from the rebuild")

  test("ccRetire equals a full rebuild over the surviving band table — hub deletions included") {
    val (bnd, rpb) = Dedup.lshGeometry(docs.count())
    val bands = Dedup.textBands(docs, bnd, rpb).localCheckpoint(true)
    val labels = Dedup.connectedComponents(Dedup.bucketStarEdges(bands))
      .localCheckpoint(true)
    // tombstone the HUBS: component minima are the bucket stars' centers,
    // so deleting them forces re-pointing and potential splits — the
    // hardest delete shape; plus a residue class for ordinary members
    val hubs = labels.filter(col("id") === col("lbl"))
      .select(col("id")).limit(5)
    val dels = labels.filter(col("id") % 17 === 3).select(col("id"))
      .unionByName(hubs).distinct().localCheckpoint(true)
    assert(dels.count() > 0, "fixture must delete something")
    val (bands2, labels2) = Dedup.ccRetire(bands, labels, dels)

    val rebuilt = Dedup.connectedComponents(Dedup.bucketStarEdges(
      bands.join(dels.withColumnRenamed("id", "d"),
        col("id") === col("d"), "left_anti").select("id", "band", "key")))
    same(labels2, rebuilt, "retired labels")
    assert(bands2.join(dels, Seq("id")).isEmpty,
      "deleted docs' band rows must leave the store")
  }

  test("retire chains with the streaming append to the rebuild of the net set") {
    import graft.streaming.CcIngest
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val delta = docs.filter(col("doc_id") % 10 === 0)
    val (bnd, rpb) = Dedup.lshGeometry(base.count())
    val baseBands = Dedup.textBands(base, bnd, rpb).localCheckpoint(true)
    val baseLabels = Dedup.connectedComponents(
      Dedup.bucketStarEdges(baseBands)).localCheckpoint(true)
    // retire some base hubs, then stream the delta in — the daily mixed
    // maintenance a pipeline actually runs
    val dels = baseLabels.filter(col("id") === col("lbl"))
      .select(col("id")).limit(3).localCheckpoint(true)
    val (bands2, labels2) = Dedup.ccRetire(baseBands, baseLabels, dels)
    val ingest = new CcIngest(Dedup.CcIndex(bands2, labels2, bnd, rpb,
      base.count() - dels.count()))
    ingest.foldBatch(delta, 0L)

    val net = Dedup.textBands(base, bnd, rpb)
      .join(dels.withColumnRenamed("id", "d"), col("id") === col("d"), "left_anti")
      .select("id", "band", "key")
      .unionByName(Dedup.textBands(delta, bnd, rpb))
    val rebuilt = Dedup.connectedComponents(Dedup.bucketStarEdges(net))
    same(ingest.index.labels, rebuilt, "retire→append chain")
  }

  test("maintenance cycle through the store: save → load → append → retire → save → load ≡ rebuild") {
    // the full ops loop over the VERSIONED store — the symmetry case
    // KnnIncrementalSpec and RagIndexSpec already pin for their
    // families: every maintenance step operates on a LOADED index, the
    // retired index round-trips the store, and the reloaded labels
    // equal the frozen-geometry rebuild of the net corpus. This is
    // also the tombstone-bytes-leave-disk check (the GDPR story): the
    // latest committed band store must hold NO deleted id.
    import graft.streaming.CcIngest
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val delta = docs.filter(col("doc_id") % 10 === 0).localCheckpoint(true)
    val (bnd, rpb) = Dedup.lshGeometry(base.count())
    val baseBands = Dedup.textBands(base, bnd, rpb).localCheckpoint(true)
    val baseLabels = Dedup.connectedComponents(Dedup.bucketStarEdges(baseBands))
    val p = graft.core.Graft.scratch("spec_cc_cycle")
    Dedup.ccIndexSave(
      Dedup.CcIndex(baseBands, baseLabels, bnd, rpb, base.count()), p)
    // day 1: resume from disk, stream the delta in
    val ingest = CcIngest.resume(spark, p)
    ingest.foldBatch(delta, 0L)
    // retire hubs + a residue slice from the APPENDED state (the
    // hardest delete shape: splits possible)
    val appended = ingest.index.labels.localCheckpoint(true)
    val dels = appended.filter(col("id") === col("lbl")).select(col("id"))
      .limit(4)
      .unionByName(appended.filter(col("id") % 13 === 2).select(col("id")))
      .distinct().localCheckpoint(true)
    assert(dels.count() > 0, "fixture must delete something")
    val (bands2, labels2) = Dedup.ccRetire(ingest.index.bands, appended, dels)
    Dedup.ccIndexSave(Dedup.CcIndex(bands2, labels2, bnd, rpb,
      ingest.index.docCount - dels.count()), p)
    val Dedup.CcIndex(bandsL, labelsL, bndL, rpbL, cntL) = Dedup.ccIndexLoad(spark, p)
    assert((bndL, rpbL) === ((bnd, rpb)), "frozen geometry must round-trip")
    assert(cntL === ingest.index.docCount - dels.count(),
      "the corpus-count definition must round-trip")
    val net = Dedup.textBands(base, bnd, rpb).unionByName(Dedup.textBands(delta, bnd, rpb))
      .join(dels.withColumnRenamed("id", "d"), col("id") === col("d"),
        "left_anti")
      .select("id", "band", "key")
    same(labelsL, Dedup.connectedComponents(Dedup.bucketStarEdges(net)),
      "store-cycled labels")
    assert(bandsL.join(dels, Seq("id")).isEmpty,
      "deleted ids' band rows must leave the persisted store")
  }

  test("cc staleness dial: quiet under frozen-geometry growth, fires when geometry moves") {
    // lshGeometry is a step function of corpus size: constant across the
    // fixture's 10% delta (quiet), moved at a 100x hypothetical (fires)
    val (bnd, rpb) = Dedup.lshGeometry(docs.count() * 9 / 10)
    val quiet = Dedup.ccStaleness(docs.count(), bnd, rpb).first()
    info(s"cc staleness at 10% growth: $quiet")
    assert(!quiet.getAs[Boolean]("stale"),
      s"growth inside the geometry step must stay quiet: $quiet")
    // a frozen geometry from across the step (the ≥65k-corpus sizing,
    // lshGeometry's first r-step) against this corpus must fire — the
    // shape of an index whose corpus shrank or grew across a step
    val (oldB, oldR) = Dedup.lshGeometry(100000L)
    assert((oldB, oldR) != (bnd, rpb), "fixture must straddle a geometry step")
    val fired = Dedup.ccStaleness(docs.count(), oldB, oldR).first()
    info(s"cc staleness vs cross-step geometry: $fired")
    assert(fired.getAs[Boolean]("stale"),
      s"geometry-moving growth must fire: $fired")
  }
}
