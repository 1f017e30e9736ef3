package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The q167d serve ≡ rebuild contract, asserted in-engine (the oracle hash
  * proves it against DuckDB; this spec proves it against the ENGINE's own
  * full rebuild under the frozen config, two-way, and pins the splice
  * property the serve's cost model depends on): a delta append served
  * against [[Similarity.knnGraphBuild]] artifacts must equal the graph a
  * wholesale rebuild under the identical frozen config (centroids,
  * quantizer, cap, probes) produces — and every UNAFFECTED query's
  * directed rows must come from the build artifact verbatim, because
  * that is what makes serve O(delta) instead of O(N).
  */
class KnnIncrementalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val K = 3

  /** The frozen-config full rebuild over an arbitrary member set,
    * assembled from the operator's own primitives — frozen quantizer
    * included (a plain knnGraphBuild would retrain the stats). The
    * oracle every incremental surface (append, retire, chains) must
    * reproduce bit-for-bit.
    */
  private def frozenRebuild(all: org.apache.spark.sql.DataFrame,
      idx: Similarity.KnnIndex): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = Similarity.cellRanked(all, idx.centroids, idx.nProbe)
    val servable = ranked.filter(col("rn") === 1)
      .select(col("xid").as("nid"), col("cid"), col("d2"))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("cid")).orderBy(col("d2"), col("nid"))))
      .filter(col("crn") <= idx.cap)
      .select(col("nid"), col("cid"))
    val probes = ranked.select(col("xid").as("qid"), col("cid"))
    val enc = Similarity.sq8EncodeFrozen(all, idx.stats)
    val xn = all.select(col("xid"), Similarity.scaled(col("xvec")).as("xs"))
      .withColumn("norm",
        sqrt(Similarity.dotScaled(col("xs"), col("xs")).cast("double")))
    val directed = Similarity.scoreDirected(probes, servable, enc, xn, idx.k)
      .localCheckpoint(true)
    Similarity.mutualize(directed).localCheckpoint(true)
  }

  test("serve over build artifacts equals the frozen-config full rebuild (two-way)") {
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 100 =!= 99)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val delta = emb.filter(col("vec_id") % 100 === 99)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val nb = base.count()
    val cells = Similarity.ivfCellsFor(nb)
    val nProbe = Similarity.ivfProbesFor(cells)
    val cap = Similarity.knnCellCapFor(nb, cells, K)
    val centroids = base.orderBy(col("xid")).limit(cells)
      .select(col("xid").as("cid"), col("xvec").as("cvec"))

    val idx = Similarity.knnGraphBuild(base, centroids, nProbe, K, cap)
    val served = Similarity.knnGraphServe(idx, delta).localCheckpoint(true)

    // the full rebuild under the SAME frozen config, assembled from the
    // same primitives the operator uses
    val all = base.unionByName(delta)
    val full = frozenRebuild(all, idx)

    assert(served.count() > 0, "fixture must produce a non-empty graph")
    assert(served.exceptAll(full).isEmpty, "serve rows missing from rebuild")
    assert(full.exceptAll(served).isEmpty, "rebuild rows missing from serve")

    // the fixture must actually exercise the incremental machinery:
    // some cell is touched, and some base query is NOT affected (else
    // the splice path — the whole point of serve — went untested)
    val dAssign = Similarity.cellRanked(delta, idx.centroids, 1)
      .filter(col("rn") === 1).select(col("cid")).distinct()
    val touched = dAssign.count()
    assert(touched > 0, "delta must land in at least one cell")
    val affectedQ = idx.probes.join(dAssign, "cid").select(col("qid")).distinct().count()
    assert(affectedQ < nb,
      s"every base query affected ($affectedQ of $nb) — splice path untested")
  }

  test("unaffected queries' directed rows splice in from the artifact verbatim") {
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 100 =!= 99)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val delta = emb.filter(col("vec_id") % 100 === 99)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val nb = base.count()
    val cells = Similarity.ivfCellsFor(nb)
    val nProbe = Similarity.ivfProbesFor(cells)
    val centroids = base.orderBy(col("xid")).limit(cells)
      .select(col("xid").as("cid"), col("xvec").as("cvec"))
    val idx = Similarity.knnGraphBuild(base, centroids, nProbe, K,
      Similarity.knnCellCapFor(nb, cells, K))

    // recompute the serve's own affected set, then check: for every
    // unaffected base query, the served graph's directed evidence (its
    // a<b mutual edges) is a subset of edges derivable from the ARTIFACT
    // directed list — i.e. serve never rescored it
    val touched = Similarity.cellRanked(delta, idx.centroids, 1)
      .filter(col("rn") === 1).select(col("cid")).distinct()
    val affected = idx.probes.join(touched, "cid").select(col("qid")).distinct()
    val served = Similarity.knnGraphServe(idx, delta)
    // edges between two unaffected endpoints must exist in the artifact's
    // mutual closure exactly
    val artMutual = idx.directed.alias("f")
      .join(idx.directed.alias("r"),
        col("f.qid") === col("r.nid") && col("f.nid") === col("r.qid"))
      .filter(col("f.qid") < col("f.nid"))
      .select(col("f.qid").as("a"), col("f.nid").as("b"), col("f.cos").as("cos"))
    val unafServed = served
      .join(affected.select(col("qid").as("a")), Seq("a"), "left_anti")
      .join(affected.select(col("qid").as("b")), Seq("b"), "left_anti")
      .select(col("a"), col("b"), col("cos"))
    val unafArt = artMutual
      .join(affected.select(col("qid").as("a")), Seq("a"), "left_anti")
      .join(affected.select(col("qid").as("b")), Seq("b"), "left_anti")
      .select(col("a"), col("b"), col("cos"))
    assert(unafServed.exceptAll(unafArt).isEmpty
      && unafArt.exceptAll(unafServed).isEmpty,
      "unaffected-pair edges must match the artifact's mutual closure")
  }

  test("retire equals the frozen-config rebuild minus the deleted ids (two-way)") {
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val all = emb.select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val n = all.count()
    val cells = Similarity.ivfCellsFor(n)
    // halve the cap (floor k+1) so lists bind and deletes force genuine
    // re-promotions — the exactness-critical path of the delete dual
    val cap = math.max(K + 1L, Similarity.knnCellCapFor(n, cells, K) / 2)
    val centroids = all.orderBy(col("xid")).limit(cells)
      .select(col("xid").as("cid"), col("xvec").as("cvec"))
    val idx = Similarity.knnGraphBuild(all, centroids,
      Similarity.ivfProbesFor(cells), K, cap)
    val del = all.filter(col("xid") % 50 === 3).select(col("xid"))
    val retired = Similarity.knnGraphRetire(idx, del)
    val got = Similarity.mutualize(retired.directed).localCheckpoint(true)
    val want = frozenRebuild(
      all.join(del, Seq("xid"), "left_anti"), idx)
    assert(got.count() > 0, "retired graph must stay non-empty")
    assert(got.exceptAll(want).isEmpty, "retire rows missing from rebuild")
    assert(want.exceptAll(got).isEmpty, "rebuild rows missing from retire")
    // fixture strength: the capped lists must actually re-promote an
    // ex-over-cap member somewhere, else the merge path went untested
    val promoted = retired.servable
      .join(idx.servable, Seq("nid", "cid"), "left_anti").count()
    assert(promoted > 0, "no promotion occurred — shrink the cap fixture")
    // and no deleted id may survive in any artifact
    assert(retired.servable.join(del.select(col("xid").as("nid")), "nid").isEmpty)
    assert(retired.directed.join(del.select(col("xid").as("nid")), "nid").isEmpty)
    assert(retired.probes.join(del.select(col("xid").as("qid")), "qid").isEmpty)
  }

  test("append/retire chain compounds to the frozen-config rebuild of the net set") {
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 10 =!= 9)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val d1 = emb.filter(col("vec_id") % 20 === 9)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val d2 = emb.filter(col("vec_id") % 20 === 19)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val nb = base.count()
    val cells = Similarity.ivfCellsFor(nb)
    val centroids = base.orderBy(col("xid")).limit(cells)
      .select(col("xid").as("cid"), col("xvec").as("cvec"))
    val idx0 = Similarity.knnGraphBuild(base, centroids,
      Similarity.ivfProbesFor(cells), K,
      Similarity.knnCellCapFor(nb, cells, K))
    val del = base.filter(col("xid") % 30 === 5).select(col("xid"))
    // append → retire → append: each step consumes the PREVIOUS step's
    // returned index — the serve-over-serve compounding contract
    val idx3 = Similarity.knnGraphAppend(
      Similarity.knnGraphRetire(Similarity.knnGraphAppend(idx0, d1), del), d2)
    val got = Similarity.mutualize(idx3.directed).localCheckpoint(true)
    val net = base.unionByName(d1).unionByName(d2)
      .join(del, Seq("xid"), "left_anti")
    val want = frozenRebuild(net, idx0)
    assert(got.count() > 0, "chained graph must stay non-empty")
    assert(got.exceptAll(want).isEmpty, "chain rows missing from rebuild")
    assert(want.exceptAll(got).isEmpty, "rebuild rows missing from chain")
  }

  test("knnIndexSave/Load round-trips every artifact and serves identically") {
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 100 =!= 99)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val delta = emb.filter(col("vec_id") % 100 === 99)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val nb = base.count()
    val cells = Similarity.ivfCellsFor(nb)
    val centroids = base.orderBy(col("xid")).limit(cells)
      .select(col("xid").as("cid"), col("xvec").as("cvec"))
    val idx = Similarity.knnGraphBuild(base, centroids,
      Similarity.ivfProbesFor(cells), K,
      Similarity.knnCellCapFor(nb, cells, K))
    val path = graft.core.Graft.scratch("spec_knn_index")
    Similarity.knnIndexSave(idx, path)
    val loaded = Similarity.knnIndexLoad(spark, path)
    assert(loaded.nProbe === idx.nProbe)
    assert(loaded.k === idx.k)
    assert(loaded.cap === idx.cap)
    assert(loaded.stats === idx.stats, "quantizer stats drifted on disk")
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$what drifted across the save/load hop")
    same(loaded.servable, idx.servable, "servable")
    same(loaded.assignD2, idx.assignD2, "assignD2")
    same(loaded.probes, idx.probes, "probes")
    same(loaded.directed, idx.directed, "directed")
    same(loaded.enc, idx.enc, "codes")
    same(loaded.xn, idx.xn, "vectors")
    same(loaded.centroids, idx.centroids, "centroids")
    val a = Similarity.knnGraphServe(idx, delta).localCheckpoint(true)
    val b = Similarity.knnGraphServe(loaded, delta).localCheckpoint(true)
    same(a, b, "served graph")
  }

  test("daily maintenance cycle: save → load → append → retire → save → load ≡ rebuild") {
    // the full ops loop a production deployment runs: every maintenance
    // step operates on a LOADED index, and the maintained index is
    // saved BACK and reloaded before the next day's delta — so this
    // pins that knnIndexSave round-trips the lazily-assembled frames
    // append/retire return (anti-joined unions, not build-shaped
    // checkpoints), not just a fresh build's
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 10 =!= 9)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val d1 = emb.filter(col("vec_id") % 20 === 9)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val d2 = emb.filter(col("vec_id") % 20 === 19)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val del = base.filter(col("xid") % 30 === 5).select(col("xid"))
    val nb = base.count()
    val cells = Similarity.ivfCellsFor(nb)
    val centroids = base.orderBy(col("xid")).limit(cells)
      .select(col("xid").as("cid"), col("xvec").as("cvec"))
    val idx0 = Similarity.knnGraphBuild(base, centroids,
      Similarity.ivfProbesFor(cells), K,
      Similarity.knnCellCapFor(nb, cells, K))
    val p1 = graft.core.Graft.scratch("spec_knn_cycle1")
    Similarity.knnIndexSave(idx0, p1)
    val day1 = Similarity.knnGraphRetire(
      Similarity.knnGraphAppend(Similarity.knnIndexLoad(spark, p1), d1), del)
    val p2 = graft.core.Graft.scratch("spec_knn_cycle2")
    Similarity.knnIndexSave(day1, p2)
    val day2 = Similarity.knnGraphAppend(Similarity.knnIndexLoad(spark, p2), d2)
    val got = Similarity.mutualize(day2.directed).localCheckpoint(true)
    val want = frozenRebuild(
      base.unionByName(d1).unionByName(d2).join(del, Seq("xid"), "left_anti"),
      idx0)
    assert(got.count() > 0, "cycled graph must stay non-empty")
    assert(got.exceptAll(want).isEmpty, "cycle rows missing from rebuild")
    assert(want.exceptAll(got).isEmpty, "rebuild rows missing from cycle")
  }

  test("the serve CLI reads a delta of its declared schema and fails loudly on another") {
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .filter(col("vec_id") < 20)
    val dir = TestSpark.tempDir("graft-knn-delta")
    def write(name: String, cols: org.apache.spark.sql.Column*): String = {
      val p = s"$dir/$name"
      emb.select(cols: _*).coalesce(1).write.parquet(p)
      p
    }
    val good = write("good", col("vec_id").as("xid"), col("embedding").as("xvec"))
    val got = KnnServeMain.readDelta(spark, good)
    assert(got.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("xid" -> "bigint", "xvec" -> "array<float>"))
    assert(got.count() == 20)
    val wide = write("double", col("vec_id").as("xid"),
      col("embedding").cast("array<double>").as("xvec"))
    val renamed = write("renamed", col("vec_id").as("xid"), col("embedding").as("vec"))
    for (bad <- Seq(wide, renamed))
      intercept[Exception](KnnServeMain.readDelta(spark, bad).collect())
  }
}
