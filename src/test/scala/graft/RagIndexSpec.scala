package graft

import graft.operators.{Retrieval, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The RAG index maintenance contract, asserted in-engine (q150e's oracle
  * proves append ≡ frozen-config rebuild against DuckDB; this spec proves
  * each ARTIFACT against the engine's own frozen-config assembly, adds
  * the retire path — which deliberately has no board query — and runs the
  * maintenance cycle through the disk hop). The invariants:
  *
  *  - the sparse half (postings, per-term df, totals) is EXACTLY
  *    incremental — counts are counts, no frozen-config caveat;
  *  - the dense half encodes deltas under the FROZEN build quantizer and
  *    centroids ([[Similarity.sq8EncodeFrozen]] clamp included);
  *  - retire is exact everywhere (all artifacts count-shaped);
  *  - save/load round-trips maintained indexes, not just fresh builds.
  */
class RagIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docsAll: DataFrame =
    spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")

  /** Frozen-config assembly over an arbitrary doc set — the operator's
    * own primitives, the oracle every maintained index must match.
    */
  private def assemble(docs: DataFrame, stats: Seq[(Long, Long)],
      centroids: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val ctoks = Retrieval.ragChunkToksOf(docs)
    val tf = ctoks.groupBy(col("xid"), col("term")).agg(count(lit(1)).as("tf"))
    val cl = ctoks.groupBy(col("xid")).agg(count(lit(1)).as("dl"))
    val postings = tf.join(cl, "xid").localCheckpoint(true)
    val termStats = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tot = postings.agg(
      count_distinct(col("xid")).as("nd"), sum(col("tf")).as("tt"))
    val corpus = Retrieval.ragChunkVectors(ctoks).localCheckpoint(true)
    val codes = Similarity.sq8EncodeFrozen(corpus, stats)
      .join(Similarity.cellAssign(corpus, centroids), "xid")
    (postings, termStats, tot, codes)
  }

  private def same(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$what diverged from the frozen-config assembly")

  private def checkAgainst(idx: Retrieval.RagIndex,
                           docs: DataFrame): Unit = {
    val (p, ts, tot, codes) = assemble(docs, idx.stats, idx.centroids)
    same(idx.postings.select(col("xid"), col("term"), col("tf"), col("dl")),
      p, "postings")
    same(idx.termStats.select(col("term"), col("df")), ts, "term stats")
    same(idx.tot.select(col("nd"), col("tt")), tot, "totals")
    same(idx.index.select(col("xid"), col("rx"), col("xnorm"),
      col("cid").cast("long").as("cid")), codes, "codes")
    assert(idx.corpusCount === codes.count(), "corpusCount drifted")
  }

  test("append merges the sparse half exactly and encodes the delta under the frozen config") {
    val base = docsAll.filter(col("doc_id") % 50 =!= 49)
    val delta = docsAll.filter(col("doc_id") % 50 === 49)
    val idx = Retrieval.ragIndexBuildOf(base)
    val app = Retrieval.ragIndexAppend(idx, delta)
    assert(app.cells === idx.cells && app.stats === idx.stats,
      "append must not re-derive the frozen config")
    checkAgainst(app, docsAll)
  }

  test("retire removes documents exactly from every artifact") {
    val idx = Retrieval.ragIndexBuildOf(docsAll)
    val del = docsAll.filter(col("doc_id") % 25 === 3).select(col("doc_id"))
    val ret = Retrieval.ragIndexRetire(idx, del)
    checkAgainst(ret, docsAll.join(del, Seq("doc_id"), "left_anti"))
    // no retired doc's chunks may survive anywhere
    val delC = del.select(col("doc_id").as("del_doc"))
    assert(ret.postings.join(broadcast(delC),
      Retrieval.docIdOf("xid") === col("del_doc")).isEmpty)
    assert(ret.index.join(broadcast(delC),
      Retrieval.docIdOf("xid") === col("del_doc")).isEmpty)
  }

  test("rag staleness probe: quiet on the daily append, fires on pathological growth") {
    // the retrieval family's half of the staleness dial (the knn half is
    // calibrated in RecallSpec): ragStaleness routes the RagIndex's dense
    // artifacts through the shared indexStaleness core. The load-bearing
    // dials here are GEOMETRY and OCCUPANCY — hashed-tf chunk vectors are
    // zero-inflated (most buckets of most chunks sit at the per-dim
    // minimum), so the boundary-rate calibration runs high on BOTH sides
    // of the clamp compare and the quantizer dial is intentionally hard
    // to trip for this family; corpus growth past the frozen √n cell
    // sizing is what actually degrades the probe-pruned serve.
    val daily = {
      val base = docsAll.filter(col("doc_id") % 50 =!= 49)
      val idx = Retrieval.ragIndexBuildOf(base)
      Retrieval.ragStaleness(idx,
        Retrieval.ragIndexAppend(idx, docsAll.filter(col("doc_id") % 50 === 49)))
        .first()
    }
    info(s"rag daily probe: $daily")
    assert(!daily.getAs[Boolean]("stale"),
      s"a same-distribution 2% doc append must not trigger a re-index: $daily")

    val grown = {
      val base = docsAll.filter(col("doc_id") % 3 =!= 0)
      val idx = Retrieval.ragIndexBuildOf(base)
      Retrieval.ragStaleness(idx,
        Retrieval.ragIndexAppend(idx, docsAll.filter(col("doc_id") % 3 === 0)))
        .first()
    }
    info(s"rag grown probe: $grown")
    assert(grown.getAs[Boolean]("stale_geometry") && grown.getAs[Boolean]("stale"),
      s"a 33% growth append must fire the geometry dial: $grown")
  }

  test("maintenance cycle: save → load → append → retire → save → load ≡ assembly of the net set") {
    val base = docsAll.filter(col("doc_id") % 50 =!= 49)
    val delta = docsAll.filter(col("doc_id") % 50 === 49)
    val del = base.filter(col("doc_id") % 25 === 3).select(col("doc_id"))
    val p1 = graft.core.Graft.scratch("spec_rag_cycle1")
    Retrieval.ragIndexSave(Retrieval.ragIndexBuildOf(base), p1)
    val day1 = Retrieval.ragIndexRetire(
      Retrieval.ragIndexAppend(Retrieval.ragIndexLoad(spark, p1), delta),
      del)
    val p2 = graft.core.Graft.scratch("spec_rag_cycle2")
    Retrieval.ragIndexSave(day1, p2)
    val reloaded = Retrieval.ragIndexLoad(spark, p2)
    checkAgainst(reloaded,
      docsAll.join(del, Seq("doc_id"), "left_anti"))
  }
}
