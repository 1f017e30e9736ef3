package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exact-tie tiebreaks of the vector-search surfaces — the rules the
  * DuckDB oracle replays, which the oracle compare only exercises when
  * its data happens to tie. The corpus holds a duplicated vector (ids 9
  * and 3, the larger one first) so cosines tie exactly, and a centroid
  * pair (cids 7 and 4, the larger one first) that is equidistant from
  * members 1 and 5. Every assertion goes through a public or
  * engine-internal entry point, never through the scoring helpers.
  */
class SimilarityTieSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val q = Array(1.0f, 0.5f, 0.0f, 0.0f)
  private val dup = Array(1.0f, 0.0f, 0.5f, 0.0f)
  private val one = Array(0.0f, 0.0f, 0.0f, 1.0f)

  // cos(q, dup) = 0.8 for both copies; every other member scores ≤ 0
  // against q, and member 6 is q itself
  private def corpus: DataFrame = Seq(
    (9L, dup), (6L, q), (3L, dup), (1L, one),
    (2L, Array(-1.0f, 0.0f, 0.0f, 0.5f)), (5L, Array(0.0f, -1.0f, 0.5f, 0.0f)))
    .toDF("xid", "xvec")

  // d²(1, c7) = d²(1, c4) = 0.25 and d²(5, c7) = d²(5, c4) = 2.5;
  // members 3, 6 and 9 sit in cell 7 at the same d² (1.5)
  private def centroids: DataFrame = Seq(
    (7L, Array(0.5f, 0.0f, 0.0f, 1.0f)), (4L, Array(-0.5f, 0.0f, 0.0f, 1.0f)))
    .toDF("cid", "cvec")

  private def queries: DataFrame = Seq((100L, q)).toDF("qid", "qvec")

  /** Query 100's ids in rank order. */
  private def ranked(top: DataFrame, id: String = "xid"): Seq[Long] =
    top.filter(col("qid") === 100L).orderBy(col("cos").desc, col(id))
      .select(col(id)).as[Long].collect().toSeq

  test("equal cosines rank the smaller id first on every top-k surface") {
    val k = 2 // self-match first, then the tie cut at k: 3 in, 9 out
    val signs = Similarity.srpSigns(4, 4)
    val surfaces = Seq(
      "bruteForceTopK" -> Similarity.bruteForceTopK(queries, corpus, k),
      "sq8TopK" -> Similarity.sq8TopK(queries, corpus, k),
      "lshTopK" -> Similarity.lshTopK(queries, corpus, signs, k, hammingProbe = 4),
      "ivfTopK" -> Similarity.ivfTopK(queries, corpus, centroids, 2, k),
      "ivfSq8TopK" -> Similarity.ivfSq8TopK(queries, corpus, centroids, 2, k),
      // codebook = the corpus itself: every slice reconstructs exactly
      "pqTopK" -> Similarity.pqTopK(queries, corpus,
        corpus.select(col("xid").as("cid"), col("xvec").as("cvec")), 2, k))
    surfaces.foreach { case (name, top) =>
      assert(ranked(top) == Seq(6L, 3L), s"$name kept the larger tied id")
      val ranks = top.filter(col("xid") === 3L).select(col("rank")).as[Long].collect()
      assert(ranks.toSeq == Seq(2L), s"$name: id 3 must hold rank 2")
    }
    // the graph's directed stage: query 6 excludes itself, so the tie
    // is its top-1
    val directed = Similarity.knnDirected(corpus, centroids, 2, 1)
      .filter(col("qid") === 6L).select(col("nid")).as[Long].collect()
    assert(directed.toSeq == Seq(3L))
  }

  test("equal d² picks the smaller cid for cell ranking, assignment and probes") {
    val rankedCells = Similarity.cellRanked(corpus, centroids, 2)
      .filter(col("xid").isin(1L, 5L))
      .select(col("xid"), col("rn"), col("cid")).as[(Long, Int, Long)]
      .collect().sorted.toSeq
    assert(rankedCells == Seq((1L, 1, 4L), (1L, 2, 7L), (5L, 1, 4L), (5L, 2, 7L)))
    val assigned = Similarity.cellAssign(corpus, centroids)
      .filter(col("xid").isin(1L, 5L)).select(col("cid")).as[Long].collect()
    assert(assigned.toSeq == Seq(4L, 4L))
    val probes = Similarity.cellProbes(Seq((200L, one)).toDF("qid", "qvec"), centroids, 1)
      .select(col("cid")).as[Long].collect()
    assert(probes.toSeq == Seq(4L))
    // k-means assigns through the same rank: the tied members 1 and 5
    // join member 2 in cell 4
    val members = Similarity.kmeansStep(corpus, centroids)
      .filter(col("dim") === 1L).select(col("cid"), col("n")).as[(Long, Long)]
      .collect().sorted.toSeq
    assert(members == Seq((4L, 3L), (7L, 3L)))
  }

  test("the per-cell cap keeps the smaller nid among equally central members") {
    val (_, assign) = Similarity.knnProbesAndAssign(corpus, centroids, 2, 1L)
    val serving = assign.select(col("cid"), col("nid")).as[(Long, Long)]
      .collect().sorted.toSeq
    // cell 4: member 1 is the most central; cell 7: 3, 6 and 9 tie
    assert(serving == Seq((4L, 1L), (7L, 3L)))
  }
}
