package graft

import graft.operators.Retrieval
import graft.queries.TextQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exact-tie tiebreaks of the lexical retrieval surfaces — the rules the
  * DuckDB oracle replays, which the oracle compare only exercises when
  * its data happens to tie. The `documents` table holds the query doc 42
  * and docs 9 and 3 with identical token bags (the larger id inserted
  * first), so their BM25 scores tie exactly; every doc is shorter than
  * one chunk window, so chunk xids tie the same way. Every assertion
  * goes through a query or an engine entry point, never through the
  * scoring helpers.
  */
class RetrievalTieSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // df: a* = 5 (ranks 1–5), k* = 3 (ranks 6–10: q186's query terms),
  // x/y = 2, the rest 1. Docs 42, 9 and 3 hold every k* term.
  private lazy val dir: String = {
    val d = TestSpark.tempDir("graft-retrieval-ties").toString
    Seq(
      (42L, "a1 a2 a3 a4 a5 k1 k2 k3 k4 k5 z"),
      (9L, "a1 a2 a3 a4 a5 k1 k2 k3 k4 k5 x y"),
      (3L, "y x k5 k4 k3 k2 k1 a5 a4 a3 a2 a1"),
      (20L, "a1 a2 a3 a4 a5 w1 w2"),
      (21L, "a1 a2 a3 a4 a5 w3"))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$d/documents.parquet")
    d
  }

  private def docs: DataFrame = graft.core.Graft.table(spark, dir, "documents")

  /** (id, score) in rank order. */
  private def ranked(top: DataFrame, id: String): Seq[(Long, Long)] =
    top.orderBy(col("rank")).select(col(id), col("score")).as[(Long, Long)]
      .collect().toSeq

  test("equal BM25 scores rank the smaller doc id first (q129, q186)") {
    Seq(TextQueries.q129Bm25, TextQueries.q186BooleanBm25).foreach { q =>
      val top = ranked(q.run(spark, dir), "doc_id")
      val tied = top.filter { case (id, _) => id == 3L || id == 9L }
      assert(tied.map(_._1) == Seq(3L, 9L), s"${q.name} kept the larger tied id first")
      assert(tied.map(_._2).distinct.size == 1, s"${q.name}: docs 3 and 9 must tie")
    }
  }

  test("equal BM25 scores rank the smaller chunk id first (ragBm25Top, ragBm25Serve)") {
    val k = 2 // doc 42's chunk first, then the tie cut at k: 3 in, 9 out
    val idx = Retrieval.ragIndexBuildOf(docs)
    val surfaces = Seq(
      "ragBm25Top" -> Retrieval.ragBm25Top(spark, dir, Retrieval.ragChunkToks(spark, dir), k),
      "ragBm25Serve" -> Retrieval.ragBm25Serve(idx, Retrieval.ragQueryTermsOf(docs, 42L), k))
    surfaces.foreach { case (name, top) =>
      val xids = top.orderBy(col("bm25_rank")).select(col("xid")).as[Long].collect().toSeq
      assert(xids == Seq(42L, 3L).map(_ * Retrieval.ChunkIdBase),
        s"$name kept the larger tied chunk")
    }
  }

  test("equal RRF sums rank the smaller xid first (ragFuse)") {
    // 24 chunks (doc d, chunk d % 3), each ranked 1 by one list alone —
    // all at rrf = 10⁶ div 61 — the larger ids first in each list: the cut
    // at 10 keeps docs 0–9 in id order. Each list arrives hash-partitioned
    // on xid over 3 partitions, so the fusion join runs on 3 partitions
    // and its output is xid-sorted only within each one.
    def chunks(docs: Range) = docs.map(d => d * Retrieval.ChunkIdBase + d % 3)
    val bm = chunks(23 to 12 by -1).map((_, 1)).toDF("xid", "bm25_rank")
      .repartition(3, col("xid"))
    val dense = chunks(11 to 0 by -1).map((_, 1L)).toDF("xid", "cos_rank")
      .repartition(3, col("xid"))
    val fused = Retrieval.ragFuse(bm, dense).orderBy(col("rank"))
      .select(col("doc_id"), col("chunk_id"), col("rrf")).as[(Long, Long, Long)]
      .collect().toSeq
    assert(fused == (0L until 10L).map(d => (d, d % 3, 16393L)))
  }
}
