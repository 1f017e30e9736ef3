package graft

import graft.operators.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The graph core's round steps and round loop on a hand-built 5-node
  * graph: a 4-clique {1, 2, 3, 4} plus node 5 hanging off 4, with edge
  * weights 1 except 2–4 and 3–4 at 5. Every expected value below is
  * worked out by hand from that graph.
  */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val edges: DataFrame = {
    import spark.implicits._
    Graph.symmetric(Seq((1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 1L), (2L, 3L, 1L),
      (2L, 4L, 5L), (3L, 4L, 5L), (4L, 5L, 1L)).toDF("a", "b", "w"))
  }

  /** A `(node, <value>)` frame. */
  private def nodes(value: String, vals: (Long, Long)*): DataFrame = {
    import spark.implicits._
    vals.toDF("node", value)
  }

  private def asMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("symmetric lists every edge both ways with its weight") {
    assert(edges.count() == 14)
    assert(edges.filter(col("src") === 5L).collect().map(r => (r.getLong(1), r.getLong(2)))
      .toSeq == Seq((4L, 1L)))
  }

  test("pagerank step: (85 · Σ pr div deg) div 100 per destination") {
    val ranks = nodes("pr", (1 to 5).map(i => (i.toLong, 1000000L)): _*)
    // 1, 2, 3: 333333 + 333333 + 250000; 4: 3 · 333333 + 1000000; 5: 250000
    assert(asMap(Graph.pagerankContrib(edges, Graph.outDegree(edges))(ranks)) ==
      Map(1L -> 779166L, 2L -> 779166L, 3L -> 779166L, 4L -> 1699999L, 5L -> 212500L))
  }

  test("label step: most frequent neighbor label, ties to the lowest") {
    val labels = nodes("lbl", 1L -> 7L, 2L -> 7L, 3L -> 0L, 4L -> 5L, 5L -> 5L)
    // 3 and 4 see label 7 twice, which beats the lower 0 and 5 seen once
    assert(asMap(Graph.labelProp(edges)(labels)) ==
      Map(1L -> 0L, 2L -> 0L, 3L -> 7L, 4L -> 7L, 5L -> 5L))
  }

  test("k-core peel drops the degree-1 node and keeps the 4-clique") {
    val core = Graph.peel(edges)
    assert(asMap(Graph.outDegree(core)) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("three relaxation rounds from node 5, unit and weighted") {
    val src = nodes("dist", 5L -> 0L)
    assert(asMap(Graph.rounds(src)(Graph.relax(edges, lit(1L)))) ==
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
    // 2 and 3 are 6 away after round 2 (through 4), 3 after round 3 (through 1)
    assert(asMap(Graph.rounds(src)(Graph.relax(edges, col("w")))) ==
      Map(1L -> 2L, 2L -> 3L, 3L -> 3L, 4L -> 1L, 5L -> 0L))
  }

  test("the round loop checkpoints every round: each step reads, and the loop returns, a checkpoint scan") {
    val inputs = scala.collection.mutable.Buffer[DataFrame]()
    val out = Graph.rounds(nodes("dist", 5L -> 0L)) { d =>
      inputs += d
      Graph.relax(edges, lit(1L))(d)
    }
    assert(inputs.size == Graph.Rounds)
    for (d <- inputs.tail :+ out)
      assert(d.queryExecution.logical.isInstanceOf[LogicalRDD],
        "a round must plan against the previous round's checkpoint, not a join nest:\n" +
          d.queryExecution.logical)
  }
}
