package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The synchronous graph family: PageRank (q127), personalized PageRank
  * (q196), label propagation (q142), unit and weighted shortest
  * distances (q160, q188) and the k-core peel (q168). Each is a fixed
  * number of synchronous rounds over an `(src, dst)` edge list, and
  * each round is equi joins against the edges plus map-side-combined
  * aggregates per node — never a per-node window, never a nested loop.
  *
  * The reference runs such an algorithm as a chain of dependent jobs,
  * one per round, each round's output materialized before the next
  * reads it. Here that materialization is [[rounds]]' one eager
  * localCheckpoint per round, which also keeps the plan from nesting
  * one join level deeper per round.
  */
object Graph {

  /** The rounds every graph query runs: its oracle unrolls exactly three
    * rounds as three CTEs.
    */
  val Rounds = 3

  /** The node id of an event type (`t:<type>`); user nodes are `u:<id>`. */
  def typeNode(eventType: Column): Column = concat(lit("t:"), eventType)

  /** Both orientations `(src, dst, rest…)` of an `(a, b, rest…)` edge
    * list: one row each way per input row, the other columns riding
    * along.
    */
  def symmetric(pairs: DataFrame): DataFrame = {
    val rest = pairs.columns.filterNot(Set("a", "b")).map(col).toSeq
    pairs.select(col("a").as("src") +: col("b").as("dst") +: rest: _*)
      .unionByName(pairs.select(col("b").as("src") +: col("a").as("dst") +: rest: _*))
  }

  /** The bipartite user ↔ event-type graph over `(user_id, event_type)`
    * rows: an edge each way per row, `carry` columns (q188's weight) on
    * both. Symmetric by construction, so no node dangles. Checkpointed:
    * every round reads it.
    */
  def userTypeEdges(pairs: DataFrame, carry: Column*): DataFrame =
    symmetric(pairs.select(concat(lit("u:"), col("user_id")).as("a") +:
        typeNode(col("event_type")).as("b") +: carry: _*))
      .localCheckpoint(true)

  /** Out-degree `(src, d)` of an edge list. */
  def outDegree(edges: DataFrame): DataFrame =
    edges.groupBy(col("src")).agg(count(lit(1)).as("d"))

  /** [[Rounds]] synchronous rounds of `step` from `init`. Each round's
    * output is eagerly checkpointed once, so the next round plans
    * against a scan of it.
    */
  def rounds(init: DataFrame)(step: DataFrame => DataFrame): DataFrame =
    (1 to Rounds).foldLeft(init)((cur, _) => step(cur).localCheckpoint(true))

  /** PageRank's walk over `(node, pr)` ranks: every node sends `pr div d`
    * along each out-edge and each destination `node` receives
    * `(85 · Σ) div 100` (damping 0.85). Ranks are scaled longs (1e6 =
    * 1.0) and every division floors, as DuckDB's `//` does on
    * non-negative longs, so the result is bit-identical across engines.
    * The teleport term is the caller's.
    */
  def pagerankContrib(edges: DataFrame, deg: DataFrame)(ranks: DataFrame): DataFrame =
    edges.join(ranks, col("src") === col("node"))
      .join(deg, "src")
      .select(col("dst"), expr("pr div d").as("contrib"))
      .groupBy(col("dst"))
      .agg(expr("(85 * sum(contrib)) div 100").as("pr"))
      .select(col("dst").as("node"), col("pr"))

  /** One min-plus relaxation of `(node, dist)` distances:
    * dist(v) := min(dist(v), min over u→v of dist(u) + `weight`), where
    * `weight` is over the edge columns. Unreached nodes stay absent.
    */
  def relax(edges: DataFrame, weight: Column)(dist: DataFrame): DataFrame =
    dist.unionByName(edges.join(dist, col("src") === col("node"))
        .select(col("dst").as("node"), (col("dist") + weight).as("dist")))
      .groupBy(col("node")).agg(min(col("dist")).as("dist"))

  /** One label-propagation round over `(node, lbl)` labels: every node
    * adopts its neighbors' most frequent label, ties to the lowest
    * label. The argmax is `min(struct(-count, lbl))`, a pure
    * aggregation, so a hub's update map-side combines at any degree.
    */
  def labelProp(edges: DataFrame)(labels: DataFrame): DataFrame =
    edges.join(labels, col("src") === col("node"))
      .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
      .groupBy(col("dst"))
      .agg(min(struct((-col("c")).as("nc"), col("lbl"))).as("top"))
      .select(col("dst").as("node"), col("top.lbl").as("lbl"))

  /** One 3-core peel of a symmetric edge list: drop every node of degree
    * below 3 and every edge touching one. The survivor set is
    * checkpointed because both endpoint restrictions read it.
    */
  def peel(edges: DataFrame): DataFrame = {
    val keep = outDegree(edges).filter(col("d") >= 3).select(col("src").as("node"))
      .localCheckpoint(true)
    edges.join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
  }
}
