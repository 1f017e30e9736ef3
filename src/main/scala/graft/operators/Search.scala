package graft.operators

import graft.core.Graft
import org.apache.spark.sql.{Dataset, SparkSession}

/** Distributed backtracking search — the DistributedPentomino/Sudoku
  * pattern (`src/examples/org/apache/hadoop/examples/dancing/`, SURVEY
  * §2.11): enumerate the first `depth` levels of the search tree on the
  * driver (cheap), fan the prefixes out as a Dataset, and run the
  * exponential remainder inside `mapPartitions` — non-relational compute
  * distributed by prefix, with Spark balancing the partitions.
  */
object Search {

  /** Count all N-Queens solutions by fanning out the first two rows. */
  def nQueensCount(spark: SparkSession, n: Int): Long = {
    import spark.implicits._
    val prefixes = for {
      a <- 0 until n
      b <- 0 until n
      if b != a && math.abs(b - a) != 1
    } yield (a, b)
    if (prefixes.isEmpty) return solveFrom(n, Nil) // n <= 2: no valid fan-out
    spark.createDataset(prefixes)
      .repartition(math.min(prefixes.size, Graft.width(spark)))
      .mapPartitions(_.map { case (a, b) => solveFrom(n, List(b, a)) })
      .reduce(_ + _)
  }

  /** Sequential backtracking below a fixed prefix (cols by row, reversed). */
  private def solveFrom(n: Int, prefix: List[Int]): Long = {
    def ok(cols: List[Int], c: Int): Boolean =
      cols.zipWithIndex.forall { case (pc, i) =>
        pc != c && math.abs(pc - c) != i + 1
      }
    def go(cols: List[Int]): Long =
      if (cols.length == n) 1L
      else (0 until n).iterator.map { c =>
        if (ok(cols, c)) go(c :: cols) else 0L
      }.sum
    if (prefix.length >= 2 && !ok(prefix.tail, prefix.head)) 0L else go(prefix)
  }
}
