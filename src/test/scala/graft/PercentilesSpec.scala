package graft

import graft.TestSpark.atWidth
import graft.operators.{Packing, Percentiles}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Percentiles.exact]] (histogram + two-pass prefix sum, no window)
  * must equal the textbook nearest-rank window computation on any data —
  * ties, skewed groups, tiny groups, any session width (empty range
  * partitions included) — and
  * [[Packing.globalRank]] must equal row_number over the same total
  * order.
  */
class PercentilesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def windowPcts(df: org.apache.spark.sql.DataFrame, ps: Seq[Int]) = {
    val n = df.groupBy(col("g")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
    val r = df.withColumn("rn", row_number().over(w)).join(n, "g")
    ps.map { p =>
      r.filter(col("rn") >= expr(s"($p * n + 99) div 100"))
        .groupBy(col("g")).agg(min(col("v")).as("pct"))
        .select(col("g"), lit(p.toLong).as("p"), col("pct"))
    }.reduce(_ unionByName _)
  }

  test("matches the window algorithm on random data with heavy ties") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(2000) { i =>
      (s"g${i % 3}", rnd.nextInt(40).toLong) // 40 distinct values => ties
    } ++ Seq(("tiny", 5L)) // 1-row group: every percentile = the row
    val ps = Seq(1, 50, 90, 99, 100)
    for (w <- Seq(5, 32); in <- Seq(rows, rows.takeRight(3))) atWidth(w) {
      val df = in.toDF("g", "v").repartition(13)
      val got = Percentiles.exact(df, "g", "v", ps)
        .select(col("g"), col("p"), col("pct"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val want = windowPcts(df, ps)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want, s"width=$w rows=${in.size}")
      // the 1-row group's percentiles are all its single value
      assert(got.filter(_._1 == "tiny").map(_._3) === Set(5L))
    }
  }

  test("p=100 is the group max; n is the group row count") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("b", 9L)).toDF("g", "v")
    val out = atWidth(2)(Percentiles.exact(df, "g", "v", Seq(100))
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSet)
    assert(out === Set(("a", 2L, 3L), ("b", 9L, 1L)))
  }

  test("empty input yields an empty result, not a crash") {
    val df = Seq.empty[(String, Long)].toDF("g", "v")
    atWidth(4) {
      assert(Percentiles.exact(df, "g", "v", Seq(50)).count() === 0)
      assert(Packing.globalRank(df, Seq("v", "g")).count() === 0)
    }
  }

  test("exactWeighted(w) equals exact over rows replicated w times") {
    // the defining property of weighted percentiles: mass w at value v
    // is indistinguishable from w unit rows at v — including zero-weight
    // rows, which must contribute nothing
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(400) { i =>
      (s"g${i % 3}", (rnd.nextInt(40) - 10).toLong, rnd.nextInt(5).toLong)
    } ++ Seq.tabulate(10)(i => ("gz", i.toLong, 0L)) // ALL-zero-weight group
    val df = rows.toDF("g", "v", "w")
    val weighted = atWidth(7)(Percentiles.exactWeighted(df, "g", "v", col("w"),
        Seq(10, 25, 50, 75, 90, 100))
      .as[(String, Long, Long, Long)].collect().toSet)
    val replicated = rows.flatMap { case (g, v, w) =>
      Seq.fill(w.toInt)((g, v)) }.toDF("g", "v")
    val unit = atWidth(5)(Percentiles.exact(replicated, "g", "v",
        Seq(10, 25, 50, 75, 90, 100))
      .as[(String, Long, Long, Long)].collect().toSet)
    assert(weighted == unit,
      s"weighted ${weighted.toSeq.sorted} vs replicated ${unit.toSeq.sorted}")
  }

  test("globalRank equals row_number over the same total order") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(777)(i => (i.toLong, rnd.nextInt(50).toLong))
    for (w <- Seq(1, 4, 32); in <- Seq(rows, rows.take(3))) atWidth(w) {
      val df = in.toDF("id", "key").repartition(9)
      val got = Packing.globalRank(df, Seq("key", "id"))
        .select(col("id"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val want = df
        .withColumn("rank",
          (row_number().over(Window.orderBy(col("key"), col("id"))) - 1)
            .cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(got === want, s"width=$w rows=${in.size}")
    }
  }

  test("refuses past MaxDriverGroups inside the subtotal job") {
    val df = (0 to Percentiles.MaxDriverGroups).map(i => (s"g$i", 1L)).toDF("g", "v")
    val e = intercept[IllegalArgumentException](Percentiles.exact(df, "g", "v", Seq(50)))
    assert(e.getMessage.contains(s"Percentiles.exact: ${Percentiles.MaxDriverGroups + 1} " +
      "(partition, group) subtotal entries exceed the driver bound"), e.getMessage)
  }

  test("exact and exactWeighted keep their output schema") {
    val df = Seq(("a", 1L, 2L), ("b", 3L, 1L)).toDF("g", "v", "w")
    val want = Seq("g:string:true", "p:bigint:false", "pct:bigint:true", "n:bigint:true")
    Seq(Percentiles.exact(df, "g", "v", Seq(50)),
        Percentiles.exactWeighted(df, "g", "v", col("w"), Seq(50))).foreach { out =>
      assert(out.schema.map(f => s"${f.name}:${f.dataType.simpleString}:${f.nullable}") == want)
    }
  }
}
