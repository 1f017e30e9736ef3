package graft

import graft.TestSpark.atWidth
import graft.operators.Packing
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** [[Packing]]'s two-pass distributed prefix sum must equal the
  * single-threaded scan regardless of the session width — including a
  * width above the row count, which leaves range partitions empty — and
  * the sequence assignment must respect span arithmetic at the
  * boundaries.
  */
class PackingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def docs(texts: Seq[String]) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  /** `name:type:nullable` per output column. */
  private def fields(df: DataFrame): Seq[String] =
    df.schema.map(f => s"${f.name}:${f.dataType.simpleString}:${f.nullable}")

  test("offsets equal the single-threaded prefix sum at any partition count") {
    val rnd = new scala.util.Random(101)
    val texts = Seq.fill(500)(Seq.fill(1 + rnd.nextInt(40))("w").mkString(" "))
    for (w <- Seq(1, 3, 7, 32); in <- Seq(texts, Seq("x y", "z"))) atWidth(w) {
      val expected = in.map(_.split(" ").length.toLong).scanLeft(0L)(_ + _).init
      val got = Packing.tokenOffsets(docs(in))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(2)))
      assert(got.map(_._1).toSeq === in.indices.map(_.toLong),
        s"width=$w lost or reordered docs")
      assert(got.map(_._2).toSeq === expected, s"width=$w offsets wrong")
    }
  }

  test("sequence assignment: exact-fit, straddle, and multi-sequence docs") {
    // seqLen 10: doc0 takes [0,10) exactly, doc1 straddles [10,25),
    // doc2 sits inside [25,27), doc3 spans 3 sequences [27,60)
    val texts = Seq(
      Seq.fill(10)("a").mkString(" "),
      Seq.fill(15)("b").mkString(" "),
      Seq.fill(2)("c").mkString(" "),
      Seq.fill(33)("d").mkString(" "))
    val rows = atWidth(2)(Packing.packed(docs(texts), 10)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))))
    assert(rows === Array(
      (0L, 0L, 0L, false),
      (10L, 1L, 2L, true),
      (25L, 2L, 2L, false),
      (27L, 2L, 5L, true)))
  }

  test("sizeOffsets equals the single-threaded prefix sum at any partition count") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(31)
    val sizes = Seq.tabulate(400)(i => (i.toLong, rnd.nextInt(5000).toLong))
    for (w <- Seq(1, 5, 32); in <- Seq(sizes, sizes.take(3))) atWidth(w) {
      val df = in.toDF("doc_id", "n_chars").repartition(7)
      val expected = in.map(_._2).scanLeft(0L)(_ + _).init
      val got = Packing.sizeOffsets(df, "doc_id", "n_chars")
        .orderBy(col("doc_id")).collect().map(_.getLong(2)).toSeq
      assert(got === expected, s"width=$w rows=${in.size}")
    }
  }

  test("more partitions than rows still works") {
    val got = atWidth(32)(Packing.tokenOffsets(docs(Seq("x y", "z")))
      .orderBy("doc_id").collect().map(_.getLong(2)))
    assert(got.toSeq === Seq(0L, 2L))
  }

  test("runningTotal equals the window running sum at any partition count") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(77)
    val rows = (1 to 500).map(i => (i.toLong, rnd.nextInt(1000).toLong))
    for (w <- Seq(1, 3, 32); in <- Seq(rows, rows.take(3))) atWidth(w) {
      val df = in.toDF("k", "v")
        .withColumn("neg", -col("v")) // desc order via negation, the contract
      val got = Packing.runningTotal(df, Seq("neg", "k"), "v")
        .select(col("k"), col("cum")).as[(Long, Long)].collect().toMap
      val want = df.withColumn("cum",
          sum(col("v")).over(Window.orderBy(col("neg"), col("k"))))
        .select(col("k"), col("cum")).as[(Long, Long)].collect().toMap
      assert(got == want, s"diverged at width=$w rows=${in.size}")
    }
  }

  test("runningMax equals the exclusive window max at any partition count") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(91)
    // duplicate values on purpose: the exclusive prefix must treat ties
    // by order position, not value identity
    val rows = (1 to 400).map(i => (i.toLong, rnd.nextInt(50).toLong))
    for (w <- Seq(1, 3, 32); in <- Seq(rows, rows.take(3))) atWidth(w) {
      val df = in.toDF("k", "v")
      val got = Packing.runningMax(df, Seq("k"), "v")
        .select(col("k"), col("cummax_excl")).as[(Long, Option[Long])]
        .collect().toMap
      val win = Window.orderBy(col("k")).rowsBetween(Window.unboundedPreceding, -1)
      val want = df.withColumn("m", max(col("v")).over(win))
        .select(col("k"), col("m")).as[(Long, Option[Long])].collect().toMap
      assert(got == want, s"diverged at width=$w rows=${in.size}")
      assert(got(1L).isEmpty, "the global first row has no predecessor")
    }
  }

  test("selectUnderBudget keeps the maximal score-ordered prefix, any partition count") {
    import org.apache.spark.sql.functions.{col, length}
    val rnd = new scala.util.Random(77)
    val texts = Seq.fill(300)(Seq.fill(1 + rnd.nextInt(30))("w").mkString(" "))
    for (w <- Seq(1, 3, 32); in <- Seq(texts, texts.take(3))) atWidth(w) {
      // sequential truth: (score desc = text length desc, doc_id) order
      val ordered = in.zipWithIndex
        .map { case (t, i) => (t.length.toLong, i.toLong, t.split(" ").length.toLong) }
        .sortBy { case (s, id, _) => (-s, id) }
      val budget = ordered.map(_._3).sum / 3
      var acc = 0L
      val truth = ordered.flatMap { case (_, id, n) =>
        acc += n; if (acc <= budget) Some((id, n, acc)) else None
      }
      val got = Packing
        .selectUnderBudget(docs(in), length(col("text")), budget)
        .orderBy("cum_tokens").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == truth, s"width=$w docs=${in.size}")
    }
    // a straddling doc is excluded, not truncated; zero budget keeps nothing
    assert(Packing.selectUnderBudget(docs(Seq("a b c")), length(col("text")), 2L)
      .count() == 0)
    assert(Packing.selectUnderBudget(docs(texts), length(col("text")), 0L).count() == 0)
  }

  test("every operator keeps its output schema") {
    import org.apache.spark.sql.functions.{col, length}
    val d = docs(Seq("a b", "c"))
    val kv = Seq((1L, 2L), (2L, 3L)).toDF("k", "v")
    val offs = Seq("doc_id:bigint:false", "n_tokens:bigint:false", "start_off:bigint:false")
    assert(fields(Packing.tokenOffsets(d)) == offs)
    assert(fields(Packing.packed(d, 10)) == offs ++ Seq("first_seq:bigint:true",
      "last_seq:bigint:true", "crosses_boundary:boolean:true"))
    assert(fields(Packing.sizeOffsets(kv, "k", "v")) ==
      Seq("k:bigint:false", "v:bigint:false", "start_off:bigint:false"))
    assert(fields(Packing.selectUnderBudget(d, length(col("text")), 5L)) ==
      Seq("doc_id:bigint:false", "n_tokens:bigint:false", "cum_tokens:bigint:false"))
    val kvf = Seq("k:bigint:false", "v:bigint:false")
    assert(fields(Packing.globalRank(kv, Seq("k"))) == kvf :+ "rank:bigint:false")
    assert(fields(Packing.runningMax(kv, Seq("k"), "v")) == kvf :+ "cummax_excl:bigint:true")
    assert(fields(Packing.runningTotal(kv, Seq("k"), "v")) == kvf :+ "cum:bigint:false")
  }
}
