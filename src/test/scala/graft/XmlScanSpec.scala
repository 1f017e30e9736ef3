package graft

import graft.sources.XmlScan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class XmlScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("multi-line records crossing split boundaries are all recovered") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-xmlscan")
    // one big file, records of varying width with embedded newlines and
    // inter-record junk; tiny splits force records across split boundaries
    val body = (1 to 200).map { i =>
      s"<rec>\n  <name>doc-$i${"x" * (i % 17)}</name>\n  <key>$i</key>\n</rec>"
    }.mkString("\n junk \n")
    java.nio.file.Files.write(dir.resolve("data.xml"), body.getBytes("UTF-8"))
    val before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "256")
      val recs = XmlScan.records(spark, dir.toString, "<rec>", "</rec>")
      assert(recs.rdd.getNumPartitions > 1, "fixture must span several splits")
      val keys = recs.select(
        regexp_extract(col("record"), "<key>([0-9]+)</key>", 1).cast("int"))
        .as[Int].collect().sorted.toSeq
      assert(keys == (1 to 200))
      // records are complete begin..end spans, never truncated at a split
      val malformed = recs.filter(
        !col("record").startsWith("<rec>") || !col("record").endsWith("</rec>"))
      assert(malformed.count() == 0)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", before)
  }

  test("gzip input is one unsplittable split and parses identically") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-xmlgz")
    val body = (1 to 200).map { i =>
      s"<rec>\n  <name>doc-$i${"x" * (i % 17)}</name>\n  <key>$i</key>\n</rec>"
    }.mkString("\n junk \n")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("data.xml.gz")))
    gz.write(body.getBytes("UTF-8")); gz.close()
    val before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      // tiny target split size: a splittable input would fan out into
      // many partitions (the plain-text case above proves >1), but gzip
      // is NOT splittable (TextInputFormat.java:41 isSplitable →
      // codec-aware), so the whole file must stay one partition — a
      // future custom scanner that ignored the codec and split at byte
      // offsets would decompress garbage or drop records here
      spark.conf.set("spark.sql.files.maxPartitionBytes", "256")
      val recs = XmlScan.records(spark, dir.toString, "<rec>", "</rec>")
      assert(recs.rdd.getNumPartitions == 1,
        "a .gz text input must be a single split per file")
      val keys = recs.select(
        regexp_extract(col("record"), "<key>([0-9]+)</key>", 1).cast("int"))
        .as[Int].collect().sorted.toSeq
      assert(keys == (1 to 200))
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", before)
  }

  test("recordsExact keeps nested begin tags inside one record") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-xmlnest")
    // the reference's begin-then-end scan: the nested <doc> stays inside
    // the record, which ends at the FIRST </doc> after its begin
    java.nio.file.Files.write(dir.resolve("n.xml"),
      "pre<doc>a<doc>b</doc>mid<doc>c</doc>post".getBytes("UTF-8"))
    val got = XmlScan.recordsExact(spark, dir.toString, "<doc>", "</doc>")
      .as[String].collect().toSeq
    assert(got == Seq("<doc>a<doc>b</doc>", "<doc>c</doc>"))
  }

  test("recordsExact matches records() on non-nested multi-record files") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-xmlboth")
    val body = (1 to 50).map(i => s"<rec>\n<key>$i</key>\n</rec>")
      .mkString("\njunk\n")
    java.nio.file.Files.write(dir.resolve("b.xml"), body.getBytes("UTF-8"))
    val a = XmlScan.records(spark, dir.toString, "<rec>", "</rec>")
      .as[String].collect().toSet
    val b = XmlScan.recordsExact(spark, dir.toString, "<rec>", "</rec>")
      .as[String].collect().toSet
    assert(a.nonEmpty && a == b)
  }

  test("a truncated trailing record is dropped, not fabricated") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-xmltrunc")
    // file cut off mid-record: the unterminated '<rec><key>3' must NOT be
    // emitted as a well-formed record
    java.nio.file.Files.write(dir.resolve("t.xml"),
      "<rec><key>1</key></rec>\n<rec><key>2</key></rec>\n<rec><key>3".getBytes("UTF-8"))
    val keys = XmlScan.records(spark, dir.toString, "<rec>", "</rec>")
      .select(regexp_extract(col("record"), "<key>([0-9]+)</key>", 1).cast("int"))
      .as[Int].collect().sorted.toSeq
    assert(keys == Seq(1, 2))
  }
}
