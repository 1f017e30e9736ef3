package graft

import graft.sources.HarLite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8

/** [[HarLite]] contract: recursive pack preserves relative paths (incl.
  * subdirectories), `cat` returns byte-exact content via a stats-pruned
  * point filter, `ls` is content-free, a small partBytes yields multiple
  * part files, and an empty source fails loudly.
  */
class HarLiteSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def mkTree(): String = {
    val root = TestSpark.tempDir("harsrc")
    Files.write(root.resolve("a.txt"), "alpha".getBytes(UTF_8))
    Files.write(root.resolve("b.bin"), Array[Byte](0, 1, 2, -1, 127))
    val sub = Files.createDirectories(root.resolve("sub/deep"))
    Files.write(sub.resolve("c.txt"), "gamma delta".getBytes(UTF_8))
    root.toString
  }

  test("pack + ls + cat round trip, nested paths preserved") {
    val src = mkTree()
    val arch = TestSpark.tempDir("hararch").toString
    HarLite.build(spark, src, arch)

    val listing = HarLite.ls(spark, arch)
      .orderBy("path").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(listing === Array(
      ("a.txt", 5L), ("b.bin", 5L), ("sub/deep/c.txt", 11L)))
    assert(HarLite.ls(spark, arch).columns.toSeq === Seq("path", "length"))

    val bytes = HarLite.cat(spark, arch, "b.bin").head().getAs[Array[Byte]](0)
    assert(bytes === Array[Byte](0, 1, 2, -1, 127))
    val deep = HarLite.cat(spark, arch, "sub/deep/c.txt").head()
      .getAs[Array[Byte]](0)
    assert(new String(deep, UTF_8) === "gamma delta")
  }

  test("cat's point filter reaches the parquet scan as a pushed filter") {
    val src = mkTree()
    val arch = TestSpark.tempDir("hararch").toString
    HarLite.build(spark, src, arch)
    val plan = HarLite.cat(spark, arch, "a.txt")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(path,"),
      s"expected a pushed path filter in:\n$plan")
  }

  test("small partBytes splits the archive into multiple sorted parts") {
    val root = TestSpark.tempDir("harsrc")
    (0 until 40).foreach { i =>
      Files.write(root.resolve(f"f$i%02d.txt"),
        ("x" * 100 + i).getBytes(UTF_8))
    }
    val arch = TestSpark.tempDir("hararch").toString
    HarLite.build(spark, root.toString, arch, partBytes = 1024)
    val parts = Paths.get(arch, "part").toFile.listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts >= 2, s"expected multiple part files, got $parts")
    // every file still individually addressable
    val got = HarLite.open(spark, arch)
      .select(col("path")).orderBy("path").collect().map(_.getString(0))
    assert(got === (0 until 40).map(i => f"f$i%02d.txt").toArray)
  }

  test("empty source fails loudly") {
    val src = TestSpark.tempDir("harempty").toString
    val arch = TestSpark.tempDir("hararch").toString
    val e = intercept[Exception] {
      HarLite.build(spark, src, arch)
    }
    assert(e.getMessage != null)
  }
}
