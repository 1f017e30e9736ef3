package graft

import graft.core.GraftExtensions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {

  test("graft_hash32 is callable from SQL via SparkSessionExtensions") {
    // getOrCreate returns any existing default session (ignoring
    // withExtensions), so detach the shared one while building a fresh
    // session on the same SparkContext, then restore it.
    val prev = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .config("spark.sql.shuffle.partitions", "2")
        .config(graft.core.Graft.SharedConf)
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val got = s.sql("SELECT graft_hash32('a') AS h, graft_hash32('a', 1) AS h1")
        .head()
      // equals ('0x'||substring(md5('a'),1,8))::BIGINT = 214005177 (see DuckDB)
      assert(got.getLong(0) == 214005177L)
      assert(got.getLong(1) != got.getLong(0))
      val words = s.sql(
        "SELECT graft_md5_words('a') AS ws, " +
          "array(graft_hash32('a'), graft_hash32('a', 1), " +
          "graft_hash32('a', 2), graft_hash32('a', 3)) AS scalars")
        .head()
      assert(words.getSeq[Long](0) == words.getSeq[Long](1))
    } finally {
      prev.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }
}
