package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    // env knobs exist for the on-demand soaks (SoakTest needs real cores
    // and wider shuffles at 100×); the regular suite runs the defaults
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("GRAFT_TEST_MASTER", "local[4]"))
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("GRAFT_TEST_SHUFFLE", "4"))
      // the confs of Graft.session; the codegen cache size is static,
      // sized at the JVM's first compile, so this first session fixes it
      .config(graft.core.Graft.SharedConf)
      .config("spark.sql.warehouse.dir",
        tempDir("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  // under the per-JVM run root (`Graft.scratch`), whose shutdown hook
  // deletes it when the forked test JVM exits
  private lazy val tmpRoot = java.nio.file.Files.createDirectories(
    java.nio.file.Paths.get(graft.core.Graft.scratch("tmp")))

  /** A fresh directory that is deleted when the test JVM exits. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(tmpRoot, prefix)

  /** A fresh file that is deleted when the test JVM exits. */
  def tempFile(prefix: String, suffix: String): java.nio.file.Path =
    java.nio.file.Files.createTempFile(tmpRoot, prefix, suffix)

  /** Runs `body` at session shuffle width `w` (`Graft.width`), then
    * restores the previous width.
    */
  def atWidth[T](w: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, w.toString)
    try body finally spark.conf.set(key, prev)
  }
}
