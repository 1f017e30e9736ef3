package graft.operators

import graft.core.Graft
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** Distributed copy utility (SURVEY §2.1 `DistCp`,
  * `src/tools/org/apache/hadoop/tools/DistCp.java:78,96-97`): list the
  * source tree on the driver (metadata only), fan the file list out, copy
  * each file in an executor task. `-update` skips files whose length
  * already matches; `-overwrite` recopies unconditionally.
  */
object DistCpLite {

  final case class CopyStat(copied: Long, skipped: Long, bytes: Long)

  def copy(spark: SparkSession, src: String, dst: String,
           update: Boolean = false): CopyStat = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val srcPath = new Path(src)
    val fs = srcPath.getFileSystem(conf.value)
    // recursive listing — the source may be a partitioned tree
    val it = fs.listFiles(srcPath, true)
    val files = Iterator.continually(it)
      .takeWhile(_.hasNext)
      .map(_.next())
      .map(f => (f.getPath.toString, f.getLen))
      .toSeq
    fs.mkdirs(new Path(dst))
    val stats = spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, Graft.width(spark))))
      .map { case (f, len) =>
        val hc = conf.value
        val from = new Path(f)
        // preserve the path relative to the source root
        val rel = from.toUri.getPath.stripPrefix(new Path(src).toUri.getPath)
          .stripPrefix("/")
        val to = new Path(dst, rel)
        val dfs = to.getFileSystem(hc)
        if (update && dfs.exists(to) && dfs.getFileStatus(to).getLen == len) {
          (0L, 1L, 0L)
        } else {
          FileUtil.copy(from.getFileSystem(hc), from, dfs, to, false, true, hc)
          (1L, 0L, len)
        }
      }
      .fold((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }
    CopyStat(stats._1, stats._2, stats._3)
  }
}
