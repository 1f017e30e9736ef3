package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Session factory + table loader for the graft engine.
  *
  * The reference (kambatla/hadoop-1) configures each job via a `JobConf`
  * (`src/mapred/org/apache/hadoop/mapred/JobConf.java`); here the analogous
  * knobs live on one tuned `SparkSession`. All settings are chosen for the
  * 100 TB posture: AQE on (runtime re-plan, skew-join splitting, partition
  * coalescing), explicit shuffle parallelism, and broadcast joins enabled so
  * small dimension tables never shuffle. Generated classes are cached for
  * the JVM and named by their code, not their codegen stage id, so a plan
  * that only renumbers its stages (a chained append) reuses them
  * ([[SharedConf]]).
  */
object Graft {

  /** Size of Spark's JVM-wide LRU cache of compiled whole-stage classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). Passes repeat
    * the same queries, so a cache below the working set recompiles most
    * classes every pass. Classes compiled in one fresh JVM at sf0.001:
    * 122 for the eleven `etl` queries, 470 for the ten q167 k-NN queries,
    * and 4,655 for the 285-query board (whose metaspace grows 268 → 302
    * MB at this size; counted while class names still carried stage ids,
    * which put the q167 queries at 829).
    */
  val CodegenCacheEntries = 8192

  /** The confs every session of an engine JVM shares — applied by
    * [[session]] and by the test sessions, so no copy can miss one.
    *
    * `spark.sql.codegen.useIdInClassName=false` names each generated
    * class by its code alone. Spark's default names it after the
    * whole-stage codegen stage id, and the cache keys on the source, so
    * two plans whose stages differ only in numbering miss each other's
    * classes. A chained k-NN append adds one union child per batch and
    * shifts every later stage id: `KnnServeMain` over the sf0.01 `index`
    * store and three chained 50-vector deltas compiled 160 / 82–87 /
    * 62–75 classes (load + batch 0 / batch 1 / batch 2) with ids in the
    * names, 126–128 / 22–29 / 0–5 without. The name is the only thing it
    * changes.
    */
  val SharedConf: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    // tolerate a TIMESTAMP(NANOS) events fixture (one generation of the
    // fixture shipped that): read it as epoch-nanos LongType instead of
    // erroring.
    // [[tsUs]] normalizes whichever shape arrives.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.ui.enabled" -> "false")

  /** Local cores for an engine main: `SPARK_GRAFT_CPUS`, else every core
    * the JVM sees. The one place that variable is read.
    */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session's shuffle width (`spark.sql.shuffle.partitions`) — the
    * one width policy: every explicit `repartition`/`repartitionByRange`
    * that pins a stage to session parallelism reads it here. An explicit
    * count is exempt from AQE coalescing, so a pinned stage keeps it.
    */
  def width(s: SparkSession): Int = s.sessionState.conf.numShufflePartitions

  /** Create (or reuse) a tuned local session — the ONE session factory:
    * the codegen cache size is a static conf Spark reads once per JVM, so
    * a session built elsewhere runs at the default and recompiles every
    * pass (test sessions apply [[SharedConf]] for the same reason).
    * Mains pass [[cores]] for both `cores` and `shufflePartitions`; on a
    * real cluster the same conf minus `master` applies.
    */
  def session(appName: String, cores: String,
              shufflePartitions: Int): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config(SharedConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Generated classes compiled (codegen cache misses) so far in this JVM. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Scratch directory for query round-trip fixtures — ONE definition of
    * the path scheme so isolation or cleanup changes land in one place.
    * Paths are namespaced per JVM (pid): a Verify and a Bench running
    * concurrently must never write the same round-trip fixture dir.
    * Within one JVM the per-name dir is stable, so repeated invocations
    * of a query reuse (overwrite) their own fixture. The run root is
    * wiped on first use (a recycled pid must not inherit a crashed run's
    * leftovers) and deleted again by a shutdown hook, so runs don't
    * accumulate fixture trees in the tmpdir.
    */
  private lazy val runRoot: java.nio.file.Path = {
    import scala.jdk.CollectionConverters._
    import scala.util.Try
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    // sweep dirs whose owning JVM died without its hook (kill -9, OOM):
    // only dead pids — a live concurrent run's fixtures are untouchable.
    // Best-effort hygiene: two runs may race on the same dead dir, or a
    // foreign/undeletable dir may match — neither may fail THIS run, so
    // every step is exception-tolerant.
    Try {
      val ls = java.nio.file.Files.list(tmp)
      try {
        ls.iterator().asScala
          .filter(_.getFileName.toString.matches("graft-run[0-9]+"))
          .filter { d =>
            d.getFileName.toString.stripPrefix("graft-run").toLongOption
              .exists(pid => ProcessHandle.of(pid).isEmpty)
          }
          .foreach(d => Try(deleteTree(d)))
      } finally ls.close()
    }
    val p = tmp.resolve(s"graft-run${ProcessHandle.current().pid()}")
    deleteTree(p)
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => scala.util.Try(deleteTree(p))))
    p
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala
        .foreach(f => scala.util.Try(java.nio.file.Files.deleteIfExists(f)))
      finally walk.close()
    }

  def scratch(name: String): String = s"$runRoot/$name"

  /** Epoch-MICROSECONDS view of an event-time column, as a LongType
    * expression — THE one place that absorbs fixture schema drift. The
    * driver's `events.ts` has shipped as epoch-nanos long, TIMESTAMP(NANOS)
    * (surfacing as long via `nanosAsLong`), and TIMESTAMP(MICROS) (NTZ,
    * pyarrow writes no zone); every engine query speaks epoch micros
    * internally (integral arithmetic, exact cross-engine compare vs
    * DuckDB's `epoch_us(ts)`), so normalize HERE, by the frame's resolved
    * dtype, never at call sites. NTZ casts through TimestampType first
    * (`unix_micros` wants an instant); sessions run UTC, so the NTZ wall
    * clock IS the instant and the cast is numerically free. Long input is
    * nanos by fixture contract: integral `div` keeps micros exact where a
    * double division would round at 1.7e18.
    */
  def tsUs(df: DataFrame, name: String = "ts"): Column =
    df.schema(name).dataType match {
      case TimestampType    => unix_micros(col(name))
      case TimestampNTZType => unix_micros(col(name).cast(TimestampType))
      case LongType         =>
        // A plain-long ts is epoch-nanos BY FIXTURE CONTRACT; if a driver
        // generation ever ships epoch-micros as a long instead, dividing
        // by 1000 would be silently 1000x off. Modern event times are
        // ≥ ~1.5e18 nanos while the same instants in micros sit near
        // 1.7e15, so a per-row floor (1e17 ≈ 1973 in nanos) turns that
        // drift into a loud failure instead. One codegen'd comparison per
        // row — free next to the scan.
        import org.apache.spark.sql.functions.{when, raise_error, concat, lit}
        val nanosFloor = 100000000000000000L
        when(col(name).isNull || col(name) >= nanosFloor,
          org.apache.spark.sql.functions.expr(s"`$name` div 1000"))
          .otherwise(raise_error(concat(
            lit(s"tsUs: `$name` value "), col(name).cast("string"),
            lit(" is below the plausible epoch-nanos range — " +
              "epoch-micros-as-long fixture drift?"))).cast(LongType))
      case dt => throw new IllegalArgumentException(
        s"tsUs: column `$name` has unsupported event-time type $dt " +
          "(expected TIMESTAMP, TIMESTAMP_NTZ, or epoch-nanos LONG)")
    }

  /** Load one of the driver tables (TESTDATA.md): `$dir/$name.parquet`.
    *
    * The inferred SCHEMA is cached per path — not the DataFrame: a cached
    * Dataset strongly references its session, which would pin stopped
    * sessions forever (and defeats weak keys — WeakHashMap's contract
    * forbids values that refer to their keys). A schema is session-free,
    * and supplying it to the reader skips the footer-inference tax that
    * repeated scans paid. Driver tables are immutable fixtures, so a
    * path's schema never drifts.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(
      path, p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }
}
