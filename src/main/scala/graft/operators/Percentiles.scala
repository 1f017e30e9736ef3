package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Exact grouped percentiles at scale — the nearest-rank method computed
  * WITHOUT a per-group raw-row window.
  *
  * q89 computes exact percentiles the textbook way (row_number over every
  * raw row of a group); correct, but at 100 TB a single group's rows all
  * sort inside one window partition — the one-group-one-task cliff. This
  * operator is the scale path with the SAME exact answer:
  *
  *  1. collapse rows to a per-(group, value) HISTOGRAM — one map-side
  *     combined aggregation; the sort domain drops from row count to
  *     value-NDV per group;
  *  2. [[Packing.prefixScan]] over the histogram (the SortValidate
  *     pattern): range-partition by (group, value), per-partition
  *     per-group subtotals to the driver — #partitions × #groups longs,
  *     never data — then one streaming pass adds offsets, yielding each
  *     value's cumulative count;
  *  3. the p-th percentile (nearest-rank: smallest v with
  *     cum ≥ ⌈p·n/100⌉, all-integer target arithmetic) falls out of one
  *     bounded join + min aggregation.
  *
  * No window anywhere; the heaviest phase is the histogram aggregation,
  * which a combiner absorbs wherever values repeat. Ties need no
  * tiebreak: equal values share one histogram row by construction.
  */
object Percentiles {

  /** Most (partition, group) subtotal entries [[exact]] will materialize
    * on the driver before refusing — see the CONTRACT note on the method.
    */
  val MaxDriverGroups = 100000

  /** Exact nearest-rank percentiles of `valueCol` (LONG, e.g. pre-scaled
    * micros) per `groupCol` (STRING): one row per (group, p) with the
    * percentile value and the group's row count. `ps` are integer
    * percents in (0, 100].
    *
    * CONTRACT: the driver holds Σ per-partition distinct groups subtotal
    * longs (≤ session width × #groups), so `groupCol` must be
    * LOW-cardinality — a dimension like event type or language, not a
    * key. The guard refuses past [[MaxDriverGroups]] inside the ONE
    * subtotal job: each partition caps the map it ships (counting group
    * boundaries of its sorted stream beyond the cap), so the blow-up the
    * guard refuses never reaches the driver and the hot path pays a
    * single scan of the persisted histogram; for high-NDV group
    * columns compute the per-group offsets distributively instead
    * (aggregate per-(partition, group) subtotals, prefix-sum per group
    * with a window over the ≤ width rows each group owns, and join
    * back) — same answer, no driver state.
    */
  def exact(df: DataFrame, groupCol: String, valueCol: String,
            ps: Seq[Int]): DataFrame =
    exactImpl(df, groupCol, valueCol, lit(1L), ps)

  /** WEIGHTED nearest-rank percentiles: each row counts `weightCol`
    * units of mass instead of 1 (weighted median of price by quantity,
    * of latency by request count, …). Same machinery, same output shape
    * — `n` becomes the group's total WEIGHT and the target rank is
    * ⌈p·W/100⌉ over cumulative weight. CONTRACT: weights must be
    * non-negative integers (a negative weight breaks cumulative-rank
    * monotonicity silently; zero-weight rows are harmless — they can
    * never become the crossing value).
    */
  def exactWeighted(df: DataFrame, groupCol: String, valueCol: String,
                    weightCol: Column, ps: Seq[Int]): DataFrame =
    exactImpl(df, groupCol, valueCol, weightCol, ps)

  private def exactImpl(df: DataFrame, groupCol: String, valueCol: String,
                        weight: Column, ps: Seq[Int]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val hist = df
      .groupBy(col(groupCol).cast("string").as("g"), col(valueCol).cast("long").as("v"))
      .agg(sum(weight.cast("long")).as("c")) // integer-weight contract
      // zero-mass cells can never be a crossing value, and dropping them
      // makes an ALL-zero-weight group vanish entirely — exactly what
      // exact() over the w-times-replicated input (zero rows) returns;
      // keeping them would emit spurious n=0 rows for such a group
      .filter(col("c") > 0)
    def plus(a: Map[String, Long], b: Map[String, Long]) =
      b.foldLeft(a) { case (m, (g, c)) => m.updated(g, m.getOrElse(g, 0L) + c) }
    // cumulative counts over the (g, v)-ordered histogram: the state
    // before partition i maps g to its rows in partitions before i
    val (cum, totals) = Packing.prefixScan(hist, Seq(col("g"), col("v")),
        StructType(Seq(StructField("g", StringType),
          StructField("v", LongType, nullable = false),
          StructField("cum", LongType, nullable = false)))) { it =>
      // guard + subtotals in ONE job (ADVICE r13 — a separate size-probe
      // pass doubled scans of the persisted histogram on the hot path):
      // the (g, v)-sorted stream brings each group contiguously, so the
      // subtotal map grows one entry per group BOUNDARY. A partition
      // whose distinct count alone passes MaxDriverGroups stops STORING
      // (drops its map, keeps counting), so the executor→driver payload
      // stays bounded even in the refuse path; if the driver's Σ is
      // within bound, every per-partition count is too, so every map
      // survived.
      var m = mutable.Map.empty[String, Long]
      var distinct = 0L
      var cur: String = null
      it.foreach { r =>
        val g = r.getString(0)
        if (cur == null || g != cur) { distinct += 1; cur = g }
        if (m != null) {
          m.update(g, m.getOrElse(g, 0L) + r.getLong(2))
          if (m.size > MaxDriverGroups) m = null // refuse path: count only
        }
      }
      (distinct, Option(m).map(_.toMap))
    } { sums =>
      val driverEntries = sums.map(_._1).sum
      require(driverEntries <= MaxDriverGroups,
        s"Percentiles.exact: $driverEntries (partition, group) subtotal " +
          s"entries exceed the driver bound ($MaxDriverGroups); use a " +
          "distributed per-group offset join for high-NDV group columns " +
          "(see scaladoc)")
      sums.map(_._2.get).scanLeft(Map.empty[String, Long])(plus)
    } { (off, it) =>
      val acc = mutable.Map(off.toSeq: _*)
      it.map { r =>
        val (g, v) = (r.getString(0), r.getLong(1))
        acc.update(g, acc.getOrElse(g, 0L) + r.getLong(2))
        Row(g, v, acc(g))
      }
    }
    val n = totals.toSeq.toDF("g", "n")
    val pdf = ps.map(_.toLong).toDF("p")
    // target rank ⌈p·n/100⌉ in pure integers: (p·n + 99) div 100
    cum
      .join(broadcast(n), "g")
      .crossJoin(broadcast(pdf))
      .filter(col("cum") >= expr("(p * n + 99) div 100"))
      .groupBy(col("g"), col("p"))
      .agg(min(col("v")).as("pct"), max(col("n")).as("n"))
  }
}
