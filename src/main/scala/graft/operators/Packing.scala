package graft.operators

import scala.reflect.ClassTag

import graft.core.Graft
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Training-sequence packing (builder brief: what a large-scale training
  * pipeline needs; no reference counterpart): GPT-style dataset prep
  * concatenates every document's tokens in a fixed corpus order and cuts
  * the stream into fixed-length sequences, so each document owns the
  * token span `[start_off, start_off + n_tokens)` and lands in sequences
  * `start_off / seqLen .. (start_off + n_tokens - 1) / seqLen`.
  *
  * Every operator here is one DISTRIBUTED prefix scan, [[prefixScan]] —
  * the classic two-pass shape, same family as `RDD.zipWithIndex`:
  * range-partition by the order key and sort within partitions, compute
  * one summary per partition, scan those few values on the driver (one
  * Long per partition — the SortValidate boundary-stats pattern, NOT a
  * data collect), then stream each partition once with its offset. No
  * single-partition window, no global sort barrier beyond the range
  * exchange; at 100 TB the per-partition pass is the scan and the driver
  * sees kilobytes.
  */
object Packing {

  /** The one two-pass distributed prefix scan ([[Percentiles]] runs it
    * too). `in` is range-partitioned by the total `order` at the session
    * width ([[Graft.width]]) and sorted within partitions, then persisted
    * so both passes see identical partition contents. Pass 1 sends one
    * `summary` per partition to the driver, where `scan` turns them (in
    * partition order) into each partition's starting state — the
    * `scanLeft` shape, its last element the grand total. Pass 2 streams
    * each partition once through `emit` with its state. The output (of
    * schema `out`) rides on eager localCheckpoint blocks so the persisted
    * input is freed here; the session sweep or `Dedup.release` frees the
    * checkpoint. Returns the output and the grand total.
    */
  private[operators] def prefixScan[S: ClassTag, A](
      in: DataFrame, order: Seq[Column], out: StructType)(
      summary: Iterator[Row] => S)(scan: Array[S] => Array[A])(
      emit: (A, Iterator[Row]) => Iterator[Row]): (DataFrame, A) = {
    val sorted = in
      .repartitionByRange(Graft.width(in.sparkSession), order: _*)
      .sortWithinPartitions(order: _*)
      .rdd
      .persist(StorageLevel.MEMORY_AND_DISK)
    val states = scan(sorted.mapPartitions(it => Iterator.single(summary(it))).collect())
    val res = in.sparkSession
      .createDataFrame(sorted.mapPartitionsWithIndex((i, it) => emit(states(i), it)), out)
      .localCheckpoint(true)
    sorted.unpersist(false)
    (res, states.last)
  }

  /** [[prefixScan]] of a Long sum: `emit` gets the total `size` of every
    * row in earlier partitions. Accumulates in Long, so a partition past
    * 2^31 rows cannot overflow the offsets.
    */
  private def prefixSum(in: DataFrame, order: Seq[Column], out: StructType)(
      size: Row => Long)(emit: (Long, Iterator[Row]) => Iterator[Row]): DataFrame =
    prefixScan(in, order, out)(_.foldLeft(0L)((n, r) => n + size(r)))(
      _.scanLeft(0L)(_ + _))(emit)._1

  private def longs(names: String*): StructType =
    StructType(names.map(StructField(_, LongType, nullable = false)))

  /** Per-doc token offsets in doc_id order: `(doc_id, n_tokens,
    * start_off)` — [[sizeOffsets]] over the token count.
    */
  def tokenOffsets(docs: DataFrame): DataFrame =
    sizeOffsets(docs.select(col("doc_id"),
      size(split(col("text"), " ")).as("n_tokens")), "doc_id", "n_tokens")

  /** Budget-capped corpus selection — the data-selection primitive of
    * budget-constrained training (keep the best documents until B tokens
    * are filled): documents are taken in (`score` DESC, doc_id) order
    * while the RUNNING token total stays within `budget`. Returns
    * `(doc_id, n_tokens, cum_tokens)` for the selected documents.
    * Partitions whose START offset already reaches the budget are skipped
    * outright (their input is never iterated), so at 100 TB a tight
    * budget touches only the leading partitions of the score-ordered
    * corpus after the subtotal pass.
    */
  def selectUnderBudget(docs: DataFrame, score: Column, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be non-negative: $budget")
    prefixSum(docs.select(score.cast("long").as("score"), col("doc_id").cast("long"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")),
        Seq(col("score").desc, col("doc_id")),
        longs("doc_id", "n_tokens", "cum_tokens"))(_.getLong(2)) { (off, it) =>
      if (off >= budget) Iterator.empty
      else {
        var acc = off
        it.map { r => acc += r.getLong(2); Row(r.getLong(1), r.getLong(2), acc) }
          .takeWhile(_.getLong(2) <= budget)
      }
    }
  }

  /** Exact start offsets of an arbitrary LONG size column: `(id, size,
    * start_off)` where `start_off` is the sum of the sizes of all rows
    * before this one in `idCol` order. The id order must be unique or the
    * offsets are not reproducible.
    */
  def sizeOffsets(df: DataFrame, idCol: String, sizeCol: String): DataFrame =
    prefixSum(df.select(col(idCol).cast("long"), col(sizeCol).cast("long")),
        Seq(col(idCol)), longs(idCol, sizeCol, "start_off"))(_.getLong(1)) { (off, it) =>
      var acc = off
      it.map { r => val s = acc; acc += r.getLong(1); Row(r.getLong(0), r.getLong(1), s) }
    }

  /** Global 0-based rank in `(orderCols…)` order, appended as a `rank`
    * column — `RDD.zipWithIndex` semantics but over an EXPLICIT total
    * order: a prefix sum of row counts. The order must be total (include
    * a unique tiebreak column) or the rank is not reproducible.
    */
  def globalRank(df: DataFrame, orderCols: Seq[String]): DataFrame =
    prefixSum(df, orderCols.map(col),
        df.schema.add("rank", LongType, nullable = false))(_ => 1L) { (off, it) =>
      var acc = off
      it.map { r => val row = Row.fromSeq(r.toSeq :+ acc); acc += 1; row }
    }

  /** EXCLUSIVE running maximum of LONG `valueCol` in `(orderCols…)`
    * order, appended as nullable `cummax_excl` (null on the global first
    * row) — the max-monoid sibling of [[runningTotal]]. Exclusive
    * (strictly-preceding rows only) because the consumers are dominance
    * tests — "does anything EARLIER in the order beat me" (skyline/Pareto
    * fronts, high-water-mark audits). The order must be total (unique
    * key); descending orders pre-negate the sort key.
    */
  def runningMax(df: DataFrame, orderCols: Seq[String], valueCol: String): DataFrame = {
    val vIdx = df.schema.fieldIndex(valueCol)
    def max(a: Option[Long], b: Option[Long]) = (a ++ b).reduceOption(math.max(_, _))
    prefixScan(df, orderCols.map(col),
        df.schema.add("cummax_excl", LongType, nullable = true))(
        _.foldLeft(Option.empty[Long])((m, r) => max(m, Some(r.getLong(vIdx)))))(
        _.scanLeft(Option.empty[Long])(max)) { (off, it) =>
      var acc = off
      it.map { r =>
        val row = Row.fromSeq(r.toSeq :+ acc.map(Long.box).orNull)
        acc = max(acc, Some(r.getLong(vIdx)))
        row
      }
    }._1
  }

  /** INCLUSIVE running total of LONG `valueCol` in `(orderCols…)` order,
    * appended as `cum` — the value-weighted sibling of [[globalRank]]. The
    * order must be total (include a unique tiebreak column); descending
    * orders are expressed by pre-negating the sort key. Accumulates in
    * Long — callers own the no-overflow bound on Σ|value| (document it at
    * the call site).
    */
  def runningTotal(df: DataFrame, orderCols: Seq[String], valueCol: String): DataFrame = {
    val vIdx = df.schema.fieldIndex(valueCol)
    prefixSum(df, orderCols.map(col),
        df.schema.add("cum", LongType, nullable = false))(_.getLong(vIdx)) { (off, it) =>
      var acc = off
      it.map { r => acc += r.getLong(vIdx); Row.fromSeq(r.toSeq :+ acc) }
    }
  }

  /** [[tokenOffsets]] plus the sequence assignment at `seqLen` tokens:
    * first/last sequence index per doc and whether the doc straddles a
    * sequence boundary (the span a loader must reassemble).
    */
  def packed(docs: DataFrame, seqLen: Int): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    val first = expr(s"start_off DIV $seqLen")
    val last = expr(s"(start_off + n_tokens - 1) DIV $seqLen")
    tokenOffsets(docs)
      .select(col("doc_id"), col("n_tokens"), col("start_off"),
        first.as("first_seq"), last.as("last_seq"),
        (first =!= last).as("crosses_boundary"))
  }
}
