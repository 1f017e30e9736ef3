package graft.operators

import graft.core.Graft
import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication operators for large-scale training-data
  * pipelines: exact (hash-group), MinHash + banded LSH (near-dup candidate
  * generation without all-pairs), SimHash bit signatures, and n-gram
  * Jaccard verification over candidate pairs.
  *
  * Scale posture (the whole point): candidate pairs are generated ONLY
  * inside LSH band buckets — a self-join on the band key — never by an
  * all-pairs cross product. At 100 TB the band key is the shuffle key;
  * bucket sizes are bounded by signature agreement, and AQE's skew-join
  * splitting handles hot buckets. Every hash is the engine-portable
  * MD5-derived [[Hashing.hash32]], so a DuckDB oracle reproduces the exact
  * pipeline (seeded families documented there).
  */
object Dedup {

  /** Corpus-adaptive banded-LSH geometry: `(bands, rowsPerBand)` from a
    * corpus-count estimate. Rows-per-band grows ∝ log₂(corpus): a
    * background (unrelated) pair at Jaccard s collides in one band with
    * probability s^r, so keeping the spurious candidate volume
    * n²·b·s_bg^r sub-linear in n forces r up with log n. Bands then
    * re-anchor the S-curve threshold t = (1/b)^(1/r) at the near-dup
    * definition: b = round(t^−r). The r-growth rate (log₂n / 8) assumes
    * background Jaccard ≲ t/250 ≈ 0.001 — typical for word-bigram
    * shingles of unrelated documents; a corpus that violates it
    * (boilerplate-heavy) surfaces loudly through [[candidatePairs]]'s
    * bucket-cap observe metric, not silently.
    *
    * At the verify/bench scales (500–5000 docs) this reproduces the
    * hand-tuned 8 bands × 2 rows = 16-seed signature that every
    * committed oracle was generated with; at 10⁹ docs it yields
    * 67 bands × 4 rows = a 268-permutation signature — the
    * production-scale config a fixed 16-seed signature could never be.
    */
  def lshGeometry(corpusEst: Long, threshold: Double = 0.35): (Int, Int) = {
    require(corpusEst > 0, s"lshGeometry: corpus estimate must be positive, got $corpusEst")
    require(threshold > 0 && threshold < 1,
      s"lshGeometry: threshold must be in (0,1), got $threshold")
    val r = math.max(2, math.ceil(
      math.log(corpusEst.toDouble) / math.log(2) / 8.0).toInt)
    val b = math.max(2, math.round(math.pow(threshold, -r)).toInt)
    (b, r)
  }

  /** Whitespace word tokens of a document. */
  def tokens(text: Column): Column = split(text, " ")

  /** Word 2-shingles ("w1 w2") — more discriminative than unigrams over a
    * small vocabulary; empty when the document has fewer than 2 tokens.
    */
  def bigrams(text: Column): Column = {
    val t = tokens(text)
    // slice length must be exact: start+length overflows int if padded
    val rest = slice(t, lit(2), greatest(size(t) - 1, lit(0)))
    filter(
      zip_with(t, rest, (a, b) => concat_ws(" ", a, b)),
      x => x.isNotNull && length(x) > 0 && instr(x, " ") > 0)
  }

  /** Widen a narrow input before a CPU-heavy map stage: when the frame
    * plans to fewer partitions than the session's shuffle parallelism —
    * a small parquet file is one row group, so its scan is ONE partition
    * no matter what the split configs say — a round-robin repartition
    * spreads the downstream per-row work (md5 per shingle/gram) across
    * every core instead of serializing it on one task (guide §2.5 input
    * skew). A no-op whenever the input is already at least
    * session-parallel, so at 100 TB (thousands of scan splits) no extra
    * shuffle is paid; locally the shuffled payload is the small file
    * itself. Deterministic under retries (sort-before-repartition is on).
    */
  private[graft] def widen(df: DataFrame): DataFrame = {
    val p = Graft.width(df.sparkSession)
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** MinHash signature: per id, `nSeeds` columns `mh0..mh{n-1}`,
    * `mh_i = min(hash32Family(shingle, i))` over the document's distinct
    * shingles. One explode + one grouped aggregation — partial aggregation
    * (map-side combine) keeps the shuffle narrow. The hash family is
    * consumed per digest GROUP (one `array<long>` of 4 members per md5),
    * so `nSeeds` members cost `nSeeds/4` digests per shingle — the digest
    * is the whole inner-loop cost at 100 TB.
    */
  def minhash(df: DataFrame, id: Column, shingles: Column, nSeeds: Int): DataFrame = {
    // no pre-distinct: min() is duplicate-insensitive, so one shuffle with
    // map-side partial min beats a distinct shuffle + aggregation.
    // widen() first: the digest map stage is the whole inner-loop cost,
    // and a single-row-group corpus file otherwise serializes it
    val groups = (nSeeds + 3) / 4
    val exploded = widen(df).select(id.as("id"), explode(shingles).as("sh"))
    val withWords = exploded.select(
      col("id") +:
        (0 until groups).map(g =>
          Hashing.hash32FamilyGroup(col("sh"), g).as(s"wg$g")): _*)
    val aggs = (0 until nSeeds).map(i =>
      min(col(s"wg${i / 4}")(i % 4)).as(s"mh$i"))
    withWords.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Band a minhash signature: (id, band, key) with
    * `key = mh[b*r] ++ "_" ++ ... ++ mh[b*r + r-1]` — docs sharing any
    * band key are near-dup candidates (classic banded LSH).
    */
  def lshBands(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val key = concat_ws("_",
        (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*)
      struct(lit(b).as("band"), key.as("key"))
    }
    sig.select(col("id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** The band table `(id, band, key)` of a `(doc_id, text)` corpus:
    * [[lshBands]] over the [[minhash]] of its word [[bigrams]] at the
    * given geometry — the one composition every near-dup build uses.
    */
  def textBands(docs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    lshBands(minhash(docs, col("doc_id"), bigrams(col("text")), bands * rowsPerBand),
      bands, rowsPerBand)

  /** Distinct candidate pairs (a < b) from any shared band bucket — within
    * buckets only, never all-pairs. One grouped pass: bucket ids are
    * collected (sorted, so a < b falls out of position order) and pairs
    * exploded per bucket. A self-join would recompute the whole minhash
    * subtree for both sides; this shape computes it once.
    *
    * Bucket membership is CAPPED at `maxBucket` (production dedup
    * practice): listing pairs is inherently bucket-quadratic, so one
    * degenerate bucket — millions of identical or empty docs sharing a
    * band signature — would otherwise concentrate a corpus-sized array in
    * one aggregation buffer and emit a quadratic pair explosion that adds
    * NO recall (group assembly comes from [[bucketStarEdges]] +
    * [[connectedComponents]], which stay bucket-linear and uncapped; docs
    * beyond the cap are already grouped there). The cap keeps the
    * `maxBucket` smallest ids per bucket: ranking is a WINDOW row_number
    * (spills, never buffers the bucket), so the collect buffer is ≤ cap
    * by construction. Truncation is LOUD, not silent — the plan carries
    * an observe metric (`graft.lsh.bucket_cap` / DROPPED_MEMBERS, read it
    * with `observedMetrics` or a QueryExecutionListener) counting members
    * dropped past the cap.
    */
  def candidatePairs(bands: DataFrame, maxBucket: Int = 1000): DataFrame = {
    require(maxBucket >= 2, s"candidatePairs: maxBucket must be >= 2 (got $maxBucket)")
    val bucket = Window.partitionBy(col("band"), col("key")).orderBy(col("id"))
    bands
      .withColumn("_rn", row_number().over(bucket))
      .observe("graft.lsh.bucket_cap",
        sum(when(col("_rn") > maxBucket, 1L).otherwise(0L)).as("DROPPED_MEMBERS"))
      .filter(col("_rn") <= maxBucket)
      .groupBy(col("band"), col("key"))
      .agg(sort_array(collect_set(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
  }

  /** Clique-contracted edge list for component finding: every LSH bucket
    * is a complete subgraph of the candidate-pair graph, so linking each
    * member to the bucket's min id yields EXACTLY the same connected
    * components while emitting k−1 star edges per bucket instead of
    * k(k−1)/2 pairs — at 100 TB the difference between bucket-linear and
    * bucket-quadratic edge volume. Star hubs also shorten propagation
    * paths, so [[connectedComponents]] converges in fewer rounds.
    * (OperatorsSpec asserts pair-graph and star-graph components match.)
    *
    * Hub discovery is a window min over the bucket, NOT collect_set: a
    * skewed bucket (many identical/empty docs sharing a band signature)
    * must not concentrate its whole membership in one aggregation-buffer
    * array — WindowExec's per-group buffer spills to disk, so a
    * corpus-sized bucket degrades to disk bandwidth instead of OOM. One
    * shuffle on (band, key), no self-join, and the upstream signature
    * subtree is computed exactly once (an agg + join-back shape would
    * evaluate the unpersisted minhash pipeline twice).
    */
  def bucketStarEdges(bands: DataFrame): DataFrame = {
    val bucket = Window.partitionBy(col("band"), col("key"))
    bands
      .select(col("id"), min(col("id")).over(bucket).as("hub"))
      .filter(col("id") =!= col("hub"))
      .select(col("id").as("a"), col("hub").as("b"))
      .distinct()
  }

  /** The DELTA-scale star edges an incremental CC batch feeds to
    * [[ccIncrementalServe]] — q183 derives them as full-corpus
    * [[bucketStarEdges]] filtered to delta involvement, which re-windows
    * every bucket; at 100 TB a daily batch must touch only ITS buckets.
    * This derivation is the scale shape: restrict the (persisted ∪
    * delta) band table to buckets the delta lands in (one left-semi on
    * the bucket key — delta-bounded), re-derive the star within those
    * buckets only (hubs can CHANGE: a delta doc with a smaller id
    * becomes the new hub and every base member re-points at it), and
    * keep edges with a delta endpoint — base↔base edges inside touched
    * buckets already exist in the base connectivity the labels encode,
    * and untouched buckets' stars are unchanged by definition. Lossless
    * by the same argument as q183's filter; the chained-ingest parity
    * spec and q183b's oracle prove it end to end.
    */
  def ccDeltaStarEdges(bands: DataFrame, deltaBands: DataFrame): DataFrame = {
    val touched = deltaBands.select(col("band"), col("key")).distinct()
    val members = bands.unionByName(deltaBands)
      .join(touched, Seq("band", "key"), "left_semi")
    val bucket = Window.partitionBy(col("band"), col("key"))
    val star = members
      .select(col("id"), min(col("id")).over(bucket).as("hub"))
      .filter(col("id") =!= col("hub"))
      .select(col("id").as("a"), col("hub").as("b"))
      .distinct()
      .localCheckpoint(true) // both involvement semijoins read it
    val deltaIds = deltaBands.select(col("id")).distinct()
    star.join(deltaIds.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
      .unionByName(star
        .join(deltaIds.withColumnRenamed("id", "b"), Seq("b"), "left_semi"))
      .distinct()
  }

  /** RETIRE documents from the incremental-CC index (tombstone deletes —
    * the dedup family's dual of [[ccIncrementalServe]], completing the
    * retire symmetry with [[graft.operators.Similarity.knnGraphRetire]]
    * and the RAG family's ragIndexRetire): deleting a doc can SPLIT its
    * component (the doc may be the hub bridging two bucket
    * neighborhoods), so unlike append there is no contraction shortcut —
    * the affected components re-solve. What keeps it delta-scale is a
    * structural fact of the star graph: ANY two co-bucketed docs are in
    * the same component, so every bucket containing an affected member
    * contains ONLY affected members (plus deleted ones) — the re-solve's
    * edge list is drawn from affected-component buckets alone, never the
    * corpus.
    *
    *  1. drop the deleted docs' band rows;
    *  2. affected = surviving members of any component containing a
    *     deleted doc (|tombstones| bounded: components are
    *     near-dup cliques, not the corpus);
    *  3. re-derive star edges within the buckets affected members still
    *     occupy (hubs re-derive — a deleted hub's bucket re-points at
    *     the surviving min) and re-run CC on that subgraph;
    *  4. splice: unaffected labels pass through untouched, affected
    *     members take their re-solved labels, affected members left
    *     edge-less drop out (the build convention: only edge-having
    *     docs carry labels).
    *
    * Returns (bands, labels) — the updated index. Parity: ≡ a full
    * [[connectedComponents]] rebuild over the surviving band table
    * (CcRetireSpec asserts the two-way exceptAll, hub deletions and
    * component splits included).
    */
  def ccRetire(bands: DataFrame, labels: DataFrame,
               docIds: DataFrame): (DataFrame, DataFrame) = {
    val del = docIds.select(col(docIds.columns.head).cast("long").as("id"))
      .distinct().localCheckpoint(true)
    val bands2 = bands.join(broadcast(del), Seq("id"), "left_anti")
      .localCheckpoint(true) // feeds the touched-bucket semi AND the result
    val delComps = labels.join(broadcast(del), "id")
      .select(col("lbl")).distinct().localCheckpoint(true)
    val affected = labels.join(broadcast(delComps), "lbl")
      .join(broadcast(del), Seq("id"), "left_anti")
      .select(col("id")).localCheckpoint(true)
    val touched = bands2.join(broadcast(affected), "id")
      .select(col("band"), col("key")).distinct()
    val members = bands2.join(touched, Seq("band", "key"), "left_semi")
    val bucket = Window.partitionBy(col("band"), col("key"))
    val subEdges = members
      .select(col("id"), min(col("id")).over(bucket).as("hub"))
      .filter(col("id") =!= col("hub"))
      .select(col("id").as("a"), col("hub").as("b"))
      .distinct()
    val subLabels = connectedComponents(subEdges)
    // the USING-key anti join fronts `lbl`; restore the (id, lbl) build
    // order so consumers can rely on one column layout
    val labels2 = labels.join(broadcast(delComps), Seq("lbl"), "left_anti")
      .select(col("id"), col("lbl"))
      .unionByName(subLabels.select(col("id"), col("lbl")))
    (bands2, labels2)
  }

  /** CONFIG-STALENESS probe for the dedup index — the third family's
    * re-index dial (the k-NN/RAG families' is
    * [[graft.operators.Similarity.indexStaleness]]): the frozen LSH
    * geometry derives from the corpus size at build time
    * ([[lshGeometry]] — rows-per-band grows with log n, bands with the
    * threshold), so the one decay mode is GROWTH — a corpus that
    * outgrows its geometry bands too coarsely (recall drops) or floods
    * buckets (candidate volume grows). Fires when the geometry
    * re-derived from the CURRENT corpus count differs from the frozen
    * one. `curCount` is the corpus count under the build's own
    * definition ([[CcIndex.docCount]] — [[ccIndexSave]] persists the
    * build's and every streamed fold adds its rows), NOT a
    * band-table distinct: documents with <2 tokens produce no band rows,
    * so the two n's differ and near a geometry step a band-derived
    * probe could fire inconsistently with the build convention
    * (ADVICE r18).
    */
  def ccStaleness(curCount: Long, bnd: Int, rpb: Int): DataFrame = {
    require(curCount > 0,
      s"ccStaleness: positive corpus count required, got $curCount")
    // resolve active-OR-default: an external scheduler thread driving
    // the re-index trigger has no thread-local active session, and
    // SparkSession.active throws there (ADVICE r19)
    val s = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException(
        "ccStaleness: no active or default SparkSession in this JVM"))
    import s.implicits._
    val (rb, rr) = lshGeometry(curCount)
    Seq((curCount, bnd.toLong, rpb.toLong, rb.toLong, rr.toLong,
      rb != bnd || rr != rpb))
      .toDF("members", "bands_frozen", "rows_frozen",
        "bands_recommended", "rows_recommended", "stale")
  }

  /** The dedup family's index: the band table (id, band, key) under its
    * FROZEN geometry (signatures never re-derive mid-increment — the
    * q110/q183 versioned-geometry convention), the component labels
    * (id, lbl — full-graph component minima), and the corpus count under
    * the build's definition (document count — build count + every
    * folded batch's rows), the n [[ccStaleness]] compares geometry
    * against.
    */
  final case class CcIndex(bands: DataFrame, labels: DataFrame,
                           nBands: Int, rowsPerBand: Int, docCount: Long)

  /** The dedup family's instance of the shared index lifecycle
    * ([[graft.core.IndexFamily]]). Unlike the k-NN/RAG dials, CC's
    * staleness needs no baseline artifacts — the geometry law is
    * count-only — so the current version's config alone carries the
    * frozen side, and the probe runs at the count of the corpus passed
    * to maintain (the source of truth — the q183d convention), not at
    * the stored count.
    */
  implicit object CcFamily extends graft.core.IndexFamily[CcIndex] {
    def session(idx: CcIndex): org.apache.spark.sql.SparkSession =
      idx.bands.sparkSession

    /** Bands partition by `band` (bounded directories) so a rebuild or
      * audit can read one band without the rest; labels and the
      * 3-scalar config (geometry + the corpus count) are small tables.
      */
    def write(idx: CcIndex, dir: String): Unit = {
      val s = idx.bands.sparkSession
      import s.implicits._
      // explicit shuffle width: repartition(col) alone lets AQE coalesce a
      // small shuffle to one partition, serializing every band directory's
      // write through a single task (see the k-NN family's write)
      idx.bands.repartition(Graft.width(s), col("band"))
        .write.mode("overwrite").partitionBy("band").parquet(s"$dir/bands")
      idx.labels.write.mode("overwrite").parquet(s"$dir/labels")
      Seq((idx.nBands.toLong, idx.rowsPerBand.toLong, idx.docCount))
        .toDF("bands", "rows_per_band", "corpus_count")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/config")
    }

    /** The band partition column casts back to its build dtype. */
    def read(s: org.apache.spark.sql.SparkSession, dir: String): CcIndex = {
      // EXPLICIT schemas matching the save's inferred layout (partition
      // column `band` in its inferred type and position): a schema'd read
      // skips the per-table footer-inference job, so the load's only
      // driver action is the config row (guide §6)
      import org.apache.spark.sql.types.StructType
      def rd(t: String, ddl: String) =
        s.read.schema(StructType.fromDDL(ddl)).parquet(s"$dir/$t")
      val conf = rd("config",
        "bands BIGINT,rows_per_band BIGINT,corpus_count BIGINT").first()
      CcIndex(rd("bands", "id BIGINT,key STRING,band INT")
        .select(col("id"), col("band").cast("int").as("band"), col("key")),
        rd("labels", "id BIGINT,lbl BIGINT").select(col("id"), col("lbl")),
        conf.getAs[Long]("bands").toInt, conf.getAs[Long]("rows_per_band").toInt,
        conf.getAs[Long]("corpus_count"))
    }

    /** One micro-batch of (doc_id, text) rows:
      *  1. minhashes + bands under the FROZEN (bands, rowsPerBand) config;
      *  2. derives the delta-scale star edges ([[ccDeltaStarEdges]] — only
      *     buckets the batch touches re-window, hub changes included);
      *  3. folds them through [[ccIncrementalServe]] (contract through the
      *     labels, CC the delta-sized graph, compose) — the returned labels
      *     are again full-graph minima, which is exactly what makes
      *     consecutive batches CHAIN;
      *  4. appends the batch's bands to the band table.
      * Labels checkpoint every fold (they are the next fold's contraction
      * input); the band table's union chain is what [[flatten]] cuts.
      */
    def append(idx: CcIndex, batch: DataFrame): Option[CcIndex] = {
      val batchN = batch.count()
      if (batchN == 0) None
      else {
        val db = textBands(batch, idx.nBands, idx.rowsPerBand).localCheckpoint(true)
        val labels = ccIncrementalServe(idx.labels,
            ccDeltaStarEdges(idx.bands, db))
          .select(col("doc_id").as("id"), col("component").as("lbl"))
          .localCheckpoint(true)
        Some(CcIndex(idx.bands.unionByName(db), labels, idx.nBands,
          idx.rowsPerBand, idx.docCount + batchN))
      }
    }

    def flatten(idx: CcIndex): CcIndex =
      idx.copy(bands = idx.bands.localCheckpoint(true))

    def dials(base: => CcIndex, cur: CcIndex, n: => Long): DataFrame =
      ccDials(n, cur.nBands, cur.rowsPerBand, cur.labels)

    /** Re-index the (doc_id, text) corpus at [[lshGeometry]]'s
      * re-derived (bands, rows).
      */
    def rebuild(cur: CcIndex, corpus: DataFrame, n: => Long): CcIndex = {
      val (b2, r2) = lshGeometry(n)
      val bands2 = textBands(corpus, b2, r2).localCheckpoint(true)
      CcIndex(bands2, connectedComponents(bucketStarEdges(bands2)), b2, r2, n)
    }
  }

  /** PERSIST the incremental-CC artifacts as one crash-atomic committed
    * version ([[graft.core.IndexStore]] — the same two-phase discipline
    * as the k-NN and RAG stores; the marker carries the streaming
    * replay cursor). The table layout is [[CcFamily]]'s `write`.
    */
  def ccIndexSave(idx: CcIndex, path: String,
                  lastBatch: Long = -1L): graft.core.IndexStore.Commit =
    graft.core.IndexFamily.save(idx, path, lastBatch)

  /** Reconstitute [[ccIndexSave]] artifacts from the latest committed
    * version — every frame a FileScan.
    */
  def ccIndexLoad(s: org.apache.spark.sql.SparkSession,
                  rootPath: String): CcIndex =
    graft.core.IndexFamily.load[CcIndex](s, rootPath)._2

  /** [[graft.core.IndexFamily.maintain]] over a persisted CC store:
    * `docs` is the (doc_id, text) corpus the probe counts and the
    * re-index runs from (q183f gates this call against q183e's oracle).
    */
  def ccMaintain(s: org.apache.spark.sql.SparkSession, path: String,
                 docs: DataFrame): DataFrame =
    graft.core.IndexFamily.maintain[CcIndex](s, path, docs)

  /** The dial row of the CC maintenance arc: the [[ccStaleness]] columns
    * plus the serving label table's row and component counts
    * (artifact-derived — what makes the arc's hash pin the rebuild
    * itself).
    */
  private[graft] def ccDials(curCount: Long, bnd: Int, rpb: Int,
                             labels: DataFrame): DataFrame =
    ccStaleness(curCount, bnd, rpb)
      .crossJoin(broadcast(labels.agg(
        count(lit(1)).as("n_labeled"),
        count_distinct(col("lbl")).as("n_components"))))

  /** Release the cached blocks behind a (possibly projected)
    * localCheckpoint'd frame. Safe only once nothing will recompute from
    * it — the checkpoint truncated its lineage, so a post-unpersist
    * recompute would fail loudly. Falling through WITHOUT finding a
    * checkpointed RDD is a caller bug (the blocks it meant to free stay
    * pinned), so it warns instead of silently no-opping.
    */
  def release(df: DataFrame): Unit = {
    val rdds = df.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    if (rdds.isEmpty)
      System.err.println(
        "[graft] Dedup.release: no localCheckpoint RDD under this plan — " +
          "nothing was freed (plan shape changed?)")
    rdds.foreach(_.unpersist(false))
  }

  /** Near-dup GROUPS from candidate pairs: connected components by
    * iterative min-label propagation — each round every node takes the
    * minimum label among itself and its neighbors, a fixpoint reached in
    * diameter(graph) rounds. Returns (id, component) where `component` is
    * the smallest id in the node's component (the canonical keeper).
    *
    * Scale shape: each round is a pointer-jump (label := label-of-label,
    * the shortcutting that makes round count LOGARITHMIC in component
    * diameter instead of linear) followed by one shuffle join + grouped
    * min over the edges — all hash-partitioned on id, no driver-side
    * graph. Neighbor offers are DELTA-ITERATED: only labels that changed
    * last round join the edge list (an unchanged label already made its
    * offer in the round after it was acquired, and the init grouped-min is
    * round 0's full propagation), so per-round edge traffic shrinks with
    * the frontier instead of staying O(V) — on a mostly-converged 100 TB
    * graph the late rounds touch only the few still-moving chains.
    * `maxIter` is a loud backstop, not a truncation: non-convergence
    * throws rather than returning a silently under-merged clustering.
    * Labels only decrease, so fixpoint = an empty frontier; the frontier
    * count doubles as the convergence check (ONE job per round — the
    * count materializes that round's lazy localCheckpoint, which also
    * truncates lineage so late rounds don't replan the whole chain).
    *
    * The RETURNED labels ride on the final round's localCheckpoint — one
    * label-set-sized snapshot stays pinned in executor storage until the
    * caller consumes the frame and calls [[release]] on it (Bench/Verify
    * sweep leaked snapshots between queries as a backstop).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val ccT0 = System.nanoTime()
    // undirected: propagate both ways. One explode, not a 2-branch union —
    // a union would evaluate the (unpersisted) upstream candidate-pair
    // pipeline once per branch
    val edges = pairs
      .select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .persist()
    // seed labels with the first propagation round for free: label(v) =
    // min(v, min neighbor) is one grouped aggregation over the edge list,
    // no join — saves a full join round
    var ckpt = edges.groupBy(col("a").as("id"))
      .agg(min(col("b")).as("nb"))
      .select(col("id"), least(col("id"), col("nb")).as("lbl"))
      .localCheckpoint(true)
    if (sys.env.contains("SPARK_GRAFT_CC_TRACE"))
      System.err.println(f"[cc] seed (incl. upstream build) " +
        f"${(System.nanoTime() - ccT0) / 1e9}%.2f s")
    var labels = ckpt
    // every init label is fresh, so round 0's frontier is all of them
    var frontier = ckpt
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // pointer jump over the previous (materialized) labels: a node whose
      // label is itself labeled lower shortcuts straight to it, so chains
      // collapse exponentially across rounds. (A fused union+grouped-min
      // round — one shuffle agg instead of this three-join chain — was
      // measured 10% SLOWER at sf0.1: the shuffle exchange costs more
      // than the broadcast chain it replaced at these label-table sizes;
      // r20's AQE-in-fixpoint experiment failed the same way.)
      val jumped = labels.alias("x")
        .join(labels.alias("y"), col("x.lbl") === col("y.id"), "left")
        .select(col("x.id").as("id"), col("x.lbl").as("old"),
          least(col("x.lbl"), coalesce(col("y.lbl"), col("x.lbl"))).as("lbl"))
      val nbrMin = edges.alias("e")
        .join(frontier.alias("l"), col("e.b") === col("l.id"))
        .groupBy(col("e.a").as("nid"))
        .agg(min(col("l.lbl")).as("nlbl"))
      val next = jumped.alias("cur")
        .join(nbrMin.alias("nm"), col("cur.id") === col("nm.nid"), "left")
        .select(col("cur.id").as("id"), col("cur.old").as("old"),
          least(col("cur.lbl"), coalesce(col("nm.nlbl"), col("cur.lbl"))).as("lbl"))
        .localCheckpoint(false) // lazy: the frontier count below runs it
      val nextFrontier = next.filter(col("lbl") < col("old"))
        .select(col("id"), col("lbl"))
      val nChanged = nextFrontier.count()
      if (sys.env.contains("SPARK_GRAFT_CC_TRACE"))
        System.err.println(s"[cc] round ${it + 1}: frontier $nChanged")
      // Dataset.unpersist is a no-op for localCheckpoint blocks (they live
      // at the RDD level, outside the CacheManager) — free the superseded
      // round's snapshot through its LogicalRDD, or maxIter corpus-sized
      // label snapshots pile up in executor memory
      release(ckpt)
      ckpt = next
      labels = next.select(col("id"), col("lbl"))
      frontier = nextFrontier
      converged = nChanged == 0
      it += 1
    }
    edges.unpersist()
    if (sys.env.contains("SPARK_GRAFT_CC_TRACE"))
      System.err.println(f"[cc] converged in $it rounds, " +
        f"${(System.nanoTime() - ccT0) / 1e9}%.2f s")
    if (!converged)
      sys.error(s"connectedComponents: no fixpoint after $maxIter rounds " +
        "(graph diameter exceeds the bound — raise maxIter)")
    labels
  }

  /** SERVE half of incremental connected components (the q124-style
    * build/serve split; the BUILD half is just [[connectedComponents]]
    * over the base edges, persisted): given yesterday's base labels
    * `(id, lbl)` (lbl = component-min id) and today's delta-involving
    * star edges `(a, b)`, relabel every endpoint through its base
    * component, run CC over the CONTRACTED graph — component ids plus
    * delta nodes, a graph of delta-edge scale, never the corpus — and
    * compose the label layers back. Output `(doc_id, component)` equals
    * a full-graph recompute because base labels are component minima and
    * contraction preserves minima (the q183 oracle proves it).
    *
    * Scale shape: two label joins (broadcast-able when the delta's
    * touched components ≪ base; Catalyst/AQE decide from stats), a CC
    * whose edge list is delta-sized, and a base-labels passthrough join
    * keyed on the OLD component label — O(delta) compute plus one
    * map-side relabel of the base table, the cost q110 pays for pairs.
    */
  def ccIncrementalServe(baseLabels: DataFrame, deltaEdges: DataFrame): DataFrame = {
    def contracted(end: String) = {
      val lbls = baseLabels.select(col("id").as(end), col("lbl").as(s"${end}_l"))
      (df: DataFrame) => df.join(lbls, Seq(end), "left")
    }
    val ce = contracted("a")(contracted("b")(deltaEdges))
      .select(coalesce(col("a_l"), col("a")).as("a"),
        coalesce(col("b_l"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
    val deltaCC = connectedComponents(ce).localCheckpoint(true)
    // compose the layers: base nodes re-route through their component's
    // new label; contracted-graph nodes that are NOT base component ids
    // (delta docs, and base docs whose first edge came with the delta)
    // emit directly
    val reroute = deltaCC.select(col("id").as("lbl"), col("lbl").as("nl"))
    val baseOut = baseLabels.join(reroute, Seq("lbl"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("nl"), col("lbl")).as("component"))
    val extraOut = deltaCC
      .join(baseLabels.select(col("lbl")).distinct()
        .withColumnRenamed("lbl", "id"), Seq("id"), "left_anti")
      .select(col("id").as("doc_id"), col("lbl").as("component"))
    baseOut.unionByName(extraOut)
  }

  /** SimHash signature of `bits` bits over distinct tokens:
    * bit b = 1 iff Σ_tokens (2·((hash32(token) >> b) & 1) − 1) > 0.
    * One grouped aggregation with `bits` sums — no per-bit passes.
    */
  def simhash(df: DataFrame, id: Column, toks: Column, bits: Int): DataFrame = {
    val exploded = df.select(id.as("id"), explode(toks).as("tok")).distinct()
    val h = Hashing.hash32(col("tok"))
    val sums = (0 until bits).map(b =>
      sum(shiftright(h, b) % 2 * 2 - 1).as(s"s$b"))
    val sig = (0 until bits)
      .map(b => when(col(s"s$b") > 0, 1L << b).otherwise(0L))
      .reduce(_ + _)
    exploded.groupBy(col("id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("id"), sig.as("simhash"))
  }

  /** Jaccard similarity over distinct tokens for given candidate pairs
    * (a, b): |A∩B| / |A∪B|, exact-integer division emitted as one double.
    * Token sets are joined, not collected — no giant arrays in memory.
    */
  def jaccard(pairs: DataFrame, docTokens: DataFrame): DataFrame = {
    // docTokens: (id, tok) distinct. Token sets are aggregated once per doc
    // and intersected per pair with array ops — two hash joins instead of
    // an exploded token×token join (candidate-pair count × avg-set-size
    // fewer shuffle rows; set sizes are document-bounded so the arrays are
    // small and the intersect stays in codegen).
    val sets = docTokens.groupBy(col("id"))
      .agg(collect_set(col("tok")).as("toks"))
    pairs.alias("p")
      .join(sets.alias("sa"), col("p.a") === col("sa.id"))
      .join(sets.alias("sb"), col("p.b") === col("sb.id"))
      .withColumn("c", size(array_intersect(col("sa.toks"), col("sb.toks"))))
      .select(col("p.a").as("a"), col("p.b").as("b"),
        (col("c").cast("double") /
          (size(col("sa.toks")) + size(col("sb.toks")) - col("c"))).as("jaccard"))
  }

  /** Exact-set collapse MEMBERSHIP map, shared by [[setSimJoin]] and
    * [[containmentJoin]]: one representative per distinct token set,
    * keyed off the ALREADY-MATERIALIZED df-ordered array (identical sets
    * sort identically under the shared global order, so ws is a
    * canonical set form — no second corpus pass). The key is
    * COLLISION-SAFE by construction: each token is length-prefixed
    * ("len:tok") before concatenation, a prefix code, so two distinct
    * token sequences can never render to the same key string (a bare
    * separator join would merge e.g. the 1-token set ["a<SEP>b"] with
    * the 2-token set ["a","b"] whenever a token contains the sentinel —
    * an input contract this encoding removes entirely). Returns
    * (rid, id, m): rid = the group's min id (its representative), m =
    * group size; checkpointed — the expansion joins ride it.
    */
  private def setMembership(sortedAll: DataFrame): DataFrame = {
    val keyed = sortedAll.select(col("id"), md5(expr(
      "array_join(transform(ws, w -> concat(cast(length(w) as string), ':', w)), '')"))
      .as("sk"))
    keyed
      .join(keyed.groupBy(col("sk"))
        .agg(min(col("id")).as("rid"), count(lit(1)).as("m")), "sk")
      .select(col("rid"), col("id"), col("m"))
      .localCheckpoint(true)
  }

  /** Max clique size at which the exact-set collapse engages: a hot set
    * replicated m times contributes m² clique candidates, so past this
    * any single group already dominates its own candidate volume.
    */
  val CollapseCliqueMin: Long = 16L

  /** The collapse CONCENTRATION GATE — engage only when duplication can
    * actually dominate candidate volume (a bounded 1-row probe on the
    * checkpointed membership map): any group of ≥ [[CollapseCliqueMin]]
    * members, or a ≥ 20% overall duplicate fraction, flips to
    * representatives; below that the base algorithms handle the few
    * identical sets natively (they are ordinary qualifying pairs) and
    * skipping saves the rep-store materialization + the expansion joins.
    * The switch is physical-strategy only: both paths compute the
    * identical exact answer (q194/q128 are green through each — the
    * board corpus sits under the threshold, the dense soaks above).
    */
  private def collapseEngaged(memb: DataFrame): Boolean = {
    val probe = memb.agg(max(col("m")).as("mx"),
      sum(when(col("id") =!= col("rid"), 1L).otherwise(0L)).as("dups"),
      count(lit(1)).as("docs")).first()
    !probe.isNullAt(0) &&
      (probe.getLong(0) >= CollapseCliqueMin ||
        probe.getLong(1) * 5L >= probe.getLong(2))
  }

  /** EXACT set-similarity join with prefix filtering (AllPairs/PPJoin —
    * Bayardo 2007, Xiao 2008): every pair of documents with token-set
    * Jaccard ≥ t, found WITHOUT LSH — the exact-recall complement to
    * [[candidatePairs]] for when probabilistic recall isn't acceptable
    * (legal dedup, eval-set decontamination).
    *
    * Pruning: tokens sort per document by GLOBAL (frequency, token)
    * order — rarest first — and only each document's PREFIX (the first
    * n − ⌈t·n⌉ + 1 tokens) is exploded into the candidate join. The
    * prefix theorem (under any global total order, |A∩B| ≥ α means the
    * (n−α+1)-prefixes intersect; J ≥ t with the length filter gives
    * α ≥ ⌈t·n⌉ per side) makes this lossless, while candidates shrink to
    * pairs sharing a RARE token — the frequency order is what keeps hot
    * tokens out of prefixes. A length filter (t·max ≤ min) prunes before
    * the join. No global rank is materialized: the per-document sort
    * key is the (df, token) struct itself, so ordering needs no
    * vocab-sized window — just one df join and an array sort.
    *
    * Scale shape: token-frequency agg (map-side combined), one join to
    * attach dfs, per-doc array sort (document-bounded), prefix explode
    * (≈ (1−t)·tokens rows), equi-join on the prefix token, distinct,
    * then the [[jaccard]]-style array-intersect verify. All integer
    * compares: 100·|∩| ≥ tPct·(na + nb − |∩|).
    *
    * Replica defense: the EXACT-SET COLLAPSE ([[setMembership]] /
    * [[collapseEngaged]], shared with [[containmentJoin]]) — identical
    * token sets are Jaccard-1.0 cliques, so under the concentration gate
    * one representative per distinct set runs the join and verdicts
    * expand back through the membership map (Jaccard is a set property)
    * plus the intra-group cliques; candidate volume then scales with
    * DISTINCT sets, not documents.
    *
    * Input: (id, toks) with toks DISTINCT per row. Output:
    * (a, b, inter, na, nb) for every qualifying pair, a < b.
    */
  def setSimJoin(docs: DataFrame, tPct: Int): DataFrame = {
    require(tPct > 0 && tPct <= 100, s"setSimJoin: tPct in (0,100], got $tPct")
    val sortedAll = setSimSorted(docs)
    // exact-set collapse (the round-16 containmentJoin defense, extended
    // here): identical token sets are Jaccard-1.0 cliques, so a
    // replica-heavy corpus otherwise pays k² through BOTH candidate sides
    // — every df grows ×k AND every doc appears ×k. One representative
    // per distinct set runs the join (Jaccard is a set property, so every
    // member pair inherits its reps' verdict) and results expand back
    // through the membership map; intra-group pairs are J = 1.0 ≥ any t
    // by definition. Both paths exact; the gate is [[collapseEngaged]].
    val memb = setMembership(sortedAll)
    val collapse = collapseEngaged(memb)
    val sorted =
      if (!collapse) sortedAll
      else sortedAll
        .join(memb.filter(col("id") === col("rid")).select(col("id")), "id")
        // re-pin p partitions: the rep join's exchange AQE-coalesces this
        // small store to ~1 partition, and the checkpoint would freeze
        // that — serializing the prefix explode + candidate-exchange map
        // stage downstream (same trap as [[setSimSorted]]'s width pin)
        .repartition(Graft.width(docs.sparkSession), col("id"))
        .localCheckpoint(true)
    val cand = setSimCandidates(sorted, tPct)
    val repPairs = cand
      .join(sorted.select(col("id").as("a"), col("ws").as("wa"), col("n").as("na")), "a")
      .join(sorted.select(col("id").as("b"), col("ws").as("wb"), col("n").as("nb")), "b")
      .withColumn("inter", size(array_intersect(col("wa"), col("wb"))).cast("long"))
      .filter(lit(100) * col("inter") >= lit(tPct) * (col("na") + col("nb") - col("inter")))
      .select(col("a"), col("b"), col("inter"), col("na"), col("nb"))
    if (!collapse) return repPairs
    // expansion: rep verdicts fan out to members. The output contract is
    // a < b with (na, nb) = |A|, |B| — member ids need not preserve their
    // reps' order, so sizes swap with the endpoints when they flip.
    val cross = repPairs
      .join(memb.select(col("rid").as("a"), col("id").as("ma")), "a")
      .join(memb.select(col("rid").as("b"), col("id").as("mb")), "b")
      .select(least(col("ma"), col("mb")).as("a"),
        greatest(col("ma"), col("mb")).as("b"),
        col("inter"),
        when(col("ma") < col("mb"), col("na")).otherwise(col("nb")).as("na"),
        when(col("ma") < col("mb"), col("nb")).otherwise(col("na")).as("nb"))
    val mm = memb.filter(col("m") >= 2).select(col("rid"), col("id"))
    val intra = mm
      .join(mm.withColumnRenamed("id", "id2"), "rid")
      .filter(col("id") < col("id2"))
      .join(sorted.select(col("id").as("rid"), col("n")), "rid")
      .select(col("id").as("a"), col("id2").as("b"),
        col("n").as("inter"), col("n").as("na"), col("n").as("nb"))
    cross.unionByName(intra)
  }

  /** CLIQUE SUMMARY of the exact set-similarity join — what production
    * actually asks of a replica-heavy corpus (the q58-shaped answer):
    * one row per distinct token set (the [[setMembership]] clique),
    * with the clique's representative (min id), member count, and the
    * number of pairs of the FULL [[setSimJoin]] answer that touch the
    * clique — WITHOUT ever enumerating those pairs. The collapse
    * already proves the enumerated answer is output-bound on organic
    * k²; this surface removes the output term itself: a ×100-replicated
    * corpus whose enumerated answer is 29.7 billion rows summarizes in
    * base-join time, because every clique-level count is arithmetic
    * over the REPRESENTATIVE join —
    *
    *  - intra pairs: every member pair of an m-clique is Jaccard 1.0,
    *    so it contributes m·(m−1)/2 pairs, counted not enumerated;
    *  - cross pairs: a qualifying representative pair (r, r') expands
    *    to exactly m·m' member pairs (Jaccard is a set property), each
    *    touching both cliques once.
    *
    * Unlike [[setSimJoin]] this always runs the representative path —
    * there is no expansion to gate, and on an un-replicated corpus the
    * representatives ARE the corpus. Output: (rep, members,
    * organic_pairs) for every clique touching ≥ 1 qualifying pair;
    * a pair inside one clique counts once, a pair across two cliques
    * counts once in each — so Σ organic_pairs = pairs + cross-pairs,
    * and any clique's row is independently meaningful ("how duplicated
    * is this content, and how entangled with near-duplicates").
    */
  def setSimCliqueSummary(docs: DataFrame, tPct: Int): DataFrame = {
    require(tPct > 0 && tPct <= 100,
      s"setSimCliqueSummary: tPct in (0,100], got $tPct")
    val sortedAll = setSimSorted(docs)
    val memb = setMembership(sortedAll)
    val sizes = memb.groupBy(col("rid")).agg(count(lit(1)).as("m"))
      .localCheckpoint(true) // feeds both cross sides + intra + the final join
    val reps = sortedAll
      .join(memb.filter(col("id") === col("rid")).select(col("id")), "id")
      // re-pin p partitions before freezing (see [[setSimJoin]])
      .repartition(Graft.width(docs.sparkSession), col("id"))
      .localCheckpoint(true)
    val repPairs = setSimCandidates(reps, tPct)
      .join(reps.select(col("id").as("a"), col("ws").as("wa"), col("n").as("na")), "a")
      .join(reps.select(col("id").as("b"), col("ws").as("wb"), col("n").as("nb")), "b")
      .withColumn("inter", size(array_intersect(col("wa"), col("wb"))).cast("long"))
      .filter(lit(100) * col("inter") >= lit(tPct) * (col("na") + col("nb") - col("inter")))
      .select(col("a"), col("b"))
    val withSizes = repPairs
      .join(sizes.select(col("rid").as("a"), col("m").as("ma")), "a")
      .join(sizes.select(col("rid").as("b"), col("m").as("mb")), "b")
      .select(col("a"), col("b"), (col("ma") * col("mb")).as("pairs"))
      .localCheckpoint(true) // both attributions read it
    val cross = withSizes.select(col("a").as("rep"), col("pairs"))
      .unionByName(withSizes.select(col("b").as("rep"), col("pairs")))
    val intra = sizes.filter(col("m") >= 2)
      .select(col("rid").as("rep"), expr("(m * (m - 1)) div 2").as("pairs"))
    cross.unionByName(intra)
      .groupBy(col("rep")).agg(sum(col("pairs")).as("organic_pairs"))
      .join(sizes.select(col("rid").as("rep"), col("m").as("members")), "rep")
      .select(col("rep"), col("members"), col("organic_pairs"))
  }

  /** EXACT set-CONTAINMENT join with prefix filtering — the asymmetric
    * complement to [[setSimJoin]]: every ordered pair (a, b) where b's
    * token set covers ≥ t of A's (|A∩B| ≥ ⌈t·|A|⌉) — the quote/subset
    * detector (a doc wholly contained in a longer one has Jaccard far
    * below any dedup threshold but containment 1.0; Lee et al. 2022's
    * motivation for substring-level dedup, at set granularity).
    *
    * Pruning: the prefix theorem applies to A ALONE (pigeonhole over any
    * fixed global order: if B misses all of A's first n−⌈t·n⌉+1
    * df-ordered tokens, fewer than ⌈t·n⌉ of A's tokens can be in B), so
    * A explodes its prefix while B contributes its FULL token list —
    * there is no length filter (B may be any size) and no symmetric
    * prefix, which is exactly what makes containment harder than
    * Jaccard at scale: candidate volume is Σ_{A-prefix tokens} df(w).
    * The frequency order keeps hot tokens out of prefixes, which is the
    * whole fight. On top of the prefix prune, the FIRST-MATCH POSITIONAL
    * bound (the containment form of [[setSimParts]]'s PPJoin filter)
    * drops pairs whose best-possible overlap min(na−pa, nb−pb) cannot
    * reach ⌈t·na⌉ — evaluated on narrow position rows before the verify
    * (measured −24% on the 10× soak fixture, −13% at sf0.1).
    *
    * Round 16 adds the two defenses a replica-heavy corpus needs:
    *
    *  - EXACT-SET COLLAPSE: docs are grouped by an md5 of their sorted
    *    token set BEFORE the join; one representative per distinct set
    *    runs the algorithm and results expand back through the member
    *    map at the end (identical sets have identical overlap with
    *    everything, and intra-group pairs are containment 1.0 by
    *    definition — both exact). Candidate volume then scales with
    *    DISTINCT sets, not documents: a ×k-replicated corpus — whose
    *    candidate pairs otherwise grow k² (every df ×k AND every doc
    *    ×k, the shape that drained 54 GB of shuffle disk at ×100 in
    *    round 15) — collapses to the base-sized problem plus an
    *    output-bound clique expansion. Dedup-before-join, priced at one
    *    narrow md5 agg over the corpus.
    *
    *  - ADAPTIVE VERIFY: under `broadcastTokenBudget` total tokens the
    *    surviving candidates verify by broadcast-attaching both
    *    df-sorted arrays and `array_intersect` in place (no shuffle of
    *    candidate rows at all — measured 5.2 s vs 34 s at sf0.1's 6.1M
    *    candidates); past the budget — where the arrays can no longer
    *    broadcast and the old shape re-shuffled candidate × array-width
    *    bytes — the verify switches to NARROW-ROW matched-token
    *    counting: re-join candidates to the token table on the token
    *    key and count matches per pair (Σ_cand na narrow rows, a
    *    map-side-combinable agg, no array ever rides a candidate row
    *    through a shuffle). Same exact answer either way (toks are
    *    DISTINCT per row, so matched rows = |A∩B|); the switch is the
    *    operator-level analogue of Spark's own autoBroadcastJoinThreshold
    *    decision, made here because the payload is an exploded array the
    *    planner's row-count stats don't price.
    *
    * Input: (id, toks) with toks DISTINCT per row. Output:
    * (a, b, inter, na) for every qualifying ORDERED pair, a ≠ b —
    * asymmetric, so (a,b) and (b,a) are independent verdicts.
    */
  def containmentJoin(docs: DataFrame, tPct: Int,
      broadcastTokenBudget: Long = ContainmentBroadcastTokens): DataFrame = {
    require(tPct > 0 && tPct <= 100, s"containmentJoin: tPct in (0,100], got $tPct")
    // hash-keyed df aggregation + join — see [[setSimSorted]]: any shared
    // total order satisfies the prefix theorem, so the 8-byte hash key
    // replaces the token string through both exchanges
    val sortedAll = setSimSorted(docs) // p-width checkpointed store —
      // feeds collapse, prefix explode, B side, verify
    // exact-set collapse membership + concentration gate (shared with
    // [[setSimJoin]] — see [[setMembership]] / [[collapseEngaged]])
    val memb = setMembership(sortedAll)
    val collapse = collapseEngaged(memb)
    // under collapse the algorithm below sees REPRESENTATIVES only:
    // candidate volume scales with distinct sets, not documents (df
    // values keep their all-docs counts — only their ORDER matters to
    // the prefix theorem)
    val sorted =
      if (!collapse) sortedAll
      else sortedAll
        .join(memb.filter(col("id") === col("rid")).select(col("id")), "id")
        // re-pin p partitions before freezing (see [[setSimJoin]])
        .repartition(Graft.width(docs.sparkSession), col("id"))
        .localCheckpoint(true)
    val pref = sorted.select(col("id"), col("n"),
      posexplode(expr(s"slice(ws, 1, n - (($tPct * n + 99) div 100) + 1)"))
        .as(Seq("pa", "w")))
    // First-match positional bound — the containment form of the PPJoin
    // prune [[setSimParts]] carries: A's and B's common tokens occupy the
    // same relative order in both df-sorted arrays, and any common token
    // before a prefix position is itself in the prefix, so the FIRST
    // common token is the (min pa, min pb) match and bounds the overlap
    // at min(na − pa, nb − pb) (0-based positions). Pairs whose bound
    // cannot reach ⌈t·na⌉ are dropped HERE, on narrow position rows —
    // before the verify touches any token payload. This is the only
    // structural prune containment admits: no length filter exists for
    // it.
    // hash-keyed candidate join (see [[setSimPrefCand]]): collisions only
    // ADD candidate rows, and the min-position bound below can only
    // LOOSEN from extra rows (min over more positions) — a superset of
    // candidates, each verified exactly downstream
    val cand = pref.select(col("id").as("a"), col("n").as("na"),
        col("pa"), xxhash64(col("w")).as("wh"))
      .join(sorted.select(col("id").as("b"), col("n").as("nb"),
        posexplode(col("ws")).as(Seq("pb", "w")))
        .select(col("b"), col("nb"), col("pb"), xxhash64(col("w")).as("wh")), "wh")
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b"))
      .agg(min(col("pa")).as("pa"), min(col("pb")).as("pb"),
        max(col("na")).as("na"), max(col("nb")).as("nb"))
      .filter(least(col("na") - col("pa"), col("nb") - col("pb")) >=
        expr(s"($tPct * na + 99) div 100"))
      .select(col("a"), col("b"), col("na"))
    // total rep tokens — a 1-row probe over the already-checkpointed
    // store; this is the size the broadcast decision actually depends on
    val totRow = sorted.agg(sum(col("n"))).first()
    val totTokens = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
    val repPairs =
      if (totTokens <= broadcastTokenBudget) {
        // broadcast-array verify: candidates never shuffle — both sides
        // attach map-side and array_intersect runs in place
        cand
          .join(broadcast(sorted.select(col("id").as("a"), col("ws").as("wa"))), "a")
          .join(broadcast(sorted.select(col("id").as("b"), col("ws").as("wb"))), "b")
          .withColumn("inter", size(array_intersect(col("wa"), col("wb"))).cast("long"))
          .filter(lit(100) * col("inter") >= lit(tPct) * col("na"))
          .select(col("a"), col("b"), col("inter"), col("na"))
      } else {
        // narrow-row verify: matched-token counting — no array payload
        // ever rides a candidate row through a shuffle
        val tokA = sorted.select(col("id").as("a"), explode(col("ws")).as("w"))
        val tokB = sorted.select(col("id").as("b"), explode(col("ws")).as("w"))
        cand
          .join(tokA, "a")
          .join(tokB, Seq("b", "w"))
          .groupBy(col("a"), col("b"))
          .agg(max(col("na")).as("na"), count(lit(1)).as("inter"))
          .filter(lit(100) * col("inter") >= lit(tPct) * col("na"))
          .select(col("a"), col("b"), col("inter"), col("na"))
      }
    if (!collapse) return repPairs
    // ---- expansion: rep verdicts fan back out to members (overlap is a
    // set property, so every member pair inherits its reps' verdict),
    // plus the intra-group cliques — identical sets are containment 1.0
    // in both directions for any t ≤ 1. Both joins are output-bound.
    val cross = repPairs
      .join(memb.select(col("rid").as("a"), col("id").as("ma")), "a")
      .join(memb.select(col("rid").as("b"), col("id").as("mb")), "b")
      .select(col("ma").as("a"), col("mb").as("b"), col("inter"), col("na"))
    val mm = memb.filter(col("m") >= 2).select(col("rid"), col("id"))
    val intra = mm
      .join(mm.withColumnRenamed("id", "id2"), "rid")
      .filter(col("id") =!= col("id2"))
      .join(sorted.select(col("id").as("rid"), col("n")), "rid")
      .select(col("id").as("a"), col("id2").as("b"),
        col("n").as("inter"), col("n").as("na"))
    cross.unionByName(intra)
  }

  /** Token budget under which [[containmentJoin]]'s verify broadcasts
    * the df-sorted arrays (≈ a few hundred MB of hashed relation at
    * typical bigram widths); past it the narrow-row matched-token count
    * takes over. Exposed so tests and scale runs can force either path.
    */
  val ContainmentBroadcastTokens: Long = 3000000L

  /** The three phases of [[setSimJoin]], exposed so the soak can measure
    * the growth law of each: `sorted` = per-doc token arrays in global
    * (df, w) order, `pref` = the exploded prefix rows the self-join keys
    * on (Σ_w C(count_w, 2) over its token counts IS the raw join volume,
    * no join needed to measure it), `cand` = the filtered + distinct
    * candidate pairs the verify phase consumes.
    */
  def setSimParts(docs: DataFrame, tPct: Int): (DataFrame, DataFrame, DataFrame) = {
    require(tPct > 0 && tPct <= 100, s"setSimJoin: tPct in (0,100], got $tPct")
    val sorted = setSimSorted(docs)
    val (pref, cand) = setSimPrefCand(sorted, tPct)
    (sorted, pref, cand)
  }

  /** Per-doc tokens in global (df, w) order + the plain token array for
    * the verify intersect; materialized once — three consumers (both
    * candidate sides and the verify). The token-df-sort build shared by
    * [[setSimParts]] and [[setSimJoin]].
    */
  private def setSimSorted(docs: DataFrame): DataFrame = {
    // The global token order only has to be a TOTAL order shared by every
    // document for the prefix theorem to hold — rarest-first tuning needs
    // df counts, not exact ones. So frequencies aggregate and join on the
    // 8-byte xxhash64 of the token instead of the token string (guide
    // §2.3 narrower keys): the order becomes (df over hash groups, w) —
    // still total (w breaks ties), still frequency-ranked (64-bit
    // collisions are ~nonexistent at vocab scale, and a collision only
    // merges two tokens' df values — the order stays valid, the answer
    // exact because ws/n are untouched and the verify intersects real
    // tokens).
    // (widen() here was measured a net LOSS — q128 5.1→5.9 s min-of-3:
    // this tokenize map is ~0.6 s serialized, cheaper than the extra
    // exchange widen adds on the twice-consumed tok stream. widen() only
    // pays where the serialized map is md5-heavy — minhash, gram hashes.)
    val tok = docs.select(col("id"), explode(col("toks")).as("w"))
      .withColumn("wh", xxhash64(col("w")))
    val dfreq = tok.groupBy(col("wh")).agg(count(lit(1)).as("df"))
    // explicit p-width repartition on the grouping key BEFORE the groupBy:
    // the aggregation reuses this exchange (same key), so it costs no
    // extra shuffle — and the eager checkpoint then pins p partitions
    // instead of the 1-partition layout AQE coalesces this small store
    // to. Without it, EVERY downstream map stage over the store (prefix
    // explode + candidate-exchange write, the B-side explode, the verify
    // attach) runs as ONE task — a core-count-invariant serialized stage
    // (measured 4.3 s of the 9 s query at 32 cores; the save-width fix's
    // twin, guide §2.4).
    val p = Graft.width(docs.sparkSession)
    tok.join(dfreq, "wh")
      .repartition(p, col("id"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("w")))).as("ord"),
        count(lit(1)).as("n"))
      .select(col("id"), col("n"),
        expr("transform(ord, x -> x.w)").as("ws"))
      .localCheckpoint(true)
  }

  /** Candidate pairs over a (possibly collapsed) sorted store. */
  private def setSimCandidates(sorted: DataFrame, tPct: Int): DataFrame =
    setSimPrefCand(sorted, tPct)._2

  private def setSimPrefCand(sorted: DataFrame, tPct: Int): (DataFrame, DataFrame) = {
    // prefix length n - ceil(t*n) + 1; ceil(t*n) = (tPct*n + 99) div 100.
    // posexplode keeps each prefix token's position for the PPJoin
    // positional filter below.
    val pref = sorted.select(col("id"), col("n"),
      posexplode(expr(s"slice(ws, 1, n - (($tPct * n + 99) div 100) + 1)"))
        .as(Seq("p", "w")))
    // PPJoin positional filter (Xiao 2008): a match at (0-based) prefix
    // positions (pa, pb) bounds the overlap at 1 + min suffix length —
    // all common tokens sit at or after the FIRST common one in the
    // shared global order, so if even that bound misses the required
    // overlap o_min = ceil(t·(na+nb)/(1+t)) (integer form below), the
    // pair can't qualify through this match; a qualifying pair always
    // survives via its first common prefix token, so the prune is
    // lossless while cutting the candidate set before the distinct.
    // Note on PPJoin's ACCUMULATED bound (Xiao 2008 Alg. 1 — count the
    // pair's prefix matches c and bound overlap by c + min suffix
    // remainders after the LAST match): implemented and measured in
    // round 12, it pruned ZERO extra candidates on this corpus at both
    // t=0.80 and t=0.95 (identical 6,098,241 / 1,807,310 candidate
    // counts) while costing 26% more wall — the groupBy must carry
    // (c, positions, sizes) through the shuffle where `distinct` carries
    // bare (a, b). High thresholds make prefixes 1–3 tokens (c ≈ 1 ⇒
    // same bound); at t=0.80 the first-match bound already rejects the
    // same pairs. Kept: first-match per-row bound + narrow distinct.
    // the candidate equi-join keys on xxhash64(token) — 8 bytes through
    // the exchange instead of the token string (guide §2.3). Lossless: a
    // qualifying pair always shares a REAL prefix token (the prefix
    // theorem), whose hashes match; a 64-bit collision can only ADD a
    // candidate, and every candidate is verified exactly downstream.
    // EXPLICIT p-width on the prefix exchange (both join sides reuse it):
    // the hash keys shrank prefix rows so far below AQE's
    // minPartitionSize that the post-shuffle candidate stage coalesced
    // to ONE task — but AQE prices the exchange's INPUT bytes, and this
    // join's OUTPUT is the quadratic pair blow-up (measured: 760 KiB in,
    // 3.5M pair rows out, serialized through a single core at any core
    // count — the r20 q128 regression). A user-pinned width is exempt
    // from coalescing while leaving AQE's join-strategy rewrite free.
    val p = Graft.width(sorted.sparkSession)
    val prefH = pref.select(col("id"), col("n"), col("p"),
        xxhash64(col("w")).as("wh"))
      .repartition(p, col("wh"))
    val cand = prefH.select(col("id").as("a"), col("n").as("_na"),
        col("p").as("_pa"), col("wh"))
      .join(prefH.select(col("id").as("b"), col("n").as("_nb"),
        col("p").as("_pb"), col("wh")), "wh")
      .filter(col("a") < col("b"))
      .filter(lit(tPct) * greatest(col("_na"), col("_nb")) <=
        lit(100) * least(col("_na"), col("_nb")))
      .filter((lit(1L) + least(col("_na") - col("_pa") - 1,
          col("_nb") - col("_pb") - 1)) * lit(100 + tPct) >=
        lit(tPct) * (col("_na") + col("_nb")))
      .select(col("a"), col("b"))
      .distinct()
    (pref, cand)
  }
}
