package graft.operators

import graft.core.Graft
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search: exact, SQ8- and PQ-scored top-k scans,
  * SRP LSH and IVF candidate pruning, k-means and SemDeDup, and the
  * persisted mutual k-NN graph with its delta append and retire.
  *
  * Cross-engine exactness: every float element is quantized ONCE to a
  * scaled long, `round(x * 10^6)` — exact because float(24-bit) * 10^6
  * (20-bit) fits a double mantissa, and no float lands on a .5 boundary
  * (that would need a non-dyadic value). Dot products are then pure
  * integer multiply-adds (|sum| < 2^45, no overflow), bit-identical in
  * Spark and DuckDB, and convert exactly to double. Cosine is
  * scale-invariant so the 10^12 factor drops out of the identical op
  * tree. All vector math is codegen'd primitives — no UDFs, no boxed
  * decimals in the hot loop.
  *
  * The scoring core ([[normScaled]], [[cosScaled]], [[d2Scaled]] and the
  * three ranks [[topK]], [[nearestCells]], [[capCells]]) is the one place
  * those exact op trees and their id tiebreaks are written. Every surface
  * here scores and ranks through it; the DuckDB oracle SQL replays the
  * same trees by hand, as the independent reference.
  */
object Similarity {

  /** Quantize a float array to scaled longs: `round(x * 10^6)` per
    * element (exact + engine-identical, see object doc). Do this ONCE per
    * row; downstream dots are integer math.
    *
    * Native [[graft.functions.ScaleLongs]] kernel — the former
    * `transform(vec, x => round(x.cast("double") * 1000000d).cast("long"))`
    * is a higher-order function, which is CodegenFallback: it broke
    * whole-stage codegen on every encode/assign path and paid a
    * LambdaFunction + Cast + Round(BigDecimal) + Cast interpreted eval per
    * ELEMENT. Bit parity (incl. HALF_UP ties, null propagation, NaN/±Inf
    * cast) proven in VecOpsSpec against the HOF form.
    */
  def scaled(vec: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.toColumn(graft.functions.ScaleLongs(GraftBridge.toExpr(vec)))
  }

  /** Integer dot product of two pre-scaled long arrays — the native
    * [[graft.functions.DotLongs]] kernel (one tight long loop inside
    * whole-stage codegen; the prior `aggregate(zip_with(...))` form paid
    * a lambda invocation per element, and this dot sits under every
    * cosine/d² in the ANN, k-means, and semantic-dedup operators).
    * Same null contract as the HOF form: null array, length mismatch, or
    * null element → null.
    */
  def dotScaled(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.toColumn(graft.functions.DotLongs(
      GraftBridge.toExpr(a), GraftBridge.toExpr(b)))
  }

  /** Exact scaled dot product of two raw float-array columns. */
  def dotDecimal(a: Column, b: Column): Column = dotScaled(scaled(a), scaled(b))

  // ---- the scoring core: each exact op tree and tiebreak, written once

  /** Euclidean norm of a pre-scaled long array, as a double. */
  private def normScaled(sv: Column): Column =
    sqrt(dotScaled(sv, sv).cast("double"))

  /** Cosine of two pre-scaled vectors from their precomputed norms. */
  private def cosScaled(a: Column, b: Column, na: Column, nb: Column): Column =
    dotScaled(a, b).cast("double") / (na * nb)

  /** Exact squared distance `x·x − 2·x·c + c·c` of two pre-scaled
    * vectors, in integer math.
    */
  private def d2Scaled(x: Column, c: Column): Column =
    dotScaled(x, x) - lit(2L) * dotScaled(x, c) + dotScaled(c, c)

  /** Per-query top-k of scored (qid, `id`, cos) rows: cosine descending,
    * then the smaller id. Adds the int `rank` (≤ k).
    */
  private def topK(scored: DataFrame, id: String, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col(id))))
      .filter(col("rank") <= k)

  /** Nearest cells per `by` group of (…, cid, d2) rows: d² ascending,
    * then the smaller cid. Adds the int `rn` (≤ n).
    */
  private def nearestCells(scored: DataFrame, n: Int, by: String*): DataFrame =
    scored.withColumn("rn", row_number().over(
        Window.partitionBy(by.map(col): _*).orderBy(col("d2"), col("cid"))))
      .filter(col("rn") <= n)

  /** The per-cell centrality cap over (nid, cid, d2) members: each cell
    * keeps its `cap` members nearest its centroid, the smaller nid first
    * on equal d² — (nid, cid). Build, capped assign, append and retire
    * all (re-)rank serving lists through it.
    */
  private def capCells(members: DataFrame, cap: Long): DataFrame =
    members.withColumn("crn", row_number().over(
        Window.partitionBy(col("cid")).orderBy(col("d2"), col("nid"))))
      .filter(col("crn") <= cap)
      .select(col("nid"), col("cid"))

  /** Every (`id`, `vec`) row against every broadcast centroid, both sides
    * scaled: (`id`, xs, cid, cs, d2).
    */
  private def cellDistances(rows: DataFrame, id: String, vec: String,
                            centroids: DataFrame): DataFrame =
    rows.select(col(id), scaled(col(vec)).as("xs"))
      .crossJoin(broadcast(centroids.select(col("cid"), scaled(col("cvec")).as("cs"))))
      .withColumn("d2", d2Scaled(col("xs"), col("cs")))

  /** The exact vector store of (xid, xvec) rows: (xid, xs, norm), the
    * [[KnnIndex]] `xn` layout.
    */
  private def exactStore(rows: DataFrame): DataFrame =
    rows.select(col("xid"), scaled(col("xvec")).as("xs"))
      .withColumn("norm", normScaled(col("xs")))

  /** An exact store as a member store (xid, rx, xnorm): the exact vector
    * is its own reconstruction.
    */
  private def asMembers(xn: DataFrame): DataFrame =
    xn.select(col("xid"), col("xs").as("rx"), col("norm").as("xnorm"))

  /** The query side of every scan: (qid, qs, qnorm). */
  private def queryStore(queries: DataFrame): DataFrame =
    queries.select(col("qid"), scaled(col("qvec")).as("qs"))
      .withColumn("qnorm", normScaled(col("qs")))

  /** Query side (qs, qnorm) against member side (rx, xnorm). */
  private def queryCos: Column =
    cosScaled(col("qs"), col("rx"), col("qnorm"), col("xnorm")).as("cos")

  /** The public top-k shape of scored (qid, xid, cos) rows:
    * (qid, xid, cos, rank).
    */
  private def rankedTopK(scored: DataFrame, k: Int): DataFrame =
    topK(scored, "xid", k)
      .select(col("qid"), col("xid"), col("cos"), col("rank").cast("long").as("rank"))

  /** The one broadcast scan: the (small) query set against every row of
    * a member store (xid, rx, xnorm), per-query top-k (a partitioned
    * window, bounded per group — scale-safe). Norms are computed ONCE per
    * vector, not per pair: at N queries × M rows that turns 3·N·M dot
    * products into N·M + N + M.
    */
  private def scanTopK(queries: DataFrame, store: DataFrame, k: Int): DataFrame =
    rankedTopK(store.crossJoin(broadcast(queryStore(queries)))
      .select(col("qid"), col("xid"), queryCos), k)

  /** Cosine similarity over raw float arrays (scale factor cancels in the
    * identical double op tree).
    */
  def cosine(a: Column, b: Column): Column =
    cosScaled(scaled(a), scaled(b), normScaled(scaled(a)), normScaled(scaled(b)))

  /** Brute-force top-k of (qid, qvec) queries over an (xid, xvec) corpus:
    * the exact scan.
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    scanTopK(queries, asMembers(exactStore(corpus)), k)

  /** Sign-random-projection bucket id: bit j = 1 iff Σ_d vec[d]·sign[j][d] > 0.
    * `signs(j)(d)` ∈ {-1, 1} is a deterministic hyperplane matrix shared
    * (as literals) with the oracle.
    *
    * Sizing: expected bucket size = corpus / 2^planes, and within-bucket
    * scoring is quadratic in bucket size — [[srpPlanesFor]] derives the
    * plane count from a corpus estimate (∝ log₂ corpus), and
    * [[probeRadiusFor]] the matching multi-probe radius; the queries call
    * them with the runtime corpus count instead of hard-coding.
    */
  def srpBucket(vec: Column, signs: Seq[Seq[Int]]): Column =
    srpBucketScaled(scaled(vec), signs)

  /** Same, over an already-scaled long array (avoids re-quantizing when
    * the caller keeps the scaled column around).
    */
  def srpBucketScaled(sv: Column, signs: Seq[Seq[Int]]): Column = {
    val bits = signs.zipWithIndex.map { case (row, j) =>
      // the hyperplane test is a dot against a ±1 literal — same native
      // kernel as every other dot in this module
      val dot = dotScaled(sv, typedlit(row.map(_.toLong)))
      when(dot > 0, 1L << j).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** IVF (inverted-file) ANN: assign every corpus vector to its nearest
    * coarse centroid (the cell), probe only the query's `nProbe` nearest
    * cells, score candidates exactly. At 100 TB the corpus is partitioned
    * by cell id, so a query touches nProbe/nCells of the data — the
    * classic coarse-quantizer trade. Centroids come from the caller
    * (production: offline k-means; here a deterministic sample).
    * Distances compare as d² = |x|² − 2x·c + |c|² from exact decimal
    * moments, so assignments are engine-identical.
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      nProbe: Int, k: Int): DataFrame = {
    // distance of every corpus vector to every centroid (small C)
    val assign = nearestCells(cellDistances(corpus, "xid", "xvec", centroids), 1, "xid")
      .select(col("xid"), col("cid"))
    // probe cells are ranked from the QUERY vectors themselves — queries
    // need not be members of the corpus
    val cand = cellProbes(queries, centroids, nProbe).alias("p")
      .join(assign.alias("a"), col("p.cid") === col("a.cid"))
      .select(col("p.qid").as("qid"), col("a.xid").as("xid"))
    rankedTopK(cand
      .join(broadcast(queryStore(queries)), "qid")
      .join(asMembers(exactStore(corpus)), "xid")
      .select(col("qid"), col("xid"), queryCos), k)
  }

  /** Mutual k-NN GRAPH over the whole corpus — the all-vectors variant of
    * [[ivfTopK]] that curation pipelines build once and reuse (SemDeDup
    * clustering, duplicate neighborhoods, diversity sampling): every
    * vector finds its k nearest neighbors through the IVF cells, then
    * only MUTUAL edges (a ∈ knn(b) ∧ b ∈ knn(a)) survive, emitted
    * undirected as (a < b, cos).
    *
    * Scale shape: because queries == corpus, ONE corpus×centroid distance
    * pass serves both cell assignment (rank 1) and probe ranking
    * (rank ≤ nProbe) — ivfTopK would compute it twice. Per vector the
    * candidate set is its nProbe cells' members, ≈ nProbe/cells of the
    * corpus (cells^(−1/2) with the √-sizing), so total scoring work is
    * N²·cells^(−1/2), never the N² brute-force graph; the per-vector
    * top-k is a partitioned bounded rank, and the mutuality filter is an
    * equi self-join on the directed edge set (k·N rows — output-scale,
    * not corpus-scale). Candidates are exact: a neighbor in a probed
    * cell is scored with the full-precision scaled dot product.
    */
  def knnGraph(corpus: DataFrame, centroids: DataFrame,
               nProbe: Int, k: Int): DataFrame = {
    val directed = knnDirected(corpus, centroids, nProbe, k)
      .localCheckpoint(true) // both sides of the mutuality self-join
    mutualize(directed)
  }

  /** The shared candidate-geometry stage of [[knnDirected]] /
    * [[knnDirectedSq8]]: ONE corpus×centroid distance pass feeds both
    * cell assignment (rank 1) and probe ranking (rank ≤ nProbe).
    * Returns (probes (qid, cid), assign (nid, cid)) — candidates are
    * their cid equi-join, (qid, nid) unique by construction (nid lives
    * in exactly one cell and qid probes distinct cells). The PAIRS are
    * deliberately not materialized here: the scoring stages attach the
    * vector payloads to each SIDE first (corpus-scale shuffles) and meet
    * on the cell key, so the candidate explosion happens inside one
    * stage and drains straight into the map-side top-k prune
    * (WindowGroupLimit) — at 200k vectors the old pairs-first shape
    * re-shuffled ~5·10⁸ payload-wide rows (hundreds of GB) and ENOSPC'd
    * one box; this shape's shuffles are corpus-sized + k·N narrow rows.
    */
  private[graft] def knnProbesAndAssign(corpus: DataFrame, centroids: DataFrame,
                                        nProbe: Int,
                                        capPerCell: Long): (DataFrame, DataFrame) = {
    val ranked = cellRanked(corpus, centroids, nProbe)
    // Per-cell candidate cap (the production posture past ~100k vectors):
    // each cell's SERVABLE member list is its capPerCell most central
    // members (rank by d2 to the OWN centroid — the d2 the rn=1 row
    // already carries, so capping costs one bounded per-cell window, no
    // extra distance pass). Per-query work is then ≤ nProbe·cap dots
    // regardless of cell skew. Query-independent ordering keeps the cap
    // deterministic and oracle-expressible; members past the cap still
    // QUERY (they appear as qid), they just stop being scanned as
    // neighbors.
    val assign =
      if (capPerCell == Long.MaxValue)
        ranked.filter(col("rn") === 1)
          .select(col("xid").as("nid"), col("cid"))
      else
        capCells(ranked.filter(col("rn") === 1)
          .select(col("xid").as("nid"), col("cid"), col("d2")), capPerCell)
    (ranked.select(col("xid").as("qid"), col("cid")), assign)
  }

  /** One corpus×centroid distance pass, ranked per vector and
    * checkpointed — the shared geometry table of the knn-graph family:
    * rn = 1 is the cell assignment (carrying its own-centroid d2, the
    * centrality the per-cell cap ranks by), rn ≤ nProbe are the probe
    * cells. Exposed separately so [[knnGraphBuild]] can persist the
    * assignment WITH d2 (what a touched cell re-ranks by at serve time)
    * and so a delta append ranks its vectors under FROZEN centroids with
    * the exact same expression tree a full rebuild would use.
    */
  private[graft] def cellRanked(corpus: DataFrame, centroids: DataFrame,
                                nProbe: Int): DataFrame = {
    nearestCells(cellDistances(corpus, "xid", "xvec", centroids)
        .select(col("xid"), col("cid"), col("d2")), math.max(nProbe, 1), "xid")
      .localCheckpoint(true) // one distance pass feeds assign AND probes
  }

  /** The directed per-vector top-k stage of [[knnGraph]], exposed
    * pre-checkpoint so its plan (bounded rank, equi candidate join) is
    * assertable — checkpointing in knnGraph makes it opaque there.
    */
  private[graft] def knnDirected(corpus: DataFrame, centroids: DataFrame,
                                 nProbe: Int, k: Int): DataFrame = {
    val (probes, assign) = knnProbesAndAssign(corpus, centroids, nProbe, Long.MaxValue)
    val xn = exactStore(corpus)
      .localCheckpoint(true) // reused on both sides of the scoring join
    scoreDirected(probes, assign, asMembers(xn), xn, k)
  }

  /** [[knnGraph]] scored over SQ8 CODES — the production serving shape
    * at corpus scale (COVERAGE's 500k-vector posture, made a registered
    * variant): candidate structure identical to the exact graph (one
    * corpus×centroid pass, probed-cell equi join), but the NEIGHBOR side
    * of every candidate dot reads the one-byte-per-coordinate
    * reconstruction ([[sq8EncodeScaled]] — the q124/[[ivfSq8Serve]]
    * storage layer) instead of the raw vector: the resident store is 4×
    * smaller and a scoring pass touches codes, never the float corpus.
    * Scoring is asymmetric (exact query side against reconstructed
    * neighbor side, the standard ADC trade), so cos(a→b) ≠ cos(b→a) by
    * a quantization hair; the mutual edge keeps the a<b direction's
    * value. Same N²·cells^(−1/2) candidate volume as [[knnGraph]] —
    * SQ8 bounds MEMORY, the coarse cells bound COMPUTE.
    *
    * A finite `capPerCell` ([[knnCellCapFor]]) is the full production
    * posture past ~100k vectors: SQ8 codes bound the resident store (4×
    * smaller), coarse cells bound the scan fraction (nProbe/cells), and
    * the per-cell cap bounds the candidate SHUFFLE (≤ N·nProbe·cap rows
    * no matter how skewed the cells are — the uncapped graph's failure
    * mode at 200k vectors was exactly this shuffle exceeding one box's
    * disk). Capped candidates are a strict subset of the uncapped
    * graph's; RecallSpec floors the edge recall against uncapped scoring.
    */
  def knnGraphSq8(corpus: DataFrame, centroids: DataFrame,
                  nProbe: Int, k: Int,
                  capPerCell: Long = Long.MaxValue): DataFrame = {
    val directed = knnDirectedSq8(corpus, centroids, nProbe, k, capPerCell)
      .localCheckpoint(true) // both sides of the mutuality self-join
    mutualize(directed)
  }

  /** Per-cell servable-list cap for the all-vectors graphs: the average
    * cell population ⌈n/cells⌉ (floored at k+1 so a thin corpus still
    * has k scannable neighbors). At this cap the candidate join is
    * bounded by N·nProbe·⌈n/cells⌉ — exactly the volume a perfectly
    * BALANCED index would produce — so the cap removes the skew excess
    * (a fat cell's members being rescanned by every probe of that cell)
    * while leaving balanced indexes untouched; it binds on every
    * above-average cell at any scale. Tightening further trades recall
    * for shuffle: a member past the cap can still query but can no
    * longer be scanned as a neighbor, and a MUTUAL edge needs both
    * endpoints servable, so edge recall falls roughly with the square of
    * the servable fraction (RecallSpec measures it; the registered q167c
    * floor is set from that measurement).
    */
  def knnCellCapFor(n: Long, cells: Int, k: Int): Long =
    math.max(k + 1L, math.ceil(n.toDouble / cells).toLong)

  /** Directed SQ8-scored top-k stage of [[knnGraphSq8]], exposed like
    * [[knnDirected]] for plan assertions and recall floors.
    */
  private[graft] def knnDirectedSq8(corpus: DataFrame, centroids: DataFrame,
                                    nProbe: Int, k: Int,
                                    capPerCell: Long = Long.MaxValue): DataFrame = {
    val (probes, assign) = knnProbesAndAssign(corpus, centroids, nProbe, capPerCell)
    scoreDirected(probes, assign, sq8EncodeScaled(corpus), exactStore(corpus), k)
  }

  /** Persisted-artifact BUILD of the capped SQ8-scored mutual k-NN graph
    * ([[knnGraphSq8]] with a cap, decomposed into the q183/q150c build/serve
    * contract): everything query-independent a daily pipeline stores —
    * the frozen index CONFIG (centroids, SQ8 quantizer stats, per-cell
    * cap, probe count, k) plus the artifact tables a delta append serves
    * from. All checkpointed — the parquet tables a production build
    * writes once.
    *
    *  - `assignD2` (nid, cid, d2): every member's own cell WITH its
    *    centrality — what a touched cell re-ranks by at serve time
    *  - `servable` (nid, cid): the capped per-cell serving lists
    *  - `probes` (qid, cid): each member's nProbe probe cells (frozen —
    *    centroids don't move between re-indexes)
    *  - `enc` (xid, rx, xnorm): the SQ8 code store; `xn` (xid, xs, norm):
    *    the exact query-side store
    *  - `directed` (qid, nid, cos): the full directed top-k
    */
  final case class KnnIndex(
      centroids: DataFrame, stats: Seq[(Long, Long)],
      xn: DataFrame, enc: DataFrame,
      assignD2: DataFrame, servable: DataFrame, probes: DataFrame,
      directed: DataFrame, nProbe: Int, k: Int, cap: Long)

  def knnGraphBuild(corpus: DataFrame, centroids: DataFrame,
                    nProbe: Int, k: Int, cap: Long): KnnIndex = {
    val cents = centroids.localCheckpoint(true)
    val ranked = cellRanked(corpus, cents, nProbe)
    val assignD2 = ranked.filter(col("rn") === 1)
      .select(col("xid").as("nid"), col("cid"), col("d2"))
      .localCheckpoint(true)
    val servable = capCells(assignD2, cap).localCheckpoint(true)
    val probes = ranked.select(col("xid").as("qid"), col("cid"))
      .localCheckpoint(true)
    val stats = sq8StatsOf(corpus)
    val enc = sq8EncodeFrozen(corpus, stats)
    val xn = exactStore(corpus).localCheckpoint(true)
    val directed = scoreDirected(probes, servable, enc, xn, k)
      .localCheckpoint(true)
    KnnIndex(cents, stats, xn, enc, assignD2, servable, probes, directed,
      nProbe, k, cap)
  }

  /** The directed scoring path of every all-vectors graph over explicit
    * tables: probes (qid, cid), servable members (nid, cid), the member
    * store `enc` (xid, rx, xnorm) — SQ8 codes, or an exact store through
    * [[asMembers]] — and the exact query-side store `xn` (xid, xs, norm).
    * Payloads attach to each SIDE (exact query vectors to the probe side,
    * member vectors to the servable side; corpus-scale shuffles), the
    * sides meet on the cell key, and the per-query top-k prunes map-side
    * (WindowGroupLimit) — the candidate explosion never writes a shuffle
    * (see [[knnProbesAndAssign]]'s scale note). Returns (qid, nid, cos).
    */
  private[graft] def scoreDirected(probes: DataFrame, servable: DataFrame,
                                   enc: DataFrame, xn: DataFrame,
                                   k: Int): DataFrame =
    directedTopK(probes
      .join(xn.select(col("xid").as("qid"), col("xs").as("qs"),
        col("norm").as("qnorm")), "qid")
      .join(servable
        .join(enc.select(col("xid").as("nid"), col("rx"), col("xnorm")), "nid"), "cid")
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), queryCos), k)

  /** The stored top-k shape of scored (qid, nid, cos) rows. */
  private def directedTopK(scored: DataFrame, k: Int): DataFrame =
    topK(scored, "nid", k).select(col("qid"), col("nid"), col("cos"))

  /** The a<b mutual-edge closure of a directed top-k list — the final
    * stage every graph surface shares ([[knnGraphBuild]]'s serve, the
    * retire path, and the chained-append soak all emit it).
    */
  private[graft] def mutualize(directed: DataFrame): DataFrame =
    directed.alias("f")
      .join(directed.alias("r"),
        col("f.qid") === col("r.nid") && col("f.nid") === col("r.qid"))
      .filter(col("f.qid") < col("f.nid"))
      .select(col("f.qid").as("a"), col("f.nid").as("b"), col("f.cos").as("cos"))

  /** APPEND a delta against [[knnGraphBuild]] artifacts and return the
    * UPDATED index — the incremental maintenance a daily pipeline runs
    * between full re-indexes (the q183/q150c contract, closing the one
    * build/serve family that still rebuilt wholesale). Returning the
    * refreshed [[KnnIndex]] (not just edges) is what lets consecutive
    * deltas CHAIN: k 1% appends compound to the one 5% append
    * (KnnIncrementalSpec asserts the chain ≡ one-shot parity). The index
    * CONFIG is frozen: delta vectors assign + probe under the build's
    * centroids, encode under its quantizer (clamped —
    * [[sq8EncodeFrozen]]), and cells keep the build-time cap. Then:
    *
    *  1. TOUCHED cells — those a delta member assigned into — re-rank
    *     their servable list over base ∪ delta members (the
    *     query-independent centrality order makes the re-rank exact,
    *     displacement of a now-over-cap base member included);
    *     untouched cells keep their artifact lists verbatim.
    *  2. The work then splits by what each query's candidate set could
    *     have lost, not just gained. A query whose STORED top-k kept all
    *     its members needs no re-score at all: its candidates changed
    *     only by inserted delta members and displaced non-top-k members,
    *     and removing candidates outside a top-k never changes it — so
    *     the exact new list is top-k(stored ∪ inserted-member scores),
    *     a MERGE over ≤ 2k rows per query after the inserted members
    *     rank through the cell-meet core. Only queries with a DISPLACED
    *     stored neighbor (promotions become possible) re-score fully,
    *     plus every delta vector; everyone not probing a touched cell
    *     splices in verbatim.
    *  3. [[knnGraphServe]] runs the mutual join over the spliced
    *     directed lists.
    *
    * The spliced directed list is bit-for-bit the full rebuild's under
    * the same frozen config — q167d's brute oracle IS that rebuild, and
    * KnnIncrementalSpec asserts the two-way exceptAll emptiness
    * in-engine. Serve cost: |delta|·cells broadcast assignment +
    * touched-cell re-rank + Σ_inserted(probe in-degree) merge-ranking +
    * (displacement-hit ∪ delta)·nProbe·cap full scoring — every term
    * delta-driven; the affected-query count never multiplies nProbe·cap.
    * Ids must be unique across base ∪ delta (the append contract;
    * [[knnGraphRetire]] frees an id for genuine re-insertion). The
    * returned index checkpoints only delta-sized pieces plus the narrow
    * servable/directed tables; the wide vector/code tables stay lazy
    * unions over the already-checkpointed inputs, so chaining never
    * re-materializes the base payloads.
    */
  def knnGraphAppend(idx: KnnIndex, delta: DataFrame): KnnIndex = {
    // narrow views of cellRanked's checkpoint: no recompute to cut
    val dRanked = cellRanked(delta, idx.centroids, idx.nProbe)
    val dAssign = dRanked.filter(col("rn") === 1)
      .select(col("xid").as("nid"), col("cid"), col("d2"))
    val dProbes = dRanked.select(col("xid").as("qid"), col("cid"))
    val touched = dAssign.select(col("cid")).distinct().localCheckpoint(true)
    val servTouched = capCells(idx.assignD2.unionByName(dAssign)
        .join(broadcast(touched), "cid"), idx.cap)
      .localCheckpoint(true) // feeds servNew, inserted, displaced
    val servNew = idx.servable
      .join(broadcast(touched), Seq("cid"), "left_anti")
      .unionByName(servTouched)
    // the LIST DELTAS — what actually changed, both bounded by |delta|:
    // delta members that entered serving lists, and the base members
    // their arrival displaced (the cap is fixed, so one in ≈ one out)
    val inserted = servTouched
      .join(idx.servable, Seq("nid", "cid"), "left_anti")
      .localCheckpoint(true)
    val displaced = idx.servable.join(broadcast(touched), "cid")
      .join(servTouched, Seq("nid", "cid"), "left_anti")
    // wide payloads: checkpoint ONLY the delta pieces (sq8EncodeFrozen
    // checkpoints internally); the unions stay lazy over checkpointed
    // inputs so the base vectors never re-materialize on a chained serve
    val encAll = idx.enc.unionByName(sq8EncodeFrozen(delta, idx.stats))
    val xnAll = idx.xn.unionByName(exactStore(delta).localCheckpoint(true))
    // FULL re-score only where the merge shortcut below is inexact: a
    // query whose STORED neighbor was displaced (promotions from outside
    // the stored top-k become possible, so the stored list is no longer
    // a sufficient summary). Every stored neighbor was servable, and a
    // displaced member's cell is touched, so fullQ ⊆ affected queries —
    // and it is displacement-bounded, not affected-bounded.
    val fullQ = idx.directed
      .join(displaced.select(col("nid")), "nid")
      .select(col("qid")).distinct()
      .localCheckpoint(true)
    val fullDirected = scoreDirected(
      idx.probes.join(fullQ, "qid").unionByName(dProbes),
      servNew, encAll, xnAll, idx.k)
    // INCREMENTAL merge for every other query probing a touched cell:
    // its candidate set changed only by (inserted ∪ displaced) members
    // of its touched probe cells and none of its stored top-k left.
    // Candidate volume is Σ_inserted (probe in-degree of its cell) —
    // delta-driven, never affected × nProbe × cap.
    val directed = spliceTopK(idx, idx.probes, touched, fullQ, fullDirected,
      inserted, encAll, xnAll)
    KnnIndex(idx.centroids, idx.stats, xnAll, encAll,
      idx.assignD2.unionByName(dAssign),
      servNew.localCheckpoint(true), // narrow (nid, cid); flattens chains
      idx.probes.unionByName(dProbes),
      directed, idx.nProbe, idx.k, idx.cap)
  }

  /** The merge-and-splice tail of [[knnGraphAppend]] and
    * [[knnGraphRetire]]: replace the stored top-k lists of the affected
    * queries and keep everyone else's verbatim. A query probing one of
    * `cells` (where serving lists may have gained the `added` members)
    * and outside the full re-score set `fullQ` MERGES: its stored top-k
    * kept all its members, and removing candidates outside a top-k never
    * changes it, so top-k(stored ∪ added-member scores) is exact — the
    * added members rank through [[scoreDirected]] (bounded at k per
    * query, map-side pruned), then one window over ≤ 2k rows per query.
    * `fullQ`'s lists are replaced by `rescored`, and the `gone` queries
    * (retired ids) drop.
    */
  private def spliceTopK(idx: KnnIndex, probes: DataFrame, cells: DataFrame,
                         fullQ: DataFrame, rescored: DataFrame,
                         added: DataFrame, enc: DataFrame, xn: DataFrame,
                         gone: DataFrame*): DataFrame = {
    val incrProbes = probes.join(broadcast(cells), "cid")
      .join(fullQ, Seq("qid"), "left_anti")
      .localCheckpoint(true) // feeds the ranking AND the splice key set
    val addTopK = scoreDirected(incrProbes, added, enc, xn, idx.k)
    val incrQ = incrProbes.select(col("qid")).distinct()
    val merged = directedTopK(
      idx.directed.join(incrQ, "qid").unionByName(addTopK), idx.k)
    val dropped = (Seq(incrQ, fullQ) ++ gone).reduce(_ unionByName _)
      .localCheckpoint(true)
    idx.directed.join(dropped, Seq("qid"), "left_anti")
      .unionByName(merged)
      .unionByName(rescored)
      .localCheckpoint(true) // both sides of the mutuality self-join
  }

  /** SERVE a delta append: the mutual k-NN edges after [[knnGraphAppend]]
    * folds the delta into the artifacts — the one-shot surface q167d
    * pins (its oracle is the frozen-config full rebuild).
    */
  def knnGraphServe(idx: KnnIndex, delta: DataFrame): DataFrame =
    mutualize(knnGraphAppend(idx, delta).directed)

  /** RETIRE vectors from [[knnGraphBuild]] artifacts (tombstone deletes)
    * and return the updated index — the dual of [[knnGraphAppend]],
    * closing the append-only gap: a daily pipeline must also UN-index
    * documents (takedowns, TTL expiry, re-crawled replacements). The
    * artifacts already contain everything an exact delete needs because
    * `assignD2` keeps EVERY member with its centrality d², serving or
    * not — so a tombstoned cell re-ranks exactly and previously over-cap
    * members re-promote. The work splits the same displacement-dual way:
    *
    *  1. TOUCHED cells — those a deleted member was ASSIGNED to — re-rank
    *     their servable lists over the surviving members (promotions
    *     only: with fewer members every survivor's rank can only
    *     improve, so no displacement exists on the delete path).
    *  2. A query whose STORED top-k LOST a deleted neighbor must
    *     re-score fully (demotions from inside the stored top-k make the
    *     stored list an insufficient summary — the exact dual of
    *     append's displacement split). Every other query affected only
    *     by PROMOTED members takes the ≤2k-row MERGE
    *     top-k(stored ∪ promoted-member scores); candidates it lost were
    *     outside its stored top-k, and removing candidates outside a
    *     top-k never changes it. Queries probing no promoted cell splice
    *     verbatim. Deleted ids drop from both sides (they neither query
    *     nor serve).
    *
    * Parity: the updated directed list equals the frozen-config rebuild
    * over (members \ ids) — KnnIncrementalSpec asserts the two-way
    * exceptAll, and the mixed append/retire chain compounds exactly.
    * Cost: every term is tombstone-driven — |ids| broadcast anti-joins,
    * touched-cell re-ranks, Σ_promoted(probe in-degree) merge-ranking,
    * (lost-neighbor queries)·nProbe·cap full scoring. `ids` is the
    * tombstone batch (first column taken as the id), broadcast-sized by
    * contract.
    */
  def knnGraphRetire(idx: KnnIndex, ids: DataFrame): KnnIndex = {
    val del = ids.select(col(ids.columns.head).cast("long").as("nid"))
      .distinct().localCheckpoint(true)
    val delQ = del.select(col("nid").as("qid"))
    val delX = del.select(col("nid").as("xid"))
    val touched = idx.assignD2.join(broadcast(del), "nid")
      .select(col("cid")).distinct().localCheckpoint(true)
    val assignNew = idx.assignD2.join(broadcast(del), Seq("nid"), "left_anti")
    val servTouched = capCells(assignNew.join(broadcast(touched), "cid"), idx.cap)
      .localCheckpoint(true) // feeds servNew and promoted
    val servNew = idx.servable
      .join(broadcast(touched), Seq("cid"), "left_anti") // untouched cells hold no deleted member
      .unionByName(servTouched)
      .localCheckpoint(true)
    // the LIST DELTA — promotions only (see doc): ex-over-cap members now
    // serving, bounded by |ids| (cap fixed: one out frees at most one in)
    val promoted = servTouched
      .join(idx.servable, Seq("nid", "cid"), "left_anti")
      .localCheckpoint(true)
    val encNew = idx.enc.join(broadcast(delX), Seq("xid"), "left_anti")
    val xnNew = idx.xn.join(broadcast(delX), Seq("xid"), "left_anti")
    // FULL re-score where the merge shortcut is inexact: a stored top-k
    // that lost a deleted neighbor (the delete-side dual of displacement)
    val fullQ = idx.directed.join(broadcast(del), "nid")
      .select(col("qid")).distinct()
      .join(broadcast(delQ), Seq("qid"), "left_anti")
      .localCheckpoint(true)
    val probesNew = idx.probes.join(broadcast(delQ), Seq("qid"), "left_anti")
    val fullDirected = scoreDirected(
      probesNew.join(fullQ, "qid"), servNew, encNew, xnNew, idx.k)
    // INCREMENTAL merge for queries probing a cell with a promotion:
    // their stored top-k lost nothing (else fullQ); deleted ids drop
    val directed = spliceTopK(idx, probesNew,
      promoted.select(col("cid")).distinct(), fullQ, fullDirected,
      promoted, encNew, xnNew, delQ)
    KnnIndex(idx.centroids, idx.stats, xnNew, encNew, assignNew,
      servNew, probesNew, directed, idx.nProbe, idx.k, idx.cap)
  }

  /** PERSIST [[knnGraphBuild]] artifacts as parquet tables — the piece
    * that turns the measured in-session build/serve amortization into
    * the deployable daily-pipeline shape (build job writes once, every
    * later session serves from disk; the reference's MapFileOutputFormat
    * persisted-store + getEntry lookup split,
    * `src/mapred/org/apache/hadoop/mapred/MapFileOutputFormat.java:109`).
    * The table layout is [[KnnFamily]]'s `write`. Saves are
    * CRASH-ATOMIC ([[graft.core.IndexStore]] — the FileOutputCommitter
    * two-phase discipline at index granularity): a crash between table
    * writes can never leave a torn store a loader would serve from —
    * [[knnIndexLoad]] always resolves the latest COMMITTED version.
    * `lastBatch` persists a streaming ingest's replay cursor; −1 for
    * non-streaming saves.
    */
  def knnIndexSave(idx: KnnIndex, path: String,
                   lastBatch: Long = -1L): graft.core.IndexStore.Commit =
    graft.core.IndexFamily.save(idx, path, lastBatch)(KnnFamily)

  /** Reconstitute a [[KnnIndex]] from [[knnIndexSave]] artifacts in a
    * FRESH session, from the latest COMMITTED version — a save that
    * crashed between tables is invisible.
    */
  def knnIndexLoad(s: org.apache.spark.sql.SparkSession,
                   rootPath: String): KnnIndex =
    graft.core.IndexFamily.load(s, rootPath)(KnnFamily)._2

  /** The k-NN family's instance of the shared index lifecycle
    * ([[graft.core.IndexFamily]]: save, load, maintain, streaming
    * ingest).
    */
  implicit object KnnFamily extends graft.core.IndexFamily[KnnIndex] {
    def session(idx: KnnIndex): org.apache.spark.sql.SparkSession =
      idx.centroids.sparkSession

    /** Layout is the 100 TB one: the per-member table (codes,
      * centrality d², serving flag) is PARTITIONED BY CELL ID, as are
      * the probe lists, so a serve's touched-cell and probed-cell reads
      * prune to directories instead of scanning the corpus; centroids,
      * the frozen quantizer, and the config are small unpartitioned
      * tables. One member row per vector: every member has exactly one
      * rn=1 assignment, so codes/assignment/serving-flag fold into a
      * single cell-partitioned table instead of three stores.
      */
    def write(idx: KnnIndex, path: String): Unit = {
      val s = idx.centroids.sparkSession
      import s.implicits._
      idx.centroids.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/centroids")
      // config + quantizer stats merged into ONE 1-row `meta` table (stats
      // as dim-ordered arrays): one write job and one read action per
      // save/load cycle instead of two+ of each (the arc lanes load 3x)
      Seq((idx.nProbe.toLong, idx.k.toLong, idx.cap,
        idx.stats.map(_._1), idx.stats.map(_._2)))
        .toDF("n_probe", "k", "cap", "mns", "rngs")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
      // repartition BY cid before partitionBy: each cell's rows land in one
      // task, so the store writes ~one file per cell, not tasks × cells.
      // The count is EXPLICIT (session shuffle parallelism): without it AQE
      // coalesces the small shuffle to one partition and a single task
      // writes every cell directory sequentially — the measured bulk of
      // the save wall. One file per cell either way.
      val p = Graft.width(s)
      idx.enc
        .join(idx.assignD2.select(col("nid").as("xid"), col("cid"), col("d2")), "xid")
        .join(idx.servable.select(col("nid").as("xid"), col("cid"),
          lit(true).as("serving")), Seq("xid", "cid"), "left")
        .na.fill(false, Seq("serving"))
        .repartition(p, col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(s"$path/members")
      idx.xn.write.mode("overwrite").parquet(s"$path/xn")
      idx.probes.repartition(p, col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(s"$path/probes")
      idx.directed.write.mode("overwrite").parquet(s"$path/directed")
    }

    /** Every frame a FileScan over the saved tables (no in-session
      * lineage — q167e's PlanSpec guard), cell-partitioned where the
      * serve path joins on cells. Partition-column inference types `cid`
      * from directory names, so it is cast back to long and columns
      * re-selected in the build-time order.
      */
    def read(s: org.apache.spark.sql.SparkSession, path: String): KnnIndex = {
      // EXPLICIT schemas (matching the save's inferred layout bit-for-bit,
      // partition columns in their inferred type and position): a schema'd
      // read skips the per-table footer-inference job, so a load costs ONE
      // driver action (the meta row) instead of ~7 (guide §6)
      import org.apache.spark.sql.types.StructType
      def rd(t: String, ddl: String) =
        s.read.schema(StructType.fromDDL(ddl)).parquet(s"$path/$t")
      val m = rd("meta",
        "n_probe BIGINT,k BIGINT,cap BIGINT,mns ARRAY<BIGINT>,rngs ARRAY<BIGINT>")
        .first()
      val stats = m.getAs[scala.collection.Seq[Long]]("mns")
        .zip(m.getAs[scala.collection.Seq[Long]]("rngs")).toSeq
      val centroids = rd("centroids", "cid BIGINT,cvec ARRAY<FLOAT>")
        .select(col("cid"), col("cvec"))
      val members = rd("members",
        "xid BIGINT,rx ARRAY<BIGINT>,xnorm DOUBLE,d2 BIGINT,serving BOOLEAN,cid INT")
      val cidL = col("cid").cast("long").as("cid")
      KnnIndex(
        centroids, stats,
        rd("xn", "xid BIGINT,xs ARRAY<BIGINT>,norm DOUBLE")
          .select(col("xid"), col("xs"), col("norm")),
        members.select(col("xid"), col("rx"), col("xnorm")),
        members.select(col("xid").as("nid"), cidL, col("d2")),
        members.filter(col("serving")).select(col("xid").as("nid"), cidL),
        rd("probes", "qid BIGINT,cid INT").select(col("qid"), cidL),
        rd("directed", "qid BIGINT,nid BIGINT,cos DOUBLE")
          .select(col("qid"), col("nid"), col("cos")),
        m.getAs[Long]("n_probe").toInt, m.getAs[Long]("k").toInt,
        m.getAs[Long]("cap"))
    }

    /** A micro-batch of (xid, xvec) rows through [[knnGraphAppend]]. */
    def append(idx: KnnIndex, batch: DataFrame): Option[KnnIndex] =
      if (batch.isEmpty) None else Some(knnGraphAppend(idx, batch))

    /** The wide tables only: the narrow serve-path frames already
      * checkpoint inside every append.
      */
    def flatten(idx: KnnIndex): KnnIndex = idx.copy(
      xn = idx.xn.localCheckpoint(true),
      enc = idx.enc.localCheckpoint(true),
      assignD2 = idx.assignD2.localCheckpoint(true),
      probes = idx.probes.localCheckpoint(true))

    def dials(base: => KnnIndex, cur: KnnIndex, n: => Long): DataFrame =
      knnStaleness(base, cur)

    /** Geometry, centroids and quantizer all re-derive from the raw
      * (xid, xvec) corpus; k carries over.
      */
    def rebuild(cur: KnnIndex, corpus: DataFrame, n: => Long): KnnIndex = {
      val cells = ivfCellsFor(n)
      val cents = corpus.orderBy(col("xid")).limit(cells)
        .select(col("xid").as("cid"), col("xvec").as("cvec"))
      knnGraphBuild(corpus, cents, ivfProbesFor(cells), cur.k,
        knnCellCapFor(n, cells, cur.k))
    }
  }

  /** CONFIG-STALENESS probe over persisted index artifacts — the cheap
    * trigger a pipeline schedules its re-train on, turning the measured
    * staleness dial (RecallSpec: 1% daily delta → frozen ≡ retrained,
    * recall 1.000; a pathological 33% append → 0.456) into an operator.
    * The incremental serve is EXACT vs the frozen config by
    * construction; what decays is the CONFIG itself — and each of its
    * three decay modes is visible in artifacts the store already holds,
    * so the probe costs three bounded narrow aggregations and never
    * touches raw vectors:
    *
    *  - GEOMETRY: cells/probes derive from √n at build time; the probe
    *    re-derives [[ivfCellsFor]] from the CURRENT member count and
    *    fires when it exceeds the frozen cell count by `geometryFactor`
    *    (the 33%-append regime — per-cell occupancy, and with it
    *    per-query scan cost, has outgrown the build's sizing).
    *  - QUANTIZER: appended codes encode CLAMPED under the frozen SQ8
    *    range; a distribution shift shows up as appended coordinates
    *    saturating at the byte bounds. The probe compares the
    *    boundary-code rate of appended members (codes not in the base
    *    store) against the base's own rate — at build time only the
    *    per-dim extremes sit on a bound, so the base rate is the
    *    calibration — and fires past `max(clampFloor,
    *    clampFactor·base)`. Detected from the stored reconstructions
    *    alone: code 0 ⇔ rx_d = 255·mn_d, code 255 ⇔ rx_d = 255·(mn_d +
    *    rng_d) (zero-range dims excluded — their single code is not a
    *    saturation signal). The calibration side reads a deterministic
    *    ~64k-code residue sample of the base store, never the full
    *    corpus — the rate is an average whose estimator converges long
    *    before a 100 TB store does; small stores stay exact.
    *  - OCCUPANCY: appends that pile into few cells skew the per-cell
    *    load even at small growth. The probe takes the total-variation
    *    distance between the base and current cell-occupancy
    *    distributions and fires past `occTvMax`.
    *
    * Returns ONE row: the raw dials (member counts, recommended vs
    * frozen cells, ppm boundary rates, ppm TV) plus per-mode `stale_*`
    * booleans and their OR `stale` — the scheduling bit. Thresholds are
    * calibrated in RecallSpec: quiet through the 1%-daily regime, fires
    * on the pathological append BEFORE recall degrades.
    */
  def indexStaleness(
      baseCodes: DataFrame, curCodes: DataFrame,
      baseAssign: DataFrame, curAssign: DataFrame,
      stats: Seq[(Long, Long)], frozenCells: Int,
      geometryFactor: Double = 1.15,
      clampFactor: Double = 5.0, clampFloor: Double = 0.05,
      occTvMax: Double = 0.10): DataFrame = {
    val s = baseCodes.sparkSession
    import s.implicits._
    // zero-range dims always emit their one code — excluded from both
    // the bound literals (sentinel no code can equal) and the denominator
    val lo = typedlit(stats.map { case (m, r) =>
      if (r == 0) Long.MinValue else 255L * m })
    val hi = typedlit(stats.map { case (m, r) =>
      if (r == 0) Long.MinValue else 255L * (m + r) })
    val dimsEff = math.max(1, stats.count(_._2 > 0))
    // ---- round-20 probe-latency shape: the probe used to run ~7 driver
    // actions (appended checkpoint + 3 counts + 2 clamp scans + 1 TV
    // agg); it now runs TWO — one bounded occupancy collect and one
    // tagged union scan — with every emitted dial value bit-identical.
    // (1) Per-cell occupancy of both sides in ONE collect: the cell
    // count is bounded by [[ivfCellsFor]]'s 65536 clamp, so the joined
    // (bn, cn) table is a bounded driver payload, and baseN / curN /
    // the exact TV all derive from it in exact BigInt arithmetic (no
    // engine-ordered float sum — deterministic and oracle-replayable,
    // as before).
    val occ = baseAssign.groupBy(col("cid")).agg(count(lit(1)).as("bn"))
      .join(curAssign.groupBy(col("cid")).agg(count(lit(1)).as("cn")),
        Seq("cid"), "full_outer")
      .na.fill(0L, Seq("bn", "cn"))
      .select(col("bn"), col("cn"))
      .collect()
    val baseN = occ.iterator.map(_.getLong(0)).sum
    val curN = occ.iterator.map(_.getLong(1)).sum
    // probing an EMPTY base (or an emptied current) store is a caller
    // bug, not a staleness state — fail with the contract instead of
    // NaN dials (ADVICE r18)
    require(baseN > 0 && curN > 0,
      s"indexStaleness: non-empty base and current assignments required " +
        s"(base=$baseN, current=$curN) — an empty store has no occupancy " +
        "distribution to compare; rebuild instead of probing")
    val tvPpm = (occ.iterator.map(r =>
      (BigInt(r.getLong(1)) * baseN - BigInt(r.getLong(0)) * curN).abs)
      .sum * 500000 / (BigInt(baseN) * BigInt(curN))).toLong
    // (2) Both boundary-rate scans — the ~64k-residue base calibration
    // sample and the appended codes — union into ONE tagged aggregation;
    // the appended count rides along, so the anti-join is consumed once
    // and never checkpointed. The base sample stays the deterministic
    // xid-residue of before (stable across probe runs; small stores
    // exact, a 100 TB store never full-scans per probe).
    val bounded =
      aggregate(zip_with(col("rx"), lo,
        (x, l) => when(x === l, 1L).otherwise(0L)), lit(0L), _ + _) +
      aggregate(zip_with(col("rx"), hi,
        (x, h) => when(x === h, 1L).otherwise(0L)), lit(0L), _ + _)
    val calibStride = math.max(1L, baseN / 65536L)
    val baseSample =
      (if (calibStride == 1L) baseCodes
       else baseCodes.filter(pmod(col("xid"), lit(calibStride)) === 0L))
        .select(lit(false).as("app"), col("rx"))
    val appended = curCodes.select(col("xid"), col("rx"))
      .join(baseCodes.select(col("xid")), Seq("xid"), "left_anti")
      .select(lit(true).as("app"), col("rx"))
    val scan = baseSample.unionByName(appended)
      .groupBy(col("app"))
      .agg(sum(bounded).as("b"), count(lit(1)).as("n"))
      .collect() // ≤ 2 rows
    def ppmOf(app: Boolean): Long = scan.find(_.getBoolean(0) == app) match {
      case Some(r) if !r.isNullAt(1) && !r.isNullAt(2) && r.getLong(2) > 0L =>
        1000000L * r.getLong(1) / (r.getLong(2) * dimsEff)
      case _ => 0L // absent group ≡ empty scan ≡ the old 0 rate
    }
    val nAppend = scan.find(_.getBoolean(0)).map(_.getLong(2)).getOrElse(0L)
    val clampBase = ppmOf(false)
    val clampApp = ppmOf(true)
    val rec = ivfCellsFor(curN)
    val staleGeo = rec >= geometryFactor * frozenCells
    val staleQuant = nAppend > 0 && clampApp >
      math.max(clampFloor * 1000000L, clampFactor * clampBase)
    val staleOcc = tvPpm > occTvMax * 1000000L
    Seq((baseN, curN, nAppend, frozenCells.toLong, rec.toLong,
      clampBase, clampApp, tvPpm,
      staleGeo, staleQuant, staleOcc, staleGeo || staleQuant || staleOcc))
      .toDF("base_members", "cur_members", "appended", "cells_frozen",
        "cells_recommended", "clamp_base_ppm", "clamp_appended_ppm",
        "occ_tv_ppm", "stale_geometry", "stale_quantizer",
        "stale_occupancy", "stale")
  }

  /** [[indexStaleness]] over two [[KnnIndex]] states — base = the
    * persisted build, cur = after its appends (loaded or chained).
    * The frozen geometry is read from CUR's own centroids: identical
    * to base's while cur descends from it (appends never re-derive
    * config), and still correct the probe after a REBUILD resets the
    * baseline — base's old cell count is then history, not the frozen
    * config being probed.
    */
  def knnStaleness(base: KnnIndex, cur: KnnIndex): DataFrame =
    indexStaleness(
      base.enc.select(col("xid"), col("rx")),
      cur.enc.select(col("xid"), col("rx")),
      base.assignD2.select(col("cid")),
      cur.assignD2.select(col("cid")),
      cur.stats, cur.centroids.count().toInt)

  /** Read-outs of a k-NN [[graft.core.Ingest]] (`graft.streaming.KnnIngest`). */
  implicit final class KnnIngestOps(private val in: graft.core.Ingest[KnnIndex])
      extends AnyVal {
    /** The mutual k-NN edges of everything ingested so far. */
    def edges: DataFrame = mutualize(in.index.directed)
  }

  /** [[graft.core.IndexFamily.maintain]] over a persisted k-NN store:
    * `corpus` is the raw (xid, xvec) source of truth the re-index runs
    * from (q167j gates this call against q167i's oracle).
    */
  def knnMaintain(s: org.apache.spark.sql.SparkSession, path: String,
                  corpus: DataFrame): DataFrame =
    graft.core.IndexFamily.maintain[KnnIndex](s, path, corpus)

  /** The ONE md5-parity ±1 matrix derivation behind [[srpSigns]] and
    * [[projSigns]]: entry (j, d) = parity of the last digest byte of
    * "prefix j:d". Keeping a single definition means the two oracle SQL
    * renderings can never desynchronize from a one-sided tweak.
    */
  private def mdSigns(prefix: String, rows: Int, dims: Int): Seq[Seq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until rows).map { j =>
      (0 until dims).map { d =>
        val h = md.digest(s"$prefix$j:$d".getBytes("UTF-8"))
        if ((h(15) & 1) == 1) 1 else -1
      }
    }
  }

  /** Deterministic ±1 hyperplane matrix: sign(j,d) from the parity of the
    * portable MD5-derived hash of "j:d" — reproducible anywhere.
    */
  def srpSigns(nPlanes: Int, dims: Int): Seq[Seq[Int]] =
    mdSigns("", nPlanes, dims)

  /** Deterministic ±1 PROJECTION matrix for Johnson–Lindenstrauss
    * dimensionality reduction (Achlioptas 2003's database-friendly
    * ±1 entries): entry (j, d) from the parity of md5("p:j:d") — the
    * [[srpSigns]] derivation under a distinct seed prefix, so the
    * projection and the LSH hyperplanes stay independent families.
    */
  def projSigns(out: Int, dims: Int): Seq[Seq[Int]] =
    mdSigns("p:", out, dims)

  /** Corpus-adaptive SRP plane count:
    * `planes = ceil(log₂(corpus / targetBucket))` clamped to [4, 28] —
    * the ∝ log₂ growth law (COVERAGE.md): buckets otherwise grow linearly
    * with the corpus at a fixed plane count, and within-bucket work is
    * quadratic. `targetBucket` is the intended expected bucket size
    * (default 8 — candidate scoring per probe stays O(targetBucket)).
    * 500 vectors → 6 planes (the committed oracle geometry); 10⁹ → 27.
    */
  def srpPlanesFor(corpusEst: Long, targetBucket: Long = 8L): Int = {
    require(corpusEst > 0 && targetBucket > 0,
      s"srpPlanesFor: positive sizes required, got ($corpusEst, $targetBucket)")
    // smallest p with 2^p >= corpus/targetBucket, found by EXACT double
    // comparison (2^p and n/8 are exact doubles) instead of
    // ceil(log(x)/log(2)), whose last-ulp noise at power-of-two corpus
    // sizes could disagree with the SQL oracle's identical min-p scan —
    // the two derivations are equal for every n (checked exhaustively to
    // 200k and at all power-of-two boundaries)
    val x = math.max(corpusEst.toDouble / targetBucket, 2.0)
    var p = 1
    while (p < 28 && math.pow(2, p) < x) p += 1
    math.max(4, p)
  }

  /** Multi-probe radius matched to a plane count: the smallest h such
    * that a true neighbor at cosine `targetCos` falls within Hamming-h of
    * the query's bucket with probability ≥ `capture`. Per-plane
    * disagreement probability is p = acos(targetCos)/π (the SRP collision
    * identity), so capture = P(Binomial(planes, p) ≤ h). Growing planes
    * ∝ log₂ corpus WITHOUT growing h collapses recall (each added plane
    * multiplies the neighbor's same-bucket odds by 1−p); this pins the
    * capture probability instead, so the recall floor survives the
    * scale-up while probed buckets stay ≪ 2^planes.
    */
  def probeRadiusFor(planes: Int, targetCos: Double = 0.5,
                     capture: Double = 0.5): Int = {
    require(planes > 0 && capture > 0 && capture <= 1 &&
      targetCos > -1 && targetCos < 1,
      s"probeRadiusFor: bad args ($planes, $targetCos, $capture)")
    if (targetCos == 0.5 && capture == 0.5 && planes <= 28) {
      // the default path in EXACT integers, so the SQL oracle can
      // re-derive it bit-identically at any corpus: acos(0.5)/π is
      // exactly 1/3 (the SRP collision identity at cos 1/2), so
      // P(Binom(n, 1/3) <= h) >= 1/2  <=>  2·Σ_{k<=h} C(n,k)·2^(n-k) >= 3^n
      // — all BIGINT-safe for n <= 28 (3^28 < 2^45). Equal to the float
      // path below for every n in 1..28 (checked exhaustively).
      val tot = math.BigInt(3).pow(planes).toLong
      var c = 1L // C(planes, k)
      var cum = 1L << planes // Σ terms; k = 0 term is 2^planes
      var k = 0
      while (2 * cum < tot && k < planes) {
        c = c * (planes - k) / (k + 1)
        k += 1
        cum += c * (1L << (planes - k))
      }
      k
    } else {
      val p = math.acos(targetCos) / math.Pi
      def c(n: Int, k: Int): Double =
        (0 until k).map(i => (n - i).toDouble / (i + 1)).product
      var cum = 0.0
      (0 to planes).find { k =>
        cum += c(planes, k) * math.pow(1 - p, planes - k) * math.pow(p, k)
        cum >= capture
      }.getOrElse(planes)
    }
  }

  /** Corpus-adaptive IVF coarse-quantizer size: `cells = clamp(ceil(√n),
    * 4, 65536)` — the classic √N sizing, balancing per-vector assignment
    * cost (∝ cells) against per-query probe cost (∝ nprobe·n/cells).
    * 500 vectors → 23 cells; 10⁹ → 31623.
    */
  def ivfCellsFor(corpusEst: Long): Int = {
    require(corpusEst > 0, s"ivfCellsFor: corpus estimate must be positive, got $corpusEst")
    math.max(4, math.min(65536,
      math.ceil(math.sqrt(corpusEst.toDouble)).toInt))
  }

  /** Probe count matched to a cell count: `nprobe = max(2, ceil(√cells))`
    * — each query scans ≈ nprobe/cells = cells^(−1/2) of the corpus, a
    * fraction that SHRINKS as the index grows, while probing enough
    * neighboring cells to hold recall on cell-boundary queries.
    */
  def ivfProbesFor(cells: Int): Int = {
    require(cells > 0, s"ivfProbesFor: cells must be positive, got $cells")
    math.max(2, math.ceil(math.sqrt(cells.toDouble)).toInt)
  }

  /** DuckDB oracle CTE chain re-deriving every vector's SRP bucket from
    * `count(*)` — the same geometry [[srpPlanesFor]] + [[srpSigns]]
    * compute, expressed IN SQL so the oracle stays correct at any corpus
    * scale (the IVF-family convention): `planes` is the identical min-p
    * scan (2^p and n/8 are exact doubles on both engines), and each sign
    * is the identical MD5 parity bit — Scala reads `digest(15) & 1`, SQL
    * the low bit of the 32nd hex char, the same bit. Yields CTEs
    * `geo(planes)`, `sgn(j, d, sgn)`, `el(vec_id, d, v)` (scaled longs,
    * d 0-based) and `b(vec_id, bucket)` over table `embeddings`.
    */
  def srpOracleBucketCtes(dims: Int = 64): String = {
    val sc = "CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT)"
    s"""geo AS (SELECT greatest(4, coalesce((SELECT min(j)
       |  FROM (SELECT unnest(range(1, 29)) AS j)
       |  WHERE pow(2, j) >= greatest(CAST((SELECT count(*) FROM embeddings) AS DOUBLE) / 8, 2.0)), 28)) AS planes),
       |sgn AS (
       |  SELECT j, d,
       |    CASE WHEN ('0x'||substring(md5(CAST(j AS VARCHAR)||':'||CAST(d AS VARCHAR)), 32, 1))::INT % 2 = 1
       |         THEN 1 ELSE -1 END AS sgn
       |  FROM (SELECT unnest(range(0, (SELECT planes FROM geo))) AS j),
       |       (SELECT unnest(range(0, $dims)) AS d)),
       |el AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS d, $sc AS v
       |  FROM embeddings),
       |pd AS (SELECT el.vec_id, sgn.j, sum(el.v * sgn.sgn) AS dot
       |       FROM el JOIN sgn USING (d) GROUP BY 1, 2),
       |b AS (SELECT vec_id, CAST(sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS bucket
       |      FROM pd GROUP BY vec_id)""".stripMargin
  }

  /** Multi-probe oracle CTEs on top of [[srpOracleBucketCtes]]: `bin` is
    * the binomial cumulative of the EXACT default [[probeRadiusFor]]
    * (p = 1/3, capture 1/2 — the 2·Σ C(n,k)·2^(n−k) ≥ 3^n integer form,
    * via the C(n,k) = C(n,k−1)·(n−k+1)/k recurrence, exact in BIGINT),
    * `rad(h)` its first crossing, `masks(m)` every bucket-flip mask with
    * popcount ≤ h. The caller's WITH must be RECURSIVE. The masks scan is
    * range(2^planes) filtered by bit_count — fine for an oracle replay
    * (planes ≤ 8 at every generated fixture scale).
    */
  def srpOracleProbeCtes: String =
    s"""bin(k, c, cum) AS (
       |  SELECT 0, CAST(1 AS BIGINT), CAST(1 AS BIGINT) << (SELECT planes FROM geo)
       |  UNION ALL
       |  SELECT k + 1, (c * ((SELECT planes FROM geo) - k)) // (k + 1),
       |    cum + ((c * ((SELECT planes FROM geo) - k)) // (k + 1)) * (CAST(1 AS BIGINT) << ((SELECT planes FROM geo) - k - 1))
       |  FROM bin WHERE k < (SELECT planes FROM geo)),
       |rad AS (SELECT min(k) AS h FROM bin
       |        WHERE 2 * cum >= CAST(pow(3, (SELECT planes FROM geo)) AS BIGINT)),
       |masks AS (SELECT m FROM (SELECT unnest(range(0, CAST(1 AS BIGINT) << (SELECT planes FROM geo))) AS m)
       |          WHERE bit_count(m) <= (SELECT h FROM rad))""".stripMargin

  /** All bucket-flip masks of Hamming weight ≤ h over `planes` bits —
    * the multi-probe sequence (mask 0 = the home bucket), enumerated in
    * weight order then index order.
    */
  private[graft] def probeMasks(planes: Int, h: Int): Seq[Long] = {
    require(h >= 0 && h <= planes, s"hammingProbe must be 0..$planes (got $h)")
    require(planes <= 28, s"probeMasks: at most 28 planes (got $planes)")
    def combos(start: Int, left: Int, acc: Long): Seq[Long] =
      if (left == 0) Seq(acc)
      else (start until planes).flatMap(j => combos(j + 1, left - 1, acc | (1L << j)))
    (0 to h).flatMap(k => combos(0, k, 0L))
  }

  /** LSH-bucketed ANN with MULTI-PROBE: candidates come from every bucket
    * within Hamming distance `hammingProbe` of the query's bucket, then
    * exact cosine + per-query rank. Single-bucket SRP recalls almost
    * nothing on a near-orthogonal corpus (RecallSpec measured 0.20 — the
    * self-match and little else — at 6 planes over the test embeddings:
    * a cos≈0.4 neighbor agrees with the query on one random hyperplane
    * with p≈0.63, so all six match with p≈0.06); probing each
    * one-bit-flipped sibling bucket multiplies the query's probe list by
    * planes+1 while still pruning the corpus to (planes+1)/2^planes —
    * the classic multi-probe LSH recall/cost dial. At 100 TB the bucket
    * id stays the join key — the corpus side is hash-partitioned by
    * bucket, ONLY the query side fans out, and the probe fan-out rides a
    * broadcast.
    */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame,
      signs: Seq[Seq[Int]], k: Int, hammingProbe: Int = 1): DataFrame = {
    val masks = probeMasks(signs.size, hammingProbe)
    val qb = queries.select(col("qid"), scaled(col("qvec")).as("qs"),
      srpBucket(col("qvec"), signs).as("home"))
      .withColumn("qnorm", normScaled(col("qs")))
      // distinct masks → distinct probe buckets per query, so no pair is
      // generated (or scored) twice
      .withColumn("bucket",
        explode(array(masks.map(m => col("home").bitwiseXOR(lit(m))): _*)))
    val xb = corpus.select(col("xid"), scaled(col("xvec")).as("rx"),
      srpBucket(col("xvec"), signs).as("xbucket"))
      .withColumn("xnorm", normScaled(col("rx")))
    rankedTopK(xb.join(broadcast(qb), col("bucket") === col("xbucket"))
      .select(col("qid"), col("xid"), queryCos), k)
  }

  /** One distributed Lloyd (k-means) iteration — the offline step that
    * produces [[ivfTopK]]'s coarse quantizer in production: assign every
    * corpus vector to its nearest current centroid (exact scaled-long
    * d² = |x|² − 2x·c + |c|², centroid-id tiebreak, engine-identical),
    * then emit each cluster's sufficient statistics per dimension —
    * member count and the EXACT integer sum of scaled values — plus the
    * decimal-rounded mean (the next centroid's coordinate). Keeping
    * sums/counts exact is what makes the update verifiable cross-engine
    * AND mergeable: at 100 TB the per-dimension sums combine map-side
    * (one partial agg per partition), the broadcast centroid table is
    * tiny (k × dims), and no vector ever shuffles wider than its (cid,
    * dim, value) triples. Iterating = feeding the means back in as the
    * next centroids table. A centroid that captures no members emits no
    * rows — the caller sees k shrink rather than a NaN coordinate;
    * re-seeding starved clusters is caller policy (KmeansSpec pins both
    * the convergence and the starvation contract).
    */
  def kmeansStep(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val assign = nearestCells(cellDistances(corpus, "xid", "xvec", centroids)
        .select(col("xid"), col("xs"), col("cid"), col("d2")), 1, "xid")
      .select(col("cid"), col("xs"))
    assign
      .select(col("cid"), posexplode(col("xs")).as(Seq("dim0", "v")))
      .select(col("cid"), (col("dim0") + 1).cast("long").as("dim"), col("v"))
      .groupBy(col("cid"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_scaled"))
      .select(col("cid"), col("dim"), col("n"), col("sum_scaled"),
        meanScaled.as("mean_scaled"))
  }

  /** Round-half-AWAY-FROM-ZERO mean of `sum_scaled / n` at 2 decimals, in
    * pure integer arithmetic over (sum_scaled, n) columns: the former
    * `round(DECIMAL(38,6) / n, 2)` is NOT portable — DuckDB's wide
    * decimal division silently degrades to DOUBLE, so an exact tie like
    * 9040.675 rounds .67 there and .68 in Spark's decimal HALF_UP (found
    * live at sf0.1 in q71b, round 12). Sign-split because `div` truncates
    * while `//` floors on negatives; both agree on non-negatives.
    */
  private[graft] def meanScaled: Column =
    (expr("""CASE WHEN sum_scaled >= 0
             THEN (200 * sum_scaled + n) div (2 * n)
             ELSE -((200 * -sum_scaled + n) div (2 * n)) END""").cast("double")
      / 100)

  /** The same formula as oracle SQL text over (s, n) expressions. */
  private[graft] def meanScaledSql(s: String, n: String): String =
    s"CAST(CASE WHEN $s >= 0 THEN (200 * $s + $n) // (2 * $n) " +
      s"ELSE -((200 * -($s) + $n) // (2 * $n)) END AS DOUBLE) / 100"

  /** Cluster count for SEMANTIC DEDUP — the BALANCED sizing: assignment
    * costs N·k vector dots (every vector against every centroid), pair
    * verification costs ≈ N²/(2k) (within-cluster pairs at expected
    * cluster size N/k); their sum is minimized at `k = √(N/2)`, where the
    * two stages cost the same — total work N^1.5·√2, subquadratic, the
    * same balance point the SemDeDup paper hits by capping k on its 100M+
    * corpora. A constant-cluster-size law (k ∝ N) would make the pair
    * phase linear but the ASSIGNMENT quadratic — strictly worse.
    * `clamp(ceil(√(N/2)), 4, 2^20)`: 500 vectors → 16 cells; 10⁹ → 22361.
    */
  def dedupCellsFor(corpusEst: Long): Int = {
    require(corpusEst > 0,
      s"dedupCellsFor: corpus estimate must be positive, got $corpusEst")
    math.max(4, math.min(1 << 20,
      math.ceil(math.sqrt(corpusEst.toDouble / 2)).toInt))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    * removal over embeddings. Assign every vector to its nearest coarse
    * centroid (exact scaled-long d², as [[kmeansStep]]), compare pairs
    * ONLY within a cluster, and for every pair at/above the cosine
    * threshold drop the member with the HIGHER cosine to its cluster
    * centroid (the paper keeps the example farther from the cluster mode;
    * deterministic id tiebreak). Returns one row per corpus vector:
    * (vec_id, cid, keep, centroid_cos).
    *
    * Scale shape: the centroid table broadcasts; assignment is a map-side
    * cross-join (N × cells integer dots); the pair step shuffles on cid
    * only; and [[dedupCellsFor]]'s balanced √(N/2) cell count makes
    * assignment and pair verification cost the same — total work
    * N^1.5·√2, never all-pairs. In production the deterministic
    * first-vectors centroids are replaced by [[kmeansStep]]-trained ones
    * (better-balanced clusters, same assignment math). Cosines are the
    * engine-identical scaled-long op tree, so the threshold test and the
    * keeper rule replay exactly in the oracle.
    */
  def semanticDedup(
      corpus: DataFrame, centroids: DataFrame, threshold: Double): DataFrame = {
    val scored = cellDistances(corpus, "xid", "xvec", centroids)
      .select(col("xid"), col("xs"), col("cid"), col("d2"),
        cosScaled(col("xs"), col("cs"), normScaled(col("xs")), normScaled(col("cs")))
          .as("ccos"))
    // The assignment (N × cells integer dots — the dominant stage) feeds
    // THREE consumers: both sides of the pair self-join and the final
    // keep-flag join. An eager localCheckpoint materializes it once
    // instead of recomputing the dot-product subtree per consumer; the
    // blocks ride until the caller releases them ([[Dedup.release]]) or
    // Bench's between-query sweep frees them — same lifecycle as q58's
    // component labels.
    val assign = nearestCells(scored, 1, "xid")
      .select(col("xid"), col("cid"), col("xs"), col("ccos"),
        normScaled(col("xs")).as("xnorm"))
      .localCheckpoint(true)
    val pairs = assign
      .select(col("cid"), col("xid").as("x1"), col("xs").as("s1"),
        col("xnorm").as("n1"), col("ccos").as("c1"))
      .join(assign.select(col("cid"), col("xid").as("x2"), col("xs").as("s2"),
        col("xnorm").as("n2"), col("ccos").as("c2")), Seq("cid"))
      .filter(col("x1") < col("x2"))
      .filter(cosScaled(col("s1"), col("s2"), col("n1"), col("n2")) >= lit(threshold))
    val dropped = pairs
      .select(when(col("c1") > col("c2") ||
          (col("c1") === col("c2") && col("x1") > col("x2")),
        col("x1")).otherwise(col("x2")).as("xid"))
      .distinct()
      .withColumn("hit", lit(true))
    assign.join(dropped, Seq("xid"), "left")
      .select(col("xid").as("vec_id"), col("cid"),
        not(coalesce(col("hit"), lit(false))).as("keep"),
        col("ccos").as("centroid_cos"))
  }

  /** Reassemble [[kmeansStep]]'s per-(cid, dim) means into the (cid, cvec)
    * centroid table the next iteration (or [[ivfTopK]]) consumes —
    * un-scaling back to float coordinates. Starved clusters emitted no
    * rows upstream, so they simply don't reappear here.
    */
  def centroidsFromStep(step: DataFrame): DataFrame =
    step.groupBy(col("cid"))
      .agg(sort_array(collect_list(struct(col("dim"), col("mean_scaled"))))
        .as("dims"))
      .select(col("cid"),
        expr("transform(dims, d -> cast(d.mean_scaled / 1e6 as float))")
          .as("cvec"))

  /** Largest scaled coordinate magnitude [[sq8TopK]] accepts at `dims`
    * dimensions: the reconstructed norm sums `dims` squares of elements
    * bounded by 255·maxAbs, so the long budget is
    * maxAbs ≤ √(Long.MaxValue/dims)/255. The double sqrt can land one ulp
    * high at the boundary, so the result is verified (and nudged down)
    * in exact BigInt arithmetic — the guard must never admit a wrapping
    * corpus.
    */
  def sq8Budget(dims: Int): Long = {
    require(dims > 0, s"sq8Budget: dims must be positive (got $dims)")
    var b = (math.sqrt(Long.MaxValue.toDouble / dims) / 255.0).toLong
    while (b > 0 && BigInt(dims) * BigInt(255L * b).pow(2) > Long.MaxValue) b -= 1
    b
  }

  /** SQ8 encode+reconstruct of a corpus, shared by [[sq8TopK]] (flat scan)
    * and [[ivfSq8TopK]] (cell-pruned scan): learn per-dimension min/max,
    * quantize to one byte per coordinate, and return each vector's
    * 255×-scaled reconstruction and its norm — `(xid, rx, xnorm)`,
    * materialized once (localCheckpoint: production persists the codes
    * table; without the barrier CollapseProject re-inlines the
    * reconstruction into every consumer — a measured 10× wall cost).
    */
  private[graft] def sq8EncodeScaled(corpus: DataFrame): DataFrame =
    sq8EncodeFrozen(corpus, sq8StatsOf(corpus))

  /** The per-dimension (min, range) quantizer a corpus trains — the
    * FROZEN artifact a build persists so a later delta append encodes
    * under the identical scale ([[sq8EncodeFrozen]]): one
    * map-side-combined agg, `dims` rows total (a bounded collect — 64
    * rows here, never data-scale). The overflow budget is checked here,
    * at training time.
    */
  private[graft] def sq8StatsOf(corpus: DataFrame): Seq[(Long, Long)] = {
    // one single-group aggregation with 2·dims min/max expressions over
    // the array elements — the former posexplode multiplied the corpus
    // by dims through a shuffle before aggregating; this shape partial-
    // aggregates map-side to ONE row (guide §2.3), same exact stats.
    // dims probes one row; the same job checks the fixed-width contract
    // over every row (a separate width pass costs k-NN arcs a shuffle
    // job), so a ragged corpus fails loudly instead of dropping dims from
    // the overflow budget. `get` reads null past a short row's end.
    val dims = corpus.select(size(col("xvec")).as("d")).first().getInt(0)
    val aggs = Seq(min(array_size(col("xs"))), max(array_size(col("xs")))) ++
      (0 until dims).flatMap(d => Seq(
        min(get(col("xs"), lit(d))).as(s"mn$d"), max(get(col("xs"), lit(d))).as(s"mx$d")))
    val row = corpus.select(scaled(col("xvec")).as("xs"))
      .agg(aggs.head, aggs.tail: _*)
      .first()
    require(row.getInt(0) == dims && row.getInt(1) == dims,
      s"sq8 stats: ragged corpus — vector widths range over " +
        s"[${row.getInt(0)}, ${row.getInt(1)}]; SQ8 needs one fixed width")
    val stats = (0 until dims).map(d =>
      (row.getLong(2 + 2 * d), row.getLong(3 + 2 * d)))
    val maxAbs = stats.map(s => math.max(math.abs(s._1), math.abs(s._2))).max
    val budget = sq8Budget(dims)
    require(maxAbs <= budget,
      s"sq8TopK: scaled coordinate magnitude $maxAbs exceeds the 255x-domain " +
        s"overflow budget $budget for $dims dims — the long norm sum would wrap")
    stats.map { case (mn, mx) => (mn, mx - mn) }
  }

  /** SQ8 encode+reconstruct under a GIVEN quantizer: codes CLAMP to
    * [0, 255] so out-of-range coordinates — a delta vector past the
    * frozen training range, the standard frozen-quantizer posture —
    * saturate instead of escaping the byte domain (a no-op when the
    * stats were trained on this corpus, so [[sq8EncodeScaled]] is
    * unchanged by the clamp). Returns each vector's 255×-scaled
    * reconstruction and its norm — `(xid, rx, xnorm)`, materialized once
    * (localCheckpoint: production persists the codes table; without the
    * barrier CollapseProject re-inlines the reconstruction into every
    * consumer — a measured 10× wall cost).
    */
  private[graft] def sq8EncodeFrozen(corpus: DataFrame,
                                     stats: Seq[(Long, Long)]): DataFrame = {
    // encode+reconstruct in ONE native codegen'd pass per row
    // ([[graft.functions.Sq8Recon255]] with the frozen quantizer baked
    // in) — the former zip_with over a typedlit stats array was a
    // higher-order function: CodegenFallback, a lambda + ~10 interpreted
    // expression evals per element. Element semantics (clamp, r==0,
    // ragged-input edges) are replicated exactly; parity spec in
    // VecOpsSpec.
    import org.apache.spark.sql.GraftBridge
    def recon255(sv: Column): Column =
      GraftBridge.toColumn(graft.functions.Sq8Recon255(
        GraftBridge.toExpr(sv), stats.map(_._1), stats.map(_._2)))
    corpus.select(col("xid"), scaled(col("xvec")).as("xs"))
      .select(col("xid"), recon255(col("xs")).as("rx"))
      .withColumn("xnorm", normScaled(col("rx")))
      .localCheckpoint(true)
  }

  /** Scalar quantization (SQ8, the FAISS `SQ8` storage path) + asymmetric
    * top-k: learn per-dimension `[min, max]` over the corpus, store each
    * coordinate as ONE byte `code = ⌊(v − min)·255 / (max − min)⌋`, and
    * score queries against the RECONSTRUCTED codes — a 4× (float32) /
    * 8× (float64) memory cut that is what lets a 100 TB embedding store
    * sit in executor memory instead of spilling; the codes column is what
    * production persists, reconstruction rides the scan.
    *
    * Exactness: everything stays in the scaled-long integer domain. The
    * reconstruction is kept at 255× scale — `recon255 = 255·min +
    * code·(max − min)` — so no division ever happens on the corpus side,
    * and the query side stays at 1× scale: cosine's normalization cancels
    * the 255 factor, so `dot(q, recon255)/(|q|·|recon255|)` equals the
    * cosine of the reconstructed vector exactly, with every intermediate
    * a bit-identical integer in Spark and DuckDB. The one non-integer op,
    * the encode's floor-divide, is exact in double: numerators stay under
    * 2^53, and a non-integer true quotient sits ≥ 1/range from any
    * integer — 10 orders of magnitude beyond one ulp — so the correctly
    * rounded division can never cross the floor boundary.
    *
    * Overflow guard: |recon255| ≤ 255·maxAbs per element; the norm sum
    * over `dims` elements must fit a long, so maxAbs is bounded by
    * ⌊√(Long.MaxValue/dims)⌋/255 — COMPUTED from the actual dimension
    * count (≈1.49e6 scaled, |x| ≤ 1.49, at 64 dims), asserted from the
    * stats that are collected anyway, loudly, per the fail-loud
    * convention. A fixed cap independent of dims would either waste
    * headroom at low dims or silently wrap the long norm at high ones.
    */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    scanTopK(queries, sq8EncodeScaled(corpus), k)

  /** Nearest-cell assignment per corpus vector (exact scaled-long d²,
    * cid tiebreak): the BUILD half of the composed indexes — (xid, cid).
    */
  private[graft] def cellAssign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    // argmin by (d2, cid) as a hash aggregation (min over the orderable
    // (d2, cid) struct — lexicographic, so the cid tiebreak is identical
    // to the former window's orderBy(d2, cid) rn=1) instead of a sort
    // window: partial aggregation collapses the corpus×cells candidate
    // rows map-side, so the exchange carries one row per vector and
    // nothing sorts (guide §2.3). |x|² is constant per vector and |c|²
    // per centroid, so the argmin over cc − 2·x·c is the argmin over the
    // full d² — exact integer math, one dot per pair instead of three.
    val cs = centroids.select(col("cid"), scaled(col("cvec")).as("cs"))
      .withColumn("ccn", dotScaled(col("cs"), col("cs")))
    corpus.select(col("xid"), scaled(col("xvec")).as("xs"))
      .crossJoin(broadcast(cs))
      .select(col("xid"), col("cid"),
        (col("ccn") - lit(2L) * dotScaled(col("xs"), col("cs"))).as("d2"))
      .groupBy(col("xid"))
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("xid"), col("m.cid").as("cid"))
  }

  /** The nProbe nearest cells per query (same d² tree): the per-batch
    * SERVE half of the routing — (qid, cid).
    */
  private[graft] def cellProbes(queries: DataFrame, centroids: DataFrame,
                                nProbe: Int): DataFrame =
    nearestCells(cellDistances(queries, "qid", "qvec", centroids)
        .select(col("qid"), col("cid"), col("d2")), nProbe, "qid")
      .select(col("qid"), col("cid"))

  /** Score SQ8/PQ-style reconstructions against queries, restricted to
    * the probed cells, bounded top-k per query. `enc` must carry
    * (xid, cid, rx, xnorm).
    */
  private def probedTopK(enc: DataFrame, probes: DataFrame,
                         queries: DataFrame, k: Int): DataFrame =
    rankedTopK(enc
      .join(broadcast(probes), "cid")
      .join(broadcast(queryStore(queries)), "qid")
      .select(col("qid"), col("xid"), queryCos), k)

  /** BUILD the IVF×SQ8 index once: SQ8 codes + norms with the cell id
    * riding along — (xid, cid, rx, xnorm), the table production persists
    * (partitioned by cell id) and every query batch reuses. The 100×
    * soak's one-shot q124 wall is ~entirely this build (cells × corpus
    * centroid dots); amortized over batches the serve cost is the
    * nProbe/cells scan fraction alone.
    */
  def ivfSq8Build(corpus: DataFrame, centroids: DataFrame): DataFrame =
    sq8EncodeScaled(corpus).join(cellAssign(corpus, centroids), "xid")

  /** Serve one query batch against a built (or reloaded) index. */
  def ivfSq8Serve(index: DataFrame, queries: DataFrame, centroids: DataFrame,
                  nProbe: Int, k: Int): DataFrame =
    probedTopK(index, cellProbes(queries, centroids, nProbe), queries, k)

  /** IVF × SQ8 — the composed 100 TB ANN serving path: the coarse
    * quantizer ([[ivfTopK]]'s cell assignment) prunes the scan to the
    * query's `nProbe` nearest cells, and the fine storage layer
    * ([[sq8EncodeScaled]]) scores those candidates against their one-
    * byte-per-coordinate reconstructions. Alone, each half solves a
    * different scale problem — IVF bounds COMPUTE (each query touches
    * ≈ cells^(−1/2) of the corpus) while SQ8 bounds MEMORY (4× smaller
    * resident store) — composed, a 100 TB embedding table becomes a 25 TB
    * code store of which a query scans a shrinking fraction. Results
    * equal [[sq8TopK]] restricted to the probed cells (exact same scoring
    * domain), which is what the oracle replays; cell assignment and probe
    * ranking are the engine-identical scaled-long d² of [[ivfTopK]].
    *
    * Scale shape: the corpus partitions by cell id; centroids and the
    * query side broadcast; the SQ8 stats pass is one map-side-combined
    * agg; nothing driver-side exceeds (cells + dims) rows.
    */
  def ivfSq8TopK(
      queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      nProbe: Int, k: Int): DataFrame =
    ivfSq8Serve(ivfSq8Build(corpus, centroids), queries, centroids, nProbe, k)

  /** BUILD the IVFPQ index once: PQ codes' reconstructions + norms with
    * the cell id — same persisted-artifact contract as [[ivfSq8Build]],
    * at 32× compression (`subspaces` bytes/vector).
    */
  def ivfPqBuild(corpus: DataFrame, centroids: DataFrame,
                 codebook: DataFrame, subspaces: Int): DataFrame =
    pqStore(corpus, codebook, subspaces)
      .join(cellAssign(corpus, centroids), "xid")

  /** IVFPQ (Jégou et al. 2011) — the canonical FAISS production index,
    * composed from the same two layers as [[ivfSq8TopK]] but with the PQ
    * fine quantizer: coarse cells bound compute (scan ≈ cells^(−1/2) of
    * the corpus per query), PQ codes bound memory 32× (`subspaces` bytes
    * per vector vs 4·dims). The codebook broadcasts as literals; scoring
    * is asymmetric (query exact, corpus reconstructed), identical to
    * [[pqTopK]] restricted to the probed cells — which is exactly what
    * the oracle replays. Production trains the codebook offline with
    * [[pqTrainCodebook]] and the centroids with [[kmeansStep]].
    */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      codebook: DataFrame, subspaces: Int, nProbe: Int, k: Int): DataFrame =
    probedTopK(ivfPqBuild(corpus, centroids, codebook, subspaces),
      cellProbes(queries, centroids, nProbe), queries, k)

  /** Train a PQ codebook with per-subspace Lloyd iterations — the offline
    * trainer [[pqTopK]]'s doc promises: each of the `subspaces` contiguous
    * blocks is its own small k-means problem over the corpus's
    * subvectors, seeded from `seed` (any (cid, cvec) table, e.g. the
    * deterministic first-vectors sample) and refined `iters` steps with
    * [[kmeansStep]] + [[centroidsFromStep]]. A starved codeword keeps its
    * previous coordinates (standard Lloyd fallback) so the codebook never
    * shrinks. Returns the same full-width (cid, cvec) shape [[pqTopK]]
    * consumes — subspace m of codebook row c is that subspace's trained
    * codeword c.
    *
    * Cost: subspaces × iters Spark jobs over (N × width) slices — the
    * classic offline-trainer shape (run once, reuse for every query
    * batch); per-dimension sufficient statistics combine map-side, and
    * the only driver-held state is the (kSub × dims) codebook itself.
    */
  def pqTrainCodebook(corpus: DataFrame, seed: DataFrame,
                      subspaces: Int, dims: Int, iters: Int): DataFrame = {
    require(dims % subspaces == 0,
      s"pqTrainCodebook: $dims dims not divisible into $subspaces subspaces")
    val w = dims / subspaces
    // ALL subspaces train in one frame keyed by m — each Lloyd iteration
    // is ONE job over (m, xid) sub-vectors instead of `subspaces`
    // separate jobs (the round-12 restructure: 3 jobs, not 24, for the
    // standard 8×3 config; per-slice math is expression-identical to
    // kmeansStep/centroidsFromStep, so the q120b oracle pins the change)
    import org.apache.spark.sql.types.DecimalType
    val sub = corpus
      .select(col("xid"), col("xvec"),
        explode(expr(s"sequence(0, ${subspaces - 1})")).as("m"))
      .select(col("m"), col("xid"),
        scaled(expr(s"slice(xvec, m * $w + 1, $w)")).as("xs"))
      .localCheckpoint(true) // scaled sub-vectors reused every iteration
    var cents = seed
      .select(col("cid"), col("cvec"),
        explode(expr(s"sequence(0, ${subspaces - 1})")).as("m"))
      .select(col("m"), col("cid"),
        expr(s"slice(cvec, m * $w + 1, $w)").as("cvec"))
    for (_ <- 1 to iters) {
      val next = nearestCells(sub
        .join(broadcast(cents.select(col("m"), col("cid"),
          scaled(col("cvec")).as("cs"))), "m")
        .select(col("m"), col("xid"), col("xs"), col("cid"),
          d2Scaled(col("xs"), col("cs")).as("d2")), 1, "m", "xid")
        .select(col("m"), col("cid"), posexplode(col("xs")).as(Seq("dim0", "v")))
        .groupBy(col("m"), col("cid"), (col("dim0") + 1).cast("long").as("dim"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_scaled"))
        .select(col("m"), col("cid"), col("dim"), meanScaled.as("mean_scaled"))
        .groupBy(col("m"), col("cid"))
        .agg(sort_array(collect_list(struct(col("dim"), col("mean_scaled"))))
          .as("dims"))
        .select(col("m"), col("cid"),
          expr("transform(dims, d -> cast(d.mean_scaled / 1e6 as float))")
            .as("cvec"))
      // Lloyd starvation fallback: carry forward any codeword that
      // captured no members, so codes stay dense in [0, kSub)
      cents = next
        .union(cents.join(next.select(col("m"), col("cid")),
          Seq("m", "cid"), "left_anti"))
        .localCheckpoint(true)
    }
    cents
      .groupBy(col("cid"))
      .agg(sort_array(collect_list(struct(col("m"), col("cvec")))).as("blocks"))
      .select(col("cid"), flatten(expr("transform(blocks, b -> b.cvec)")).as("cvec"))
  }

  /** PQ encode+reconstruct pass shared by [[pqStore]] (which checkpoints
    * the narrow (xid, rx, xnorm) projection) and [[pqReconMse]]: each
    * corpus vector's per-subspace nearest codeword (exact scaled-long d²,
    * lowest-cid tiebreak — the FIRST array minimum), reconstructed and
    * concatenated back to full width. Returns (xid, xs, rx) — original
    * and reconstruction, both in the scaled-long domain.
    */
  private[graft] def pqReconScaled(corpus: DataFrame, codebook: DataFrame,
                                   subspaces: Int): DataFrame = {
    // the codebook is k_sub rows by construction — a bounded collect; it
    // is scaled THROUGH the same Catalyst expression as the corpus so the
    // two sides can never disagree on rounding
    val cb: Array[(Long, Seq[Long])] = codebook
      .select(col("cid").cast("long"), scaled(col("cvec")))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
    require(cb.nonEmpty, "pqTopK: empty codebook")
    val dims = cb.head._2.size
    require(dims % subspaces == 0,
      s"pqTopK: $dims dims not divisible into $subspaces subspaces")
    val sub = dims / subspaces
    def slice0(sv: Column, m: Int): Column = slice(sv, m * sub + 1, sub)
    // native L2 kernel (graft.functions.L2Longs): this distance runs
    // k_sub times per subspace per corpus vector — the PQ encode's whole
    // cost — so the per-element HOF lambda tax matters here most
    def l2(a: Column, b: Seq[Long]): Column = {
      import org.apache.spark.sql.GraftBridge
      GraftBridge.toColumn(graft.functions.L2Longs(
        GraftBridge.toExpr(a), GraftBridge.toExpr(typedlit(b))))
    }
    // recon = per-subspace nearest codeword, concatenated back; the code
    // itself (array_position of the min — first match = lowest cid, the
    // cross-engine tiebreak) is what production would store
    def recon(sv: Column): Column =
      concat((0 until subspaces).map { m =>
        val dists = array(cb.map { case (_, cv) =>
          l2(slice0(sv, m), cv.slice(m * sub, m * sub + sub)) }: _*)
        // array_position is 1-based and returns the FIRST minimum — the
        // stored code is that index − 1, i.e. lowest-cid tiebreak
        element_at(
          typedlit(cb.map(_._2.slice(m * sub, m * sub + sub)).toSeq),
          (array_position(dists, array_min(dists))).cast("int"))
      }: _*)
    corpus.select(col("xid"), scaled(col("xvec")).as("xs"))
      .select(col("xid"), col("xs"), recon(col("xs")).as("rx"))
  }

  /** Mean squared reconstruction error of a PQ codebook over a corpus, in
    * the ORIGINAL float domain (scaled-long differences are exact; the
    * single division happens once at the end). This is Lloyd's objective —
    * [[pqTrainCodebook]] must strictly decrease it (RecallSpec pins that),
    * whereas ranking recall on an unclustered corpus may not follow.
    */
  def pqReconMse(corpus: DataFrame, codebook: DataFrame, subspaces: Int): Double =
    pqReconScaled(corpus, codebook, subspaces)
      .select(posexplode(zip_with(col("xs"), col("rx"),
        (x, r) => (x - r) * (x - r))).as(Seq("i", "se")))
      .agg(sum(col("se")).cast("double").as("sse"), count(lit(1)).cast("double").as("n"))
      .select((col("sse") / col("n") / lit(1e12)).as("mse"))
      .head().getDouble(0)

  /** Product quantization (PQ — Jégou et al. 2011, the FAISS `PQ`/`IVFPQ`
    * fine-quantizer) + asymmetric top-k: split each vector into
    * `subspaces` contiguous blocks, encode every block as the id of its
    * nearest codebook centroid (exact scaled-long d², lowest-id
    * tiebreak), and score queries against the codebook RECONSTRUCTION of
    * each corpus vector. Storage per vector collapses to `subspaces`
    * small ints (8 bytes here vs 256 float bytes — a 32× cut); at 100 TB
    * the codes table is what persists and shuffles, the codebook is a
    * broadcast literal (k_sub × dims scaled longs), and reconstruction +
    * scoring ride the scan with no extra shuffle. Production trains the
    * codebook per subspace with [[kmeansStep]] offline; here the caller
    * passes any (cid, cvec) table (the queries use the deterministic
    * first-vectors sample, same convention as [[ivfTopK]]).
    *
    * All distances/dots are integer math at 1× scale (magnitudes well
    * under the long budget — see [[sq8TopK]]'s bound with 255× headroom
    * to spare), so assignments and scores are bit-identical cross-engine.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, codebook: DataFrame,
             subspaces: Int, k: Int): DataFrame =
    scanTopK(queries, pqStore(corpus, codebook, subspaces), k)

  /** The PQ member store (xid, rx, xnorm) of [[pqTopK]] and
    * [[ivfPqBuild]], materialized once — the same barrier as
    * [[sq8EncodeFrozen]]: the per-subspace argmin encode is ~16 distance
    * expressions per block, and letting CollapseProject re-inline it per
    * query pair multiplies the encode cost by the query count; the codes
    * table is the persisted artifact.
    */
  private def pqStore(corpus: DataFrame, codebook: DataFrame,
                      subspaces: Int): DataFrame =
    pqReconScaled(corpus, codebook, subspaces)
      .select(col("xid"), col("rx"))
      .withColumn("xnorm", normScaled(col("rx")))
      .localCheckpoint(true)
}
