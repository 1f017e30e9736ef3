package graft.queries

import graft.Q
import graft.core.Graft.table
import graft.operators.{Retrieval, Similarity}
import org.apache.spark.sql.functions._

/** Embedding similarity search over `embeddings` (builder brief): exact
  * brute-force cosine top-k baseline, and the sign-random-projection LSH
  * bucketed variant that is the 100 TB scale path.
  */
object SimilarityQueries {

  private val K = 3
  private val NQueries = 5
  // SRP geometry is DERIVED from the corpus size (Similarity.srpPlanesFor:
  // planes ∝ log₂ corpus; probeRadiusFor: smallest Hamming radius that
  // keeps a cos≥0.5 neighbor's capture probability ≥ 0.5). The oracles
  // re-derive the SAME geometry in SQL from count(*) (srpOracleBucketCtes
  // / srpOracleProbeCtes), so both engines agree at every corpus scale —
  // the IVF-family convention below, now covering the SRP family too.
  private val VerifyCorpus = 500L
  private val Dims = 64

  // scaled-long dot product: round(x*1e6)::BIGINT per element, integer
  // multiply-add, exact HUGEINT->DOUBLE at the end (|sum| < 2^45)
  private def sc(x: String) = s"CAST(round(CAST($x AS DOUBLE) * 1000000) AS BIGINT)"
  private val dotSql = s"CAST(sum(${sc("qa")} * ${sc("xa")}) AS DOUBLE)"

  // IVF geometry in SQL, clamps included — the exact rendering of
  // Similarity.ivfCellsFor / ivfProbesFor, shared by every IVF-family
  // oracle that derives geometry from count(*) (q167/q167b; q150b spells
  // the same clamps over its chunk corpus)
  private val ivfCellsSql =
    "(SELECT greatest(4, least(65536, CAST(ceil(sqrt(count(*))) AS BIGINT))) FROM embeddings)"
  private val ivfProbesSql =
    "(SELECT greatest(2, CAST(ceil(sqrt(greatest(4, least(65536, CAST(ceil(sqrt(count(*))) AS BIGINT))))) AS BIGINT)) FROM embeddings)"
  // per-cell servable cap — the exact rendering of Similarity.knnCellCapFor
  // (⌈n/cells⌉ floored at k+1), cells formula inlined like ivfProbesSql
  private val knnCapSql =
    s"(SELECT greatest(${K + 1}, CAST(ceil(CAST(count(*) AS DOUBLE) / " +
    "greatest(4, least(65536, CAST(ceil(sqrt(count(*))) AS BIGINT)))) AS BIGINT)) FROM embeddings)"

  /** Brute-force cosine top-k: 5 query vectors (vec_id < 5) against the
    * full corpus; exact decimal dot products, per-query bounded rank.
    */
  val q60AnnCosine = Q.checked(
    "q60_ann_cosine",
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < $NQueries),
       |el AS (
       |  SELECT qid, x.vec_id AS xid, unnest(qv) AS qa, unnest(x.embedding) AS xa
       |  FROM q, embeddings x
       |), dots AS (
       |  SELECT qid, xid,
       |    $dotSql AS dqx,
       |    CAST(sum(${sc("qa")} * ${sc("qa")}) AS DOUBLE) AS dqq,
       |    CAST(sum(${sc("xa")} * ${sc("xa")}) AS DOUBLE) AS dxx
       |  FROM el GROUP BY qid, xid
       |)
       |SELECT qid, xid, cos, rank FROM (
       |  SELECT qid, xid, dqx / (sqrt(dqq) * sqrt(dxx)) AS cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY dqx / (sqrt(dqq) * sqrt(dxx)) DESC, xid) AS rank
       |  FROM dots
       |) WHERE rank <= $K""") { (s, dir) =>
    val emb = table(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    Similarity.bruteForceTopK(queries, corpus, K)
  }

  /** LSH-bucketed ANN with multi-probe and corpus-adaptive geometry: the
    * plane count and probe radius come from [[Similarity.srpPlanesFor]] /
    * [[Similarity.probeRadiusFor]] (6 planes → 64 buckets, Hamming ≤ 2 at
    * verify scale — single-bucket SRP recalls almost nothing on a
    * near-orthogonal corpus, see RecallSpec) before exact cosine. The
    * oracle RE-DERIVES the whole geometry in SQL from count(*)
    * ([[Similarity.srpOracleBucketCtes]] / [[Similarity.srpOracleProbeCtes]]
    * — min-p plane scan, md5-parity signs, exact-integer binomial probe
    * radius), so both engines agree at EVERY corpus scale, the IVF-family
    * standard — no literal matrix pinned to one fixture.
    */
  val q61AnnLsh = Q.checked(
    "q61_ann_lsh",
    s"""WITH RECURSIVE
       |${Similarity.srpOracleBucketCtes(Dims)},
       |${Similarity.srpOracleProbeCtes},
       |q AS (SELECT vec_id AS qid, bucket FROM b WHERE vec_id < $NQueries),
       |cand AS (
       |  SELECT q.qid, xb.vec_id AS xid
       |  FROM q CROSS JOIN masks m JOIN b xb ON xb.bucket = xor(q.bucket, m.m)),
       |dots AS (
       |  SELECT c.qid, c.xid,
       |    CAST(sum(qe.v * xe.v) AS DOUBLE) AS dqx,
       |    CAST(sum(qe.v * qe.v) AS DOUBLE) AS dqq,
       |    CAST(sum(xe.v * xe.v) AS DOUBLE) AS dxx
       |  FROM cand c JOIN el qe ON qe.vec_id = c.qid
       |  JOIN el xe ON xe.vec_id = c.xid AND xe.d = qe.d
       |  GROUP BY c.qid, c.xid
       |)
       |SELECT qid, xid, cos, rank FROM (
       |  SELECT qid, xid, dqx / (sqrt(dqq) * sqrt(dxx)) AS cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY dqx / (sqrt(dqq) * sqrt(dxx)) DESC, xid) AS rank
       |  FROM dots
       |) WHERE rank <= $K""") { (s, dir) =>
    val emb = table(s, dir, "embeddings")
    val planes = Similarity.srpPlanesFor(emb.count())
    val sg = Similarity.srpSigns(planes, Dims)
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    Similarity.lshTopK(queries, corpus, sg, K, Similarity.probeRadiusFor(planes))
  }

  // IVF geometry is derived like the SRP geometry above: √N cells and
  // √cells probes (Similarity.ivfCellsFor/ivfProbesFor). These are plain
  // arithmetic, so the oracles derive them
  // IN SQL from count(*): ceil(√N) cells, ceil(√cells) probes — the
  // clamps (cells ≥ 4, probes ≥ 2, caps) are no-ops for any corpus ≥ 16
  // vectors, so SQL and Scala agree at EVERY fixture scale, not just the
  // verify corpus (checked: the q62/q104/q116/q124/q125 family is green
  // at sf0.001, sf0.01 AND sf0.1, where the derived geometry differs —
  // 23 cells/5 probes at 500 vectors, 45/7 at 2000).
  private val Cells = Similarity.ivfCellsFor(VerifyCorpus)
  private val NProbe = Similarity.ivfProbesFor(Cells)

  private def dd(a: String, b: String): String =
    s"CAST(sum(${sc(a)} * ${sc(b)}) AS DOUBLE)"

  /** IVF-bucketed ANN with derived geometry: √N deterministic coarse
    * centroids (first corpus vectors standing in for offline k-means; 23
    * at verify scale) probed √cells deep, exact cosine within probed
    * cells — each query scans ≈ cells^(−1/2) of the corpus, a fraction
    * that shrinks as the index grows. The 100 TB path partitions the
    * corpus by cell.
    */
  val q62AnnIvf = Q.checked(
    "q62_ann_ivf",
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
       |el AS (
       |  SELECT x.vec_id AS xid, c.cid, unnest(x.embedding) AS xa, unnest(c.cv) AS ca
       |  FROM embeddings x, cent c
       |), dots AS (
       |  SELECT xid, cid, ${dd("xa", "ca")} AS dxc, ${dd("xa", "xa")} AS dxx, ${dd("ca", "ca")} AS dcc
       |  FROM el GROUP BY xid, cid
       |), ranked AS (
       |  SELECT xid, cid, row_number() OVER (PARTITION BY xid ORDER BY dxx - 2*dxc + dcc, cid) AS rn
       |  FROM dots
       |), assign AS (SELECT xid, cid FROM ranked WHERE rn = 1),
       |probes AS (SELECT xid AS qid, cid FROM ranked WHERE rn <= (SELECT CAST(ceil(sqrt(ceil(sqrt(count(*))))) AS BIGINT) FROM embeddings) AND xid < $NQueries),
       |cand AS (SELECT p.qid, a.xid FROM probes p JOIN assign a ON a.cid = p.cid),
       |el2 AS (
       |  SELECT c.qid, c.xid, unnest(q.embedding) AS qa, unnest(x.embedding) AS xa
       |  FROM cand c JOIN embeddings q ON q.vec_id = c.qid JOIN embeddings x ON x.vec_id = c.xid
       |), dots2 AS (
       |  SELECT qid, xid, ${dd("qa", "xa")} AS dqx, ${dd("qa", "qa")} AS dqq, ${dd("xa", "xa")} AS dxx
       |  FROM el2 GROUP BY qid, xid
       |)
       |SELECT qid, xid, cos, rank FROM (
       |  SELECT qid, xid, dqx / (sqrt(dqq) * sqrt(dxx)) AS cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY dqx / (sqrt(dqq) * sqrt(dxx)) DESC, xid) AS rank
       |  FROM dots2
       |) WHERE rank <= $K""") { (s, dir) =>
    val emb = table(s, dir, "embeddings")
    val cells = Similarity.ivfCellsFor(emb.count())
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val centroids = emb.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    Similarity.ivfTopK(queries, corpus, centroids,
      Similarity.ivfProbesFor(cells), K)
  }

  /** One distributed k-means (Lloyd) iteration over the embedding corpus
    * ([[Similarity.kmeansStep]]) from the same 8 deterministic seed
    * centroids q62 probes: nearest-centroid assignment by exact
    * scaled-long d², then per-(cluster, dimension) sufficient statistics
    * — member count, exact integer sum, decimal-rounded mean (the next
    * centroid). The oracle replays assignment AND update in SQL, so a
    * green row pins the full iteration, not just the distance math.
    */
  val q104KmeansStep = Q.checked(
    "q104_kmeans_step",
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
       |el AS (
       |  SELECT x.vec_id AS xid, c.cid, unnest(x.embedding) AS xa, unnest(c.cv) AS ca
       |  FROM embeddings x, cent c
       |), dots AS (
       |  SELECT xid, cid, ${dd("xa", "ca")} AS dxc, ${dd("xa", "xa")} AS dxx, ${dd("ca", "ca")} AS dcc
       |  FROM el GROUP BY xid, cid
       |), assign AS (
       |  SELECT xid, cid FROM (
       |    SELECT xid, cid, row_number() OVER (PARTITION BY xid ORDER BY dxx - 2*dxc + dcc, cid) AS rn
       |    FROM dots) WHERE rn = 1
       |), sv AS (
       |  SELECT a.cid, CAST(generate_subscripts(x.embedding, 1) AS BIGINT) AS dim,
       |    ${sc("unnest(x.embedding)")} AS v
       |  FROM assign a JOIN embeddings x ON x.vec_id = a.xid
       |)
       |SELECT cid, dim, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_scaled,
       |  ${Similarity.meanScaledSql("CAST(sum(v) AS BIGINT)", "count(*)")} AS mean_scaled
       |FROM sv GROUP BY cid, dim""") { (s, dir) =>
    val emb = table(s, dir, "embeddings")
    val corpus = emb.select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val centroids = emb.filter(col("vec_id") < Similarity.ivfCellsFor(emb.count()))
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    Similarity.kmeansStep(corpus, centroids)
  }

  // Semantic-dedup geometry: dedupCellsFor picks the cell count where
  // brute-force assignment (N·k dots) and within-cluster pair verify
  // (N²/2k) cost the same — k = ceil(√(N/2)), 500 vectors → 16 cells.
  // The verify threshold sits
  // below the corpus's near-orthogonal cosine ceiling (max within-cluster
  // pair ≈ 0.49 at sf0.01) so the drop path is actually exercised;
  // production policy for real embedding spaces is ≥ 0.9.
  private val DedupCells = Similarity.dedupCellsFor(VerifyCorpus)
  private val SemT = 0.4

  /** SemDeDup semantic near-dup removal (Abbas et al. 2023,
    * [[Similarity.semanticDedup]]): cluster-assign every embedding, test
    * cosine only within a cluster, and for each pair ≥ threshold drop the
    * member closer to the cluster mode (higher centroid cosine, id
    * tiebreak). The oracle replays assignment, the within-cluster pair
    * scan, the threshold test, and the keeper rule — a green row pins the
    * whole decision, not just the distances.
    */
  val q116SemanticDedup = Q.checked(
    "q116_semantic_dedup",
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*) / 2.0)) AS BIGINT) FROM embeddings)),
       |el AS (
       |  SELECT x.vec_id AS xid, c.cid, unnest(x.embedding) AS xa, unnest(c.cv) AS ca
       |  FROM embeddings x, cent c
       |), dots AS (
       |  SELECT xid, cid, ${dd("xa", "ca")} AS dxc, ${dd("xa", "xa")} AS dxx, ${dd("ca", "ca")} AS dcc
       |  FROM el GROUP BY xid, cid
       |), assign AS (
       |  SELECT xid, cid, dxc / (sqrt(dxx) * sqrt(dcc)) AS ccos
       |  FROM (SELECT xid, cid, dxc, dxx, dcc,
       |          row_number() OVER (PARTITION BY xid ORDER BY dxx - 2*dxc + dcc, cid) AS rn
       |        FROM dots) WHERE rn = 1
       |), pel AS (
       |  SELECT a1.cid, a1.xid AS x1, a2.xid AS x2, a1.ccos AS c1, a2.ccos AS c2,
       |         unnest(e1.embedding) AS a, unnest(e2.embedding) AS b
       |  FROM assign a1 JOIN assign a2 ON a1.cid = a2.cid AND a1.xid < a2.xid
       |  JOIN embeddings e1 ON e1.vec_id = a1.xid
       |  JOIN embeddings e2 ON e2.vec_id = a2.xid
       |), pcos AS (
       |  SELECT cid, x1, x2, c1, c2, ${dd("a", "b")} AS dab, ${dd("a", "a")} AS daa, ${dd("b", "b")} AS dbb
       |  FROM pel GROUP BY cid, x1, x2, c1, c2
       |), dropped AS (
       |  SELECT DISTINCT CASE WHEN (c1 > c2) OR (c1 = c2 AND x1 > x2) THEN x1 ELSE x2 END AS xid
       |  FROM pcos WHERE dab / (sqrt(daa) * sqrt(dbb)) >= $SemT
       |)
       |SELECT a.xid AS vec_id, a.cid, (d.xid IS NULL) AS keep, a.ccos AS centroid_cos
       |FROM assign a LEFT JOIN dropped d ON d.xid = a.xid""") { (s, dir) =>
    val emb = table(s, dir, "embeddings")
    val cells = Similarity.dedupCellsFor(emb.count())
    val corpus = emb.select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val centroids = emb.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    Similarity.semanticDedup(corpus, centroids, SemT)
  }

  /** Scalar-quantized (SQ8) ANN ([[Similarity.sq8TopK]]): per-dimension
    * min/max learned over the corpus, one byte per coordinate, queries
    * scored against the reconstruction — the 4× memory-cut storage path
    * for a 100 TB embedding store. The oracle replays the stats pass, the
    * floor-divide encode, the 255×-scaled reconstruction, and the
    * asymmetric top-k, all in the same integer domain — a green row pins
    * the whole quantize→reconstruct→score pipeline bit-for-bit.
    */
  val q119Sq8Ann = Q.checked(
    "q119_sq8_ann",
    s"""WITH el AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
       |         ${sc("unnest(embedding)")} AS v
       |  FROM embeddings
       |), stats AS (
       |  SELECT dim, min(v) AS mn, max(v) AS mx FROM el GROUP BY dim
       |), recon AS (
       |  SELECT vec_id, e.dim,
       |    255 * mn + (CASE WHEN mx = mn THEN 0
       |                     ELSE ((v - mn) * 255) // (mx - mn) END) * (mx - mn) AS r
       |  FROM el e JOIN stats s ON s.dim = e.dim
       |), q AS (SELECT vec_id AS qid, dim, v AS qv FROM el WHERE vec_id < $NQueries),
       |dots AS (
       |  SELECT qid, x.vec_id AS xid,
       |    CAST(sum(qv * r) AS DOUBLE) AS dqx,
       |    CAST(sum(qv * qv) AS DOUBLE) AS dqq,
       |    CAST(sum(r * r) AS DOUBLE) AS dxx
       |  FROM q JOIN recon x ON x.dim = q.dim GROUP BY qid, x.vec_id
       |)
       |SELECT qid, xid, cos, rank FROM (
       |  SELECT qid, xid, dqx / (sqrt(dqq) * sqrt(dxx)) AS cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY dqx / (sqrt(dqq) * sqrt(dxx)) DESC, xid) AS rank
       |  FROM dots
       |) WHERE rank <= $K""") { (s, dir) =>
    val emb = table(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    Similarity.sq8TopK(queries, corpus, K)
  }

  // PQ geometry: 8 subspaces of 8 dims, 16 codewords per subspace — codes
  // are 8 bytes/vector vs 256 float bytes. The codebook is the
  // deterministic first-vectors sample (the IVF/q104 convention standing
  // in for an offline kmeansStep run).
  private val PqM = 8
  private val PqK = 16

  /** Product-quantized (PQ/ADC) ANN ([[Similarity.pqTopK]]): per-subspace
    * nearest-codeword encode (exact integer d², lowest-cid tiebreak),
    * asymmetric scoring against the codebook reconstruction — the 32×
    * compression fine-quantizer under FAISS-style IVFPQ at 100 TB. The
    * oracle replays subspace split, assignment, reconstruction, and
    * top-k; a green row pins code assignment exactly (any flipped code
    * changes the reconstructed cosine).
    */
  val q120PqAnn = Q.checked(
    "q120_pq_ann",
    s"""WITH el AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
       |         ${sc("unnest(embedding)")} AS v
       |  FROM embeddings
       |), sub AS (
       |  SELECT vec_id, (dim - 1) // ${64 / PqM} AS m, dim, v FROM el
       |), cb AS (
       |  SELECT vec_id AS cid, m, dim, v FROM sub WHERE vec_id < $PqK
       |), d2 AS (
       |  SELECT x.vec_id AS xid, x.m, cb.cid, sum((x.v - cb.v) * (x.v - cb.v)) AS d
       |  FROM sub x JOIN cb ON cb.dim = x.dim
       |  GROUP BY x.vec_id, x.m, cb.cid
       |), code AS (
       |  SELECT xid, m, cid FROM (
       |    SELECT xid, m, cid, row_number() OVER (PARTITION BY xid, m ORDER BY d, cid) AS rn
       |    FROM d2) WHERE rn = 1
       |), recon AS (
       |  SELECT c.xid, cb.dim, cb.v AS r
       |  FROM code c JOIN cb ON cb.m = c.m AND cb.cid = c.cid
       |), q AS (SELECT vec_id AS qid, dim, v AS qv FROM el WHERE vec_id < $NQueries),
       |dots AS (
       |  SELECT qid, x.xid,
       |    CAST(sum(qv * r) AS DOUBLE) AS dqx,
       |    CAST(sum(qv * qv) AS DOUBLE) AS dqq,
       |    CAST(sum(r * r) AS DOUBLE) AS dxx
       |  FROM q JOIN recon x ON x.dim = q.dim GROUP BY qid, x.xid
       |)
       |SELECT qid, xid, cos, rank FROM (
       |  SELECT qid, xid, dqx / (sqrt(dqq) * sqrt(dxx)) AS cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY dqx / (sqrt(dqq) * sqrt(dxx)) DESC, xid) AS rank
       |  FROM dots
       |) WHERE rank <= $K""") { (s, dir) =>
    val emb = table(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val codebook = emb.filter(col("vec_id") < PqK)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    Similarity.pqTopK(queries, corpus, codebook, PqM, K)
  }

  /** IVF × SQ8 composed ANN ([[Similarity.ivfSq8TopK]]) — the actual
    * 100 TB serving path: coarse cells bound compute (each query scans
    * ≈ cells^(−1/2) of the corpus), SQ8 codes bound memory (4× smaller
    * store), candidates score against reconstructions. The oracle replays
    * BOTH layers — assignment, probe ranking, the stats/encode pass, and
    * the restricted top-k — so a green row pins the composition exactly:
    * the result IS q119's scoring domain intersected with q62's probed
    * cells.
    */
  val q124IvfSq8Ann = Q.checked(
    "q124_ivf_sq8_ann",
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
       |cel AS (
       |  SELECT x.vec_id AS xid, c.cid, unnest(x.embedding) AS xa, unnest(c.cv) AS ca
       |  FROM embeddings x, cent c
       |), cdots AS (
       |  SELECT xid, cid, ${dd("xa", "ca")} AS dxc, ${dd("xa", "xa")} AS dxx, ${dd("ca", "ca")} AS dcc
       |  FROM cel GROUP BY xid, cid
       |), ranked AS (
       |  SELECT xid, cid, row_number() OVER (PARTITION BY xid ORDER BY dxx - 2*dxc + dcc, cid) AS rn
       |  FROM cdots
       |), assign AS (SELECT xid, cid FROM ranked WHERE rn = 1),
       |probes AS (SELECT xid AS qid, cid FROM ranked WHERE rn <= (SELECT CAST(ceil(sqrt(ceil(sqrt(count(*))))) AS BIGINT) FROM embeddings) AND xid < $NQueries),
       |cand AS (SELECT p.qid, a.xid FROM probes p JOIN assign a ON a.cid = p.cid),
       |el AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
       |         ${sc("unnest(embedding)")} AS v
       |  FROM embeddings
       |), stats AS (
       |  SELECT dim, min(v) AS mn, max(v) AS mx FROM el GROUP BY dim
       |), recon AS (
       |  SELECT vec_id, e.dim,
       |    255 * mn + (CASE WHEN mx = mn THEN 0
       |                     ELSE ((v - mn) * 255) // (mx - mn) END) * (mx - mn) AS r
       |  FROM el e JOIN stats s ON s.dim = e.dim
       |), q AS (SELECT vec_id AS qid, dim, v AS qv FROM el WHERE vec_id < $NQueries),
       |dots AS (
       |  SELECT q.qid, x.vec_id AS xid,
       |    CAST(sum(qv * r) AS DOUBLE) AS dqx,
       |    CAST(sum(qv * qv) AS DOUBLE) AS dqq,
       |    CAST(sum(r * r) AS DOUBLE) AS dxx
       |  FROM q JOIN recon x ON x.dim = q.dim
       |  JOIN cand c ON c.qid = q.qid AND c.xid = x.vec_id
       |  GROUP BY q.qid, x.vec_id
       |)
       |SELECT qid, xid, cos, rank FROM (
       |  SELECT qid, xid, dqx / (sqrt(dqq) * sqrt(dxx)) AS cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY dqx / (sqrt(dqq) * sqrt(dxx)) DESC, xid) AS rank
       |  FROM dots
       |) WHERE rank <= $K""") { (s, dir) =>
    val emb = table(s, dir, "embeddings")
    val cells = Similarity.ivfCellsFor(emb.count())
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val centroids = emb.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    Similarity.ivfSq8TopK(queries, corpus, centroids,
      Similarity.ivfProbesFor(cells), K)
  }

  /** One unrolled Lloyd iteration for the q120b oracle, all 8 subspaces
    * jointly (a codeword's dims are disjoint per subspace, so joining on
    * the global dim keys the (m, cid) pair implicitly). Replays
    * [[Similarity.kmeansStep]] + [[Similarity.centroidsFromStep]] + the
    * starvation fallback EXACTLY, including the centroid's numeric
    * round-trip: exact integer sums → integer half-away-from-zero mean
    * at 2 decimals (meanScaledSql — portable where decimal division is
    * not) → /1e6 → float32 (centroidsFromStep stores `cast(... as
    * float)`) →
    * re-scaled `round(x*1e6)` long for the next iteration's distances.
    * The CAST(... AS REAL) is load-bearing: it reproduces the float32
    * quantization the Spark side pays when the trained centroids are fed
    * back through [[Similarity.scaled]].
    */
  private def lloydIterSql(i: Int): String = {
    val prev = s"cb_${i - 1}"
    s"""d2_$i AS (
       |  SELECT x.vec_id AS xid, x.m, p.cid, sum((x.v - p.v) * (x.v - p.v)) AS d
       |  FROM sub x JOIN $prev p ON p.dim = x.dim
       |  GROUP BY x.vec_id, x.m, p.cid
       |), a_$i AS (
       |  SELECT xid, m, cid FROM (
       |    SELECT xid, m, cid, row_number() OVER (PARTITION BY xid, m ORDER BY d, cid) AS rn
       |    FROM d2_$i) WHERE rn = 1
       |), n_$i AS (
       |  SELECT a.m, a.cid, x.dim,
       |    CAST(round(CAST(CAST((${Similarity.meanScaledSql("CAST(sum(x.v) AS BIGINT)", "count(*)")}) / 1e6 AS REAL) AS DOUBLE) * 1000000) AS BIGINT) AS v
       |  FROM a_$i a JOIN sub x ON x.vec_id = a.xid AND x.m = a.m
       |  GROUP BY a.m, a.cid, x.dim
       |), cb_$i AS (
       |  SELECT m, cid, dim, v FROM n_$i
       |  UNION ALL
       |  SELECT p.m, p.cid, p.dim, p.v FROM $prev p
       |  WHERE NOT EXISTS (SELECT 1 FROM n_$i n WHERE n.m = p.m AND n.cid = p.cid)
       |)""".stripMargin
  }

  /** q120 with a TRAINED codebook ([[Similarity.pqTrainCodebook]]: 3
    * per-subspace Lloyd iterations from the deterministic first-vectors
    * seed) — the offline-trainer loop closed. Training provably shrinks
    * reconstruction MSE ~25% (RecallSpec pins the objective); on THIS
    * corpus (iid near-orthogonal, no cluster structure) ranking recall at
    * 16 codewords is ceiling-bound ≈0.38 regardless of training — the
    * recall dial is codebook SIZE, which RecallSpec also pins (64 trained
    * codewords beat 16). The oracle unrolls all 3 Lloyd iterations in
    * CTEs ([[lloydIterSql]], the q127 unrolling technique) and then
    * replays q120's encode+score against the trained codebook — a green
    * row pins the COMPOSED training loop, not just its pieces (q104 pins
    * one step, q120 pins scoring given a codebook).
    */
  val q120bPqTrained = Q.checked(
    "q120b_pq_trained",
    s"""WITH el AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
       |         ${sc("unnest(embedding)")} AS v
       |  FROM embeddings
       |), sub AS (
       |  SELECT vec_id, (dim - 1) // ${64 / PqM} AS m, dim, v FROM el
       |), cb_0 AS (
       |  SELECT m, vec_id AS cid, dim, v FROM sub WHERE vec_id < $PqK
       |), ${lloydIterSql(1)}, ${lloydIterSql(2)}, ${lloydIterSql(3)},
       |d2_f AS (
       |  SELECT x.vec_id AS xid, x.m, p.cid, sum((x.v - p.v) * (x.v - p.v)) AS d
       |  FROM sub x JOIN cb_3 p ON p.dim = x.dim
       |  GROUP BY x.vec_id, x.m, p.cid
       |), code AS (
       |  SELECT xid, m, cid FROM (
       |    SELECT xid, m, cid, row_number() OVER (PARTITION BY xid, m ORDER BY d, cid) AS rn
       |    FROM d2_f) WHERE rn = 1
       |), recon AS (
       |  SELECT c.xid, p.dim, p.v AS r
       |  FROM code c JOIN cb_3 p ON p.m = c.m AND p.cid = c.cid
       |), q AS (SELECT vec_id AS qid, dim, v AS qv FROM el WHERE vec_id < $NQueries),
       |dots AS (
       |  SELECT qid, x.xid,
       |    CAST(sum(qv * r) AS DOUBLE) AS dqx,
       |    CAST(sum(qv * qv) AS DOUBLE) AS dqq,
       |    CAST(sum(r * r) AS DOUBLE) AS dxx
       |  FROM q JOIN recon x ON x.dim = q.dim GROUP BY qid, x.xid
       |)
       |SELECT qid, xid, cos, rank FROM (
       |  SELECT qid, xid, dqx / (sqrt(dqq) * sqrt(dxx)) AS cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY dqx / (sqrt(dqq) * sqrt(dxx)) DESC, xid) AS rank
       |  FROM dots
       |) WHERE rank <= $K""") { (s, dir) =>
    val emb = table(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val seed = emb.filter(col("vec_id") < PqK)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val trained = Similarity.pqTrainCodebook(corpus, seed, PqM, Dims, iters = 3)
    Similarity.pqTopK(queries, corpus, trained, PqM, K)
  }

  /** IVFPQ ([[Similarity.ivfPqTopK]]) — the canonical FAISS production
    * index: q62's coarse routing over q120's PQ fine quantizer. Compute
    * scans ≈ cells^(−1/2) of the corpus per query; memory is 8 code
    * bytes/vector (32×). The oracle replays cell assignment, probe
    * ranking, per-subspace code assignment, reconstruction, and the
    * cell-restricted top-k — a green row pins the full composition.
    */
  val q125IvfPqAnn = Q.checked(
    "q125_ivfpq_ann",
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
       |cel AS (
       |  SELECT x.vec_id AS xid, c.cid, unnest(x.embedding) AS xa, unnest(c.cv) AS ca
       |  FROM embeddings x, cent c
       |), cdots AS (
       |  SELECT xid, cid, ${dd("xa", "ca")} AS dxc, ${dd("xa", "xa")} AS dxx, ${dd("ca", "ca")} AS dcc
       |  FROM cel GROUP BY xid, cid
       |), ranked AS (
       |  SELECT xid, cid, row_number() OVER (PARTITION BY xid ORDER BY dxx - 2*dxc + dcc, cid) AS rn
       |  FROM cdots
       |), assign AS (SELECT xid, cid FROM ranked WHERE rn = 1),
       |probes AS (SELECT xid AS qid, cid FROM ranked WHERE rn <= (SELECT CAST(ceil(sqrt(ceil(sqrt(count(*))))) AS BIGINT) FROM embeddings) AND xid < $NQueries),
       |cand AS (SELECT p.qid, a.xid FROM probes p JOIN assign a ON a.cid = p.cid),
       |el AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
       |         ${sc("unnest(embedding)")} AS v
       |  FROM embeddings
       |), sub AS (
       |  SELECT vec_id, (dim - 1) // ${64 / PqM} AS m, dim, v FROM el
       |), cb AS (
       |  SELECT vec_id AS ccid, m, dim, v FROM sub WHERE vec_id < $PqK
       |), d2 AS (
       |  SELECT x.vec_id AS xid, x.m, cb.ccid, sum((x.v - cb.v) * (x.v - cb.v)) AS d
       |  FROM sub x JOIN cb ON cb.dim = x.dim
       |  GROUP BY x.vec_id, x.m, cb.ccid
       |), code AS (
       |  SELECT xid, m, ccid FROM (
       |    SELECT xid, m, ccid, row_number() OVER (PARTITION BY xid, m ORDER BY d, ccid) AS rn
       |    FROM d2) WHERE rn = 1
       |), recon AS (
       |  SELECT c.xid, cb.dim, cb.v AS r
       |  FROM code c JOIN cb ON cb.m = c.m AND cb.ccid = c.ccid
       |), q AS (SELECT vec_id AS qid, dim, v AS qv FROM el WHERE vec_id < $NQueries),
       |dots AS (
       |  SELECT q.qid, x.xid,
       |    CAST(sum(qv * r) AS DOUBLE) AS dqx,
       |    CAST(sum(qv * qv) AS DOUBLE) AS dqq,
       |    CAST(sum(r * r) AS DOUBLE) AS dxx
       |  FROM q JOIN recon x ON x.dim = q.dim
       |  JOIN cand c ON c.qid = q.qid AND c.xid = x.xid
       |  GROUP BY q.qid, x.xid
       |)
       |SELECT qid, xid, cos, rank FROM (
       |  SELECT qid, xid, dqx / (sqrt(dqq) * sqrt(dxx)) AS cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY dqx / (sqrt(dqq) * sqrt(dxx)) DESC, xid) AS rank
       |  FROM dots
       |) WHERE rank <= $K""") { (s, dir) =>
    val emb = table(s, dir, "embeddings")
    val cells = Similarity.ivfCellsFor(emb.count())
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val centroids = emb.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val codebook = emb.filter(col("vec_id") < PqK)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    Similarity.ivfPqTopK(queries, corpus, centroids, codebook, PqM,
      Similarity.ivfProbesFor(cells), K)
  }

  /** Hybrid retrieval capstone — BM25 lexical top-20 fused with exact
    * cosine top-20 by reciprocal-rank fusion (Cormack et al. 2009):
    * `rrf = Σ 10⁶ div (60 + rank)`, integer-exact, missing-from-a-list
    * contributes 0. This is the production RAG retrieval shape — the
    * lexical scorer catches exact-term matches embeddings smear, the
    * dense scorer catches paraphrases lexical misses — composed entirely
    * from oracle-pinned parts (q129's scorer, q60's cosine) plus a
    * bounded 20∪20-row fusion join ([[Retrieval.rrfFuse]]), so the
    * oracle pins the END-TO-END pipeline, not just each retriever.
    *
    * Scale shape: each retriever is its own proven plan (broadcast
    * scoring / brute cosine — swap [[Similarity.ivfSq8TopK]] in for the
    * dense side at corpus scale); the fusion join touches 40 rows.
    */
  val q135HybridRetrieval = Q.checked(
    "q135_hybrid_retrieval",
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |tot AS (SELECT (SELECT count(*) FROM dl) AS nd, (SELECT count(*) FROM toks) AS tt),
       |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |qt AS (SELECT DISTINCT term FROM toks WHERE doc_id = 42),
       |bsc AS (
       |  SELECT tf.doc_id,
       |    (1000000 * 44 * tf.tf * (2 * tot.nd - 2 * dfr.df + 1)) //
       |    ((2 * dfr.df + 1) * (20 * tf.tf + 6 + (18 * dl.dl * tot.nd) // tot.tt)) AS sc
       |  FROM tf JOIN qt USING (term) JOIN dfr USING (term)
       |  JOIN dl USING (doc_id) CROSS JOIN tot),
       |bagg AS (SELECT doc_id, CAST(sum(sc) AS BIGINT) AS score FROM bsc GROUP BY doc_id),
       |bmr AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS bm25_rank
       |  FROM bagg QUALIFY bm25_rank <= 20),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id = 42),
       |el AS (
       |  SELECT qid, x.vec_id AS xid, unnest(qv) AS qa, unnest(x.embedding) AS xa
       |  FROM q, embeddings x),
       |dots AS (
       |  SELECT qid, xid, $dotSql AS dqx,
       |    CAST(sum(${sc("qa")} * ${sc("qa")}) AS DOUBLE) AS dqq,
       |    CAST(sum(${sc("xa")} * ${sc("xa")}) AS DOUBLE) AS dxx
       |  FROM el GROUP BY qid, xid),
       |annr AS (
       |  SELECT xid AS doc_id,
       |    row_number() OVER (ORDER BY dqx / (sqrt(dqq) * sqrt(dxx)) DESC, xid) AS cos_rank
       |  FROM dots QUALIFY cos_rank <= 20),
       |fused AS (
       |  SELECT COALESCE(b.doc_id, a.doc_id) AS doc_id, b.bm25_rank, a.cos_rank,
       |    COALESCE(1000000 // (60 + b.bm25_rank), 0) +
       |    COALESCE(1000000 // (60 + a.cos_rank), 0) AS rrf
       |  FROM bmr b FULL OUTER JOIN annr a ON a.doc_id = b.doc_id)
       |SELECT doc_id, bm25_rank, cos_rank, rrf,
       |  row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank
       |FROM fused QUALIFY rank <= 10""") { (s, dir) =>
    val bm = Retrieval.bm25TopK(TextQueries.bm25Scores(s, dir, 42L), 20,
        "bm25_rank", "doc_id")
      .select(col("doc_id"), col("bm25_rank"))
    val emb = table(s, dir, "embeddings")
    val ann = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") === 42)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        emb.select(col("vec_id").as("xid"), col("embedding").as("xvec")), 20)
      .select(col("xid").as("doc_id"), col("rank").as("cos_rank"))
    Retrieval.rrfFuse(bm, ann, "doc_id")
  }

  /** Mutual k-NN graph over the WHOLE corpus
    * ([[Similarity.knnGraph]]) — where q62 answers 5 queries, this
    * builds the all-vectors neighborhood structure curation reuses
    * (SemDeDup clustering, duplicate neighborhoods, diversity
    * sampling): each vector's k=3 nearest through its √cells probed
    * IVF cells, kept only when MUTUAL, undirected (a < b). One
    * corpus×centroid distance pass serves assignment and probe ranking;
    * total scoring is N²·cells^(−1/2), never brute-force N². The oracle
    * re-derives the identical geometry from count(*) (the IVF-family
    * convention) and replays assignment, probing, per-vector bounded
    * rank, and the mutuality join — scale-true at any corpus. The
    * cent/probes CTEs carry ivfCellsFor/ivfProbesFor's clamps
    * (cells ∈ [4, 65536], probes ≥ 2) so engine and oracle agree even
    * on degenerate <16-vector corpora — the q150b convention.
    */
  val q167KnnGraph = Q.checked(
    "q167_knn_graph",
    // the oracle dots ride list_zip/list_sum (exact INT128 per pair, one
    // row per pair) instead of the dd() unnest-and-group form: this query
    // scores EVERY vector's candidates, and 64× row explosion over the
    // pair list made DuckDB spill tens of GB at sf0.1. Every partial is an
    // exactly-representable integer < 2^53, so the DOUBLE cast is the
    // same value dd() produces — only the plan shape changes.
    s"""WITH sv AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
       |  FROM embeddings),
       |sn AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, e -> e*e)) AS DOUBLE) AS n2 FROM sv),
       |cent AS (SELECT vec_id AS cid, v AS cv, n2 AS cn2 FROM sn WHERE vec_id < $ivfCellsSql),
       |dots AS (
       |  SELECT x.vec_id AS xid, c.cid,
       |    x.n2 - 2 * CAST(list_sum(list_transform(list_zip(x.v, c.cv), p -> p[1]*p[2])) AS DOUBLE) + c.cn2 AS d2
       |  FROM sn x, cent c
       |), ranked AS (
       |  SELECT xid, cid, row_number() OVER (PARTITION BY xid ORDER BY d2, cid) AS rn
       |  FROM dots
       |), assign AS (SELECT xid AS nid, cid FROM ranked WHERE rn = 1),
       |probes AS (SELECT xid AS qid, cid FROM ranked WHERE rn <= $ivfProbesSql),
       |cand AS (SELECT p.qid, a.nid FROM probes p JOIN assign a ON a.cid = p.cid WHERE a.nid <> p.qid),
       |e AS (
       |  SELECT c.qid, c.nid,
       |    CAST(list_sum(list_transform(list_zip(q.v, x.v), p -> p[1]*p[2])) AS DOUBLE) / (sqrt(q.n2) * sqrt(x.n2)) AS cos
       |  FROM cand c JOIN sn q ON q.vec_id = c.qid JOIN sn x ON x.vec_id = c.nid
       |), er AS (
       |  SELECT qid, nid, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
       |  FROM e
       |), d AS (SELECT qid, nid, cos FROM er WHERE rank <= $K)
       |SELECT f.qid AS a, f.nid AS b, f.cos AS cos
       |FROM d f JOIN d r ON f.qid = r.nid AND f.nid = r.qid
       |WHERE f.qid < f.nid""") { (s, dir) =>
    val emb = table(s, dir, "embeddings")
    val cells = Similarity.ivfCellsFor(emb.count())
    val corpus = emb.select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val centroids = emb.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    Similarity.knnGraph(corpus, centroids, Similarity.ivfProbesFor(cells), K)
  }

  /** q167 served over SQ8 CODES ([[Similarity.knnGraphSq8]]) — the
    * production-scale variant COVERAGE's soak note promised at 500k
    * vectors, now registered (the q150b treatment): identical probed-cell
    * candidate structure, but every candidate dot reads the neighbor's
    * one-byte-per-coordinate reconstruction (q119/q124's storage layer)
    * instead of the raw vector — the resident store is 4× smaller and
    * the scoring pass never touches the float corpus. Asymmetric ADC
    * scoring (exact query side), so the mutual edge carries the a<b
    * direction's cosine. The oracle composes q167's geometry/candidate
    * CTEs (clamped, scale-true from count(*)) with q119's
    * stats→encode→reconstruct chain — a green row pins the COMPOSED
    * serving path, not just its halves.
    */
  val q167bKnnGraphSq8 = Q.checked(
    "q167b_knn_graph_sq8",
    s"""WITH sv AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
       |  FROM embeddings),
       |sn AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, e -> e*e)) AS DOUBLE) AS n2 FROM sv),
       |cent AS (SELECT vec_id AS cid, v AS cv, n2 AS cn2 FROM sn WHERE vec_id < $ivfCellsSql),
       |dots AS (
       |  SELECT x.vec_id AS xid, c.cid,
       |    x.n2 - 2 * CAST(list_sum(list_transform(list_zip(x.v, c.cv), p -> p[1]*p[2])) AS DOUBLE) + c.cn2 AS d2
       |  FROM sn x, cent c
       |), ranked AS (
       |  SELECT xid, cid, row_number() OVER (PARTITION BY xid ORDER BY d2, cid) AS rn
       |  FROM dots
       |), assign AS (SELECT xid AS nid, cid FROM ranked WHERE rn = 1),
       |probes AS (SELECT xid AS qid, cid FROM ranked WHERE rn <= $ivfProbesSql),
       |cand AS (SELECT p.qid, a.nid FROM probes p JOIN assign a ON a.cid = p.cid WHERE a.nid <> p.qid),
       |el AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
       |         ${sc("unnest(embedding)")} AS sval
       |  FROM embeddings
       |), stats AS (
       |  SELECT dim, min(sval) AS mn, max(sval) AS mx FROM el GROUP BY dim
       |), recon AS (
       |  SELECT vec_id, e.dim,
       |    255 * mn + (CASE WHEN mx = mn THEN 0
       |                     ELSE ((sval - mn) * 255) // (mx - mn) END) * (mx - mn) AS r
       |  FROM el e JOIN stats s ON s.dim = e.dim
       |), rl AS (
       |  SELECT vec_id, list(r ORDER BY dim) AS rv FROM recon GROUP BY vec_id
       |), rn2 AS (
       |  SELECT vec_id, rv, CAST(list_sum(list_transform(rv, e -> e*e)) AS DOUBLE) AS n2r FROM rl
       |), e AS (
       |  SELECT c.qid, c.nid,
       |    CAST(list_sum(list_transform(list_zip(q.v, x.rv), p -> p[1]*p[2])) AS DOUBLE) / (sqrt(q.n2) * sqrt(x.n2r)) AS cos
       |  FROM cand c JOIN sn q ON q.vec_id = c.qid JOIN rn2 x ON x.vec_id = c.nid
       |), er AS (
       |  SELECT qid, nid, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
       |  FROM e
       |), d AS (SELECT qid, nid, cos FROM er WHERE rank <= $K)
       |SELECT f.qid AS a, f.nid AS b, f.cos AS cos
       |FROM d f JOIN d r ON f.qid = r.nid AND f.nid = r.qid
       |WHERE f.qid < f.nid""") { (s, dir) =>
    val emb = table(s, dir, "embeddings")
    val cells = Similarity.ivfCellsFor(emb.count())
    val corpus = emb.select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val centroids = emb.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    Similarity.knnGraphSq8(corpus, centroids, Similarity.ivfProbesFor(cells), K)
  }

  /** q167b with the PER-CELL CANDIDATE CAP ([[Similarity.knnGraphSq8]]
    * with a finite `capPerCell`) — the last layer of the
    * production posture for all-vectors graphs, registered: SQ8 codes
    * bound the resident store, coarse cells bound the scan fraction, and
    * the cap bounds the candidate SHUFFLE at N·nProbe·⌈n/cells⌉ rows no
    * matter how skewed the cells are (the uncapped graph's 200k-vector
    * failure mode was exactly that shuffle exceeding one box's disk).
    * Each cell serves only its ⌈n/cells⌉ most-central members
    * ([[Similarity.knnCellCapFor]] — rank by d2 to the own centroid, a
    * quantity the assignment pass already computed, so capping is one
    * bounded per-cell window, not a new distance pass); the ordering is
    * query-independent, which keeps the cap deterministic and lets the
    * oracle spell it as one more ranked CTE. Members past the cap still
    * query; they stop being scannable as neighbors — RecallSpec floors
    * the edge recall of exactly that trade vs the uncapped graph.
    */
  val q167cKnnGraphCapped = Q.checked(
    "q167c_knn_graph_capped",
    s"""WITH sv AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
       |  FROM embeddings),
       |sn AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, e -> e*e)) AS DOUBLE) AS n2 FROM sv),
       |cent AS (SELECT vec_id AS cid, v AS cv, n2 AS cn2 FROM sn WHERE vec_id < $ivfCellsSql),
       |dots AS (
       |  SELECT x.vec_id AS xid, c.cid,
       |    x.n2 - 2 * CAST(list_sum(list_transform(list_zip(x.v, c.cv), p -> p[1]*p[2])) AS DOUBLE) + c.cn2 AS d2
       |  FROM sn x, cent c
       |), ranked AS (
       |  SELECT xid, cid, d2, row_number() OVER (PARTITION BY xid ORDER BY d2, cid) AS rn
       |  FROM dots
       |), assign AS (
       |  SELECT nid, cid FROM (
       |    SELECT xid AS nid, cid, row_number() OVER (PARTITION BY cid ORDER BY d2, xid) AS crn
       |    FROM ranked WHERE rn = 1)
       |  WHERE crn <= $knnCapSql
       |),
       |probes AS (SELECT xid AS qid, cid FROM ranked WHERE rn <= $ivfProbesSql),
       |cand AS (SELECT p.qid, a.nid FROM probes p JOIN assign a ON a.cid = p.cid WHERE a.nid <> p.qid),
       |el AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
       |         ${sc("unnest(embedding)")} AS sval
       |  FROM embeddings
       |), stats AS (
       |  SELECT dim, min(sval) AS mn, max(sval) AS mx FROM el GROUP BY dim
       |), recon AS (
       |  SELECT vec_id, e.dim,
       |    255 * mn + (CASE WHEN mx = mn THEN 0
       |                     ELSE ((sval - mn) * 255) // (mx - mn) END) * (mx - mn) AS r
       |  FROM el e JOIN stats s ON s.dim = e.dim
       |), rl AS (
       |  SELECT vec_id, list(r ORDER BY dim) AS rv FROM recon GROUP BY vec_id
       |), rn2 AS (
       |  SELECT vec_id, rv, CAST(list_sum(list_transform(rv, e -> e*e)) AS DOUBLE) AS n2r FROM rl
       |), e AS (
       |  SELECT c.qid, c.nid,
       |    CAST(list_sum(list_transform(list_zip(q.v, x.rv), p -> p[1]*p[2])) AS DOUBLE) / (sqrt(q.n2) * sqrt(x.n2r)) AS cos
       |  FROM cand c JOIN sn q ON q.vec_id = c.qid JOIN rn2 x ON x.vec_id = c.nid
       |), er AS (
       |  SELECT qid, nid, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
       |  FROM e
       |), d AS (SELECT qid, nid, cos FROM er WHERE rank <= $K)
       |SELECT f.qid AS a, f.nid AS b, f.cos AS cos
       |FROM d f JOIN d r ON f.qid = r.nid AND f.nid = r.qid
       |WHERE f.qid < f.nid""") { (s, dir) =>
    val emb = table(s, dir, "embeddings")
    val n = emb.count()
    val cells = Similarity.ivfCellsFor(n)
    val corpus = emb.select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val centroids = emb.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    Similarity.knnGraphSq8(corpus, centroids,
      Similarity.ivfProbesFor(cells), K, Similarity.knnCellCapFor(n, cells, K))
  }

  // base-slice renderings of the IVF geometry macros for q167d: the
  // incremental graph freezes its config at BUILD time, so cells /
  // probes / cap all derive from the BASE corpus count (vec_id % 100 <> 99)
  private val baseWhere = "WHERE vec_id % 100 <> 99"
  private val ivfCellsBaseSql =
    s"(SELECT greatest(4, least(65536, CAST(ceil(sqrt(count(*))) AS BIGINT))) FROM embeddings $baseWhere)"
  private val ivfProbesBaseSql =
    s"(SELECT greatest(2, CAST(ceil(sqrt(greatest(4, least(65536, CAST(ceil(sqrt(count(*))) AS BIGINT))))) AS BIGINT)) FROM embeddings $baseWhere)"
  private val knnCapBaseSql =
    s"(SELECT greatest(${K + 1}, CAST(ceil(CAST(count(*) AS DOUBLE) / " +
    s"greatest(4, least(65536, CAST(ceil(sqrt(count(*))) AS BIGINT)))) AS BIGINT)) FROM embeddings $baseWhere)"

  /** INCREMENTAL maintenance of the capped k-NN graph
    * ([[Similarity.knnGraphBuild]] / [[Similarity.knnGraphServe]]) — the
    * one build/serve family q167c still rebuilt wholesale, closed the
    * q183 way: the corpus splits 99/1 into base (built once: frozen
    * centroids, SQ8 quantizer, capped servable lists, probe sets,
    * directed top-k — the persisted artifacts) and a delta append that
    * serves AGAINST those artifacts — new vectors probe the persisted
    * capped cell lists, only cells a delta member lands in re-rank
    * (displacement included), only base queries probing a touched cell
    * re-score, every other query's stored top-k splices in verbatim.
    * The ORACLE is the full rebuild under the frozen build config
    * (base-derived cells/probes/cap, base-trained clamped quantizer,
    * base-prefix centroids), so a green hash IS the serve ≡ rebuild
    * parity — KnnIncrementalSpec additionally asserts the two-way
    * exceptAll in-engine and that untouched queries' rows come from the
    * artifact verbatim.
    */
  // shared by q167d (in-memory artifacts) and q167e (artifacts persisted
  // to parquet and reloaded): the oracle IS the frozen-config full
  // rebuild, so a green hash on either query proves serve ≡ rebuild —
  // and on q167e that the save/load round-trip lost nothing
  private val knnIncrementalOracleSql =
    s"""WITH sv AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
       |  FROM embeddings),
       |sn AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, e -> e*e)) AS DOUBLE) AS n2 FROM sv),
       |cent AS (
       |  SELECT vec_id AS cid, v AS cv, n2 AS cn2 FROM sn
       |  $baseWhere ORDER BY vec_id LIMIT $ivfCellsBaseSql),
       |dots AS (
       |  SELECT x.vec_id AS xid, c.cid,
       |    x.n2 - 2 * CAST(list_sum(list_transform(list_zip(x.v, c.cv), p -> p[1]*p[2])) AS DOUBLE) + c.cn2 AS d2
       |  FROM sn x, cent c
       |), ranked AS (
       |  SELECT xid, cid, d2, row_number() OVER (PARTITION BY xid ORDER BY d2, cid) AS rn
       |  FROM dots
       |), assign AS (
       |  SELECT nid, cid FROM (
       |    SELECT xid AS nid, cid, row_number() OVER (PARTITION BY cid ORDER BY d2, xid) AS crn
       |    FROM ranked WHERE rn = 1)
       |  WHERE crn <= $knnCapBaseSql
       |),
       |probes AS (SELECT xid AS qid, cid FROM ranked WHERE rn <= $ivfProbesBaseSql),
       |cand AS (SELECT p.qid, a.nid FROM probes p JOIN assign a ON a.cid = p.cid WHERE a.nid <> p.qid),
       |el AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
       |         ${sc("unnest(embedding)")} AS sval
       |  FROM embeddings
       |), stats AS (
       |  SELECT dim, min(sval) AS mn, max(sval) AS mx FROM el $baseWhere GROUP BY dim
       |), recon AS (
       |  SELECT vec_id, e.dim,
       |    255 * mn + least(255, greatest(0,
       |      CASE WHEN mx = mn THEN 0
       |           ELSE ((sval - mn) * 255) // (mx - mn) END)) * (mx - mn) AS r
       |  FROM el e JOIN stats s ON s.dim = e.dim
       |), rl AS (
       |  SELECT vec_id, list(r ORDER BY dim) AS rv FROM recon GROUP BY vec_id
       |), rn2 AS (
       |  SELECT vec_id, rv, CAST(list_sum(list_transform(rv, e -> e*e)) AS DOUBLE) AS n2r FROM rl
       |), e AS (
       |  SELECT c.qid, c.nid,
       |    CAST(list_sum(list_transform(list_zip(q.v, x.rv), p -> p[1]*p[2])) AS DOUBLE) / (sqrt(q.n2) * sqrt(x.n2r)) AS cos
       |  FROM cand c JOIN sn q ON q.vec_id = c.qid JOIN rn2 x ON x.vec_id = c.nid
       |), er AS (
       |  SELECT qid, nid, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
       |  FROM e
       |), d AS (SELECT qid, nid, cos FROM er WHERE rank <= $K)
       |SELECT f.qid AS a, f.nid AS b, f.cos AS cos
       |FROM d f JOIN d r ON f.qid = r.nid AND f.nid = r.qid
       |WHERE f.qid < f.nid"""

  /** The frozen-config BUILD over the 99% base slice — shared by q167d
    * (serves straight from the in-memory artifacts) and q167e (persists
    * them first).
    */
  private def knnIncrementalBuild(s: org.apache.spark.sql.SparkSession,
      dir: String): (Similarity.KnnIndex, org.apache.spark.sql.DataFrame) = {
    val emb = table(s, dir, "embeddings")
    val base = emb.filter(col("vec_id") % 100 =!= 99)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val delta = emb.filter(col("vec_id") % 100 === 99)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val nb = base.count()
    val cells = Similarity.ivfCellsFor(nb)
    val centroids = base.orderBy(col("xid")).limit(cells)
      .select(col("xid").as("cid"), col("xvec").as("cvec"))
    (Similarity.knnGraphBuild(base, centroids,
      Similarity.ivfProbesFor(cells), K,
      Similarity.knnCellCapFor(nb, cells, K)), delta)
  }

  val q167dKnnGraphIncremental = Q.checked(
    "q167d_knn_graph_incremental",
    knnIncrementalOracleSql) { (s, dir) =>
    val (idx, delta) = knnIncrementalBuild(s, dir)
    Similarity.knnGraphServe(idx, delta)
  }

  /** q167d through PERSISTED artifacts — the deployable daily-pipeline
    * shape: [[Similarity.knnIndexSave]] writes the frozen index as
    * parquet (members/codes and probe lists partitioned by cell id,
    * centroids/quantizer/config as small tables), and the serve runs
    * ONLY from [[Similarity.knnIndexLoad]]'s reconstitution — every
    * artifact frame a FileScan, none of the build's in-memory lineage
    * (PlanSpec pins that). Same oracle as q167d (the frozen-config full
    * rebuild), so a green hash proves the save/load round-trip is
    * lossless END TO END: quantizer stats, centrality d², serving flags,
    * probe sets, stored top-k, and the three config scalars all survive
    * the disk hop or the serve's splice/merge/re-score arithmetic would
    * diverge. This is the q183/q150c build/serve discipline made
    * cross-session: the fresh-JVM soak row prices load+serve ≪ build.
    */
  val q167eKnnGraphPersisted = Q.checked(
    "q167e_knn_graph_persisted",
    knnIncrementalOracleSql) { (s, dir) =>
    val (idx, delta) = knnIncrementalBuild(s, dir)
    val path = graft.core.Graft.scratch("q167e_knn_index")
    Similarity.knnIndexSave(idx, path)
    Similarity.knnGraphServe(Similarity.knnIndexLoad(s, path), delta)
  }

  /** q167d through the STREAMING ingest ([[graft.streaming.KnnIngest]])
    * — the foreachBatch lane put under the driver's gate: the delta
    * arrives as three deterministic micro-batches folded through the
    * ingest's `foldBatch` (the exact foreachBatch sink signature),
    * INCLUDING a replayed duplicate of batch 1 — foreachBatch is
    * at-least-once on restart, and the ingest's batchId cursor must
    * fold the replay as a no-op or the double-appended ids would shift
    * every downstream cosine and the hash would go red. Same oracle as
    * q167d/e (the frozen-config full rebuild): chained micro-batch
    * appends compound to the one-shot union serve
    * (KnnIncrementalSpec), so a green hash proves batch boundaries AND
    * replays are both invisible.
    */
  val q167fKnnStreaming = Q.checked(
    "q167f_knn_streaming",
    knnIncrementalOracleSql) { (s, dir) =>
    val (idx, delta) = knnIncrementalBuild(s, dir)
    val ingest = new graft.streaming.KnnIngest(idx)
    val b = (0 until 3).map(r =>
      delta.filter(col("xid") % 3 === r).localCheckpoint(true))
    ingest.foldBatch(b(0), 0L)
    ingest.foldBatch(b(1), 1L)
    ingest.foldBatch(b(1), 1L) // the at-least-once replay — must no-op
    ingest.foldBatch(b(2), 2L)
    ingest.edges
  }

  /** RETIRE vectors from the capped k-NN graph, on the board
    * ([[Similarity.knnGraphRetire]] — the parity KnnIncrementalSpec
    * proves, now in the driver's gate currency; q183c/q150g's dense
    * twin): build the full-corpus capped index under frozen config,
    * tombstone a flat 2% id slice PLUS the highest-id OVER-CAP member
    * (assigned but not serving — deleting a servable member of its cell
    * forces exactly the re-promotion path), and emit the mutualized
    * retired graph. The oracle is the frozen-config rebuild over the
    * SURVIVORS (the q167d oracle convention applied to deletes):
    * centroids, quantizer, cells/probes/cap all stay the build's;
    * survivors re-rank within their cells under the cap; deleted ids
    * neither query nor serve. The tombstone set derives inside the SQL
    * from the same capped ranking, so a green hash proves the
    * delta-scale delete (touched-cell re-ranks + lost-neighbor
    * re-scores + merge splices) equals the rebuild — deletion under
    * the hash gate at all three scales.
    */
  val q167gKnnGraphRetire = Q.checked(
    "q167g_knn_graph_retire",
    s"""WITH sv AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
       |  FROM embeddings),
       |sn AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, e -> e*e)) AS DOUBLE) AS n2 FROM sv),
       |cent AS (SELECT vec_id AS cid, v AS cv, n2 AS cn2 FROM sn WHERE vec_id < $ivfCellsSql),
       |dots AS (
       |  SELECT x.vec_id AS xid, c.cid,
       |    x.n2 - 2 * CAST(list_sum(list_transform(list_zip(x.v, c.cv), p -> p[1]*p[2])) AS DOUBLE) + c.cn2 AS d2
       |  FROM sn x, cent c
       |), ranked AS (
       |  SELECT xid, cid, d2, row_number() OVER (PARTITION BY xid ORDER BY d2, cid) AS rn
       |  FROM dots
       |), crn0 AS (
       |  SELECT xid, cid, d2, row_number() OVER (PARTITION BY cid ORDER BY d2, xid) AS crn
       |  FROM ranked WHERE rn = 1
       |), oc AS (SELECT max(xid) AS oid FROM crn0 WHERE crn > $knnCapSql),
       |del AS (
       |  SELECT vec_id AS did FROM embeddings WHERE vec_id % 50 = 3
       |  UNION SELECT oid AS did FROM oc WHERE oid IS NOT NULL
       |), assign AS (
       |  SELECT nid, cid FROM (
       |    SELECT xid AS nid, cid, row_number() OVER (PARTITION BY cid ORDER BY d2, xid) AS crn
       |    FROM ranked WHERE rn = 1 AND xid NOT IN (SELECT did FROM del))
       |  WHERE crn <= $knnCapSql
       |),
       |probes AS (
       |  SELECT xid AS qid, cid FROM ranked
       |  WHERE rn <= $ivfProbesSql AND xid NOT IN (SELECT did FROM del)),
       |cand AS (SELECT p.qid, a.nid FROM probes p JOIN assign a ON a.cid = p.cid WHERE a.nid <> p.qid),
       |el AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
       |         ${sc("unnest(embedding)")} AS sval
       |  FROM embeddings
       |), stats AS (
       |  SELECT dim, min(sval) AS mn, max(sval) AS mx FROM el GROUP BY dim
       |), recon AS (
       |  SELECT vec_id, e.dim,
       |    255 * mn + (CASE WHEN mx = mn THEN 0
       |                     ELSE ((sval - mn) * 255) // (mx - mn) END) * (mx - mn) AS r
       |  FROM el e JOIN stats s ON s.dim = e.dim
       |), rl AS (
       |  SELECT vec_id, list(r ORDER BY dim) AS rv FROM recon GROUP BY vec_id
       |), rn2 AS (
       |  SELECT vec_id, rv, CAST(list_sum(list_transform(rv, e -> e*e)) AS DOUBLE) AS n2r FROM rl
       |), e AS (
       |  SELECT c.qid, c.nid,
       |    CAST(list_sum(list_transform(list_zip(q.v, x.rv), p -> p[1]*p[2])) AS DOUBLE) / (sqrt(q.n2) * sqrt(x.n2r)) AS cos
       |  FROM cand c JOIN sn q ON q.vec_id = c.qid JOIN rn2 x ON x.vec_id = c.nid
       |), er AS (
       |  SELECT qid, nid, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
       |  FROM e
       |), d AS (SELECT qid, nid, cos FROM er WHERE rank <= $K)
       |SELECT f.qid AS a, f.nid AS b, f.cos AS cos
       |FROM d f JOIN d r ON f.qid = r.nid AND f.nid = r.qid
       |WHERE f.qid < f.nid""") { (s, dir) =>
    val emb = table(s, dir, "embeddings")
    val n = emb.count()
    val cells = Similarity.ivfCellsFor(n)
    val corpus = emb.select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val centroids = emb.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val idx = Similarity.knnGraphBuild(corpus, centroids,
      Similarity.ivfProbesFor(cells), K, Similarity.knnCellCapFor(n, cells, K))
    // tombstones: the flat slice plus the highest-id assigned-not-serving
    // member, so the delete path exercises a real re-promotion
    val overCap = idx.assignD2.select(col("nid"), col("cid"))
      .join(idx.servable, Seq("nid", "cid"), "left_anti")
      .agg(max(col("nid")).as("nid")).filter(col("nid").isNotNull)
    val dels = emb.filter(col("vec_id") % 50 === 3)
      .select(col("vec_id").as("nid")).unionByName(overCap)
    Similarity.mutualize(Similarity.knnGraphRetire(idx, dels).directed)
  }

  /** The k-NN family's STALENESS DIAL on the board
    * ([[Similarity.knnStaleness]] — RecallSpec calibrates the
    * quiet/fire/clear arc; this row puts the re-index trigger a
    * scheduler acts on under the hash gate): the q167d base build
    * (99% slice, frozen config) appended with the 1% delta, then
    * probed. One row — member counts, frozen vs recommended cells,
    * boundary-clamp ppm rates (base calibration at the deterministic
    * xid-residue stride vs appended), the exact-integer occupancy TV
    * ppm, and the three per-mode stale bits plus their OR. The oracle
    * replays every dial from the same artifacts the probe reads:
    * assignments are the frozen-centroid argmin, boundary codes
    * reconstruct by the identical 255·mn / 255·mx bound formula, and
    * the TV is the same Σ|cn·baseN − bn·curN| // (baseN·curN) integer
    * arithmetic — so a green hash pins the trigger itself, not just
    * the artifacts it reads.
    */
  val q167hKnnStaleness = Q.checked(
    "q167h_knn_staleness",
    s"""WITH sv AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
       |  FROM embeddings),
       |sn AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, e -> e*e)) AS DOUBLE) AS n2 FROM sv),
       |cent AS (
       |  SELECT vec_id AS cid, v AS cv, n2 AS cn2 FROM sn
       |  $baseWhere ORDER BY vec_id LIMIT $ivfCellsBaseSql),
       |dots AS (
       |  SELECT x.vec_id AS xid, c.cid,
       |    x.n2 - 2 * CAST(list_sum(list_transform(list_zip(x.v, c.cv), p -> p[1]*p[2])) AS DOUBLE) + c.cn2 AS d2
       |  FROM sn x, cent c
       |), assign AS (
       |  SELECT xid, cid FROM (
       |    SELECT xid, cid, row_number() OVER (PARTITION BY xid ORDER BY d2, cid) AS rn
       |    FROM dots) WHERE rn = 1
       |), el AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
       |         ${sc("unnest(embedding)")} AS sval
       |  FROM embeddings
       |), stats AS (
       |  SELECT dim, min(sval) AS mn, max(sval) AS mx FROM el $baseWhere GROUP BY dim
       |), recon AS (
       |  SELECT e.vec_id, e.dim, mn, mx,
       |    255 * mn + least(255, greatest(0,
       |      CASE WHEN mx = mn THEN 0
       |           ELSE ((sval - mn) * 255) // (mx - mn) END)) * (mx - mn) AS r
       |  FROM el e JOIN stats s ON s.dim = e.dim
       |), hits AS (
       |  SELECT vec_id,
       |    sum(CASE WHEN mx > mn AND (r = 255 * mn OR r = 255 * mx) THEN 1 ELSE 0 END) AS h
       |  FROM recon GROUP BY vec_id
       |), de AS (SELECT greatest(1, count(*)) AS d FROM stats WHERE mx > mn),
       |nb AS (SELECT count(*) AS c FROM embeddings $baseWhere),
       |na AS (SELECT count(*) AS c FROM embeddings WHERE vec_id % 100 = 99),
       |ncur AS (SELECT count(*) AS c FROM embeddings),
       |cb AS (
       |  SELECT CAST(1000000 * sum(h) // (count(*) * (SELECT d FROM de)) AS BIGINT) AS ppm
       |  FROM hits WHERE vec_id % 100 <> 99
       |    AND vec_id % (SELECT greatest(1, c // 65536) FROM nb) = 0),
       |ca AS (
       |  SELECT CAST(CASE WHEN count(*) = 0 THEN 0
       |    ELSE 1000000 * sum(h) // (count(*) * (SELECT d FROM de)) END AS BIGINT) AS ppm
       |  FROM hits WHERE vec_id % 100 = 99),
       |bb AS (SELECT cid, count(*) AS bn FROM assign WHERE xid % 100 <> 99 GROUP BY cid),
       |cc AS (SELECT cid, count(*) AS cn FROM assign GROUP BY cid),
       |tv AS (
       |  SELECT CAST(500000 * sum(abs(coalesce(cn, 0) * (SELECT c FROM nb)
       |                             - coalesce(bn, 0) * (SELECT c FROM ncur)))
       |    // ((SELECT c FROM nb) * (SELECT c FROM ncur)) AS BIGINT) AS ppm
       |  FROM bb FULL OUTER JOIN cc USING (cid)),
       |dial AS (
       |  SELECT (SELECT c FROM nb) AS base_members,
       |    (SELECT c FROM ncur) AS cur_members,
       |    (SELECT c FROM na) AS appended,
       |    $ivfCellsBaseSql AS cells_frozen,
       |    (SELECT greatest(4, least(65536, CAST(ceil(sqrt(count(*))) AS BIGINT))) FROM embeddings) AS cells_recommended,
       |    (SELECT ppm FROM cb) AS clamp_base_ppm,
       |    (SELECT ppm FROM ca) AS clamp_appended_ppm,
       |    (SELECT ppm FROM tv) AS occ_tv_ppm)
       |SELECT base_members, cur_members, appended, cells_frozen,
       |  cells_recommended, clamp_base_ppm, clamp_appended_ppm, occ_tv_ppm,
       |  (cells_recommended >= CAST(1.15 AS DOUBLE) * cells_frozen) AS stale_geometry,
       |  (appended > 0 AND clamp_appended_ppm >
       |    greatest(CAST(0.05 AS DOUBLE) * 1000000, CAST(5.0 AS DOUBLE) * clamp_base_ppm)) AS stale_quantizer,
       |  (occ_tv_ppm > CAST(0.10 AS DOUBLE) * 1000000) AS stale_occupancy,
       |  ((cells_recommended >= CAST(1.15 AS DOUBLE) * cells_frozen)
       |   OR (appended > 0 AND clamp_appended_ppm >
       |       greatest(CAST(0.05 AS DOUBLE) * 1000000, CAST(5.0 AS DOUBLE) * clamp_base_ppm))
       |   OR (occ_tv_ppm > CAST(0.10 AS DOUBLE) * 1000000)) AS stale
       |FROM dial""") { (s, dir) =>
    val (idx, delta) = knnIncrementalBuild(s, dir)
    Similarity.knnStaleness(idx, Similarity.knnGraphAppend(idx, delta))
  }

  /** The REINDEX ARC on the board — q167h's dial is the trigger; this
    * row gates the whole loop a production scheduler runs on it
    * (RecallSpec calibrates the same arc in-spec): a 33%-regime append
    * (base = the 2/3 slice vec_id % 3 ≠ 0) outgrows the frozen
    * geometry, the probe FIRES (cells recommended ≥ 1.15× frozen at
    * every verify scale — 23 vs 19 at 500 vectors, 45 vs 37 at 2000),
    * the pipeline re-indexes the full corpus at the RE-DERIVED
    * geometry, and the post-reindex probe is QUIET on every dial
    * (zero appends, zero occupancy TV, geometry at its own
    * recommendation). Output = both dial rows tagged by phase, so the
    * green hash pins the transition itself — fire before, clear
    * after — not just each endpoint. The oracle replays both probes
    * from the artifacts: the before-phase dials under the base-slice
    * config (the q167h rendering at the 1/3 split), the after-phase
    * under the full-corpus config where appended/TV are exactly zero
    * by construction and the clamp calibration re-reads the full
    * store under its own quantizer.
    */
  private def knnReindexOracleSql: String =
    s"""WITH sv AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
       |  FROM embeddings),
       |sn AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, e -> e*e)) AS DOUBLE) AS n2 FROM sv),
       |nb AS (SELECT count(*) AS c FROM embeddings WHERE vec_id % 3 <> 0),
       |na AS (SELECT count(*) AS c FROM embeddings WHERE vec_id % 3 = 0),
       |ncur AS (SELECT count(*) AS c FROM embeddings),
       |cellsb AS (SELECT greatest(4, least(65536, CAST(ceil(sqrt(c)) AS BIGINT))) AS cells FROM nb),
       |cellsf AS (SELECT greatest(4, least(65536, CAST(ceil(sqrt(c)) AS BIGINT))) AS cells FROM ncur),
       |centb AS (
       |  SELECT vec_id AS cid, v AS cv, n2 AS cn2 FROM sn
       |  WHERE vec_id % 3 <> 0 ORDER BY vec_id LIMIT (SELECT cells FROM cellsb)),
       |centf AS (
       |  SELECT vec_id AS cid, v AS cv, n2 AS cn2 FROM sn
       |  WHERE vec_id < (SELECT cells FROM cellsf)),
       |el AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
       |         ${sc("unnest(embedding)")} AS sval
       |  FROM embeddings),
       |statsb AS (SELECT dim, min(sval) AS mn, max(sval) AS mx FROM el WHERE vec_id % 3 <> 0 GROUP BY dim),
       |statsf AS (SELECT dim, min(sval) AS mn, max(sval) AS mx FROM el GROUP BY dim),
       |reconb AS (
       |  SELECT e.vec_id, s.mn, s.mx,
       |    255 * s.mn + least(255, greatest(0,
       |      CASE WHEN s.mx = s.mn THEN 0
       |           ELSE ((e.sval - s.mn) * 255) // (s.mx - s.mn) END)) * (s.mx - s.mn) AS r
       |  FROM el e JOIN statsb s ON s.dim = e.dim),
       |reconf AS (
       |  SELECT e.vec_id, s.mn, s.mx,
       |    255 * s.mn + least(255, greatest(0,
       |      CASE WHEN s.mx = s.mn THEN 0
       |           ELSE ((e.sval - s.mn) * 255) // (s.mx - s.mn) END)) * (s.mx - s.mn) AS r
       |  FROM el e JOIN statsf s ON s.dim = e.dim),
       |hitsb AS (
       |  SELECT vec_id,
       |    sum(CASE WHEN mx > mn AND (r = 255 * mn OR r = 255 * mx) THEN 1 ELSE 0 END) AS h
       |  FROM reconb GROUP BY vec_id),
       |hitsf AS (
       |  SELECT vec_id,
       |    sum(CASE WHEN mx > mn AND (r = 255 * mn OR r = 255 * mx) THEN 1 ELSE 0 END) AS h
       |  FROM reconf GROUP BY vec_id),
       |deb AS (SELECT greatest(1, count(*)) AS d FROM statsb WHERE mx > mn),
       |def AS (SELECT greatest(1, count(*)) AS d FROM statsf WHERE mx > mn),
       |cbb AS (
       |  SELECT CAST(1000000 * sum(h) // (count(*) * (SELECT d FROM deb)) AS BIGINT) AS ppm
       |  FROM hitsb WHERE vec_id % 3 <> 0
       |    AND vec_id % (SELECT greatest(1, c // 65536) FROM nb) = 0),
       |cab AS (
       |  SELECT CAST(CASE WHEN count(*) = 0 THEN 0
       |    ELSE 1000000 * sum(h) // (count(*) * (SELECT d FROM deb)) END AS BIGINT) AS ppm
       |  FROM hitsb WHERE vec_id % 3 = 0),
       |cbf AS (
       |  SELECT CAST(1000000 * sum(h) // (count(*) * (SELECT d FROM def)) AS BIGINT) AS ppm
       |  FROM hitsf WHERE vec_id % (SELECT greatest(1, c // 65536) FROM ncur) = 0),
       |dotsb AS (
       |  SELECT x.vec_id AS xid, c.cid,
       |    x.n2 - 2 * CAST(list_sum(list_transform(list_zip(x.v, c.cv), p -> p[1]*p[2])) AS DOUBLE) + c.cn2 AS d2
       |  FROM sn x, centb c),
       |assignb AS (
       |  SELECT xid, cid FROM (
       |    SELECT xid, cid, row_number() OVER (PARTITION BY xid ORDER BY d2, cid) AS rn
       |    FROM dotsb) WHERE rn = 1),
       |bb AS (SELECT cid, count(*) AS bn FROM assignb WHERE xid % 3 <> 0 GROUP BY cid),
       |cc AS (SELECT cid, count(*) AS cn FROM assignb GROUP BY cid),
       |tvb AS (
       |  SELECT CAST(500000 * sum(abs(coalesce(cn, 0) * (SELECT c FROM nb)
       |                             - coalesce(bn, 0) * (SELECT c FROM ncur)))
       |    // ((SELECT c FROM nb) * (SELECT c FROM ncur)) AS BIGINT) AS ppm
       |  FROM bb FULL OUTER JOIN cc USING (cid)),
       |dials AS (
       |  SELECT 'before' AS phase,
       |    (SELECT c FROM nb) AS base_members, (SELECT c FROM ncur) AS cur_members,
       |    (SELECT c FROM na) AS appended,
       |    (SELECT cells FROM cellsb) AS cells_frozen,
       |    (SELECT cells FROM cellsf) AS cells_recommended,
       |    (SELECT ppm FROM cbb) AS clamp_base_ppm,
       |    (SELECT ppm FROM cab) AS clamp_appended_ppm,
       |    (SELECT ppm FROM tvb) AS occ_tv_ppm
       |  UNION ALL
       |  SELECT 'after' AS phase,
       |    (SELECT c FROM ncur), (SELECT c FROM ncur), 0,
       |    (SELECT cells FROM cellsf), (SELECT cells FROM cellsf),
       |    (SELECT ppm FROM cbf), 0, 0)
       |SELECT phase, base_members, cur_members, appended, cells_frozen,
       |  cells_recommended, clamp_base_ppm, clamp_appended_ppm, occ_tv_ppm,
       |  (cells_recommended >= CAST(1.15 AS DOUBLE) * cells_frozen) AS stale_geometry,
       |  (appended > 0 AND clamp_appended_ppm >
       |    greatest(CAST(0.05 AS DOUBLE) * 1000000, CAST(5.0 AS DOUBLE) * clamp_base_ppm)) AS stale_quantizer,
       |  (occ_tv_ppm > CAST(0.10 AS DOUBLE) * 1000000) AS stale_occupancy,
       |  ((cells_recommended >= CAST(1.15 AS DOUBLE) * cells_frozen)
       |   OR (appended > 0 AND clamp_appended_ppm >
       |       greatest(CAST(0.05 AS DOUBLE) * 1000000, CAST(5.0 AS DOUBLE) * clamp_base_ppm))
       |   OR (occ_tv_ppm > CAST(0.10 AS DOUBLE) * 1000000)) AS stale
       |FROM dials"""

  val q167iKnnReindex = Q.checked(
    "q167i_knn_reindex",
    knnReindexOracleSql) { (s, dir) =>
    val emb = table(s, dir, "embeddings")
    val base = emb.filter(col("vec_id") % 3 =!= 0)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val delta = emb.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val nb = base.count()
    val cellsB = Similarity.ivfCellsFor(nb)
    val centB = base.orderBy(col("xid")).limit(cellsB)
      .select(col("xid").as("cid"), col("xvec").as("cvec"))
    val idx = Similarity.knnGraphBuild(base, centB,
      Similarity.ivfProbesFor(cellsB), K,
      Similarity.knnCellCapFor(nb, cellsB, K))
    val before = Similarity
      .knnStaleness(idx, Similarity.knnGraphAppend(idx, delta))
      .withColumn("phase", lit("before"))
    // the geometry dial FIRED — re-index the full corpus at the
    // re-derived config (the production response the dial schedules)
    val n = emb.count()
    val cells = Similarity.ivfCellsFor(n)
    val corpus = emb.select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val cent = emb.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val idx2 = Similarity.knnGraphBuild(corpus, cent,
      Similarity.ivfProbesFor(cells), K,
      Similarity.knnCellCapFor(n, cells, K))
    val after = Similarity.knnStaleness(idx2, idx2)
      .withColumn("phase", lit("after"))
    before.unionByName(after)
      .select(col("phase"), col("base_members"), col("cur_members"),
        col("appended"), col("cells_frozen"), col("cells_recommended"),
        col("clamp_base_ppm"), col("clamp_appended_ppm"),
        col("occ_tv_ppm"), col("stale_geometry"), col("stale_quantizer"),
        col("stale_occupancy"), col("stale"))
  }

  /** q167i's arc through [[Similarity.knnMaintain]] — the one-call
    * maintenance operator a scheduler crons, on the board: the base
    * build persists as its own baseline (v1), the 33% delta arrives
    * through the STREAMING ingest and saves (v2, baseline v1 — the
    * store's prune keeps v1 loadable), and then maintain alone does
    * the whole arc: load cur + baseline from the store, probe (FIRES,
    * with the same dial values as q167i's before row — now computed
    * purely from persisted artifacts), re-index the corpus at the
    * re-derived geometry, save as the new baseline, probe again
    * (QUIET). The oracle is q167i's verbatim — green proves the
    * composition reproduces the hand-wired arc exactly, disk hops and
    * baseline bookkeeping included.
    */
  val q167jKnnMaintain = Q.checked(
    "q167j_knn_maintain",
    knnReindexOracleSql) { (s, dir) =>
    val emb = table(s, dir, "embeddings")
    val base = emb.filter(col("vec_id") % 3 =!= 0)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val nb = base.count()
    val cellsB = Similarity.ivfCellsFor(nb)
    val centB = base.orderBy(col("xid")).limit(cellsB)
      .select(col("xid").as("cid"), col("xvec").as("cvec"))
    val idx = Similarity.knnGraphBuild(base, centB,
      Similarity.ivfProbesFor(cellsB), K,
      Similarity.knnCellCapFor(nb, cellsB, K))
    val path = graft.core.Graft.scratch("q167j_knn_index")
    Similarity.knnIndexSave(idx, path)
    val ingest = graft.streaming.KnnIngest.resume(s, path)
    ingest.foldBatch(emb.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
      .localCheckpoint(true), 0L)
    ingest.save(path)
    Similarity.knnMaintain(s, path,
      emb.select(col("vec_id").as("xid"), col("embedding").as("xvec")))
  }

  /** IVF CELL-BALANCE audit — the index-quality gate that runs after
    * build and before serving traffic (the ANN twin of q173's join-skew
    * audit): per coarse cell, the member count and integer-ppm share of
    * the corpus. A balanced √N-cell index holds every share near
    * 1e6/cells; a fat cell means its queries scan a corpus-scale bucket
    * (the IVF failure mode — cure is re-training centroids via q104's
    * k-means or splitting the cell). Assignment is [[Similarity]]'s
    * exact scaled-long d² argmin — the identical build-time table
    * q124/q167b serve from, so the audit measures the REAL index, not a
    * proxy. One bounded crossJoin (corpus × √N broadcast centroids), a
    * per-vector argmin, and a cells-sized aggregation.
    */
  val q197CellBalance = Q.checked(
    "q197_cell_balance",
    s"""WITH sv AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
       |  FROM embeddings),
       |sn AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, e -> e*e)) AS DOUBLE) AS n2 FROM sv),
       |cent AS (SELECT vec_id AS cid, v AS cv, n2 AS cn2 FROM sn WHERE vec_id < $ivfCellsSql),
       |dots AS (
       |  SELECT x.vec_id AS xid, c.cid,
       |    x.n2 - 2 * CAST(list_sum(list_transform(list_zip(x.v, c.cv), p -> p[1]*p[2])) AS DOUBLE) + c.cn2 AS d2
       |  FROM sn x, cent c
       |), assign AS (
       |  SELECT xid, cid FROM (
       |    SELECT xid, cid, row_number() OVER (PARTITION BY xid ORDER BY d2, cid) AS rn FROM dots) WHERE rn = 1),
       |tot AS (SELECT count(*) AS n FROM assign)
       |SELECT a.cid, count(*) AS n_members,
       |  CAST(count(*) * 1000000 // max(t.n) AS BIGINT) AS share_ppm
       |FROM assign a CROSS JOIN tot t GROUP BY a.cid""") { (s, dir) =>
    val emb = table(s, dir, "embeddings")
    val cells = Similarity.ivfCellsFor(emb.count())
    val corpus = emb.select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val centroids = emb.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val assign = Similarity.cellAssign(corpus, centroids)
      .localCheckpoint(true) // feeds the total AND the per-cell rollup
    val tot = assign.agg(count(lit(1)).as("t"))
    assign.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"))
      .crossJoin(broadcast(tot))
      .select(col("cid"), col("n_members"),
        expr("n_members * 1000000 div t").as("share_ppm"))
  }

  /** SEMANTIC decontamination — the embedding-side twin of q96's n-gram
    * benchmark decontamination (the modern eval-leakage check: a
    * paraphrased eval item shares no 8-gram but sits close in embedding
    * space): every corpus vector scoring cosine ≥ 0.35 against ANY
    * eval-slice vector is flagged, with its hit count and the top
    * offending eval item (cos DESC, eid ASC — deterministic argmax via
    * `max(struct(cos, −eid))`, no per-corpus-vector window engine-side).
    *
    * Scale shape: an eval set is SMALL by nature, so it rides a
    * broadcast and scoring is pure map-side over the corpus scan — the
    * only shuffle is the final per-vector aggregation, itself
    * combiner-friendly. N·|eval| exact scaled dots, never corpus×corpus;
    * at real scale the same query runs against the IVF/SQ8 index family
    * to prune the candidate set first (q124's serving path).
    */
  val q171SemanticDecon = Q.checked(
    "q171_semantic_decon",
    s"""WITH ev AS (SELECT vec_id AS eid, embedding AS evec FROM embeddings WHERE vec_id % 20 = 7),
       |cx AS (SELECT vec_id AS xid, embedding AS xvec FROM embeddings WHERE vec_id % 20 <> 7),
       |el AS (SELECT xid, eid, unnest(xvec) AS xa, unnest(evec) AS qa FROM cx, ev),
       |dots AS (
       |  SELECT xid, eid, ${dd("xa", "qa")} AS dxq, ${dd("xa", "xa")} AS dxx, ${dd("qa", "qa")} AS dqq
       |  FROM el GROUP BY xid, eid
       |), hits AS (
       |  SELECT xid, eid, dxq / (sqrt(dxx) * sqrt(dqq)) AS cos
       |  FROM dots WHERE dxq / (sqrt(dxx) * sqrt(dqq)) >= 0.35
       |), r AS (
       |  SELECT xid, eid, cos,
       |    row_number() OVER (PARTITION BY xid ORDER BY cos DESC, eid) AS rn,
       |    count(*) OVER (PARTITION BY xid) AS n_hits
       |  FROM hits)
       |SELECT xid, CAST(n_hits AS BIGINT) AS n_hits, eid AS top_eid, cos AS top_cos
       |FROM r WHERE rn = 1""") { (s, dir) =>
    val emb = table(s, dir, "embeddings")
    val ev = emb.filter(col("vec_id") % 20 === 7)
      .select(col("vec_id").as("eid"),
        Similarity.scaled(col("embedding")).as("es"))
      .select(col("eid"), col("es"),
        sqrt(Similarity.dotScaled(col("es"), col("es")).cast("double")).as("enorm"))
    val cx = emb.filter(col("vec_id") % 20 =!= 7)
      .select(col("vec_id").as("xid"),
        Similarity.scaled(col("embedding")).as("xs"))
      .select(col("xid"), col("xs"),
        sqrt(Similarity.dotScaled(col("xs"), col("xs")).cast("double")).as("xnorm"))
    cx.crossJoin(broadcast(ev))
      .select(col("xid"), col("eid"),
        (Similarity.dotScaled(col("xs"), col("es")).cast("double") /
          (col("xnorm") * col("enorm"))).as("cos"))
      .filter(col("cos") >= 0.35)
      .groupBy(col("xid"))
      .agg(count(lit(1)).as("n_hits"),
        max(struct(col("cos"), (-col("eid")).as("neid"))).as("m"))
      .select(col("xid"), col("n_hits"),
        (-col("m.neid")).as("top_eid"), col("m.cos").as("top_cos"))
  }

  /** Random-projection dimensionality reduction (Johnson–Lindenstrauss
    * with Achlioptas-2003 ±1 entries, [[Similarity.projSigns]]) — the
    * 64→16 embedding compressor that runs BEFORE indexing at corpus
    * scale (4× smaller vectors for the ANN/dedup families, distances
    * preserved to JL tolerance). The projection matrix is a deterministic
    * md5-parity literal, so the matmul is a BROADCAST of 16 constant
    * rows folded into whole-stage codegen — 16 [[Similarity.dotScaled]]
    * kernels per vector, zero shuffle, output in exact scaled-long
    * space. The oracle re-derives the same matrix in SQL (the SRP-sign
    * convention under the "p:" seed) and replays the matmul — scale-true
    * at any corpus.
    */
  val q177ProjectEmbed = Q.checked(
    "q177_project_embed",
    """WITH sgn AS (
      |  SELECT j, d,
      |    CASE WHEN ('0x'||substring(md5('p:'||CAST(j AS VARCHAR)||':'||CAST(d AS VARCHAR)), 32, 1))::INT % 2 = 1
      |         THEN 1 ELSE -1 END AS sgn
      |  FROM (SELECT unnest(range(0, 16)) AS j),
      |       (SELECT unnest(range(0, 64)) AS d)),
      |el AS (
      |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS d,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS v
      |  FROM embeddings)
      |SELECT el.vec_id, sgn.j, CAST(sum(el.v * sgn.sgn) AS BIGINT) AS y
      |FROM el JOIN sgn USING (d) GROUP BY el.vec_id, sgn.j""") { (s, dir) =>
    val W = Similarity.projSigns(16, Dims)
    val sv = table(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.scaled(col("embedding")).as("v"))
    val ys = W.map(row =>
      Similarity.dotScaled(col("v"), array(row.map(x => lit(x.toLong)): _*)))
    sv.select(col("vec_id"), posexplode(array(ys: _*)))
      .select(col("vec_id"), col("pos").cast("long").as("j"), col("col").as("y"))
  }

  /** Embedding-health QA — the audit an embedding store runs BEFORE
    * indexing 100 TB of vectors (a dead or collapsed dimension poisons
    * every downstream distance): per-dimension count, scaled min/max,
    * exact sum, zero-count, the shared half-up integer mean
    * ([[Similarity.meanScaled]], the q104 convention), and a dead flag
    * (min == max — the dimension carries no information). One
    * posexplode + one map-side-combined aggregation; output is
    * dims-sized regardless of corpus volume.
    */
  val q187EmbedQa = Q.checked(
    "q187_embed_qa",
    s"""WITH el AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS d,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS v
       |  FROM embeddings)
       |SELECT d, count(*) AS n, min(v) AS min_s, max(v) AS max_s,
       |  CAST(sum(v) AS BIGINT) AS sum_scaled,
       |  CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       |  ${Similarity.meanScaledSql("CAST(sum(v) AS BIGINT)", "count(*)")} AS mean_s,
       |  CAST(CASE WHEN min(v) = max(v) THEN 1 ELSE 0 END AS BIGINT) AS dead
       |FROM el GROUP BY d""") { (s, dir) =>
    table(s, dir, "embeddings")
      .select(col("vec_id"),
        posexplode(Similarity.scaled(col("embedding"))))
      .select(col("pos").cast("long").as("d"), col("col").as("v"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("min_s"),
        max(col("v")).as("max_s"), sum(col("v")).as("sum_scaled"),
        sum(when(col("v") === 0, 1L).otherwise(0L)).as("n_zero"))
      .select(col("d"), col("n"), col("min_s"), col("max_s"),
        col("sum_scaled"), col("n_zero"),
        Similarity.meanScaled.as("mean_s"),
        when(col("min_s") === col("max_s"), 1L).otherwise(0L).as("dead"))
  }

  val all: Vector[Q] =
    Vector(q60AnnCosine, q61AnnLsh, q62AnnIvf, q104KmeansStep,
      q116SemanticDedup, q119Sq8Ann, q120PqAnn, q120bPqTrained,
      q124IvfSq8Ann, q125IvfPqAnn, q135HybridRetrieval, q167KnnGraph,
      q167bKnnGraphSq8, q167cKnnGraphCapped, q167dKnnGraphIncremental,
      q167eKnnGraphPersisted, q167fKnnStreaming, q167gKnnGraphRetire,
      q167hKnnStaleness, q167iKnnReindex, q167jKnnMaintain, q197CellBalance,
      q171SemanticDecon, q177ProjectEmbed, q187EmbedQa)
}
