package graft.queries

import graft.Q
import graft.core.Graft.table
import graft.functions.Hashing
import graft.operators.Retrieval._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Text-analysis operators over `documents` (builder brief): language-ID
  * heuristic, quality scoring, token counting (whitespace + BPE-ish regex),
  * and rolling-hash document fingerprinting. All per-document map work —
  * embarrassingly parallel, codegen'd builtins, no UDFs, no shuffle except
  * the final aggregations.
  */
object TextQueries {

  /** Marker stopword lists per candidate language (n-gram heuristic — the
    * scoring function is the operator; on this synthetic corpus most docs
    * score 'en' because the shared vocabulary is English-ish).
    */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "en" -> Seq("the", "a", "data", "order", "value"),
    "es" -> Seq("el", "la", "los", "de", "y"),
    "fr" -> Seq("le", "les", "et", "un", "une"),
    "zh" -> Seq("de", "shi", "le", "bu", "zai"))

  private def scoreSql(ms: Seq[String]): String =
    s"len(list_filter(string_split(text, ' '), x -> x IN (${ms.map("'" + _ + "'").mkString(",")})))"

  /** Deterministic argmax with alphabetical tiebreak as a CASE chain —
    * identical shape in both engines. Public so the spec can drive it
    * over synthetic per-language texts (the fixture's `lang` label is
    * uncorrelated with its text, which is English-ish for every label,
    * so corpus accuracy is not a meaningful check — marker behavior is).
    */
  def langIdPredict(text: Column): Column = {
    def s(lang: String): Column = {
      val ms = markers.find(_._1 == lang).get._2
      size(filter(split(text, " "), x => x.isInCollection(ms)))
    }
    when(s("de") >= s("en") && s("de") >= s("es") &&
      s("de") >= s("fr") && s("de") >= s("zh"), "de")
      .when(s("en") >= s("es") && s("en") >= s("fr") &&
        s("en") >= s("zh"), "en")
      .when(s("es") >= s("fr") && s("es") >= s("zh"), "es")
      .when(s("fr") >= s("zh"), "fr")
      .otherwise("zh")
  }

  val q70LangId = Q.checked(
    "q70_langid",
    s"""WITH scored AS (
       |  SELECT doc_id, lang AS true_lang,
       |    ${markers.map { case (l, ms) => s"${scoreSql(ms)} AS s_$l" }.mkString(",\n    ")}
       |  FROM documents
       |)
       |SELECT doc_id, true_lang,
       |  CASE
       |    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
       |    WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
       |    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
       |    WHEN s_fr >= s_zh THEN 'fr'
       |    ELSE 'zh'
       |  END AS pred_lang
       |FROM scored""") { (s, dir) =>
    table(s, dir, "documents")
      .select(col("doc_id"), col("lang").as("true_lang"),
        langIdPredict(col("text")).as("pred_lang"))
  }

  /** Quality scoring: token count, mean token length, stopword ratio, and
    * a combined score — exact-integer ratios emitted through one fixed
    * double op tree.
    */
  val q71Quality = Q.checked(
    "q71_quality",
    """WITH t AS (
      |  SELECT doc_id, n_chars, string_split(text, ' ') AS w,
      |         len(list_filter(string_split(text, ' '), x -> x IN ('the','a'))) AS stops
      |  FROM documents
      |)
      |SELECT doc_id, n_chars, len(w) AS n_tokens,
      |  CAST(n_chars AS DOUBLE) / len(w) AS chars_per_token,
      |  CAST(stops AS DOUBLE) / len(w) AS stop_ratio,
      |  CAST(n_chars AS DOUBLE) / len(w) - 2.0 * (CAST(stops AS DOUBLE) / len(w)) AS quality
      |FROM t""") { (s, dir) =>
    val w = split(col("text"), " ")
    val stops = size(filter(w, x => x.isInCollection(Seq("the", "a"))))
    table(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), w.as("w"), stops.as("stops"))
      .select(col("doc_id"), col("n_chars"), size(col("w")).cast("long").as("n_tokens"),
        (col("n_chars").cast("double") / size(col("w"))).as("chars_per_token"),
        (col("stops").cast("double") / size(col("w"))).as("stop_ratio"),
        (col("n_chars").cast("double") / size(col("w")) -
          lit(2.0) * (col("stops").cast("double") / size(col("w")))).as("quality"))
  }

  /** Corpus-frequency document scoring — the unigram-LM quality signal a
    * pretraining pipeline runs (a doc dominated by corpus-rare tokens is
    * usually junk, boilerplate, or the wrong language): every token joins
    * the corpus-wide frequency table and each doc reports its mean and
    * minimum token frequency. Kept in EXACT integers (sum of counts,
    * min count, token count) — the -log-prob form is a client-side
    * transform of these sufficient statistics, and log would break
    * cross-engine bit-identity. Scale shape: one groupBy builds the
    * vocabulary (token cardinality, not corpus size), the tokens-to-freq
    * join is a plain equi-join on the token, and the per-doc rollup
    * reuses the doc partitioning; nothing collects.
    */
  val q71bCorpusFreq = Q.checked(
    "q71b_corpus_freq",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), vocab AS (
      |  SELECT tok, count(*) AS f FROM toks GROUP BY tok
      |)
      |SELECT t.doc_id, count(*) AS n_tokens,
      |  CAST(sum(v.f) AS BIGINT) AS sum_f, min(v.f) AS min_f,
      |  CAST((200 * CAST(sum(v.f) AS BIGINT) + count(*)) // (2 * count(*)) AS DOUBLE) / 100 AS mean_f
      |FROM toks t JOIN vocab v ON v.tok = t.tok
      |GROUP BY t.doc_id""") { (s, dir) =>
    // mean in INTEGER half-up form, not round(DECIMAL/n): DuckDB's wide
    // decimal division degrades to DOUBLE and rounds the tie 9040.675
    // down where Spark's decimal HALF_UP rounds up — hit live at sf0.1
    // (round 12); sums here are counts, so no sign split needed
    val toks = table(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("f"))
    toks.join(vocab, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("f")).as("sum_f"), min(col("f")).as("min_f"))
      .select(col("doc_id"), col("n_tokens"), col("sum_f"), col("min_f"),
        (expr("(200 * sum_f + n_tokens) div (2 * n_tokens)").cast("double") / 100)
          .as("mean_f"))
  }

  /** Portable hashes of a text's word n-grams (the decontamination join
    * key: 8 bytes, not an n-word string). Guards the short-text case
    * BEFORE `sequence()`: Spark's `sequence(1, 0)` DESCENDS to [1, 0]
    * (step defaults to -1) and index 0 is a slice error — while DuckDB's
    * `generate_series(1, 0)` is empty. A text with fewer than `n` tokens
    * must yield an EMPTY array on both engines (spec-pinned).
    */
  def wordGramHashes(text: Column, n: Int): Column = {
    val w = split(text, " ")
    when(size(w) >= n, transform(
      sequence(lit(1), size(w) - (n - 1)),
      i => Hashing.hash32(concat_ws(" ", slice(w, i, lit(n))))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Broadcast cap for the decontamination gram index: up to this many
    * distinct 8-byte gram hashes (~32 MB of longs) broadcast to every
    * executor; past it the probe join degrades gracefully to Catalyst's
    * shuffled choice (SMJ under AQE) instead of an executor-OOMing
    * broadcast build. 4M grams covers any real benchmark suite
    * (thousands of eval docs); the fallback exists for when the
    * "benchmark" side violates that contract.
    */
  val MaxBroadcastGrams = 4000000L

  /** Contamination hit-counts: for every non-benchmark document, how many
    * of its word `n`-gram hashes appear in the benchmark slice's distinct
    * gram index. The index is materialized ONCE via localCheckpoint — the
    * size decision (broadcast vs shuffled join) and the probe join both
    * read that snapshot instead of re-deriving the gram pipeline per
    * consumer. Bench/Verify sweep the snapshot between queries; a real
    * pipeline would persist the index as a table anyway.
    */
  def decontaminationHits(docs: DataFrame, n: Int,
      maxBroadcastGrams: Long = MaxBroadcastGrams): DataFrame = {
    // widen before the gram-hash explode: a single-row-group corpus file
    // scans as one partition and would serialize the md5-per-gram map
    val grams = graft.operators.Dedup.widen(docs).select(col("doc_id"),
      explode(wordGramHashes(col("text"), n)).as("g"))
    val bench = grams.filter(col("doc_id") % 97 === 0)
      .select(col("g")).distinct()
      .localCheckpoint() // eager: count below is on the snapshot, free
    val index = if (bench.count() <= maxBroadcastGrams) broadcast(bench)
                else bench
    grams.filter(col("doc_id") % 97 =!= 0).alias("gr")
      .join(index.alias("b"), col("gr.g") === col("b.g"))
      .groupBy(col("gr.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("contaminated_grams"))
  }

  /** Benchmark DECONTAMINATION — the eval-integrity step every serious
    * training pipeline runs: flag training documents that contain an
    * n-gram from the held-out benchmark set. The benchmark here is a
    * deterministic slice of the corpus (doc_id % 97 = 0, standing in for
    * the real eval suites); its distinct word 8-gram hashes form the
    * contamination index, and every other document counts how many of
    * its own 8-grams hit it. Scale shape: the index is grouped-distinct
    * on the n-gram hash and the probe is an equi-join on that hash —
    * at real scale the index side is the small one (benchmarks are
    * thousands of docs, the corpus billions), so it broadcasts UNDER A
    * CAP ([[MaxBroadcastGrams]]) and falls back to a shuffled join past
    * it; a Bloom prefilter (operators/Sketches) slots in front when even
    * the join is too wide. Exact integer outputs.
    */
  val q96Decontaminate = Q.checked(
    "q96_decontaminate",
    """WITH grams AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(string_split(text,' ')) - 7),
      |      i -> ('0x' || substring(md5(array_to_string(string_split(text,' ')[i:i+7], ' ')), 1, 8))::BIGINT)) AS g
      |  FROM documents
      |), bench AS (
      |  SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
      |), hits AS (
      |  SELECT gr.doc_id, count(*) AS contaminated_grams
      |  FROM grams gr JOIN bench b ON b.g = gr.g
      |  WHERE gr.doc_id % 97 <> 0
      |  GROUP BY gr.doc_id
      |)
      |SELECT d.doc_id, coalesce(h.contaminated_grams, 0) AS contaminated_grams,
      |  coalesce(h.contaminated_grams, 0) > 0 AS flagged
      |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
      |WHERE d.doc_id % 97 <> 0""") { (s, dir) =>
    val docs = table(s, dir, "documents")
    val hits = decontaminationHits(docs, 8)
    docs.filter(col("doc_id") % 97 =!= 0).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("contaminated_grams"), lit(0L)).as("contaminated_grams"),
        (coalesce(col("contaminated_grams"), lit(0L)) > 0).as("flagged"))
  }

  /** Token counting two ways — whitespace tokens and a BPE-ish regex
    * lexer (letter runs / digit runs / single other) — rolled up per
    * source: the per-corpus token-budget accounting a training pipeline
    * runs. (The REAL merges-table BPE count is q72b.)
    */
  val q72TokenCount = Q.checked(
    "q72_token_count",
    """SELECT source,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
      |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS bpe_tokens,
      |  count(*) AS docs
      |FROM documents GROUP BY source""") { (s, dir) =>
    table(s, dir, "documents")
      .groupBy(col("source"))
      .agg(
        sum(size(split(col("text"), " "))).as("ws_tokens"),
        sum(size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))).as("bpe_tokens"),
        count(lit(1)).as("docs"))
  }

  /** REAL BPE token counting (upgrades q72's "BPE-ish" regex stand-in):
    * the merges-table apply loop of [[graft.functions.Bpe]] — lowest-rank
    * adjacent pair, merge left-to-right, repeat — over every lowercase
    * letter run, rolled up per source. The oracle replays the SAME table
    * (its replace-chain SQL is generated from `Bpe.fixtureMerges`, one
    * literal replace per merge in rank order over `<c>`-wrapped symbols),
    * so a green row proves the iterative loop and the rank-order replay
    * agree on exact token counts — the equivalence BpeSpec property-checks.
    * Per-word map work + one aggregation: embarrassingly parallel; the
    * merges table rides the closure (a real vocab would broadcast the
    * same way).
    */
  val q72bBpeTokens = Q.checked(
    "q72b_bpe_tokens",
    s"""WITH runs AS (
      |  SELECT source, unnest(regexp_extract_all(text, '[a-z]+')) AS w
      |  FROM documents),
      |tok AS (
      |  SELECT source, len(w) AS chars,
      |    ${graft.functions.Bpe.oracleReplayExpr("w")} AS s
      |  FROM runs)
      |SELECT source,
      |  CAST(sum(len(s) - len(replace(s, '<', ''))) AS BIGINT) AS bpe_tokens,
      |  CAST(sum(chars) AS BIGINT) AS chars,
      |  count(*) AS words
      |FROM tok GROUP BY source""".stripMargin) { (s, dir) =>
    import s.implicits._
    val ranks = graft.functions.Bpe.fixtureRanks
    table(s, dir, "documents")
      .select(col("source"), col("text"))
      .as[(String, String)]
      .flatMap { case (src, text) =>
        graft.functions.Bpe.letterRuns(text).map { w =>
          (src, graft.functions.Bpe.tokenize(w, ranks).length.toLong, w.length.toLong)
        }
      }
      .toDF("source", "toks", "chars")
      .groupBy(col("source"))
      .agg(sum(col("toks")).as("bpe_tokens"), sum(col("chars")).as("chars"),
        count(lit(1)).as("words"))
  }

  /** Document fingerprinting: min-hash over all char 8-grams (rolling
    * window) plus the whole-text hash — the winnowing-style signature used
    * for fast near-dup prefiltering.
    */
  val q73Fingerprint = Q.checked(
    "q73_fingerprint",
    """SELECT doc_id,
      |  list_min(list_transform(generate_series(1, length(text) - 7),
      |           i -> ('0x' || substring(md5(substr(text, i, 8)), 1, 8))::BIGINT)) AS fp_min,
      |  ('0x' || substring(md5(text), 1, 8))::BIGINT AS fp_full
      |FROM documents""") { (s, dir) =>
    // one codegen'd rolling pass (NgramMinHash) instead of a higher-order
    // transform: HOF lambdas interpret per element — ~300 grams/doc made
    // interpretation, not digests, the cost. NULL under 8 chars on both
    // engines (empty-sequence array_min / list_min).
    table(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.NgramMinHash(col("text"), 8).as("fp_min"),
        Hashing.hash32(col("text")).as("fp_full"))
  }

  /** Inverted-index build — the contrib Lucene index pattern
    * (`src/contrib/index/.../IndexUpdater.java`: analyze docs →
    * shard-routed intermediate forms → merged postings): token → sorted
    * postings list + document frequency, sharded by the portable hash
    * exactly like `IndexUpdateMapper`'s shard routing. The postings
    * groupBy IS the merge; shards partition the index for parallel serving.
    */
  val q74InvertedIndex = Q.checked(
    "q74_inverted_index",
    """WITH toks AS (
      |  SELECT DISTINCT unnest(string_split(text, ' ')) AS tok, doc_id FROM documents
      |)
      |SELECT tok,
      |  CAST(('0x' || substring(md5(tok), 1, 8))::BIGINT % 4 AS BIGINT) AS shard,
      |  array_to_string(list_sort(list(doc_id)), ',') AS postings,
      |  count(*) AS df
      |FROM toks GROUP BY tok""") { (s, dir) =>
    table(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"), col("doc_id"))
      .distinct()
      .groupBy(col("tok"))
      .agg(array_join(sort_array(collect_set(col("doc_id"))), ",").as("postings"),
        count(lit(1)).as("df"))
      .select(col("tok"), (Hashing.hash32(col("tok")) % 4).as("shard"),
        col("postings"), col("df"))
  }

  /** Incremental index-shard MERGE — the second half of the contrib Lucene
    * pattern (`src/contrib/index/.../IndexUpdater.java:150`,
    * `IntermediateForm.java:239`): q74 builds shards from scratch; the
    * reference also folds a DELTA corpus into EXISTING shards (read old
    * postings + new intermediate forms, merge per term within each shard).
    * Here the corpus is split 90/10, the 90% index is WRITTEN to disk
    * partitioned by shard (the persisted index), and the 10% delta's
    * postings are merged in by a per-term full-outer join — postings
    * lists union numerically, document frequency recomputed from the
    * merged list. The oracle rebuilds from scratch over the WHOLE corpus,
    * so a green row proves merged == rebuilt — the reference's exact
    * correctness contract for incremental updates. Scale shape: the merge
    * is one equi-join on the term, shard-locally (old side is read
    * shard-partitioned), never a rebuild of the 90%.
    */
  val q74bIndexMerge = Q.checked(
    "q74b_index_merge",
    """WITH toks AS (
      |  SELECT DISTINCT unnest(string_split(text, ' ')) AS tok, doc_id FROM documents
      |)
      |SELECT tok,
      |  CAST(('0x' || substring(md5(tok), 1, 8))::BIGINT % 4 AS BIGINT) AS shard,
      |  array_to_string(list_sort(list(doc_id)), ',') AS postings,
      |  count(*) AS df
      |FROM toks GROUP BY tok""") { (s, dir) =>
    def build(d: org.apache.spark.sql.DataFrame) = d
      .select(explode(split(col("text"), " ")).as("tok"), col("doc_id"))
      .distinct()
      .groupBy(col("tok"))
      .agg(array_join(sort_array(collect_set(col("doc_id"))), ",").as("postings"))
    val docs = table(s, dir, "documents")
    val shardDir = graft.core.Graft.scratch("q74b-shards")
    build(docs.filter(col("doc_id") % 10 =!= 0))
      .select(col("tok"), (Hashing.hash32(col("tok")) % 4).as("shard"), col("postings"))
      .write.mode("overwrite").partitionBy("shard").parquet(shardDir)
    val old = s.read.parquet(shardDir)
    val delta = build(docs.filter(col("doc_id") % 10 === 0))
    def plist(c: Column) = coalesce(
      transform(split(c, ","), x => x.cast("long")),
      array().cast("array<bigint>"))
    val unioned = array_sort(array_union(plist(col("p_old")), plist(col("p_new"))))
    old.select(col("tok"), col("postings").as("p_old"))
      .join(delta.select(col("tok"), col("postings").as("p_new")),
        Seq("tok"), "full_outer")
      .select(
        col("tok"),
        (Hashing.hash32(col("tok")) % 4).as("shard"),
        array_join(transform(unioned, x => x.cast("string")), ",").as("postings"),
        size(unioned).cast("long").as("df"))
  }

  /** Deterministic stratified sampling + train/test split — the
    * training-data curation step after filtering/dedup: per-class keep
    * rates (downsample the over-represented language) and an 80/20 split,
    * both decided by the portable 32-bit hash of the doc id, so the sample
    * is reproducible on any engine, any cluster size, any run — never
    * `rand()`, whose draw depends on partitioning. Per-row hash compare +
    * one final aggregation; nothing shuffles before the groupBy.
    */
  val q76StratifiedSplit = Q.checked(
    "q76_stratified_split",
    """WITH s AS (
      |  SELECT doc_id, lang,
      |    ('0x'||substring(md5('smp:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 AS hs,
      |    ('0x'||substring(md5('spl:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 AS hp
      |  FROM documents)
      |SELECT lang, CASE WHEN hp < 80 THEN 'train' ELSE 'test' END AS split,
      |  count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM s
      |WHERE hs < CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 80 ELSE 100 END
      |GROUP BY 1, 2""") { (s, dir) =>
    val hs = Hashing.hash32(concat(lit("smp:"), col("doc_id").cast("string"))) % 100
    val hp = Hashing.hash32(concat(lit("spl:"), col("doc_id").cast("string"))) % 100
    val rate = when(col("lang") === "en", 50)
      .when(col("lang") === "zh", 80)
      .otherwise(100)
    table(s, dir, "documents")
      .filter(hs < rate)
      .withColumn("split", when(hp < 80, "train").otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
  }

  /** Collocation mining (PMI-ranked bigrams) — the text-analysis step for
    * tokenizer/vocab curation: corpus bigram and unigram counts, and the
    * PMI *ratio* `c(ab)·N_uni² / (c(a)·c(b)·N_bi)` (the log's argument;
    * emitting the ratio instead of the log keeps the column bit-identical
    * across engines — ln differs in ulps between libms, division of
    * identical operands cannot). Counts are corpus-wide aggregations with
    * map-side partial agg; totals ride in as broadcast single-row frames;
    * top-50 via the bounded rank-filter pattern.
    */
  val q77Collocations = Q.checked(
    "q77_collocations",
    """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
      |bi AS (SELECT unnest(list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1])) AS bg FROM w),
      |uni AS (SELECT unnest(w) AS tok FROM w),
      |bc AS (SELECT bg, count(*) AS c_ab FROM bi GROUP BY bg HAVING count(*) >= 5),
      |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
      |nu AS (SELECT count(*) AS n_uni FROM uni),
      |nb AS (SELECT count(*) AS n_bi FROM bi)
      |SELECT bg, c_ab, c_a, c_b, ratio, rank FROM (
      |  SELECT bc.bg, bc.c_ab, ua.c AS c_a, ub.c AS c_b,
      |    CAST(bc.c_ab AS DOUBLE) * nu.n_uni * nu.n_uni / (CAST(ua.c AS DOUBLE) * ub.c * nb.n_bi) AS ratio,
      |    row_number() OVER (ORDER BY CAST(bc.c_ab AS DOUBLE) * nu.n_uni * nu.n_uni / (CAST(ua.c AS DOUBLE) * ub.c * nb.n_bi) DESC, bc.bg) AS rank
      |  FROM bc
      |  JOIN uc ua ON ua.tok = split_part(bc.bg, ' ', 1)
      |  JOIN uc ub ON ub.tok = split_part(bc.bg, ' ', 2)
      |  CROSS JOIN nu CROSS JOIN nb
      |) WHERE rank <= 50""") { (s, dir) =>
    import graft.operators.Dedup
    import org.apache.spark.sql.expressions.Window
    val docs = table(s, dir, "documents")
    val bi = docs.select(explode(Dedup.bigrams(col("text"))).as("bg"))
    val uni = docs.select(explode(split(col("text"), " ")).as("tok"))
    val bc = bi.groupBy(col("bg")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 5)
    val uc = uni.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val nu = uni.agg(count(lit(1)).as("n_uni"))
    val nb = bi.agg(count(lit(1)).as("n_bi"))
    bc
      .join(uc.select(col("tok").as("ta"), col("c").as("c_a")),
        substring_index(col("bg"), " ", 1) === col("ta"))
      .join(uc.select(col("tok").as("tb"), col("c").as("c_b")),
        substring_index(col("bg"), " ", -1) === col("tb"))
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .withColumn("ratio",
        col("c_ab").cast("double") * col("n_uni") * col("n_uni") /
          (col("c_a").cast("double") * col("c_b") * col("n_bi")))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("ratio").desc, col("bg"))))
      .filter(col("rank") <= 50)
      .select(col("bg"), col("c_ab"), col("c_a"), col("c_b"), col("ratio"),
        col("rank").cast("long").as("rank"))
  }

  /** TF-IDF top terms per document — the companion to the inverted index
    * (q74): term frequency per (doc, term), document frequency per term,
    * and a log-free score `tf·N/df` (a ratio of exact integers — ln/log10
    * would hand the compare to libm ulp differences, the q77 lesson), top
    * 3 per doc with a deterministic term tiebreak.
    *
    * Scale shape: tf and df are grouped aggregations with map-side
    * partial combine (df over the distinct doc-term pairs); corpus size N
    * joins as a broadcast single-row aggregate; the final rank is a
    * per-doc window (bounded partitions), filtered on the RAW row_number
    * so WindowGroupLimit prunes before the window at 100 TB.
    */
  val q75Tfidf = Q.checked(
    "q75_tfidf",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
      |n AS (SELECT count(*) AS n FROM documents),
      |s AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |         CAST(tf.tf * n.n AS DOUBLE) / df.df AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
      |  FROM s)
      |SELECT doc_id, term, tf, df, score, rk FROM r WHERE rk <= 3""") { (s, dir) =>
    import graft.operators.Dedup
    import org.apache.spark.sql.expressions.Window
    val toks = table(s, dir, "documents")
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // tf already has exactly one row per (doc, term): deriving df from it
    // skips a second scan + full-width distinct shuffle of the token stream
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = broadcast(table(s, dir, "documents").agg(count(lit(1)).as("n")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, Seq("term"))
      .crossJoin(n)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        ((col("tf") * col("n")).cast("double") / col("df")).as("score"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
  }

  /** Repetition-based quality signals (the Gopher-rules family a training
    * pipeline filters on): per document, the duplicate-token fraction and
    * the most-frequent-bigram share, plus the resulting keep/drop flag.
    *
    * Scale shape: token stats are MAP-SIDE (size / array_distinct on the
    * split array — zero shuffles); only the bigram frequency table
    * aggregates, hash-partitioned on (doc, bigram) then (doc) — per-key
    * state is one counter, never a collected list. Ratios are one
    * integer-to-double division each, so both engines emit bit-identical
    * doubles; the bigram share is NULL for sub-2-token docs (no bigrams)
    * and the flag coalesces it to 0.
    */
  val q79Repetition = Q.checked(
    "q79_repetition",
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |t AS (
      |  SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_uniq
      |  FROM d),
      |bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1])) AS b
      |  FROM d),
      |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b),
      |bs AS (SELECT doc_id, max(c) AS max_c, sum(c) AS n_big FROM bc GROUP BY doc_id)
      |SELECT t.doc_id, t.n_tokens,
      |  CAST(t.n_tokens - t.n_uniq AS DOUBLE) / t.n_tokens AS dup_token_frac,
      |  CAST(bs.max_c AS DOUBLE) / bs.n_big AS top_bigram_frac,
      |  (CAST(t.n_tokens - t.n_uniq AS DOUBLE) / t.n_tokens > 0.6
      |    OR coalesce(CAST(bs.max_c AS DOUBLE) / bs.n_big, 0.0) > 0.1) AS repetitive
      |FROM t LEFT JOIN bs ON t.doc_id = bs.doc_id""") { (s, dir) =>
    import graft.operators.Dedup
    val docs = table(s, dir, "documents")
    val t = docs.select(col("doc_id"),
      size(Dedup.tokens(col("text"))).cast("long").as("n_tokens"),
      size(array_distinct(Dedup.tokens(col("text")))).cast("long").as("n_uniq"))
    val bs = docs
      .select(col("doc_id"), explode(Dedup.bigrams(col("text"))).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("max_c"), sum(col("c")).as("n_big"))
    val dupFrac = (col("n_tokens") - col("n_uniq")).cast("double") / col("n_tokens")
    val topFrac = col("max_c").cast("double") / col("n_big")
    t.join(bs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        dupFrac.as("dup_token_frac"),
        topFrac.as("top_bigram_frac"),
        (dupFrac > 0.6 || coalesce(topFrac, lit(0.0)) > 0.1).as("repetitive"))
  }

  /** Cross-document duplicated-SPAN detection — the fixed-granularity
    * form of exact substring dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL 2022: repeated spans, not
    * just whole-doc dups, degrade models): an 8-word gram occurring in
    * ≥2 DISTINCT documents marks every one of its occurrences as
    * duplicated text. Per doc: total grams, duplicated-gram occurrences,
    * their fraction, and a flag. Scale shape: one groupBy on the 8-byte
    * gram hash builds the shared-gram set (count-distinct ≥ 2 — never a
    * doc×doc comparison), one semi-join marks occurrences; both shuffle
    * on the gram hash, so the plan is linear in total grams at any
    * corpus size. A gram repeated only WITHIN one doc is not "shared" —
    * the distinct-doc count is what separates self-repetition (q79's
    * job) from cross-doc duplication.
    */
  val q100DupSpans = Q.checked(
    "q100_dup_spans",
    """WITH grams AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(string_split(text,' ')) - 7),
      |      i -> ('0x' || substring(md5(array_to_string(string_split(text,' ')[i:i+7], ' ')), 1, 8))::BIGINT)) AS g
      |  FROM documents
      |), shared AS (
      |  SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
      |), tot AS (
      |  SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id
      |), hit AS (
      |  SELECT gr.doc_id, count(*) AS dup_grams
      |  FROM grams gr JOIN shared s ON s.g = gr.g GROUP BY gr.doc_id
      |)
      |SELECT d.doc_id,
      |  CAST(coalesce(t.n_grams, 0) AS BIGINT) AS n_grams,
      |  CAST(coalesce(h.dup_grams, 0) AS BIGINT) AS dup_grams,
      |  CASE WHEN coalesce(t.n_grams, 0) = 0 THEN 0.0
      |       ELSE CAST(coalesce(h.dup_grams, 0) AS DOUBLE) / t.n_grams END AS dup_frac,
      |  coalesce(h.dup_grams, 0) > 0 AS flagged
      |FROM documents d
      |LEFT JOIN tot t ON t.doc_id = d.doc_id
      |LEFT JOIN hit h ON h.doc_id = d.doc_id""") { (s, dir) =>
    val docs = table(s, dir, "documents")
    // widen: the md5-per-8-gram map stage ran as ONE 1.8 s task (twice —
    // `grams` feeds both consumers) over the single-row-group corpus file
    val grams = graft.operators.Dedup.widen(docs).select(col("doc_id"),
      explode(wordGramHashes(col("text"), 8)).as("g"))
    // "≥2 distinct docs" as min≠max — a plain single-phase agg, no
    // count-distinct expansion
    val shared = grams.groupBy(col("g"))
      .agg((min(col("doc_id")) =!= max(col("doc_id"))).as("sh"))
      .filter(col("sh")).select(col("g"), col("sh"))
    val per = grams.join(shared, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("sh"), 1)).as("dup_grams"))
    val n = coalesce(col("n_grams"), lit(0L))
    val dup = coalesce(col("dup_grams"), lit(0L))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), n.as("n_grams"), dup.as("dup_grams"),
        when(n === 0, 0.0).otherwise(dup.cast("double") / n).as("dup_frac"),
        (dup > 0).as("flagged"))
  }

  /** PII detection + redaction ([[graft.operators.Pii]]): the corpus text
    * is synthetic word-soup, so both engines append the SAME deterministic
    * PII spans (emails — doubled on every 7th doc, dotted-quad IPs,
    * NANP phones, each conditionally absent on a different residue class
    * so the no-PII and multi-PII paths are both exercised), then detect
    * and redact with regexes from the Java∩RE2 common subset. The
    * `md5(redacted)` compare makes the check span-exact: one character of
    * disagreement in any replacement anywhere fails the hash.
    */
  val q98PiiRedact = Q.checked(
    "q98_pii_redact",
    s"""WITH p AS (
       |  SELECT doc_id, text
       |    || CASE WHEN doc_id % 3 <> 2 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END
       |    || CASE WHEN doc_id % 7 = 0 THEN ' cc admin@corp.example.org' ELSE '' END
       |    || CASE WHEN doc_id % 4 <> 3 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END
       |    || CASE WHEN doc_id % 5 <> 4 THEN ' call ' || CAST(200 + doc_id % 700 AS VARCHAR) || '-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
       |    AS t
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '${graft.operators.Pii.emailRe}')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(t, '${graft.operators.Pii.ipv4Re}')) AS BIGINT) AS n_ip,
       |  CAST(len(regexp_extract_all(t, '${graft.operators.Pii.phoneRe}')) AS BIGINT) AS n_phone,
       |  md5(${graft.operators.Pii.redactSql("t")}) AS redacted_md5,
       |  CAST(length(${graft.operators.Pii.redactSql("t")}) AS BIGINT) AS redacted_len
       |FROM p""") { (s, dir) =>
    import graft.operators.Pii
    val t = concat(
      col("text"),
      when(col("doc_id") % 3 =!= 2,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com"))).otherwise(""),
      when(col("doc_id") % 7 === 0, lit(" cc admin@corp.example.org"))
        .otherwise(""),
      when(col("doc_id") % 4 =!= 3,
        concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), (col("doc_id") % 100).cast("string"))).otherwise(""),
      when(col("doc_id") % 5 =!= 4,
        concat(lit(" call "), (col("doc_id") % 700 + 200).cast("string"),
          lit("-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(""))
    table(s, dir, "documents")
      .select(col("doc_id"), t.as("t"))
      .select(col("doc_id"),
        Pii.emailCount(col("t")).cast("long").as("n_email"),
        Pii.ipv4Count(col("t")).cast("long").as("n_ip"),
        Pii.phoneCount(col("t")).cast("long").as("n_phone"),
        md5(Pii.redact(col("t"))).as("redacted_md5"),
        length(Pii.redact(col("t"))).cast("long").as("redacted_len"))
  }

  /** Training-sequence packing ([[graft.operators.Packing]]): every doc's
    * token span within the concatenated corpus stream and its sequence
    * assignment at 1024 tokens. The oracle computes the prefix sum with a
    * single-threaded window — the Spark side must reproduce it exactly
    * from the two-pass distributed scan, so a green row proves the
    * partition-offset bookkeeping (not just the token counts).
    */
  val q101SeqPack = Q.checked(
    "q101_seq_pack",
    """WITH t AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
      |  FROM t)
      |SELECT doc_id, n_tokens, start_off,
      |  start_off // 1024 AS first_seq,
      |  (start_off + n_tokens - 1) // 1024 AS last_seq,
      |  start_off // 1024 <> (start_off + n_tokens - 1) // 1024 AS crosses_boundary
      |FROM c""") { (s, dir) =>
    graft.operators.Packing.packed(table(s, dir, "documents"), 1024)
  }

  /** Per-source document cap — the domain-balancing step web-corpus
    * pipelines run (cap any one domain's contribution before mixing):
    * keep at most K docs per source, chosen by a deterministic seeded
    * hash order (stable under reruns and corpus growth — a doc's
    * keep/drop fate changes only if its source crosses the cap), with
    * doc_id as the total-order tiebreak so both engines rank
    * identically. Plans as WindowGroupLimit (rank ≤ K pushed into the
    * window — per-source top-K heaps, never a full per-source sort) on
    * the source-hash shuffle; skew caveat: one colossal source still
    * routes to one task, the standard pre-aggregated-top-K answer
    * applies if a real corpus needs it.
    */
  val q102SourceCap = Q.checked(
    "q102_source_cap",
    """WITH r AS (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source ORDER BY
      |      ('0x'||substring(md5('cap:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT, doc_id) AS rk
      |  FROM documents)
      |SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 18""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val h = Hashing.hash32(concat(lit("cap:"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("source")).orderBy(h.asc, col("doc_id").asc)
    table(s, dir, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("rk0", row_number().over(w))
      .filter(col("rk0") <= 18)
      .select(col("doc_id"), col("source"), col("rk0").cast("long").as("rk"))
  }

  /** BPE vocab-training step ([[graft.operators.BpeTrain]]): from the
    * fixture-merges state, the top-10 next-merge candidates — weighted
    * adjacent-symbol-pair counts over the corpus vocab, ranked (cnt desc,
    * pair asc). This is one iteration of the Sennrich greedy learn loop,
    * oracle-checked the q104-kmeans way (the SQL replays the CURRENT state
    * — q72b's generated replace-chain — then recomputes the argmax
    * frontier); BpeSpec drives the full multi-iteration loop against an
    * independent single-threaded reference. All integers: no float
    * accumulation anywhere.
    */
  val q105BpeTrainStep = Q.checked(
    "q105_bpe_train_step",
    s"""WITH runs AS (
       |  SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS w FROM documents),
       |wc AS (SELECT w, count(*) AS c FROM runs GROUP BY w),
       |tok AS (
       |  SELECT c, regexp_extract_all(${graft.functions.Bpe.oracleReplayExpr("w")}, '<([^>]*)>', 1) AS syms
       |  FROM wc),
       |px AS (
       |  SELECT unnest(generate_series(1, len(syms) - 1)) AS i, syms, c FROM tok),
       |pc AS (
       |  SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(c) AS BIGINT) AS cnt
       |  FROM px GROUP BY 1, 2)
       |SELECT * FROM (
       |  SELECT a, b, cnt,
       |    CAST(row_number() OVER (ORDER BY cnt DESC, a, b) AS BIGINT) AS rk
       |  FROM pc) WHERE rk <= 10""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    import graft.operators.BpeTrain
    val words = BpeTrain.vocab(table(s, dir, "documents"))
    val pc = BpeTrain.pairCounts(words, graft.functions.Bpe.fixtureRanks)
    val win = Window.orderBy(col("cnt").desc, col("a").asc, col("b").asc)
    pc.withColumn("rk", row_number().over(win))
      .filter(col("rk") <= 10)
      .select(col("a"), col("b"), col("cnt"), col("rk").cast("long").as("rk"))
  }

  /** Weighted adjacent-pair counts over the symbol strings of `t$n`
    * (columns c, tok) — one BPE frontier CTE, chained by [[q105bBpeTrainLoop]].
    */
  private def bpeFrontierCte(n: Int): String =
    s"""i$n AS (
       |  SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(c) AS BIGINT) AS cnt
       |  FROM (SELECT c, syms, unnest(generate_series(1, len(syms) - 1)) AS i
       |        FROM (SELECT c, regexp_extract_all(tok, '<([^>]*)>', 1) AS syms
       |              FROM t$n))
       |  GROUP BY 1, 2)""".stripMargin

  /** Adopt the argmax of `i$n` and re-tokenize: for a well-formed table a
    * NEW merge applied after full replay of the earlier ones is exactly
    * rank-order replay (the [[graft.functions.Bpe]] equivalence), so one
    * literal replace-all advances the state.
    */
  private def bpeAdoptCte(n: Int): String =
    s"""m$n AS (SELECT a, b, cnt FROM i$n ORDER BY cnt DESC, a, b LIMIT 1),
       |t${n + 1} AS (
       |  SELECT c, replace(t$n.tok, '<'||m$n.a||'><'||m$n.b||'>',
       |                    '<'||m$n.a||m$n.b||'>') AS tok
       |  FROM t$n, m$n)""".stripMargin

  /** TWO chained BPE learning iterations — the training LOOP itself
    * cross-engine-pinned, not just one frontier (q105): step 1's argmax
    * is adopted, the vocab re-tokenizes under the grown table, step 2's
    * argmax is adopted from the NEW frontier, and the post-loop frontier
    * is ranked. Rows: (step 1, the first learned merge), (step 2, the
    * second — counted over tokenizations that already contain merge 1),
    * (step 3, the next-10 candidates). A wrong count anywhere in the
    * chain cascades: merge 2 is only correct if merge 1 was adopted AND
    * applied exactly.
    *
    * The oracle unrolls both iterations as CTEs (the q127/q147 unrolled-
    * loop standard): each adoption is an ORDER BY ... LIMIT 1 CTE and
    * one literal replace-all — equivalent to the engine's real
    * [[graft.functions.Bpe.tokenize]] loop for well-formed tables, the
    * invariant BpeSpec property-checks. Scale shape: identical to q105
    * per iteration — nothing corpus-sized after the vocab collapse, the
    * argmax is a distributed top-1, the driver holds two merge pairs.
    */
  val q105bBpeTrainLoop = Q.checked(
    "q105b_bpe_train_loop",
    s"""WITH runs AS (
       |  SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS w FROM documents),
       |wc AS (SELECT w, count(*) AS c FROM runs GROUP BY w),
       |t0 AS (SELECT c, ${graft.functions.Bpe.oracleReplayExpr("w")} AS tok FROM wc),
       |${bpeFrontierCte(0)},
       |${bpeAdoptCte(0)},
       |${bpeFrontierCte(1)},
       |${bpeAdoptCte(1)},
       |${bpeFrontierCte(2)}
       |SELECT CAST(1 AS BIGINT) AS step, a, b, cnt, CAST(1 AS BIGINT) AS rk FROM m0
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), a, b, cnt, CAST(1 AS BIGINT) FROM m1
       |UNION ALL
       |SELECT CAST(3 AS BIGINT), a, b, cnt, rk FROM (
       |  SELECT a, b, cnt,
       |    CAST(row_number() OVER (ORDER BY cnt DESC, a, b) AS BIGINT) AS rk
       |  FROM i2) WHERE rk <= 10""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    import graft.operators.BpeTrain
    import graft.functions.Bpe
    import s.implicits._
    // the vocab feeds three frontier passes — checkpoint it once
    val words = BpeTrain.vocab(table(s, dir, "documents")).localCheckpoint(true)
    def emptyResult = Seq.empty[(Long, String, String, Long, Long)]
      .toDF("step", "a", "b", "cnt", "rk")
    // a corpus with no adjacent pair left yields an EMPTY oracle (the m0
    // CTE has no row), so the engine mirrors empty instead of crashing;
    // likewise a loop exhausted after one merge yields just the step-1 row
    BpeTrain.learnStep(words, Bpe.fixtureMerges) match {
      case None => emptyResult
      case Some((a1, b1, c1)) =>
        val merges1 = Bpe.fixtureMerges :+ ((a1, b1))
        val step2 = BpeTrain.learnStep(words, merges1)
        val adopted = (Seq((1L, a1, b1, c1, 1L)) ++
          step2.map { case (a2, b2, c2) => (2L, a2, b2, c2, 1L) })
          .toDF("step", "a", "b", "cnt", "rk")
        val frontier = step2 match {
          case None => emptyResult
          case Some((a2, b2, _)) =>
            val win = Window.orderBy(col("cnt").desc, col("a").asc, col("b").asc)
            BpeTrain.pairCounts(words, (merges1 :+ ((a2, b2))).zipWithIndex.toMap)
              .withColumn("rk", row_number().over(win))
              .filter(col("rk") <= 10)
              .select(lit(3L).as("step"), col("a"), col("b"), col("cnt"),
                col("rk").cast("long").as("rk"))
        }
        adopted.union(frontier)
    }
  }

  /** Mixture resampling to target domain weights — the corpus-mixing step
    * (Pile/DoReMi-style) that runs after per-source caps: compute each
    * domain's share, derive a deterministic acceptance rate toward a
    * uniform target (`ppm = min(1e6, 1e6·total/(ndom·cnt))` — over-
    * represented domains downsample, under-represented ones keep all;
    * ALL-INTEGER arithmetic so both engines agree bitwise), then accept
    * docs whose seeded hash falls under the rate. The corpus `source`
    * column is balanced, so the skew comes from a synthetic domain split
    * (55/25/15/5 on doc_id residues) that exercises both the downsample
    * branch and the cap branch, with 'books' landing exactly ON the
    * 1 000 000 boundary. Scale shape: rates are an ndomain-row broadcast;
    * the corpus sees two pruned map passes (count, then filter+count) and
    * never shuffles anything wider than (domain).
    */
  val q108MixtureResample = Q.checked(
    "q108_mixture_resample",
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 100 < 55 THEN 'web'
      |         WHEN doc_id % 100 < 80 THEN 'books'
      |         WHEN doc_id % 100 < 95 THEN 'code'
      |         ELSE 'wiki' END AS domain
      |  FROM documents),
      |c AS (SELECT domain, count(*) AS n_docs FROM d GROUP BY domain),
      |t AS (SELECT sum(n_docs) AS total, count(*) AS ndom FROM c),
      |r AS (SELECT domain, n_docs,
      |        least(1000000, (1000000 * total) // (ndom * n_docs)) AS accept_ppm
      |      FROM c, t),
      |k AS (SELECT d.domain, count(*) AS n_kept
      |      FROM d JOIN r ON r.domain = d.domain
      |      WHERE ('0x' || substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 < r.accept_ppm
      |      GROUP BY d.domain)
      |SELECT r.domain, CAST(r.n_docs AS BIGINT) AS n_docs,
      |  CAST(r.accept_ppm AS BIGINT) AS accept_ppm,
      |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
      |FROM r LEFT JOIN k ON k.domain = r.domain""") { (s, dir) =>
    val res = col("doc_id") % 100
    val dom = when(res < 55, "web").when(res < 80, "books")
      .when(res < 95, "code").otherwise("wiki")
    val d = table(s, dir, "documents").select(col("doc_id"), dom.as("domain"))
    val counts = d.groupBy(col("domain")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).as("total"), count(lit(1)).as("ndom"))
    val rates = counts.crossJoin(broadcast(tot))
      .withColumn("accept_ppm",
        least(lit(1000000L), expr("(1000000 * total) div (ndom * n_docs)")))
      .select(col("domain"), col("n_docs"), col("accept_ppm"))
    val u = Hashing.hash32(concat(lit("mix:"), col("doc_id").cast("string")))
    val kept = d
      .join(broadcast(rates.select(col("domain"), col("accept_ppm"))), Seq("domain"))
      .filter(u % 1000000L < col("accept_ppm"))
      .groupBy(col("domain")).agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("domain"), "left")
      .select(col("domain"), col("n_docs"), col("accept_ppm"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** End-to-end curation funnel — the capstone composition query: the
    * stages a pretraining corpus actually passes through, chained in ONE
    * plan with per-source survivor counts after each. quality gate
    * (integer inequality form of q71's score, so no float ever exists:
    * `n_chars − 2·stops > 5·n_tokens`) → language gate (q70's marker
    * argmax = 'en') → exact-dedup keeper among survivors (min doc_id per
    * md5(text), a PARTITIONED window) → per-source cap (q102's seeded-hash
    * rank ≤ 18, partial+final WindowGroupLimit) → mixture resample (q108's
    * integer ppm toward uniform DOMAIN shares, computed over the post-cap
    * survivors). A green hash proves the operators compose — stage
    * ordering, survivor-set handoff, and every per-stage formula — not
    * just that each works alone. Monotone by construction: each count ≤
    * the previous column.
    *
    * Plan shape: the naive funnel (one filtered branch per stage count)
    * scans the corpus six times; this one computes every stage flag as a
    * cascading boolean on ONE staged lineage — dedup keeper via
    * `min(when(s2, doc_id))` over the md5 partition, cap rank via a
    * running conditional sum over the (source, hash-order) window (equal
    * to row_number on the s3-filtered set at every s3 row) — and rolls
    * all six counts up in ONE `count(when(...))` aggregation. Two corpus
    * passes total (the mixture rates need an s4 aggregate before the
    * final pass), and the final groupBy(source) reuses the cap window's
    * source partitioning.
    */
  val q109CurationFunnel = Q.checked(
    "q109_curation_funnel",
    s"""WITH b AS (
       |  SELECT doc_id, source, text, n_chars,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    len(list_filter(string_split(text, ' '), x -> x IN ('the','a'))) AS stops,
       |    ${markers.map { case (l, ms) => s"${scoreSql(ms)} AS s_$l" }.mkString(",\n    ")}
       |  FROM documents),
       |s1 AS (SELECT * FROM b WHERE n_chars - 2 * stops > 5 * n_tokens),
       |s2 AS (SELECT * FROM s1 WHERE (CASE
       |    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
       |    WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
       |    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
       |    WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END) = 'en'),
       |s3 AS (SELECT * FROM (
       |    SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS kmin FROM s2)
       |  WHERE doc_id = kmin),
       |s4 AS (SELECT * FROM (
       |    SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY
       |      ('0x' || substring(md5('cap9:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT, doc_id) AS rk
       |    FROM s3)
       |  WHERE rk <= 18),
       |s4d AS (SELECT doc_id, source,
       |    CASE WHEN doc_id % 100 < 55 THEN 'web'
       |         WHEN doc_id % 100 < 80 THEN 'books'
       |         WHEN doc_id % 100 < 95 THEN 'code'
       |         ELSE 'wiki' END AS domain
       |  FROM s4),
       |c AS (SELECT domain, count(*) AS cnt FROM s4d GROUP BY domain),
       |t AS (SELECT sum(cnt) AS total, count(*) AS ndom FROM c),
       |r AS (SELECT domain, least(1000000, (1000000 * total) // (ndom * cnt)) AS ppm FROM c, t),
       |s5 AS (SELECT s4d.doc_id, s4d.source FROM s4d JOIN r ON r.domain = s4d.domain
       |  WHERE ('0x' || substring(md5('mix9:' || CAST(s4d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 < r.ppm)
       |SELECT f0.source,
       |  f0.n AS n_raw,
       |  CAST(coalesce(f1.n, 0) AS BIGINT) AS n_quality,
       |  CAST(coalesce(f2.n, 0) AS BIGINT) AS n_lang,
       |  CAST(coalesce(f3.n, 0) AS BIGINT) AS n_dedup,
       |  CAST(coalesce(f4.n, 0) AS BIGINT) AS n_cap,
       |  CAST(coalesce(f5.n, 0) AS BIGINT) AS n_final
       |FROM       (SELECT source, count(*) AS n FROM documents GROUP BY source) f0
       |LEFT JOIN (SELECT source, count(*) AS n FROM s1 GROUP BY source) f1 ON f1.source = f0.source
       |LEFT JOIN (SELECT source, count(*) AS n FROM s2 GROUP BY source) f2 ON f2.source = f0.source
       |LEFT JOIN (SELECT source, count(*) AS n FROM s3 GROUP BY source) f3 ON f3.source = f0.source
       |LEFT JOIN (SELECT source, count(*) AS n FROM s4 GROUP BY source) f4 ON f4.source = f0.source
       |LEFT JOIN (SELECT source, count(*) AS n FROM s5 GROUP BY source) f5 ON f5.source = f0.source""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = table(s, dir, "documents")
    val w = split(col("text"), " ")
    val stops = size(filter(w, x => x.isInCollection(Seq("the", "a"))))
    val res = col("doc_id") % 100
    val staged = docs
      .select(col("doc_id"), col("source"), col("n_chars"),
        md5(col("text")).as("h"),
        size(w).cast("long").as("n_tokens"), stops.cast("long").as("stops"),
        (langIdPredict(col("text")) === "en").as("l_ok"),
        when(res < 55, "web").when(res < 80, "books")
          .when(res < 95, "code").otherwise("wiki").as("domain"))
      .withColumn("s1",
        col("n_chars") - lit(2L) * col("stops") > lit(5L) * col("n_tokens"))
      .withColumn("s2", col("s1") && col("l_ok"))
      .withColumn("s3", col("s2") && col("doc_id") ===
        min(when(col("s2"), col("doc_id"))).over(Window.partitionBy(col("h"))))
      .withColumn("rk",
        sum(when(col("s3"), 1L).otherwise(0L)).over(
          Window.partitionBy(col("source"))
            .orderBy(Hashing.hash32(concat(lit("cap9:"),
              col("doc_id").cast("string"))).asc, col("doc_id").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("s4", col("s3") && col("rk") <= 18)
    val cnts = staged.filter(col("s4")).groupBy(col("domain"))
      .agg(count(lit(1)).as("cnt"))
    val tot = cnts.agg(sum(col("cnt")).as("total"), count(lit(1)).as("ndom"))
    val rates = cnts.crossJoin(broadcast(tot))
      .withColumn("ppm", least(lit(1000000L), expr("(1000000 * total) div (ndom * cnt)")))
      .select(col("domain"), col("ppm"))
    val hmix = Hashing.hash32(concat(lit("mix9:"), col("doc_id").cast("string")))
    staged.join(broadcast(rates), Seq("domain"), "left")
      .withColumn("s5",
        col("s4") && hmix % 1000000L < coalesce(col("ppm"), lit(0L)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        count(when(col("s1"), 1)).as("n_quality"),
        count(when(col("s2"), 1)).as("n_lang"),
        count(when(col("s3"), 1)).as("n_dedup"),
        count(when(col("s4"), 1)).as("n_cap"),
        count(when(col("s5"), 1)).as("n_final"))
  }

  /** Token-budget corpus selection ([[graft.operators.Packing
    * .selectUnderBudget]]): keep documents in (n_chars DESC, doc_id)
    * quality order while the running token total stays within a 15k
    * budget — the data-selection step of budget-constrained training
    * (pick the best B tokens, a doc that would straddle the budget is
    * excluded, not truncated). The oracle is the windowed cumulative sum;
    * the engine side is the two-pass distributed prefix sum — a green
    * row proves the distributed running total equals the sequential one.
    */
  val q114TokenBudget = Q.checked(
    "q114_token_budget",
    """WITH t AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, n_chars
      |  FROM documents
      |), r AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
      |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |           AS cum_tokens
      |  FROM t)
      |SELECT doc_id, n_tokens, cum_tokens FROM r WHERE cum_tokens <= 15000""") { (s, dir) =>
    graft.operators.Packing.selectUnderBudget(
      table(s, dir, "documents"), col("n_chars"), budget = 15000L)
  }

  /** Sliding-window token chunking: split every document into overlapping
    * token windows (size [[ChunkW]], stride [[ChunkS]]) with stable chunk
    * ids and token offsets — the corpus-construction step for retrieval
    * indexes and fixed-context training examples. A document shorter than
    * one window emits exactly one chunk; the last window is short rather
    * than padded (chunk k covers tokens [k·S, min(k·S+W, n))). Purely
    * map-side — tokenize, explode the window index, slice — no shuffle at
    * all; at 100 TB this pipelines inside whole-stage codegen over the
    * scan.
    */
  val q118ChunkWindows = Q.checked(
    "q118_chunk_windows",
    s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |idx AS (
       |  SELECT doc_id, w, len(w) AS n,
       |    unnest(generate_series(0, CAST(ceil(greatest(len(w) - $ChunkW, 0) / $ChunkS.0) AS INT))) AS k
       |  FROM words
       |)
       |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
       |  CAST(k * $ChunkS AS BIGINT) AS tok_start,
       |  CAST(least($ChunkW, n - k * $ChunkS) AS BIGINT) AS n_toks,
       |  array_to_string(w[(k*$ChunkS+1):(k*$ChunkS+$ChunkW)], ' ') AS chunk_text
       |FROM idx""") { (s, dir) =>
    chunkWindows(table(s, dir, "documents"), "doc_id", "w", "n")
      .select(col("doc_id"),
        col("k").cast("long").as("chunk_id"),
        (col("k") * ChunkS).cast("long").as("tok_start"),
        least(lit(ChunkW), col("n") - col("k") * ChunkS).cast("long").as("n_toks"),
        expr(s"array_join($chunkSlice, ' ')").as("chunk_text"))
  }

  /** C4-style heuristic filter battery (Raffel et al. 2020 §2.2 + the
    * Gopher/MassiveText doc-level rules, Rae et al. 2021 A.1.1): per
    * document — word count, mean word length, stopword fraction,
    * bad-word blocklist hit, terminal-punctuation line fraction, and the
    * composite keep flag. Every GATE is pure integer arithmetic
    * (cross-multiplied thresholds: `3·words ≤ chars ≤ 10·words`,
    * `50·stops ≥ words`), so keep decisions are bit-identical
    * cross-engine with no float compare anywhere; the reported fractions
    * HALF-UP round in pure integer arithmetic — `(2·10^s·x + w) // (2w)`
    * — then divide by the scale once in double (one correctly-rounded op
    * over identical integers; a DECIMAL `round()` here would flake on
    * ties, where DuckDB rounds half-even and Spark half-up — a .725
    * mean word length landed on exactly that). All map-side builtins —
    * at 100 TB this runs inside whole-stage codegen over the scan with
    * zero shuffle (the Gopher paper's \"simple, scalable heuristics\"
    * point, literally).
    *
    * This corpus is single-line synthetic prose with no punctuation, so
    * the punctuation-line fraction is REPORTED but not gated (production
    * web text flips it into the conjunction); the active gates are the
    * word-count band, the mean-word-length band, the stopword floor, and
    * the blocklist ('dup' standing in for the C4 bad-word list).
    */
  val q121C4Filters = Q.checked(
    "q121_c4_filters",
    """WITH m AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
      |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS n_alpha,
      |    CAST(len(list_filter(regexp_extract_all(text, '\S+'),
      |                         w -> w = 'a' OR w = 'the')) AS BIGINT) AS n_stop,
      |    CAST(len(list_filter(string_split(text, chr(10)),
      |                         l -> regexp_matches(l, '[.!?]\z'))) AS BIGINT) AS n_punct,
      |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
      |    list_contains(regexp_extract_all(text, '\S+'), 'dup') AS has_blocklist
      |  FROM documents)
      |SELECT doc_id, n_words,
      |  CASE WHEN n_words = 0 THEN NULL ELSE
      |    CAST((200 * n_alpha + n_words) // (2 * n_words) AS DOUBLE) / 100 END AS mean_wlen,
      |  CASE WHEN n_words = 0 THEN NULL ELSE
      |    CAST((20000 * n_stop + n_words) // (2 * n_words) AS DOUBLE) / 10000 END AS stop_frac,
      |  CAST((20000 * n_punct + n_lines) // (2 * n_lines) AS DOUBLE) / 10000 AS punct_line_frac,
      |  has_blocklist,
      |  (n_words BETWEEN 50 AND 100000
      |    AND n_alpha BETWEEN 3 * n_words AND 10 * n_words
      |    AND 50 * n_stop >= n_words
      |    AND NOT has_blocklist) AS keep
      |FROM m""") { (s, dir) =>
    val words = regexp_extract_all(col("text"), lit("\\S+"), lit(0))
    val m = table(s, dir, "documents").select(
      col("doc_id"),
      size(words).cast("long").as("n_words"),
      length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("n_alpha"),
      size(filter(words, w => w === "a" || w === "the")).cast("long").as("n_stop"),
      // \z not $: Java's $ also matches before a final line terminator (a
      // trailing \r on CRLF corpora), RE2's $ is end-of-string only.
      size(filter(split(col("text"), "\n"), l => l.rlike("[.!?]\\z")))
        .cast("long").as("n_punct"),
      size(split(col("text"), "\n")).cast("long").as("n_lines"),
      array_contains(words, "dup").as("has_blocklist"))
    m.select(
      col("doc_id"), col("n_words"),
      // explicit NULL on empty docs, not an accident of non-ANSI div-by-zero
      expr("CASE WHEN n_words = 0 THEN NULL ELSE " +
        "CAST((200 * n_alpha + n_words) div (2 * n_words) AS DOUBLE) / 100 END")
        .as("mean_wlen"),
      expr("CASE WHEN n_words = 0 THEN NULL ELSE " +
        "CAST((20000 * n_stop + n_words) div (2 * n_words) AS DOUBLE) / 10000 END")
        .as("stop_frac"),
      (expr("(20000 * n_punct + n_lines) div (2 * n_lines)").cast("double") / 10000)
        .as("punct_line_frac"),
      col("has_blocklist"),
      (col("n_words").between(50, 100000) &&
        col("n_alpha").between(lit(3) * col("n_words"), lit(10) * col("n_words")) &&
        lit(50) * col("n_stop") >= col("n_words") &&
        !col("has_blocklist")).as("keep"))
  }

  /** Bigram-LM fluency scoring — q71b's unigram corpus-frequency signal
    * upgraded to the conditional-probability form real LM-based quality
    * filters use (CCNet/KenLM shape): corpus bigram counts B(w1,w2) and
    * unigram counts U(w1) are the sufficient statistics; each in-doc
    * bigram scores `ppm = ⌊10⁶·B/U⌋` (the empirical P(w2|w1) in parts
    * per million, exact integer), and the doc's fluency is the half-up
    * integer mean of its bigram ppms — every value BIGINT end to end, no
    * float op anywhere (same tie rationale as q121). No smoothing is
    * needed because the probe bigrams come from the corpus itself, so
    * B ≥ 1 by construction; production scoring against a FOREIGN corpus
    * adds the +1 Laplace term in the same integer form.
    *
    * Scale shape: bigram extraction is map-side (one transform over the
    * token array, no self-join); the statistics tables are
    * true-vocab²-bounded (not corpus-bounded) and partially aggregate
    * map-side; the probe joins shuffle on the bigram/unigram key exactly
    * like q71b. The oracle derives bigrams positionally (subscript
    * self-join — fine at verify scale) and replays the integer math.
    */
  val q123BigramLm = Q.checked(
    "q123_bigram_lm",
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |el AS (
      |  SELECT doc_id, CAST(generate_subscripts(w, 1) AS BIGINT) AS i, unnest(w) AS tok
      |  FROM words
      |), big AS (
      |  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
      |  FROM el a JOIN el b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      |), uni AS (SELECT tok, count(*) AS u FROM el GROUP BY tok),
      |bc AS (SELECT w1, w2, count(*) AS b FROM big GROUP BY w1, w2),
      |scored AS (
      |  SELECT g.doc_id, (1000000 * bc.b) // uni.u AS ppm
      |  FROM big g JOIN bc ON bc.w1 = g.w1 AND bc.w2 = g.w2
      |  JOIN uni ON uni.tok = g.w1
      |)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST((2 * sum(ppm) + count(*)) // (2 * count(*)) AS BIGINT) AS fluency_ppm
      |FROM scored GROUP BY doc_id""") { (s, dir) =>
    fluencyScores(s, dir)
  }

  /** Per-doc bigram-LM fluency (q123's scorer, shared with q156):
    * `(doc_id, n_bigrams, fluency_ppm)` — mean corpus-conditional bigram
    * probability in half-up-rounded integer ppm.
    */
  private[queries] def fluencyScores(s: org.apache.spark.sql.SparkSession,
                                     dir: String): org.apache.spark.sql.DataFrame = {
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    // map-side bigram extraction: pair w[i] with w[i+1] in one transform
    val big = docs
      .select(col("doc_id"), explode(expr(
        "transform(slice(w, 1, size(w) - 1), (x, i) -> named_struct('w1', x, 'w2', w[i + 1]))"))
        .as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val uni = docs.select(explode(col("w")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("u"))
    val bc = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("b"))
    big.join(bc, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("tok", "w1"), Seq("w1"))
      .select(col("doc_id"), expr("(1000000 * b) div u").as("ppm"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("(2 * sum(ppm) + count(1)) div (2 * count(1))").as("fluency_ppm"))
  }

  /** Per-(doc, query term) integer BM25 terms ([[bm25Scored]]) against
    * `queryDoc`'s distinct term set — shared by q129 (top-10) and q135's
    * hybrid fusion (top-20 list). tf/df/dl are map-side-combined
    * aggregations over one token stream.
    */
  private[queries] def bm25Scores(s: org.apache.spark.sql.SparkSession,
                                  dir: String, queryDoc: Long): org.apache.spark.sql.DataFrame = {
    import graft.operators.Dedup
    val toks = table(s, dir, "documents")
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("term"))
    bm25Scored(
      toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")),
      toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl")),
      toks.agg(count_distinct(col("doc_id")).as("nd"), count(lit(1)).as("tt")),
      toks.filter(col("doc_id") === queryDoc).select(col("term")).distinct(),
      "doc_id")
  }

  /** BM25 retrieval: rank documents against a query term set with the
    * exact integer score of [[graft.operators.Retrieval.bm25Term]] — the
    * standard lexical-retrieval scorer a RAG / training-data pipeline
    * runs next to its embedding ANN. The query is doc 42's distinct
    * token set (self-contained; swap in any term list). Top-10 is
    * TakeOrderedAndProject with the rank stamped on the collected rows.
    */
  val q129Bm25 = Q.checked(
    "q129_bm25",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
      |tot AS (SELECT (SELECT count(*) FROM dl) AS nd, (SELECT count(*) FROM toks) AS tt),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |qt AS (SELECT DISTINCT term FROM toks WHERE doc_id = 42),
      |sc AS (
      |  SELECT tf.doc_id,
      |    (1000000 * 44 * tf.tf * (2 * tot.nd - 2 * df.df + 1)) //
      |    ((2 * df.df + 1) * (20 * tf.tf + 6 + (18 * dl.dl * tot.nd) // tot.tt)) AS sc
      |  FROM tf JOIN qt USING (term) JOIN df USING (term)
      |  JOIN dl USING (doc_id) CROSS JOIN tot),
      |agg AS (SELECT doc_id, CAST(sum(sc) AS BIGINT) AS score FROM sc GROUP BY doc_id),
      |r AS (SELECT doc_id, score,
      |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM agg)
      |SELECT doc_id, score, rank FROM r WHERE rank <= 10""") { (s, dir) =>
    bm25TopK(bm25Scores(s, dir, 42L), 10, "rank", "doc_id")
  }

  /** Per-source term drift — the distribution-monitoring query a mixture
    * pipeline runs between batches (is source X's vocabulary shifting
    * against the corpus?): each source's token share vs the corpus share,
    * in exact integer ppm (floor division on both sides — no float
    * distribution math), top 5 most-divergent terms per source by
    * |source_ppm − corpus_ppm| with (deviation desc, term) tiebreak.
    * Rare terms are floored out by a min corpus count (≥ 20 occurrences)
    * so the report surfaces real shifts, not one-off tokens.
    *
    * Scale shape: one token-stream aggregation to (source, term) counts,
    * source and corpus totals derived by re-aggregation (never a second
    * scan), corpus shares joined back on term — all map-side-combined
    * groupBys; the per-source top-5 is a WindowGroupLimit-prunable rank
    * over the filtered deviation table.
    */
  val q136TermDrift = Q.checked(
    "q136_term_drift",
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
      |st AS (SELECT source, term, count(*) AS o FROM toks GROUP BY source, term),
      |stot AS (SELECT source, CAST(sum(o) AS BIGINT) AS s FROM st GROUP BY source),
      |ct AS (SELECT term, CAST(sum(o) AS BIGINT) AS c FROM st GROUP BY term),
      |tot AS (SELECT CAST(sum(o) AS BIGINT) AS t FROM st),
      |dev AS (
      |  SELECT st.source, st.term,
      |    (1000000 * st.o) // stot.s AS source_ppm,
      |    (1000000 * ct.c) // tot.t AS corpus_ppm,
      |    abs((1000000 * st.o) // stot.s - (1000000 * ct.c) // tot.t) AS dev_ppm
      |  FROM st JOIN stot USING (source) JOIN ct USING (term) CROSS JOIN tot
      |  WHERE ct.c >= 20),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY source
      |    ORDER BY dev_ppm DESC, term) AS rk
      |  FROM dev)
      |SELECT source, term, source_ppm, corpus_ppm, dev_ppm, rk
      |FROM r WHERE rk <= 5""") { (s, dir) =>
    import graft.operators.Dedup
    import org.apache.spark.sql.expressions.Window
    val st = table(s, dir, "documents")
      .select(col("source"), explode(Dedup.tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("o"))
      .localCheckpoint(true) // three re-aggregations below
    val stot = st.groupBy(col("source")).agg(sum(col("o")).as("s"))
    val ct = st.groupBy(col("term")).agg(sum(col("o")).as("c"))
      .filter(col("c") >= 20)
    val tot = broadcast(st.agg(sum(col("o")).as("t")))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("dev_ppm").desc, col("term"))
    st.join(broadcast(stot), "source")
      .join(ct, "term")
      .crossJoin(tot)
      .select(col("source"), col("term"),
        expr("(1000000 * o) div s").as("source_ppm"),
        expr("(1000000 * c) div t").as("corpus_ppm"),
        abs(expr("(1000000 * o) div s") - expr("(1000000 * c) div t")).as("dev_ppm"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
  }

  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — the linear-odds
    * variant): estimate a TARGET unigram distribution from the in-domain
    * slice (lang = 'en', the high-resource reference corpus), weight
    * every term by its integer ppm excess over the raw corpus
    * (`target_ppm − raw_ppm`), score each document by the tf-weighted sum
    * of its terms' weights, and keep the per-source top quarter
    * (score DESC, doc_id) — importance selection under the same
    * per-shard quota discipline as q102's source cap. All integer: ppm
    * floor-divisions on non-negative counts, a product-sum score (no
    * division of signed values anywhere), and an exact ⌈n/4⌉ quota.
    *
    * Scale shape: token-level aggregations with map-side combine, the
    * weight table joined on term (vocabulary-sized, shuffle not
    * broadcast), per-doc score one combined aggregation, and the quota
    * window runs per SOURCE — bounded partitions, the q136 posture. The
    * log-odds of the paper needs cross-engine-identical `ln`, which libms
    * do not give; the linear odds keep the ranking signal and the
    * bit-exact oracle.
    */
  val q140DsirSelect = Q.checked(
    "q140_dsir_select",
    """WITH toks AS (
      |  SELECT doc_id, source, lang, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, source, term, count(*) AS tf
      |       FROM toks GROUP BY doc_id, source, term),
      |rv AS (SELECT term, count(*) AS rc FROM toks GROUP BY term),
      |tv AS (SELECT term, count(*) AS tc FROM toks WHERE lang = 'en' GROUP BY term),
      |tot AS (SELECT (SELECT CAST(sum(rc) AS BIGINT) FROM rv) AS rtot,
      |               (SELECT CAST(sum(tc) AS BIGINT) FROM tv) AS ttot),
      |wt AS (
      |  SELECT rv.term,
      |    (1000000 * COALESCE(tv.tc, 0)) // tot.ttot - (1000000 * rv.rc) // tot.rtot AS w
      |  FROM rv LEFT JOIN tv USING (term) CROSS JOIN tot),
      |sc AS (
      |  SELECT tf.doc_id, tf.source, CAST(sum(tf.tf * wt.w) AS BIGINT) AS score
      |  FROM tf JOIN wt USING (term) GROUP BY tf.doc_id, tf.source),
      |cnt AS (SELECT source, count(*) AS n FROM sc GROUP BY source),
      |r AS (
      |  SELECT sc.*, cnt.n,
      |    row_number() OVER (PARTITION BY sc.source
      |      ORDER BY sc.score DESC, sc.doc_id) AS rk
      |  FROM sc JOIN cnt USING (source))
      |SELECT doc_id, source, score, rk, rk <= (n + 3) // 4 AS selected
      |FROM r""") { (s, dir) =>
    import graft.operators.Dedup
    import org.apache.spark.sql.expressions.Window
    val toks = table(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"),
        explode(Dedup.tokens(col("text"))).as("term"))
      .localCheckpoint(true) // feeds tf, raw and target vocab counts
    val tf = toks.groupBy(col("doc_id"), col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val rv = toks.groupBy(col("term")).agg(count(lit(1)).as("rc"))
    val tv = toks.filter(col("lang") === "en")
      .groupBy(col("term")).agg(count(lit(1)).as("tc"))
    val tot = broadcast(
      rv.agg(sum(col("rc")).as("rtot"))
        .crossJoin(tv.agg(sum(col("tc")).as("ttot"))))
    val wt = rv.join(tv, Seq("term"), "left")
      .crossJoin(tot)
      .select(col("term"),
        (expr("(1000000 * coalesce(tc, 0L)) div ttot") -
          expr("(1000000 * rc) div rtot")).as("w"))
    val sc = tf.join(wt, "term")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("tf") * col("w")).as("score"))
    // per-source doc counts from the checkpointed token stream, NOT from
    // sc (re-aggregating sc would replay the scoring subtree) and NOT
    // from the raw table (a zero-token doc would inflate the quota): a
    // doc appears in sc iff it has ≥ 1 token — its terms are all in the
    // raw vocabulary — which is exactly distinct doc_id over toks
    val cnt = toks.groupBy(col("source"))
      .agg(count_distinct(col("doc_id")).as("n"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id"))
    sc.join(broadcast(cnt), "source")
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("source"), col("score"), col("rk"),
        (col("rk") <= expr("(n + 3) div 4")).as("selected"))
  }

  /** Training-order shuffle + sharding — the last materialization step of
    * a data pipeline: give every surviving document a deterministic
    * pseudo-random position (hash of its id — reproducible across runs,
    * uncorrelated with ingest order, the standard seed-hash shuffle), and
    * lay the permuted corpus out as fixed-size shards with an exact
    * in-shard position: shard = rank div S, pos = rank mod S.
    *
    * The global rank is the [[graft.operators.Packing]] two-pass
    * distributed prefix sum over COUNTS (range-partition by the shuffle
    * key, one subtotal per partition to the driver, stream offsets back)
    * — no single-partition window, no driver data. The oracle computes
    * the same permutation with row_number — two algorithms, one answer,
    * proving the distributed rank exactly reproduces the total order.
    */
  val q143TrainShuffle = Q.checked(
    "q143_train_shuffle",
    """WITH k AS (
      |  SELECT doc_id,
      |    ('0x'||substring(md5('ord:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT AS key
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, key,
      |    row_number() OVER (ORDER BY key, doc_id) - 1 AS rank
      |  FROM k)
      |SELECT doc_id, key, rank, rank // 100 AS shard, rank % 100 AS pos
      |FROM r""") { (s, dir) =>
    import graft.functions.Hashing
    import graft.operators.Packing
    val keyed = table(s, dir, "documents")
      .select(col("doc_id"),
        Hashing.hash32(concat(lit("ord:"), col("doc_id").cast("string")))
          .as("key"))
    Packing.globalRank(keyed, Seq("key", "doc_id"))
      .select(col("doc_id"), col("key"), col("rank"),
        expr("rank div 100").as("shard"), expr("rank % 100").as("pos"))
  }

  /** HTML → text extraction — the step every web-crawl pipeline (C4,
    * CCNet, RefinedWeb) runs before any quality filter: strip script and
    * style blocks, strip comments, strip tags (tag → space so adjacent
    * words don't fuse), decode the five core entities (`&amp;` decoded
    * LAST so literal ampersand text can't double-decode), collapse
    * whitespace. The HTML is synthesized deterministically around each
    * document (head with style+script carrying `<`/`&&` traps, a nav
    * div, an entity-bearing footer paragraph, a comment), so the oracle
    * can rebuild the page from the raw text without seeing the engine's
    * bytes — green means every strip/decode rule fired identically, and
    * `content_md5` pins the result span-exact (the q98 PII discipline).
    * Patterns live in the Java∩RE2 regex subset with inline `(?s)`;
    * production extensions (link-density line filters, main-content
    * detection) compose as further map-side passes.
    *
    * Scale shape: pure map-side codegen'd builtins, zero shuffles before
    * the final projection — the ideal 100 TB operator.
    */
  val q146HtmlExtract = Q.checked(
    "q146_html_extract",
    """WITH h AS (
      |  SELECT doc_id,
      |    '<html><head><style>body{font:10px}</style>' ||
      |    '<script>if(1<2){var x=1&&2;}</script></head><body><p>' || text ||
      |    '</p><div class="nav">Home | About</div>' ||
      |    '<p>x &amp; y &lt;z&gt; &quot;q&#39;s&quot;</p>' ||
      |    '<!-- footer --></body></html>' AS html
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(
      |      replace(replace(replace(replace(replace(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_replace(
      |              regexp_replace(html, '(?s)<script[^>]*>.*?</script>', '', 'g'),
      |              '(?s)<style[^>]*>.*?</style>', '', 'g'),
      |            '(?s)<!--.*?-->', '', 'g'),
      |          '<[^>]+>', ' ', 'g'),
      |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
      |        '&amp;', '&'),
      |      '\s+', ' ', 'g')) AS clean
      |  FROM h)
      |SELECT doc_id, md5(clean) AS content_md5,
      |  CAST(len(regexp_extract_all(clean, '\S+')) AS BIGINT) AS n_tokens,
      |  CAST(length(clean) AS BIGINT) AS n_chars_clean
      |FROM s""") { (s, dir) =>
    val html = concat(
      lit("<html><head><style>body{font:10px}</style>" +
        "<script>if(1<2){var x=1&&2;}</script></head><body><p>"),
      col("text"),
      lit("</p><div class=\"nav\">Home | About</div>" +
        "<p>x &amp; y &lt;z&gt; &quot;q&#39;s&quot;</p>" +
        "<!-- footer --></body></html>"))
    var c: org.apache.spark.sql.Column = html
    // strip order matters: blocks, comments, tags, entities (&amp; last),
    // whitespace — identical sequence in the oracle
    for ((pat, rep) <- Seq(
        ("(?s)<script[^>]*>.*?</script>", ""),
        ("(?s)<style[^>]*>.*?</style>", ""),
        ("(?s)<!--.*?-->", ""),
        ("<[^>]+>", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", "\""),
        ("&#39;", "'"),
        ("&amp;", "&"),
        ("\\s+", " ")))
      c = regexp_replace(c, pat, rep)
    val clean = trim(c)
    table(s, dir, "documents")
      .select(col("doc_id"), clean.as("clean"))
      .select(col("doc_id"), md5(col("clean")).as("content_md5"),
        size(regexp_extract_all(col("clean"), lit("\\S+"), lit(0)))
          .cast("long").as("n_tokens"),
        length(col("clean")).cast("long").as("n_chars_clean"))
  }

  /** Distributed quality-classifier TRAINING — two synchronous batch
    * perceptron epochs (Rosenblatt 1958) over hashed-unigram features,
    * the integer-exact stand-in for the fastText-style linear quality
    * classifiers real pipelines train (GPT-3's WebText-vs-CommonCrawl
    * filter, CCNet's LM gate): features are term counts folded into 32
    * hash buckets (the hashing trick — vocabulary-independent dimension,
    * the q75/q96 digest family), labels y = ±1 from the lang column
    * (en = target class), and each epoch adds Σ y·x over the currently
    * misclassified docs (y·(w·x) ≤ 0) to the weight vector. Everything
    * is BIGINT arithmetic — counts, dots, updates — so the oracle can
    * unroll both epochs in CTEs (the q127 technique) and match
    * bit-for-bit; no learning-rate float, no sigmoid, no ln.
    *
    * Scale shape: one token-stream aggregation to (doc, dim, count)
    * (map-side combined), then per epoch ONE broadcast of the 32-row
    * weight vector, one per-doc margin aggregation, and one dim-keyed
    * update sum — the classic data-parallel batch-gradient shape where
    * the model rides a broadcast and only sufficient statistics shuffle.
    */
  val q147PerceptronTrain = Q.checked(
    "q147_perceptron_train",
    """WITH toks AS (
      |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
      |    unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tfb AS (
      |  SELECT doc_id, y, ('0x'||substring(md5(term),1,8))::BIGINT % 32 AS dim,
      |    count(*) AS c
      |  FROM toks GROUP BY doc_id, y, dim),
      |w1 AS (SELECT dim, CAST(sum(y * c) AS BIGINT) AS w FROM tfb GROUP BY dim),
      |m2 AS (
      |  SELECT t.doc_id, t.y, CAST(sum(t.c * w1.w) AS BIGINT) AS m
      |  FROM tfb t JOIN w1 USING (dim) GROUP BY t.doc_id, t.y),
      |mis AS (SELECT doc_id FROM m2 WHERE y * m <= 0),
      |u2 AS (
      |  SELECT dim, CAST(sum(y * c) AS BIGINT) AS u
      |  FROM tfb JOIN mis USING (doc_id) GROUP BY dim)
      |SELECT w1.dim, w1.w AS w_epoch1, w1.w + COALESCE(u2.u, 0) AS w_epoch2
      |FROM w1 LEFT JOIN u2 USING (dim)""") { (s, dir) =>
    import graft.operators.Dedup
    val toks = table(s, dir, "documents")
      .select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
        explode(Dedup.tokens(col("text"))).as("term"))
    val tfb = toks
      .groupBy(col("doc_id"), col("y"),
        (Hashing.hash32(col("term")) % 32).as("dim"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds epoch 1, the margin pass, and epoch 2
    // epoch 1: w0 = 0 gives every doc margin 0 => all misclassified
    val w1 = tfb.groupBy(col("dim")).agg(sum(col("y") * col("c")).as("w"))
    val m2 = tfb.join(broadcast(w1), "dim")
      .groupBy(col("doc_id"), col("y"))
      .agg(sum(col("c") * col("w")).as("m"))
    val mis = m2.filter(col("y") * col("m") <= 0).select(col("doc_id"))
    val u2 = tfb.join(mis, "doc_id")
      .groupBy(col("dim")).agg(sum(col("y") * col("c")).as("u"))
    w1.join(u2, Seq("dim"), "left")
      .select(col("dim"), col("w").as("w_epoch1"),
        (col("w") + coalesce(col("u"), lit(0L))).as("w_epoch2"))
  }

  /** RAG indexing capstone — retrieval over a DERIVED corpus: documents
    * are chunked into q118's sliding 64-token/48-stride windows, then the
    * chunk table becomes the BM25 collection (q129's all-integer scorer,
    * chunk-level tf/df/length stats) probed with doc 42's terms, top-10
    * chunks by (score desc, doc_id, chunk_id). This is the production
    * RAG index shape — retrieval quality lives at chunk granularity, not
    * document granularity — and the composition is the point: both
    * stages are oracle-pinned alone (q118, q129), this green row pins
    * the HANDOFF (chunk identity, the re-derived collection statistics
    * nd/tt/df over chunks, and the final ranking) end to end.
    *
    * Scale shape: chunking is map-side; the scorer re-derives its stats
    * from one chunk-token aggregation; query terms and query-restricted
    * df ride broadcasts (the q129 posture); top-10 is
    * TakeOrderedAndProject. Swap q135's fusion on top for hybrid
    * retrieval over chunks.
    */
  val q150RagPipeline = Q.checked(
    "q150_rag_pipeline",
    s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |idx AS (
       |  SELECT doc_id, w, len(w) AS n,
       |    unnest(generate_series(0, CAST(ceil(greatest(len(w) - $ChunkW, 0) / $ChunkS.0) AS INT))) AS k
       |  FROM words),
       |chunks AS (
       |  SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
       |    array_to_string(w[(k*$ChunkS+1):(k*$ChunkS+$ChunkW)], ' ') AS chunk_text
       |  FROM idx),
       |ctoks AS (
       |  SELECT doc_id, chunk_id, unnest(string_split(chunk_text, ' ')) AS term
       |  FROM chunks),
       |tf AS (SELECT doc_id, chunk_id, term, count(*) AS tf
       |       FROM ctoks GROUP BY doc_id, chunk_id, term),
       |cl AS (SELECT doc_id, chunk_id, count(*) AS dl
       |       FROM ctoks GROUP BY doc_id, chunk_id),
       |tot AS (SELECT (SELECT count(*) FROM cl) AS nd,
       |               (SELECT count(*) FROM ctoks) AS tt),
       |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |qt AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS term
       |       FROM documents WHERE doc_id = 42),
       |sc AS (
       |  SELECT tf.doc_id, tf.chunk_id,
       |    (1000000 * 44 * tf.tf * (2 * tot.nd - 2 * dfr.df + 1)) //
       |    ((2 * dfr.df + 1) * (20 * tf.tf + 6 + (18 * cl.dl * tot.nd) // tot.tt)) AS sc
       |  FROM tf JOIN qt USING (term) JOIN dfr USING (term)
       |  JOIN cl USING (doc_id, chunk_id) CROSS JOIN tot),
       |agg AS (SELECT doc_id, chunk_id, CAST(sum(sc) AS BIGINT) AS score
       |        FROM sc GROUP BY doc_id, chunk_id),
       |r AS (SELECT doc_id, chunk_id, score,
       |  row_number() OVER (ORDER BY score DESC, doc_id, chunk_id) AS rank FROM agg)
       |SELECT doc_id, chunk_id, score, rank FROM r WHERE rank <= 10""") { (s, dir) =>
    import graft.operators.Dedup
    val docs = table(s, dir, "documents")
    val ctoks = chunkWindows(docs, "doc_id", "w")
      .select(col("doc_id"), col("k").cast("long").as("chunk_id"),
        expr(s"array_join($chunkSlice, ' ')").as("chunk_text"))
      .select(col("doc_id"), col("chunk_id"),
        explode(Dedup.tokens(col("chunk_text"))).as("term"))
      .localCheckpoint(true) // feeds tf, lengths, totals
    bm25TopK(bm25Scored(
        ctoks.groupBy(col("doc_id"), col("chunk_id"), col("term"))
          .agg(count(lit(1)).as("tf")),
        ctoks.groupBy(col("doc_id"), col("chunk_id")).agg(count(lit(1)).as("dl")),
        ctoks.agg(count_distinct(col("doc_id"), col("chunk_id")).as("nd"),
          count(lit(1)).as("tt")),
        ragQueryTermsOf(docs, 42L), "doc_id", "chunk_id"),
      10, "rank", "doc_id", "chunk_id")
  }

  /** Hybrid RAG serving over the chunk index — q150's corpus with the
    * dense side q135's capstone only STATED: BM25 top-20 chunks fused
    * (integer RRF) with the top-20 of [[graft.operators.Similarity
    * .ivfSq8Serve]] over 64-dim hashed-unigram chunk vectors — the
    * IVF×SQ8 index, the actual 100 TB serving path (cells bound compute,
    * SQ8 codes bound memory), probing √N cells √cells deep with doc 42's
    * featurized text as the query. RecallSpec floors the fused top-10
    * against the exact fusion (brute-force dense side) — the index
    * approximation is MEASURED, not assumed.
    *
    * Exactness: vectors are length-normalized hashed term counts — the
    * one division is the same IEEE c/dl in both engines, then the shared
    * round(x·10⁶) quantization; everything after (cell d², SQ8 encode,
    * 255×-scale reconstructions, dots) is the proven q124 integer path,
    * re-derived here per CTE over the DERIVED corpus. Geometry
    * (cells = ⌈√N⌉, probes = ⌈√cells⌉) comes from count(*) in both
    * engines, so the oracle is scale-true like the rest of the board.
    *
    * Scale shape: BM25 rides the q150 broadcasts; the dense side is one
    * cells-broadcast assignment pass over the chunk corpus + a probe-
    * pruned scoring join; fusion touches 40 rows. At 100 TB the index is
    * ivfSq8Build persisted partitioned by cell (the q124 amortization),
    * and only ivfSq8Serve runs per query batch — the split q150c
    * registers.
    *
    * The oracle is parameterized over the query document — q150b renders
    * it at doc 42, q150c at doc 7, q150d at 13, q150e at 23; one
    * definition means the renderings can never desynchronize. The second
    * parameter freezes the CONFIG to a chunk slice (q150e's incremental
    * append: cells, centroids, and the SQ8 quantizer derive from the
    * BASE docs only, exactly like q167d's base-sliced geometry macros),
    * while every count-shaped artifact (tf/df/totals/assignment) always
    * derives from the full corpus — counts are counts, the sparse half
    * of an append is exactly incremental. `TRUE` renders the classic
    * full-corpus config. The reconstruction clamps codes to [0, 255]
    * ([[graft.operators.Similarity.sq8EncodeFrozen]]'s saturation — a
    * no-op when the quantizer trained on the full corpus).
    *
    * The third parameter is the RETIRE dual (q150g): `corpusPred`
    * restricts the MEMBER corpus — every count-shaped artifact
    * (tf/cl-counts/totals/df) and every scored member (assignment,
    * reconstruction) — to the chunks satisfying it, while the CONFIG
    * (geometry, centroids, quantizer stats) still derives from the
    * chunk set `basePred` selects over the FULL corpus: exactly
    * [[ragIndexRetire]]'s contract, where counts shrink with the
    * survivors but the frozen dense config keeps its build-time
    * anchors (including centroid chunks of retired docs).
    */
  private def ragHybridOracleSql(qdoc: Long,
                                 basePred: String = "TRUE",
                                 corpusPred: String = "TRUE"): String =
    s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |idx AS (
       |  SELECT doc_id, w,
       |    unnest(generate_series(0, CAST(ceil(greatest(len(w) - $ChunkW, 0) / $ChunkS.0) AS INT))) AS k
       |  FROM words),
       |chunks AS (
       |  SELECT doc_id * 1000000 + k AS xid,
       |    array_to_string(w[(k*$ChunkS+1):(k*$ChunkS+$ChunkW)], ' ') AS chunk_text
       |  FROM idx),
       |ctoks AS (SELECT xid, unnest(string_split(chunk_text, ' ')) AS term FROM chunks),
       |tf AS (SELECT xid, term, count(*) AS tf FROM ctoks WHERE $corpusPred GROUP BY 1, 2),
       |cl AS (SELECT xid, count(*) AS dl FROM ctoks GROUP BY 1),
       |tot AS (SELECT (SELECT count(*) FROM cl WHERE $corpusPred) AS nd,
       |               (SELECT count(*) FROM ctoks WHERE $corpusPred) AS tt),
       |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |qt AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS term
       |       FROM documents WHERE doc_id = $qdoc),
       |bsc AS (
       |  SELECT tf.xid,
       |    (1000000 * 44 * tf.tf * (2 * tot.nd - 2 * dfr.df + 1)) //
       |    ((2 * dfr.df + 1) * (20 * tf.tf + 6 + (18 * cl.dl * tot.nd) // tot.tt)) AS sc
       |  FROM tf JOIN qt USING (term) JOIN dfr USING (term)
       |  JOIN cl USING (xid) CROSS JOIN tot),
       |bagg AS (SELECT xid, CAST(sum(sc) AS BIGINT) AS score FROM bsc GROUP BY xid),
       |bmr AS (SELECT xid, row_number() OVER (ORDER BY score DESC, xid) AS bm25_rank
       |        FROM bagg QUALIFY bm25_rank <= 20),
       |tfb AS (SELECT xid, ('0x'||substring(md5(term),1,8))::BIGINT % 64 AS d, count(*) AS c
       |        FROM ctoks GROUP BY 1, 2),
       |xel AS (
       |  SELECT g.xid, g.d,
       |    CAST(round((CAST(coalesce(tfb.c, 0) AS DOUBLE) / CAST(g.dl AS DOUBLE)) * 1000000) AS BIGINT) AS v
       |  FROM (SELECT cl.xid, cl.dl, dd.d FROM cl, (SELECT unnest(range(0, 64)) AS d) dd) g
       |  LEFT JOIN tfb ON tfb.xid = g.xid AND tfb.d = g.d),
       |geo2 AS (SELECT greatest(4, least(65536, CAST(ceil(sqrt(count(*))) AS BIGINT))) AS cells FROM cl WHERE $basePred),
       |np AS (SELECT greatest(2, CAST(ceil(sqrt(cells)) AS BIGINT)) AS np FROM geo2),
       |cids AS (SELECT xid AS cid, row_number() OVER (ORDER BY xid) AS rn FROM cl WHERE $basePred),
       |cent AS (SELECT c.cid, x.d, x.v FROM cids c JOIN xel x ON x.xid = c.cid
       |         WHERE c.rn <= (SELECT cells FROM geo2)),
       |d2 AS (SELECT x.xid, ct.cid, sum((x.v - ct.v) * (x.v - ct.v)) AS d
       |       FROM xel x JOIN cent ct ON ct.d = x.d WHERE $corpusPred GROUP BY 1, 2),
       |assign AS (SELECT xid, cid FROM (
       |  SELECT xid, cid, row_number() OVER (PARTITION BY xid ORDER BY d, cid) AS rn
       |  FROM d2) WHERE rn = 1),
       |qtf AS (SELECT ('0x'||substring(md5(term),1,8))::BIGINT % 64 AS d, count(*) AS c
       |        FROM (SELECT unnest(string_split(text, ' ')) AS term
       |              FROM documents WHERE doc_id = $qdoc) GROUP BY 1),
       |qel AS (
       |  SELECT dd.d,
       |    CAST(round((CAST(coalesce(qtf.c, 0) AS DOUBLE) / CAST((SELECT sum(c) FROM qtf) AS DOUBLE)) * 1000000) AS BIGINT) AS v
       |  FROM (SELECT unnest(range(0, 64)) AS d) dd LEFT JOIN qtf USING (d)),
       |qd2 AS (SELECT ct.cid, sum((q.v - ct.v) * (q.v - ct.v)) AS d
       |        FROM qel q JOIN cent ct ON ct.d = q.d GROUP BY 1),
       |probes AS (SELECT cid FROM (
       |  SELECT cid, row_number() OVER (ORDER BY d, cid) AS rn FROM qd2)
       |  WHERE rn <= (SELECT np FROM np)),
       |stats AS (SELECT d, min(v) AS mn, max(v) AS mx FROM xel WHERE $basePred GROUP BY d),
       |recon AS (
       |  SELECT e.xid, e.d,
       |    255 * s.mn + least(255, greatest(0,
       |      CASE WHEN s.mx = s.mn THEN 0
       |           ELSE ((e.v - s.mn) * 255) // (s.mx - s.mn) END)) * (s.mx - s.mn) AS r
       |  FROM xel e JOIN stats s USING (d) WHERE $corpusPred),
       |cand AS (SELECT a.xid FROM assign a JOIN probes p ON p.cid = a.cid),
       |dots AS (
       |  SELECT r.xid,
       |    CAST(sum(q.v * r.r) AS DOUBLE) AS dqx,
       |    CAST(sum(q.v * q.v) AS DOUBLE) AS dqq,
       |    CAST(sum(r.r * r.r) AS DOUBLE) AS dxx
       |  FROM recon r JOIN cand c ON c.xid = r.xid JOIN qel q ON q.d = r.d
       |  GROUP BY r.xid),
       |annr AS (SELECT xid, row_number() OVER (
       |    ORDER BY dqx / (sqrt(dqq) * sqrt(dxx)) DESC, xid) AS cos_rank
       |  FROM dots QUALIFY cos_rank <= 20),
       |fused AS (
       |  SELECT COALESCE(b.xid, a.xid) AS xid, b.bm25_rank, a.cos_rank,
       |    COALESCE(1000000 // (60 + b.bm25_rank), 0) +
       |    COALESCE(1000000 // (60 + a.cos_rank), 0) AS rrf
       |  FROM bmr b FULL OUTER JOIN annr a ON a.xid = b.xid)
       |SELECT xid // 1000000 AS doc_id, xid % 1000000 AS chunk_id,
       |  bm25_rank, cos_rank, rrf,
       |  row_number() OVER (ORDER BY rrf DESC, xid) AS rank
       |FROM fused QUALIFY rank <= 10"""

  val q150bRagHybrid = Q.checked(
    "q150b_rag_hybrid",
    ragHybridOracleSql(42)) { (s, dir) =>
    import graft.operators.Similarity
    val ctoks = ragChunkToks(s, dir)
    // the corpus feeds count, centroid sampling, build, and stats —
    // checkpoint once (the q124 persisted-index contract)
    val corpus = ragChunkVectors(ctoks).localCheckpoint(true)
    val cells = Similarity.ivfCellsFor(corpus.count())
    val centroids = corpus.orderBy(col("xid")).limit(cells)
      .select(col("xid").as("cid"), col("xvec").as("cvec"))
    val dense = Similarity.ivfSq8Serve(
        Similarity.ivfSq8Build(corpus, centroids),
        ragQueryVector(s, dir), centroids,
        Similarity.ivfProbesFor(cells), 20)
      .select(col("xid"), col("rank").as("cos_rank"))
    ragFuse(ragBm25Top(s, dir, ctoks, 20), dense)
  }

  /** The RAG SERVE path over a PERSISTED chunk index — closing the q150b
    * amortization claim the way q183 closed the CC one: q150b re-derives
    * postings and rebuilds the IVF×SQ8 index inside the query (148.5 s
    * of its 100× soak was that one-shot build); this row splits BUILD
    * ([[ragIndexBuild]] — term-keyed postings, term stats, totals, SQ8
    * codes + centroids, all checkpointed: the artifacts a daily pipeline
    * writes to parquet once) from SERVE, which consumes ONLY the
    * artifacts — the sparse half joins the query's terms against the
    * term-keyed postings ([[ragBm25Serve]], bucket-pruned at 100 TB),
    * the dense half is ivfSq8Serve's probe-pruned scan of the code
    * store, and fusion touches 40 rows. Asked as doc 7 (q150b asks 42)
    * so the serve split is pinned on an independent query; the oracle is
    * the same parameterized hybrid SQL — green proves artifact-path ≡
    * inline-path. The 100× soak persists the artifacts as real parquet
    * and prices build vs a served batch.
    */
  val q150cRagServe = Q.checked(
    "q150c_rag_serve",
    ragHybridOracleSql(7)) { (s, dir) =>
    import graft.operators.Similarity
    val idx = ragIndexBuild(s, dir) // BUILD — persisted once in production
    // SERVE — artifact consumers only
    val qt = ragQueryTermsOf(table(s, dir, "documents"), 7L)
    val dense = Similarity.ivfSq8Serve(idx.index, ragQueryVector(s, dir, 7L),
        idx.centroids, Similarity.ivfProbesFor(idx.cells), 20)
      .select(col("xid"), col("rank").as("cos_rank"))
    ragFuse(ragBm25Serve(idx, qt, 20), dense)
  }

  /** The RAG serve from DISK artifacts — q150c made the build/serve
    * split's cost honest; this row makes it DEPLOYABLE: the index is
    * written by [[ragIndexSave]] and the serve consumes ONLY
    * [[ragIndexLoad]]'s FileScans, the daily-pipeline shape where the
    * serving session never saw the build. Both halves prune their reads
    * statically: the query's term buckets and probed cells are bounded
    * sets (≤ 64 and nProbe — the same bounded-probe class as the 1-row
    * concentration probes), collected once and pushed as isin partition
    * filters, so the sparse read touches only directories the query's
    * terms hash to and the dense read only probed cells (PlanSpec pins
    * both PartitionFilters). Asked as doc 13 (q150b asks 42, q150c asks
    * 7) so the disk path is pinned on an independent query; the oracle
    * is the same parameterized hybrid SQL — green proves
    * disk-artifact-path ≡ inline-path, pruning included.
    */
  val q150dRagServeDisk = Q.checked(
    "q150d_rag_serve_disk",
    ragHybridOracleSql(13)) { (s, dir) =>
    val path = graft.core.Graft.scratch("q150d_rag_index")
    ragIndexSave(ragIndexBuild(s, dir), path) // BUILD+write — once in production
    val idx = ragIndexLoad(s, path)           // SERVE — disk artifacts only
    val docs = table(s, dir, "documents")
    ragServeDisk(idx,
      ragQueryTermsOf(docs, 13L).localCheckpoint(true),
      ragQueryVector(s, dir, 13L).localCheckpoint(true), 20)
  }

  /** INCREMENTAL RAG index maintenance — the daily ingest composed with
    * the disk artifacts: yesterday's index (built over the 49/50 base
    * docs, persisted, reloaded) takes today's doc batch through
    * [[ragIndexAppend]], and the serve runs over the appended index with
    * the same bucket/cell pruning. The oracle is the hybrid SQL with the
    * CONFIG frozen to the base slice (cells, centroids, SQ8 quantizer
    * from base chunks — the q167d base-geometry convention) and every
    * count from the full corpus — so a green hash proves BOTH halves of
    * the append contract at once: the sparse half exactly incremental
    * (postings/df/totals merges ≡ full-corpus counts) and the dense half
    * exactly frozen-config (delta codes clamp-encoded under base stats,
    * assigned under base centroids). Asked as doc 23.
    */
  val q150eRagIncremental = Q.checked(
    "q150e_rag_incremental",
    ragHybridOracleSql(23, "(xid // 1000000) % 50 <> 49")) { (s, dir) =>
    val docs = table(s, dir, "documents")
    val path = graft.core.Graft.scratch("q150e_rag_index")
    ragIndexSave(ragIndexBuildOf(docs.filter(col("doc_id") % 50 =!= 49)), path)
    val idx = ragIndexAppend(
      ragIndexLoad(s, path), docs.filter(col("doc_id") % 50 === 49))
    ragServeDisk(idx,
      ragQueryTermsOf(docs, 23L).localCheckpoint(true),
      ragQueryVector(s, dir, 23L).localCheckpoint(true), 20)
  }

  /** q150e through the STREAMING ingest ([[graft.streaming.RagIngest]])
    * — the foreachBatch lane put under the driver's gate (the one
    * round-17 surface with spec-only parity): yesterday's persisted
    * index reloads, today's doc batch arrives as three deterministic
    * micro-batches folded through `foldBatch` (the exact foreachBatch
    * sink signature) INCLUDING a replayed duplicate of batch 1 — the
    * ingest's batchId cursor must fold the replay as a no-op or the
    * double-counted postings/df/totals would shift every BM25 score.
    * The oracle is q150e's: frozen base config, full-corpus counts —
    * so a green hash proves batch boundaries and at-least-once replays
    * are both invisible to the served answer. Asked as doc 31.
    */
  val q150fRagStreaming = Q.checked(
    "q150f_rag_streaming",
    ragHybridOracleSql(31, "(xid // 1000000) % 50 <> 49")) { (s, dir) =>
    val docs = table(s, dir, "documents")
    val path = graft.core.Graft.scratch("q150f_rag_index")
    ragIndexSave(ragIndexBuildOf(docs.filter(col("doc_id") % 50 =!= 49)), path)
    val ingest = new graft.streaming.RagIngest(ragIndexLoad(s, path))
    val delta = docs.filter(col("doc_id") % 50 === 49)
    val b = (0 until 3).map(r =>
      delta.filter(col("doc_id") % 3 === r).localCheckpoint(true))
    ingest.foldBatch(b(0), 0L)
    ingest.foldBatch(b(1), 1L)
    ingest.foldBatch(b(1), 1L) // the at-least-once replay — must no-op
    ingest.foldBatch(b(2), 2L)
    ragServeDisk(ingest.index,
      ragQueryTermsOf(docs, 31L).localCheckpoint(true),
      ragQueryVector(s, dir, 31L).localCheckpoint(true), 20)
  }

  /** RETIRE documents from the RAG chunk index, on the board
    * ([[ragIndexRetire]] — the parity RagIndexSpec proves, now in the
    * driver's gate currency; q167g/q183c's retrieval twin): build the
    * full-corpus index, persist it, tombstone a flat doc slice
    * (doc_id % 9 = 4) through the LOADED index, and serve the bucket/
    * cell-PRUNED disk path over the retired index. The oracle is the
    * hybrid SQL over the SURVIVING corpus with the CONFIG still the
    * full build's (`corpusPred` — counts shrink exactly with the
    * removed posting rows, df decrements term-by-term, the totals row
    * subtracts, retired codes leave the dense side, while geometry /
    * centroids / quantizer keep their build-time anchors, retired
    * centroid chunks included). Asked as doc 17 (a survivor), so a
    * green hash proves deletion composes with the pruned serve —
    * the GDPR-class production event under the hash gate.
    */
  val q150gRagRetire = Q.checked(
    "q150g_rag_retire",
    ragHybridOracleSql(17, corpusPred = "(xid // 1000000) % 9 <> 4")) { (s, dir) =>
    val docs = table(s, dir, "documents")
    val path = graft.core.Graft.scratch("q150g_rag_index")
    ragIndexSave(ragIndexBuild(s, dir), path)
    val idx = ragIndexRetire(ragIndexLoad(s, path),
      docs.filter(col("doc_id") % 9 === 4).select(col("doc_id")))
    ragServeDisk(idx,
      ragQueryTermsOf(docs, 17L).localCheckpoint(true),
      ragQueryVector(s, dir, 17L).localCheckpoint(true), 20)
  }

  /** The RAG family's STALENESS DIAL on the board ([[ragStaleness]] —
    * RagIndexSpec calibrates the arc; q167h/q183d's retrieval twin,
    * completing the three-family staleness symmetry): the dense half
    * of the chunk index shares the k-NN family's config-decay modes
    * exactly — frozen √n cells, frozen SQ8 quantizer over the 64
    * hashed term-frequency buckets, cell occupancy — because it IS the
    * same artifact shape. Base = the 49/50 doc slice's index (the
    * q150e convention), cur = after appending the held-out docs; the
    * probe returns the one dial row a re-index scheduler acts on. The
    * oracle replays every dial from the chunk artifacts: assignments
    * are the frozen-centroid argmin over the bucket vectors, boundary
    * codes reconstruct by the same 255·mn / 255·mx bound formula, and
    * the occupancy TV is the same exact Σ|cn·baseN − bn·curN| //
    * (baseN·curN) integer arithmetic.
    */
  val q150hRagStaleness = Q.checked(
    "q150h_rag_staleness",
    s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |idx AS (
       |  SELECT doc_id, w,
       |    unnest(generate_series(0, CAST(ceil(greatest(len(w) - $ChunkW, 0) / $ChunkS.0) AS INT))) AS k
       |  FROM words),
       |chunks AS (
       |  SELECT doc_id * 1000000 + k AS xid,
       |    array_to_string(w[(k*$ChunkS+1):(k*$ChunkS+$ChunkW)], ' ') AS chunk_text
       |  FROM idx),
       |ctoks AS (SELECT xid, unnest(string_split(chunk_text, ' ')) AS term FROM chunks),
       |cl AS (SELECT xid, count(*) AS dl FROM ctoks GROUP BY 1),
       |tfb AS (SELECT xid, ('0x'||substring(md5(term),1,8))::BIGINT % 64 AS d, count(*) AS c
       |        FROM ctoks GROUP BY 1, 2),
       |xel AS (
       |  SELECT g.xid, g.d,
       |    CAST(round((CAST(coalesce(tfb.c, 0) AS DOUBLE) / CAST(g.dl AS DOUBLE)) * 1000000) AS BIGINT) AS v
       |  FROM (SELECT cl.xid, cl.dl, dd.d FROM cl, (SELECT unnest(range(0, 64)) AS d) dd) g
       |  LEFT JOIN tfb ON tfb.xid = g.xid AND tfb.d = g.d),
       |geo2 AS (SELECT greatest(4, least(65536, CAST(ceil(sqrt(count(*))) AS BIGINT))) AS cells
       |         FROM cl WHERE (xid // 1000000) % 50 <> 49),
       |cids AS (SELECT xid AS cid, row_number() OVER (ORDER BY xid) AS rn
       |         FROM cl WHERE (xid // 1000000) % 50 <> 49),
       |cent AS (SELECT c.cid, x.d, x.v FROM cids c JOIN xel x ON x.xid = c.cid
       |         WHERE c.rn <= (SELECT cells FROM geo2)),
       |d2 AS (SELECT x.xid, ct.cid, sum((x.v - ct.v) * (x.v - ct.v)) AS d
       |       FROM xel x JOIN cent ct ON ct.d = x.d GROUP BY 1, 2),
       |assign AS (SELECT xid, cid FROM (
       |  SELECT xid, cid, row_number() OVER (PARTITION BY xid ORDER BY d, cid) AS rn
       |  FROM d2) WHERE rn = 1),
       |stats AS (SELECT d, min(v) AS mn, max(v) AS mx FROM xel
       |          WHERE (xid // 1000000) % 50 <> 49 GROUP BY d),
       |recon AS (
       |  SELECT e.xid, s.mn, s.mx,
       |    255 * s.mn + least(255, greatest(0,
       |      CASE WHEN s.mx = s.mn THEN 0
       |           ELSE ((e.v - s.mn) * 255) // (s.mx - s.mn) END)) * (s.mx - s.mn) AS r
       |  FROM xel e JOIN stats s USING (d)),
       |hits AS (
       |  SELECT xid,
       |    sum(CASE WHEN mx > mn AND (r = 255 * mn OR r = 255 * mx) THEN 1 ELSE 0 END) AS h
       |  FROM recon GROUP BY xid
       |), de AS (SELECT greatest(1, count(*)) AS d FROM stats WHERE mx > mn),
       |nb AS (SELECT count(*) AS c FROM cl WHERE (xid // 1000000) % 50 <> 49),
       |na AS (SELECT count(*) AS c FROM cl WHERE (xid // 1000000) % 50 = 49),
       |ncur AS (SELECT count(*) AS c FROM cl),
       |cb AS (
       |  SELECT CAST(1000000 * sum(h) // (count(*) * (SELECT d FROM de)) AS BIGINT) AS ppm
       |  FROM hits WHERE (xid // 1000000) % 50 <> 49
       |    AND xid % (SELECT greatest(1, c // 65536) FROM nb) = 0),
       |ca AS (
       |  SELECT CAST(CASE WHEN count(*) = 0 THEN 0
       |    ELSE 1000000 * sum(h) // (count(*) * (SELECT d FROM de)) END AS BIGINT) AS ppm
       |  FROM hits WHERE (xid // 1000000) % 50 = 49),
       |bb AS (SELECT cid, count(*) AS bn FROM assign
       |       WHERE (xid // 1000000) % 50 <> 49 GROUP BY cid),
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
       |    (SELECT cells FROM geo2) AS cells_frozen,
       |    (SELECT greatest(4, least(65536, CAST(ceil(sqrt(count(*))) AS BIGINT))) FROM cl) AS cells_recommended,
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
    val docs = table(s, dir, "documents")
    val base = ragIndexBuildOf(docs.filter(col("doc_id") % 50 =!= 49))
    val cur = ragIndexAppend(base, docs.filter(col("doc_id") % 50 === 49))
    ragStaleness(base, cur)
  }

  /** The RAG REINDEX ARC on the board — q150h's dial is the trigger;
    * this row gates the fire→re-index→clear loop for the retrieval
    * family exactly as q167i does for k-NN (the round-19 capstone's
    * template): a 33%-regime document append (base = the 2/3 slice
    * doc_id % 3 ≠ 0) outgrows the chunk index's frozen √n geometry,
    * the probe FIRES (cells recommended ≥ 1.15× frozen at every
    * verify scale — 27 vs 22 at ~700 chunks, 84 vs 68 at ~6.9k), the
    * pipeline re-indexes the FULL corpus with [[ragIndexBuildOf]] at
    * the re-derived geometry, and the post-reindex probe is QUIET on
    * every dial (zero appends, zero occupancy TV, geometry at its own
    * recommendation). Output = both dial rows tagged by phase, so the
    * green hash pins the transition itself. The oracle replays both
    * probes from the chunk artifacts: the before phase under the
    * base-slice config (q150h's rendering at the 1/3 split), the
    * after phase under the full-corpus config where appended/TV are
    * exactly zero by construction and the clamp calibration re-reads
    * the full chunk store under its own quantizer.
    */
  val q150iRagReindex = Q.checked(
    "q150i_rag_reindex",
    ragReindexOracleSql) { (s, dir) =>
    val docs = table(s, dir, "documents")
    val base = ragIndexBuildOf(docs.filter(col("doc_id") % 3 =!= 0))
    val cur = ragIndexAppend(base, docs.filter(col("doc_id") % 3 === 0))
    val before = ragStaleness(base, cur).withColumn("phase", lit("before"))
    // the geometry dial FIRED — re-index the full corpus at the
    // re-derived config (the production response the dial schedules)
    val idx2 = ragIndexBuildOf(docs)
    val after = ragStaleness(idx2, idx2).withColumn("phase", lit("after"))
    graft.core.IndexFamily.phased(before.unionByName(after))
  }

  /** q150i's oracle — shared verbatim by q150j (the [[ragMaintain]]
    * gate): the maintain call must reproduce the hand-composed arc's
    * phase rows exactly.
    */
  private def ragReindexOracleSql: String =
    s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |idx AS (
       |  SELECT doc_id, w,
       |    unnest(generate_series(0, CAST(ceil(greatest(len(w) - $ChunkW, 0) / $ChunkS.0) AS INT))) AS k
       |  FROM words),
       |chunks AS (
       |  SELECT doc_id * 1000000 + k AS xid,
       |    array_to_string(w[(k*$ChunkS+1):(k*$ChunkS+$ChunkW)], ' ') AS chunk_text
       |  FROM idx),
       |ctoks AS (SELECT xid, unnest(string_split(chunk_text, ' ')) AS term FROM chunks),
       |cl AS (SELECT xid, count(*) AS dl FROM ctoks GROUP BY 1),
       |tfb AS (SELECT xid, ('0x'||substring(md5(term),1,8))::BIGINT % 64 AS d, count(*) AS c
       |        FROM ctoks GROUP BY 1, 2),
       |xel AS (
       |  SELECT g.xid, g.d,
       |    CAST(round((CAST(coalesce(tfb.c, 0) AS DOUBLE) / CAST(g.dl AS DOUBLE)) * 1000000) AS BIGINT) AS v
       |  FROM (SELECT cl.xid, cl.dl, dd.d FROM cl, (SELECT unnest(range(0, 64)) AS d) dd) g
       |  LEFT JOIN tfb ON tfb.xid = g.xid AND tfb.d = g.d),
       |nb AS (SELECT count(*) AS c FROM cl WHERE (xid // 1000000) % 3 <> 0),
       |na AS (SELECT count(*) AS c FROM cl WHERE (xid // 1000000) % 3 = 0),
       |ncur AS (SELECT count(*) AS c FROM cl),
       |cellsb AS (SELECT greatest(4, least(65536, CAST(ceil(sqrt(c)) AS BIGINT))) AS cells FROM nb),
       |cellsf AS (SELECT greatest(4, least(65536, CAST(ceil(sqrt(c)) AS BIGINT))) AS cells FROM ncur),
       |cidsb AS (SELECT xid AS cid, row_number() OVER (ORDER BY xid) AS rn
       |          FROM cl WHERE (xid // 1000000) % 3 <> 0),
       |centb AS (SELECT c.cid, x.d, x.v FROM cidsb c JOIN xel x ON x.xid = c.cid
       |          WHERE c.rn <= (SELECT cells FROM cellsb)),
       |d2b AS (SELECT x.xid, ct.cid, sum((x.v - ct.v) * (x.v - ct.v)) AS d
       |        FROM xel x JOIN centb ct ON ct.d = x.d GROUP BY 1, 2),
       |assignb AS (SELECT xid, cid FROM (
       |  SELECT xid, cid, row_number() OVER (PARTITION BY xid ORDER BY d, cid) AS rn
       |  FROM d2b) WHERE rn = 1),
       |statsb AS (SELECT d, min(v) AS mn, max(v) AS mx FROM xel
       |           WHERE (xid // 1000000) % 3 <> 0 GROUP BY d),
       |statsf AS (SELECT d, min(v) AS mn, max(v) AS mx FROM xel GROUP BY d),
       |reconb AS (
       |  SELECT e.xid, s.mn, s.mx,
       |    255 * s.mn + least(255, greatest(0,
       |      CASE WHEN s.mx = s.mn THEN 0
       |           ELSE ((e.v - s.mn) * 255) // (s.mx - s.mn) END)) * (s.mx - s.mn) AS r
       |  FROM xel e JOIN statsb s USING (d)),
       |reconf AS (
       |  SELECT e.xid, s.mn, s.mx,
       |    255 * s.mn + least(255, greatest(0,
       |      CASE WHEN s.mx = s.mn THEN 0
       |           ELSE ((e.v - s.mn) * 255) // (s.mx - s.mn) END)) * (s.mx - s.mn) AS r
       |  FROM xel e JOIN statsf s USING (d)),
       |hitsb AS (
       |  SELECT xid,
       |    sum(CASE WHEN mx > mn AND (r = 255 * mn OR r = 255 * mx) THEN 1 ELSE 0 END) AS h
       |  FROM reconb GROUP BY xid),
       |hitsf AS (
       |  SELECT xid,
       |    sum(CASE WHEN mx > mn AND (r = 255 * mn OR r = 255 * mx) THEN 1 ELSE 0 END) AS h
       |  FROM reconf GROUP BY xid),
       |deb AS (SELECT greatest(1, count(*)) AS d FROM statsb WHERE mx > mn),
       |def AS (SELECT greatest(1, count(*)) AS d FROM statsf WHERE mx > mn),
       |cbb AS (
       |  SELECT CAST(1000000 * sum(h) // (count(*) * (SELECT d FROM deb)) AS BIGINT) AS ppm
       |  FROM hitsb WHERE (xid // 1000000) % 3 <> 0
       |    AND xid % (SELECT greatest(1, c // 65536) FROM nb) = 0),
       |cab AS (
       |  SELECT CAST(CASE WHEN count(*) = 0 THEN 0
       |    ELSE 1000000 * sum(h) // (count(*) * (SELECT d FROM deb)) END AS BIGINT) AS ppm
       |  FROM hitsb WHERE (xid // 1000000) % 3 = 0),
       |cbf AS (
       |  SELECT CAST(1000000 * sum(h) // (count(*) * (SELECT d FROM def)) AS BIGINT) AS ppm
       |  FROM hitsf WHERE xid % (SELECT greatest(1, c // 65536) FROM ncur) = 0),
       |bb AS (SELECT cid, count(*) AS bn FROM assignb
       |       WHERE (xid // 1000000) % 3 <> 0 GROUP BY cid),
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
       |FROM dials""".stripMargin

  /** q150i's arc through [[ragMaintain]] — the operator a scheduler
    * actually crons, on the board: the base build persists (v1, its
    * own baseline), the delta arrives through the STREAMING ingest
    * and saves (v2, baseline v1 — prune keeps v1 loadable), and then
    * ONE maintain call does everything the arc wires by hand: load
    * cur + baseline, probe (FIRES — same dial values as q150i's
    * before row, now computed purely from store artifacts), re-index
    * the corpus at the re-derived geometry, save as the new baseline,
    * probe again (QUIET). The oracle is q150i's verbatim — green
    * proves the one-call composition reproduces the hand-composed
    * arc's phase rows exactly, disk hop included.
    */
  val q150jRagMaintain = Q.checked(
    "q150j_rag_maintain",
    ragReindexOracleSql) { (s, dir) =>
    val docs = table(s, dir, "documents")
    val path = graft.core.Graft.scratch("q150j_rag_index")
    ragIndexSave(ragIndexBuildOf(docs.filter(col("doc_id") % 3 =!= 0)), path)
    val ingest = graft.streaming.RagIngest.resume(s, path)
    ingest.foldBatch(
      docs.filter(col("doc_id") % 3 === 0).localCheckpoint(true), 0L)
    ingest.save(path)
    ragMaintain(s, path, docs)
  }

  /** Quality-first budget selection — the composition a budgeted
    * pretraining run actually executes: rank the corpus by the bigram-LM
    * fluency signal (q123's scorer, [[fluencyScores]] — the CCNet
    * "LM-filtered" ordering) and keep the maximal (fluency DESC, doc_id)
    * prefix whose running token total fits a 20k-token budget
    * ([[graft.operators.Packing.selectUnderBudget]], the q114 two-pass
    * prefix sum — partitions past the budget are never iterated).
    * Bigram-less docs score 0 (lowest priority, selected only if budget
    * remains). Both stages are oracle-pinned alone (q123, q114); this
    * green row pins the composition — the score handoff and the exact
    * cut point under the quality ordering.
    */
  val q156QualityBudget = Q.checked(
    "q156_quality_budget",
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |el AS (
      |  SELECT doc_id, CAST(generate_subscripts(w, 1) AS BIGINT) AS i, unnest(w) AS tok
      |  FROM words
      |), big AS (
      |  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
      |  FROM el a JOIN el b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      |), uni AS (SELECT tok, count(*) AS u FROM el GROUP BY tok),
      |bc AS (SELECT w1, w2, count(*) AS b FROM big GROUP BY w1, w2),
      |scored AS (
      |  SELECT g.doc_id, (1000000 * bc.b) // uni.u AS ppm
      |  FROM big g JOIN bc ON bc.w1 = g.w1 AND bc.w2 = g.w2
      |  JOIN uni ON uni.tok = g.w1
      |), fl AS (
      |  SELECT doc_id,
      |    CAST((2 * sum(ppm) + count(*)) // (2 * count(*)) AS BIGINT) AS fl
      |  FROM scored GROUP BY doc_id
      |), t AS (
      |  SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
      |    COALESCE(fl.fl, 0) AS fl
      |  FROM documents d LEFT JOIN fl USING (doc_id)
      |), r AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(sum(n_tokens) OVER (ORDER BY fl DESC, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      |  FROM t)
      |SELECT doc_id, n_tokens, cum_tokens FROM r WHERE cum_tokens <= 20000""") { (s, dir) =>
    import graft.operators.Packing
    val fl = fluencyScores(s, dir).select(col("doc_id"), col("fluency_ppm"))
    val docsFl = table(s, dir, "documents")
      .join(fl, Seq("doc_id"), "left")
    Packing.selectUnderBudget(docsFl,
      coalesce(col("fluency_ppm"), lit(0L)), budget = 20000L)
  }

  /** Weighted corpus sampling without replacement — the deterministic
    * integer analog of Efraimidis–Spirakis priority sampling: each doc
    * holds one lottery TICKET per token (weight = token count), every
    * ticket hashes to a seeded 32-bit value, the doc's priority is its
    * MINIMUM ticket hash, and the sample is the 50 lowest-priority docs.
    * P(min of w uniform hashes is corpus-minimal) ∝ w, so heavier docs
    * are proportionally likelier to lead the order — weighted sampling
    * with zero floating-point (the float E-S key u^(1/w) can never be
    * cross-engine exact; min-of-tickets can). Reproducible by seed
    * construction, the property training-data subsampling actually
    * needs.
    *
    * Scale shape: the ticket explosion is one row per TOKEN — the same
    * volume every tokenizing query already pays — folded immediately by
    * a map-side-combined min; top-50 is TakeOrderedAndProject.
    */
  val q162WeightedSample = Q.checked(
    "q162_weighted_sample",
    """WITH w AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS weight
      |  FROM documents),
      |tk AS (SELECT doc_id, weight, unnest(generate_series(1, weight)) AS i FROM w),
      |pr AS (
      |  SELECT doc_id, weight,
      |    min(('0x'||substring(md5('wrs:'||CAST(doc_id AS VARCHAR)||':'||CAST(i AS VARCHAR)),1,8))::BIGINT) AS priority
      |  FROM tk GROUP BY doc_id, weight),
      |r AS (SELECT doc_id, weight, priority,
      |  row_number() OVER (ORDER BY priority, doc_id) AS rank FROM pr)
      |SELECT doc_id, weight, priority, rank FROM r WHERE rank <= 50""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    table(s, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("weight"))
      .select(col("doc_id"), col("weight"),
        explode(expr("sequence(1L, weight)")).as("i"))
      .select(col("doc_id"), col("weight"),
        Hashing.hash32(concat(lit("wrs:"), col("doc_id").cast("string"),
          lit(":"), col("i").cast("string"))).as("h"))
      .groupBy(col("doc_id"), col("weight"))
      .agg(min(col("h")).as("priority"))
      .orderBy(col("priority"), col("doc_id")).limit(50)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("priority"), col("doc_id"))))
  }

  /** New-vocabulary detection — the incremental twin of the corpus
    * vocabulary: terms appearing in today's delta batch (doc_id % 10 = 0,
    * the q155 CDC convention) that the base corpus has never seen, with
    * their delta document and occurrence counts. This is the signal an
    * incremental BPE/vocab pipeline watches (new terms above a floor
    * trigger retraining) and a drift tripwire q136's share-deviation
    * can't give (a term with zero base share has no share to deviate).
    *
    * Scale shape: two map-side-combined vocabulary aggregations and one
    * vocab-keyed LEFT ANTI join (the q96 decontamination shape applied
    * to the vocabulary itself) — never a broadcast of an unbounded
    * vocab.
    */
  val q164NewTerms = Q.checked(
    "q164_new_terms",
    """WITH base AS (
      |  SELECT DISTINCT unnest(list_transform(generate_series(1, len(w)-2),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS term
      |  FROM (SELECT string_split(text, ' ') AS w FROM documents
      |        WHERE doc_id % 10 <> 0)),
      |dt AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-2),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS term
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |        WHERE doc_id % 10 = 0)),
      |nt AS (
      |  SELECT d.term FROM (SELECT DISTINCT term FROM dt) d
      |  LEFT JOIN base b ON b.term = d.term WHERE b.term IS NULL)
      |SELECT dt.term, count(DISTINCT dt.doc_id) AS n_docs, count(*) AS n_occ
      |FROM dt JOIN nt USING (term) GROUP BY dt.term""") { (s, dir) =>
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    def tri(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), explode(expr(
        """transform(slice(w, 1, greatest(size(w) - 2, 0)),
          |  (x, i) -> concat(x, ' ', w[i + 1], ' ', w[i + 2]))""".stripMargin))
        .as("term"))
    val base = tri(docs.filter(col("doc_id") % 10 =!= 0))
      .select(col("term")).distinct()
    val dt = tri(docs.filter(col("doc_id") % 10 === 0))
      .localCheckpoint(true) // feeds the new-term anti join and the counts
    val nt = dt.select(col("term")).distinct()
      .join(base, Seq("term"), "left_anti")
    dt.join(nt, "term")
      .groupBy(col("term"))
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
  }

  /** Conjunctive (boolean-AND) retrieval with BM25 ranking — the postings
    * INTERSECTION q74's index serves and q129's OR-scorer can't express:
    * only documents containing EVERY query term qualify, then the
    * survivors rank by the same all-integer BM25. The query is derived
    * from the corpus (df-ranks 6–10, deterministic), so the oracle is
    * scale-true. The AND is the distributed postings-merge: tf rows
    * restricted to the 5 broadcast query terms, grouped by doc, HAVING
    * count = |query| — each posting list is touched once, the intersection
    * materializes at candidate volume, and scoring reuses the SAME
    * restricted tf rows (one shuffle for membership + score together,
    * never a second token-stream pass). Top-10 is TakeOrderedAndProject.
    */
  val q186BooleanBm25 = Q.checked(
    "q186_boolean_bm25",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
      |tot AS (SELECT (SELECT count(*) FROM dl) AS nd, (SELECT count(*) FROM toks) AS tt),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |rt AS (SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS rk FROM df),
      |qt AS (SELECT term, df FROM rt WHERE rk BETWEEN 6 AND 10),
      |qtf AS (SELECT tf.doc_id, tf.term, tf.tf, qt.df FROM tf JOIN qt USING (term)),
      |hit AS (SELECT doc_id FROM qtf GROUP BY doc_id HAVING count(*) = 5),
      |sc AS (
      |  SELECT q.doc_id,
      |    (1000000 * 44 * q.tf * (2 * tot.nd - 2 * q.df + 1)) //
      |    ((2 * q.df + 1) * (20 * q.tf + 6 + (18 * dl.dl * tot.nd) // tot.tt)) AS sc
      |  FROM qtf q JOIN hit USING (doc_id) JOIN dl USING (doc_id) CROSS JOIN tot),
      |agg AS (SELECT doc_id, CAST(sum(sc) AS BIGINT) AS score FROM sc GROUP BY doc_id),
      |r AS (SELECT doc_id, score,
      |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM agg)
      |SELECT doc_id, score, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 10""") { (s, dir) =>
    import graft.operators.Dedup
    val toks = table(s, dir, "documents")
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("term"))
      .localCheckpoint(true) // feeds tf, dl, and the totals
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qt = broadcast(ranked(df, "df", 10, "rk", Seq("term")) // bound BEFORE ranking
      .filter(col("rk").between(6, 10))
      .select(col("term"), col("df")))
    val tot = broadcast(toks.agg(
      count_distinct(col("doc_id")).as("nd"), count(lit(1)).as("tt")))
    val qtf = tf.join(qt, "term").localCheckpoint(true) // membership + scoring
    val hit = qtf.groupBy(col("doc_id")).agg(count(lit(1)).as("nq"))
      .filter(col("nq") === 5).select(col("doc_id"))
    bm25TopK(qtf.join(hit, "doc_id")
        .join(dl, "doc_id")
        .crossJoin(tot)
        .select(col("doc_id"), bm25Term.as("sc")), 10, "rank", "doc_id")
      .withColumn("rank", col("rank").cast("long"))
  }

  /** BPE train→APPLY capstone — the handoff q105b's training loop feeds:
    * the two merges LEARNED from this corpus (adopted exactly as in
    * q105b) are applied back to every document, reporting per-doc token
    * count, tokenized char count, and the chars-per-token compression
    * ratio in integer ppm — the metric a tokenizer-training pipeline
    * actually optimizes. A wrong merge, a wrong adoption order, or a
    * wrong application anywhere shifts some doc's token count and breaks
    * the hash.
    *
    * Scale shape: tokenization happens ONCE PER VOCAB WORD (vocab-sized
    * work, the q105 collapse), then fans back to documents by a
    * vocab-keyed join (the q164 posture — never a corpus-sized broadcast
    * side), with the per-doc rollup map-side combined. The oracle
    * unrolls both adoptions as w-carrying CTEs and replays the
    * application with the same replace-chain. A corpus whose training
    * loop exhausts before two merges yields the oracle's EMPTY result;
    * the engine mirrors it.
    */
  val q184BpeApply = Q.checked(
    "q184_bpe_apply",
    s"""WITH runs AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]+')) AS w FROM documents),
       |wc AS (SELECT w, count(*) AS c FROM runs GROUP BY w),
       |t0 AS (SELECT w, c, ${graft.functions.Bpe.oracleReplayExpr("w")} AS tok FROM wc),
       |i0 AS (
       |  SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(c) AS BIGINT) AS cnt
       |  FROM (SELECT c, syms, unnest(generate_series(1, len(syms) - 1)) AS i
       |        FROM (SELECT c, regexp_extract_all(tok, '<([^>]*)>', 1) AS syms FROM t0))
       |  GROUP BY 1, 2),
       |m0 AS (SELECT a, b FROM i0 ORDER BY cnt DESC, a, b LIMIT 1),
       |t1 AS (SELECT w, c, replace(t0.tok, '<'||m0.a||'><'||m0.b||'>',
       |                            '<'||m0.a||m0.b||'>') AS tok FROM t0, m0),
       |i1 AS (
       |  SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(c) AS BIGINT) AS cnt
       |  FROM (SELECT c, syms, unnest(generate_series(1, len(syms) - 1)) AS i
       |        FROM (SELECT c, regexp_extract_all(tok, '<([^>]*)>', 1) AS syms FROM t1))
       |  GROUP BY 1, 2),
       |m1 AS (SELECT a, b FROM i1 ORDER BY cnt DESC, a, b LIMIT 1),
       |t2 AS (SELECT w, c, replace(t1.tok, '<'||m1.a||'><'||m1.b||'>',
       |                            '<'||m1.a||m1.b||'>') AS tok FROM t1, m1),
       |app AS (
       |  SELECT w, CAST(len(regexp_extract_all(tok, '<([^>]*)>', 1)) AS BIGINT) AS ntok,
       |         CAST(length(w) AS BIGINT) AS nchr FROM t2),
       |d AS (
       |  SELECT r.doc_id, CAST(sum(a.ntok) AS BIGINT) AS n_tokens,
       |         CAST(sum(a.nchr) AS BIGINT) AS n_chars
       |  FROM runs r JOIN app a USING (w) GROUP BY r.doc_id)
       |SELECT doc_id, n_tokens, n_chars,
       |  n_chars * 1000000 // n_tokens AS chars_per_tok_ppm FROM d""") { (s, dir) =>
    import graft.operators.BpeTrain
    import graft.functions.Bpe
    import s.implicits._
    val docs = table(s, dir, "documents")
    val words = BpeTrain.vocab(docs).localCheckpoint(true)
    val trained: Option[Seq[(String, String)]] =
      BpeTrain.learnStep(words, Bpe.fixtureMerges).flatMap { case (a1, b1, _) =>
        val m1 = Bpe.fixtureMerges :+ ((a1, b1))
        BpeTrain.learnStep(words, m1).map { case (a2, b2, _) => m1 :+ ((a2, b2)) }
      }
    trained match {
      case None =>
        // training exhausted before two merges — the oracle's t2 is the
        // empty cross join, so mirror its empty result
        Seq.empty[(Long, Long, Long, Long)]
          .toDF("doc_id", "n_tokens", "n_chars", "chars_per_tok_ppm")
      case Some(merges) =>
        val ranks = merges.zipWithIndex.toMap
        val app = words.select(col("w")).as[String]
          .map(w => (w, Bpe.tokenize(w, ranks).length.toLong, w.length.toLong))
          .toDF("w", "ntok", "nchr")
        val dw = docs.select(col("doc_id"), col("text").cast("string"))
          .as[(Long, String)]
          .flatMap { case (id, t) => Bpe.letterRuns(t).map(w => (id, w)) }
          .toDF("doc_id", "w")
        dw.join(app, "w")
          .groupBy(col("doc_id"))
          .agg(sum(col("ntok")).as("n_tokens"), sum(col("nchr")).as("n_chars"))
          .select(col("doc_id"), col("n_tokens"), col("n_chars"),
            expr("n_chars * 1000000 div n_tokens").as("chars_per_tok_ppm"))
    }
  }

  /** EXACT-k stratified sample — q76's fractional split's fixed-quota
    * sibling (eval-set construction wants "exactly 5 per language", not
    * "5%"): per stratum the k lowest md5(doc_id) ranks win, so the
    * sample is deterministic, reproducible, and uniformly random under
    * the hash. The per-stratum rank is WindowGroupLimit-prunable
    * (losers drop map-side — the q102 cap shape), so a 100 TB stratum
    * never sorts whole.
    */
  val q207ExactKSample = Q.checked(
    "q207_exact_k_sample",
    """SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk FROM (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 5""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    table(s, dir, "documents")
      .select(col("lang"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("doc_id"), col("rk"))
  }

  /** PRIORITY SAMPLING (Duffield–Lund–Thorup) — the O(1)-per-document
    * scale path for weighted sampling without replacement: priority
    * q_i = w_i/u_i with u_i a seeded uniform, take the k largest.
    * [[q162WeightedSample]]'s min-of-tickets construction pays one row
    * per TOKEN for exactness; at 100 TB that is a full token-scale pass
    * just to draw a sample. Here the priority is one hash per DOCUMENT:
    * u_i is the 40-bit md5 slot (u40 ∈ [1, 2^40]) and the priority is
    * the exact integer ⌊w·2^40 / u40⌋ — the same w/u rational both
    * engines floor identically, zero floats. Top-k plans as
    * TakeOrderedAndProject (map-side bounded heap, never a global sort).
    * w·2^40 ≤ 9.2e18 bounds w at ~8.4M — chars-per-doc, not corpus
    * size, so the bound is scale-independent.
    */
  val q213PrioritySample = Q.checked(
    "q213_priority_sample",
    """WITH p AS (
      |  SELECT doc_id, n_chars AS w,
      |    ('0x' || substring(md5('ps:' || CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT + 1 AS u40
      |  FROM documents)
      |SELECT doc_id, w, w * 1099511627776 // u40 AS prio
      |FROM p ORDER BY prio DESC, doc_id LIMIT 100""") { (s, dir) =>
    table(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").as("w"),
        (conv(substring(md5(concat(lit("ps:"), col("doc_id").cast("string"))), 1, 10),
          16, 10).cast("long") + 1).as("u40"))
      .withColumn("prio", expr("w * 1099511627776 DIV u40"))
      .select(col("doc_id"), col("w"), col("prio"))
      .orderBy(col("prio").desc, col("doc_id"))
      .limit(100)
  }

  /** FEATURE HASHING (the hashing trick, Weinberger et al.) — fixed-
    * dimension sparse vectorization without a vocabulary table: every
    * token hashes to one of 1024 dims (md5 slot mod d) with a ±1 sign
    * from an independent hash bit, so collisions cancel in expectation.
    * The corpus-level readout per dim — occupancy (token count), load
    * (distinct tokens: the collision census) and the signed sum — is the
    * hash-quality audit run before committing a feature space. One
    * map-side-combined aggregation from token scale to exactly d rows;
    * no vocabulary shuffle, no top-k, nothing corpus-sized downstream —
    * the whole point of the trick at 100 TB.
    */
  val q214FeatureHash = Q.checked(
    "q214_feature_hash",
    """WITH t AS (
      |  SELECT unnest(string_split_regex(text, '[ \t\n\r\f\x0B]+')) AS w FROM documents),
      |f AS (
      |  SELECT w,
      |    ('0x' || substring(md5(w), 1, 8))::BIGINT % 1024 AS dim,
      |    CASE WHEN ('0x' || substring(md5(w), 9, 1))::BIGINT % 2 = 0
      |         THEN 1 ELSE -1 END AS sgn
      |  FROM t WHERE length(w) > 0)
      |SELECT dim, count(*) AS n_tokens, count(DISTINCT w) AS n_distinct,
      |  CAST(sum(sgn) AS BIGINT) AS signed_sum
      |FROM f GROUP BY dim""") { (s, dir) =>
    val toks = table(s, dir, "documents")
      .select(explode(split(col("text"), "[ \t\n\r\f\\x0B]+")).as("w"))
      .filter(length(col("w")) > 0)
    toks
      .select(col("w"),
        (conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long") % 1024).as("dim"),
        when(conv(substring(md5(col("w")), 9, 1), 16, 10).cast("long") % 2 === 0, 1L)
          .otherwise(-1L).as("sgn"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("w")).as("n_distinct"),
        sum(col("sgn")).cast("long").as("signed_sum"))
  }

  /** KNESER–NEY smoothed bigram LM — [[q123BigramLm]]'s MLE estimate
    * upgraded to the smoothing real LM scoring uses (absolute discount
    * d = 3/4 with the continuation-probability backoff):
    * P(w2|w1) = [max(c12 − d, 0) + d·N1+(w1·)·Pcont(w2)] / c1 with
    * Pcont(w2) = N1+(·w2)/N1+(··). Computed entirely in integers by
    * clearing denominators (d = 3/4 → quarters):
    * ppm = ⌊10⁶·((4c12−3)₊·Ncc + 3·fol(w1)·pre(w2)) / (4·c1·Ncc)⌋,
    * accumulated in DECIMAL(38,0)/HUGEINT so the clearing products are
    * exact at any scale. The sufficient statistics (c1, follower and
    * predecessor type counts, the distinct-bigram total) all derive from
    * the one bigram-count table by re-aggregation — vocab-bounded, never
    * corpus-bounded; output restricted to c12 ≥ 5 like q77.
    */
  val q215KneserNey = Q.checked(
    "q215_kneser_ney",
    """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
      |bi AS (SELECT unnest(list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1])) AS bg FROM w),
      |bc AS (SELECT bg, count(*) AS c12 FROM bi GROUP BY bg),
      |w1s AS (SELECT split_part(bg, ' ', 1) AS w1a, CAST(sum(c12) AS BIGINT) AS c1,
      |        count(*) AS fol FROM bc GROUP BY 1),
      |w2s AS (SELECT split_part(bg, ' ', 2) AS w2b, count(*) AS pre FROM bc GROUP BY 1),
      |t AS (SELECT count(*) AS ncc FROM bc)
      |SELECT bc.bg, bc.c12, w1s.c1, w1s.fol, w2s.pre,
      |  CAST((CAST(greatest(4*bc.c12 - 3, 0) AS HUGEINT) * t.ncc * 1000000
      |        + CAST(3 AS HUGEINT) * w1s.fol * w2s.pre * 1000000)
      |       // (CAST(4 AS HUGEINT) * w1s.c1 * t.ncc) AS BIGINT) AS pkn_ppm
      |FROM bc
      |JOIN w1s ON w1s.w1a = split_part(bc.bg, ' ', 1)
      |JOIN w2s ON w2s.w2b = split_part(bc.bg, ' ', 2)
      |CROSS JOIN t
      |WHERE bc.c12 >= 5""") { (s, dir) =>
    import graft.operators.Dedup
    val docs = table(s, dir, "documents")
    val bc = docs.select(explode(Dedup.bigrams(col("text"))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c12"))
    val w1s = bc.groupBy(substring_index(col("bg"), " ", 1).as("w1a"))
      .agg(sum(col("c12")).cast("long").as("c1"), count(lit(1)).as("fol"))
    val w2s = bc.groupBy(substring_index(col("bg"), " ", -1).as("w2b"))
      .agg(count(lit(1)).as("pre"))
    val t = bc.agg(count(lit(1)).as("ncc"))
    bc.filter(col("c12") >= 5)
      .join(w1s, substring_index(col("bg"), " ", 1) === col("w1a"))
      .join(w2s, substring_index(col("bg"), " ", -1) === col("w2b"))
      .crossJoin(broadcast(t))
      .select(col("bg"), col("c12"), col("c1"), col("fol"), col("pre"),
        expr("CAST((CAST(greatest(4*c12 - 3, 0) AS DECIMAL(38,0)) * ncc * 1000000" +
          " + CAST(3 AS DECIMAL(38,0)) * fol * pre * 1000000)" +
          " DIV (CAST(4 AS DECIMAL(38,0)) * c1 * ncc) AS BIGINT)").as("pkn_ppm"))
  }

  /** HIGHER-ORDER-FUNCTION doc stats — per-document token statistics
    * computed ENTIRELY inside the row via Spark's array HOFs
    * (transform/aggregate/array_distinct), mirrored by DuckDB's list
    * functions: token count, distinct tokens, longest token, total token
    * chars. The point is the plan: a tokenizing profile with ZERO
    * exchanges — no explode, no shuffle, no aggregation; the token array
    * never leaves its row, so at 100 TB this is exactly one codegen'd
    * scan (PlanSpec asserts the plan is Exchange-free). The explode-based
    * siblings (q03/q72) pay a token-scale shuffle for corpus-level
    * answers; when the answer is per-document, HOFs make the shuffle
    * disappear.
    */
  val q231HofDocstats = Q.checked(
    "q231_hof_docstats",
    """SELECT doc_id,
      |  CAST(len(w) AS BIGINT) AS n_tok,
      |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
      |  CAST(list_max(list_transform(w, x -> length(x))) AS BIGINT) AS max_tok_len,
      |  CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS BIGINT) AS sum_tok_len
      |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)""") { (s, dir) =>
    table(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tok"),
        size(array_distinct(col("w"))).cast("long").as("n_distinct"),
        expr("CAST(array_max(transform(w, x -> length(x))) AS BIGINT)").as("max_tok_len"),
        expr("aggregate(w, 0L, (a, x) -> a + length(x))").as("sum_tok_len"))
  }

  /** SOURCE SIMILARITY MATRIX — pairwise cosine between the term-
    * frequency vectors of every document source: the corpus-composition
    * readout a mixture designer checks before weighting sources (two
    * near-identical crawls shouldn't both get full weight). The vectors
    * are vocab-keyed SPARSE rows, so the dot product is one equi
    * self-join on the term — |vocab|-bounded, never document-scale —
    * and the norms are per-source sums of squares. All sufficient
    * statistics are exact integers; the cosine is the identical IEEE
    * (dot, √norms) tree both engines. |sources|²/2 output rows.
    */
  val q236SourceSimilarity = Q.checked(
    "q236_source_similarity",
    """WITH t AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
      |tf AS (SELECT source, w, count(*) AS f FROM t WHERE length(w) > 0 GROUP BY 1, 2),
      |nrm AS (SELECT source, CAST(sum(f * f) AS BIGINT) AS n2 FROM tf GROUP BY 1),
      |dot AS (
      |  SELECT a.source AS sa, b.source AS sb, CAST(sum(a.f * b.f) AS BIGINT) AS dot
      |  FROM tf a JOIN tf b ON b.w = a.w AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT dot.sa, dot.sb, dot.dot,
      |  CAST(dot.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos_sim
      |FROM dot JOIN nrm na ON na.source = dot.sa JOIN nrm nb ON nb.source = dot.sb""") { (s, dir) =>
    val tf = table(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("f"))
      .localCheckpoint(true) // vocab-bounded; feeds norms and the pair join
    val nrm = tf.groupBy(col("source"))
      .agg(sum(col("f") * col("f")).cast("long").as("n2"))
    val dot = tf.alias("a")
      .join(tf.alias("b"),
        col("b.w") === col("a.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(sum(col("a.f") * col("b.f")).cast("long").as("dot"))
    dot
      .join(nrm.select(col("source").as("sa"), col("n2").as("na")), "sa")
      .join(nrm.select(col("source").as("sb"), col("n2").as("nb")), "sb")
      .select(col("sa"), col("sb"), col("dot"),
        (col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
          .as("cos_sim"))
  }

  /** SIMPSON DIVERSITY per source — lexical diversity without the
    * entropy trap: Shannon's −Σp·log p needs a logarithm (libm, drifts
    * cross-engine); the Gini–Simpson index 1 − Σp² and its inverse (the
    * "effective vocabulary" — how many equally-common types would give
    * the same concentration) are pure rational functions of the term
    * counts, so both render as EXACT integers: Σf² in DECIMAL(38,0),
    * simpson_ppm = 10⁶ − Σf²·10⁶/N², eff_vocab_milli = N²·10³/Σf².
    * The corpus-mixture designer's diversity readout next to q236's
    * similarity matrix. One token-scale agg to vocab, two re-aggs.
    */
  val q240SimpsonDiversity = Q.checked(
    "q240_simpson_diversity",
    """WITH t AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
      |tf AS (SELECT source, w, count(*) AS f FROM t WHERE length(w) > 0 GROUP BY 1, 2),
      |st AS (
      |  SELECT source, CAST(sum(f) AS HUGEINT) AS n, count(*) AS n_types,
      |    CAST(sum(CAST(f AS HUGEINT) * f) AS HUGEINT) AS f2
      |  FROM tf GROUP BY 1)
      |SELECT source, CAST(n AS BIGINT) AS n_tokens, n_types,
      |  CAST(1000000 - f2 * 1000000 // (n * n) AS BIGINT) AS simpson_ppm,
      |  CAST(n * n * 1000 // f2 AS BIGINT) AS eff_vocab_milli
      |FROM st""") { (s, dir) =>
    import org.apache.spark.sql.types.{DecimalType => DT}
    val d38 = DT(38, 0)
    val tf = table(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("f"))
    tf.groupBy(col("source"))
      .agg(sum(col("f")).cast(d38).as("n"), count(lit(1)).as("n_types"),
        sum(col("f").cast(d38) * col("f").cast(d38)).cast(d38).as("f2"))
      .select(col("source"), col("n").cast("long").as("n_tokens"), col("n_types"),
        expr("CAST(1000000 - f2 * 1000000 DIV (n * n) AS BIGINT)").as("simpson_ppm"),
        expr("CAST(n * n * 1000 DIV f2 AS BIGINT)").as("eff_vocab_milli"))
  }

  /** VOCABULARY CONCENTRATION CURVE — the Zipf readout without a
    * log-log regression (whose logs drift cross-engine): what share of
    * all tokens do the top 1 / 3 / 10 / 30 / 100 / 1000 terms carry? Shares are
    * exact integer ppm. The scale path is the bounded top-k, not a
    * vocab-wide window: TakeOrderedAndProject keeps the 1000 heaviest
    * terms (map-side bounded heap), the running mass accumulates over
    * those ≤1000 rows (driver-safe by construction), and the corpus
    * total rides in as one broadcast row. Output is one row per populated cut (≤6).
    */
  val q244VocabConcentration = Q.checked(
    "q244_vocab_concentration",
    """WITH t AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |tf AS (SELECT w, count(*) AS f FROM t WHERE length(w) > 0 GROUP BY w),
      |tot AS (SELECT CAST(sum(f) AS BIGINT) AS n FROM tf),
      |top AS (
      |  SELECT f, row_number() OVER (ORDER BY f DESC, w) AS r
      |  FROM tf ORDER BY f DESC, w LIMIT 1000),
      |c AS (
      |  SELECT r, CAST(sum(f) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM top)
      |SELECT c.r AS rank_cut, c.cum AS mass,
      |  c.cum * 1000000 // tot.n AS mass_ppm
      |FROM c CROSS JOIN tot
      |WHERE c.r IN (1, 3, 10, 30, 100, 1000)""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val tf = table(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .localCheckpoint(true) // vocab-bounded; feeds the total and the top-k
    val tot = tf.agg(sum(col("f")).cast("long").as("n"))
    val top = tf.orderBy(col("f").desc, col("w")).limit(1000)
      .withColumn("r", row_number().over(Window.orderBy(col("f").desc, col("w"))))
    top
      .withColumn("cum", sum(col("f")).over(Window.orderBy(col("r"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
      .filter(col("r").isin(1, 3, 10, 30, 100, 1000))
      .crossJoin(broadcast(tot))
      .select(col("r").cast("long").as("rank_cut"), col("cum").as("mass"),
        expr("cum * 1000000 DIV n").as("mass_ppm"))
  }

  val all: Vector[Q] =
    Vector(q70LangId, q71Quality, q71bCorpusFreq, q72TokenCount,
      q72bBpeTokens, q73Fingerprint, q74InvertedIndex, q74bIndexMerge,
      q75Tfidf, q76StratifiedSplit, q77Collocations, q79Repetition,
      q96Decontaminate, q98PiiRedact, q100DupSpans, q101SeqPack,
      q102SourceCap, q105BpeTrainStep, q105bBpeTrainLoop, q108MixtureResample,
      q109CurationFunnel, q114TokenBudget, q118ChunkWindows, q121C4Filters,
      q123BigramLm, q129Bm25, q136TermDrift, q140DsirSelect, q143TrainShuffle,
      q146HtmlExtract, q147PerceptronTrain, q150RagPipeline, q150bRagHybrid,
      q150dRagServeDisk, q150eRagIncremental, q150fRagStreaming,
      q150gRagRetire, q150hRagStaleness, q150iRagReindex, q150jRagMaintain,
      q150cRagServe,
      q156QualityBudget, q162WeightedSample, q164NewTerms, q184BpeApply,
      q186BooleanBm25, q207ExactKSample, q213PrioritySample, q214FeatureHash,
      q215KneserNey, q231HofDocstats, q236SourceSimilarity,
      q240SimpsonDiversity, q244VocabConcentration)
}
