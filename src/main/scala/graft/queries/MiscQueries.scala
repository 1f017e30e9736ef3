package graft.queries

import graft.Q
import graft.core.Graft.table
import graft.functions.Hashing
import graft.operators.{Multimodal, Pipe}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The remaining reference corpus + extension surface: SkipBadRecords,
  * Logalyzer, PiEstimator, TeraGen, JDBC in/out (DBCountPageView), the
  * multimodal binary pipeline, the pipe operator, and the XML record
  * scanner.
  */
object MiscQueries {

  private def tmp(name: String): String = graft.core.Graft.scratch(name)

  /** SkipBadRecords (`SkipBadRecords.java:51`): records that crash the
    * user transform are skipped and counted, not fatal. Corruption is
    * injected deterministically; `try_cast` is the per-record try/catch.
    */
  val q46SkipBad = Q.checked(
    "q46_skipbad",
    """WITH raw AS (
      |  SELECT CASE WHEN user_id % 10 < 3 THEN 'x' || props
      |              ELSE CAST(user_id AS VARCHAR) END AS rec
      |  FROM events
      |), parsed AS (SELECT TRY_CAST(rec AS BIGINT) AS v FROM raw)
      |SELECT count(*) AS total,
      |       count(*) - count(v) AS skipped,
      |       CAST(sum(v) AS BIGINT) AS kept_sum
      |FROM parsed""") { (s, dir) =>
    val raw = table(s, dir, "events")
      .select(when(col("user_id") % 10 < 3, concat(lit("x"), col("props")))
        .otherwise(col("user_id").cast("string")).as("rec"))
    raw.select(expr("try_cast(rec AS BIGINT)").as("v"))
      .agg(count(lit(1)).as("total"),
        (count(lit(1)) - count(col("v"))).as("skipped"),
        sum(col("v")).as("kept_sum"))
  }

  /** Logalyzer (`src/tools/org/apache/hadoop/tools/Logalyzer.java:64-110`):
    * grep the "log" + multi-column sorted report, rank-bounded.
    */
  val q47Logalyzer = Q.checked(
    "q47_logalyzer",
    """SELECT event_type, user_id, n, rank FROM (
      |  SELECT event_type, user_id, count(*) AS n,
      |         row_number() OVER (ORDER BY count(*) DESC, event_type, user_id) AS rank
      |  FROM events
      |  WHERE regexp_matches(props, '"k": 1[0-9]$') OR regexp_matches(props, '"k": 1[0-9]}')
      |  GROUP BY event_type, user_id
      |) WHERE rank <= 25""") { (s, dir) =>
    table(s, dir, "events")
      .filter(col("props").rlike("\"k\": 1[0-9]$") || col("props").rlike("\"k\": 1[0-9]\\}"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("event_type"), col("user_id"))))
      .filter(col("rank") <= 25)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Logalyzer-family URL decomposition, with Spark's codegen'd
    * `parse_url`: deterministic request URLs synthesized from events are
    * split into host / path / one query parameter and aggregated per
    * (host, path). The oracle recomputes the components from the same
    * construction, so a green row proves `parse_url`'s decomposition of
    * well-formed URLs matches the relational definition.
    */
  val q47bUrlParse = Q.checked(
    "q47b_url_parse",
    """WITH u AS (
      |  SELECT 's' || (user_id % 5) || '.example.com' AS host,
      |         '/' || event_type || '/p' || (event_id % 7) AS path,
      |         CAST(event_id % 13 AS VARCHAR) AS k
      |  FROM events)
      |SELECT host, path, count(*) AS n, count(DISTINCT k) AS uniq_k
      |FROM u GROUP BY host, path""") { (s, dir) =>
    val url = concat(
      lit("https://s"), (col("user_id") % 5).cast("string"),
      lit(".example.com/"), col("event_type"),
      lit("/p"), (col("event_id") % 7).cast("string"),
      lit("?u="), col("user_id").cast("string"),
      lit("&k="), (col("event_id") % 13).cast("string"))
    table(s, dir, "events")
      .select(
        parse_url(url, lit("HOST")).as("host"),
        parse_url(url, lit("PATH")).as("path"),
        parse_url(url, lit("QUERY"), lit("k")).as("k"))
      .groupBy(col("host"), col("path"))
      .agg(count(lit(1)).as("n"), countDistinct(col("k")).as("uniq_k"))
  }

  /** PiEstimator (`PiEstimator.java:75,140-208`): quasi-Monte-Carlo with
    * the 2,3-Halton sequence — deterministic, distributed generation, one
    * global aggregate. The radical inverse of `i` with a fixed digit count
    * is an exact rational: `halton(b, i) = rev_b(i) / b^D` where `rev_b`
    * reverses the base-b digits of i over D places. With n = 200000,
    * D₂ = 18 (2¹⁸ > n) and D₃ = 12 (3¹² > n), so the in-circle test
    * `(x−½)² + (y−½)² ≤ ¼` clears denominators to the exact integer
    * comparison `u²·3²⁴ + v²·2³⁶ ≤ 2³⁶·3²⁴` with `u = 2·rev₂(i) − 2¹⁸`,
    * `v = 2·rev₃(i) − 3¹²`. The test is evaluated in DOUBLE with the same
    * left-associated op order in both engines: this is provably
    * decision-exact, because over i ∈ [1, 200000] the closest LHS ever
    * comes to the boundary is 9.5e16 while the worst accumulated rounding
    * of the three-product sum is < 4 ulp ≈ 1.7e7 — ten orders of margin
    * (checked offline in exact arithmetic). u, v themselves are exact
    * longs from a codegen'd higher-order `aggregate` digit reversal; no
    * UDF, no float accumulation, identical bits on both engines.
    */
  val q48Pi = Q.checked(
    "q48_pi",
    """WITH pts AS (
      |  SELECT (2 * (SELECT sum(((i >> d) & 1) << (17 - d))
      |               FROM range(0, 18) t(d)) - 262144) AS u,
      |         (2 * (SELECT sum(((i // CAST(pow(3, d) AS BIGINT)) % 3)
      |                          * CAST(pow(3, 11 - d) AS BIGINT))
      |               FROM range(0, 12) t(d)) - 531441) AS v
      |  FROM range(1, 200001) s(i))
      |SELECT CAST(sum(inside) * 4 AS DOUBLE) / count(*) AS pi_estimate,
      |       count(*) AS n
      |FROM (SELECT CASE WHEN u::DOUBLE * u * 282429536481
      |                     + v::DOUBLE * v * 68719476736
      |                     <= 1.9408409961765343e22
      |             THEN 1 ELSE 0 END AS inside FROM pts) x""") { (s, dir) =>
    val n = 200000L
    s.range(1, n + 1)
      .withColumn("u", expr(
        "2L * aggregate(sequence(0, 17), 0L, " +
          "(acc, d) -> acc + shiftleft(shiftright(id, d) & 1, 17 - d)) - 262144L"))
      .withColumn("v", expr(
        "2L * aggregate(sequence(0, 11), 0L, " +
          "(acc, d) -> acc + ((id div cast(pow(3, d) as long)) % 3) " +
          "* cast(pow(3, 11 - d) as long)) - 531441L"))
      .withColumn("inside", expr(
        "case when cast(u as double) * u * 282429536481L " +
          "+ cast(v as double) * v * 68719476736L " +
          "<= 1.9408409961765343e22 then 1L else 0L end"))
      .agg(sum(col("inside")).as("ins"), count(lit(1)).as("n"))
      .select(
        ((col("ins") * 4).cast("double") / col("n")).as("pi_estimate"),
        col("n"))
  }

  /** TeraGen (`TeraGen.java:50-53`): deterministic distributed synthetic
    * records — 10-hex-char keys from the portable hash — validated by
    * count + xor checksum (TeraValidate-style invariant).
    */
  val q49TeraGen = Q.checked(
    "q49_teragen",
    """WITH g AS (
      |  SELECT substring(md5(CAST(i AS VARCHAR)), 1, 10) AS key
      |  FROM range(0, 100000) t(i)
      |)
      |SELECT count(*) AS n,
      |       bit_xor(('0x' || substring(md5(key), 1, 8))::BIGINT) AS xor_hash,
      |       min(key) AS min_key, max(key) AS max_key
      |FROM g""") { (s, dir) =>
    val g = s.range(0, 100000)
      .select(substring(md5(col("id").cast("string")), 1, 10).as("key"))
    g.agg(count(lit(1)).as("n"),
      expr("bit_xor(cast(conv(substring(md5(key), 1, 8), 16, 10) as bigint))").as("xor_hash"),
      min(col("key")).as("min_key"), max(col("key")).as("max_key"))
  }

  /** JDBC sink + source (`DBOutputFormat` / `DBInputFormat`) =
    * DBCountPageView (`DBCountPageView.java:268-365`): aggregate pageview
    * counts → write to an embedded Derby table → partitioned JDBC read
    * back. The oracle sees only the original parquet, so equality proves
    * the DB round trip lost nothing.
    */
  val q54Jdbc = Q.checked(
    "q54_jdbc",
    """SELECT event_type AS url, count(*) AS views
      |FROM events GROUP BY event_type""") { (s, dir) =>
    // keep Derby's home (and derby.log) out of the working directory, and
    // the database itself under the per-run scratch: embedded Derby locks
    // a db dir to ONE JVM, so a shared path fails any concurrent run
    System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))
    val url = s"jdbc:derby:${graft.core.Graft.scratch("derby")};create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    table(s, dir, "events")
      .groupBy(col("event_type").as("url"))
      .agg(count(lit(1)).as("views"))
      .write.mode("overwrite").jdbc(url, "pageviews", props)
    s.read.jdbc(url, "pageviews",
        columnName = "views", lowerBound = 0L, upperBound = 1L << 20,
        numPartitions = 4, connectionProperties = props)
      .select(col("url"), col("views"))
  }

  /** JDBC source over a VARCHAR key (`TextSplitter.java:220`): q54 can only
    * split-scan a numeric column — a legacy table whose ONLY key is a
    * string was unsplittable. Here the pageview table is keyed by its url:
    * the splitter asks the DB for MIN/MAX (the reference's bounding-vals
    * query, `DataDrivenDBInputFormat.java:91`), interpolates VARCHAR split
    * points, and the scan runs one partition per WHERE fragment. The query
    * fails loudly if the plan does not carry >1 partition, so the split
    * path is asserted on every run; the oracle (reading only the original
    * parquet) proves the partitioned ranges cover every row exactly once.
    */
  val q54bJdbcTextSplit = Q.checked(
    "q54b_jdbc_text_split",
    """SELECT event_type AS url, count(*) AS views
      |FROM events GROUP BY event_type""") { (s, dir) =>
    import graft.operators.JdbcSplitters
    System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))
    val url = s"jdbc:derby:${graft.core.Graft.scratch("derby54b")};create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    table(s, dir, "events")
      .groupBy(col("event_type").as("url"))
      .agg(count(lit(1)).as("views"))
      .write.mode("overwrite")
      // Derby maps StringType to CLOB, which MIN/MAX (the splitter's
      // bounding query) cannot aggregate — pin a real VARCHAR key
      .option("createTableColumnTypes", "url VARCHAR(255)")
      .jdbc(url, "pageviews_text", props)
    // Spark's Derby dialect CREATEs quoted (case-sensitive) identifiers,
    // so the raw bounding query and the predicate fragments must quote too
    val conn = java.sql.DriverManager.getConnection(url)
    val (lo, hi) =
      try {
        val rs = conn.createStatement()
          .executeQuery("""SELECT MIN("url"), MAX("url") FROM pageviews_text""")
        rs.next()
        (rs.getString(1), rs.getString(2))
      } finally conn.close()
    val out = s.read
      .jdbc(url, "pageviews_text",
        JdbcSplitters.textPredicates("\"url\"", lo, hi, 4), props)
      .select(col("url"), col("views"))
    require(out.rdd.getNumPartitions > 1,
      s"q54b: expected a split VARCHAR scan, got ${out.rdd.getNumPartitions} partition(s)")
    out
  }

  /** JDBC source over a TIMESTAMP key (`DateSplitter.java:177`): the date
    * sibling of q54b — daily rollups land in Derby keyed by a real
    * TIMESTAMP column, the splitter bounds it with MIN/MAX, strides the
    * epoch evenly, and renders Derby `TIMESTAMP('...')` literals into one
    * WHERE fragment per partition. Output crosses the engine boundary as
    * epoch micros (never a raw TIMESTAMP column, per the repo convention);
    * both JVM-side Derby writes and reads use the same UTC session, so
    * the round trip is symmetric.
    */
  val q54cJdbcDateSplit = Q.checked(
    "q54c_jdbc_date_split",
    """SELECT epoch_us(date_trunc('day', ts)) AS day_us, count(*) AS n
      |FROM events GROUP BY 1""") { (s, dir) =>
    import graft.operators.JdbcSplitters
    System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))
    val url = s"jdbc:derby:${graft.core.Graft.scratch("derby54c")};create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val ev = table(s, dir, "events")
    ev
      .groupBy(date_trunc("DAY",
        timestamp_micros(graft.core.Graft.tsUs(ev))).as("day"))
      .agg(count(lit(1)).as("n"))
      .write.mode("overwrite").jdbc(url, "daily_counts", props)
    val conn = java.sql.DriverManager.getConnection(url)
    val (lo, hi) =
      try {
        val rs = conn.createStatement()
          .executeQuery("""SELECT MIN("day"), MAX("day") FROM daily_counts""")
        rs.next()
        (rs.getTimestamp(1).getTime, rs.getTimestamp(2).getTime)
      } finally conn.close()
    // boundary strings must ORDER like their epoch millis; a DST fold in
    // the JVM default zone would break that monotonicity (wall clocks
    // repeat), and the zone must match the one Spark's JDBC writer used
    // for the stored wall-clock values — so demand a DST-free default
    // zone loudly instead of mis-partitioning quietly
    require(!java.util.TimeZone.getDefault.useDaylightTime,
      s"q54c needs a DST-free JVM zone (got ${java.util.TimeZone.getDefault.getID}); run with -Duser.timezone=UTC")
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    val render = (ms: Long) => s"TIMESTAMP('${fmt.format(new java.util.Date(ms))}')"
    val out = s.read
      .jdbc(url, "daily_counts",
        JdbcSplitters.datePredicates("\"day\"", lo, hi, 4, render), props)
      .select(unix_micros(col("day")).as("day_us"), col("n"))
    require(out.rdd.getNumPartitions > 1,
      s"q54c: expected a split TIMESTAMP scan, got ${out.rdd.getNumPartitions} partition(s)")
    out
  }

  /** JDBC source over a DOUBLE key (`FloatSplitter.java:46`): the
    * floating-point sibling of q54b/q54c — the pageview rollup lands in
    * Derby with a derived DOUBLE score column, the splitter bounds it
    * with MIN/MAX, strides the value range evenly (reference minimum
    * increment for degenerate ranges), and the scan runs one partition
    * per WHERE fragment. The oracle recomputes the same rollup + score
    * from the original parquet, so a green row proves the float ranges
    * cover every row exactly once (the reference's own last-split gap —
    * see [[graft.operators.JdbcSplitters.floatPredicates]] — would drop
    * rows here and fail the hash).
    */
  val q54dJdbcFloatSplit = Q.checked(
    "q54d_jdbc_float_split",
    """SELECT event_type AS url, count(*) AS views,
      |  CAST(count(*) AS DOUBLE) / 1000 AS score
      |FROM events GROUP BY event_type""") { (s, dir) =>
    import graft.operators.JdbcSplitters
    System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))
    val url = s"jdbc:derby:${graft.core.Graft.scratch("derby54d")};create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    table(s, dir, "events")
      .groupBy(col("event_type").as("url"))
      .agg(count(lit(1)).as("views"),
        (count(lit(1)).cast("double") / 1000).as("score"))
      .write.mode("overwrite").jdbc(url, "pageviews_float", props)
    val conn = java.sql.DriverManager.getConnection(url)
    val (lo, hi) =
      try {
        val rs = conn.createStatement()
          .executeQuery("""SELECT MIN("score"), MAX("score") FROM pageviews_float""")
        rs.next()
        (rs.getDouble(1), rs.getDouble(2))
      } finally conn.close()
    val out = s.read
      .jdbc(url, "pageviews_float",
        JdbcSplitters.floatPredicates("\"score\"", lo, hi, 4), props)
      .select(col("url"), col("views"), col("score"))
    require(out.rdd.getNumPartitions > 1,
      s"q54d: expected a split DOUBLE scan, got ${out.rdd.getNumPartitions} partition(s)")
    out
  }

  /** JDBC source over a BOOLEAN key (`BooleanSplitter.java:40`): the
    * smallest key domain the reference can split — at most one `= FALSE`
    * and one `= TRUE` fragment (NULLs folded into the first). Derby
    * hosts a real BOOLEAN column; the oracle recomputes the flag from
    * the parquet rollup, so parity proves the two value fragments
    * partition the table exactly.
    */
  val q54eJdbcBoolSplit = Q.checked(
    "q54e_jdbc_bool_split",
    """SELECT event_type AS url, count(*) AS views,
      |  (count(*) % 2 = 0) AS even_views
      |FROM events GROUP BY event_type""") { (s, dir) =>
    import graft.operators.JdbcSplitters
    System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))
    val url = s"jdbc:derby:${graft.core.Graft.scratch("derby54e")};create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    table(s, dir, "events")
      .groupBy(col("event_type").as("url"))
      .agg(count(lit(1)).as("views"),
        (count(lit(1)) % 2 === 0).as("even_views"))
      .write.mode("overwrite").jdbc(url, "pageviews_bool", props)
    val conn = java.sql.DriverManager.getConnection(url)
    val (lo, hi) =
      try {
        val rs = conn.createStatement()
          .executeQuery("""SELECT MIN("even_views"), MAX("even_views") FROM pageviews_bool""")
        rs.next()
        (rs.getBoolean(1), rs.getBoolean(2))
      } finally conn.close()
    val out = s.read
      .jdbc(url, "pageviews_bool",
        JdbcSplitters.booleanPredicates("\"even_views\"", lo, hi), props)
      .select(col("url"), col("views"), col("even_views"))
    require(out.rdd.getNumPartitions >= 1,
      s"q54e: expected >= 1 boolean fragment, got ${out.rdd.getNumPartitions}")
    out
  }

  /** Multimodal binary pipeline: payload as BinaryType + typed metadata,
    * stride frame-sampling as pure binary slicing, and the deterministic
    * decode stub (real codec call goes there; the plumbing is real).
    */
  val q55Multimodal = Q.checked(
    "q55_multimodal",
    """SELECT doc_id,
      |  octet_length(encode(text)) AS n_bytes,
      |  lower(hex(encode(substr(text, 1, 4)))) AS head_hex,
      |  array_to_string(list_transform(generate_series(0, least((octet_length(encode(text)) - 1) // 32, 3)),
      |                 i -> lower(hex(encode(substr(text, i * 32 + 1, 4))))), ',') AS frames,
      |  ('0x' || substring(md5(lower(hex(encode(text)))), 1, 8))::BIGINT AS feature
      |FROM documents""") { (s, dir) =>
    val withBin = Multimodal.attachBinary(
      table(s, dir, "documents"), encode(col("text"), "UTF-8"))
    withBin.select(
      col("doc_id"),
      col("meta.n_bytes").cast("long").as("n_bytes"),
      col("meta.head_hex").as("head_hex"),
      // string-joined: array-column stringification differs across the
      // compare harness's dataframe libraries
      array_join(Multimodal.frameSample(col("bin"), 32, 4, 4), ",").as("frames"),
      Multimodal.decodeStub(col("bin")).as("feature"))
  }

  /** REAL multimodal decode, end-to-end: deterministic 16-bit PCM
    * waveforms are synthesized per document, encoded as RIFF/WAVE files
    * (real 44-byte headers + chunks), and run through the per-partition
    * decode pipeline whose parser ([[Multimodal.wavDecode]]) walks the chunks
    * and decodes the samples — no codec library, PCM is just bytes. The
    * oracle recomputes the audio features (count, peak, energy) from the
    * generation FORMULA without ever seeing a byte, so a green row proves
    * decode(encode(x)) recovered exactly the waveform x. Compressed
    * codecs remain behind `decodeStub` (no libs in this environment);
    * this pins the decode PIPELINE — partitioning, schema, feature shape —
    * with a real decoder in the slot.
    */
  val q55bWavDecode = Q.checked(
    "q55b_wav_decode",
    """WITH g AS (
      |  SELECT doc_id, 50 + doc_id % 20 AS n FROM documents),
      |s AS (
      |  SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS k FROM g),
      |v AS (
      |  SELECT doc_id, n, (doc_id * 31 + k * 7) % 2001 - 1000 AS x FROM s)
      |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
      |  CAST(1 AS BIGINT) AS channels, CAST(max(n) AS BIGINT) AS n_samples,
      |  CAST(max(abs(x)) AS BIGINT) AS peak, CAST(sum(x * x) AS BIGINT) AS sum_sq
      |FROM v GROUP BY doc_id""") { (s, dir) =>
    import s.implicits._
    val gen = table(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val n = (50 + id % 20).toInt
        val samples = Array.tabulate(n)(k =>
          ((id * 31 + k * 7) % 2001 - 1000).toShort)
        (id, Multimodal.wavEncode(samples, 8000))
      })
      .toDF("id", "bin")
    Multimodal.decodeWavBatched(gen)
      .select(col("id").as("doc_id"), col("sample_rate"), col("channels"),
        col("n_samples"), col("peak"), col("sum_sq"))
  }

  /** REAL image decode + resize, end-to-end (the BMP sibling of q55b):
    * deterministic small RGB images are synthesized per document, encoded
    * as standard 24-bit BMPs (file+info headers, bottom-up padded rows),
    * decoded by the real parser, RESIZED with integer nearest-neighbor,
    * and reduced to channel sums. The oracle replays the pixel formula
    * through the same integer index math (`sx = tx·w/4`) without seeing a
    * byte — green proves decode and resize both recovered the exact
    * pixels. (PNG gets the same treatment in q55d; JPEG stays behind the
    * stub — Huffman+DCT needs a codec lib this environment lacks.)
    */
  val q55cBmpResize = Q.checked(
    "q55c_bmp_resize",
    """WITH g AS (
      |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents),
      |px AS (
      |  SELECT doc_id, w, h,
      |    (doc_id + 3 * ((tx * w) // 4) + 7 * ((ty * h) // 3)) % 256 AS r,
      |    (doc_id * 2 + 5 * ((tx * w) // 4) + (ty * h) // 3) % 256 AS gr,
      |    (((tx * w) // 4) * ((ty * h) // 3) + doc_id) % 256 AS b
      |  FROM g, generate_series(0, 3) AS s1(tx), generate_series(0, 2) AS s2(ty))
      |SELECT doc_id,
      |  CAST(max(w) AS BIGINT) AS width, CAST(max(h) AS BIGINT) AS height,
      |  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(gr) AS BIGINT) AS sum_g,
      |  CAST(sum(b) AS BIGINT) AS sum_b
      |FROM px GROUP BY doc_id""") { (s, dir) =>
    import s.implicits._
    val gen = table(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = (4 + id % 5).toInt
        val h = (3 + id % 4).toInt
        val px = Array.tabulate(w * h) { i =>
          val x = i % w
          val y = i / w
          val r = ((id + 3 * x + 7 * y) % 256).toInt
          val g = ((id * 2 + 5 * x + y) % 256).toInt
          val b = ((x.toLong * y + id) % 256).toInt
          (r << 16) | (g << 8) | b
        }
        (id, Multimodal.bmpEncode(Multimodal.BmpImage(w, h, px)))
      })
      .toDF("id", "bin")
    Multimodal.decodeBmpResizeBatched(gen, ow = 4, oh = 3)
      .withColumnRenamed("id", "doc_id")
  }

  /** REAL entropy-coded image decode, end-to-end (closes the compressed-
    * codec boundary q55c left open): deterministic RGB images are encoded
    * as standard PNGs — filtered scanlines (the encoder cycles all five
    * filter types), zlib DEFLATE, CRC-32 chunks — then decoded by
    * [[Multimodal.pngDecode]] (JDK `Inflater` + un-filtering, no image
    * library), resized, and reduced to channel sums. The oracle replays
    * the pixel formula through the same integer index math without seeing
    * a byte: green proves inflate + un-filter (incl. Paeth) recovered the
    * exact pixels. JPEG remains the one documented stub (no JDK
    * primitive for Huffman+DCT).
    */
  val q55dPngDecode = Q.checked(
    "q55d_png_decode",
    """WITH g AS (
      |  SELECT doc_id, 5 + doc_id % 4 AS w, 4 + doc_id % 6 AS h FROM documents),
      |px AS (
      |  SELECT doc_id, w, h,
      |    (doc_id * 3 + 11 * ((tx * w) // 4) + 5 * ((ty * h) // 3)) % 256 AS r,
      |    (doc_id + ((tx * w) // 4) * ((ty * h) // 3)) % 256 AS gr,
      |    (doc_id * 7 + 2 * ((tx * w) // 4) + 13 * ((ty * h) // 3)) % 256 AS b
      |  FROM g, generate_series(0, 3) AS s1(tx), generate_series(0, 2) AS s2(ty))
      |SELECT doc_id,
      |  CAST(max(w) AS BIGINT) AS width, CAST(max(h) AS BIGINT) AS height,
      |  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(gr) AS BIGINT) AS sum_g,
      |  CAST(sum(b) AS BIGINT) AS sum_b
      |FROM px GROUP BY doc_id""") { (s, dir) =>
    import s.implicits._
    val gen = table(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        // h up to 9 rows so the row%5 filter cycle exercises every filter
        // type, including a second visit of None/Sub/Up/Average
        val w = (5 + id % 4).toInt
        val h = (4 + id % 6).toInt
        val px = Array.tabulate(w * h) { i =>
          val x = i % w
          val y = i / w
          val r = ((id * 3 + 11 * x + 5 * y) % 256).toInt
          val g = ((id + x.toLong * y) % 256).toInt
          val b = ((id * 7 + 2 * x + 13 * y) % 256).toInt
          (r << 16) | (g << 8) | b
        }
        (id, Multimodal.pngEncode(Multimodal.BmpImage(w, h, px)))
      })
      .toDF("id", "bin")
    Multimodal.decodePngResizeBatched(gen, ow = 4, oh = 3)
      .withColumnRenamed("id", "doc_id")
  }

  /** REAL entropy-coded JPEG decode, end-to-end (closes the LAST
    * multimodal stub): deterministic grayscale images — constant within
    * each 8×8 block region — are encoded as baseline JFIF
    * ([[graft.operators.Jpeg]]: FDCT, all-ones quant, Annex-K Huffman,
    * byte stuffing) and decoded back (tables read from the stream, IDCT).
    * Block-constant images carry only DC coefficients, which are
    * integer-exact through the whole pipeline, so the oracle can replay
    * the pixel formula without seeing a byte and demand BIT-exact
    * features; arbitrary-image round-trips (AC/run-length/ZRL paths) are
    * pinned within ±1/sample by JpegSpec, where lossy-codec exactness
    * genuinely can't hold. Odd, non-multiple-of-8 dimensions exercise
    * edge-replication padding and decode-side cropping.
    */
  val q55eJpegDecode = Q.checked(
    "q55e_jpeg_decode",
    """WITH g AS (
      |  SELECT doc_id, 10 + doc_id % 9 AS w, 9 + doc_id % 7 AS h FROM documents),
      |i AS (
      |  SELECT doc_id, w, h, unnest(generate_series(0, CAST(w * h AS INT) - 1)) AS i FROM g),
      |px AS (
      |  SELECT doc_id, w, h,
      |    (doc_id * 7 + ((i % w) // 8) * 3 + ((i // w) // 8) * 5) % 256 AS lum
      |  FROM i)
      |SELECT doc_id,
      |  CAST(max(w) AS BIGINT) AS width, CAST(max(h) AS BIGINT) AS height,
      |  CAST(sum(lum) AS BIGINT) AS sum_lum,
      |  CAST(min(lum) AS BIGINT) AS min_lum, CAST(max(lum) AS BIGINT) AS max_lum
      |FROM px GROUP BY doc_id""") { (s, dir) =>
    import s.implicits._
    import graft.operators.Jpeg
    val gen = table(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = (10 + id % 9).toInt
        val h = (9 + id % 7).toInt
        val px = Array.tabulate(w * h) { i =>
          val x = i % w
          val y = i / w
          ((id * 7 + (x / 8) * 3 + (y / 8) * 5) % 256).toInt
        }
        (id, Jpeg.encode(Jpeg.GrayImage(w, h, px)))
      })
      .toDF("id", "bin")
    Multimodal.decodeJpegBatched(gen)
      .withColumnRenamed("id", "doc_id")
  }

  /** REAL video container decode + FRAME SAMPLING (the video member of
    * the q55 multimodal family): per document, a deterministic MJPEG
    * clip — 3–6 block-constant grayscale frames whose per-frame formula
    * depends on the frame index — is encoded as a standards-shaped AVI
    * ([[graft.operators.Avi]]: RIFF hdrl/avih/strl/movi/idx1, real JPEG
    * frames via [[graft.operators.Jpeg]]) and run through the
    * decode+sample pipeline, keeping every 2nd frame. Sampling happens
    * at the CONTAINER level, so skipped frames are never entropy-decoded
    * — the curation shape for frame-sampling petabytes of video. The
    * oracle replays the pixel formula over the SAMPLED indices only
    * (f % 2 = 0) without seeing a byte: a green row proves the container
    * round trip, the frame count, WHICH frames sampling kept, and the
    * bit-exact DC-path JPEG decode of each kept frame. Inter-frame
    * codecs (H.264/Opus) remain the documented external-lib stub; this
    * pins the container walk + indexing + sampling layers they'd slot
    * into.
    */
  val q55fAviFrames = Q.checked(
    "q55f_avi_frames",
    """WITH g AS (
      |  SELECT doc_id, 3 + doc_id % 4 AS nf, 10 + doc_id % 9 AS w, 9 + doc_id % 7 AS h
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, nf, w, h, unnest(generate_series(0, CAST(nf AS INT) - 1)) AS f FROM g),
      |sf AS (SELECT * FROM f WHERE f % 2 = 0),
      |i AS (
      |  SELECT doc_id, nf, w, h, f, unnest(generate_series(0, CAST(w * h AS INT) - 1)) AS i FROM sf),
      |px AS (
      |  SELECT doc_id, nf, w, h, f,
      |    (doc_id * 7 + f * 11 + ((i % w) // 8) * 3 + ((i // w) // 8) * 5) % 256 AS lum
      |  FROM i)
      |SELECT doc_id,
      |  CAST(max(w) AS BIGINT) AS width, CAST(max(h) AS BIGINT) AS height,
      |  CAST(40000 AS BIGINT) AS usec_per_frame,
      |  CAST(max(nf) AS BIGINT) AS n_frames,
      |  CAST(count(DISTINCT f) AS BIGINT) AS n_sampled,
      |  CAST(sum(lum) AS BIGINT) AS sum_lum,
      |  CAST(min(lum) AS BIGINT) AS min_lum, CAST(max(lum) AS BIGINT) AS max_lum
      |FROM px GROUP BY doc_id""") { (s, dir) =>
    import s.implicits._
    import graft.operators.{Avi, Jpeg}
    val gen = table(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val nf = (3 + id % 4).toInt
        val w = (10 + id % 9).toInt
        val h = (9 + id % 7).toInt
        val frames = (0 until nf).map { f =>
          val px = Array.tabulate(w * h) { i =>
            val x = i % w
            val y = i / w
            ((id * 7 + f * 11 + (x / 8) * 3 + (y / 8) * 5) % 256).toInt
          }
          Jpeg.encode(Jpeg.GrayImage(w, h, px))
        }
        (id, Avi.encode(w, h, usecPerFrame = 40000, frames))
      })
      .toDF("id", "bin")
    Multimodal.decodeAviSampleBatched(gen, stride = 2)
      .withColumnRenamed("id", "doc_id")
  }

  /** AV container decode — q55f's MJPEG clip plus a PCM AUDIO track in
    * the same AVI ('auds' strl + '01wb' movi chunk, [[graft.operators.Avi]]),
    * completing the container surface: the two independently-proven
    * codecs (q55e JPEG frames, q55b PCM samples) composed through ONE
    * container walk, frame sampling still at the container level. The
    * oracle replays both generation formulas — sampled-frame luminance
    * AND per-sample audio (count, peak, energy Σx²) — without seeing a
    * byte, so a green row proves the two-stream round trip: stream
    * headers, interleaved movi chunks, idx1, sample-exact PCM, bit-exact
    * DC-path JPEG. (H.264/Opus remain the documented external-lib stub;
    * this is the layer they would slot into.)
    */
  val q55gAviAudio = Q.checked(
    "q55g_avi_audio",
    """WITH g AS (
      |  SELECT doc_id, 3 + doc_id % 4 AS nf, 10 + doc_id % 9 AS w, 9 + doc_id % 7 AS h,
      |         40 + doc_id % 30 AS na
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, nf, w, h, unnest(generate_series(0, CAST(nf AS INT) - 1)) AS f FROM g),
      |sf AS (SELECT * FROM f WHERE f % 2 = 0),
      |i AS (
      |  SELECT doc_id, w, h, f, unnest(generate_series(0, CAST(w * h AS INT) - 1)) AS i FROM sf),
      |vpx AS (
      |  SELECT doc_id,
      |    CAST(sum((doc_id * 7 + f * 11 + ((i % w) // 8) * 3 + ((i // w) // 8) * 5) % 256) AS BIGINT) AS sum_lum,
      |    CAST(count(DISTINCT f) AS BIGINT) AS n_sampled
      |  FROM i GROUP BY doc_id),
      |ak AS (
      |  SELECT doc_id, na, unnest(generate_series(0, CAST(na AS INT) - 1)) AS k FROM g),
      |av AS (SELECT doc_id, na, (doc_id * 13 + k * 17) % 2001 - 1000 AS x FROM ak),
      |aa AS (
      |  SELECT doc_id, CAST(max(na) AS BIGINT) AS n_samples,
      |    CAST(max(abs(x)) AS BIGINT) AS peak, CAST(sum(x * x) AS BIGINT) AS sum_sq
      |  FROM av GROUP BY doc_id)
      |SELECT g.doc_id,
      |  CAST(g.w AS BIGINT) AS width, CAST(g.h AS BIGINT) AS height,
      |  CAST(g.nf AS BIGINT) AS n_frames,
      |  vpx.n_sampled, vpx.sum_lum,
      |  CAST(16000 AS BIGINT) AS sample_rate,
      |  aa.n_samples, aa.peak, aa.sum_sq
      |FROM g JOIN vpx ON vpx.doc_id = g.doc_id JOIN aa ON aa.doc_id = g.doc_id""") { (s, dir) =>
    import s.implicits._
    import graft.operators.{Avi, Jpeg}
    val gen = table(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val nf = (3 + id % 4).toInt
        val w = (10 + id % 9).toInt
        val h = (9 + id % 7).toInt
        val frames = (0 until nf).map { f =>
          val px = Array.tabulate(w * h) { i =>
            val x = i % w
            val y = i / w
            ((id * 7 + f * 11 + (x / 8) * 3 + (y / 8) * 5) % 256).toInt
          }
          Jpeg.encode(Jpeg.GrayImage(w, h, px))
        }
        val na = (40 + id % 30).toInt
        val samples = Array.tabulate(na)(k =>
          ((id * 13 + k * 17) % 2001 - 1000).toShort)
        (id, Avi.encode(w, h, usecPerFrame = 40000, frames,
          audio = Some((16000, samples))))
      })
      .toDF("id", "bin")
    Multimodal.decodeAviAvBatched(gen, stride = 2)
      .withColumnRenamed("id", "doc_id")
  }

  /** Pipe operator (`PipeMapRed.java:204-214`): fork `tr a-z A-Z` per
    * partition, stream `key \t value` lines through it, parse back on the
    * first separator.
    */
  val q90Pipe = Q.checked(
    "q90_pipe",
    """SELECT upper(n_name) AS key, CAST(n_nationkey AS VARCHAR) AS value
      |FROM nation""") { (s, dir) =>
    val kv = table(s, dir, "nation")
      .select(col("n_name").as("key"), col("n_nationkey").cast("string").as("value"))
    Pipe.pipeKV(s, kv, "/usr/bin/tr a-z A-Z")
  }

  /** XML-delimited record scanner (`StreamXmlRecordReader`): records
    * delimited by begin/end tags, fields re-extracted — synthesized XML
    * round trip.
    */
  val q91Xml = Q.checked(
    "q91_xml",
    """WITH xml AS (
      |  SELECT '<rec><name>' || n_name || '</name><key>' || CAST(n_nationkey AS VARCHAR) || '</key></rec>' AS x
      |  FROM nation
      |)
      |SELECT regexp_extract(x, '<name>([^<]*)</name>', 1) AS name,
      |       CAST(regexp_extract(x, '<key>([0-9]+)</key>', 1) AS BIGINT) AS key
      |FROM xml""") { (s, dir) =>
    val xml = table(s, dir, "nation")
      .select(concat(lit("<rec><name>"), col("n_name"), lit("</name><key>"),
        col("n_nationkey").cast("string"), lit("</key></rec>")).as("x"))
    xml.select(
      regexp_extract(col("x"), "<name>([^<]*)</name>", 1).as("name"),
      regexp_extract(col("x"), "<key>([0-9]+)</key>", 1).cast("long").as("key"))
  }

  /** Raw-file XML record scanner (`StreamXmlRecordReader.java:301`): the
    * fixture is REAL files of MULTI-LINE `<rec>…</rec>` records (written
    * un-coalesced — several files, records crossing line and buffer
    * boundaries), re-scanned by begin/end pattern and field-extracted.
    * Completes q91, whose XML lived in a synthesized column.
    */
  val q91bXmlFile = Q.checked(
    "q91b_xml_file",
    """SELECT n_name AS name, n_nationkey AS key FROM nation""") { (s, dir) =>
    import graft.sources.XmlScan
    val out = tmp("xmlfile")
    table(s, dir, "nation")
      .select(concat(
        lit("<rec>\n  <name>"), col("n_name"),
        lit("</name>\n  <key>"), col("n_nationkey").cast("string"),
        lit("</key>\n</rec>")).as("value"))
      .write.mode("overwrite").text(out)
    XmlScan.records(s, out, "<rec>", "</rec>")
      .select(
        regexp_extract(col("record"), "<name>([^<]*)</name>", 1).as("name"),
        regexp_extract(col("record"), "<key>([0-9]+)</key>", 1)
          .cast("long").as("key"))
  }

  /** Gridmix "3-stage pipeline" job family (SURVEY §6,
    * `src/benchmarks/gridmix/README`): filter-map stage → shuffle
    * aggregation stage → bounded global-sort stage, as one declarative
    * plan (Catalyst pipelines what the reference ran as three jobs with
    * HDFS round trips between them).
    */
  val q39ThreeStage = Q.checked(
    "q39_three_stage",
    """SELECT user_id, n, total, rank FROM (
      |  SELECT user_id, n, total,
      |         row_number() OVER (ORDER BY total DESC, user_id) AS rank
      |  FROM (
      |    SELECT user_id, count(*) AS n,
      |           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
      |    FROM events
      |    WHERE event_type IN ('click', 'purchase') AND value > 10
      |    GROUP BY user_id
      |  )
      |) WHERE rank <= 50""") { (s, dir) =>
    import org.apache.spark.sql.types.DecimalType
    table(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase") && col("value") > 10)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast(DecimalType(18, 4))), 2).cast("double").as("total"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("total").desc, col("user_id"))))
      .filter(col("rank") <= 50)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Gridmix "reference select" family (`src/benchmarks/gridmix/README`
    * job 3: keep 0.2% map-side, 5% reduce-side, single reducer):
    * deterministic hash sample → aggregate → bounded top output. The
    * md5-hash sample replaces the reference's random keep so any engine
    * reproduces the exact row set.
    */
  val q63ReferenceSelect = Q.checked(
    "q63_reference_select",
    """WITH sampled AS (
      |  SELECT l_suppkey, l_quantity FROM lineitem
      |  WHERE ('0x' || substring(md5(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)), 1, 8))::BIGINT % 500 = 0
      |), agg AS (
      |  SELECT l_suppkey, count(*) AS n,
      |         CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS qty
      |  FROM sampled GROUP BY l_suppkey
      |)
      |SELECT l_suppkey, n, qty, rank FROM (
      |  SELECT l_suppkey, n, qty,
      |         row_number() OVER (ORDER BY qty DESC, l_suppkey) AS rank
      |  FROM agg
      |) WHERE rank <= 20""") { (s, dir) =>
    import org.apache.spark.sql.types.DecimalType
    table(s, dir, "lineitem")
      .filter(Hashing.hash32(col("l_orderkey") * 10 + col("l_linenumber")) % 500 === 0)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity").cast(DecimalType(18, 4))), 2).cast("double").as("qty"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("qty").desc, col("l_suppkey"))))
      .filter(col("rank") <= 20)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** TeraSort-proper (`TeraGen.java:50-53` / TeraSort / TeraValidate):
    * 1M 100-byte records — 10-byte BINARY key, 10-byte right-justified
    * rowid, 78-byte filler — globally sorted on the binary key with the
    * full record riding the shuffle, validated by TeraValidate's
    * invariants. Fixed-size (not sf-scaled) so the BENCH row is a
    * round-over-round sort-throughput number; the oracle replays the
    * deterministic generation and checksums (sortedness itself is the
    * Spark-side validator — DuckDB can't observe our partition order).
    */
  val q65TeraSort = Q.checked(
    "q65_terasort",
    """WITH g AS (
      |  SELECT substring(md5(CAST(i AS VARCHAR)), 1, 20) AS kh,
      |         lpad(CAST(i AS VARCHAR), 10, '0') AS rid
      |  FROM range(0, 1000000) t(i)
      |)
      |SELECT count(*) AS total_rows,
      |       bit_xor(('0x' || substring(md5(kh || rid), 1, 8))::BIGINT) AS xor_hash,
      |       TRUE AS is_sorted,
      |       min(kh) AS min_key, max(kh) AS max_key,
      |       CAST(sum(length(rid) + 78) AS BIGINT) AS value_chars
      |FROM g""") { (s, dir) =>
    import graft.operators.SortValidate
    val filler = ('A' to 'Z').take(8).map(c => c.toString * 10).mkString.take(78)
    val g = s.range(0, 1000000L).select(
      substring(md5(col("id").cast("string")), 1, 20).as("kh"),
      lpad(col("id").cast("string"), 10, "0").as("rid"))
    SortValidate.teraSortValidate(
      s, g,
      keyBin = unhex(col("kh")),
      value = concat(col("rid"), lit(filler)),
      recHash = Hashing.hash32(concat(col("kh"), col("rid"))))
  }

  private val IndirectIters = 10

  private def indirectOracle: String = {
    val keep = (i: Int) =>
      s"('0x'||substring(md5(line||':$i'),1,8))::BIGINT % 2 = 0"
    val ctes = new StringBuilder(
      "WITH base AS (SELECT CAST(l_orderkey * 10 + l_linenumber AS VARCHAR) AS line FROM lineitem),\n" +
        s"out1 AS (SELECT line FROM base WHERE ${keep(1)})")
    for (i <- 2 to IndirectIters) {
      ctes ++= s""",
        |in$i AS (SELECT line FROM base UNION ALL SELECT line FROM out${i - 1}),
        |out$i AS (SELECT line FROM in$i WHERE ${keep(i)})""".stripMargin
    }
    s"""$ctes
       |SELECT count(*) AS n,
       |       bit_xor(('0x'||substring(md5(line),1,8))::BIGINT) AS xor_hash,
       |       min(line) AS min_line, max(line) AS max_line
       |FROM out$IndirectIters""".stripMargin
  }

  /** Gridmix "indirect read" family (`src/benchmarks/gridmix/README` job 4:
    * keep 50% map, 100% reduce, 10 iterations, "input data is all
    * indirect"): each iteration's input is an explicit FILE LIST built by
    * the client — original files plus the previous iteration's output
    * files — handed to the scan without locality metadata, exactly the
    * reference's `IndirectInputFormat` + client-side src-list builder
    * (`GenericMRLoadGenerator.java:136-170`). The 50% keep is the portable
    * hash, re-seeded per iteration, so the oracle replays all 10 rounds.
    */
  val q64IndirectRead = Q.checked("q64_indirect_read", indirectOracle) { (s, dir) =>
    import org.apache.hadoop.fs.Path
    val base = tmp("indirect-base")
    table(s, dir, "lineitem")
      .select((col("l_orderkey") * 10 + col("l_linenumber"))
        .cast("string").as("value"))
      .write.mode("overwrite").text(base)
    // the "indirect" part: inputs are enumerated file paths (data, not a
    // directory scan) — same client-side manifest the reference builds
    def files(d: String): Seq[String] = {
      val p = new Path(d)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(p)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        .map(_.getPath.toString).toSeq
    }
    val baseFiles = files(base)
    var inputs = baseFiles
    for (i <- 1 to IndirectIters) {
      val out = tmp(s"indirect-$i")
      s.read.text(inputs: _*)
        .filter(Hashing.hash32(concat(col("value"), lit(s":$i"))) % 2 === 0)
        .write.mode("overwrite").text(out)
      inputs = baseFiles ++ files(out)
    }
    s.read.text(files(tmp(s"indirect-$IndirectIters")): _*)
      .agg(count(lit(1)).as("n"),
        expr("bit_xor(cast(conv(substring(md5(value),1,8),16,10) as bigint))")
          .as("xor_hash"),
        min(col("value")).as("min_line"), max(col("value")).as("max_line"))
  }

  /** JSON column extraction: events.props is a JSON string; pull `$.k`
    * per row (codegen'd path scan, no UDF) and roll up per event type,
    * counting missing-path rows to pin the NULL-for-absent semantics both
    * engines share. All outputs integral — the extract→cast→sum chain is
    * exact.
    */
  val q85Json = Q.checked(
    "q85_json",
    """SELECT event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      |  count(*) FILTER (json_extract_string(props, '$.missing') IS NULL) AS n_missing
      |FROM events GROUP BY event_type""") { (s, dir) =>
    val k = get_json_object(col("props"), "$.k").cast("long")
    table(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(k).as("sum_k"), min(k).as("min_k"), max(k).as("max_k"),
        count(when(get_json_object(col("props"), "$.missing").isNull, lit(1)))
          .as("n_missing"))
  }

  /** Calendar rollup: daily event counts + distinct users via date_trunc
    * over the micros clock (UTC sessions on both engines). Day boundaries
    * compare as epoch micros — integral, no timestamp columns cross the
    * engine boundary.
    */
  val q86TimeRollup = Q.checked(
    "q86_time_rollup",
    """SELECT epoch_us(date_trunc('day', ts)) AS day_us,
      |  count(*) AS n, count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1""") { (s, dir) =>
    val ev = table(s, dir, "events")
    ev
      .select(unix_micros(date_trunc("DAY",
        timestamp_micros(graft.core.Graft.tsUs(ev)))).as("day_us"),
        col("user_id"))
      .groupBy(col("day_us"))
      .agg(count(lit(1)).as("n"), count_distinct(col("user_id")).as("n_users"))
  }

  /** Sequential event funnel — the classic product-analytics ordered
    * conversion: users who signed up, then clicked AFTER their first
    * signup, then purchased AFTER that first qualifying click
    * (first-occurrence semantics at every step, so a user converts at
    * most once per stage). Timestamps compare in epoch micros on both
    * engines ([[graft.core.Graft.tsUs]] / `epoch_us`).
    *
    * Scale shape: stage 1 is one map-side-combined conditional min per
    * user; each later stage joins the event stream back on user_id —
    * the SAME key every time, so at 100 TB these are co-partitioned
    * shuffle joins that reuse one partitioning (no broadcast needed and
    * none assumed: user cardinality is data-scale).
    */
  val q138EventFunnel = Q.checked(
    "q138_event_funnel",
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |u1 AS (
      |  SELECT user_id, min(CASE WHEN event_type = 'signup' THEN us END) AS t1
      |  FROM ev GROUP BY user_id),
      |u2 AS (
      |  SELECT e.user_id, min(e.us) AS t2
      |  FROM ev e JOIN u1 ON u1.user_id = e.user_id
      |  WHERE e.event_type = 'click' AND u1.t1 IS NOT NULL AND e.us > u1.t1
      |  GROUP BY e.user_id),
      |u3 AS (
      |  SELECT e.user_id, min(e.us) AS t3
      |  FROM ev e JOIN u2 ON u2.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.us > u2.t2
      |  GROUP BY e.user_id)
      |SELECT 1 AS stage, 'signup' AS step, CAST(count(t1) AS BIGINT) AS users FROM u1
      |UNION ALL
      |SELECT 2, 'click_after_signup', CAST(count(*) AS BIGINT) FROM u2
      |UNION ALL
      |SELECT 3, 'purchase_after_click', CAST(count(*) AS BIGINT) FROM u3""") { (s, dir) =>
    val evt = table(s, dir, "events")
    val ev = evt.select(col("user_id"), col("event_type"),
      graft.core.Graft.tsUs(evt).as("us"))
    val u1 = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("us"))).as("t1"))
    val u2 = ev.filter(col("event_type") === "click")
      .join(u1.filter(col("t1").isNotNull), "user_id")
      .filter(col("us") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
    val u3 = ev.filter(col("event_type") === "purchase")
      .join(u2, "user_id")
      .filter(col("us") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
    u1.agg(lit(1).as("stage"), lit("signup").as("step"),
        count(col("t1")).as("users"))
      .unionByName(u2.agg(lit(2).as("stage"),
        lit("click_after_signup").as("step"), count(lit(1)).as("users")))
      .unionByName(u3.agg(lit(3).as("stage"),
        lit("purchase_after_click").as("step"), count(lit(1)).as("users")))
  }

  /** Cohort retention — users grouped by first-active day, counted on
    * each subsequent day offset (the activation/retention matrix every
    * growth dashboard draws). Distinct (user, day) activity first, so
    * within-day replays never inflate a cell; day arithmetic in DATE on
    * both engines.
    *
    * Scale shape: the distinct user-day table is the one real shuffle
    * (map-side combined); cohorts derive from it by re-aggregation on
    * the same user key, and the matrix is a (cohort_day × offset)
    * aggregation — output-bounded, never event-scale.
    */
  val q139CohortRetention = Q.checked(
    "q139_cohort_retention",
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |cohort AS (SELECT user_id, min(d) AS c FROM days GROUP BY user_id)
      |SELECT CAST(cohort.c AS VARCHAR) AS cohort_day,
      |  CAST(days.d - cohort.c AS BIGINT) AS day_offset,
      |  CAST(count(*) AS BIGINT) AS users
      |FROM days JOIN cohort USING (user_id)
      |WHERE days.d - cohort.c <= 6
      |GROUP BY 1, 2""") { (s, dir) =>
    val days = table(s, dir, "events")
      .select(col("user_id"), col("ts").cast("date").as("d")).distinct()
    val cohort = days.groupBy(col("user_id")).agg(min(col("d")).as("c"))
    days.join(cohort, "user_id")
      .filter(datediff(col("d"), col("c")) <= 6)
      .groupBy(col("c").cast("string").as("cohort_day"),
        datediff(col("d"), col("c")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("users"))
  }

  /** Single-pass column profiler — the `ANALYZE TABLE`-shaped statistics
    * job every 100 TB lakehouse runs before planning anything else: per
    * column, row count, null count, exact distinct count, and min/max
    * (stringified: bigint and varchar columns only, so both engines
    * stringify identically). ONE scan computes all five columns' stats:
    * the multiple exact count-distincts compile to Catalyst's Expand
    * strategy (k+1 stream copies through one shuffle — the documented
    * cost of exactness; swap in approx_count_distinct or
    * [[graft.operators.Sketches.hllCountDistinct]] at 100 TB when ±1%
    * is acceptable), and the single result row explodes into the
    * per-column long form at the end, so nothing data-sized ever leaves
    * the aggregation.
    */
  val q132Profile = Q.checked(
    "q132_profile", {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_returnflag", "l_linestatus")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  count(*) - count($c) AS nulls,
           |  count(DISTINCT $c) AS ndv,
           |  CAST(min($c) AS VARCHAR) AS min_s,
           |  CAST(max($c) AS VARCHAR) AS max_s
           |FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n")
    }) { (s, dir) =>
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_returnflag", "l_linestatus")
    // The exact ndv pass and the min/max/count pass SPLIT (round 20):
    // fused, the multi-distinct Expand (k+1 stream copies) also carried
    // min/max(string) aggregates, whose variable-size buffers force
    // SortAggregate — a full 6-key SORT of the expanded stream. Split,
    // the Expand side is counts-only (HashAggregate, map-side partial,
    // no sort anywhere) and the min/max side is one single-group pass
    // over the un-expanded scan; the two 1-row results cross-join back.
    // Same aggregates, same values — the second scan is far cheaper
    // than sorting the expanded stream (and prunes to the same 5
    // columns).
    // SNAPSHOT ASSUMPTION: the two scans read lineitem independently, so
    // the row is consistent only while the table is immutable (true of
    // the fixtures); on mutable data ndv could come from another snapshot
    // than n_rows/nulls/min/max — profile a checkpointed base then.
    val base = table(s, dir, "lineitem").select(cols.map(col): _*)
    val mmAggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"),
      min(col(c)).cast("string").as(s"min_$c"),
      max(col(c)).cast("string").as(s"max_$c")))
    val ndvAggs = cols.map(c => count_distinct(col(c)).as(s"ndv_$c"))
    val one = base.agg(mmAggs.head, mmAggs.tail: _*)
      .crossJoin(base.agg(ndvAggs.head, ndvAggs.tail: _*))
    one.select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"),
        col("n_rows"),
        (col("n_rows") - col(s"nn_$c")).as("nulls"),
        col(s"ndv_$c").as("ndv"),
        col(s"min_$c").as("min_s"),
        col(s"max_$c").as("max_s"))): _*)).as("st"))
      .select(col("st.*"))
  }

  /** EWMA-baseline anomaly detection over daily event volumes — the
    * monitoring query every ingest pipeline runs (did today's volume
    * spike against its smoothed history?). The baseline is a dyadic
    * exponentially-weighted average of the previous 8 days (weights
    * 2⁷…2⁰, halving with age — powers of two so EVERYTHING stays exact
    * integer: numerator Σ cₖ·2^(8−k), denominator Σ 2^(8−k) over the
    * days actually present, and the 1.5× spike test cross-multiplied as
    * 2·c·den ≥ 3·num — no float EWMA recurrence, no division at all).
    * Missing days carry no weight (observation gaps are no-data, not
    * zero); a day with no history flags false by the den > 0 guard.
    *
    * Scale shape: one map-side-combined daily rollup, then each row
    * probes its 8 predecessor days by EXPLODING k = 1…8 and equi-joining
    * on (type, day − k) — linear in days × 8, never the quadratic
    * per-type self-join a BETWEEN range join would plan.
    */
  val q151EwmaAnomaly = Q.checked(
    "q151_ewma_anomaly",
    """WITH ev AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day FROM events),
      |daily AS (SELECT event_type, day, count(*) AS c FROM ev GROUP BY 1, 2),
      |ks AS (SELECT unnest(generate_series(1, 8)) AS k),
      |w AS (
      |  SELECT cur.event_type, cur.day, cur.c,
      |    CAST(COALESCE(sum(b.c * (1 << (8 - ks.k))), 0) AS BIGINT) AS num,
      |    CAST(COALESCE(sum(CASE WHEN b.c IS NOT NULL
      |      THEN 1 << (8 - ks.k) END), 0) AS BIGINT) AS den
      |  FROM daily cur CROSS JOIN ks
      |  LEFT JOIN daily b ON b.event_type = cur.event_type
      |    AND b.day = cur.day - ks.k
      |  GROUP BY 1, 2, 3)
      |SELECT event_type, day, c, num, den,
      |  den > 0 AND 2 * c * den >= 3 * num AS anomaly
      |FROM w""") { (s, dir) =>
    val evt = table(s, dir, "events")
    val daily = evt
      .select(col("event_type"),
        (graft.core.Graft.tsUs(evt).cast("long")).as("us"))
      .select(col("event_type"), expr("us div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // probed by its own 8-day history
    val probes = daily
      .select(col("event_type"), col("day"), col("c"),
        explode(expr("sequence(1, 8)")).as("k"))
      .withColumn("pday", col("day") - col("k"))
      .withColumn("wt", expr("cast(shiftleft(1, cast(8 - k as int)) as long)"))
    probes
      .join(daily.select(col("event_type"), col("day").as("pday"),
        col("c").as("pc")), Seq("event_type", "pday"), "left")
      .groupBy(col("event_type"), col("day"), col("c"))
      .agg(coalesce(sum(col("pc") * col("wt")), lit(0L)).as("num"),
        coalesce(sum(when(col("pc").isNotNull, col("wt"))), lit(0L)).as("den"))
      .select(col("event_type"), col("day"), col("c"), col("num"), col("den"),
        (col("den") > 0 && lit(2) * col("c") * col("den") >= lit(3) * col("num"))
          .as("anomaly"))
  }

  /** Equal-frequency decile binning — the feature-engineering step that
    * turns a raw metric into a rank feature (which decile of its
    * type's distribution does this event sit in?): the 10/20/…/90
    * nearest-rank thresholds come from [[graft.operators.Percentiles
    * .exact]] (q141's no-window scale path), ride a 45-row broadcast,
    * and every event buckets MAP-SIDE by counting thresholds strictly
    * below its value — bucket = |{t : v > t}| ∈ 0…9, the definition
    * both engines replay literally (never `ntile`, whose equal-COUNT
    * remainder semantics differ from threshold binning on ties).
    * Output is the per-(type, bucket) histogram with value ranges —
    * ties land whole in one bucket, so bins are only approximately
    * equal-sized, exactly as threshold binning defines.
    *
    * Scale shape: the threshold table is groups × 9 rows (broadcast);
    * binning is one map-side conditional count per event (9-row fanout
    * before a combiner-friendly re-aggregation); nothing event-scale
    * ever sorts.
    */
  val q152DecileBinning = Q.checked(
    "q152_decile_binning",
    """WITH v AS (
      |  SELECT event_id, event_type,
      |    CAST(round(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS v
      |  FROM events),
      |n AS (SELECT event_type, count(*) AS n FROM v GROUP BY event_type),
      |r AS (
      |  SELECT event_type, v,
      |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn
      |  FROM v),
      |p AS (SELECT CAST(unnest([10,20,30,40,50,60,70,80,90]) AS BIGINT) AS p),
      |thr AS (
      |  SELECT r.event_type, p.p, min(r.v) AS pct
      |  FROM r JOIN n USING (event_type) CROSS JOIN p
      |  WHERE rn >= (p.p * n.n + 99) // 100
      |  GROUP BY r.event_type, p.p),
      |b AS (
      |  SELECT v.event_id, v.event_type, v.v,
      |    CAST(count(CASE WHEN v.v > thr.pct THEN 1 END) AS BIGINT) AS bucket
      |  FROM v JOIN thr USING (event_type)
      |  GROUP BY v.event_id, v.event_type, v.v)
      |SELECT event_type, bucket, count(*) AS n_events,
      |  min(v) AS min_v, max(v) AS max_v
      |FROM b GROUP BY event_type, bucket""") { (s, dir) =>
    import graft.operators.Percentiles
    val ev = table(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        round(col("value").cast("double") * 1000000d).cast("long").as("v"))
    val thr = Percentiles.exact(ev, "event_type", "v",
        Seq(10, 20, 30, 40, 50, 60, 70, 80, 90))
      .select(col("g").as("event_type"), col("pct"))
    ev.join(broadcast(thr), "event_type")
      .groupBy(col("event_id"), col("event_type"), col("v"))
      .agg(sum(when(col("v") > col("pct"), 1L).otherwise(0L)).as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n_events"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
  }

  /** Rolling 7-day active users (DAU/WAU + the stickiness ratio) — the
    * engagement dashboard's sliding-window DISTINCT, computed EXACTLY
    * without any sliding-window state: each distinct (user, day)
    * activity row is EXPLODED into the 7 future days it keeps the user
    * "weekly active" for (day+0 … day+6), and WAU(d) is a plain distinct
    * count over the exploded stream — the standard shuffle-once trick
    * that turns a sliding distinct into a group-by (7× linear expansion,
    * never a per-day rescan and never an ordered window over user sets).
    * Stickiness = DAU/WAU in integer ppm. Only days with activity
    * report (the dau join bounds the overhang the explode creates past
    * the last real day).
    */
  val q154RollingActives = Q.checked(
    "q154_rolling_actives",
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
      |expd AS (
      |  SELECT user_id, day + k.k AS day
      |  FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS k) k),
      |wau AS (SELECT day, count(DISTINCT user_id) AS wau FROM expd GROUP BY day)
      |SELECT d.day, d.dau, w.wau,
      |  (1000000 * d.dau) // w.wau AS stickiness_ppm
      |FROM dau d JOIN wau w USING (day)""") { (s, dir) =>
    val evt = table(s, dir, "events")
    val ud2 = evt
      .select(col("user_id"), graft.core.Graft.tsUs(evt).cast("long").as("us"))
      .select(col("user_id"), expr("us div 86400000000").as("day"))
      .distinct()
      .localCheckpoint(true) // feeds dau and the 7-way explode
    val dau = ud2.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud2
      .select(col("user_id"), explode(expr("sequence(0, 6)")).as("k"),
        col("day"))
      .select(col("user_id"), (col("day") + col("k")).as("day"))
      .groupBy(col("day")).agg(count_distinct(col("user_id")).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        expr("(1000000 * dau) div wau").as("stickiness_ppm"))
  }

  /** Image FEATURE extraction through the real decode path — the
    * multimodal family's feature-extract verb (q55c decodes+resizes,
    * q55d/e decode compressed codecs, this row reduces decoded pixels to
    * the descriptor a curation pipeline consumes): q55c's deterministic
    * BMP corpus decoded by the per-partition pipeline and reduced per image to
    * an 8-bin BT.601 luminance histogram in exact integer arithmetic.
    * The oracle never touches a byte — it replays the pixel generation
    * formula and the same integer luminance/bin math over the full
    * pixel grid, so green proves decode(encode(x)) == x THROUGH the
    * feature reduction. Sparse rows (only non-empty bins), map-side
    * everything, one count shuffle.
    */
  val q176ImageFeatures = Q.checked(
    "q176_image_features",
    """WITH g AS (
      |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents),
      |px AS (
      |  SELECT doc_id,
      |    (doc_id + 3 * x + 7 * y) % 256 AS r,
      |    (doc_id * 2 + 5 * x + y) % 256 AS gr,
      |    (x * y + doc_id) % 256 AS b
      |  FROM g, generate_series(0, 7) AS sx(x), generate_series(0, 5) AS sy(y)
      |  WHERE x < w AND y < h),
      |l AS (
      |  SELECT doc_id,
      |    ((299 * r + 587 * gr + 114 * b) // 1000) // 32 AS bin_idx
      |  FROM px)
      |SELECT doc_id, bin_idx, count(*) AS n_px FROM l GROUP BY doc_id, bin_idx""") { (s, dir) =>
    import s.implicits._
    import graft.operators.Multimodal
    val gen = table(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = (4 + id % 5).toInt
        val h = (3 + id % 4).toInt
        val px = Array.tabulate(w * h) { i =>
          val x = i % w
          val y = i / w
          val r = ((id + 3 * x + 7 * y) % 256).toInt
          val g = ((id * 2 + 5 * x + y) % 256).toInt
          val b = ((x.toLong * y + id) % 256).toInt
          (r << 16) | (g << 8) | b
        }
        (id, Multimodal.bmpEncode(Multimodal.BmpImage(w, h, px)))
      })
      .toDF("id", "bin")
    Multimodal.lumHistBatched(gen, Multimodal.bmpDecode)
      .withColumnRenamed("id", "doc_id")
  }

  /** Item-item collaborative filtering (market-basket similarity) — the
    * recommendation family's batch core: parts that co-occur in orders,
    * scored by integer-ppm Jaccard over basket sets, top-3 neighbors per
    * part. The co-occurrence list comes from ONE equi self-join on the
    * basket key (pairs per order = k(k−1)/2 at basket size k — output-
    * scale, never a cartesian of the catalog), counts are map-side
    * partial, and the per-part rank is WindowGroupLimit-prunable. A
    * whale basket (one order containing half the catalog) is the skew
    * case: its k² pairs are real output, and the basket-key join splits
    * under AQE's skew handler or fans across Salt.saltedJoin lanes —
    * MEASURED, not just named: ScaleSpec's "q185 whale basket" case
    * drives a 1000-item whale through both remedies and asserts the
    * identical pair multiset.
    */
  val q185ItemCf = Q.checked(
    "q185_item_cf",
    """WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |cnt AS (SELECT pk, count(*) AS c FROM bp GROUP BY pk),
      |co AS (
      |  SELECT a.pk AS p1, b.pk AS p2, count(*) AS co
      |  FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk GROUP BY a.pk, b.pk),
      |sym AS (SELECT p1 AS part, p2 AS other, co FROM co
      |        UNION ALL SELECT p2, p1, co FROM co),
      |sc AS (
      |  SELECT s.part, s.other, s.co,
      |    s.co * 1000000 // (c1.c + c2.c - s.co) AS jac_ppm
      |  FROM sym s JOIN cnt c1 ON c1.pk = s.part JOIN cnt c2 ON c2.pk = s.other),
      |r AS (SELECT part, other, co, jac_ppm,
      |  row_number() OVER (PARTITION BY part
      |                     ORDER BY jac_ppm DESC, co DESC, other) AS rank
      |  FROM sc)
      |SELECT part, other, co, jac_ppm, CAST(rank AS BIGINT) AS rank
      |FROM r WHERE rank <= 3""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val bp = table(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .localCheckpoint(true) // basket table feeds counts and the self-join
    val cnt = bp.groupBy(col("pk")).agg(count(lit(1)).as("c"))
    val co = bp.alias("a")
      .join(bp.alias("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("co"))
    val sym = co.select(col("p1").as("part"), col("p2").as("other"), col("co"))
      .unionByName(co.select(col("p2").as("part"), col("p1").as("other"), col("co")))
    val sc = sym
      .join(cnt.select(col("pk").as("part"), col("c").as("c1")), "part")
      .join(cnt.select(col("pk").as("other"), col("c").as("c2")), "other")
      .select(col("part"), col("other"), col("co"),
        expr("co * 1000000 div (c1 + c2 - co)").as("jac_ppm"))
    sc.withColumn("rank", row_number().over(
        Window.partitionBy(col("part"))
          .orderBy(col("jac_ppm").desc, col("co").desc, col("other"))).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("part"), col("other"), col("co"), col("jac_ppm"), col("rank"))
  }

  /** A/B experiment analysis with deterministic hash diversion — the
    * experimentation readout every event pipeline serves: users split
    * into two arms by seeded hash (`hash32('exp1:' || user_id) % 2` — the
    * industry-standard bucketing: stable across sessions, reproducible
    * by any engine, no assignment table to join), exposure = saw a
    * view, conversion = purchased after assignment is implicit (whole
    * history counts here — the fixture has no experiment start date).
    * Per arm: exposed users, converters, integer-ppm conversion rate,
    * and exact scaled purchase revenue. All integer arithmetic; the
    * user-grain rollup is one distinct-shuffle, the arm rollup is
    * 2 rows.
    */
  val q179AbExperiment = Q.checked(
    "q179_ab_experiment",
    """WITH u AS (
      |  SELECT user_id,
      |    ('0x'||substring(md5('exp1:'||CAST(user_id AS VARCHAR)),1,8))::BIGINT % 2 AS arm,
      |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS exposed,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
      |    CAST(sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(round(CAST(value AS DOUBLE) * 1000000) AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS rev
      |  FROM events GROUP BY user_id,
      |    ('0x'||substring(md5('exp1:'||CAST(user_id AS VARCHAR)),1,8))::BIGINT % 2)
      |SELECT arm, count(*) AS n_users,
      |  CAST(sum(converted) AS BIGINT) AS n_conv,
      |  CAST(sum(converted) * 1000000 // count(*) AS BIGINT) AS conv_ppm,
      |  CAST(sum(rev) AS BIGINT) AS revenue_scaled
      |FROM u WHERE exposed = 1 GROUP BY arm""") { (s, dir) =>
    import graft.functions.Hashing
    val u = table(s, dir, "events")
      .groupBy(col("user_id"),
        (Hashing.hash32(concat(lit("exp1:"), col("user_id").cast("string"))) % 2)
          .as("arm"))
      .agg(
        max(when(col("event_type") === "view", 1).otherwise(0)).as("exposed"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("converted"),
        sum(when(col("event_type") === "purchase",
          round(col("value").cast("double") * 1000000d).cast("long"))
          .otherwise(0L)).as("rev"))
    u.filter(col("exposed") === 1)
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("converted")).cast("long").as("n_conv"),
        expr("sum(converted) * 1000000 div count(*)").cast("long").as("conv_ppm"),
        sum(col("rev")).as("revenue_scaled"))
  }

  /** Referential-integrity AUDIT — the data-quality gate a training
    * pipeline runs before trusting its joins: every FK edge of the
    * TPC-H-ish star checked in one pass, reporting child volume, orphan
    * count (children whose parent key is missing), and the smallest
    * orphan key as the reproduction pointer. Each edge is a LEFT ANTI
    * join on the key — the orphan set materializes at orphan volume,
    * never child volume, and a clean edge costs one hash probe per row.
    * Parent key sets (orders/customer/nation/part/supplier) broadcast at
    * dim scale; the lineitem-side edges shuffle only if AQE decides the
    * dim outgrew the threshold.
    */
  val q180FkAudit = Q.checked(
    "q180_fk_audit",
    """SELECT 'lineitem.l_orderkey->orders' AS edge,
      |  (SELECT count(*) FROM lineitem) AS n_child,
      |  count(*) AS n_orphans, min(l_orderkey) AS min_orphan
      |FROM lineitem l WHERE NOT EXISTS
      |  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |UNION ALL
      |SELECT 'lineitem.l_partkey->part',
      |  (SELECT count(*) FROM lineitem), count(*), min(l_partkey)
      |FROM lineitem l WHERE NOT EXISTS
      |  (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
      |UNION ALL
      |SELECT 'lineitem.l_suppkey->supplier',
      |  (SELECT count(*) FROM lineitem), count(*), min(l_suppkey)
      |FROM lineitem l WHERE NOT EXISTS
      |  (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
      |UNION ALL
      |SELECT 'orders.o_custkey->customer',
      |  (SELECT count(*) FROM orders), count(*), min(o_custkey)
      |FROM orders o WHERE NOT EXISTS
      |  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      |UNION ALL
      |SELECT 'customer.c_nationkey->nation',
      |  (SELECT count(*) FROM customer), count(*), min(c_nationkey)
      |FROM customer c WHERE NOT EXISTS
      |  (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)""") { (s, dir) =>
    // one count job per DISTINCT child table (lineitem backs three
    // edges — counting inside edge() would scan it three times)
    def edge(name: String, child: org.apache.spark.sql.DataFrame,
             childTotal: Long, childKey: String,
             parent: org.apache.spark.sql.DataFrame,
             parentKey: String): org.apache.spark.sql.DataFrame =
      child.join(parent, child(childKey) === parent(parentKey), "left_anti")
        .agg(count(lit(1)).as("n_orphans"),
          min(col(childKey).cast("long")).as("min_orphan"))
        .select(lit(name).as("edge"), lit(childTotal).as("n_child"),
          col("n_orphans"), col("min_orphan"))
    val li = table(s, dir, "lineitem")
    val o = table(s, dir, "orders")
    val cust = table(s, dir, "customer")
    val (liN, oN, cN) = (li.count(), o.count(), cust.count())
    edge("lineitem.l_orderkey->orders", li, liN, "l_orderkey", o, "o_orderkey")
      .unionByName(edge("lineitem.l_partkey->part", li, liN, "l_partkey",
        table(s, dir, "part"), "p_partkey"))
      .unionByName(edge("lineitem.l_suppkey->supplier", li, liN, "l_suppkey",
        table(s, dir, "supplier"), "s_suppkey"))
      .unionByName(edge("orders.o_custkey->customer", o, oN, "o_custkey",
        cust, "c_custkey"))
      .unionByName(edge("customer.c_nationkey->nation", cust, cN,
        "c_nationkey", table(s, dir, "nation"), "n_nationkey"))
  }

  /** Join-key SKEW AUDIT — the planning pass a 100 TB join runs BEFORE
    * shuffling (the q107/ScaleSpec salting decision, made data-driven):
    * for a candidate join key (here the Zipf-shaped token stream that
    * every vocab-keyed join in the q96/q164 family shuffles on), report
    * the top-10 heaviest keys with exact count, integer-ppm share of
    * the stream, and the per-key recommended salt fan-out
    * `ceil(cnt · ndv / total)` — how many times this key's partition
    * exceeds the average, i.e. the `n` to hand `Salt.saltedJoin`.
    * A key with salt_rec ≈ 1 is safe; tens mean AQE territory;
    * hundreds mean structural salting.
    *
    * Scale shape: one map-side-combined count aggregation over the
    * stream, a 1-row summary that rides a broadcast, and a top-10 via
    * TakeOrderedAndProject — the rank window runs over 10 rows, never
    * the vocabulary. All integer arithmetic (cross-multiplied ppm and
    * ceil-division), no floats to drift cross-engine.
    */
  val q173SkewAudit = Q.checked(
    "q173_skew_audit",
    """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
      |s AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS ndv FROM c),
      |r AS (SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rank FROM c)
      |SELECT rank, tok, cnt,
      |  CAST(CAST(cnt AS HUGEINT) * 1000000 // total AS BIGINT) AS share_ppm,
      |  CAST((CAST(cnt AS HUGEINT) * ndv + total - 1) // total AS BIGINT) AS salt_rec,
      |  total, ndv
      |FROM r, s WHERE rank <= 10""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val cnts = table(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // feeds the summary and the top-10
    val summary = cnts.agg(sum(col("cnt")).as("total"), count(lit(1)).as("ndv"))
    cnts.orderBy(col("cnt").desc, col("tok")).limit(10)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("tok"))).cast("long"))
      .crossJoin(broadcast(summary))
      // widen the multiplies to DECIMAL(38,0): at the audit's own 100 TB
      // target (cnt ~1e12 tokens on a head key, web-scale ndv ≥ 1e7)
      // cnt·ndv and cnt·1e6 overflow a Long — the quotients stay small
      .select(col("rank"), col("tok"), col("cnt"),
        expr("CAST(CAST(cnt AS DECIMAL(38,0)) * 1000000 div total AS BIGINT)")
          .as("share_ppm"),
        expr("CAST((CAST(cnt AS DECIMAL(38,0)) * ndv + total - 1) div total AS BIGINT)")
          .as("salt_rec"),
        col("total"), col("ndv"))
  }

  /** Order-invariant TABLE FINGERPRINT — the anti-entropy check two
    * clusters (or two replicas of a 100 TB lake) run to prove a dataset
    * identical without moving it: per day, the row count and a
    * commutative checksum (Σ of a 60-bit md5-derived row hash, mod the
    * Mersenne prime 2⁶¹−1). Canonicalization is the cross-engine value
    * convention — timestamps as epoch micros, doubles as scaled longs,
    * NULL props as '' — so the SAME logical row hashes identically
    * anywhere; the sum is order- and partition-invariant by
    * construction, so a re-shuffled, re-compacted, or differently-
    * partitioned copy still matches.
    *
    * Scale shape: one map-side-combined aggregation over the scan —
    * byte-for-byte the cheapest possible full-table audit; a mismatch
    * bisects by day (then by finer buckets) without ever diffing rows.
    */
  val q191TableFingerprint = Q.checked(
    "q191_table_fingerprint",
    """WITH r AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    ('0x' || substring(md5(
      |      CAST(event_id AS VARCHAR) || '|' ||
      |      CAST(epoch_us(ts) AS VARCHAR) || '|' ||
      |      CAST(user_id AS VARCHAR) || '|' ||
      |      event_type || '|' ||
      |      CAST(CAST(round(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS VARCHAR) || '|' ||
      |      coalesce(props, '')), 1, 15))::BIGINT AS h
      |  FROM events)
      |SELECT day, count(*) AS n,
      |  CAST(CAST(sum(h) AS HUGEINT) % 2305843009213693951 AS BIGINT) AS fp
      |FROM r GROUP BY day""") { (s, dir) =>
    import org.apache.spark.sql.types.DecimalType
    val ev = table(s, dir, "events")
    val us = graft.core.Graft.tsUs(ev)
    ev.select((us.cast("long") / lit(86400000000L)).cast("long").as("day"),
        conv(substring(md5(concat_ws("|",
          col("event_id").cast("string"),
          us.cast("long").cast("string"),
          col("user_id").cast("string"),
          col("event_type"),
          round(col("value").cast("double") * 1000000d).cast("long").cast("string"),
          coalesce(col("props"), lit("")))), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"),
        (sum(col("h").cast(DecimalType(38, 0))) % lit(2305843009213693951L))
          .cast("long").as("fp"))
  }

  /** JOIN-SIZE audit — q173's sibling for the other half of the shuffle
    * decision: before running a 100 TB join, compute its EXACT output
    * cardinality from per-key count histograms (Σ over shared keys of
    * cₗ(k)·cᵣ(k)) plus each side's heaviest key — the numbers that say
    * broadcast / plain shuffle / salt BEFORE any data moves. Two edges
    * of the TPC-H star audited in one pass each; the count histograms
    * are map-side-combined aggs and the product-sum join carries one
    * row per DISTINCT key, never per row.
    */
  val q199JoinSizeAudit = Q.checked(
    "q199_join_size_audit",
    """WITH lo AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
      |oo AS (SELECT o_orderkey AS k, count(*) AS c FROM orders GROUP BY 1),
      |lp AS (SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
      |pp AS (SELECT p_partkey AS k, count(*) AS c FROM part GROUP BY 1)
      |SELECT 'lineitem*orders' AS edge,
      |  CAST(sum(lo.c * oo.c) AS BIGINT) AS est_rows,
      |  CAST(max(lo.c) AS BIGINT) AS max_left_key,
      |  CAST(max(oo.c) AS BIGINT) AS max_right_key
      |FROM lo JOIN oo ON oo.k = lo.k
      |UNION ALL
      |SELECT 'lineitem*part',
      |  CAST(sum(lp.c * pp.c) AS BIGINT), CAST(max(lp.c) AS BIGINT),
      |  CAST(max(pp.c) AS BIGINT)
      |FROM lp JOIN pp ON pp.k = lp.k""") { (s, dir) =>
    def hist(df: org.apache.spark.sql.DataFrame, key: String) =
      df.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
    def edge(name: String, l: org.apache.spark.sql.DataFrame,
             r: org.apache.spark.sql.DataFrame) =
      l.join(r.select(col("k"), col("c").as("cr")), "k")
        .agg(sum(col("c") * col("cr")).cast("long").as("est_rows"),
          max(col("c")).as("max_left_key"), max(col("cr")).as("max_right_key"))
        .select(lit(name).as("edge"), col("est_rows"),
          col("max_left_key"), col("max_right_key"))
    val li = table(s, dir, "lineitem")
    edge("lineitem*orders", hist(li, "l_orderkey"),
        hist(table(s, dir, "orders"), "o_orderkey"))
      .unionByName(edge("lineitem*part", hist(li, "l_partkey"),
        hist(table(s, dir, "part"), "p_partkey")))
  }

  /** ACCUMULATING SNAPSHOT — the classic warehouse fact pattern (one row
    * per entity, one timestamp column per lifecycle stage, stage-to-
    * stage latencies): per user the first view / click / purchase in
    * event time plus the view→click and click→purchase lags, NULL until
    * the stage happens or when stages arrived out of order (a purchase
    * before any click yields no click→purchase latency — the guard is
    * the same CASE on both engines). The funnel family's entity-grain
    * complement: q138 counts stage conversions, this materializes each
    * entity's dates — the table BI reads.
    *
    * Scale shape: ONE conditional-min aggregation over the event scan
    * (map-side combined, the q109 conditional-aggregation form), then
    * pure map-side latency arithmetic. No window, no join, no second
    * scan.
    */
  val q200AccumSnapshot = Q.checked(
    "q200_accum_snapshot",
    """WITH s AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS first_view_us,
      |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS first_click_us,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_purchase_us
      |  FROM events GROUP BY user_id)
      |SELECT user_id, first_view_us, first_click_us, first_purchase_us,
      |  CASE WHEN first_click_us >= first_view_us
      |       THEN first_click_us - first_view_us END AS view_to_click_us,
      |  CASE WHEN first_purchase_us >= first_click_us
      |       THEN first_purchase_us - first_click_us END AS click_to_buy_us
      |FROM s""") { (s, dir) =>
    val ev = table(s, dir, "events")
    val us = graft.core.Graft.tsUs(ev).cast("long")
    ev.groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", us)).as("first_view_us"),
        min(when(col("event_type") === "click", us)).as("first_click_us"),
        min(when(col("event_type") === "purchase", us)).as("first_purchase_us"))
      .select(col("user_id"), col("first_view_us"), col("first_click_us"),
        col("first_purchase_us"),
        when(col("first_click_us") >= col("first_view_us"),
          col("first_click_us") - col("first_view_us")).as("view_to_click_us"),
        when(col("first_purchase_us") >= col("first_click_us"),
          col("first_purchase_us") - col("first_click_us")).as("click_to_buy_us"))
  }

  /** RFM SEGMENTATION — the product-analytics classic (recency /
    * frequency / monetary quintile scores per user), built the 100 TB
    * way: the textbook ntile(5) is a single-partition window over every
    * user, so the quintile FENCES come from
    * [[graft.operators.Percentiles.exact]] (4 values per metric, no
    * window anywhere) and scores are a map-side compare against the
    * broadcast fence arrays. Recency scores INVERTED (recent = 5);
    * ties score by strict-below count, identical on both engines. The
    * oracle re-derives each fence with a rank window — two algorithms,
    * one answer, three metrics at once.
    */
  val q204RfmScores = Q.checked(
    "q204_rfm_scores",
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    CAST(round(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS v
      |  FROM events),
      |mx AS (SELECT max(day) AS md FROM e),
      |u AS (
      |  SELECT user_id, (SELECT md FROM mx) - max(day) AS rec,
      |    count(*) AS freq, CAST(sum(v) AS BIGINT) AS mon
      |  FROM e GROUP BY user_id),
      |nu AS (SELECT count(*) AS n FROM u),
      |p AS (SELECT CAST(unnest([20, 40, 60, 80]) AS BIGINT) AS p),
      |fr AS (SELECT rec AS v, row_number() OVER (ORDER BY rec) AS rn FROM u),
      |ff AS (SELECT freq AS v, row_number() OVER (ORDER BY freq) AS rn FROM u),
      |fm AS (SELECT mon AS v, row_number() OVER (ORDER BY mon) AS rn FROM u),
      |qr AS (SELECT p.p, min(fr.v) AS q FROM fr CROSS JOIN nu CROSS JOIN p
      |       WHERE fr.rn >= (p.p * nu.n + 99) // 100 GROUP BY p.p),
      |qf AS (SELECT p.p, min(ff.v) AS q FROM ff CROSS JOIN nu CROSS JOIN p
      |       WHERE ff.rn >= (p.p * nu.n + 99) // 100 GROUP BY p.p),
      |qm AS (SELECT p.p, min(fm.v) AS q FROM fm CROSS JOIN nu CROSS JOIN p
      |       WHERE fm.rn >= (p.p * nu.n + 99) // 100 GROUP BY p.p)
      |SELECT u.user_id, u.rec, u.freq, u.mon,
      |  5 - (SELECT count(*) FROM qr WHERE qr.q < u.rec) AS r_score,
      |  1 + (SELECT count(*) FROM qf WHERE qf.q < u.freq) AS f_score,
      |  1 + (SELECT count(*) FROM qm WHERE qm.q < u.mon) AS m_score
      |FROM u""") { (s, dir) =>
    import graft.operators.Percentiles
    val ev = table(s, dir, "events")
    val e = ev.select(col("user_id"),
      (graft.core.Graft.tsUs(ev).cast("long") / lit(86400000000L)).cast("long").as("day"),
      round(col("value").cast("double") * 1000000d).cast("long").as("v"))
    val mx = e.agg(max(col("day")).as("md"))
    val u = e.crossJoin(broadcast(mx))
      .groupBy(col("user_id"))
      .agg((max(col("md")) - max(col("day"))).as("rec"),
        count(lit(1)).as("freq"), sum(col("v")).as("mon"))
      .localCheckpoint(true) // feeds three fence derivations + the scoring
    def fences(metric: String) =
      Percentiles.exact(u.select(lit("all").as("g"), col(metric).as("m")),
          "g", "m", Seq(20, 40, 60, 80))
        .agg(sort_array(collect_list(col("pct"))).as(s"q_$metric"))
    u.crossJoin(broadcast(fences("rec")))
      .crossJoin(broadcast(fences("freq")))
      .crossJoin(broadcast(fences("mon")))
      .select(col("user_id"), col("rec"), col("freq"), col("mon"),
        (lit(5) - size(filter(col("q_rec"), q => q < col("rec")))).cast("long").as("r_score"),
        (lit(1) + size(filter(col("q_freq"), q => q < col("freq")))).cast("long").as("f_score"),
        (lit(1) + size(filter(col("q_mon"), q => q < col("mon")))).cast("long").as("m_score"))
  }

  /** ASSOCIATION RULES from order baskets (support / confidence / lift
    * in integer ppm, min co-occurrence 2) — q185's co-occurrence join
    * carried to the classic market-basket metrics: support =
    * P(ante ∧ cons), confidence = P(cons | ante), lift = confidence /
    * P(cons). Ordered pairs (a rule is directional); the widened
    * HUGEINT/DECIMAL arithmetic keeps a 100 TB basket count from
    * wrapping the lift numerator. Same output-scale shape as q185 —
    * one basket-key equi self-join, counts map-side combined, the
    * 1-row basket total rides a broadcast.
    */
  val q206AssocRules = Q.checked(
    "q206_assoc_rules",
    """WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |nb AS (SELECT count(DISTINCT ok) AS n FROM bp),
      |cnt AS (SELECT pk, count(*) AS c FROM bp GROUP BY pk),
      |co AS (
      |  SELECT a.pk AS ante, b.pk AS cons, count(*) AS co
      |  FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk <> b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT co.ante, co.cons, co.co,
      |  CAST(CAST(co.co AS HUGEINT) * 1000000 // max(nb.n) AS BIGINT) AS support_ppm,
      |  CAST(CAST(co.co AS HUGEINT) * 1000000 // max(c1.c) AS BIGINT) AS conf_ppm,
      |  CAST(CAST(co.co AS HUGEINT) * 1000000 * max(nb.n) // (max(c1.c) * max(c2.c)) AS BIGINT) AS lift_ppm
      |FROM co JOIN cnt c1 ON c1.pk = co.ante JOIN cnt c2 ON c2.pk = co.cons CROSS JOIN nb
      |GROUP BY co.ante, co.cons, co.co""") { (s, dir) =>
    val bp = table(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .localCheckpoint(true) // feeds totals, item counts, and the self-join
    val nb = bp.agg(countDistinct(col("ok")).as("n"))
    val cnt = bp.groupBy(col("pk")).agg(count(lit(1)).as("c"))
    val co = bp.alias("a")
      .join(bp.alias("b"),
        col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
      .groupBy(col("a.pk").as("ante"), col("b.pk").as("cons"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= 2)
    co.join(cnt.select(col("pk").as("ante"), col("c").as("c1")), "ante")
      .join(cnt.select(col("pk").as("cons"), col("c").as("c2")), "cons")
      .crossJoin(broadcast(nb))
      .select(col("ante"), col("cons"), col("co"),
        expr("CAST(CAST(co AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)").as("support_ppm"),
        expr("CAST(CAST(co AS DECIMAL(38,0)) * 1000000 div c1 AS BIGINT)").as("conf_ppm"),
        expr("CAST(CAST(co AS DECIMAL(38,0)) * 1000000 * n div (c1 * c2) AS BIGINT)").as("lift_ppm"))
  }

  /** ACTIVITY STREAKS — the gaps-and-islands report (longest run of
    * consecutive active days per user, how many distinct streaks, total
    * active days): the classic engagement metric behind "7-day streak"
    * badges and retention dashboards. Event-scale input collapses to the
    * distinct user-day grid first (one map-side-combined distinct), then
    * the island key is `day − row_number` over a PER-USER window — bounded
    * by one user's active days, never a global sort — and the rest is two
    * more user-keyed aggregations that reuse the same partitioning. At
    * 100 TB the only event-scale shuffle is the initial distinct.
    */
  val q212Streaks = Q.checked(
    "q212_streaks",
    """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |r AS (
      |  SELECT user_id,
      |    day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS isl
      |  FROM d),
      |st AS (SELECT user_id, isl, count(*) AS len FROM r GROUP BY 1, 2)
      |SELECT user_id, CAST(max(len) AS BIGINT) AS best_streak,
      |  count(*) AS n_streaks, CAST(sum(len) AS BIGINT) AS active_days
      |FROM st GROUP BY user_id""") { (s, dir) =>
    val days = table(s, dir, "events")
      .select(col("user_id"), col("ts").cast("date").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days
      .withColumn("isl", date_sub(col("day"), row_number().over(w)))
      .groupBy(col("user_id"), col("isl"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("best_streak"),
        count(lit(1)).as("n_streaks"),
        sum(col("len")).cast("long").as("active_days"))
  }

  /** HOUR-OF-DAY ACTIVITY BITMAP per user — the roaring-bitmap-style
    * presence encoding engagement systems keep per entity (one bit per
    * hour, OR-merged across all history): the per-user 24-bit mask via
    * `bit_or(1 << hour)`, its popcount (distinct active hours), and the
    * peak-hours flag (any activity in 9–17). Bitwise aggregation is the
    * cheapest mergeable presence sketch there is — the OR is
    * associative/commutative so it partial-aggregates map-side, state is
    * 8 bytes per user regardless of event volume, and re-slicing (by
    * day, by shard) re-merges by OR without rescanning. Output is
    * user-scale; every operation is integer-exact in both engines.
    */
  val q223HourBitmap = Q.checked(
    "q223_hour_bitmap",
    """SELECT user_id,
      |  CAST(bit_or(1::BIGINT << hour(ts)) AS BIGINT) AS hour_mask,
      |  CAST(bit_count(bit_or(1::BIGINT << hour(ts))) AS BIGINT) AS active_hours,
      |  CAST(CASE WHEN bit_or(1::BIGINT << hour(ts)) & 130560 <> 0
      |       THEN 1 ELSE 0 END AS BIGINT) AS in_work_hours
      |FROM events GROUP BY user_id""") { (s, dir) =>
    // 130560 = bits 9..16 set: the 9:00–17:00 work-hours mask
    table(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), hour(ts)))").as("hour_mask"))
      .select(col("user_id"), col("hour_mask"),
        bit_count(col("hour_mask")).cast("long").as("active_hours"),
        when(expr("hour_mask & 130560") =!= 0, 1L).otherwise(0L).as("in_work_hours"))
  }

  /** RENDEZVOUS (highest-random-weight) SHARD ROUTING + balance audit —
    * the consistent-hashing assignment stateful services use so that
    * adding/removing a shard only moves 1/S of the keys (plain
    * `hash mod S` reshuffles nearly everything): every key goes to
    * argmax over shards of hash(key, shard). Computed as one explode of
    * the S-literal shard list per key (S·keys rows, map-side) folded by
    * a max(struct(h, shard)) aggregation — partial-agg combines
    * map-side, so the shuffle carries one row per key; the audit rollup
    * (count + key range per shard) is S-row output. HRW beats jump-hash
    * here because it is pure integer hashing — no iterative float loop
    * to drift cross-engine.
    */
  val q220RendezvousShards = Q.checked(
    "q220_rendezvous_shards",
    """WITH h AS (
      |  SELECT c_custkey AS ck, CAST(t.i AS BIGINT) AS shard,
      |    ('0x' || substring(md5('rv:' || CAST(c_custkey AS VARCHAR) || ':' || CAST(t.i AS VARCHAR)), 1, 12))::BIGINT AS hv
      |  FROM customer, generate_series(0, 15) t(i)),
      |a AS (
      |  SELECT ck, shard,
      |    row_number() OVER (PARTITION BY ck ORDER BY hv DESC, shard) AS rn
      |  FROM h)
      |SELECT shard, count(*) AS n_keys, min(ck) AS min_ck, max(ck) AS max_ck
      |FROM a WHERE rn = 1 GROUP BY shard""") { (s, dir) =>
    val h = table(s, dir, "customer")
      .select(col("c_custkey").as("ck"))
      .withColumn("shard", explode(expr("sequence(0L, 15L)")))
      .withColumn("hv",
        conv(substring(md5(concat(lit("rv:"), col("ck").cast("string"),
          lit(":"), col("shard").cast("string"))), 1, 12), 16, 10).cast("long"))
    // argmax(hv) per key as max(struct(hv, -shard)): struct ordering is
    // field-by-field, so the max carries the winning shard along — one
    // map-side-combinable aggregation instead of a per-key window
    h.groupBy(col("ck"))
      .agg(max(struct(col("hv"), (-col("shard")).as("ns"))).as("m"))
      .select(col("ck"), (-col("m.ns")).as("shard"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_keys"), min(col("ck")).as("min_ck"),
        max(col("ck")).as("max_ck"))
  }

  /** HEADER↔LINES RECONCILIATION — the warehouse-closing audit (does
    * each order header total equal the sum of its line items?): per
    * order the exact cents delta header − Σ lines·(1−disc)·(1+tax),
    * folded to a bounded report — per (sign × decimal-digit magnitude
    * bin, q209's portable integer log scale) the order count and the
    * total absolute drift. Line amounts compute in DECIMAL (scale-4
    * products, one half-up cents rounding per line — both engines round
    * identically on exact decimals, unlike engine-ordered float sums);
    * headers LEFT JOIN so an order with no lines surfaces instead of
    * vanishing. Output is bins-sized, never order-scale.
    */
  val q238Reconciliation = Q.checked(
    "q238_reconciliation",
    """WITH l AS (
      |  SELECT l_orderkey,
      |    CAST(sum(CAST(round(CAST(l_extendedprice AS DECIMAL(28,4))
      |         * (1 - CAST(l_discount AS DECIMAL(9,4)))
      |         * (1 + CAST(l_tax AS DECIMAL(9,4))) * 100, 0) AS BIGINT)) AS BIGINT) AS lines_c
      |  FROM lineitem GROUP BY 1),
      |d AS (
      |  SELECT o_orderkey,
      |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)
      |      - coalesce(l.lines_c, 0) AS delta_c
      |  FROM orders LEFT JOIN l ON l.l_orderkey = o_orderkey)
      |SELECT CASE WHEN delta_c > 0 THEN 1 WHEN delta_c < 0 THEN -1 ELSE 0 END AS sign,
      |  CAST(CASE WHEN delta_c = 0 THEN 0
      |       ELSE length(CAST(abs(delta_c) AS VARCHAR)) END AS BIGINT) AS mag_bin,
      |  count(*) AS n_orders,
      |  CAST(sum(abs(delta_c)) AS BIGINT) AS total_abs_drift_c
      |FROM d GROUP BY 1, 2""") { (s, dir) =>
    import org.apache.spark.sql.types.{DecimalType => DT}
    val l = table(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_extendedprice").cast(DT(18, 4))
          * (lit(1) - col("l_discount").cast(DT(18, 4)))
          * (lit(1) + col("l_tax").cast(DT(18, 4))) * 100, 0).cast("long"))
        .cast("long").as("lines_c"))
    val d = table(s, dir, "orders")
      .join(l, col("l_orderkey") === col("o_orderkey"), "left")
      .select((round(col("o_totalprice").cast("double") * 100).cast("long")
        - coalesce(col("lines_c"), lit(0L))).as("delta_c"))
    d.groupBy(
        when(col("delta_c") > 0, 1L).when(col("delta_c") < 0, -1L)
          .otherwise(0L).as("sign"),
        when(col("delta_c") === 0, 0L)
          .otherwise(length(abs(col("delta_c")).cast("string")).cast("long"))
          .as("mag_bin"))
      .agg(count(lit(1)).as("n_orders"),
        sum(abs(col("delta_c"))).cast("long").as("total_abs_drift_c"))
  }

  /** COHORT LTV TRIANGLE — cumulative revenue by acquisition cohort and
    * age (the table a growth model is fit to): cohort = the customer's
    * first-order month, age = months since cohort, revenue in exact
    * cents, and the cumulative column runs over a PER-COHORT window on
    * the (cohort × age) grid — calendar²-bounded, so the window state is
    * model-sized at any order volume. Two event-scale shuffles total
    * (first-order min per customer, the (cohort, age) revenue agg);
    * everything after is grid arithmetic.
    */
  val q239LtvTriangle = Q.checked(
    "q239_ltv_triangle",
    """WITH m AS (
      |  SELECT o_custkey AS ck,
      |    CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS BIGINT) AS mi,
      |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS rev_c
      |  FROM orders),
      |fst AS (SELECT ck, min(mi) AS cohort FROM m GROUP BY 1),
      |g AS (
      |  SELECT fst.cohort, m.mi - fst.cohort AS age,
      |    CAST(sum(m.rev_c) AS BIGINT) AS rev_c,
      |    count(DISTINCT m.ck) AS n_custs
      |  FROM m JOIN fst ON fst.ck = m.ck
      |  GROUP BY 1, 2)
      |SELECT cohort, age, rev_c, n_custs,
      |  CAST(sum(rev_c) OVER (PARTITION BY cohort ORDER BY age
      |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_c
      |FROM g""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val m = table(s, dir, "orders")
      .select(col("o_custkey").as("ck"),
        ((year(col("o_orderdate")) - 1995) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("mi"),
        round(col("o_totalprice").cast("double") * 100).cast("long").as("rev_c"))
    val fst = m.groupBy(col("ck")).agg(min(col("mi")).as("cohort"))
    val g = m.join(fst, "ck")
      .groupBy(col("cohort"), (col("mi") - col("cohort")).as("age"))
      .agg(sum(col("rev_c")).cast("long").as("rev_c"),
        countDistinct(col("ck")).as("n_custs"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("cum_rev_c", sum(col("rev_c")).over(w).cast("long"))
  }

  /** DORMANCY BUCKETS — the reactivation-targeting segmentation (how
    * many users went quiet, and how quiet): days since each user's last
    * event vs the corpus max day, folded into lifecycle buckets (active
    * = same day, recent ≤1d, lapsing ≤7d, dormant beyond)
    * with per-bucket user counts and share in exact ppm. One user-keyed
    * max, one 1-row broadcast reference instant, bucket-scale output —
    * nothing event-scale survives the first aggregation.
    */
  val q248DormancyBuckets = Q.checked(
    "q248_dormancy_buckets",
    """WITH d0 AS (SELECT max(CAST(ts AS DATE)) AS d0 FROM events),
      |lastd AS (SELECT user_id, max(CAST(ts AS DATE)) AS ld FROM events GROUP BY 1),
      |b AS (
      |  SELECT CASE
      |    WHEN date_diff('day', ld, d0.d0) <= 0 THEN 'active'
      |    WHEN date_diff('day', ld, d0.d0) <= 1 THEN 'recent'
      |    WHEN date_diff('day', ld, d0.d0) <= 7 THEN 'lapsing'
      |    ELSE 'dormant' END AS bucket
      |  FROM lastd CROSS JOIN d0),
      |t AS (SELECT count(*) AS n FROM b)
      |SELECT bucket, count(*) AS n_users,
      |  count(*) * 1000000 // max(t.n) AS share_ppm
      |FROM b CROSS JOIN t GROUP BY bucket""") { (s, dir) =>
    val ev = table(s, dir, "events")
    val d0 = ev.agg(max(col("ts").cast("date")).as("d0"))
    val lastd = ev.groupBy(col("user_id")).agg(max(col("ts").cast("date")).as("ld"))
    val b = lastd.crossJoin(broadcast(d0))
      .select(when(datediff(col("d0"), col("ld")) <= 0, "active")
        .when(datediff(col("d0"), col("ld")) <= 1, "recent")
        .when(datediff(col("d0"), col("ld")) <= 7, "lapsing")
        .otherwise("dormant").as("bucket"))
    val t = b.agg(count(lit(1)).as("n"))
    b.crossJoin(broadcast(t))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_users"), max(col("n")).as("tn"))
      .select(col("bucket"), col("n_users"),
        expr("n_users * 1000000 DIV tn").as("share_ppm"))
  }

  /** NEW vs REPEAT REVENUE SPLIT — the monthly acquisition-quality
    * readout (how much revenue comes from first-ever customers vs
    * returning ones): an order is "new" iff its month equals its
    * customer's first-order month. One customer-keyed min for the first
    * month, one equi join back (the same hash key the revenue agg
    * shuffles on), monthly-grid output with the new-revenue share in
    * exact ppm. [[q233GrowthAccounting]]'s user-count decomposition,
    * weighted by money — the pair a growth team reads together.
    */
  val q245NewVsRepeat = Q.checked(
    "q245_new_vs_repeat",
    """WITH m AS (
      |  SELECT o_custkey AS ck,
      |    CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS BIGINT) AS mi,
      |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS rev_c
      |  FROM orders),
      |fst AS (SELECT ck, min(mi) AS fm FROM m GROUP BY 1)
      |SELECT m.mi AS month_idx,
      |  CAST(sum(CASE WHEN m.mi = fst.fm THEN m.rev_c ELSE 0 END) AS BIGINT) AS new_rev_c,
      |  CAST(sum(CASE WHEN m.mi > fst.fm THEN m.rev_c ELSE 0 END) AS BIGINT) AS repeat_rev_c,
      |  CAST(sum(CASE WHEN m.mi = fst.fm THEN m.rev_c ELSE 0 END) AS BIGINT)
      |    * 1000000 // CAST(sum(m.rev_c) AS BIGINT) AS new_share_ppm
      |FROM m JOIN fst ON fst.ck = m.ck
      |GROUP BY m.mi""") { (s, dir) =>
    val m = table(s, dir, "orders")
      .select(col("o_custkey").as("ck"),
        ((year(col("o_orderdate")) - 1995) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("mi"),
        round(col("o_totalprice").cast("double") * 100).cast("long").as("rev_c"))
    val fst = m.groupBy(col("ck")).agg(min(col("mi")).as("fm"))
    m.join(fst, "ck")
      .groupBy(col("mi").as("month_idx"))
      .agg(sum(when(col("mi") === col("fm"), col("rev_c")).otherwise(0L))
          .cast("long").as("new_rev_c"),
        sum(when(col("mi") > col("fm"), col("rev_c")).otherwise(0L))
          .cast("long").as("repeat_rev_c"),
        sum(col("rev_c")).cast("long").as("tot"))
      .select(col("month_idx"), col("new_rev_c"), col("repeat_rev_c"),
        expr("new_rev_c * 1000000 DIV tot").as("new_share_ppm"))
  }

  /** DATE SPINE / dense-grid materialization — the warehouse pattern
    * every reporting layer needs and no aggregation produces: the FULL
    * (day × type) grid including the cells with ZERO events (a groupBy
    * can only emit rows that exist; dashboards and forecast models need
    * the explicit zeros, and a silent gap in a daily feed is exactly
    * the row that isn't there). The spine is generated, not scanned:
    * one 1-row min/max bounds agg → sequence() explode → broadcast
    * cross with the distinct type list (both grid-sized at any event
    * volume), then one left join fills observed counts and flags gaps.
    */
  val q235DateSpine = Q.checked(
    "q235_date_spine",
    """WITH bounds AS (
      |  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events),
      |days AS (
      |  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM bounds),
      |ty AS (SELECT DISTINCT event_type FROM events),
      |obs AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT CAST(days.day AS VARCHAR) AS day, ty.event_type,
      |  coalesce(obs.n, 0) AS n,
      |  CAST(CASE WHEN obs.n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
      |FROM days CROSS JOIN ty
      |LEFT JOIN obs ON obs.day = days.day AND obs.event_type = ty.event_type""") { (s, dir) =>
    val ev = table(s, dir, "events")
    val bounds = ev.agg(min(col("ts").cast("date")).as("d0"),
      max(col("ts").cast("date")).as("d1"))
    val days = bounds.select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val ty = ev.select(col("event_type")).distinct()
    val obs = ev.groupBy(col("ts").cast("date").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    days.crossJoin(broadcast(ty))
      .join(obs, Seq("day", "event_type"), "left")
      .select(col("day").cast("string").as("day"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"),
        when(col("n").isNull, 1L).otherwise(0L).as("is_gap"))
  }

  /** GROWTH ACCOUNTING — the daily new / retained / resurrected /
    * churned user decomposition every growth team reports (act(d) =
    * new + retained + resurrected; churned(d) = act(d−1) − retained(d)):
    * the distinct user-day grid is the one event-scale shuffle, the
    * yesterday-join is an equi self-join of that grid on
    * (user, day−1) — the same key the grid is already hashed on — and
    * first-ever days come from one more user-keyed min. Everything
    * downstream is day-grid-sized. Day 1 reports churned NULL (no
    * prior day exists), not a fake zero.
    */
  val q233GrowthAccounting = Q.checked(
    "q233_growth_accounting",
    """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |act AS (SELECT day, count(*) AS act FROM d GROUP BY 1),
      |ret AS (
      |  SELECT a.day, count(*) AS ret
      |  FROM d a JOIN d b ON b.user_id = a.user_id AND b.day = a.day - 1
      |  GROUP BY 1),
      |fst AS (SELECT user_id, min(day) AS fday FROM d GROUP BY 1),
      |nw AS (SELECT fday AS day, count(*) AS nw FROM fst GROUP BY 1)
      |SELECT CAST(act.day AS VARCHAR) AS day, act.act,
      |  coalesce(nw.nw, 0) AS new_users,
      |  coalesce(ret.ret, 0) AS retained,
      |  act.act - coalesce(ret.ret, 0) - coalesce(nw.nw, 0) AS resurrected,
      |  CASE WHEN prev.act IS NULL THEN NULL
      |       ELSE prev.act - coalesce(ret.ret, 0) END AS churned
      |FROM act
      |LEFT JOIN ret ON ret.day = act.day
      |LEFT JOIN nw ON nw.day = act.day
      |LEFT JOIN act prev ON prev.day = act.day - 1""") { (s, dir) =>
    val d = table(s, dir, "events")
      .select(col("user_id"), col("ts").cast("date").as("day"))
      .distinct()
      .localCheckpoint(true) // user-day grid; feeds all four readings
    val act = d.groupBy(col("day")).agg(count(lit(1)).as("act"))
      .localCheckpoint(true) // day-grid-sized; joined to itself shifted
    val ret = d.alias("a")
      .join(d.alias("b"),
        col("b.user_id") === col("a.user_id") &&
          col("b.day") === date_sub(col("a.day"), 1))
      .groupBy(col("a.day").as("day")).agg(count(lit(1)).as("ret"))
    val nw = d.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("nw"))
    act
      .join(ret, Seq("day"), "left")
      .join(nw, Seq("day"), "left")
      .join(act.select(date_add(col("day"), 1).as("day"), col("act").as("prev")),
        Seq("day"), "left")
      .select(col("day").cast("string").as("day"), col("act"),
        coalesce(col("nw"), lit(0L)).as("new_users"),
        coalesce(col("ret"), lit(0L)).as("retained"),
        (col("act") - coalesce(col("ret"), lit(0L)) - coalesce(col("nw"), lit(0L)))
          .as("resurrected"),
        when(col("prev").isNull, lit(null))
          .otherwise(col("prev") - coalesce(col("ret"), lit(0L))).as("churned"))
  }

  /** RECENCY-DECAYED ENGAGEMENT COUNT — the half-life-weighted activity
    * score feature stores keep per user (yesterday's event counts half
    * as much as today's, half-life = 1 day): Σ 2^(−age_days), computed
    * EXACTLY as dyadic integers — each event contributes the integer
    * 2^(30−age) and the result renders as ⌊1000·Σ/2^30⌋ milli-units, so
    * no float pow/exp ever runs (libm decay curves drift cross-engine;
    * shifts cannot). The reference instant is the corpus max day (one
    * 1-row broadcast); ages beyond the 30-day horizon contribute zero
    * explicitly. One map-side-combined aggregation, user-scale output.
    */
  val q229DecayedCount = Q.checked(
    "q229_decayed_count",
    """WITH d0 AS (SELECT max(CAST(ts AS DATE)) AS d0 FROM events),
      |w AS (
      |  SELECT user_id,
      |    CASE WHEN date_diff('day', CAST(ts AS DATE), d0.d0) BETWEEN 0 AND 30
      |         THEN 1::BIGINT << (30 - date_diff('day', CAST(ts AS DATE), d0.d0))
      |         ELSE 0 END AS wt
      |  FROM events CROSS JOIN d0)
      |SELECT user_id, count(*) AS n_events,
      |  CAST(CAST(sum(wt) AS HUGEINT) * 1000 // 1073741824 AS BIGINT) AS decayed_milli
      |FROM w GROUP BY user_id""") { (s, dir) =>
    val ev = table(s, dir, "events")
    val d0 = ev.agg(max(col("ts").cast("date")).as("d0"))
    ev.crossJoin(broadcast(d0))
      .withColumn("age", datediff(col("d0"), col("ts").cast("date")))
      .select(col("user_id"),
        when(col("age").between(0, 30),
          expr("shiftleft(CAST(1 AS BIGINT), 30 - age)"))
          .otherwise(0L).as("wt"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        expr("CAST(CAST(sum(wt) AS DECIMAL(38,0)) * 1000 DIV 1073741824 AS BIGINT)")
          .as("decayed_milli"))
  }

  /** WEEK-OVER-WEEK GROWTH — the BI staple (percent change vs the
    * previous period) in exact ppm: weekly revenue cents per order
    * priority (ISO Monday weeks — Spark and DuckDB agree on
    * date_trunc('week')), then growth = (cur − prev)·10⁶ / prev by
    * integer floor division over the per-priority lag. Event-scale
    * collapses to the (priority × week) grid map-side; the lag window
    * is per-priority over a calendar-bounded series. The growth renders as the
    * RATIO cur·10⁶/prev (1e6 = flat) — always-positive operands, so the
    * floor division is identical cross-engine (signed floor division is
    * not: DuckDB // floors toward −∞, Spark DIV truncates toward zero).
    * First weeks emit NULL (no prior), as does a zero-revenue prior.
    */
  val q230WowGrowth = Q.checked(
    "q230_wow_growth",
    """WITH w AS (
      |  SELECT o_orderpriority AS pri, epoch_us(date_trunc('week', o_orderdate)) AS week_us,
      |    CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)) AS BIGINT) AS rev_c
      |  FROM orders GROUP BY 1, 2),
      |l AS (
      |  SELECT pri, week_us, rev_c,
      |    lag(rev_c) OVER (PARTITION BY pri ORDER BY week_us) AS prev_c
      |  FROM w)
      |SELECT pri, week_us, rev_c, rev_c - prev_c AS delta_c,
      |  CASE WHEN prev_c IS NULL OR prev_c = 0 THEN NULL
      |       ELSE rev_c * 1000000 // prev_c END AS ratio_ppm
      |FROM l""") { (s, dir) =>
    val w = table(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("pri"),
        unix_micros(date_trunc("WEEK", col("o_orderdate"))).as("week_us"))
      .agg(sum(round(col("o_totalprice").cast("double") * 100).cast("long"))
        .cast("long").as("rev_c"))
    val win = Window.partitionBy(col("pri")).orderBy(col("week_us"))
    w.withColumn("prev_c", lag(col("rev_c"), 1).over(win))
      .select(col("pri"), col("week_us"), col("rev_c"),
        (col("rev_c") - col("prev_c")).as("delta_c"),
        when(col("prev_c").isNull || col("prev_c") === 0, lit(null))
          .otherwise(expr("rev_c * 1000000 DIV prev_c")).as("ratio_ppm"))
  }

  /** NEGATIVE SAMPLING for recommender / contrastive training pairs —
    * for every customer, k = 8 deterministic pseudo-random candidate
    * parts (seeded md5 slot mod |parts|), minus anything the customer
    * actually bought: the (user, item⁻) pairs a two-tower or BPR loss
    * consumes. Candidate generation is pure map-side arithmetic (one
    * explode of a k-literal sequence per customer — k·|customers| rows,
    * never |customers|·|parts|); the item-count rides in as a 1-row
    * broadcast; and the subtraction is one LEFT ANTI hash join against
    * the distinct purchase pairs on the (customer, part) key — the same
    * shuffle any dedup pays, no cross join anywhere. Determinism by
    * seed construction means the same sample regenerates on any
    * cluster — the reproducibility training-data splits require.
    */
  val q218NegativeSample = Q.checked(
    "q218_negative_sample",
    """WITH pos AS (
      |  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |np AS (SELECT CAST(max(p_partkey) + 1 AS BIGINT) AS np FROM part),
      |cand AS (
      |  SELECT c_custkey AS ck, CAST(t.i AS BIGINT) AS i,
      |    ('0x' || substring(md5('neg:' || CAST(c_custkey AS VARCHAR) || ':' || CAST(t.i AS VARCHAR)), 1, 8))::BIGINT % np.np AS cand_pk
      |  FROM customer, generate_series(1, 8) t(i) CROSS JOIN np)
      |SELECT ck, i, cand_pk FROM cand
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pos WHERE pos.ck = cand.ck AND pos.pk = cand.cand_pk)""") { (s, dir) =>
    val pos = table(s, dir, "orders")
      .join(table(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("pck"), col("l_partkey").as("pk"))
      .distinct()
    val np = table(s, dir, "part").agg((max(col("p_partkey")) + 1).cast("long").as("np"))
    val cand = table(s, dir, "customer")
      .select(col("c_custkey").as("ck"))
      .withColumn("i", explode(expr("sequence(1L, 8L)")))
      .crossJoin(broadcast(np))
      .withColumn("cand_pk",
        conv(substring(md5(concat(lit("neg:"), col("ck").cast("string"),
          lit(":"), col("i").cast("string"))), 1, 8), 16, 10).cast("long") % col("np"))
    cand.join(pos,
        cand("ck") === pos("pck") && col("cand_pk") === col("pk"), "left_anti")
      .select(col("ck"), col("i"), col("cand_pk"))
  }

  val all: Vector[Q] =
    Vector(q39ThreeStage, q46SkipBad, q47Logalyzer, q47bUrlParse, q48Pi, q49TeraGen,
      q54Jdbc, q54bJdbcTextSplit, q54cJdbcDateSplit, q54dJdbcFloatSplit,
      q54eJdbcBoolSplit, q55Multimodal,
      q55bWavDecode, q55cBmpResize, q55dPngDecode, q55eJpegDecode,
      q55fAviFrames, q55gAviAudio,
      q63ReferenceSelect, q64IndirectRead,
      q65TeraSort, q85Json, q86TimeRollup, q90Pipe, q91Xml, q91bXmlFile,
      q132Profile, q138EventFunnel, q139CohortRetention, q151EwmaAnomaly,
      q152DecileBinning, q154RollingActives, q173SkewAudit, q176ImageFeatures,
      q179AbExperiment, q180FkAudit, q185ItemCf, q191TableFingerprint,
      q199JoinSizeAudit, q200AccumSnapshot, q204RfmScores, q206AssocRules,
      q212Streaks, q218NegativeSample, q220RendezvousShards,
      q223HourBitmap, q229DecayedCount, q230WowGrowth, q233GrowthAccounting,
      q235DateSpine, q238Reconciliation, q239LtvTriangle, q245NewVsRepeat,
      q248DormancyBuckets)
}
