package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** On-demand scale soak (ignored in the regular suite — flip `ignore` to
  * `test` to run): replicate sf0.1 10× into /tmp and run the heaviest
  * operators. Last run (local[4], 16g, 16-seed/8-band minhash via the
  * one-digest-per-group Md5Words path): q51 22.0s (11.7M pairs — the
  * replication creates genuine duplicate groups, C(10,2) per text, so the
  * pair count is data-driven, not a cliff; was 26.8s with per-member
  * digests and 10.7s / 4.7M pairs at the old 8/4 config), q57 24.1s (96k
  * pairs; bucket sizes grow linearly with corpus at fixed plane count —
  * raise `Planes` ∝ log2(corpus) at real scale), q60 1.6s, q30 1.5s over
  * 10M events, q52 0.8s. Round-4 rerun: q51 19.1s, q58 components over
  * all 50k docs 11.5s (bucket-star edges keep it sublinear in the 11.7M
  * pair volume; 1.6× the sf0.1 time at 10× the data), q57 14.8s, q60
  * 1.2s, q30 1.2s, q52 0.5s. Round-5 rerun (window-min star edges +
  * delta-frontier CC, one job per round): q51 15.4s, q58 9.0s (~1.8× the
  * sf0.1 time at 10× the data — the frontier empties after the clique
  * hubs merge, so extra rounds cost frontier-sized, not corpus-sized,
  * work), q57 17.1s, q60 1.0s, q30 1.4s, q52 0.5s. Round-6 run, adding
  * the round-5 query families (events replicated with DISJOINT user ids
  * per copy — see the inline comment): q51 19.6s / 9.26M pairs, q58
  * 11.3s, q57 20.6s, q60 1.1s, q30 1.6s, q52 0.8s, q69 as-of 2.8s over
  * 10M events (~3× its sf0.1 time — the |L|+|R| window scales linearly),
  * q80 range join 3.1s / 92k pairs, q89 percentiles 3.0s over 6M
  * lineitems (per-group sort is the exactness cost, as documented).
  * q87 triangles measured 237s with the old two-hop self-join plan —
  * the replicated corpus makes every dup group a 10× clique, and the
  * join materialized one shuffled row per two-hop path (Σ C(deg,2)) —
  * and 72s after the rewrite to adjacency-array intersection (rows =
  * |E|, nothing wider than an edge shuffles; the rest is the inherent
  * intersection work of a graph whose triangle count itself grew
  * cubically with clique size). Round-8 run adds every round-6/7/8
  * family (q54b/c, q55b/c/d/e, q71b, q72b, q74b, q96, q97, q34c/d/e,
  * q98 PII, q99 HAR over 4,000 real files): all ≤ 2.6s at 10× —
  * map-side decode/score work plus single aggregations scales
  * trivially. Late-round-8 families: q100 dup-spans 10.0s at 10× (its
  * soak forces full evaluation — a bare count() lets Catalyst eliminate
  * the final outer join), q101 packing 0.7s, q102 cap 0.4s, q103 diff
  * 0.6s, q104 k-means step 2.3s, q105 BPE train step 0.8s, q106 URL
  * dedup 2.0s, q107 salted join 10.6s (the deliberate ×8 build-side
  * replication over 6M lineitems — the documented salting cost model),
  * q108 mixture resample 0.8s, q109 curation funnel 0.6s (conditional-aggregation form; 0.9s as six filtered branches), q110 incremental dedup 5.6s (delta-only signatures vs 12.5s full rebuild). Full table in COVERAGE.md §"10× soak
  * record".
  */
class SoakTest extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  ignore("10x soak: dedup + ANN + sort at ~50k docs / 50k vectors / 10M events") {
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak"
    val n = 10
    // documents ×10 with remapped ids
    val docs = spark.read.parquet(s"$base/documents.parquet")
    (0 until n).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    (0 until n).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // events ×10: remap user_id as well as event_id — the temporal joins
    // (q69 as-of, q80 bounded-gap) key on user; replicating users in place
    // would multiply per-user-per-hour event DENSITY 10×, quadratically
    // inflating q80's true-pair count instead of scaling the corpus 10×
    val ev = spark.read.parquet(s"$base/events.parquet")
    (0 until n).map(i => ev
        .withColumn("event_id", col("event_id") + lit(i * 100000000L))
        .withColumn("user_id", col("user_id") + lit(i * 100000000L)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    (0 until n).map(i => li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 1000000000L)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // orders/customer ×10 for the sorted-file shims (q34c/d/e): remap the
    // keys the shims sort/probe on
    val ord = spark.read.parquet(s"$base/orders.parquet")
    (0 until n).map(i => ord
        .withColumn("o_orderkey", col("o_orderkey") + lit(i * 1000000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val cust = spark.read.parquet(s"$base/customer.parquet")
    (0 until n).map(i => cust
        .withColumn("c_custkey", col("c_custkey") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"SOAK $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.1fs  rows=$rows")
    }
    time("q51_minhash_lsh") {
      graft.queries.DedupQueries.q51MinhashLsh.run(spark, dir).count()
    }
    time("q58_dedup_groups") {
      graft.queries.DedupQueries.q58DedupGroups.run(spark, dir).count()
    }
    time("q57_embed_dedup") {
      graft.queries.DedupQueries.q57EmbedDedup.run(spark, dir).count()
    }
    time("q60_ann_cosine") {
      graft.queries.SimilarityQueries.q60AnnCosine.run(spark, dir).count()
    }
    time("q30_sort_validate") {
      graft.queries.SortQueries.q30SortValidate.run(spark, dir).count()
    }
    time("q52_simhash") {
      graft.queries.DedupQueries.q52Simhash.run(spark, dir).count()
    }
    time("q69_asof_join") {
      graft.queries.JoinQueries.q69AsofJoin.run(spark, dir).count()
    }
    time("q80_range_join") {
      graft.queries.JoinQueries.q80RangeJoin.run(spark, dir).count()
    }
    time("q89_percentiles") {
      graft.queries.AggQueries.q89Percentiles.run(spark, dir).count()
    }
    time("q87_triangles") {
      graft.queries.DedupQueries.q87Triangles.run(spark, dir).count()
    }
    // round-6/7/8 families (the previously-unsoaked rows)
    time("q54b_jdbc_text_split") {
      graft.queries.MiscQueries.q54bJdbcTextSplit.run(spark, dir).count()
    }
    time("q54c_jdbc_date_split") {
      graft.queries.MiscQueries.q54cJdbcDateSplit.run(spark, dir).count()
    }
    time("q55b_wav_decode") {
      graft.queries.MiscQueries.q55bWavDecode.run(spark, dir).count()
    }
    time("q55c_bmp_resize") {
      graft.queries.MiscQueries.q55cBmpResize.run(spark, dir).count()
    }
    time("q55d_png_decode") {
      graft.queries.MiscQueries.q55dPngDecode.run(spark, dir).count()
    }
    time("q71b_corpus_freq") {
      graft.queries.TextQueries.q71bCorpusFreq.run(spark, dir).count()
    }
    time("q72b_bpe_tokens") {
      graft.queries.TextQueries.q72bBpeTokens.run(spark, dir).count()
    }
    time("q74b_index_merge") {
      graft.queries.TextQueries.q74bIndexMerge.run(spark, dir).count()
    }
    time("q96_decontaminate") {
      graft.queries.TextQueries.q96Decontaminate.run(spark, dir).count()
    }
    time("q97_binary_dedup") {
      graft.queries.DedupQueries.q97BinaryDedup.run(spark, dir).count()
    }
    time("q34c_setfile") {
      graft.queries.StoreQueries.q34cSetFile.run(spark, dir).count()
    }
    time("q34d_arrayfile") {
      graft.queries.StoreQueries.q34dArrayFile.run(spark, dir).count()
    }
    time("q34e_tfile") {
      graft.queries.StoreQueries.q34eTFile.run(spark, dir).count()
    }
    time("q55e_jpeg_decode") {
      graft.queries.MiscQueries.q55eJpegDecode.run(spark, dir).count()
    }
    time("q98_pii_redact") {
      graft.queries.TextQueries.q98PiiRedact.run(spark, dir).count()
    }
    time("q99_har_4000files") {
      // 10× the q99 shape: 4,000 REAL small files (the per-copy doc_id<400
      // slice of every replica) written, packed, and read back through
      // the archive
      import spark.implicits._
      val src = s"$dir/har_soak_src"
      val arch = s"$dir/har_soak_arch"
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 1000000L < 400)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .foreachPartition { (it: Iterator[(Long, String)]) =>
          val d = java.nio.file.Paths.get(src)
          java.nio.file.Files.createDirectories(d)
          it.foreach { case (id, text) =>
            java.nio.file.Files.write(d.resolve(s"doc$id.txt"),
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        }
      graft.sources.HarLite.build(spark, src, arch, partBytes = 64 * 1024)
      graft.sources.HarLite.open(spark, arch).count()
    }
    time("q100_dup_spans") {
      // count flagged rows, not rows: a bare count() lets Catalyst
      // eliminate the outer join (unique grouped key, no right columns)
      // and would time only the doc scan
      graft.queries.TextQueries.q100DupSpans.run(spark, dir)
        .filter(col("flagged")).count()
    }
    time("q101_seq_pack") {
      graft.queries.TextQueries.q101SeqPack.run(spark, dir).count()
    }
    time("q102_source_cap") {
      graft.queries.TextQueries.q102SourceCap.run(spark, dir).count()
    }
    time("q103_snapshot_diff") {
      graft.queries.DedupQueries.q103SnapshotDiff.run(spark, dir).count()
    }
    time("q104_kmeans_step") {
      graft.queries.SimilarityQueries.q104KmeansStep.run(spark, dir).count()
    }
    time("q105_bpe_train_step") {
      graft.queries.TextQueries.q105BpeTrainStep.run(spark, dir).count()
    }
    time("q106_url_dedup") {
      graft.queries.DedupQueries.q106UrlDedup.run(spark, dir).count()
    }
    time("q107_salted_join") {
      graft.queries.JoinQueries.q107SaltedJoin.run(spark, dir).count()
    }
    time("q108_mixture_resample") {
      graft.queries.TextQueries.q108MixtureResample.run(spark, dir).count()
    }
    time("q109_curation_funnel") {
      graft.queries.TextQueries.q109CurationFunnel.run(spark, dir).count()
    }
    time("q110_incremental_dedup") {
      graft.queries.DedupQueries.q110IncrementalDedup.run(spark, dir).count()
    }
    // round-9 families
    time("q119_sq8_ann") {
      graft.queries.SimilarityQueries.q119Sq8Ann.run(spark, dir).count()
    }
    time("q120_pq_ann") {
      graft.queries.SimilarityQueries.q120PqAnn.run(spark, dir).count()
    }
    time("q121_c4_filters") {
      graft.queries.TextQueries.q121C4Filters.run(spark, dir).count()
    }
    time("q122_ingest_dedup") {
      graft.queries.StreamQueries.q122IngestDedup.run(spark, dir).count()
    }
    // round-10/11 additions
    time("q123_bigram_lm") {
      graft.queries.TextQueries.q123BigramLm.run(spark, dir).count()
    }
    time("q124_ivf_sq8_ann") {
      graft.queries.SimilarityQueries.q124IvfSq8Ann.run(spark, dir).count()
    }
    time("q125_ivfpq_ann") {
      graft.queries.SimilarityQueries.q125IvfPqAnn.run(spark, dir).count()
    }
  }

  /** 100× soak of the dedup family (~500k docs / 200k vectors) — run with
    * `GRAFT_SOAK=1 GRAFT_TEST_MASTER=local[32] GRAFT_TEST_SHUFFLE=64
    * SPARK_DRIVER_MEM=48g`. Large enough that the corpus-adaptive
    * geometry actually GROWS past the verify config (lshGeometry(500k) =
    * 23 bands × 3 rows vs 8×2; srpPlanesFor(200k) = 15 planes vs 6), so
    * this exercises the production shape: sharper bands keep the organic
    * candidate volume in check while the replication cliques (100 copies
    * per doc) stress the bucket cap, the log-diameter CC rounds, and the
    * incremental path's O(delta) claim. Results recorded in COVERAGE.md
    * §"100× soak record".
    */
  private def soakGated(name: String)(body: => Unit): Unit =
    if (sys.env.contains("GRAFT_SOAK")) test(name)(body) else ignore(name)(body)

  soakGated("25x soak: q167b SQ8-served knn graph vs exact at 50k vectors") {
    // 50k vectors, cells=224, probes=15 — candidate volume ≈ 1.7e8
    // (N²·cells^(−1/2)). The SAME geometry scores both ways, so the run
    // prices exactly what q167b changes: the scoring layer. A 200k-vector
    // (100x) mutual graph was ATTEMPTED and is DISK-bound on this box —
    // ~2e9 candidates spilled >46 GB of shuffle before ENOSPC — because
    // SQ8 shrinks the resident STORE 4x, not the candidate count; the
    // documented production posture for all-vectors graphs past ~100k is
    // per-cell candidate capping (diminishing-neighbor truncation) on
    // TOP of whichever scoring layer serves, plus cluster-scale shuffle
    // capacity this single box doesn't have.
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak-q167b"
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    (0 until 25).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    import graft.operators.Similarity
    val nVec = spark.read.parquet(s"$dir/embeddings.parquet").count()
    println(s"SOAK167B geometry: vectors=$nVec " +
      s"cells=${Similarity.ivfCellsFor(nVec)} " +
      s"probes=${Similarity.ivfProbesFor(Similarity.ivfCellsFor(nVec))}")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"SOAK167B $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.1fs  rows=$rows")
    }
    time("q167_exact") {
      graft.queries.SimilarityQueries.q167KnnGraph.run(spark, dir).count()
    }
    time("q167b_sq8") {
      graft.queries.SimilarityQueries.q167bKnnGraphSq8.run(spark, dir).count()
    }
  }

  soakGated("100x soak: q167c per-cell-capped knn graph at 200k vectors (the run that ENOSPC'd uncapped)") {
    // The uncapped 200k-vector graph at board geometry (448 cells, 22
    // probes) produced ~2e9 candidates = N²·cells^(−1/2) and spilled
    // >46 GB of shuffle before ENOSPC on this box. The per-cell cap is
    // the promised fix, now code (Similarity.knnGraphSq8 with a capPerCell): with
    // cap = ⌈avg⌉/4 = 112 the candidate join is bounded at
    // N·nProbe·cap ≈ 4.9e8 rows — a 4× volume reduction at the SAME
    // geometry, the only change being the cap. (The other production
    // knob — more cells, FAISS's nlist ≈ 4–16√N guidance — composes
    // with the cap; this run isolates the cap so it re-prices exactly
    // the configuration that died.) Recall of the trade is floored in
    // RecallSpec at verify scale; at 200k the uncapped reference is
    // uncomputable on one box, which is the point.
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak-q167c"
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    (0 until 100).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    import graft.operators.Similarity
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val nVec = corpus.count()
    val cells = Similarity.ivfCellsFor(nVec)
    val probes = Similarity.ivfProbesFor(cells)
    val cap = Similarity.knnCellCapFor(nVec, cells, 3) / 4
    println(s"SOAK167C geometry: vectors=$nVec cells=$cells probes=$probes cap=$cap " +
      s"candidateBound=${nVec * probes * cap}")
    val centroids = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val t0 = System.nanoTime()
    val edges = Similarity.knnGraphSq8(corpus, centroids, probes, 3, cap).count()
    println(f"SOAK167C q167c_capped        ${(System.nanoTime() - t0) / 1e9}%7.1fs  rows=$edges")
    assert(edges > 0, "capped graph produced no mutual edges")
    // The cell-key join shape ALONE (registered q167b geometry, no cap):
    // proves the ENOSPC was the pairs-first payload re-shuffle, not the
    // candidate volume per se — candidates drain in-stage into the
    // map-side top-k, so even the full ~2e9-candidate graph completes
    // within disk; the cap remains the worst-case/skew COMPUTE bound.
    val t1 = System.nanoTime()
    val edgesUncapped = Similarity.knnGraphSq8(corpus, centroids, probes, 3).count()
    println(f"SOAK167C q167b_uncapped      ${(System.nanoTime() - t1) / 1e9}%7.1fs  rows=$edgesUncapped")
    assert(edgesUncapped > 0, "uncapped graph produced no mutual edges")
  }

  soakGated("soak: q167d incremental knn graph — build once at 190k, serve a 5% delta") {
    // The q183/q150c amortization question asked for the graph family:
    // what does a daily append cost vs rebuilding the capped graph?
    // Build rides the q167c 200k posture config (geometry from the BASE
    // count, cap = ⌈avg⌉/4); serve appends the held-out 5% under the
    // frozen config (centroids, quantizer, cap). Serve cost is
    // delta-driven: |delta|·cells assignment + touched-cell re-ranks +
    // (affected ∪ delta)·nProbe·cap scoring — the splice reuses every
    // unaffected query's stored top-k verbatim (KnnIncrementalSpec
    // proves serve ≡ frozen-config rebuild two-way at verify scale).
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak-q167d"
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    (0 until 100).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    import graft.operators.Similarity
    val allv = spark.read.parquet(s"$dir/embeddings.parquet")
    val baseV = allv.filter(col("vec_id") % 20 =!= 19)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val deltaV = allv.filter(col("vec_id") % 20 === 19)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val nb = baseV.count()
    val cells = Similarity.ivfCellsFor(nb)
    val probes = Similarity.ivfProbesFor(cells)
    val cap = Similarity.knnCellCapFor(nb, cells, 3) / 4
    println(s"SOAK167D geometry: base=$nb delta=${deltaV.count()} cells=$cells " +
      s"probes=$probes cap=$cap")
    val centroids = baseV.orderBy(col("xid")).limit(cells)
      .select(col("xid").as("cid"), col("xvec").as("cvec"))
    val t0 = System.nanoTime()
    val idx = Similarity.knnGraphBuild(baseV, centroids, probes, 3, cap)
    val baseEdges = idx.directed.count()
    println(f"SOAK167D build               ${(System.nanoTime() - t0) / 1e9}%7.1fs  directed=$baseEdges")
    // the trickle regime — a minute-level ingest batch (0.05%): the
    // serve cost model's every term is delta-driven, so this is where
    // the amortization shows; the 5% row below prices a full daily batch
    val trickle = deltaV.filter(col("xid") % 2000L === 19L)
    val t2 = System.nanoTime()
    val servedT = Similarity.knnGraphServe(idx, trickle).count()
    println(f"SOAK167D serve_100_delta     ${(System.nanoTime() - t2) / 1e9}%7.1fs  rows=$servedT")
    val t1 = System.nanoTime()
    val served = Similarity.knnGraphServe(idx, deltaV).count()
    println(f"SOAK167D serve_5pct_delta    ${(System.nanoTime() - t1) / 1e9}%7.1fs  rows=$served")
    assert(served > 0, "served graph produced no mutual edges")
  }

  soakGated("250x soak: q167d incremental graph at the 500k posture scale") {
    // the q167c 250× posture row's incremental sibling: build once at
    // 475k vectors (95%), serve the 25k daily batch and a 250-vector
    // trickle under the frozen config — the amortization numbers the
    // half-million-vector deployment quotes
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak-q167d500"
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    (0 until 250).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    import graft.operators.Similarity
    val allv = spark.read.parquet(s"$dir/embeddings.parquet")
    val baseV = allv.filter(col("vec_id") % 20 =!= 19)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val deltaV = allv.filter(col("vec_id") % 20 === 19)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val nb = baseV.count()
    val cells = Similarity.ivfCellsFor(nb)
    val probes = Similarity.ivfProbesFor(cells)
    val cap = Similarity.knnCellCapFor(nb, cells, 3) / 4
    println(s"SOAK167D500 geometry: base=$nb delta=${deltaV.count()} cells=$cells " +
      s"probes=$probes cap=$cap")
    val centroids = baseV.orderBy(col("xid")).limit(cells)
      .select(col("xid").as("cid"), col("xvec").as("cvec"))
    val t0 = System.nanoTime()
    val idx = Similarity.knnGraphBuild(baseV, centroids, probes, 3, cap)
    val baseEdges = idx.directed.count()
    println(f"SOAK167D500 build              ${(System.nanoTime() - t0) / 1e9}%7.1fs  directed=$baseEdges")
    val trickle = deltaV.filter(col("xid") % 2000L === 19L)
    val t2 = System.nanoTime()
    val servedT = Similarity.knnGraphServe(idx, trickle).count()
    println(f"SOAK167D500 serve_250_delta    ${(System.nanoTime() - t2) / 1e9}%7.1fs  rows=$servedT")
    val t1 = System.nanoTime()
    val served = Similarity.knnGraphServe(idx, deltaV).count()
    println(f"SOAK167D500 serve_5pct_delta   ${(System.nanoTime() - t1) / 1e9}%7.1fs  rows=$served")
    assert(served > 0, "served graph produced no mutual edges")
  }

  soakGated("250x soak: q167c capped knn graph at 500k vectors (the stated posture scale)") {
    // The COVERAGE posture phrase was always "past ~100k / at 500k
    // vectors"; this run puts a number on the half-million case. Geometry
    // derives from the corpus (708 cells, 27 probes), cap = ⌈avg⌉/4 = 177
    // → candidate bound 500k·27·177 ≈ 2.4e9 scanned IN-STAGE (the
    // cell-join shape), vs ~9.4e9 uncapped — the cap is what keeps the
    // half-million graph a coffee-break build instead of an hour-class
    // one on one box.
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak-q167c500"
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    (0 until 250).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    import graft.operators.Similarity
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val nVec = corpus.count()
    val cells = Similarity.ivfCellsFor(nVec)
    val probes = Similarity.ivfProbesFor(cells)
    val cap = Similarity.knnCellCapFor(nVec, cells, 3) / 4
    println(s"SOAK167C500 geometry: vectors=$nVec cells=$cells probes=$probes cap=$cap " +
      s"candidateBound=${nVec * probes * cap}")
    val centroids = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < cells)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val t0 = System.nanoTime()
    val edges = Similarity.knnGraphSq8(corpus, centroids, probes, 3, cap).count()
    println(f"SOAK167C500 q167c_capped_500k ${(System.nanoTime() - t0) / 1e9}%7.1fs  rows=$edges")
    assert(edges > 0, "capped graph produced no mutual edges")
  }

  soakGated("100x soak: q183 incremental-CC build/serve amortization at ~500k docs") {
    // the O(delta) claim, measured: BUILD (base bands + base CC) runs
    // once and persists; SERVE re-bands only the delta, pulls the
    // touched buckets from the persisted band table, contracts through
    // the persisted labels, and CCs the delta-scale graph. The full
    // recompute prices what serve saves; parity is asserted, not assumed.
    import graft.operators.Dedup
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak-q183"
    val docs0 = spark.read.parquet(s"$base/documents.parquet")
    (0 until 100).map(i => docs0.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val baseDocs = docs.filter(col("doc_id") % 10 =!= 0)
    val deltaDocs = docs.filter(col("doc_id") % 10 === 0)
    // geometry fixed at BASE time (the q110 stored-signature convention)
    val (bnd, rpb) = Dedup.lshGeometry(baseDocs.count())
    println(s"SOAK183 geometry: bands=$bnd rows=$rpb")
    def bandsOf(d: org.apache.spark.sql.DataFrame) =
      Dedup.textBands(d, bnd, rpb)
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"SOAK183 $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.1fs  rows=$rows")
    }
    // BUILD: persisted band table + base component labels
    time("build_bands+base_cc") {
      bandsOf(baseDocs).write.mode("overwrite").parquet(s"$dir/bands.parquet")
      Dedup.connectedComponents(
          Dedup.bucketStarEdges(spark.read.parquet(s"$dir/bands.parquet")))
        .write.mode("overwrite").parquet(s"$dir/base_labels.parquet")
      spark.read.parquet(s"$dir/base_labels.parquet").count()
    }
    val baseBands = spark.read.parquet(s"$dir/bands.parquet")
    val baseLabels = spark.read.parquet(s"$dir/base_labels.parquet")
    var served: org.apache.spark.sql.DataFrame = null
    time("serve_delta") {
      // delta-only signatures; only the buckets the delta touches rejoin
      val deltaBands = bandsOf(deltaDocs).localCheckpoint(true)
      val touched = baseBands.join(
        deltaBands.select(col("band"), col("key")).distinct(),
        Seq("band", "key"), "left_semi")
      val deltaEdges = Dedup.bucketStarEdges(touched.unionByName(deltaBands))
        .filter(col("a") % 10 === 0 || col("b") % 10 === 0)
      served = Dedup.ccIncrementalServe(baseLabels, deltaEdges)
        .localCheckpoint(true)
      served.count()
    }
    var full: org.apache.spark.sql.DataFrame = null
    time("full_recompute") {
      full = Dedup.connectedComponents(Dedup.bucketStarEdges(bandsOf(docs)))
        .select(col("id").as("doc_id"), col("lbl").as("component"))
        .localCheckpoint(true)
      full.count()
    }
    // parity: serve ≡ full recompute on every labeled doc (the oracle
    // proves this at verify scale; assert it holds at production shape)
    assert(served.exceptAll(full).isEmpty && full.exceptAll(served).isEmpty,
      "incremental serve diverged from the full recompute")
  }

  soakGated("100x soak: CC streaming ingest + retire at ~500k docs (the round-18 maintenance paths)") {
    // the q183b/ccRetire paths priced at the posture scale the q183 soak
    // established: BUILD once through the crash-atomic store, RESUME a
    // fresh ingest from the committed version, fold the 10% delta as one
    // streamed batch (ccDeltaStarEdges — touched buckets only), then
    // tombstone 1000 docs incl. hubs through the affected-component
    // re-solve, with the staleness dial read along the way
    import graft.operators.Dedup
    import graft.streaming.CcIngest
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak-ccing"
    val docs0 = spark.read.parquet(s"$base/documents.parquet")
    (0 until 100).map(i => docs0.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val baseDocs = docs.filter(col("doc_id") % 10 =!= 0)
    val deltaDocs = docs.filter(col("doc_id") % 10 === 0)
    val (bnd, rpb) = Dedup.lshGeometry(baseDocs.count())
    def bandsOf(d: org.apache.spark.sql.DataFrame) =
      Dedup.textBands(d, bnd, rpb)
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"SOAKCC $name%-24s ${(System.nanoTime() - t0) / 1e9}%7.1fs  rows=$rows")
    }
    time("build_save_committed") {
      val bb = bandsOf(baseDocs).localCheckpoint(true)
      val bl = Dedup.connectedComponents(Dedup.bucketStarEdges(bb))
      Dedup.ccIndexSave(Dedup.CcIndex(bb, bl, bnd, rpb, baseDocs.count()),
        s"$dir/index")
      bl.count()
    }
    val ingest = CcIngest.resume(spark, s"$dir/index")
    time("stream_fold_10pct") {
      ingest.foldBatch(deltaDocs, 0L)
      ingest.index.labels.count()
    }
    time("staleness_probe") {
      val r = Dedup.ccStaleness(ingest.index.docCount, bnd, rpb).first()
      println(s"SOAKCC staleness: $r")
      assert(!r.getAs[Boolean]("stale"),
        s"10% growth inside the geometry step must stay quiet: $r")
      1L
    }
    var retired: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = null
    time("retire_1000_incl_hubs") {
      val dels = ingest.index.labels.filter(col("id") === col("lbl"))
        .select(col("id")).limit(200)
        .unionByName(ingest.index.labels.filter(col("id") % 997 === 3).select(col("id")))
        .limit(1000).localCheckpoint(true)
      retired = Dedup.ccRetire(ingest.index.bands, ingest.index.labels, dels)
      retired._2.localCheckpoint(true).count()
    }
    // parity at posture scale: retire ≡ rebuild over the surviving bands
    time("rebuild_for_parity") {
      val full = Dedup.connectedComponents(
        Dedup.bucketStarEdges(retired._1)).localCheckpoint(true)
      assert(retired._2.exceptAll(full).isEmpty
        && full.exceptAll(retired._2).isEmpty,
        "posture-scale retire diverged from the rebuild")
      full.count()
    }
  }

  soakGated("100x soak: round-13 tail families (SCD2, item CF, boolean BM25, SSSP, transitions, weighted pct)") {
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak-r14"
    // lineitem x100 with shifted order keys: baskets keep their size, so
    // q185's pair volume scales x100 linearly (and q190's mass does too)
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    (0 until 100).map(i => li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // orders x100 with shifted order keys, custkeys UNCHANGED: q181's
    // as-of windows see ~100x probes per dimension key
    val o = spark.read.parquet(s"$base/orders.parquet")
    (0 until 100).map(i => o.withColumn("o_orderkey", col("o_orderkey") + lit(i * 100000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // customer stays 1x: it is the SCD dimension
    spark.read.parquet(s"$base/customer.parquet")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // events x100 with DISJOINT users (the round-6 convention): q188's
    // type-side hubs reach ~100x degree, q189 sees 100x users
    val ev = spark.read.parquet(s"$base/events.parquet")
    (0 until 100).map(i => ev
        .withColumn("event_id", col("event_id") + lit(i * 100000000L))
        .withColumn("user_id", col("user_id") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // documents x100 for q186
    val docs = spark.read.parquet(s"$base/documents.parquet")
    (0 until 100).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"SOAKR14 $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.1fs  rows=$rows")
    }
    time("q181_scd2_join") {
      graft.queries.JoinQueries.q181Scd2Join.run(spark, dir).count()
    }
    time("q185_item_cf") {
      graft.queries.MiscQueries.q185ItemCf.run(spark, dir).count()
    }
    time("q186_boolean_bm25") {
      graft.queries.TextQueries.q186BooleanBm25.run(spark, dir).count()
    }
    time("q188_weighted_sssp") {
      graft.queries.DedupQueries.q188WeightedSssp.run(spark, dir).count()
    }
    time("q189_transition_matrix") {
      graft.queries.StreamQueries.q189TransitionMatrix.run(spark, dir).count()
    }
    time("q190_weighted_pct") {
      graft.queries.AggQueries.q190WeightedPct.run(spark, dir).count()
    }
  }

  soakGated("100x soak: round-14 batch-2 (dwell pct, RFM, assoc rules, 2-step markov)") {
    // events x100 disjoint users (q203 gap windows per user stay small,
    // q204 aggregates 100x users, q205's model stays |types|-sized);
    // lineitem x100 shifted orders (q206 pair volume scales linearly,
    // the q185 law)
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak-r14b"
    val ev = spark.read.parquet(s"$base/events.parquet")
    (0 until 100).map(i => ev
        .withColumn("event_id", col("event_id") + lit(i * 100000000L))
        .withColumn("user_id", col("user_id") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    (0 until 100).map(i => li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"SOAKR14B $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.1fs  rows=$rows")
    }
    time("q203_dwell_time_pct") {
      graft.queries.AggQueries.q203DwellTimePct.run(spark, dir).count()
    }
    time("q204_rfm_scores") {
      graft.queries.MiscQueries.q204RfmScores.run(spark, dir).count()
    }
    time("q205_markov_2step") {
      graft.queries.StreamQueries.q205Markov2Step.run(spark, dir).count()
    }
    time("q206_assoc_rules") {
      graft.queries.MiscQueries.q206AssocRules.run(spark, dir).count()
    }
  }

  soakGated("100x soak: round-13 families (BPE train loop, hybrid RAG serving)") {
    // ~500k docs — the BPE loop's vocab collapse and the chunk index's
    // √N geometry both grow past the verify config (cells(~700k chunks)
    // ≈ 830 vs 27): the production shape, not a replay
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak100-r13"
    val n = 100
    val docs = spark.read.parquet(s"$base/documents.parquet")
    (0 until n).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"SOAK100 $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.1fs  rows=$rows")
    }
    time("q105b_bpe_train_loop") {
      graft.queries.TextQueries.q105bBpeTrainLoop.run(spark, dir).count()
    }
    time("q150b_rag_hybrid") {
      graft.queries.TextQueries.q150bRagHybrid.run(spark, dir).count()
    }
  }

  soakGated("100x soak: RAG build/serve amortization (the q150c split) at ~500k docs") {
    // q150b's one-shot 100× wall (~148 s) is dominated by the chunk-index
    // BUILD; q150c splits it. Here the artifacts are REAL parquet (what a
    // daily pipeline stores), and a 5-query batch serves from the loaded
    // index — the amortization claim priced: build once, serve cheap.
    import graft.operators.Similarity
    import graft.operators.Retrieval
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak-q150c"
    val docs = spark.read.parquet(s"$base/documents.parquet")
    (0 until 100).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"SOAK150C $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.1fs  rows=$rows")
    }
    time("build_persist_index") {
      val idx = Retrieval.ragIndexBuild(spark, dir)
      idx.postings.write.mode("overwrite").parquet(s"$dir/postings.parquet")
      idx.termStats.write.mode("overwrite").parquet(s"$dir/termstats.parquet")
      idx.tot.write.mode("overwrite").parquet(s"$dir/tot.parquet")
      idx.centroids.write.mode("overwrite").parquet(s"$dir/centroids.parquet")
      idx.index.write.mode("overwrite").parquet(s"$dir/sq8index.parquet")
      spark.read.parquet(s"$dir/sq8index.parquet").count()
    }
    val loaded = {
      val index = spark.read.parquet(s"$dir/sq8index.parquet")
      val n = index.count()
      // stats are unused on this serve path (codes are pre-encoded);
      // cells re-derives from the build-time count
      Retrieval.RagIndex(
        spark.read.parquet(s"$dir/postings.parquet"),
        spark.read.parquet(s"$dir/termstats.parquet"),
        broadcast(spark.read.parquet(s"$dir/tot.parquet")),
        n,
        spark.read.parquet(s"$dir/centroids.parquet"),
        index, Nil, Similarity.ivfCellsFor(n))
    }
    val nProbe = Similarity.ivfProbesFor(Similarity.ivfCellsFor(loaded.corpusCount))
    def serveBatch(n: Long): Long =
      (0L until n).map { qd =>
        val qt = spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") === qd)
          .select(explode(graft.operators.Dedup.tokens(col("text"))).as("term"))
          .distinct()
        val dense = Similarity.ivfSq8Serve(loaded.index,
            Retrieval.ragQueryVector(spark, dir, qd), loaded.centroids, nProbe, 20)
          .select(col("xid"), col("rank").as("cos_rank"))
        Retrieval.ragFuse(Retrieval.ragBm25Serve(loaded, qt, 20), dense).count()
      }.sum
    time("serve_5_query_batch") { serveBatch(5L) }
    // the marginal-cost curve: per-query wall at batch 50 vs batch 5
    // pins how much of the 2.9 s/query was fixed per-batch plan overhead
    // (the number the 100 TB amortization paragraph quotes)
    time("serve_50_query_batch") { serveBatch(50L) }
  }

  /** Drive a serve CLI in a CHILD JVM — a session that never saw the
    * build — and return its one-line JSON. The child rides tools/run.sh
    * (compiled classes + spark jars, the driver's own launch shape);
    * stderr inherits so Spark warnings stay visible in the soak log.
    *
    * Runs the child TWICE and reports the MIN wall (round-19 item 5:
    * one-shot child walls swung 3× between same-session runs on a
    * contended host — the round-6 failure mode, solved for the board
    * with min-of-2 pins and applied here so the recurring COVERAGE
    * serve-latency rows are trustworthy round-over-round). Both raw
    * walls print for provenance; the returned JSON is the min run's.
    */
  private def freshJvm(env: Map[String, String], args: String*): String = {
    import scala.jdk.CollectionConverters._
    def once(): (Double, String) = {
      val pb = new ProcessBuilder(
        (Seq("/root/repo/tools/run.sh") ++ args).asJava)
      pb.directory(new java.io.File("/root/repo"))
      env.foreach { case (k, v) => pb.environment().put(k, v) }
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val t0 = System.nanoTime()
      val proc = pb.start()
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      val code = proc.waitFor()
      assert(code == 0, s"child JVM exited $code: $out")
      val line = out.linesIterator.filter(_.startsWith("{")).toSeq.lastOption
        .getOrElse(fail(s"child JVM printed no JSON line: $out"))
      ((System.nanoTime() - t0) / 1e9, line)
    }
    val (w1, l1) = once()
    val (w2, l2) = once()
    println(f"FRESHJVM child_walls raw ${w1}%.1fs / ${w2}%.1fs  " +
      f"min ${math.min(w1, w2)}%.1fs  ${if (w2 <= w1) l2 else l1}")
    if (w2 <= w1) l2 else l1
  }

  soakGated("soak: q167e persisted knn index — fresh-JVM load+serve vs build at 190k") {
    // The verdict's deployability gap, closed with a number: the q167d
    // soak proved IN-SESSION serve amortization (build 149.8 s, trickle
    // 7.7 s); here the artifacts go to parquet via knnIndexSave and the
    // serve runs in a CHILD JVM that knows only the paths — the daily
    // pipeline's actual shape. The row prices build vs save vs
    // fresh-session load+serve of a 100-vector trickle.
    import graft.operators.Similarity
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak-q167e"
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    (0 until 100).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val allv = spark.read.parquet(s"$dir/embeddings.parquet")
    val baseV = allv.filter(col("vec_id") % 20 =!= 19)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    // two disjoint 50-vector trickle batches of DISTINCT embeddings (the
    // replica-0 block of the held-out 5%): batch 1 prices the cold
    // start, batch 2 the chained steady state (appended to batch 1's
    // returned index inside the child session)
    val trickle = allv
      .filter(col("vec_id") % 20 === 19 && col("vec_id") < 2000L)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    trickle.filter(col("xid") % 40 === 19)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/trickleA.parquet")
    trickle.filter(col("xid") % 40 =!= 19)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/trickleB.parquet")
    val nb = baseV.count()
    val cells = Similarity.ivfCellsFor(nb)
    val probes = Similarity.ivfProbesFor(cells)
    val cap = Similarity.knnCellCapFor(nb, cells, 3) / 4
    println(s"SOAK167E geometry: base=$nb trickle=${trickle.count()} cells=$cells " +
      s"probes=$probes cap=$cap")
    val centroids = baseV.orderBy(col("xid")).limit(cells)
      .select(col("xid").as("cid"), col("xvec").as("cvec"))
    val t0 = System.nanoTime()
    val idx = Similarity.knnGraphBuild(baseV, centroids, probes, 3, cap)
    val directed = idx.directed.count()
    println(f"SOAK167E build               ${(System.nanoTime() - t0) / 1e9}%7.1fs  directed=$directed")
    val t1 = System.nanoTime()
    Similarity.knnIndexSave(idx, s"$dir/index")
    println(f"SOAK167E save_artifacts      ${(System.nanoTime() - t1) / 1e9}%7.1fs")
    val line = freshJvm(
      Map("SPARK_GRAFT_CPUS" -> "32", "SPARK_DRIVER_MEM" -> "16g"),
      "graft.KnnServeMain", s"$dir/index",
      s"$dir/trickleA.parquet", s"$dir/trickleB.parquet")
    assert("\"edges\":\\d".r.findAllIn(line).size == 2 && !line.contains("\"edges\":0"),
      s"fresh-JVM serve must report two non-empty chained batches: $line")
    // the staleness probe priced at this posture: after the daily-shaped
    // trickle append, the re-index trigger must cost seconds (three
    // bounded narrow aggs over artifacts the session already holds) and
    // stay QUIET — the 1%-regime is exactly where re-indexing is waste
    val cur = Similarity.knnGraphAppend(idx, trickle)
    val t2 = System.nanoTime()
    val probe = Similarity.knnStaleness(idx, cur).first()
    println(f"SOAK167E staleness_probe     ${(System.nanoTime() - t2) / 1e9}%7.1fs  $probe")
    assert(!probe.getAs[Boolean]("stale"),
      s"the trickle regime must not trigger a re-index: $probe")
  }

  soakGated("250x soak: q167e persisted knn index at the 500k posture — fresh-JVM serve") {
    // the 190k fresh-JVM row's scaling check at the stated posture
    // scale: does the save/load layer stay proportional when the build
    // is an 848 s job? (save is one corpus-linear write; load+serve is
    // narrow-pin + delta work)
    import graft.operators.Similarity
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak-q167e500"
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    (0 until 250).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val allv = spark.read.parquet(s"$dir/embeddings.parquet")
    val baseV = allv.filter(col("vec_id") % 20 =!= 19)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val trickle = allv
      .filter(col("vec_id") % 20 === 19 && col("vec_id") < 2000L)
      .select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    trickle.filter(col("xid") % 40 === 19)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/trickleA.parquet")
    trickle.filter(col("xid") % 40 =!= 19)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/trickleB.parquet")
    val nb = baseV.count()
    val cells = Similarity.ivfCellsFor(nb)
    val probes = Similarity.ivfProbesFor(cells)
    val cap = Similarity.knnCellCapFor(nb, cells, 3) / 4
    println(s"SOAK167E500 geometry: base=$nb cells=$cells probes=$probes cap=$cap")
    val centroids = baseV.orderBy(col("xid")).limit(cells)
      .select(col("xid").as("cid"), col("xvec").as("cvec"))
    val t0 = System.nanoTime()
    val idx = Similarity.knnGraphBuild(baseV, centroids, probes, 3, cap)
    val directed = idx.directed.count()
    println(f"SOAK167E500 build              ${(System.nanoTime() - t0) / 1e9}%7.1fs  directed=$directed")
    val t1 = System.nanoTime()
    Similarity.knnIndexSave(idx, s"$dir/index")
    println(f"SOAK167E500 save_artifacts     ${(System.nanoTime() - t1) / 1e9}%7.1fs")
    val line = freshJvm(
      Map("SPARK_GRAFT_CPUS" -> "32", "SPARK_DRIVER_MEM" -> "24g"),
      "graft.KnnServeMain", s"$dir/index",
      s"$dir/trickleA.parquet", s"$dir/trickleB.parquet")
    assert("\"edges\":\\d".r.findAllIn(line).size == 2 && !line.contains("\"edges\":0"),
      s"fresh-JVM serve must report two non-empty chained batches: $line")
  }

  soakGated("100x soak: q150d persisted RAG index — fresh-JVM bucket/cell-pruned serve") {
    // the q150c amortization made cross-session: build + ragIndexSave
    // once (~500k docs), then a child JVM serves one hybrid query from
    // the term-bucketed/cell-partitioned artifacts alone
    import graft.operators.Retrieval
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak-q150d"
    val docs = spark.read.parquet(s"$base/documents.parquet")
    (0 until 100).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t0 = System.nanoTime()
    Retrieval.ragIndexSave(Retrieval.ragIndexBuild(spark, dir), s"$dir/index")
    println(f"SOAK150D build_save          ${(System.nanoTime() - t0) / 1e9}%7.1fs")
    val line = freshJvm(
      Map("SPARK_GRAFT_CPUS" -> "32", "SPARK_DRIVER_MEM" -> "16g"),
      "graft.RagServeMain", s"$dir/index", s"$dir/documents.parquet",
      "7,11,23,42,99", "20")
    assert("\"hits\":10".r.findAllIn(line).size == 5,
      s"fresh-JVM serve must answer all 5 queries: $line")
    // the daily ingest priced against the 295 s build_save: load
    // yesterday's artifacts, append a 1% doc batch (a fresh replica
    // block shifted past the corpus), serve over the appended index
    val newDocs = spark.read.parquet(s"$base/documents.parquet")
      .filter(col("doc_id") % 20 === 7)
      .withColumn("doc_id", col("doc_id") + lit(500000000L))
    val t1 = System.nanoTime()
    val app = graft.operators.Retrieval.ragIndexAppend(
      graft.operators.Retrieval.ragIndexLoad(spark, s"$dir/index"), newDocs)
    val served = graft.operators.Retrieval.ragServeDisk(app,
      graft.operators.Retrieval.ragQueryTermsOf(
        spark.read.parquet(s"$dir/documents.parquet"), 7L).localCheckpoint(true),
      graft.operators.Retrieval.ragQueryVector(spark, dir, 7L)
        .localCheckpoint(true), 20).count()
    println(f"SOAK150D append_1pct_serve   ${(System.nanoTime() - t1) / 1e9}%7.1fs  hits=$served")
    assert(served == 10, s"appended-index serve returned $served hits")
  }

  soakGated("soak: two-JVM writer/reader — reader serves across a live commit+prune") {
    // The cross-PROCESS proof of IndexStoreSpec's retention story — the
    // last gap between the in-process spec and the daemon posture: a
    // READER child (RagServeMain) serves the same query in a loop while
    // THIS JVM, the writer, folds a delta through the ingest and
    // commits v2 (+prune) mid-loop. Required: the reader (a) survives
    // the commit — its in-flight v1 FileScans keep reading retained
    // files, no FileNotFoundException; (b) picks up v2 at its next
    // query via the serve-refresh re-resolve; (c) answers match the
    // parent-computed expected checksum for WHICHEVER version each
    // query ran against — correct on both sides of the flip. This is a
    // MECHANISM soak (concurrency across processes), not a pricing
    // one, so it runs the un-replicated sf0.1 corpus and asserts no
    // walls.
    import graft.operators.Retrieval
    import scala.jdk.CollectionConverters._
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak-2jvm"
    val qdoc = 13L
    // the store is VERSIONED — wipe it so this run's build commits v=1
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$dir/index"))
    spark.read.parquet(s"$base/documents.parquet")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Retrieval.ragIndexSave(Retrieval.ragIndexBuildOf(docs), s"$dir/index")
    assert(graft.core.IndexStore.latest(spark, s"$dir/index").get.version == 1L)
    def checksum(idx: Retrieval.RagIndex): Long = {
      val row = docs.filter(col("doc_id") === qdoc).localCheckpoint(true)
      val res = Retrieval.ragServeDisk(idx,
        Retrieval.ragQueryTermsOf(row, qdoc).localCheckpoint(true),
        Retrieval.ragQueryVectorOf(row, qdoc).localCheckpoint(true), 20)
        .localCheckpoint(true)
      res.agg(coalesce(
        expr(s"sum((doc_id * ${Retrieval.ChunkIdBase} + chunk_id) * rank)"),
        lit(0L))).first().getLong(0)
    }
    val expectV1 = checksum(Retrieval.ragIndexLoad(spark, s"$dir/index"))
    // READER child: the same query doc 20 times, re-resolving between
    val pb = new ProcessBuilder(Seq("/root/repo/tools/run.sh",
      "graft.RagServeMain", s"$dir/index", s"$dir/documents.parquet",
      Seq.fill(20)(qdoc.toString).mkString(","), "20").asJava)
    pb.directory(new java.io.File("/root/repo"))
    pb.environment().put("SPARK_GRAFT_CPUS", "8")
    pb.environment().put("SPARK_DRIVER_MEM", "8g")
    val proc = pb.start()
    try {
    val firstServed = new java.util.concurrent.CountDownLatch(1)
    val errThread = new Thread(() => {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getErrorStream))
      Iterator.continually(br.readLine()).takeWhile(_ != null).foreach { l =>
        if (l.startsWith("RAGSERVE_QUERY")) {
          println(s"SOAK2JVM reader: $l")
          firstServed.countDown()
        }
      }
    })
    errThread.setDaemon(true); errThread.start()
    assert(firstServed.await(600, java.util.concurrent.TimeUnit.SECONDS),
      "reader child never served its first query")
    // WRITER (this JVM): fold a delta batch, commit v2, prune — while
    // the reader is mid-loop on v1. The delta includes near-copies of
    // the QUERY doc itself (full term overlap + identical dense vector
    // → they MUST enter its fused top-k), so the v1→v2 answer flip is
    // guaranteed observable, plus an ordinary doc slice for bulk.
    val newDocs = docs.filter(col("doc_id") % 20 === 7)
      .unionByName(docs.filter(col("doc_id") === qdoc))
      .withColumn("doc_id", col("doc_id") + lit(500000000L))
      .localCheckpoint(true)
    val ingest = graft.streaming.RagIngest.resume(spark, s"$dir/index")
    ingest.foldBatch(newDocs, 0L)
    val tW = System.nanoTime()
    ingest.save(s"$dir/index")
    println(f"SOAK2JVM writer commit+prune ${(System.nanoTime() - tW) / 1e9}%7.1fs")
    assert(graft.core.IndexStore.latest(spark, s"$dir/index").get.version == 2L)
    val expectV2 = checksum(Retrieval.ragIndexLoad(spark, s"$dir/index"))
    assert(expectV1 != expectV2,
      "fixture must change the answer across the flip, or the soak is vacuous")
    val out = new String(proc.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    val code = proc.waitFor()
    assert(code == 0, s"reader child exited $code: $out")
    val rec = """"sum":(-?\d+),"v":(\d+)""".r
    val got = rec.findAllMatchIn(out)
      .map(m => (m.group(2).toLong, m.group(1).toLong)).toSeq
    assert(got.size == 20, s"reader must answer all 20 queries: $out")
    val (atV1, atV2) = (got.count(_._1 == 1L), got.count(_._1 == 2L))
    println(s"SOAK2JVM reader queries: $atV1 at v1, $atV2 at v2")
    assert(atV1 >= 1, s"no query served at v1 — writer flipped too early: $out")
    assert(atV2 >= 1, s"no query served at v2 — reader never refreshed: $out")
    got.foreach { case (v, sum) =>
      val want = if (v == 1L) expectV1 else expectV2
      assert(sum == want,
        s"reader answer at v=$v was $sum, expected $want — wrong config served")
    }
    } finally proc.destroyForcibly() // no orphan on assertion failure
  }

  soakGated("soak: exact-audit growth laws (q194 containment to dense x100, q226/q237 at 100x)") {
    // Two fixture families isolate the q194 cost law (candidates =
    // Σ_A Σ_{w ∈ prefix(A)} df(w) over DISTINCT sets):
    //  (a) ×10 NAMESPACED replicas (every token suffixed _rN) — corpus
    //      grows 10×, per-replica df structure unchanged → candidate
    //      volume and wall must scale ~linearly;
    //  (b) ×k REPLICATED (same tokens) — corpus grows k× AND every df
    //      grows k×. Pre-round-16 this priced candidates at k²× base
    //      (dense×10 = 641.8 s; a dense×100 attempt drained 54 GB of
    //      shuffle disk before being stopped — the board's last
    //      single-box ceiling). The round-16 EXACT-SET COLLAPSE makes
    //      replica densification output-bound: identical token sets
    //      run once and results expand through the member map, so
    //      dense×10 AND the formerly-impossible dense×100 both reduce
    //      to the base-sized candidate problem + clique expansion
    //      (5k × k·(k−1) intra pairs + k² × 512 organic pairs).
    // Organic (non-replica) density growth is still verify-priced; for
    // hot corpora the approximate route remains q198's LSH containment,
    // and past ContainmentBroadcastTokens the verify switches to the
    // narrow-row matched-token count (forced here on dense10 via
    // budget=0 to measure the Σ_cand·na narrow-row law at soak scale —
    // exactness of that path is oracle-proven by q194b). q226/q237 ride
    // the ×100 namespaced fixture: both are candidate-scale audits
    // (signature-agreement scan; md5-truth group join), no array-wide
    // verify anywhere.
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak-audit"
    val docs = spark.read.parquet(s"$base/documents.parquet")
    def namespaced(n: Int, out: String): Unit =
      (0 until n).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
          .withColumn("text",
            expr(s"array_join(transform(split(text, ' '), w -> concat(w, '_r$i')), ' ')")))
        .reduce(_ unionByName _)
        .repartition(64)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    namespaced(10, s"$dir/ns10")
    namespaced(100, s"$dir/ns100")
    def dense(n: Int, out: String): Unit =
      (0 until n).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
        .reduce(_ unionByName _)
        .repartition(64)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    dense(10, s"$dir/dense")
    dense(100, s"$dir/dense100")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"SOAKAUD $name%-26s ${(System.nanoTime() - t0) / 1e9}%7.1fs  rows=$rows")
    }
    time("q194_containment_ns10") {
      graft.queries.DedupQueries.q194ContainmentJoin.run(spark, s"$dir/ns10").count()
    }
    time("q194_containment_dense10") {
      graft.queries.DedupQueries.q194ContainmentJoin.run(spark, s"$dir/dense").count()
    }
    time("q194_dense10_narrow_forced") {
      import graft.operators.Dedup
      val d = spark.read.parquet(s"$dir/dense/documents.parquet")
        .select(col("doc_id").as("id"),
          array_distinct(Dedup.bigrams(col("text"))).as("toks"))
      Dedup.containmentJoin(d, 80, broadcastTokenBudget = 0L).count()
    }
    time("q194_containment_dense100") {
      graft.queries.DedupQueries.q194ContainmentJoin.run(spark, s"$dir/dense100").count()
    }
    // q128 on the SAME replica fixtures: identical token sets are
    // Jaccard-1.0 cliques, so pre-collapse this cost k² like q194 did;
    // with the shared exact-set collapse both densifications must be
    // output-bound (one representative per distinct set runs the prefix
    // join; verdicts expand through membership)
    time("q128_setsim_dense10") {
      graft.queries.DedupQueries.q128SetsimJoin.run(spark, s"$dir/dense").count()
    }
    time("q128_setsim_dense100") {
      graft.queries.DedupQueries.q128SetsimJoin.run(spark, s"$dir/dense100").count()
    }
    time("q226_calibration_ns100") {
      graft.queries.DedupQueries.q226MinhashCalibration.run(spark, s"$dir/ns100").count()
    }
    // the summary surface on the same dense×100 fixture: q128's
    // enumerated answer there is 29.7B rows whose DRAIN is the wall
    // (3592 s in round 17 — 8.3M pairs/s of answer production never
    // asks for); q128b computes the per-clique pair counts
    // ARITHMETICALLY over the representative join, so the wall must
    // collapse to the base-join class — the number that proves the
    // output term, not the candidate term, was all that remained
    time("q128b_cliques_dense100") {
      graft.queries.DedupQueries.q128bSetsimCliques.run(spark, s"$dir/dense100").count()
    }
    time("q237_blocking_ns100") {
      graft.queries.DedupQueries.q237BlockingQuality.run(spark, s"$dir/ns100").count()
    }
  }

  soakGated("soak: round-13 batch-1 graph family (k-core at 100x, knn graph at 10x)") {
    // q168 rides the 100×-doc fixture: the peel's cost is 3 rounds of
    // degree agg + semi joins over the clique-heavy candidate graph the
    // q51/q58 soaks already price. q167 soaks at 10× vectors (50k)
    // DELIBERATELY: an all-vectors exact-candidate graph costs
    // N²·cells^(−1/2) = N^1.75 with √N cells — at 500k vectors that is
    // ~9e9 exact 64-dim dots, the honest wall of the exact-scoring
    // variant. Production at that size swaps the scoring side to SQ8
    // codes (q124's serving path) or caps per-cell work; the 10× run
    // prices the exact path where it is actually deployable.
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak-b1"
    val docs = spark.read.parquet(s"$base/documents.parquet")
    (0 until 100).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    (0 until 10).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    import graft.operators.Similarity
    println(s"SOAKB1 geometry: cells(50k)=${Similarity.ivfCellsFor(50000L)} " +
      s"probes=${Similarity.ivfProbesFor(Similarity.ivfCellsFor(50000L))}")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"SOAKB1 $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.1fs  rows=$rows")
    }
    time("q168_kcore") {
      graft.queries.DedupQueries.q168Kcore.run(spark, dir).count()
    }
    time("q167_knn_graph") {
      graft.queries.SimilarityQueries.q167KnnGraph.run(spark, dir).count()
    }
  }

  soakGated("100x soak: dedup family at ~500k docs (auto-geometry at scale)") {
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak100"
    val n = 100
    val docs = spark.read.parquet(s"$base/documents.parquet")
    (0 until n).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    (0 until n).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    import graft.operators.{Dedup, Similarity}
    println(s"SOAK100 geometry: lsh(500k)=${Dedup.lshGeometry(500000L)} " +
      s"srpPlanes(200k)=${Similarity.srpPlanesFor(200000L)}")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"SOAK100 $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.1fs  rows=$rows")
    }
    time("q51_minhash_lsh") {
      graft.queries.DedupQueries.q51MinhashLsh.run(spark, dir).count()
    }
    time("q58_dedup_groups") {
      graft.queries.DedupQueries.q58DedupGroups.run(spark, dir).count()
    }
    time("q57_embed_dedup") {
      graft.queries.DedupQueries.q57EmbedDedup.run(spark, dir).count()
    }
    time("q110_incremental_dedup") {
      graft.queries.DedupQueries.q110IncrementalDedup.run(spark, dir).count()
    }
  }

  /** 100× soak of the round-9/11 families — same replication scheme and
    * env contract as the dedup soak above. Adds a 100×-replicated events
    * table for q122: event_id shifts per replica (rows stay distinct) but
    * user_id does NOT, so each logical (user × type × day) key sees ~100
    * replayed candidates — exactly the at-least-once burst the rank-1
    * window must absorb, with partial WindowGroupLimit pruning losers
    * map-side. SemDeDup runs at its balanced √(N/2) geometry over the
    * full 200k-vector corpus (N^1.5 total work claim under test);
    * SQ8/PQ/IVF×SQ8 exercise the encode-once barrier and (for q124) the
    * cell-pruned scan at the geometry DERIVED from the 200k-vector corpus
    * (ivfCellsFor/ivfProbesFor — 448 cells / 22 probes; the run prints
    * the exact numbers). Results in COVERAGE.md §"100× soak record".
    */
  soakGated("100x soak: ANN + semantic dedup + ingest dedup at production shape") {
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak100b"
    val n = 100
    val docs = spark.read.parquet(s"$base/documents.parquet")
    (0 until n).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    (0 until n).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val ev = spark.read.parquet(s"$base/events.parquet")
    (0 until n).map(i => ev.withColumn("event_id", col("event_id") + lit(i * 100000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    import graft.operators.Similarity
    val nVec = spark.read.parquet(s"$dir/embeddings.parquet").count()
    println(s"SOAK100B geometry: vectors=$nVec " +
      s"ivfCells=${Similarity.ivfCellsFor(nVec)} " +
      s"probes=${Similarity.ivfProbesFor(Similarity.ivfCellsFor(nVec))} " +
      s"dedupCells=${Similarity.dedupCellsFor(nVec)}")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"SOAK100B $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.1fs  rows=$rows")
    }
    time("q115_paragraph_dedup") {
      graft.queries.DedupQueries.q115ParagraphDedup.run(spark, dir).count()
    }
    time("q116_semantic_dedup") {
      graft.queries.SimilarityQueries.q116SemanticDedup.run(spark, dir).count()
    }
    time("q119_sq8_ann") {
      graft.queries.SimilarityQueries.q119Sq8Ann.run(spark, dir).count()
    }
    time("q120_pq_ann") {
      graft.queries.SimilarityQueries.q120PqAnn.run(spark, dir).count()
    }
    time("q124_ivf_sq8_ann") {
      graft.queries.SimilarityQueries.q124IvfSq8Ann.run(spark, dir).count()
    }
    time("q122_ingest_dedup") {
      graft.queries.StreamQueries.q122IngestDedup.run(spark, dir).count()
    }
    // the amortization measurement the one-shot q124 number motivates:
    // build the index ONCE (the production OPTIMIZE job), then time a
    // query batch against the built index — the steady-state serving
    // cost, which is what a 100 TB deployment actually pays per batch
    val emb2 = spark.read.parquet(s"$dir/embeddings.parquet")
    val n2 = emb2.count()
    val cells2 = Similarity.ivfCellsFor(n2)
    val corpus2 = emb2.select(col("vec_id").as("xid"), col("embedding").as("xvec"))
    val cents2 = emb2.filter(col("vec_id") < cells2)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    var index: org.apache.spark.sql.DataFrame = null
    time("q124_build_once") {
      index = Similarity.ivfSq8Build(corpus2, cents2).localCheckpoint()
      index.count()
    }
    val queries2 = emb2.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    time("q124_serve_batch") {
      Similarity.ivfSq8Serve(index, queries2, cents2,
        Similarity.ivfProbesFor(cells2), 3).count()
    }
  }

  /** 100× soak of the round-11 families — zorder layout, pagerank, exact
    * set-similarity join. Fixture notes:
    *
    *  - events ×100 remap BOTH ids COMPACTLY (user + i·1500, event +
    *    i·100000) so the 10M-row corpus stays inside 25 interleave bits
    *    and the layout measurement runs on REAL id space, not masked low
    *    bits.
    *  - pagerank gets its own ×350 user-remapped table: 350 · 1500 users
    *    + 5 type nodes = 525,005 nodes — the "flat lineage at 500k+
    *    nodes" claim under test, with the 5 type nodes as ~500k-degree
    *    hubs (the skew case map-side partial sums must absorb).
    *  - setsim CANNOT take the exact-copy replication the other soaks
    *    use: the operator is output-bound and every original qualifying
    *    pair becomes copies² pairs (2.97M t80 pairs at sf0.1 → 29.7B at
    *    ×100 — the ANSWER explodes, not the algorithm). The ×100 corpus
    *    here prefixes every token with its replica id, giving disjoint
    *    per-replica vocabularies: 100× the docs, 100× the vocab, the
    *    SAME similarity structure (organic pairs scale ×100, not ×100²).
    *    The adversarial clique shape runs at ×10 (exact copies), chosen
    *    so both runs emit ~19M pairs at t=0.95 — equal output, 10× vs
    *    100× corpus, so the wall difference isolates corpus-size cost
    *    from output cost.
    */
  soakGated("100x soak: zorder layout + pagerank hubs + setsim growth law") {
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak100c"
    val n = 100
    val reps = broadcast(spark.range(n).select(col("id").as("rep")))
    // user_id: compact per-replica blocks (0..150k). event_id: replicas
    // INTERLEAVED across the whole 0..10M range (id·100 + rep), NOT
    // blocked — blocked replication correlates the two dims (each replica
    // owns one block in each), which lets a single-column sort bound both
    // dims and voids the layout comparison.
    val ev = spark.read.parquet(s"$base/events.parquet")
    ev.crossJoin(reps)
      .select((col("user_id") + col("rep") * lit(1500L)).as("user_id"),
        (col("event_id") * lit(100L) + col("rep")).as("event_id"),
        col("event_type"), col("ts"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val reps350 = broadcast(spark.range(350).select(col("id").as("rep")))
    ev.crossJoin(reps350)
      .select((col("user_id") + col("rep") * lit(100000000L)).as("user_id"),
        col("event_type"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/pagerank/events.parquet")
    val docsTok = spark.read.parquet(s"$base/documents.parquet")
      .select(col("doc_id").as("id"),
        array_distinct(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("toks"))
    docsTok.crossJoin(reps)
      .select((col("id") + col("rep") * lit(1000000L)).as("id"),
        expr("transform(toks, x -> concat('r', rep, '~', x))").as("toks"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/setsim_tokens.parquet")
    docsTok.crossJoin(broadcast(spark.range(10).select(col("id").as("rep"))))
      .select((col("id") + col("rep") * lit(1000000L)).as("id"), col("toks"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/setsim_clique10.parquet")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"SOAK100C $name%-24s ${(System.nanoTime() - t0) / 1e9}%7.1fs  rows=$rows")
    }

    // --- q126: the registered bucket agg over 10M rows, then the real
    // OPTIMIZE job (range-partition by z + sort) and the pruning figure
    // of merit against a linear single-column layout
    time("q126_zorder_10M") {
      graft.queries.SortQueries.q126Zorder.run(spark, dir).count()
    }
    // z-dims must be NORMALIZED to equal bit width: user spans 18 bits
    // (150k) but event spans 24 (10M), and interleaving them raw puts the
    // top 6 z bits all on the event dim — the layout degenerates to a
    // linear sort by event. event_id div 64 brings both dims to 18 bits.
    import graft.operators.ZOrder
    val ev10 = spark.read.parquet(s"$dir/events.parquet")
    var laid: org.apache.spark.sql.DataFrame = null
    time("q126_layout_job") {
      laid = ZOrder.layout(ev10, col("user_id"), expr("event_id div 64"), 18, 64)
        .persist()
      laid.count()
    }
    val envZ = ZOrder.partitionEnvelopes(laid, col("user_id"), col("event_id"))
    val linear = ev10.repartitionByRange(64, col("user_id"))
      .sortWithinPartitions(col("user_id"))
    val envL = ZOrder.partitionEnvelopes(linear, col("user_id"), col("event_id"))
    laid.unpersist()
    // box = 1/8 of each id range; y-only predicate = 1/8 of event range
    val (uMax, eMax) = (150000L, 10000000L)
    val box = (uMax / 2, uMax / 2 + uMax / 8, eMax / 2, eMax / 2 + eMax / 8)
    println(s"SOAK100C q126 pruning: 2-D box z=" +
      s"${ZOrder.touchedPartitions(envZ, box._1, box._2, box._3, box._4)}/${envZ.length} " +
      s"linear=${ZOrder.touchedPartitions(envL, box._1, box._2, box._3, box._4)}/${envL.length}; " +
      s"x-only z=${ZOrder.touchedPartitions(envZ, box._1, box._2, 0, eMax)}/${envZ.length} " +
      s"linear=${ZOrder.touchedPartitions(envL, box._1, box._2, 0, eMax)}/${envL.length}; " +
      s"y-only z=${ZOrder.touchedPartitions(envZ, 0, uMax, eMax / 2, eMax / 2 + eMax / 8)}/${envZ.length} " +
      s"linear=${ZOrder.touchedPartitions(envL, 0, uMax, eMax / 2, eMax / 2 + eMax / 8)}/${envL.length}")

    // --- q127: the registered 3-iteration query at 525k nodes, then an
    // inline 10-iteration loop printing per-iteration wall — flat wall
    // is the per-iteration localCheckpoint lineage-truncation claim
    time("q127_pagerank_525k") {
      graft.queries.DedupQueries.q127Pagerank.run(spark, s"$dir/pagerank").count()
    }
    locally {
      import graft.operators.Graph
      val edges = Graph.userTypeEdges(spark.read.parquet(s"$dir/pagerank/events.parquet")
        .select(col("user_id"), col("event_type")).distinct())
      val deg = Graph.outDegree(edges)
      var ranks = deg.select(col("src").as("node"), lit(1000000L).as("pr"))
      for (it <- 1 to 10) {
        val t0 = System.nanoTime()
        ranks = Graph.pagerankContrib(edges, deg)(ranks)
          .select(col("node"), (lit(150000L) + col("pr")).as("pr"))
          .localCheckpoint(true)
        println(f"SOAK100C q127 iter $it%2d: ${(System.nanoTime() - t0) / 1e9}%5.1fs")
      }
    }

    // --- q128: growth law at t=0.95. Raw prefix-join volume is computed
    // WITHOUT the join (Σ_w C(c_w, 2) over prefix-token counts), then
    // filtered+distinct candidates, then the full verified join — the
    // candidates/answers ratio is the number that must stay bounded for
    // the output-bound claim to extrapolate
    import graft.operators.Dedup
    for ((label, path) <- Seq(
        ("x1_organic", null: String),
        ("x100_disjoint", s"$dir/setsim_tokens.parquet"),
        ("x10_clique", s"$dir/setsim_clique10.parquet"))) {
      val docsIn =
        if (path == null) docsTok
        else spark.read.parquet(path)
      val (_, pref, cand) = Dedup.setSimParts(docsIn, 95)
      val raw = pref.groupBy(col("w")).agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L))).head().getLong(0)
      val candN = cand.count()
      time(s"q128_setsim_$label") {
        Dedup.setSimJoin(docsIn, 95).count()
      }
      println(s"SOAK100C q128 $label: rawJoinRows=$raw candidates=$candN")
    }
  }

  /** 100× soak of the round-12 families — 500k docs / 10M events at the
    * shapes that stress each operator's scale claim:
    *  - documents: doc_id shifted per replica AND every token marked
    *    `r{rep}~w`, so the shingle/vocab domain really grows ×100
    *    (plain replication would leave q140's weight table and q144's
    *    per-source shingle sets at base size); lang/source/n_chars
    *    preserved.
    *  - events: event_id/user_id shifted per replica (150k users — LPA
    *    hub degree at production shape) and `value + rep` so the scaled
    *    value domain is ~10M DISTINCT values — q141's worst case, where
    *    the histogram compresses nothing and the prefix sum runs over
    *    row-count-sized input.
    * Queries run through their REGISTERED bodies. Results in COVERAGE.md
    * §"100× soak record".
    */
  soakGated("100x soak: round-12 families (selection, percentiles, labelprop, shuffle, overlap, compaction)") {
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak100d"
    val n = 100
    val reps = broadcast(spark.range(n).select(col("id").as("rep")))
    spark.read.parquet(s"$base/documents.parquet").crossJoin(reps)
      .select((col("doc_id") + col("rep") * lit(1000000L)).as("doc_id"),
        array_join(expr("transform(split(text, ' '), w -> concat('r', rep, '~', w))"),
          " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.read.parquet(s"$base/events.parquet").crossJoin(reps)
      .select((col("event_id") + col("rep") * lit(100000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + col("rep") * lit(1500L)).as("user_id"),
        col("event_type"),
        (col("value") + col("rep")).as("value"),
        col("props"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"SOAK100D $name%-24s ${(System.nanoTime() - t0) / 1e9}%7.1fs  rows=$rows")
    }
    time("q140_dsir_select") {
      graft.queries.TextQueries.q140DsirSelect.run(spark, dir).count()
    }
    time("q141_exact_pct_hist") {
      graft.queries.AggQueries.q141ExactPctHist.run(spark, dir).count()
    }
    time("q142_label_prop") {
      graft.queries.DedupQueries.q142LabelProp.run(spark, dir).count()
    }
    time("q143_train_shuffle") {
      graft.queries.TextQueries.q143TrainShuffle.run(spark, dir).count()
    }
    time("q144_source_overlap") {
      graft.queries.DedupQueries.q144SourceOverlap.run(spark, dir).count()
    }
    time("q145_compaction_plan") {
      graft.queries.StoreQueries.q145CompactionPlan.run(spark, dir).count()
    }
  }

  /** 100× soak of the q149 star join — 60M lineitem / 15M orders against
    * the unreplicated dims (orderkey-shifted replicas keep o_custkey, so
    * every replica joins the same 1,500 customers / 100 suppliers: the
    * fact tables grow, the dimensional model doesn't — exactly how a
    * real warehouse scales). Measures the broadcast-dims + natural-key
    * shuffle-join plan at fact scale.
    */
  soakGated("100x soak: star join at 60M lineitem") {
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak100e"
    val n = 100
    val reps = broadcast(spark.range(n).select(col("id").as("rep")))
    spark.read.parquet(s"$base/orders.parquet").crossJoin(reps)
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * lit(1000000000L))
      .drop("rep").repartition(64)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    spark.read.parquet(s"$base/lineitem.parquet").crossJoin(reps)
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * lit(1000000000L))
      .drop("rep").repartition(64)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    for (t <- Seq("region", "nation", "customer", "supplier"))
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    val t0 = System.nanoTime()
    val rows = graft.queries.JoinQueries.q149StarJoin.run(spark, dir).count()
    println(f"SOAK100E q149_star_join ${(System.nanoTime() - t0) / 1e9}%7.1fs  rows=$rows")
  }

  soakGated("100x soak: distributed prefix family at 60M rows (globalRank/runningTotal/runningMax)") {
    // The two-pass prefix operators' scale claim, measured: globalRank
    // totally orders SIXTY MILLION rows (q211's equi-depth binning ranks
    // every lineitem), while runningTotal (q208 Pareto) and runningMax
    // (q222 skyline) run over the 2M-part aggregated tables. In every
    // pass the driver holds exactly one Long per partition — the point
    // of the family. partkeys remap per copy so the catalog genuinely
    // grows; orderkeys remap so the (c, orderkey, linenumber) rank order
    // stays total. Results in COVERAGE.md §"Round-14 soak records".
    val base = "/root/testdata/sf0.1"
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-soak-prefix"
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    (0 until 100).map(i => li
        .withColumn("l_partkey", col("l_partkey") + lit(i * 1000000L))
        .withColumn("l_orderkey", col("l_orderkey") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val n = spark.read.parquet(s"$dir/lineitem.parquet").count()
    println(s"SOAKPREFIX rows=$n")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"SOAKPREFIX $name%-24s ${(System.nanoTime() - t0) / 1e9}%7.1fs  rows=$rows")
    }
    time("q211_equidepth_bins") {
      graft.queries.SortQueries.q211EquidepthBins.run(spark, dir).count()
    }
    time("q208_pareto_abc") {
      graft.queries.AggQueries.q208ParetoAbc.run(spark, dir).count()
    }
    time("q222_skyline") {
      graft.queries.SortQueries.q222Skyline.run(spark, dir).count()
    }
  }
}

/** Dev tool: phase volumes of the set-similarity join at a given
  * threshold — `graft.SetSimProbe <dir> <tPct>` prints raw prefix-join
  * rows, candidates after the PPJoin filters, and verified answers.
  */
object SetSimProbe {
  def main(args: Array[String]): Unit = {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"${args(0)}/documents.parquet")
      .select(col("doc_id").as("id"),
        array_distinct(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("toks"))
    val t = args(1).toInt
    val (_, pref, cand) = graft.operators.Dedup.setSimParts(docs, t)
    val raw = pref.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L))).head().getLong(0)
    println(s"SETSIM t=$t raw=$raw cand=${cand.count()} " +
      s"answers=${graft.operators.Dedup.setSimJoin(docs, t).count()}")
  }
}

/** Dev tool: time one registered query against an arbitrary table dir —
  * `graft.SoakOne <dir> <query>...` on the test classpath. Lets a new
  * family get its 10× number from an existing soak replication without
  * re-running the whole suite.
  */
object SoakOne {
  def main(args: Array[String]): Unit = {
    val spark = TestSpark.spark
    val dir = args(0)
    args.drop(1).foreach { name =>
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(name)(spark, dir).count()
      println(f"SOAK $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.1fs  rows=$rows")
    }
  }

}
