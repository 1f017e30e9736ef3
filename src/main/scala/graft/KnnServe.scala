package graft

import graft.core.{IndexFamily, IndexStore}
import graft.operators.{Retrieval, Similarity}
import org.apache.spark.sql.functions.col

/** Fresh-session serve CLI for a persisted k-NN index — the daily-pipeline
  * entry the save/load split exists for: a build job wrote the artifacts
  * with [[graft.operators.Similarity.knnIndexSave]] in SOME earlier
  * session; this JVM knows nothing but the paths, reconstitutes the index
  * with [[graft.operators.Similarity.knnIndexLoad]] (every frame a
  * FileScan over the cell-partitioned store), folds in the delta, and
  * emits the mutual-edge count plus wall seconds as one JSON line. The
  * fresh-JVM soak drives this binary to price load+serve against the
  * build it amortizes.
  *
  * Each delta batch CHAINS through [[graft.operators.Similarity
  * .knnGraphAppend]]'s returned index, so batch 2+ prices the daemon's
  * steady state (artifacts already pinned, only the delta moves) while
  * batch 1 carries the cold-start load.
  *
  * SERVE-REFRESH: before each batch the daemon re-resolves the store's
  * committed version (one directory listing + marker read — cheap at
  * batch granularity) and, when a writer committed a newer version,
  * re-loads and re-pins from it before folding — the committed store
  * supersedes local fold state (the writer owns the index; this JVM's
  * folds are serve-side scratch). Between the commit and this refresh
  * the old frames keep reading the RETAINED prior version — the
  * [[graft.core.IndexStore.prune]] grace window the two-JVM soak
  * exercises against a live writer.
  *
  * Each batch line, and the final line for the load, carries `compiles`:
  * the generated classes compiled in that step ([[graft.core.Graft
  * .codegenCompiles]]). From the third batch on it should read ~0.
  *
  * Usage: KnnServeMain <indexPath> <deltaParquet> [<deltaParquet2> ...]
  * (delta parquet schema: xid long, xvec array<float>; ids unique
  * across index ∪ all deltas — the append contract)
  */
object KnnServeMain {
  /** The delta schema of the usage line. */
  private val DeltaSchema =
    org.apache.spark.sql.types.StructType.fromDDL("xid BIGINT, xvec ARRAY<FLOAT>")

  /** One delta batch, read with [[DeltaSchema]] instead of an inference
    * job. A file whose column has another type fails in the parquet
    * reader; a file without `xid` or `xvec` reads them as nulls, which
    * fail here.
    */
  def readDelta(spark: org.apache.spark.sql.SparkSession,
                path: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{lit, raise_error, when}
    def present(c: String) = when(col(c).isNull, raise_error(
      lit(s"KnnServeMain: delta $path has a null or missing $c"))).otherwise(col(c)).as(c)
    spark.read.schema(DeltaSchema).parquet(path).select(present("xid"), present("xvec"))
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: KnnServeMain <indexPath> <deltaParquet> [<deltaParquet2> ...]")
      sys.exit(2)
    }
    val indexPath = args(0)
    val cpus = graft.core.Graft.cores
    val spark = graft.core.Graft.session("graft-knn-serve", cpus.toString, cpus)
    // serving posture: pin the NARROW artifacts (ids/cells/ranks — ~1% of
    // the index bytes) so the serve's repeated uses don't re-list the
    // cell-partitioned store; the wide vector/code tables stream from disk
    def pinned(raw: graft.operators.Similarity.KnnIndex) = raw.copy(
      servable = raw.servable.localCheckpoint(true),
      probes = raw.probes.localCheckpoint(true),
      assignD2 = raw.assignD2.localCheckpoint(true),
      directed = raw.directed.localCheckpoint(true))
    val compiles0 = graft.core.Graft.codegenCompiles
    val t0 = System.nanoTime()
    // every load reads the directory of the one commit it resolved, so
    // `v` is always the version the batch was answered from
    val (c0, idx0) = IndexFamily.load[Similarity.KnnIndex](spark, indexPath)
    var v = c0.version
    var idx = pinned(idx0)
    val load = (System.nanoTime() - t0) / 1e9
    val loadCompiles = graft.core.Graft.codegenCompiles - compiles0
    val batches = args.drop(1).toSeq.map { deltaPath =>
      val t1 = System.nanoTime()
      val cc1 = graft.core.Graft.codegenCompiles
      val c = IndexStore.committed(spark, indexPath)
      if (c.version != v) { // a writer moved the store — refresh before folding
        idx = pinned(IndexFamily.read[Similarity.KnnIndex](spark, indexPath, c))
        v = c.version
      }
      idx = graft.operators.Similarity.knnGraphAppend(idx, readDelta(spark, deltaPath))
      val edges = graft.operators.Similarity.mutualize(idx.directed).count()
      val line =
        f"""{"edges":$edges,"v":$v,"sec":${(System.nanoTime() - t1) / 1e9}%.1f,""" +
          s""""compiles":${graft.core.Graft.codegenCompiles - cc1}}"""
      System.err.println(s"KNNSERVE_BATCH $line") // streamed for 2-JVM soaks
      line
    }
    println(f"""{"load_sec":$load%.1f,"batches":[${batches.mkString(",")}],""" +
      s""""compiles":$loadCompiles}""")
    spark.stop()
  }
}

/** Fresh-session serve CLI for a persisted RAG chunk index — the same
  * cross-session contract as [[KnnServeMain]] for the retrieval family:
  * load the [[graft.operators.Retrieval.ragIndexSave]] artifacts
  * (term-bucketed postings, cell-partitioned SQ8 codes), ask one query
  * doc's hybrid top-k through the bucket/cell-pruned
  * [[graft.operators.Retrieval.ragServeDisk]] path, print one JSON line.
  *
  * Per-query timings separate the cold first query (artifact listing,
  * codegen warmup) from the steady-state marginal cost q150c's curve
  * measures in-session.
  *
  * SERVE-REFRESH: before each query the daemon re-resolves the store's
  * committed version and re-loads when a writer moved it — between the
  * commit and the refresh, in-flight reads keep hitting the RETAINED
  * prior version (the prune grace window). Each per-query record
  * carries the version it answered from plus a result checksum
  * (Σ (doc_id·chunkBase + chunk_id)·rank over the fused top-k), so the
  * two-JVM soak can assert the answers match the right config on BOTH
  * sides of a live writer's version flip.
  *
  * Usage: RagServeMain <indexPath> <documentsParquet> <qdoc>[,<qdoc>...] [k]
  */
object RagServeMain {
  private val usage =
    "usage: RagServeMain <indexPath> <documentsParquet> <qdoc>[,<qdoc>...] [k]"

  def main(args: Array[String]): Unit = {
    if (args.length < 3) { System.err.println(usage); sys.exit(2) }
    val (indexPath, docsPath) = (args(0), args(1))
    val qdocs = args(2).split(',').toSeq.flatMap(q => q.toLongOption.orElse {
      System.err.println(s"$usage\n  bad qdoc '$q' (expected a long)")
      sys.exit(2)
    })
    val k = if (args.length > 3) args(3).toIntOption.getOrElse {
      System.err.println(s"$usage\n  bad k '${args(3)}' (expected an int)")
      sys.exit(2)
    } else 20
    val cpus = graft.core.Graft.cores
    val spark = graft.core.Graft.session("graft-rag-serve", cpus.toString, cpus)
    val t0 = System.nanoTime()
    // as in KnnServeMain: `v` is always the version the query read
    val (c0, idx0) = IndexFamily.load[Retrieval.RagIndex](spark, indexPath)
    var v = c0.version
    var idx = idx0
    val load = (System.nanoTime() - t0) / 1e9
    val docs = spark.read.parquet(docsPath) // its schema inferred once
    val queries = qdocs.map { qdoc =>
      val t1 = System.nanoTime()
      val c = IndexStore.committed(spark, indexPath)
      if (c.version != v) { // a writer moved the store — serve the new version
        idx = IndexFamily.read[Retrieval.RagIndex](spark, indexPath, c)
        v = c.version
      }
      // the query doc is ONE row — scan the corpus for it once (pushdown
      // on doc_id), then derive terms and the dense vector from that row
      val qdocRow = docs
        .filter(col("doc_id") === qdoc).localCheckpoint(true)
      val res = Retrieval.ragServeDisk(idx,
        Retrieval.ragQueryTermsOf(qdocRow, qdoc).localCheckpoint(true),
        Retrieval.ragQueryVectorOf(qdocRow, qdoc).localCheckpoint(true),
        k).localCheckpoint(true)
      val hits = res.count()
      val sum = res.agg(org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.expr(
          s"sum((doc_id * ${Retrieval.ChunkIdBase} + chunk_id) * rank)"),
        org.apache.spark.sql.functions.lit(0L))).first().getLong(0)
      val line = f"""{"qdoc":$qdoc,"hits":$hits,"sum":$sum,"v":$v,""" +
        f""""sec":${(System.nanoTime() - t1) / 1e9}%.1f}"""
      System.err.println(s"RAGSERVE_QUERY $line") // streamed for 2-JVM soaks
      line
    }
    println(f"""{"load_sec":$load%.1f,"queries":[${queries.mkString(",")}]}""")
    spark.stop()
  }
}
