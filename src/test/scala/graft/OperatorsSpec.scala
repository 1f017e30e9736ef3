package graft

import graft.operators.{Chain, Counters, Multimodal, SecondarySort}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("connectedComponents merges chains and keeps components apart") {
    import graft.operators.Dedup
    // component {1,2,3,4} is a CHAIN (needs propagation across rounds),
    // {10,11} a pair, and 3-4 arrives in b<a orientation
    val pairs = Seq((2L, 3L), (1L, 2L), (4L, 3L), (10L, 11L)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L)))
  }

  test("bucket-star edges give the same components as the full pair graph") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val sig = Dedup.minhash(docs, col("doc_id"), Dedup.bigrams(col("text")), 16)
    val bands = Dedup.lshBands(sig, 8, 2).persist()
    val fromPairs = Dedup.connectedComponents(Dedup.candidatePairs(bands))
      .as[(Long, Long)].collect().toSet
    val fromStars = Dedup.connectedComponents(Dedup.bucketStarEdges(bands))
      .as[(Long, Long)].collect().toSet
    bands.unpersist()
    assert(fromPairs.nonEmpty && fromPairs == fromStars)
  }

  test("simhash is a locality hash: near-dups land close, unrelated far") {
    import graft.operators.Dedup
    // q52's oracle proves the signature math is engine-identical; this
    // pins the PROPERTY the signature exists for — single-token edits
    // move few of the 16 bits, unrelated token sets move many
    val base = "spark query engine filter join window aggregate shuffle partition broadcast"
    val near = base.replace("broadcast", "sort") // one token of ten changed
    val far = "zebra quark melon violin harbor crystal nomad ember tundra prism"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val sig = Dedup.simhash(df, col("doc_id"), Dedup.tokens(col("text")), 16)
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val dNear = hamming(sig(1L), sig(2L))
    val dFar = hamming(sig(1L), sig(3L))
    assert(dNear <= 4, s"one-token edit moved $dNear of 16 bits")
    assert(dFar > dNear, s"unrelated text ($dFar bits) not farther than a near-dup ($dNear)")
    assert(dFar >= 5, s"unrelated texts suspiciously close: $dFar bits")
  }

  test("candidatePairs caps a degenerate bucket and counts the drop loudly") {
    import graft.operators.Dedup
    // a degenerate corpus: 50 identical docs land in ONE band bucket.
    // Uncapped that is 50*49/2 = 1225 pairs from one aggregation buffer;
    // with maxBucket=10 only the 10 smallest ids pair (45 pairs) and the
    // 40 dropped members are observable on the plan's metric. Recall is
    // unaffected in the real pipeline: group assembly (star edges +
    // components) is uncapped.
    val bands = (1L to 50L).map(i => (i, 0, "sig")).toDF("id", "band", "key")
    val pairs = Dedup.candidatePairs(bands, maxBucket = 10)
    // collect THIS frame (not a derived .as[] dataset): observed metrics
    // live on the executed QueryExecution
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (for { a <- 1L to 10L; b <- (a + 1) to 10L } yield (a, b)).toSet)
    val dropped = Counters.lastObservedNamed(pairs, "graft.lsh.bucket_cap")("DROPPED_MEMBERS")
    assert(dropped == 40L, s"expected 40 dropped members, got $dropped")
    // default cap is far above the fixture bucket sizes: uncapped result
    // unchanged on a normal corpus
    val normal = Seq((1L, 0, "x"), (2L, 0, "x"), (3L, 0, "y")).toDF("id", "band", "key")
    assert(Dedup.candidatePairs(normal).as[(Long, Long)].collect().toSet == Set((1L, 2L)))
  }

  test("Dedup.release frees the final label checkpoint and warns on a plain frame") {
    import graft.operators.Dedup
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val labels = Dedup.connectedComponents(pairs)
    labels.collect()
    // the returned frame rides a localCheckpoint: blocks are registered
    val before = spark.sparkContext.getPersistentRDDs.size
    assert(before > 0, "expected the final checkpoint's RDD to be registered")
    Dedup.release(labels)
    assert(spark.sparkContext.getPersistentRDDs.size < before,
      "release must unpersist the final checkpoint's blocks")
    // a frame with no checkpoint under it warns loudly instead of no-opping
    // (the warning goes to System.err, so capture via a stream swap)
    val orig = System.err
    val buf = new java.io.ByteArrayOutputStream()
    System.setErr(new java.io.PrintStream(buf))
    try Dedup.release(Seq((1L, 1L)).toDF("id", "lbl"))
    finally System.setErr(orig)
    assert(buf.toString.contains("nothing was freed"))
  }

  test("Dedup.release finds the checkpoint under real query plans (Spark-upgrade canary)") {
    import graft.operators.{Dedup, Packing}
    // release pattern-matches LogicalRDD in the logical plan — inherently
    // Spark-version-sensitive. This case runs the REAL consumers (q58's
    // registered body, whose result is projections over the final CC
    // checkpoint, and Packing.tokenOffsets' eager checkpoint) and fails if
    // an upgrade changes the plan shape enough that the warning path fires
    // — i.e. blocks that release is supposed to free would stay pinned.
    def releaseQuietly(df: org.apache.spark.sql.DataFrame): String = {
      val orig = System.err
      val buf = new java.io.ByteArrayOutputStream()
      System.setErr(new java.io.PrintStream(buf))
      try Dedup.release(df) finally System.setErr(orig)
      buf.toString
    }
    val q58 = graft.queries.DedupQueries.q58DedupGroups.run(spark, TestSpark.sf0001)
    q58.collect()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    assert(!releaseQuietly(q58).contains("nothing was freed"),
      "q58's projected plan no longer exposes its localCheckpoint to release")
    val offsets = TestSpark.atWidth(2)(Packing.tokenOffsets(
      Seq((1L, "a b c"), (2L, "d e")).toDF("doc_id", "text")))
    offsets.collect()
    assert(!releaseQuietly(offsets).contains("nothing was freed"),
      "tokenOffsets' checkpointed result no longer exposes its RDD to release")
    // leave no pinned state behind for the rest of the suite
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("connectedComponents folds a 100-node path in few rounds (pointer jump)") {
    import graft.operators.Dedup
    // a pure path graph is the worst case for plain min-propagation
    // (diameter = n); pointer jumping must close it within the default
    // maxIter of 20 (~log2(100) + seed rounds), with every label = 1
    val pairs = (1L until 100L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs).as[(Long, Long)].collect()
    assert(got.length == 100 && got.forall(_._2 == 1L))
  }

  test("connectedComponents throws on maxIter exhaustion, never under-merges") {
    import graft.operators.Dedup
    val pairs = (1L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[RuntimeException](
      Dedup.connectedComponents(pairs, maxIter = 2))
    assert(e.getMessage.contains("no fixpoint"))
  }

  test("connectedComponents of an empty pair set is empty") {
    import graft.operators.Dedup
    val pairs = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(pairs).count() == 0L)
  }

  test("counters facade observes record counts and custom aggregates") {
    val df = Counters.instrument(
      Seq(1, 2, 3, 4).toDF("v"),
      "SUM_V" -> sum(col("v")))
    df.collect()
    val m = Counters.lastObserved(df)
    assert(m("RECORDS") == 4L && m("SUM_V") == 10L)
  }

  test("chain composes transforms left-to-right (fused, no extra I/O)") {
    val f = Chain.chain(
      (d: org.apache.spark.sql.DataFrame) => d.withColumn("v2", col("v") * 2),
      d => d.filter(col("v2") > 2),
      d => d.select(col("v2")))
    val got = f(Seq(1, 2, 3).toDF("v")).as[Int].collect().sorted.toSeq
    assert(got == Seq(4, 6))
  }

  test("multimodal frame sampling slices deterministic frames") {
    val df = Seq("abcdefghijklmnopqrstuvwxyz0123456789").toDF("t")
    val got = df.select(
      Multimodal.frameSample(encode(col("t"), "UTF-8"), 16, 4, 3).as("f"))
      .as[Seq[String]].head()
    // len 36 → strides at offsets 0, 16, 32: "abcd", "qrst", "6789"
    assert(got == Seq("61626364", "71727374", "36373839"))
  }

  test("frame sampling yields an empty array for empty payloads") {
    val df = Seq("").toDF("t")
    val got = df.select(
      Multimodal.frameSample(encode(col("t"), "UTF-8"), 16, 4, 3).as("f"))
      .as[Seq[String]].head()
    assert(got.isEmpty) // regression: sequence(0,-1) descended to [0,-1]
  }

  test("batched decode emits per-record features through mapPartitions batches") {
    val df = Seq((1L, "abc"), (2L, ""), (3L, "zz"))
      .toDF("id", "t")
      .select(col("id"), encode(col("t"), "UTF-8").as("bin"))
    val got = Multimodal.decodeBatched(df)
      .as[(Long, Seq[Float])].collect().toMap
    assert(got(1L) == Seq(3f, ((97 + 98 + 99) / 3).toFloat, 97f, 99f))
    assert(got(2L) == Seq(0f, 0f, 0f, 0f))
    assert(got(3L) == Seq(2f, 122f, 122f, 122f))
  }

  test("wavDecode round-trips PCM and survives extra chunks; fails loudly on junk") {
    val samples = Array[Short](0, 1000, -1000, 32767, -32768, 7)
    val wav = Multimodal.wavEncode(samples, 44100)
    val got = Multimodal.wavDecode(wav)
    assert(got.sampleRate == 44100 && got.channels == 1 && got.bitsPerSample == 16)
    assert(got.samples.toSeq == samples.toSeq)
    // a robust reader skips chunks it doesn't know (LIST metadata before
    // data, odd-length chunk word-padded) — splice one in and re-decode
    val bb = java.nio.ByteBuffer.allocate(wav.length + 8 + 6)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(wav, 0, 36)                        // RIFF header + fmt chunk
    bb.put("LIST".getBytes("US-ASCII")).putInt(5)
    bb.put("INFOx".getBytes("US-ASCII")).put(0.toByte) // 5 bytes + pad
    bb.put(wav, 36, wav.length - 36)          // data chunk
    val spliced = bb.array()
    assert(Multimodal.wavDecode(spliced).samples.toSeq == samples.toSeq)
    // loud failures, never a silent misparse
    val notRiff = "JUNKJUNKJUNK".getBytes("US-ASCII") ++ new Array[Byte](40)
    assert(intercept[IllegalArgumentException](
      Multimodal.wavDecode(notRiff)).getMessage.contains("RIFF"))
    val lying = wav.clone()
    lying(40) = -1; lying(41) = -1; lying(42) = -1; lying(43) = 0x7f // data len
    assert(intercept[IllegalArgumentException](
      Multimodal.wavDecode(lying)).getMessage.contains("claims"))
  }

  test("bmpDecode round-trips pixels, honors top-down rows, resize is exact") {
    import Multimodal.{BmpImage, bmpDecode, bmpEncode, resizeNearest}
    // 3x2, width*3=9 bytes/row -> padded to 12: exercises row padding
    val img = BmpImage(3, 2, Array(0xff0000, 0x00ff00, 0x0000ff,
      0x123456, 0xffffff, 0x000000))
    val back = bmpDecode(bmpEncode(img))
    assert(back.width == 3 && back.height == 2)
    assert(back.pixels.toSeq == img.pixels.toSeq)
    // top-down variant: negate the height field (offset 22, int32 LE) and
    // flip the stored row order -> must decode to the SAME image
    val bytes = bmpEncode(img)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(22, -2)
    val row0 = bytes.slice(54, 66).clone()
    System.arraycopy(bytes, 66, bytes, 54, 12)
    System.arraycopy(row0, 0, bytes, 66, 12)
    assert(bmpDecode(bytes).pixels.toSeq == img.pixels.toSeq)
    // resize: identity at same dims; 2x upscale duplicates each pixel
    assert(resizeNearest(img, 3, 2).pixels.toSeq == img.pixels.toSeq)
    val up = resizeNearest(BmpImage(2, 1, Array(1, 2)), 4, 2)
    assert(up.pixels.toSeq == Seq(1, 1, 2, 2, 1, 1, 2, 2))
    // loud failure on a compressed payload
    val rle = bmpEncode(img); java.nio.ByteBuffer.wrap(rle)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(30, 1) // BI_RLE8
    assert(intercept[IllegalArgumentException](
      bmpDecode(rle)).getMessage.contains("compressed"))
  }

  test("pngDecode round-trips all five scanline filters; fails loudly on damage") {
    import Multimodal.{BmpImage, pngDecode, pngEncode}
    // 4x7: seven rows so the encoder's row%5 filter cycle covers every
    // filter type (None/Sub/Up/Average/Paeth) plus a second None/Sub pass
    val rnd = new scala.util.Random(42)
    val img = BmpImage(4, 7, Array.fill(4 * 7)(rnd.nextInt(1 << 24)))
    val back = pngDecode(pngEncode(img))
    assert(back.width == 4 && back.height == 7)
    assert(back.pixels.toSeq == img.pixels.toSeq)
    // 1-pixel-wide image: every left/up-left reference is the zero edge
    val thin = BmpImage(1, 6, Array.tabulate(6)(i => i * 0x030507))
    assert(pngDecode(pngEncode(thin)).pixels.toSeq == thin.pixels.toSeq)
    // multi-IDAT: split the single IDAT into two chunks (spec-legal — the
    // zlib stream is the CONCATENATION of all IDAT data) and re-decode
    val bytes = pngEncode(img)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val ihdrLen = bb.getInt(8)
    val idatOff = 8 + 12 + ihdrLen // sig + IHDR chunk
    val idatLen = bb.getInt(idatOff)
    assert(idatLen >= 2, "fixture too small to split")
    val d1 = bytes.slice(idatOff + 8, idatOff + 8 + 1)
    val d2 = bytes.slice(idatOff + 8 + 1, idatOff + 8 + idatLen)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("US-ASCII")
      val out = java.nio.ByteBuffer.allocate(12 + data.length)
      out.putInt(data.length).put(t).put(data)
      val crc = new java.util.zip.CRC32(); crc.update(t); crc.update(data)
      out.putInt(crc.getValue.toInt).array()
    }
    val split = bytes.take(idatOff) ++ chunk("IDAT", d1) ++ chunk("IDAT", d2) ++
      bytes.drop(idatOff + 12 + idatLen)
    assert(pngDecode(split).pixels.toSeq == img.pixels.toSeq)
    // loud failures: flipped payload byte -> CRC mismatch; bad signature;
    // truncated IDAT -> inflated-size disagreement
    val corrupt = pngEncode(img)
    corrupt(idatOff + 8) = (corrupt(idatOff + 8) ^ 0x01).toByte
    assert(intercept[IllegalArgumentException](
      pngDecode(corrupt)).getMessage.contains("CRC"))
    val badSig = pngEncode(img); badSig(0) = 'X'.toByte
    assert(intercept[IllegalArgumentException](
      pngDecode(badSig)).getMessage.contains("signature"))
    val truncated = bytes.take(idatOff) ++ chunk("IDAT", d1) ++
      bytes.drop(idatOff + 12 + idatLen)
    assert(intercept[IllegalArgumentException](pngDecode(truncated))
      .getMessage.matches(".*(stalled|inflated).*"))
    // unsupported color types refuse rather than misparse: patch IHDR's
    // colorType to 6 (RGBA) and re-CRC the chunk so ONLY the type check fires
    val rgba = pngEncode(img)
    rgba(8 + 8 + 9) = 6.toByte
    val ihdrData = rgba.slice(16, 16 + 13)
    val crc = new java.util.zip.CRC32()
    crc.update("IHDR".getBytes("US-ASCII")); crc.update(ihdrData)
    java.nio.ByteBuffer.wrap(rgba).putInt(16 + 13, crc.getValue.toInt)
    assert(intercept[IllegalArgumentException](
      pngDecode(rgba)).getMessage.contains("truecolor"))
  }

  test("named side outputs: one cached frame, N filtered sinks (MultipleOutputs)") {
    val base = TestSpark.tempDir("graft-sideout").toString
    val df = Seq((1, "even"), (2, "odd"), (3, "even"), (4, "odd"), (5, "even"))
      .toDF("id", "tag").cache()
    try {
      df.filter(col("tag") === "even").write.mode("overwrite").parquet(s"$base/even")
      df.filter(col("tag") === "odd").write.mode("overwrite").parquet(s"$base/odd")
      assert(spark.read.parquet(s"$base/even").count() == 3)
      assert(spark.read.parquet(s"$base/odd").count() == 2)
    } finally df.unpersist()
  }

  test("parquet compression codecs round-trip (snappy, zstd, gzip)") {
    val df = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    for (codec <- Seq("snappy", "zstd", "gzip")) {
      val out = TestSpark.tempDir(s"graft-codec-$codec").toString
      df.write.mode("overwrite").option("compression", codec).parquet(out)
      assert(spark.read.parquet(out).count() == 2, codec)
    }
  }

  test("sorted groups stream values in secondary order") {
    val df = Seq((1, 3, "c"), (1, 1, "a"), (2, 5, "z"), (1, 2, "b"))
      .toDF("k", "s", "v")
    val got = SecondarySort.sortedGroups[(Int, String)](
      df, col("k"), Seq(col("s")))(_.getInt(0)) { (k, rows) =>
      (k.asInstanceOf[Int], rows.map(_.getString(2)).mkString)
    }.collect().toMap
    assert(got == Map(1 -> "abc", 2 -> "z"))
  }
}
