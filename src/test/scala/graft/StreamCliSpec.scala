package graft

import graft.api.{StreamArgs, StreamJob}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamCliSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def writeLines(name: String, lines: Seq[String]): String = {
    val dir = TestSpark.tempDir(s"graft-$name")
    java.nio.file.Files.write(dir.resolve("part-00000"),
      lines.mkString("\n").getBytes("UTF-8"))
    dir.toString
  }

  test("parseArgs covers the StreamJob option surface") {
    val a = StreamJob.parseArgs(Seq(
      "-input", "/a", "-input", "/b", "-output", "/o",
      "-mapper", "cat", "-combiner", "uniq", "-reducer", "wc -l",
      "-io", "typedbytes", "-partitioner", "KeyFieldBasedPartitioner",
      "-numReduceTasks", "7",
      "-D", "stream.num.map.output.key.fields=2",
      "-jobconf", "mapred.text.key.partitioner.options=-k1,2",
      "-file", "ship.sh",
      "-inputformat", "TextInputFormat"))
    assert(a.inputs == Vector("/a", "/b"))
    assert(a.output.contains("/o"))
    assert(a.mapper.contains("cat"))
    assert(a.combiner.contains("uniq"))
    assert(a.reducer.contains("wc -l"))
    assert(a.io == "typedbytes")
    assert(a.partitioner.contains("KeyFieldBasedPartitioner"))
    assert(a.numReduceTasks.contains(7))
    assert(a.numMapKeyFields == 2)
    assert(a.conf("mapred.text.key.partitioner.options") == "-k1,2")
  }

  test("parseArgs rejects unknown options and bad -D") {
    assertThrows[RuntimeException](StreamJob.parseArgs(Seq("-bogus", "x")))
    assertThrows[RuntimeException](StreamJob.parseArgs(Seq("-D", "noequals")))
    assertThrows[RuntimeException](
      StreamJob.parseArgs(Seq("-inputformat", "com.example.MyInputFormat")))
  }

  test("parseArgs routes the three supported -inputformat families") {
    assert(StreamJob.parseArgs(
      Seq("-inputformat", "TextInputFormat")).inputFormat == "text")
    assert(StreamJob.parseArgs(
      Seq("-inputformat", "org.apache.hadoop.mapred.KeyValueTextInputFormat"))
      .inputFormat == "kvtext")
    assert(StreamJob.parseArgs(
      Seq("-inputformat", "SequenceFileInputFormat")).inputFormat == "seqfile")
    assert(StreamJob.parseArgs(
      Seq("-inputformat", "SequenceFileAsTextInputFormat")).inputFormat == "seqfile")
  }

  test("parseArgs randomized round trip (order-independent options)") {
    val rnd = new scala.util.Random(42)
    (1 to 50).foreach { _ =>
      val pairs = rnd.shuffle(List(
        List("-mapper", "m x y"), List("-reducer", "r"),
        List("-numReduceTasks", rnd.nextInt(100).toString),
        List("-D", s"k${rnd.nextInt(5)}=v${rnd.nextInt(5)}"),
        List("-input", s"/p${rnd.nextInt(9)}")))
      val a = StreamJob.parseArgs(pairs.flatten)
      assert(a.mapper.contains("m x y"))
      assert(a.reducer.contains("r"))
      assert(a.inputs.length == 1)
    }
  }

  test("crash-range skipping: a mapper that dies on records skips + counts them") {
    import graft.operators.Pipe
    import spark.implicits._
    // a deterministic record-wise mapper that crashes on any BOOM line
    val cmd = Seq("/bin/sh", "-c",
      """while read l; do case "$l" in *BOOM*) exit 1;; *) echo "ok:$l";; esac; done""")
    val lines = ((1 to 40).map(i => s"rec$i")
      ++ Seq("BOOM-a", "BOOM-b") ++ (41 to 80).map(i => s"rec$i"))
    val df = lines.toDF("line").repartition(2)
    // tiny chunk so bisection recursion actually exercises multiple levels
    val (out, skipped) = Pipe.pipeLinesSkipping(spark, df, cmd, maxSkip = 10, chunkSize = 8)
    val got = out.as[String].collect().toSet
    assert(got == (1 to 80).map(i => s"ok:rec$i").toSet)
    assert(skipped.value == 2L, s"expected 2 skipped, got ${skipped.value}")
    // past the per-partition limit the job fails loudly, like the reference
    val allBad = (1 to 20).map(i => s"BOOM-$i").toDF("line").coalesce(1)
    val (dead, _) = Pipe.pipeLinesSkipping(spark, allBad, cmd, maxSkip = 3, chunkSize = 8)
    val e = intercept[org.apache.spark.SparkException](dead.count())
    assert(e.getMessage.contains("skip limit") ||
      Option(e.getCause).exists(_.getMessage.contains("skip limit")))
  }

  test("StreamJob -D mapred.skip.map.max.skip.records arms mapper skip mode") {
    import spark.implicits._
    // keys are already AggType:id on the input lines (q92 recipe shape);
    // the mapper passes good lines through and dies on the CRASH one
    val in2 = writeLines("skipcli2", Seq(
      "LongValueSum:a\t1", "CRASH\t1", "LongValueSum:b\t2", "LongValueSum:a\t3"))
    val got = StreamJob.run(spark, StreamJob.parseArgs(Seq(
        "-input", in2,
        "-mapper", """/bin/sh -c 'while read l; do case "$l" in CRASH*) exit 9;; *) echo "$l";; esac; done'""",
        "-reducer", "aggregate",
        "-D", "mapred.skip.map.max.skip.records=5")))
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "4", "b" -> "2"))
    // without skip mode the same job dies on the crashing record
    assertThrows[org.apache.spark.SparkException] {
      StreamJob.run(spark, StreamJob.parseArgs(Seq(
        "-input", in2,
        "-mapper", """/bin/sh -c 'while read l; do case "$l" in CRASH*) exit 9;; *) echo "$l";; esac; done'""",
        "-reducer", "aggregate"))).count()
    }
  }

  test("aggregate ValueHistogram routes past the exact cap to the sketch") {
    import spark.implicits._
    // 10 distinct values, each frequency 1; cap=3 forces the sketch branch
    val in = writeLines("histcap",
      (1 to 10).map(i => s"ValueHistogram:k\tv$i"))
    val run = (conf: Seq[String]) => StreamJob.run(spark, StreamJob.parseArgs(
        Seq("-input", in, "-reducer", "aggregate") ++ conf))
      .as[(String, String)].collect().toMap
    val capped = run(Seq("-D", "graft.valuehistogram.exact.cap=3"))
    // uniq/min/max/mean are exact either way; the all-ones distribution
    // gives the sketch the same median and a zero stddev, so the report
    // is IDENTICAL to the exact branch — proving the routed path still
    // produces the reference-shaped report
    assert(capped == Map("k" -> "10\t1\t1\t1\t1.00\t0.00"))
    assert(run(Seq()) == capped)
  }

  test("-inputreader StreamXmlRecordReader feeds XML records to the pipeline") {
    import spark.implicits._
    val in = writeLines("xmlreader", Seq(
      "junk preamble",
      "<rec><name>alpha</name></rec>",
      "<rec><name>beta</name></rec> trailing",
      "<rec>truncated"))
    // map-only identity: each XML record arrives as one input line and,
    // being separator-free, becomes the whole key (PipeMapper contract);
    // preamble and the truncated trailing record are dropped
    val got = StreamJob.run(spark, StreamJob.parseArgs(Seq(
        "-input", in, "-reducer", "NONE",
        "-inputreader", "StreamXmlRecordReader,begin=<rec>,end=</rec>")))
      .select(col("key")).as[String].collect().toSet
    assert(got == Set(
      "<rec><name>alpha</name></rec>",
      "<rec><name>beta</name></rec>"))
    // a mapper in the loop sees one record per line: extract the name
    val names = StreamJob.run(spark, StreamJob.parseArgs(Seq(
        "-input", in, "-reducer", "NONE",
        "-inputreader", "StreamXmlRecordReader,begin=<rec>,end=</rec>",
        "-mapper", "sed -e 's|.*<name>||' -e 's|</name>.*||'")))
      .select(col("key")).as[String].collect().toSet
    assert(names == Set("alpha", "beta"))
    // unknown readers and missing delimiters fail loudly
    assertThrows[RuntimeException](StreamJob.parseArgs(Seq(
      "-input", in, "-inputreader", "MyCustomReader,begin=a,end=b")))
    assertThrows[RuntimeException](StreamJob.parseArgs(Seq(
      "-input", in, "-inputreader", "StreamXmlRecordReader,begin=<rec>")))
  }

  test("tokenize honors single and double quotes") {
    assert(StreamJob.tokenize("tr a-z A-Z") == Seq("tr", "a-z", "A-Z"))
    assert(StreamJob.tokenize("awk -F'\t' '{print $1\"x\"}'") ==
      Seq("awk", "-F\t", "{print $1\"x\"}"))
    assert(StreamJob.tokenize("sed -e \"s/a b/c/\"") ==
      Seq("sed", "-e", "s/a b/c/"))
    assert(StreamJob.tokenize("cmd ''") == Seq("cmd", ""))
  }

  test("splitKeyVal: nth-separator split with whole-line-key fallback") {
    import spark.implicits._
    val df = Seq("a\tb\tc", "k only", "x\ty", "t\t").toDF("line")
    val got2 = StreamJob.splitKeyVal(df, "\t", 2)
      .as[(String, String)].collect().toSet
    assert(got2 == Set(
      ("a\tb", "c"),   // 2 seps: key = first 2 fields
      ("k only", ""),  // no separator: whole line key
      ("x\ty", ""),    // exactly n fields, no value
      ("t\t", "")))    // trailing empty field still key-only
    val got1 = StreamJob.splitKeyVal(df, "\t", 1)
      .as[(String, String)].collect().toSet
    assert(got1 == Set(
      ("a", "b\tc"), ("k only", ""), ("x", "y"), ("t", "")))
  }

  test("map-only job (-reducer NONE) pipes through tr") {
    import spark.implicits._
    val in = writeLines("mapon", Seq("ab\t1", "cd\t2"))
    val got = StreamJob.run(spark, Seq(
      "-input", in, "-mapper", "tr a-z A-Z", "-reducer", "NONE"))
      .as[(String, String)].collect().toSet
    assert(got == Set(("AB", "1"), ("CD", "2")))
  }

  test("absent -reducer = IdentityReducer (shuffle + sort, pass through)") {
    import spark.implicits._
    val in = writeLines("idred", Seq("b\t2", "a\t1", "a\t3"))
    val got = StreamJob.run(spark, Seq("-input", in, "-numReduceTasks", "2"))
      .as[(String, String)].collect().toSet
    assert(got == Set(("a", "1"), ("a", "3"), ("b", "2")))
  }

  test("-reducer aggregate handles every descriptor type") {
    import spark.implicits._
    val in = writeLines("aggred", Seq(
      "LongValueSum:a\t3", "LongValueSum:a\t4",
      "DoubleValueSum:d\t1.25", "DoubleValueSum:d\t2.5",
      "LongValueMax:m\t7", "LongValueMax:m\t2",
      "LongValueMin:n\t7", "LongValueMin:n\t2",
      "StringValueMax:s\tzz", "StringValueMax:s\taa",
      "StringValueMin:t\tzz", "StringValueMin:t\taa",
      "UniqValueCount:u\tx", "UniqValueCount:u\tx", "UniqValueCount:u\ty",
      // frequencies {v1: 3, v2: 1}: uniq=2 min=1 median=3 max=3 avg=2.0 sd=1.0
      "ValueHistogram:h\tv1", "ValueHistogram:h\tv1", "ValueHistogram:h\tv1",
      "ValueHistogram:h\tv2"))
    val got = StreamJob.run(spark, Seq("-input", in, "-reducer", "aggregate"))
      .as[(String, String)].collect().toMap
    assert(got == Map(
      "a" -> "7", "d" -> "3.75", "m" -> "7", "n" -> "2",
      "s" -> "zz", "t" -> "aa", "u" -> "2",
      "h" -> "2\t1\t3\t3\t2.00\t1.00"))
  }

  test("aggregate ValueHistogram parses 'item\\tcount' weights on the last tab") {
    import spark.implicits._
    // ValueHistogram.java:47-66 splits each value on its LAST tab: 'v1\t2'
    // adds 2 occurrences of v1, a tab-less value adds 1, and an item may
    // itself contain tabs ('a\tb\t2' = item "a\tb", weight 2).
    val in = writeLines("agghw", Seq(
      "ValueHistogram:h\tv1\t2", "ValueHistogram:h\tv1",
      "ValueHistogram:h\tv2",
      "ValueHistogram:g\ta\tb\t2", "ValueHistogram:g\tc\t2"))
    val got = StreamJob.run(spark, Seq("-input", in, "-reducer", "aggregate"))
      .as[(String, String)].collect().toMap
    // h: frequencies {v1: 3, v2: 1} → uniq=2 min=1 median=3 max=3 mean=2.00 sd=1.00
    // g: frequencies {a\tb: 2, c: 2} → uniq=2 min=2 median=2 max=2 mean=2.00 sd=0.00
    assert(got == Map(
      "h" -> "2\t1\t3\t3\t2.00\t1.00",
      "g" -> "2\t2\t2\t2\t2.00\t0.00"))
  }

  test("aggregate ValueHistogram survives weight sums past long squares") {
    import spark.implicits._
    // f = 8e9 squares to 6.4e19 > Long.MaxValue: long arithmetic would
    // wrap ssq negative and emit a NaN stddev — the decimal moment sums
    // must keep the report exact
    val in = writeLines("agghbig", Seq(
      "ValueHistogram:h\tv\t4000000000", "ValueHistogram:h\tv\t4000000000",
      // Σw itself past Long.MaxValue: the FIRST-stage sum must be decimal
      "ValueHistogram:g\tv\t5000000000000000000",
      "ValueHistogram:g\tv\t5000000000000000000"))
    val got = StreamJob.run(spark, Seq("-input", in, "-reducer", "aggregate"))
      .as[(String, String)].collect().toMap
    assert(got == Map(
      "h" -> "1\t8000000000\t8000000000\t8000000000\t8000000000.00\t0.00",
      "g" -> ("1\t10000000000000000000\t10000000000000000000" +
        "\t10000000000000000000\t10000000000000000000.00\t0.00")))
  }

  test("histogram stddev field survives catastrophic cancellation") {
    import spark.implicits._
    // frequencies 1e9 and 1e9+7: the one-pass double variance loses the
    // true 3.5 stddev to cancellation (ulp ~256 at 2e18) and could go
    // negative; the clamp must keep the field a number — never a NaN that
    // casts to NULL and silently vanishes from the 6-field report
    val in = writeLines("agghcancel", Seq(
      "ValueHistogram:h\tv1\t1000000000", "ValueHistogram:h\tv2\t1000000007"))
    val got = StreamJob.run(spark, Seq("-input", in, "-reducer", "aggregate"))
      .as[(String, String)].collect().toMap
    val fields = got("h").split("\t", -1)
    assert(fields.length == 6, s"report must keep 6 fields, got: ${got("h")}")
    assert(fields(5).matches("[0-9]+\\.[0-9]{2}"), s"stddev not numeric: ${fields(5)}")
  }

  test("aggregate ValueHistogram fails loudly on a non-numeric count") {
    // Long.parseLong semantics: 'v\tx' means count 'x' — a NumberFormat
    // failure in the reference, never a silent count-as-string-item
    val in = writeLines("agghbad",
      Seq("ValueHistogram:h\tv\t2", "ValueHistogram:h\tv\tx"))
    val e = intercept[Exception](
      StreamJob.run(spark, Seq("-input", in, "-reducer", "aggregate")).collect())
    assert(e.getMessage.contains("non-numeric count")
      || Option(e.getCause).exists(_.getMessage.contains("non-numeric count")))
  }

  test("-reducer Aggregate matches case-insensitively, like the reference") {
    import spark.implicits._
    // compareToIgnoreCase (StreamJob.java:760): 'Aggregate' must route to
    // the builtin reducer, not fork a nonexistent external command
    val in = writeLines("aggcase", Seq("LongValueSum:a\t3", "LongValueSum:a\t4"))
    val got = StreamJob.run(spark, Seq("-input", in, "-reducer", "Aggregate"))
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "7"))
  }

  test("an aggregate reducer replaces any external -combiner") {
    import spark.implicits._
    // the reference force-installs ValueAggregatorCombiner over -combiner
    // (StreamJob.java:760-764); 'uniq' collapsing the duplicate line would
    // corrupt the sum (7 → would become 3+..) if it ran first
    val in = writeLines("aggcomb",
      Seq("LongValueSum:a\t3", "LongValueSum:a\t3", "LongValueSum:a\t1"))
    val got = StreamJob.run(spark, Seq(
      "-input", in, "-combiner", "uniq", "-reducer", "aggregate"))
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "7"))
  }

  test("-numReduceTasks shapes the aggregate output partitioning") {
    val in = writeLines("aggparts", Seq(
      "LongValueSum:a\t1", "LongValueSum:b\t2", "LongValueSum:c\t3",
      "LongValueSum:d\t4", "LongValueSum:e\t5"))
    val got = StreamJob.run(spark, Seq(
      "-input", in, "-reducer", "aggregate", "-numReduceTasks", "3"))
    assert(got.rdd.getNumPartitions == 3)
  }

  test("-reducer aggregate fails loudly on an unknown aggregator type") {
    val in = writeLines("aggunk", Seq("NoSuchAgg:a\t3"))
    val e = intercept[Exception](
      StreamJob.run(spark, Seq("-input", in, "-reducer", "aggregate")).collect())
    assert(e.getMessage.contains("unknown aggregator type")
      || Option(e.getCause).exists(_.getMessage.contains("unknown aggregator type")))
  }

  test("unsupported -partitioner class is rejected at parse time") {
    assertThrows[RuntimeException](StreamJob.parseArgs(
      Seq("-partitioner", "org.example.MyCustomPartitioner")))
  }

  test("comma-separated -input paths are split like FileInputFormat") {
    val a = StreamJob.parseArgs(Seq("-input", "/a,/b", "-input", "/c"))
    assert(a.inputs == Vector("/a", "/b", "/c"))
  }

  test("multiple -input dirs are read as one job input") {
    import spark.implicits._
    val in1 = writeLines("multi1", Seq("a\t1"))
    val in2 = writeLines("multi2", Seq("b\t2", "c\t3"))
    val got = StreamJob.run(spark, Seq(
      "-input", s"$in1,$in2", "-reducer", "NONE"))
      .as[(String, String)].collect().toSet
    assert(got == Set(("a", "1"), ("b", "2"), ("c", "3")))
  }

  test("aggregate with corrupt numeric input fails loudly, not silently") {
    // the reference's LongValueSum throws NumberFormatException — a
    // non-numeric value under a numeric aggregator must fail the job,
    // never drop the key or sum a subset
    val in = writeLines("aggbad", Seq("LongValueSum:a\t3", "LongValueSum:a\tGARBAGE"))
    val e = intercept[Exception](
      StreamJob.run(spark, Seq("-input", in, "-reducer", "aggregate")).collect())
    assert(e.getMessage.contains("CAST_INVALID_INPUT")
      || e.getMessage.contains("GARBAGE"))
  }

  test("combiner does not run on map-only jobs") {
    import spark.implicits._
    // reference semantics: combiners only run in the map-output spill path,
    // which a 0-reduce job skips — 'uniq -c' must NOT collapse duplicates
    val in = writeLines("combmapon", Seq("a\t1", "a\t1", "b\t2"))
    val got = StreamJob.run(spark, Seq(
      "-input", in, "-combiner", "uniq", "-reducer", "NONE"))
      .as[(String, String)].collect().toSeq.sorted
    assert(got == Seq(("a", "1"), ("a", "1"), ("b", "2")))
  }

  test("-inputformat KeyValueTextInputFormat frames mapper stdin key+sep+value") {
    import spark.implicits._
    // a line WITH a tab arrives byte-identical; a line WITHOUT one arrives
    // as key + trailing separator (empty value still framed) — the
    // non-text-format framing of PipeMapper.java
    val in = writeLines("kvtextin", Seq("a\t1", "b\t2", "noseparator"))
    val got = StreamJob.run(spark, Seq(
      "-input", in,
      "-inputformat", "KeyValueTextInputFormat",
      "-mapper", "cat", "-reducer", "NONE"))
      .as[(String, String)].collect().toSeq.sorted
    assert(got == Seq(("a", "1"), ("b", "2"), ("noseparator", "")))
  }

  test("-outputformat SequenceFileOutputFormat writes a real seqfile, keys with tabs survive") {
    import spark.implicits._
    val in = writeLines("seqoutin", Seq("a\tx\t1", "b\ty\t2"))
    val out = s"${TestSpark.tempDir("graft-seqout")}/out"
    // 2-field keys mean the KEY ITSELF contains the separator — the text
    // sink's read-back re-splits framing, the seqfile sink stores records
    val got = StreamJob.run(spark, Seq(
      "-input", in, "-mapper", "cat", "-reducer", "NONE",
      "-D", "stream.num.map.output.key.fields=2",
      "-output", out,
      "-outputformat", "SequenceFileOutputFormat"))
      .as[(String, String)].collect().toSeq.sorted
    assert(got == Seq(("a\tx", "1"), ("b\ty", "2")))
    // the on-disk artifact is a genuine SequenceFile (SEQ magic), and the
    // tab-bearing key survives byte-exact through the raw shim read
    val part = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-")).head
    val head = java.nio.file.Files.readAllBytes(part.toPath).take(3)
    assert(new String(head, "UTF-8") == "SEQ", "not a SequenceFile on disk")
    val raw = spark.sparkContext.sequenceFile[String, String](out)
      .collect().toSeq.sorted
    assert(raw == Seq(("a\tx", "1"), ("b\ty", "2")))
  }

  test("-inputreader cannot combine with a non-text -inputformat") {
    assertThrows[IllegalArgumentException](StreamJob.run(spark, Seq(
      "-input", "/nonexistent",
      "-inputformat", "SequenceFileInputFormat",
      "-inputreader", "StreamXmlRecordReader,begin=<a>,end=</a>",
      "-mapper", "cat")))
  }

  test("reducer input framing uses the reduce INPUT separator knob") {
    import spark.implicits._
    // set only the OUTPUT separator to ','; the tab-parsing reducer must
    // still receive tab-framed input lines
    val in = writeLines("redinsep", Seq("a\t1", "a\t2", "b\t5"))
    val awk = "awk -F'\t' " +
      "'{kk=$1} kk!=k{if(NR>1)print k\",\"s; k=kk; s=0} {s+=$2} " +
      "END{if(NR>0)print k\",\"s}'"
    val got = StreamJob.run(spark, Seq(
      "-input", in, "-reducer", awk, "-numReduceTasks", "1",
      "-D", "stream.reduce.output.field.separator=,"))
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "3", "b" -> "5"))
  }

  test("-io typedbytes: cat is a faithful identity (codec framing)") {
    import spark.implicits._
    val in = writeLines("tbid", Seq("k1\tv1", "k2\tv 2"))
    val got = StreamJob.run(spark, Seq(
      "-input", in, "-mapper", "cat", "-io", "typedbytes",
      "-reducer", "NONE"))
      .as[(String, String)].collect().toSet
    assert(got == Set(("k1", "v1"), ("k2", "v 2")))
  }

  test("-io rawbytes reaches the reducer with binary framing") {
    import spark.implicits._
    val in = writeLines("rbred", Seq("b\t2", "a\t1"))
    val got = StreamJob.run(spark, Seq(
      "-input", in, "-reducer", "cat", "-io", "rawbytes",
      "-numReduceTasks", "1"))
      .as[(String, String)].collect().toSet
    assert(got == Set(("a", "1"), ("b", "2")))
  }

  test("-jobconf mapred.reduce.tasks drives the reduce count and 0 = map-only") {
    val a = StreamJob.parseArgs(Seq("-jobconf", "mapred.reduce.tasks=5"))
    assert(a.reduceTasks.contains(5))
    // explicit -numReduceTasks wins over the conf form
    val b = StreamJob.parseArgs(Seq(
      "-numReduceTasks", "3", "-D", "mapred.reduce.tasks=5"))
    assert(b.reduceTasks.contains(3))
    import spark.implicits._
    val in = writeLines("confred", Seq("b\t2", "a\t1"))
    val got = StreamJob.run(spark, Seq(
      "-input", in, "-mapper", "tr a-z A-Z",
      "-D", "mapred.reduce.tasks=0")) // map-only via conf
      .as[(String, String)].collect().toSet
    assert(got == Set(("A", "1"), ("B", "2")))
  }

  test("custom field separator and -output round trip") {
    import spark.implicits._
    val in = writeLines("sepout", Seq("a,1", "b,2", "a,3"))
    val out = TestSpark.tempDir("graft-sepout").toString
    val got = StreamJob.run(spark, Seq(
      "-input", in, "-output", out,
      "-reducer", "NONE",
      "-D", "stream.map.output.field.separator=,",
      "-D", "stream.reduce.output.field.separator=,"))
      .as[(String, String)].collect().toSet
    assert(got == Set(("a", "1"), ("b", "2"), ("a", "3")))
    // the -output dir holds the same records as sep-joined text lines
    val written = spark.read.text(out).as[String].collect().toSet
    assert(written == Set("a,1", "b,2", "a,3"))
  }

  test("comparator options: numeric reverse key order reaches the reducer") {
    import spark.implicits._
    // string order would give 10 < 2 < 9; -k1nr must deliver 10, 9, 2
    val in = writeLines("cmpopt", Seq("9\ta", "10\tb", "2\tc"))
    val got = StreamJob.run(spark, Seq(
      "-input", in, "-reducer", "cat", "-numReduceTasks", "1",
      "-D", "mapred.text.key.comparator.options=-k1nr"))
      .as[(String, String)].collect().toSeq
    assert(got == Seq(("10", "b"), ("9", "a"), ("2", "c")))
  }

  test("external reducer sees contiguous sorted keys in one partition") {
    import spark.implicits._
    // 3 keys spread over many input lines; awk sums runs — only correct if
    // the engine groups + sorts keys per reduce partition
    val rnd = new scala.util.Random(7)
    val lines = rnd.shuffle(
      (1 to 60).map(i => s"k${i % 3}\t1").toList)
    val in = writeLines("redsum", lines)
    val awk = "awk -F'\t' " +
      "'{kk=$1} kk!=k{if(NR>1)print k\"\t\"s; k=kk; s=0} {s+=$2} " +
      "END{if(NR>0)print k\"\t\"s}'"
    val got = StreamJob.run(spark, Seq(
      "-input", in, "-reducer", awk, "-numReduceTasks", "2"))
      .as[(String, String)].collect().toMap
    assert(got == Map("k0" -> "20", "k1" -> "20", "k2" -> "20"))
  }
}
