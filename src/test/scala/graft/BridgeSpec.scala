package graft

import graft.core.{RecordDDL, TypeBridge}
import graft.operators.DistCpLite
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

// top-level so product encoders resolve (method-local case classes
// have no TypeTag)
case class BridgeInner(tag: String, xs: Seq[Int])
case class BridgeRec(id: Long, inner: BridgeInner, m: Map[String, Double])

class BridgeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("writable class names map to Catalyst types") {
    assert(TypeBridge.toSparkType("org.apache.hadoop.io.Text") == StringType)
    assert(TypeBridge.toSparkType("org.apache.hadoop.io.LongWritable") == LongType)
    assert(TypeBridge.kvSchema(
      "org.apache.hadoop.io.Text", "org.apache.hadoop.io.IntWritable") ==
      StructType(Seq(StructField("key", StringType), StructField("value", IntegerType))))
    intercept[Exception](TypeBridge.toSparkType("com.example.Custom"))
  }

  test("record-DDL mapping: nested case classes round-trip as typed Datasets") {
    // SURVEY §1.2b: the reference's record-IO DDL (class records with
    // vector<T>/map<K,V>) = Scala case classes + product encoders
    import spark.implicits._
    val in = Seq(
      BridgeRec(1L, BridgeInner("a", Seq(1, 2)), Map("k" -> 0.5)),
      BridgeRec(2L, BridgeInner("b", Nil), Map.empty))
    val ds = spark.createDataset(in)
    assert(ds.schema.fieldNames.toSeq == Seq("id", "inner", "m"))
    assert(ds.collect().toSeq == in)
  }

  test("record-DDL parser: modules, all primitives, composites, nesting") {
    val ddl =
      """module my.ns {
        |  class Inner { ustring tag; }
        |  class Outer {
        |    boolean b;     // inline comment
        |    byte y;  /* multi
        |                line */
        |    int i; long l; float f; double d;
        |    ustring s; buffer raw;
        |    vector<vector<int>> vv;
        |    map<ustring, long> m;
        |    vector<map<int, long>> vm;
        |    Inner nested;
        |    my.ns.Inner qualified;
        |  }
        |}""".stripMargin
    val schemas = RecordDDL.schemas(ddl)
    val inner = StructType(Seq(StructField("tag", StringType)))
    assert(schemas("my.ns.Inner") == inner)
    val outer = schemas("Outer")
    assert(outer.fieldNames.toSeq == Seq(
      "b", "y", "i", "l", "f", "d", "s", "raw", "vv", "m", "vm",
      "nested", "qualified"))
    assert(outer("b").dataType == BooleanType)
    assert(outer("y").dataType == ByteType)
    assert(outer("raw").dataType == BinaryType)
    assert(outer("vv").dataType == ArrayType(ArrayType(IntegerType)))
    assert(outer("m").dataType == MapType(StringType, LongType))
    assert(outer("vm").dataType == ArrayType(MapType(IntegerType, LongType)))
    assert(outer("nested").dataType == inner)
    assert(outer("qualified").dataType == inner)
    // undeclared forward reference fails fast
    intercept[Exception](
      RecordDDL.parse("module m { class A { Later x; } class Later { int i; } }"))
    // case-class codegen with a named nested record
    val src = RecordDDL.caseClassSource("Outer", outer, Map(inner -> "Inner"))
    assert(src.contains("final case class Outer("))
    assert(src.contains("vv: Seq[Seq[Int]]"))
    assert(src.contains("nested: Inner"))
  }

  test("record-DDL parser handles the reference's shipped .jr fixtures") {
    val dir = java.nio.file.Paths.get("/root/reference/src/test/ddl")
    assume(java.nio.file.Files.isDirectory(dir), "reference DDL fixtures absent")
    val fixtures = Seq("buffer.jr", "int.jr", "string.jr", "test.jr")
    val parsed = fixtures.map { f =>
      f -> RecordDDL.schemas(new String(
        java.nio.file.Files.readAllBytes(dir.resolve(f)), "UTF-8"))
    }.toMap
    assert(parsed("buffer.jr")("RecBuffer")("data").dataType == BinaryType)
    assert(parsed("int.jr")("RecInt")("data").dataType == IntegerType)
    assert(parsed("string.jr")("RecString")("data").dataType == StringType)
    val t = parsed("test.jr")
    val rec1 = t("org.apache.hadoop.record.RecRecord1")
    assert(rec1("vectorVal").dataType == ArrayType(StringType))
    assert(rec1("mapVal").dataType == MapType(StringType, StringType))
    assert(rec1("recordVal").dataType == t("RecRecord0"))
    assert(t("RecRecordOld")("strvec").dataType ==
      ArrayType(ArrayType(ArrayType(StringType))))
    assert(t("RecRecordOld")("mvec1").dataType ==
      ArrayType(MapType(IntegerType, LongType)))
  }

  test("distcp copies a directory tree with -update skip semantics") {
    val src = TestSpark.tempDir("graft-cp-src")
    val dst = TestSpark.tempDir("graft-cp-dst").toString
    java.nio.file.Files.writeString(src.resolve("a.txt"), "hello")
    java.nio.file.Files.writeString(src.resolve("b.txt"), "world!")
    val first = DistCpLite.copy(spark, src.toString, dst)
    assert(first.copied == 2 && first.skipped == 0 && first.bytes == 11)
    val second = DistCpLite.copy(spark, src.toString, dst, update = true)
    assert(second.copied == 0 && second.skipped == 2)
    val third = DistCpLite.copy(spark, src.toString, dst) // overwrite mode
    assert(third.copied == 2)
  }
}
