package graft.transform

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import graft.TestSpark
import graft.types.ColumnMeta

class ValueTransformsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("geomHex strips the 8-hex-char SRID prefix (root.go:437-438)") {
    // bytes 00 00 00 01 AB CD → hex "00000001abcd" → strip 8 → "abcd"
    val df = Seq(Array[Byte](0, 0, 0, 1, 0xab.toByte, 0xcd.toByte)).toDF("g")
    assert(df.select(ValueTransforms.geomHex($"g")).as[String].head() == "abcd")
  }

  test("bitHex strips the first hex char so bit(1) is one digit (root.go:439-440)") {
    val df = Seq(Array[Byte](1)).toDF("b")
    assert(df.select(ValueTransforms.bitHex($"b")).as[String].head() == "1")
    val df2 = Seq(Array[Byte](0xff.toByte)).toDF("b")
    assert(df2.select(ValueTransforms.bitHex($"b")).as[String].head() == "f")
  }

  private def meta(name: String, dataType: String, precision: Option[Int] = None,
                   scale: Option[Int] = None): ColumnMeta =
    ColumnMeta(name, dataType, None, precision, scale, "YES", None, 1)

  test("readType: dates, times and decimals as text, GEOMETRY/BIT as bytes, the rest typed") {
    Seq("date", "datetime", "timestamp", "time", "decimal")
      .foreach(t => assert(ValueTransforms.readType(t) == Some(StringType), t))
    Seq("geometry", "bit").foreach(t => assert(ValueTransforms.readType(t) == Some(BinaryType), t))
    Seq("int", "tinyint", "bigint", "double", "float", "varchar", "char", "text", "year",
      "tinyblob", "blob", "mediumblob", "longblob")
      .foreach(t => assert(ValueTransforms.readType(t).isEmpty, t))
    // MySQL's widest DECIMAL is past Spark's 38-digit DecimalType: text
    assert(ValueTransforms.customSchema(Seq(meta("amount", "decimal", Some(65), Some(30))))
      == "`amount` STRING")
  }

  test("customSchema quotes names with a backtick or a space so Spark parses them back") {
    val ddl = ValueTransforms.customSchema(
      Seq(meta("a`b", "datetime"), meta("c d", "bit"), meta("n", "int"), meta("blob", "longblob")))
    assert(ddl == "`a``b` STRING, `c d` BINARY")
    assert(StructType.fromDDL(ddl) ==
      StructType(Seq(StructField("a`b", StringType), StructField("c d", BinaryType))))
    assert(ValueTransforms.customSchema(Seq(meta("n", "int"))) == "")
  }

  test("sourceValues: a zero date/datetime is NULL, a varchar zero date is kept, hex by type") {
    val df = Seq(
      ("0000-00-00 00:00:00", "0000-00-00", "0000-00-00", "2024-01-02 03:04:05", Array[Byte](0, 0, 0, 1, 0xab.toByte)),
      ("2024-01-02 03:04:05.5", "2024-01-02", "x", null, Array[Byte](0xff.toByte)))
      .toDF("DT", "D", "V", "TS", "G")
    // catalog names are lower case; the read keeps the source's case
    val cols = Seq(meta("dt", "datetime"), meta("d", "date"), meta("v", "varchar"),
      meta("ts", "timestamp"), meta("g", "geometry"))
    val out = ValueTransforms.sourceValues(df, cols)
    assert(out.columns.toSeq == Seq("DT", "D", "V", "TS", "G"))
    assert(out.collect().toSeq == Seq(
      Row(null, null, "0000-00-00", "2024-01-02 03:04:05", "ab"),
      Row("2024-01-02 03:04:05.5", "2024-01-02", "x", null, "")))
    // no column to convert: the read itself, with no projection over it
    assert(ValueTransforms.sourceValues(df, Seq(meta("v", "varchar"), meta("x", "decimal"))) eq df)
    val bits = Seq(Array[Byte](1), Array[Byte](0x0f, 0xff.toByte)).toDF("b")
    assert(ValueTransforms.sourceValues(bits, Seq(meta("b", "bit"))).as[String].collect().toSeq
      == Seq("1", "fff"))
  }

  test("scrubNul removes U+0000, hasNul detects it (root.go:450-470)") {
    val df = Seq("a\u0000b\u0000", "clean").toDF("s")
    assert(df.select(ValueTransforms.scrubNul($"s")).as[String].collect().toSeq
      == Seq("ab", "clean"))
    assert(df.select(ValueTransforms.hasNul($"s")).as[Boolean].collect().toSeq
      == Seq(true, false))
  }

  test("lowercaseColumns folds names like PG (root.go:326-330)") {
    val df = Seq((1, "x")).toDF("ID", "TxT")
    assert(ValueTransforms.lowercaseColumns(df).columns.toSeq == Seq("id", "txt"))
  }

  test("scrubNulAll + nulStats count affected values per column") {
    val df = Seq(("a\u0000", "ok", 1), ("b", "c\u0000d", 2)).toDF("x", "y", "n")
    val stats = ValueTransforms.nulStats(df).collect().head
    assert(stats.getLong(0) == 1L && stats.getLong(1) == 1L)
    val scrubbed = ValueTransforms.scrubNulAll(df)
    assert(scrubbed.select("x").as[String].collect().toSeq == Seq("a", "b"))
  }
}
