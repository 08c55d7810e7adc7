package graft.io

import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row

class PgCopyTextSpec extends AnyFunSuite {

  test("escaping: backslash, tab, newline, CR") {
    assert(PgCopyText.encodeValue("a\\b") == "a\\\\b")
    assert(PgCopyText.encodeValue("a\tb\nc\rd") == "a\\tb\\nc\\rd")
    assert(PgCopyText.encodeValue("plain") == "plain")
  }

  test("value encoding: NULL, bytea, boolean, timestamp") {
    assert(PgCopyText.encodeValue(null) == "\\N")
    assert(PgCopyText.encodeValue(Array[Byte](0xde.toByte, 0xad.toByte)) == "\\\\xdead")
    assert(PgCopyText.encodeValue(true) == "t")
    assert(PgCopyText.encodeValue(false) == "f")
    // a Timestamp prints the wall clock it was built from, in any JVM zone
    assert(PgCopyText.encodeValue(Timestamp.valueOf(LocalDateTime.of(2024, 1, 2, 3, 4, 5, 123456000)))
      == "2024-01-02 03:04:05.123456")
    assert(PgCopyText.encodeValue(42) == "42")
    assert(PgCopyText.encodeValue(1.5) == "1.5")
  }

  test("escaping drops U+0000 and reports each field it stripped") {
    assert(PgCopyText.encodeValue("a\u0000b\u0000") == "ab")
    assert(PgCopyText.encodeValue("\u0000") == "")
    val stripped = scala.collection.mutable.Buffer[Int]()
    assert(PgCopyText.encodeRow(Row("x\u0000", 1L, null, "y", "\u0000\t"), stripped += _)
      == "x\t1\t\\N\ty\t\\t")
    assert(stripped.toSeq == Seq(0, 4))
  }

  test("bytea: every byte 0x00-0xFF encodes as two lowercase hex digits") {
    val all = (0 to 255).map(_.toByte).toArray
    val enc = PgCopyText.encodeValue(all)
    assert(enc == "\\\\x" + all.map("%02x".format(_)).mkString)
    assert(enc.drop(3).grouped(2).map(Integer.parseInt(_, 16).toByte).toSeq == all.toSeq)
    assert(PgCopyText.encodeValue(Array.emptyByteArray) == "\\\\x")
  }

  test("property: decoding encodeRow's line gives back the row, NULs removed") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    // strings mix plain chars with everything the encoder rewrites:
    // NUL, tab, LF, CR, backslash, a literal \N, and non-BMP code points
    val piece = Gen.frequency(
      4 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf("\u0000", "\t", "\n", "\r", "\\", "\\N", "é", " "),
      1 -> Gen.choose(0x10000, 0x10FFFF).map(cp => new String(Character.toChars(cp))))
    val value: Gen[Any] = Gen.oneOf(
      Gen.const(null),
      Gen.listOf(piece).map(_.mkString),
      Gen.long.map(Long.box),
      Gen.zip(Gen.choose(-1000000000000L, 1000000000000L), Gen.choose(0, 8))
        .map { case (u, sc) => java.math.BigDecimal.valueOf(u, sc) },
      // wall clocks 1900-01-01 .. 2100-01-01, microsecond precision
      Gen.choose(-2208988800000000L, 4102444800000000L).map(us => Timestamp.valueOf(
        LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L).toInt * 1000,
          ZoneOffset.UTC))),
      Gen.oneOf(true, false).map(Boolean.box),
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))
    // a decoded field read back as the type of the value it came from
    def readBack(like: Any, field: String): Any = like match {
      case _: String => field
      case _: java.lang.Long => field.toLong
      case _: java.math.BigDecimal => new java.math.BigDecimal(field)
      case _: Timestamp => Timestamp.valueOf(field)
      case _: java.lang.Boolean => field match { case "t" => true; case "f" => false }
      case _: Array[Byte] =>
        assert(field.startsWith("\\x"))
        field.drop(2).grouped(2).map(Integer.parseInt(_, 16).toByte).toVector
    }
    def scrubbed(v: Any): Any = v match {
      case s: String => s.replace("\u0000", "")
      case b: Array[Byte] => b.toVector
      case other => other
    }
    val prop = Prop.forAll(Gen.nonEmptyListOf(value)) { values =>
      val line = PgCopyText.encodeRow(Row.fromSeq(values))
      val fields = graft.io.DerbyCopyTransport.decodeLine(line)
      !line.exists(c => c == '\n' || c == '\r' || c == '\u0000') &&
        fields.size == values.size &&
        values.zip(fields).forall {
          case (null, f) => f.isEmpty
          case (v, f) => f.exists(readBack(v, _) == scrubbed(v))
        }
    }
    val res = check(Parameters.default.withMinSuccessfulTests(300).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("row encoding joins fields with tabs, NULLs inline") {
    val row = Row(1L, null, "x\ty")
    assert(PgCopyText.encodeRow(row) == "1\t\\N\tx\\ty")
  }

  test("copy statement quotes identifiers") {
    assert(PgCopyText.copyStatement("t1", Seq("id", "name"))
      == """COPY "t1" ("id", "name") FROM STDIN""")
  }

  test("copy statement doubles a quote inside the table and column names") {
    assert(PgCopyText.copyStatement("a\"b", Seq("id", "x\"y"))
      == """COPY "a""b" ("id", "x""y") FROM STDIN""")
  }

  test("non-scalar values fail fast instead of encoding toString garbage") {
    // a custom per-table SQL can surface array/struct/map columns; their
    // toString would COPY as e.g. "WrappedArray(...)" varchar garbage
    intercept[IllegalArgumentException] { PgCopyText.encodeValue(Seq(1, 2)) }
    intercept[IllegalArgumentException] { PgCopyText.encodeValue(Array(1, 2)) }
    intercept[IllegalArgumentException] { PgCopyText.encodeValue(Map("a" -> 1)) }
    intercept[IllegalArgumentException] { PgCopyText.encodeValue(Row(1, "x")) }
    // bytea (Array[Byte]) keeps its dedicated encoding
    assert(PgCopyText.encodeValue(Array[Byte](1)) == "\\\\x01")
  }
}
