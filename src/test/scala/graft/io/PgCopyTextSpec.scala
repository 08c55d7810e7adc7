package graft.io

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row

class PgCopyTextSpec extends AnyFunSuite {

  test("escaping: backslash, tab, newline, CR") {
    assert(PgCopyText.escapeField("a\\b") == "a\\\\b")
    assert(PgCopyText.escapeField("a\tb\nc\rd") == "a\\tb\\nc\\rd")
    assert(PgCopyText.escapeField("plain") == "plain")
  }

  test("value encoding: NULL, bytea, boolean, timestamp") {
    assert(PgCopyText.encodeValue(null) == "\\N")
    assert(PgCopyText.encodeValue(Array[Byte](0xde.toByte, 0xad.toByte)) == "\\\\xdead")
    assert(PgCopyText.encodeValue(true) == "t")
    assert(PgCopyText.encodeValue(false) == "f")
    assert(PgCopyText.encodeValue(Timestamp.valueOf("2024-01-02 03:04:05.123456"))
      == "2024-01-02 03:04:05.123456")
    assert(PgCopyText.encodeValue(42) == "42")
    assert(PgCopyText.encodeValue(1.5) == "1.5")
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
