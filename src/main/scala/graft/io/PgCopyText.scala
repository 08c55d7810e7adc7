package graft.io

import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

import org.apache.spark.sql.Row

/** PostgreSQL COPY text-format encoding (the wire format behind the
  * reference's `pq.CopyIn` bulk load, cmd/root.go:408-511).
  *
  * The byte-level rules COPY FROM STDIN expects:
  * tab-separated fields, newline-terminated rows, `\N` for NULL, and
  * backslash escapes for `\`, tab, LF, CR inside data; bytea as `\\x` hex.
  * PgCopyLoad streams these rows from `foreachPartition` through a
  * CopyTransport — pgjdbc's CopyManager (bound reflectively, since that
  * driver isn't on this classpath) behind cli.JdbcSink's PostgreSQL path.
  * The encoding, the part with correctness content, is tested here.
  */
object PgCopyText {

  private val TsFormat =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS") // root.go:123 shape

  /** Escape one non-null field's text per COPY TEXT rules. */
  def escapeField(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '\t' => sb.append("\\t")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** One value → COPY text field. */
  def encodeValue(v: Any): String = v match {
    case null => "\\N"
    case b: Array[Byte] =>
      "\\\\x" + b.map("%02x".format(_)).mkString // bytea hex input form
    case b: Boolean => if (b) "t" else "f"
    case t: Timestamp =>
      TsFormat.format(t.toInstant.atOffset(ZoneOffset.UTC))
    case s: String => escapeField(s)
    // non-scalar values have no COPY text form — `toString` would load
    // "WrappedArray(...)" garbage (or be rejected) target-side; fail at
    // encode time with a fixable message instead
    case _: scala.collection.Seq[_] | _: Array[_] | _: java.util.List[_] |
         _: scala.collection.Map[_, _] | _: java.util.Map[_, _] | _: Row =>
      throw new IllegalArgumentException(
        s"COPY text cannot encode non-scalar value of type ${v.getClass.getName}; " +
          "flatten array/struct/map columns (e.g. to_json) before the bulk load")
    case other => escapeField(other.toString)
  }

  /** One row → COPY text line (no trailing newline). */
  def encodeRow(row: Row): String =
    (0 until row.length).map(i => encodeValue(row.get(i))).mkString("\t")

  /** The COPY statement the stream is attached to. */
  def copyStatement(table: String, columns: Seq[String]): String =
    s"""COPY "$table" (${columns.map(c => s""""$c"""").mkString(", ")}) FROM STDIN"""
}
