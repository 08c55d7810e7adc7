package graft.io

import org.apache.spark.sql.Row

import graft.catalog.Pagination.AnsiDialect

/** PostgreSQL COPY text-format encoding (the wire format behind the
  * reference's `pq.CopyIn` bulk load, cmd/root.go:408-511).
  *
  * The byte-level rules COPY FROM STDIN expects:
  * tab-separated fields, newline-terminated rows, `\N` for NULL, and
  * backslash escapes for `\`, tab, LF, CR inside data; bytea as `\\x` hex.
  * PostgreSQL text cannot hold U+0000: the encoder drops it, the only
  * place that applies the reference's NUL strip (root.go:450-470).
  * Dates, times and decimals of a migrated table arrive as the source's
  * text (ValueTransforms.readType); a `java.sql.Timestamp` that still
  * arrives (a computed custom-SQL column, CopyStream) is written by its
  * `toString`, the JVM-local wall clock Spark's JDBC reader built it from.
  * PgCopyLoad streams these rows from `foreachPartition` through a
  * CopyTransport — pgjdbc's CopyManager (bound reflectively, since that
  * driver isn't on this classpath) behind cli.JdbcSink's PostgreSQL path.
  * The encoding, the part with correctness content, is tested here.
  */
object PgCopyText {

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Append one value's COPY text field to `sb`; true when the value's
    * text lost a U+0000. */
  private def append(sb: java.lang.StringBuilder, v: Any): Boolean = v match {
    case null => sb.append("\\N"); false
    case b: Array[Byte] => // bytea hex input form
      sb.append("\\\\x")
      b.foreach(x => sb.append(HexDigits((x >> 4) & 0xf)).append(HexDigits(x & 0xf)))
      false
    case b: Boolean => sb.append(if (b) 't' else 'f'); false
    // non-scalar values have no COPY text form — `toString` would load
    // "WrappedArray(...)" garbage (or be rejected) target-side; fail at
    // encode time with a fixable message instead
    case _: scala.collection.Seq[_] | _: Array[_] | _: java.util.List[_] |
         _: scala.collection.Map[_, _] | _: java.util.Map[_, _] | _: Row =>
      throw new IllegalArgumentException(
        s"COPY text cannot encode non-scalar value of type ${v.getClass.getName}; " +
          "flatten array/struct/map columns (e.g. to_json) before the bulk load")
    case other => // text: backslash escapes, NULs dropped
      var stripped = false
      other.toString.foreach {
        case '\\' => sb.append("\\\\")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\u0000' => stripped = true
        case c => sb.append(c)
      }
      stripped
  }

  /** One value → COPY text field. */
  def encodeValue(v: Any): String = encodeRow(Row(v))

  /** One row → COPY text line (no trailing newline); `stripped(i)` runs
    * for each field `i` that lost a NUL. */
  def encodeRow(row: Row, stripped: Int => Unit): String = {
    val sb = new java.lang.StringBuilder
    (0 until row.length).foreach { i =>
      if (i > 0) sb.append('\t')
      if (append(sb, row.get(i))) stripped(i)
    }
    sb.toString
  }

  def encodeRow(row: Row): String = encodeRow(row, _ => ())

  /** The COPY statement the stream is attached to. */
  def copyStatement(table: String, columns: Seq[String]): String =
    s"COPY ${AnsiDialect.quote(table)} (${columns.map(AnsiDialect.quote).mkString(", ")}) FROM STDIN"
}
