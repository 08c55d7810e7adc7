package graft.catalog

import java.sql.{ResultSet, Types}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's pagination planner (cmd/root.go:335-386) re-thought for
  * Spark.
  *
  * The reference splits each table into `ceil(count/pageSize)` pages and
  * extracts each page with the "deferred join" trick
  * (`SELECT t.* FROM (SELECT pk ... LIMIT off,n) temp LEFT JOIN t ...`,
  * cmd/root.go:382), which still scans the whole offset on every page.
  * Here every PK shape gets keyset pages instead: one pass over the key
  * in key order yields every pageSize-th key, and page i is the key range
  * between two of those boundaries — a WHERE predicate, no OFFSET at all,
  * one Spark task per page.
  */
object Pagination {

  /** Comment marker prefixed to every generated page/probe/count SQL — the
    * reference prefixes a "gomysql2pg" block comment (root.go:373,394) —
    * so the source database's PROCESSLIST can identify, and on cancel
    * kill, graft's in-flight queries. */
  val SqlTag = "/* gomysql2pgspark */"

  /** Source SQL dialect of generated probe and page SQL: identifier quotes
    * and key literals. The source the reference reads speaks MySQL
    * (backtick identifiers, `\` escapes in strings); everything else gets
    * the ANSI forms, which Derby/PG/Oracle all accept — what makes the
    * page planner testable against an embedded database. */
  sealed abstract class SqlDialect(q: String) {
    /** Quoted identifier. Names come from the source catalog, so an
      * embedded quote character is doubled. */
    def quote(id: String): String = q + id.replace(q, q + q) + q

    /** Quoted string literal. */
    def string(s: String): String = "'" + s.replace("'", "''") + "'"

    /** How a key column of JDBC type `sqlType` is read from the boundary
      * probe and written back as SQL literal text; None when the type has
      * no literal form here. Dates and timestamps are the driver's text
      * inside the JDBC escapes, which both drivers translate, and not a
      * JVM-zone Date or Timestamp: Connector/J's text is the server's, so
      * a key in a DST gap keeps its wall clock. */
    def literal(sqlType: Int): Option[(ResultSet, Int) => String] = sqlType match {
      case Types.TINYINT | Types.SMALLINT | Types.INTEGER | Types.BIGINT |
           Types.DECIMAL | Types.NUMERIC =>
        Some((rs, i) => rs.getBigDecimal(i).toPlainString)
      case Types.CHAR | Types.VARCHAR | Types.LONGVARCHAR |
           Types.NCHAR | Types.NVARCHAR | Types.LONGNVARCHAR =>
        Some((rs, i) => string(rs.getString(i)))
      case Types.DATE => Some((rs, i) => s"{d '${rs.getString(i)}'}")
      case Types.TIMESTAMP => Some((rs, i) => s"{ts '${rs.getString(i)}'}")
      case _ => None
    }
  }
  case object MySqlDialect extends SqlDialect("`") {
    override def string(s: String): String = super.string(s.replace("\\", "\\\\"))
  }
  case object AnsiDialect extends SqlDialect("\"")

  /** Dialect inferred from a JDBC url. */
  def dialectFor(url: String): SqlDialect =
    if (url.startsWith("jdbc:mysql")) MySqlDialect else AnsiDialect

  /** The boundary probe: every key of `table` in key order. */
  def keyProbeSql(table: String, keyCols: Seq[String]): String = {
    val keys = keyCols.mkString(", ")
    s"SELECT $SqlTag $keys FROM $table ORDER BY $keys"
  }

  /** compareDb's count of `table` (cmd/compare.go:102-132). */
  def countSql(table: String): String = s"SELECT $SqlTag count(*) FROM $table"

  /** Keyset page predicates for `spark.read.jdbc(url, table, predicates,
    * props)` — one scan relation with one JDBC partition per page, so the
    * plan stays flat at any page count. `keyCols` are quoted key columns;
    * `bounds` are the rendered literals of the keys that open pages 1..m-1
    * (non-empty). With GE(B) the lexicographic "key sorts at or after B",
    * page 0 is NOT GE(B1), page i is GE(Bi) AND NOT GE(Bi+1), and the last
    * page is GE(Bm-1). Key columns are NOT NULL and each boundary's text is
    * reused verbatim on both sides, so by boolean logic alone the pages
    * are disjoint and cover the table, whatever the collation; only their
    * balance depends on the source comparing as it sorted.
    */
  def keysetPredicates(keyCols: Seq[String], bounds: Seq[Seq[String]]): Array[String] = {
    require(bounds.nonEmpty)
    val k = keyCols.toIndexedSeq
    def ge(b: Seq[String], i: Int): String =
      if (i == k.size - 1) s"${k(i)} >= ${b(i)}"
      else s"${k(i)} > ${b(i)} OR (${k(i)} = ${b(i)} AND (${ge(b, i + 1)}))"
    // the leading-column bound on each side is implied by the lexicographic
    // test; it is spelled out so that a source whose optimizer cannot
    // range-scan an OR still seeks each page through the PK index
    def from(b: Seq[String]): String =
      if (k.size == 1) ge(b, 0) else s"${k(0)} >= ${b(0)} AND (${ge(b, 0)})"
    def before(b: Seq[String]): String =
      if (k.size == 1) s"NOT (${ge(b, 0)})" else s"${k(0)} <= ${b(0)} AND NOT (${ge(b, 0)})"
    val lows = None +: bounds.map(Some(_))
    val highs = bounds.map(Some(_)) :+ None
    lows.zip(highs).map { case (lo, hi) =>
      s"$SqlTag ${(lo.map(from) ++ hi.map(before)).mkString(" AND ")}"
    }.toArray
  }

  /** The deferred-join *operator* itself as a DataFrame transform (the J1
    * shape, for the correctness gate): take the `offset..offset+n` slice of
    * `df` ordered by `pkCols`, then left-join the full rows back on the PK.
    *
    * Scale notes: the PK-slice side is tiny (≤ pageSize rows) so it is
    * broadcast — the big side never shuffles; `orderBy.limit` compiles to
    * TakeOrderedAndProject (global top-k without a global sort).
    */
  def deferredJoinPage(df: DataFrame, pkCols: Seq[String], offset: Long,
                       pageSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = pkCols.map(col)
    // Key slice: global top-(offset+n) on the PK — TakeOrderedAndProject
    // (no global sort), then row_number to drop the first `offset`. The
    // single-partition window is over ≤ offset+n *key-only* rows, which the
    // LIMIT/OFFSET contract bounds by construction; the scale path for deep
    // pages is keysetPredicates, not this operator.
    val rn = row_number().over(Window.orderBy(keys: _*))
    val slice = df.select(keys: _*)
      .orderBy(keys: _*)
      .limit((offset + pageSize).toInt)
      .withColumn("__rn", rn)
      .filter(col("__rn") > offset)
      .drop("__rn")
    // Broadcast semi-join: the big side never shuffles.
    df.join(broadcast(slice), pkCols, "left_semi")
  }
}
