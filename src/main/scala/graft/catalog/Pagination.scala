package graft.catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's pagination planner (cmd/root.go:335-386) re-thought for
  * Spark.
  *
  * The reference splits each table into `ceil(count/pageSize)` pages and
  * extracts each page with the "deferred join" trick
  * (`SELECT t.* FROM (SELECT pk ... LIMIT off,n) temp LEFT JOIN t ...`,
  * cmd/root.go:382) to avoid deep-OFFSET scans. On Spark the equivalent
  * plan unit is a JDBC partition predicate (`WHERE pk >= lo AND pk < hi`)
  * — strictly better: each page is an index range scan, no OFFSET at all,
  * and pages map 1:1 onto Spark tasks. LIMIT/OFFSET predicates remain the
  * fallback for composite or non-numeric PKs.
  */
object Pagination {

  /** Comment marker prefixed to every generated page/probe SQL — the
    * reference prefixes a "gomysql2pg" block comment (root.go:373,394) —
    * so the source database's PROCESSLIST can identify, and on cancel
    * kill, graft's in-flight queries. */
  val SqlTag = "/* gomysql2pgspark */"

  /** Page math (cmd/root.go:373-379): ceil(count/pageSize) pages; a table
    * always yields at least one page (root.go:381 uses `<=`). */
  def pageCount(rows: Long, pageSize: Long): Long =
    math.max(1L, (rows + pageSize - 1) / pageSize)

  /** Range predicates for a numeric PK: one `lo <= pk < hi` slice per page,
    * bounds spread evenly over [min, max]. These feed
    * `spark.read.jdbc(url, table, predicates, props)` — one Spark task per
    * page, parallelism bounded by the scheduler (the reference's
    * maxParallel semaphore, cmd/root.go:106-117, for free).
    */
  def rangePredicates(pk: String, min: Long, max: Long, pages: Int): Array[String] = {
    require(pages > 0)
    val span = max - min + 1
    (0 until pages).map { i =>
      val lo = min + span * i / pages
      val hi = min + span * (i + 1) / pages
      // the kill marker rides every page predicate too (root.go:394):
      // without it the PROCESSLIST sweep cannot identify numeric-path
      // page scans, only deferred-join ones
      if (i == pages - 1) s"$SqlTag $pk >= $lo AND $pk <= $max"
      else s"$SqlTag $pk >= $lo AND $pk < $hi"
    }.toArray
  }

  /** Source SQL dialect for generated page/probe SQL: the source the
    * reference reads speaks MySQL (`LIMIT off,n`, backtick identifiers);
    * everything else gets the ANSI forms (`OFFSET … FETCH`, double-quoted
    * identifiers), which Derby/PG/Oracle 12c+ all accept — what makes the
    * page planner testable against an embedded database. */
  sealed trait LimitDialect {
    def clause(offset: Long, n: Long): String
    def quote(id: String): String
  }
  case object MySqlLimit extends LimitDialect {
    override def clause(offset: Long, n: Long): String = s"LIMIT $offset,$n"
    override def quote(id: String): String = s"`$id`"
  }
  case object AnsiLimit extends LimitDialect {
    override def clause(offset: Long, n: Long): String =
      s"OFFSET $offset ROWS FETCH NEXT $n ROWS ONLY"
    override def quote(id: String): String = s""""$id""""
  }

  /** Dialect inferred from a JDBC url. */
  def dialectFor(url: String): LimitDialect =
    if (url.startsWith("jdbc:mysql")) MySqlLimit else AnsiLimit

  /** LIMIT/OFFSET fallback predicates in the reference's exact shape
    * (cmd/root.go:381-384), for composite / non-numeric PKs where range
    * slicing does not apply. Returned as full page SQLs. */
  def deferredJoinPageSql(table: String, pkCols: Seq[String], pageSize: Long,
                          totalRows: Long,
                          dialect: LimitDialect = MySqlLimit): Array[String] = {
    val keyList = pkCols.mkString(",")
    val onCond = pkCols.map(c => s"temp.$c = t.$c").mkString(" and ")
    (0L until pageCount(totalRows, pageSize)).map { p =>
      s"SELECT $SqlTag t.* FROM (SELECT $keyList FROM $table ORDER BY $keyList " +
        s"${dialect.clause(p * pageSize, pageSize)}) temp LEFT JOIN $table t ON $onCond"
    }.toArray
  }

  /** The same page list as WHERE *predicates* for a single
    * `spark.read.jdbc(url, table, predicates, props)` call — one scan
    * relation with one JDBC partition per page, so the plan stays FLAT at
    * any page count. (The alternative — one DataFrame per page SQL
    * unioned together — builds an N-deep union whose analysis cost grows
    * superlinearly; at 10k pages for a 1B-row composite-PK table the
    * driver chokes before the first byte moves.)
    *
    * Each predicate is the deferred join turned inside out: an
    * EXISTS-correlated membership test against the page's key slice.
    * Inner key columns are aliased with the collision-proof gm2ps_k
    * prefix (a bare k0..kn would CAPTURE the correlation if a PK column
    * were itself named k0, turning the page predicate tautological) so
    * the unqualified side binds to the OUTER scanned table — the source
    * database materializes the tiny key slice once per page query and
    * probes it, the same access path as the reference's LEFT JOIN page
    * SQL (cmd/root.go:382) without needing to rewrite the FROM clause
    * Spark owns. */
  def deferredJoinPredicates(table: String, pkCols: Seq[String], pageSize: Long,
                             totalRows: Long,
                             dialect: LimitDialect = MySqlLimit): Array[String] = {
    val keyList = pkCols.mkString(",")
    val aliased = pkCols.zipWithIndex.map { case (c, i) => s"$c AS gm2ps_k$i" }.mkString(",")
    val corr = pkCols.zipWithIndex.map { case (c, i) => s"temp.gm2ps_k$i = $c" }.mkString(" AND ")
    (0L until pageCount(totalRows, pageSize)).map { p =>
      s"$SqlTag EXISTS (SELECT 1 FROM (SELECT $aliased FROM $table ORDER BY $keyList " +
        s"${dialect.clause(p * pageSize, pageSize)}) temp WHERE $corr)"
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
    // pages is rangePredicates, not this operator.
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
