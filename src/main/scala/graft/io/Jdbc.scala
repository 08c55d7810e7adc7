package graft.io

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.Pagination

/** JDBC source layer and DDL side-channel — the Spark-native replacement
  * for the reference's goroutine-per-page extraction (cmd/root.go:389-516)
  * and its driver-side DDL (cmd/tablemeta.go K2). The write side is
  * cli.JdbcSink.
  *
  * No live MySQL/PG exists in this environment; the read paths (every PK
  * page strategy) run against embedded Derby in JdbcReadSpec and the
  * full phase chain in MigrationEndToEndSpec — only the two vendor wire
  * protocols are untested offline.
  */
object Jdbc {

  case class ConnInfo(url: String, user: String, password: String) {
    def props: Properties = {
      val p = new Properties()
      p.setProperty("user", user)
      p.setProperty("password", password)
      p
    }
  }

  /** Page-parallel table read, the one page planner: no PK → single full
    * scan (root.go:356-359), no probe. Otherwise one tagged probe
    * (`count(*), min(k0), max(k0)`) sizes the pages: a numeric single-
    * column PK gets range predicates over its REAL bounds (auto-increment
    * keys start at 1, sparse keys leave gaps) — index range scans, no
    * OFFSET, strictly better than the reference's deferred join
    * (cmd/root.go:382); a composite/non-numeric PK gets the reference's
    * LIMIT/OFFSET deferred-join page SQLs as predicates.
    * One JDBC partition per page = one Spark task per page; concurrent
    * connections are bounded by the scheduler exactly like the reference's
    * maxParallel semaphore (root.go:106-117).
    */
  def readTable(spark: SparkSession, conn: ConnInfo, table: String,
                pkCols: Seq[String], pkIsNumeric: Boolean, pageSize: Long): DataFrame =
    if (pkCols.isEmpty) spark.read.jdbc(conn.url, table, conn.props)
    else {
      val dialect = Pagination.dialectFor(conn.url)
      val k = dialect.quote(pkCols.head)
      val stats = spark.read.jdbc(conn.url,
        s"(select ${Pagination.SqlTag} count(*) c, min($k) mn, max($k) mx " +
          s"from ${dialect.quote(table)}) t", conn.props).collect().head
      def long(i: Int): Long = Option(stats.get(i)).fold(0L)(_.toString.toLong)
      val predicates =
        if (pkCols.size == 1 && pkIsNumeric)
          Pagination.rangePredicates(pkCols.head, long(1), long(2),
            Pagination.pageCount(long(0), pageSize).toInt)
        // one predicates-array read: every deferred-join page is a WHERE
        // predicate on a SINGLE scan relation — one JDBC partition per
        // page, and the plan stays flat at any page count (a union of
        // per-page DataFrames would grow an N-deep union plan whose
        // analysis cost explodes at 10k+ pages)
        else Pagination.deferredJoinPredicates(table, pkCols, pageSize, long(0), dialect)
      spark.read.jdbc(conn.url, table, predicates, conn.props)
    }

  /** One target-side DDL statement over plain driver JDBC (target DDL has
    * no DataFrame form); throws on failure. The statement is registered
    * while it runs so the Ctrl-C hook can cancel it. */
  def executeDdl(conn: ConnInfo, sql: String): Unit = {
    val c = DriverManager.getConnection(conn.url, conn.user, conn.password)
    try {
      val st = c.createStatement()
      StatementRegistry.register(st)
      try st.execute(sql) finally StatementRegistry.deregister(st)
    } finally c.close()
  }
}
