package graft.io

import java.sql.{DriverManager, Statement}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.Pagination

/** JDBC source layer and driver-side statements — the Spark-native
  * replacement for the reference's goroutine-per-page extraction
  * (cmd/root.go:389-516) and its driver-side DDL (cmd/tablemeta.go K2).
  * The write side is cli.JdbcSink. The read path runs against embedded
  * Derby in JdbcReadSpec and MigrationEndToEndSpec; only the two vendor
  * wire protocols are untested offline.
  */
object Jdbc {

  /** Rows per round trip of a streamed read: the key probe and, on
    * MySQL, each page. */
  val FetchRows = 10000

  case class ConnInfo(url: String, user: String, password: String) {
    def props: Properties = {
      val p = new Properties()
      p.setProperty("user", user)
      p.setProperty("password", password)
      p
    }

    /** Properties of a streamed read: Connector/J buffers a whole result
      * unless cursor fetch is on, so MySQL gets `useCursorFetch` and
      * Spark's `fetchsize` option. */
    def streamProps: Properties = {
      val p = props
      if (url.startsWith("jdbc:mysql")) {
        p.setProperty("useCursorFetch", "true")
        p.setProperty("fetchsize", FetchRows.toString)
      }
      p
    }
  }

  /** Page-parallel table read, the one page planner: one keyset
    * predicate per page, one JDBC partition and Spark task per page, with
    * connections bounded by the scheduler like the reference's
    * maxParallel semaphore (root.go:106-117). No PK (root.go:356-359), a
    * single page or a key type without a literal form reads as one full
    * scan. */
  def readTable(spark: SparkSession, conn: ConnInfo, table: String,
                pkCols: Seq[String], pageSize: Long): DataFrame = {
    val dialect = Pagination.dialectFor(conn.url)
    val relation = dialect.quote(table)
    val keys = pkCols.map(dialect.quote)
    val bounds = if (keys.isEmpty) Nil else keyBoundaries(conn, dialect, relation, keys, pageSize)
    if (bounds.isEmpty) spark.read.jdbc(conn.url, relation, conn.streamProps)
    else spark.read.jdbc(conn.url, relation,
      Pagination.keysetPredicates(keys, bounds), conn.streamProps)
  }

  /** One driver-side pass over the key in key order, keeping the rendered
    * keys at ordinals pageSize, 2·pageSize, …: the first key of every page
    * after the first. */
  private def keyBoundaries(conn: ConnInfo, dialect: Pagination.SqlDialect, relation: String,
                            keys: Seq[String], pageSize: Long): Seq[Seq[String]] =
    withStatement(conn) { st =>
      st.setFetchSize(FetchRows)
      val rs = st.executeQuery(Pagination.keyProbeSql(relation, keys))
      val render = keys.indices.map(i => dialect.literal(rs.getMetaData.getColumnType(i + 1)))
      if (render.exists(_.isEmpty)) Nil
      else Iterator.continually(rs).takeWhile(_.next()).zip(Iterator.iterate(0L)(_ + 1)).collect {
        case (r, n) if n > 0 && n % pageSize == 0 =>
          render.indices.map(i => render(i).get(r, i + 1))
      }.toVector
    }

  /** One target-side DDL statement (target DDL has no DataFrame form);
    * throws on failure. */
  def executeDdl(conn: ConnInfo, sql: String): Unit =
    withStatement(conn)(_.execute(sql))

  /** Runs `f` on one statement over plain driver JDBC: opens the
    * connection, registers the statement while it runs so the Ctrl-C hook
    * can cancel it, and closes the connection. */
  def withStatement[A](conn: ConnInfo)(f: Statement => A): A = {
    val c = DriverManager.getConnection(conn.url, conn.streamProps)
    try {
      val st = c.createStatement()
      StatementRegistry.register(st)
      try f(st) finally StatementRegistry.deregister(st)
    } finally c.close()
  }
}
