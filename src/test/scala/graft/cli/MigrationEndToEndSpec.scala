package graft.cli

import java.nio.file.Files
import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.config.{ConnConfig, GraftConfig}
import graft.io.{Jdbc, StatementRegistry}

/** The full migration, end to end, against REAL JDBC endpoints on BOTH
  * sides (embedded Derby): an information_schema-shaped fixture database
  * feeds JdbcCatalogSource (real catalog queries, real page-probe SQL,
  * real page-predicate reads — both PK strategies), Migration.Runner
  * drives every phase, and rows land in a second Derby database through
  * real DDL + batched INSERT statements. The offline substitute for a
  * live MySQL→PG wire test (SURVEY §7.4 #8): everything except the two
  * vendor wire protocols is the production code path. */
object MigrationEndToEndSpec {
  val srcUrl = "jdbc:derby:memory:graftsrc;create=true"
  val tgtUrl = "jdbc:derby:memory:grafttgt;create=true"

  def exec(url: String)(sqls: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      sqls.foreach { sql =>
        try st.execute(sql)
        catch { case _: java.sql.SQLException if sql.startsWith("DROP") => () }
      }
    } finally c.close()
  }

  def query1(url: String, sql: String): Long = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      rs.next(); rs.getLong(1)
    } finally c.close()
  }
}

class MigrationEndToEndSpec extends AnyFunSuite {
  import MigrationEndToEndSpec._
  lazy val spark = TestSpark.spark

  private def setupSource(): Unit = {
    exec(srcUrl)(
      "DROP TABLE INFORMATION_SCHEMA.TABLES", "DROP TABLE INFORMATION_SCHEMA.COLUMNS",
      "DROP TABLE INFORMATION_SCHEMA.KEY_COLUMN_USAGE", "DROP TABLE INFORMATION_SCHEMA.STATISTICS",
      "DROP TABLE INFORMATION_SCHEMA.REFERENTIAL_CONSTRAINTS", "DROP TABLE INFORMATION_SCHEMA.VIEWS",
      "DROP TABLE INFORMATION_SCHEMA.TRIGGERS",
      "DROP TABLE PEOPLE", "DROP TABLE ORDERS", "DROP TABLE BADTAB",
      "CREATE SCHEMA INFORMATION_SCHEMA",
      "CREATE TABLE INFORMATION_SCHEMA.TABLES (TABLE_SCHEMA VARCHAR(64), TABLE_NAME VARCHAR(64), " +
        "TABLE_TYPE VARCHAR(32), AUTO_INCREMENT BIGINT)",
      "CREATE TABLE INFORMATION_SCHEMA.COLUMNS (TABLE_SCHEMA VARCHAR(64), TABLE_NAME VARCHAR(64), " +
        "COLUMN_NAME VARCHAR(64), DATA_TYPE VARCHAR(32), CHARACTER_MAXIMUM_LENGTH BIGINT, " +
        "NUMERIC_PRECISION INT, NUMERIC_SCALE INT, IS_NULLABLE VARCHAR(3), " +
        "COLUMN_DEFAULT VARCHAR(64), ORDINAL_POSITION INT, EXTRA VARCHAR(32))",
      "CREATE TABLE INFORMATION_SCHEMA.KEY_COLUMN_USAGE (CONSTRAINT_NAME VARCHAR(64), " +
        "TABLE_SCHEMA VARCHAR(64), TABLE_NAME VARCHAR(64), COLUMN_NAME VARCHAR(64), " +
        "ORDINAL_POSITION INT, REFERENCED_TABLE_NAME VARCHAR(64), REFERENCED_COLUMN_NAME VARCHAR(64))",
      "CREATE TABLE INFORMATION_SCHEMA.STATISTICS (TABLE_SCHEMA VARCHAR(64), TABLE_NAME VARCHAR(64), " +
        "INDEX_NAME VARCHAR(64), NON_UNIQUE INT, SEQ_IN_INDEX INT, COLUMN_NAME VARCHAR(64), " +
        "INDEX_TYPE VARCHAR(16))",
      "CREATE TABLE INFORMATION_SCHEMA.REFERENTIAL_CONSTRAINTS (CONSTRAINT_SCHEMA VARCHAR(64), " +
        "CONSTRAINT_NAME VARCHAR(64), UPDATE_RULE VARCHAR(16), DELETE_RULE VARCHAR(16))",
      "CREATE TABLE INFORMATION_SCHEMA.VIEWS (TABLE_SCHEMA VARCHAR(64), TABLE_NAME VARCHAR(64), " +
        "VIEW_DEFINITION VARCHAR(256))",
      "CREATE TABLE INFORMATION_SCHEMA.TRIGGERS (TRIGGER_SCHEMA VARCHAR(64), TRIGGER_NAME VARCHAR(64), " +
        "ACTION_STATEMENT VARCHAR(256))",
      // data tables: single numeric PK (range-predicate path), composite
      // PK (deferred-join predicate path), and a poison table whose PG
      // type mapping the target rejects (failure-artifact path)
      "CREATE TABLE PEOPLE (ID INT NOT NULL PRIMARY KEY, NAME VARCHAR(20) NOT NULL)",
      "CREATE TABLE ORDERS (A INT NOT NULL, B INT NOT NULL, AMT INT NOT NULL, PRIMARY KEY (A, B))",
      "CREATE TABLE BADTAB (ID INT NOT NULL PRIMARY KEY, T VARCHAR(20) NOT NULL)")

    val c = DriverManager.getConnection(srcUrl)
    try {
      val st = c.createStatement()
      // catalog rows (MySQL information_schema shapes)
      Seq("PEOPLE", "ORDERS", "BADTAB").foreach(t => st.execute(
        s"INSERT INTO INFORMATION_SCHEMA.TABLES VALUES ('test', '$t', 'BASE TABLE', NULL)"))
      def colRow(t: String, c0: String, dt: String, len: String, pos: Int): String =
        s"INSERT INTO INFORMATION_SCHEMA.COLUMNS VALUES ('test', '$t', '$c0', '$dt', $len, " +
          s"NULL, NULL, 'NO', NULL, $pos, '')"
      st.execute(colRow("PEOPLE", "ID", "int", "NULL", 1))
      st.execute(colRow("PEOPLE", "NAME", "varchar", "20", 2))
      st.execute(colRow("ORDERS", "A", "int", "NULL", 1))
      st.execute(colRow("ORDERS", "B", "int", "NULL", 2))
      st.execute(colRow("ORDERS", "AMT", "int", "NULL", 3))
      st.execute(colRow("BADTAB", "ID", "int", "NULL", 1))
      st.execute(colRow("BADTAB", "T", "text", "NULL", 2)) // PG text: target rejects
      def pkRow(t: String, c0: String, pos: Int): String =
        s"INSERT INTO INFORMATION_SCHEMA.KEY_COLUMN_USAGE VALUES ('PRIMARY', 'test', '$t', " +
          s"'$c0', $pos, NULL, NULL)"
      st.execute(pkRow("PEOPLE", "ID", 1))
      st.execute(pkRow("ORDERS", "A", 1))
      st.execute(pkRow("ORDERS", "B", 2))
      st.execute(pkRow("BADTAB", "ID", 1))

      val pp = c.prepareStatement("INSERT INTO PEOPLE VALUES (?, ?)")
      (1 to 57).foreach { i => pp.setInt(1, i); pp.setString(2, s"Name$i"); pp.addBatch() }
      pp.executeBatch()
      val po = c.prepareStatement("INSERT INTO ORDERS VALUES (?, ?, ?)")
      (1 to 37).foreach { i => po.setInt(1, i % 5); po.setInt(2, i); po.setInt(3, i * 10); po.addBatch() }
      po.executeBatch()
      st.execute("INSERT INTO BADTAB VALUES (1, 'x')")
    } finally c.close()
  }

  test("full phase chain over real JDBC: catalog → DDL → paged reads → batched INSERT → compare") {
    setupSource()
    exec(tgtUrl)("DROP TABLE \"people\"", "DROP TABLE \"orders\"", "DROP TABLE \"badtab\"")

    val cfg = GraftConfig(src = ConnConfig(database = "test"), pageSize = 10, maxParallel = 4)
    val source = new JdbcCatalogSource(spark, cfg, urlOverride = Some(srcUrl))
    val sink = new JdbcSink(spark, Jdbc.ConnInfo(tgtUrl, "", ""))
    val flog = new FailureLog(graft.TempScratch.fresh("graft-e2e"))
    val runner = new Migration.Runner(spark, cfg, source, sink, Some(flog))

    assert(runner.workList == Seq("BADTAB", "ORDERS", "PEOPLE"))
    val report = runner.run().collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

    // phase accounting: 3 tables, the poison one fails create AND data
    assert(report("TableStructure") == ((3L, 1L)))
    assert(report("TableData") == ((3L, 1L)))

    // the rows really are in the target, via independent JDBC
    assert(query1(tgtUrl, "SELECT COUNT(*) FROM \"people\"") == 57L)
    assert(query1(tgtUrl, "SELECT COUNT(*) FROM \"orders\"") == 37L)
    assert(query1(tgtUrl, "SELECT COUNT(*) FROM \"people\" WHERE \"name\" = 'Name57'") == 1L)
    assert(query1(tgtUrl, "SELECT \"amt\" FROM \"orders\" WHERE \"a\" = 2 AND \"b\" = 37") == 370L)

    // failure artifacts (K3): the poison table's create DDL and its
    // data-phase failure are replayable from the log dir
    assert(flog.read(FailureLog.TableCreateFailed).exists(_.contains("\"badtab\"")))
    assert(flog.read(FailureLog.FailedTable) == Seq("BADTAB"))
    assert(flog.read(FailureLog.ErrorTableData).exists(_.startsWith("BADTAB")))

    // compareDb over the same live endpoints: equal counts for the two
    // migrated tables, missing-target shape for the poison one
    val cmp = runner.compare().collect()
      .map(r => r.getString(0) -> (r.getString(3), r.getString(4))).toMap
    assert(cmp("PEOPLE") == (("YES", "YES")))
    assert(cmp("ORDERS") == (("YES", "YES")))
    assert(cmp("BADTAB") == (("NO", "NO")))

    // and the migration is idempotent: a second run truncates + reloads
    val runner2 = new Migration.Runner(spark, cfg, source, sink)
    runner2.run()
    assert(query1(tgtUrl, "SELECT COUNT(*) FROM \"people\"") == 57L)
    assert(query1(tgtUrl, "SELECT COUNT(*) FROM \"orders\"") == 37L)
  }

  test("a failing DDL through JdbcSink returns Failure and deregisters its statement") {
    val sink = new JdbcSink(spark, Jdbc.ConnInfo(tgtUrl, "", ""))
    val before = StatementRegistry.activeCount
    val r = sink.executeDdl("CREATE TABLE \"no_such_schema\".\"t\" (x INT) BOGUS")
    assert(r.isFailure)
    assert(r.failed.get.isInstanceOf[java.sql.SQLException])
    assert(StatementRegistry.activeCount == before)
    assert(sink.executeDdl("DROP TABLE \"never_created\"").isFailure)
    assert(StatementRegistry.activeCount == before)
  }
}
