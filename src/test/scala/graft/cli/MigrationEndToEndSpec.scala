package graft.cli

import java.nio.file.Files
import java.sql.DriverManager
import java.util.concurrent.TimeUnit

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Success, Try}

import org.apache.spark.ListenerBusIntrospect
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.RegExpReplace
import org.scalatest.LoneElement._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.config.{ConnConfig, GraftConfig}
import graft.io.{DerbyCopyTransportFactory, Jdbc, StatementRegistry}
import graft.types.{ColumnMeta, TypeMapper}

/** The full migration, end to end, against REAL JDBC endpoints on BOTH
  * sides (embedded Derby): an information_schema-shaped fixture database
  * feeds JdbcCatalogSource (real catalog queries, the real key probe,
  * real keyset page reads), Migration.Runner
  * drives every phase, and rows land in a second Derby database through
  * real DDL and the production COPY write path (JdbcSink → PgCopyLoad),
  * whose transport replays each partition's COPY text as INSERTs. The
  * offline substitute for a live MySQL→PG wire test (SURVEY §7.4 #8):
  * everything except the two vendor wire protocols is the production
  * code path. */
object MigrationEndToEndSpec {
  val srcUrl = "jdbc:derby:memory:graftsrc;create=true"
  val tgtUrl = "jdbc:derby:memory:grafttgt;create=true"

  def exec(url: String)(sqls: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      sqls.foreach { sql =>
        try st.execute(sql)
        catch {
          // each test sets the source up again, so the schema may exist
          case _: java.sql.SQLException if sql.startsWith("DROP") || sql.startsWith("CREATE SCHEMA") => ()
        }
      }
    } finally c.close()
  }

  /** An information_schema with MySQL's shape, made again from empty. */
  val catalogDdl: Seq[String] = Seq(
    "DROP TABLE INFORMATION_SCHEMA.TABLES", "DROP TABLE INFORMATION_SCHEMA.COLUMNS",
    "DROP TABLE INFORMATION_SCHEMA.KEY_COLUMN_USAGE", "DROP TABLE INFORMATION_SCHEMA.STATISTICS",
    "DROP TABLE INFORMATION_SCHEMA.REFERENTIAL_CONSTRAINTS", "DROP TABLE INFORMATION_SCHEMA.VIEWS",
    "DROP TABLE INFORMATION_SCHEMA.TRIGGERS",
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
      "ACTION_STATEMENT VARCHAR(256))")

  /** The rows of `sql`, every column read with `getString`. */
  def strings(url: String, sql: String): Seq[Seq[String]] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      Iterator.continually(rs).takeWhile(_.next()).map(r => (1 to n).map(r.getString)).toVector
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

/** A migration of dates, times and decimals in a JVM whose default zone
  * is not UTC (run with `-Duser.timezone=Europe/Berlin`): a Derby source
  * whose values are SQL literal text, among them the DST-gap wall clock
  * 2024-03-31 02:30:00.5 and 1890-01-01, inside Berlin's LMT era, and a
  * TIMESTAMP-keyed table whose second page opens at the gap clock. Loads
  * through JdbcSink's COPY path into a second Derby database, prints one
  * line per difference and "done", and exits 1 on any difference. */
object ZoneMigration {
  import MigrationEndToEndSpec._

  val src = "jdbc:derby:memory:graftzsrc;create=true"
  val tgt = "jdbc:derby:memory:graftztgt;create=true"
  // (ID, DT, D, TM, X): each as Derby's getString renders it
  val values = Seq(
    (1, "2024-03-31 02:30:00.5", "2024-03-31", "02:30:00", "12.5000000000"),
    (2, "1890-01-01 00:00:00.0", "1890-01-01", "00:00:00", "-0.0000000001"),
    (3, "2024-10-27 02:30:00.123456", "2024-10-27", "23:59:59", "123456789012345678901.0123456789"),
    (4, "2024-07-01 12:00:00.0", "1970-01-01", "12:00:00", "0.0000000000"))
  val gapClock = "2024-03-31 02:30:00.5"
  // keys in order: the LMT date, nine more, the gap clock at ordinal 10
  // (the first key of page 1), nineteen after it
  val keys = "1890-01-01 00:00:00.0" +: (1 to 9).map(h => s"2024-03-30 0$h:00:00.0") ++:
    (gapClock +: (0 to 18).map(h => f"2024-04-01 $h%02d:00:00.0"))
  val pageSize = 10

  def main(args: Array[String]): Unit = {
    def lit(v: String) = s"'$v'"
    exec(src)(catalogDdl ++ Seq("DROP TABLE ZV", "DROP TABLE ZK",
      "CREATE TABLE ZV (ID INT NOT NULL PRIMARY KEY, DT TIMESTAMP, D DATE, TM TIME, X DECIMAL(31,10))",
      "CREATE TABLE ZK (K TIMESTAMP NOT NULL PRIMARY KEY, V INT NOT NULL)",
      "INSERT INTO INFORMATION_SCHEMA.TABLES VALUES ('zone', 'ZV', 'BASE TABLE', NULL), " +
        "('zone', 'ZK', 'BASE TABLE', NULL)",
      "INSERT INTO INFORMATION_SCHEMA.KEY_COLUMN_USAGE VALUES " +
        "('PRIMARY', 'zone', 'ZV', 'ID', 1, NULL, NULL), ('PRIMARY', 'zone', 'ZK', 'K', 1, NULL, NULL)",
      "INSERT INTO INFORMATION_SCHEMA.COLUMNS VALUES " +
        "('zone', 'ZV', 'ID', 'int', NULL, NULL, NULL, 'NO', NULL, 1, ''), " +
        "('zone', 'ZV', 'DT', 'datetime', NULL, NULL, NULL, 'NO', NULL, 2, ''), " +
        "('zone', 'ZV', 'D', 'date', NULL, NULL, NULL, 'NO', NULL, 3, ''), " +
        "('zone', 'ZV', 'TM', 'time', NULL, NULL, NULL, 'NO', NULL, 4, ''), " +
        "('zone', 'ZV', 'X', 'decimal', NULL, 31, 10, 'NO', NULL, 5, ''), " +
        "('zone', 'ZK', 'K', 'datetime', NULL, NULL, NULL, 'NO', NULL, 1, ''), " +
        "('zone', 'ZK', 'V', 'int', NULL, NULL, NULL, 'NO', NULL, 2, '')",
      "INSERT INTO ZV VALUES " + values.map { case (id, dt, d, tm, x) =>
        s"($id, ${lit(dt)}, ${lit(d)}, ${lit(tm)}, $x)" }.mkString(", "),
      "INSERT INTO ZK VALUES " + keys.zipWithIndex.map { case (k, v) => s"(${lit(k)}, $v)" }.mkString(", ")
    ): _*)
    exec(tgt)("DROP TABLE \"zv\"", "DROP TABLE \"zk\"")

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cfg = GraftConfig(src = ConnConfig(database = "zone"), pageSize = pageSize)
    val source = new JdbcCatalogSource(spark, cfg, urlOverride = Some(src))
    val flog = new FailureLog(graft.TempScratch.fresh("graft-zone"))
    val runner = new Migration.Runner(spark, cfg, source,
      new JdbcSink(Jdbc.ConnInfo(tgt, "", ""), new DerbyCopyTransportFactory(tgt)), Some(flog))
    runner.tableStructure()
    runner.tableData()
    val pages = source.tableData("ZK").rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq
    spark.stop()

    val diffs = mutable.Buffer[String]() ++
      (flog.read(FailureLog.TableCreateFailed) ++ flog.read(FailureLog.ErrorTableData))
    def same(what: String, targetSql: String, source: Seq[Seq[String]]): Unit =
      Try(strings(tgt, targetSql)) match {
        case Success(`source`) => ()
        case other => diffs += s"$what: target $other, source $source"
      }
    val zv = strings(src, "SELECT ID, DT, D, TM, X FROM ZV ORDER BY ID")
    same("zv", "SELECT \"id\", \"dt\", \"d\", \"tm\", \"x\" FROM \"zv\" ORDER BY 1", zv)
    // the source's text is the literal, but for the gap clock: Derby
    // resolves SQL timestamp text through the JVM zone and stores it an
    // hour later, as a wall clock that exists
    val literals = values.map { case (id, dt, d, tm, x) => Seq(id.toString, dt, d, tm, x) }
    zv.zip(literals).foreach { case (row, lits) =>
      row.zip(lits).filter { case (got, l) => got != l && l != gapClock }
        .foreach { case (got, l) => diffs += s"source: $got for literal $l" }
    }
    val zk = strings(src, "SELECT K, V FROM ZK ORDER BY K")
    same("zk", "SELECT \"k\", \"v\" FROM \"zk\" ORDER BY 1", zk)
    if (zk.size != keys.size) diffs += s"zk: ${zk.size} source rows"
    if (pages.size != 3 || pages.init.exists(_ != pageSize)) diffs += s"zk pages: $pages"
    diffs.foreach(println)
    println("done")
    sys.exit(if (diffs.isEmpty) 0 else 1)
  }
}

class MigrationEndToEndSpec extends AnyFunSuite {
  import MigrationEndToEndSpec._
  lazy val spark = TestSpark.spark

  private def setupSource(): Unit = {
    exec(srcUrl)(catalogDdl ++ Seq(
      "DROP TABLE PEOPLE", "DROP TABLE ORDERS", "DROP TABLE BADTAB",
      // data tables: single numeric PK (range-predicate path), composite
      // PK (deferred-join predicate path), and a poison table whose PG
      // type mapping the target rejects (failure-artifact path)
      "CREATE TABLE PEOPLE (ID INT NOT NULL PRIMARY KEY, NAME VARCHAR(20) NOT NULL)",
      "CREATE TABLE ORDERS (A INT NOT NULL, B INT NOT NULL, AMT INT NOT NULL, PRIMARY KEY (A, B))",
      "CREATE TABLE BADTAB (ID INT NOT NULL PRIMARY KEY, T VARCHAR(20) NOT NULL)"): _*)

    val c = DriverManager.getConnection(srcUrl)
    try {
      val st = c.createStatement()
      // catalog rows (MySQL information_schema shapes); PEOPLE.ID is an
      // auto-increment column whose next value is 58
      Seq("PEOPLE" -> "58", "ORDERS" -> "NULL", "BADTAB" -> "NULL").foreach { case (t, ai) =>
        st.execute(s"INSERT INTO INFORMATION_SCHEMA.TABLES VALUES ('test', '$t', 'BASE TABLE', $ai)")
      }
      def colRow(t: String, c0: String, dt: String, len: String, pos: Int,
                 extra: String = ""): String =
        s"INSERT INTO INFORMATION_SCHEMA.COLUMNS VALUES ('test', '$t', '$c0', '$dt', $len, " +
          s"NULL, NULL, 'NO', NULL, $pos, '$extra')"
      st.execute(colRow("PEOPLE", "ID", "int", "NULL", 1, "auto_increment"))
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
      // DDL objects: a unique and a two-column index (parts listed out of
      // order), a composite FK with rules, a view with backticks and the
      // schema prefix, a trigger with `#` comments, and rows of another
      // schema that no phase may read
      def statRow(t: String, ix: String, nonUnique: Int, seq: Int, c0: String): String =
        s"INSERT INTO INFORMATION_SCHEMA.STATISTICS VALUES ('test', '$t', '$ix', $nonUnique, " +
          s"$seq, '$c0', 'BTREE')"
      st.execute(statRow("PEOPLE", "PRIMARY", 0, 1, "ID"))
      st.execute(statRow("PEOPLE", "UX_NAME", 0, 1, "NAME"))
      st.execute(statRow("ORDERS", "IX_AMT_B", 1, 2, "B"))
      st.execute(statRow("ORDERS", "PRIMARY", 0, 2, "B"))
      st.execute(statRow("ORDERS", "IX_AMT_B", 1, 1, "AMT"))
      st.execute(statRow("ORDERS", "PRIMARY", 0, 1, "A"))
      st.execute("INSERT INTO INFORMATION_SCHEMA.STATISTICS VALUES ('other', 'PEOPLE', " +
        "'IX_OTHER', 1, 1, 'NAME', 'BTREE')")
      st.execute("INSERT INTO INFORMATION_SCHEMA.KEY_COLUMN_USAGE VALUES ('FK_ORD_HEAD', " +
        "'test', 'ORDERS', 'B', 2, 'HEADS', 'HB')")
      st.execute("INSERT INTO INFORMATION_SCHEMA.KEY_COLUMN_USAGE VALUES ('FK_ORD_HEAD', " +
        "'test', 'ORDERS', 'A', 1, 'HEADS', 'HA')")
      st.execute("INSERT INTO INFORMATION_SCHEMA.REFERENTIAL_CONSTRAINTS VALUES ('test', " +
        "'FK_ORD_HEAD', 'CASCADE', 'SET NULL')")
      st.execute("INSERT INTO INFORMATION_SCHEMA.VIEWS VALUES ('test', 'V_PEOPLE', " +
        "'select `ID`, `NAME` from test.`PEOPLE` where `ID` > 1')")
      st.execute("INSERT INTO INFORMATION_SCHEMA.VIEWS VALUES ('other', 'V_OTHER', 'select 1')")
      st.execute("INSERT INTO INFORMATION_SCHEMA.TRIGGERS VALUES ('test', 'TR_PEOPLE', " +
        "'#audit\nbegin\n#noop\nend')")

      val pp = c.prepareStatement("INSERT INTO PEOPLE VALUES (?, ?)")
      (1 to 57).foreach { i => pp.setInt(1, i); pp.setString(2, s"Name$i"); pp.addBatch() }
      pp.executeBatch()
      val po = c.prepareStatement("INSERT INTO ORDERS VALUES (?, ?, ?)")
      (1 to 37).foreach { i => po.setInt(1, i % 5); po.setInt(2, i); po.setInt(3, i * 10); po.addBatch() }
      po.executeBatch()
      st.execute("INSERT INTO BADTAB VALUES (1, 'x')")
    } finally c.close()
  }

  test("full phase chain over real JDBC: catalog → DDL → paged reads → COPY → compare") {
    setupSource()
    exec(tgtUrl)("DROP TABLE \"people\"", "DROP TABLE \"orders\"", "DROP TABLE \"badtab\"")

    val cfg = GraftConfig(src = ConnConfig(database = "test"), pageSize = 10, maxParallel = 4)
    val source = new JdbcCatalogSource(spark, cfg, urlOverride = Some(srcUrl))
    val sink = new JdbcSink(Jdbc.ConnInfo(tgtUrl, "", ""), new DerbyCopyTransportFactory(tgtUrl))
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

  test("DDL phases from real JDBC catalog rows: exact DDL, one job per catalog relation") {
    setupSource()
    exec(tgtUrl)("DROP TABLE \"people\"", "DROP TABLE \"orders\"", "DROP TABLE \"badtab\"")
    val cfg = GraftConfig(src = ConnConfig(database = "test"), pageSize = 10, maxParallel = 4)
    val source = new JdbcCatalogSource(spark, cfg, urlOverride = Some(srcUrl))
    val ddl = mutable.ArrayBuffer[String]()
    val jdbcSink = new JdbcSink(Jdbc.ConnInfo(tgtUrl, "", ""), new DerbyCopyTransportFactory(tgtUrl))
    val sink = new Migration.MigrationSink {
      override def executeDdl(sql: String): Try[Unit] = {
        synchronized(ddl += sql)
        jdbcSink.executeDdl(sql)
      }
      override def writeTable(table: String, df: DataFrame): Try[Long] = jdbcSink.writeTable(table, df)
      override def rowCount(table: String): Option[Long] = jdbcSink.rowCount(table)
    }
    val runner = new Migration.Runner(spark, cfg, source, sink)
    val dataRunner = new Migration.Runner(spark, cfg, source, jdbcSink)

    // jobs are counted by a local property of this thread, which the
    // phase workers inherit, so no other suite's job is counted
    val sc = spark.sparkContext
    val jobs = mutable.Map[String, Int]().withDefaultValue(0)
    val dataGroups = mutable.Buffer[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          Option(p.getProperty("graft.test.step")).foreach { step =>
            jobs.synchronized {
              jobs(step) += 1
              if (step == "TableData") dataGroups += p.getProperty("spark.jobGroup.id")
            }
          }
        }
    }
    def step(name: String)(body: => Unit): Unit = {
      sc.setLocalProperty("graft.test.step", name)
      try body finally sc.setLocalProperty("graft.test.step", null)
    }
    sc.addSparkListener(listener)
    try {
      assert(runner.workList == Seq("BADTAB", "ORDERS", "PEOPLE")) // read once, before compare
      step("TableStructure")(dataRunner.tableStructure())
      step("TableData")(dataRunner.tableData())
      step("Sequence")(runner.sequences())
      step("Index")(runner.indexes())
      step("ForeignKey")(runner.foreignKeys())
      step("View")(runner.views())
      step("Trigger")(runner.triggers())
      step("Compare")(runner.compare())
      ListenerBusIntrospect.drain(sc)
    } finally sc.removeSparkListener(listener)

    assert(ddl.toSeq == Seq(
      "drop sequence if exists seq_PEOPLE_ID",
      "create sequence seq_PEOPLE_ID start with 58",
      "alter table PEOPLE alter column ID set default nextval('seq_PEOPLE_ID')",
      "create index IX_AMT_B_g1 on ORDERS (AMT, B)",
      "alter table ORDERS add primary key (A, B)",
      "alter table PEOPLE add primary key (ID)",
      "create unique index UX_NAME_g1 on PEOPLE (NAME)",
      "alter table ORDERS add constraint FK_ORD_HEAD foreign key (A, B) references HEADS (HA, HB) " +
        "on delete set null on update cascade",
      "create or replace view V_PEOPLE as select ID, NAME from PEOPLE where ID > 1",
      "--audit\nbegin\n--noop\nend"))
    // catalog reads and counts are driver-side statements: the only Spark
    // jobs are the COPY writes, at most one per table
    Seq("TableStructure", "Sequence", "Index", "ForeignKey", "View", "Trigger", "Compare")
      .foreach(phase => assert(jobs(phase) == 0, s"$phase: ${jobs(phase)} jobs"))
    assert(jobs("TableData") <= runner.workList.size, s"TableData: ${jobs("TableData")} jobs")
    // every data job runs in the group the Ctrl-C hook cancels
    assert(dataGroups.nonEmpty && dataGroups.forall(_ == Cancellation.GroupId), dataGroups)
    assert(query1(tgtUrl, "SELECT COUNT(*) FROM \"people\"") == 57L)
  }

  test("NULs in two string columns: COPY strips them and logs invalidTableData, no option set") {
    setupSource()
    // a second catalog schema, so the other tests' work lists stay as they are
    exec(srcUrl)("DROP TABLE NULTAB",
      "CREATE TABLE NULTAB (ID INT NOT NULL PRIMARY KEY, A VARCHAR(40) NOT NULL, " +
        "B VARCHAR(40) NOT NULL)",
      "INSERT INTO INFORMATION_SCHEMA.TABLES VALUES ('nuls', 'NULTAB', 'BASE TABLE', NULL)",
      "INSERT INTO INFORMATION_SCHEMA.KEY_COLUMN_USAGE VALUES ('PRIMARY', 'nuls', 'NULTAB', " +
        "'ID', 1, NULL, NULL)",
      "INSERT INTO INFORMATION_SCHEMA.COLUMNS VALUES " +
        "('nuls', 'NULTAB', 'ID', 'int', NULL, NULL, NULL, 'NO', NULL, 1, ''), " +
        "('nuls', 'NULTAB', 'A', 'varchar', 40, NULL, NULL, 'NO', NULL, 2, ''), " +
        "('nuls', 'NULTAB', 'B', 'varchar', 40, NULL, NULL, 'NO', NULL, 3, '')")
    // 30 rows over 3 pages; every A and every third B carry NULs, so 40
    // values lose one, twice the log's cap
    val source = (1 to 30).map { i =>
      (i, s"a\u0000$i\u0000", if (i % 3 == 0) s"\u0000b\t$i" else s"b$i")
    }
    val c = DriverManager.getConnection(srcUrl)
    try {
      val ps = c.prepareStatement("INSERT INTO NULTAB VALUES (?, ?, ?)")
      source.foreach { case (i, a, b) =>
        ps.setInt(1, i); ps.setString(2, a); ps.setString(3, b); ps.addBatch()
      }
      ps.executeBatch()
    } finally c.close()
    exec(tgtUrl)("DROP TABLE \"nultab\"")

    val cfg = GraftConfig(src = ConnConfig(database = "nuls"), pageSize = 10)
    val flog = new FailureLog(graft.TempScratch.fresh("graft-nul"))
    val jdbcSink = new JdbcSink(Jdbc.ConnInfo(tgtUrl, "", ""),
      new DerbyCopyTransportFactory(tgtUrl), Some(flog))
    val handed = mutable.Buffer[DataFrame]()
    val sink = new Migration.MigrationSink {
      override def executeDdl(sql: String): Try[Unit] = jdbcSink.executeDdl(sql)
      override def writeTable(table: String, df: DataFrame): Try[Long] = {
        synchronized(handed += df)
        jdbcSink.writeTable(table, df)
      }
      override def rowCount(table: String): Option[Long] = jdbcSink.rowCount(table)
    }
    val runner = new Migration.Runner(spark, cfg,
      new JdbcCatalogSource(spark, cfg, urlOverride = Some(srcUrl)), sink, Some(flog))
    assert(runner.workList == Seq("NULTAB"))
    runner.tableStructure()
    runner.tableData()
    assert(runner.report().collect().forall(_.getLong(2) == 0L),
      flog.read(FailureLog.TableCreateFailed) ++ flog.read(FailureLog.ErrorTableData))

    // the sink gets the paged JDBC read itself: no regexp pass over it
    val plan = handed.loneElement.queryExecution.optimizedPlan
    assert(plan.find(_.expressions.exists(_.find(_.isInstanceOf[RegExpReplace]).isDefined)).isEmpty,
      plan.treeString)

    // target = source with NULs removed
    val tc = DriverManager.getConnection(tgtUrl)
    val target = try {
      val rs = tc.createStatement().executeQuery("SELECT \"id\", \"a\", \"b\" FROM \"nultab\"")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getInt(1), r.getString(2), r.getString(3))).toVector.sortBy(_._1)
    } finally tc.close()
    def strip(v: String) = v.replace("\u0000", "")
    assert(target == source.map { case (i, a, b) => (i, strip(a), strip(b)) })

    // invalidTableData.log: the reference's line shape (root.go:466),
    // capped, each a stripped value as it landed in the target
    val invalid = flog.read(FailureLog.InvalidTableData)
    assert(invalid.size == FailureLog.InvalidSampleLimit)
    val Line = ("""\[Warning\] invalid string found ! tableName:nultab column value:\[(.*)\] """ +
      """columnName:\[(a|b)\] -- ErrorInfo NUL scrubbed""").r
    val stripped = source.flatMap { case (_, a, b) => Seq("a" -> a, "b" -> b) }
      .collect { case (col, v) if v.contains('\u0000') => (col, strip(v)) }.toSet
    invalid.foreach {
      case Line(v, col) => assert(stripped((col, v)), s"$col=$v")
      case other => fail(s"unexpected line: $other")
    }
    assert(flog.read(FailureLog.ErrorTableData).isEmpty)
  }

  test("tableData reads GEOMETRY and BIT as the reference's hex text, a datetime as its text") {
    setupSource()
    exec(srcUrl)("DROP TABLE HEXTAB",
      "CREATE TABLE HEXTAB (ID INT NOT NULL PRIMARY KEY, G VARCHAR(8) FOR BIT DATA, " +
        "B VARCHAR(8) FOR BIT DATA, \"W T\" TIMESTAMP)",
      "INSERT INTO HEXTAB VALUES (1, X'00000001ABCD', X'01', '2024-01-02 03:04:05.0'), " +
        "(2, X'000010E60101', X'0FFF', NULL), (3, NULL, NULL, '1999-12-31 23:59:59.999999')",
      "INSERT INTO INFORMATION_SCHEMA.TABLES VALUES ('hex', 'HEXTAB', 'BASE TABLE', NULL)",
      "INSERT INTO INFORMATION_SCHEMA.KEY_COLUMN_USAGE VALUES ('PRIMARY', 'hex', 'HEXTAB', " +
        "'ID', 1, NULL, NULL)",
      "INSERT INTO INFORMATION_SCHEMA.COLUMNS VALUES " +
        "('hex', 'HEXTAB', 'ID', 'int', NULL, NULL, NULL, 'NO', NULL, 1, ''), " +
        "('hex', 'HEXTAB', 'G', 'geometry', NULL, NULL, NULL, 'YES', NULL, 2, ''), " +
        "('hex', 'HEXTAB', 'B', 'bit', NULL, 8, NULL, 'YES', NULL, 3, ''), " +
        "('hex', 'HEXTAB', 'W T', 'datetime', NULL, NULL, NULL, 'YES', NULL, 4, '')")
    val cfg = GraftConfig(src = ConnConfig(database = "hex"), pageSize = 2)
    val source = new JdbcCatalogSource(spark, cfg, urlOverride = Some(srcUrl))
    val expected = Seq(Row(1, "abcd", "1", "2024-01-02 03:04:05.0"), Row(2, "0101", "fff", null),
      Row(3, null, null, "1999-12-31 23:59:59.999999"))
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getInt(0))
    assert(rows(source.tableData("HEXTAB")) == expected)
    assert(rows(source.tableData("HEXTAB", Seq("SELECT * FROM HEXTAB WHERE ID < 3",
      "SELECT * FROM HEXTAB WHERE ID = 3"))) == expected)
  }

  test("columns and primaryKeyCols read one catalog snapshot per source") {
    setupSource()
    val cfg = GraftConfig(src = ConnConfig(database = "test"))
    val source = new JdbcCatalogSource(spark, cfg, urlOverride = Some(srcUrl))
    val orders = source.columns("ORDERS")
    assert(orders.sortBy(_.ordinalPosition).map(_.columnName) == Seq("a", "b", "amt"))
    assert(source.primaryKeyCols("ORDERS") == Seq("A", "B"))
    exec(srcUrl)("DELETE FROM INFORMATION_SCHEMA.COLUMNS",
      "DELETE FROM INFORMATION_SCHEMA.KEY_COLUMN_USAGE")
    // later lookups, for any table, answer from the first read
    assert(source.columns("ORDERS") == orders)
    assert(source.columns("PEOPLE").map(_.columnName).sorted == Seq("id", "name"))
    assert(source.primaryKeyCols("ORDERS") == Seq("A", "B"))
    assert(source.primaryKeyCols("PEOPLE") == Seq("ID"))
    assert(source.columns("NO_SUCH") == Nil && source.primaryKeyCols("NO_SUCH") == Nil)
    val fresh = new JdbcCatalogSource(spark, cfg, urlOverride = Some(srcUrl))
    assert(fresh.columns("ORDERS") == Nil)
    assert(fresh.primaryKeyCols("ORDERS") == Nil)
  }

  test("custom-SQL slices read as one partition each, row-identical to a plain read") {
    setupSource()
    val cfg = GraftConfig(src = ConnConfig(database = "test"), pageSize = 10)
    val source = new JdbcCatalogSource(spark, cfg, urlOverride = Some(srcUrl))
    val sliced = source.tableData("PEOPLE",
      Seq("SELECT * FROM PEOPLE WHERE ID <= 20", "SELECT * FROM PEOPLE WHERE ID > 20"))
    assert(sliced.rdd.getNumPartitions == 2)
    def rows(df: DataFrame): Seq[(Int, String)] =
      df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sorted
    assert(rows(sliced).size == 57)
    assert(rows(sliced) == rows(source.tableData("PEOPLE")))
  }

  test("non-UTC JVM (Europe/Berlin): dates, times, decimals land as the source's text, exact pages") {
    val dir = graft.TempScratch.fresh("graft-zone")
    val out = dir.resolve("out").toFile
    val err = dir.resolve("err").toFile
    val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx512m",
      "-Duser.timezone=Europe/Berlin") ++ jvmFlags ++
      Seq("-cp", System.getProperty("java.class.path"), ZoneMigration.getClass.getName.stripSuffix("$"))
    val p = new ProcessBuilder(cmd: _*).redirectOutput(out).redirectError(err).start()
    assert(p.waitFor(300, TimeUnit.SECONDS), "child JVM did not exit")
    val stdout = Files.readString(out.toPath)
    assert(p.exitValue == 0 && stdout.contains("done"),
      stdout + Files.readString(err.toPath).takeRight(4000))
  }

  test("JdbcSink doubles a quote inside the target name: create, truncate, COPY and count") {
    exec(tgtUrl)("DROP TABLE \"a\"\"b\"")
    val sink = new JdbcSink(Jdbc.ConnInfo(tgtUrl, "", ""), new DerbyCopyTransportFactory(tgtUrl))
    assert(sink.executeDdl(TypeMapper.createTableDdl("a\"b",
      Seq(ColumnMeta("x\"y", "int", None, None, None, "NO", None, 1)))).isSuccess)
    val df = spark.range(3).selectExpr("CAST(id AS INT) AS `x\"y`")
    assert(sink.writeTable("a\"b", df) == Success(3L))
    assert(sink.writeTable("a\"b", df) == Success(3L)) // truncated, then reloaded
    assert(sink.rowCount("a\"b") == Some(3L))
    assert(query1(tgtUrl, "SELECT SUM(\"x\"\"y\") FROM \"a\"\"b\"") == 3L)
  }

  test("a failing DDL through JdbcSink returns Failure and deregisters its statement") {
    val sink = new JdbcSink(Jdbc.ConnInfo(tgtUrl, "", ""), new DerbyCopyTransportFactory(tgtUrl))
    val before = StatementRegistry.activeCount
    val r = sink.executeDdl("CREATE TABLE \"no_such_schema\".\"t\" (x INT) BOGUS")
    assert(r.isFailure)
    assert(r.failed.get.isInstanceOf[java.sql.SQLException])
    assert(StatementRegistry.activeCount == before)
    assert(sink.executeDdl("DROP TABLE \"never_created\"").isFailure)
    assert(StatementRegistry.activeCount == before)
  }
}
