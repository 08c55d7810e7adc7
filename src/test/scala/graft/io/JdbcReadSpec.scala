package graft.io

import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.Pagination

/** The page-parallel JDBC read (S1) against a REAL database — embedded
  * Derby, the JDBC engine Spark ships with — instead of fakes: proves the
  * composite-PK path plans ONE flat scan relation with one partition per
  * page at 100+ pages (the shape that replaced the union-of-DataFrames
  * fallback), and that every page strategy (numeric range, composite and
  * VARCHAR deferred join, no-PK full scan) returns exactly the table's
  * rows. */
object DerbyTestDb {
  val url = "jdbc:derby:memory:graftread;create=true"
  def connection(): java.sql.Connection = DriverManager.getConnection(url)

  /** Run DDL/DML, ignoring "already exists"-style failures on drops. */
  def exec(sqls: String*): Unit = {
    val c = connection()
    try {
      val st = c.createStatement()
      sqls.foreach { sql =>
        try st.execute(sql)
        catch { case e: java.sql.SQLException if sql.startsWith("DROP") => () }
      }
    } finally c.close()
  }
}

class JdbcReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val conn = Jdbc.ConnInfo(DerbyTestDb.url, "", "")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Int, String, String)] =
    df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .sortBy(x => (x._1, x._2)).toSeq

  test("composite-PK read: flat plan, one partition per page, row-identical at 120 pages") {
    DerbyTestDb.exec(
      "DROP TABLE COMPO",
      "CREATE TABLE COMPO (A INT NOT NULL, B VARCHAR(16) NOT NULL, " +
        "V VARCHAR(24), PRIMARY KEY (A, B))")
    val c = DerbyTestDb.connection()
    try {
      val ps = c.prepareStatement("INSERT INTO COMPO VALUES (?, ?, ?)")
      (0 until 240).foreach { i =>
        ps.setInt(1, i % 40); ps.setString(2, s"k$i"); ps.setString(3, s"v$i")
        ps.addBatch()
      }
      ps.executeBatch()
    } finally c.close()

    val df = Jdbc.readTable(spark, conn, "COMPO", Seq("A", "B"),
      pkIsNumeric = false, pageSize = 2)
    // one Spark task per page...
    assert(df.rdd.getNumPartitions == 120)
    // ...but ONE leaf scan relation: the plan is flat at any page count
    assert(df.queryExecution.optimizedPlan.collectLeaves().size == 1)

    val got = rows(df)
    assert(got.size == 240 && got.distinct.size == 240)
    assert(got == rows(spark.read.jdbc(conn.url, "COMPO", conn.props)))

    // row-identical to the union-of-page-SQLs form this shape replaced
    val union = Pagination
      .deferredJoinPageSql("COMPO", Seq("A", "B"), 2, 240, Pagination.AnsiLimit)
      .map(sql => spark.read.jdbc(conn.url, s"($sql) page", conn.props))
      .reduce(_ unionByName _)
    assert(got == rows(union))
  }

  test("numeric-PK read: range predicates give one partition per page over a real scan") {
    DerbyTestDb.exec(
      "DROP TABLE SOLO",
      "CREATE TABLE SOLO (ID INT NOT NULL PRIMARY KEY, B VARCHAR(16) NOT NULL, V VARCHAR(24))")
    val c = DerbyTestDb.connection()
    try {
      val ps = c.prepareStatement("INSERT INTO SOLO VALUES (?, ?, ?)")
      (0 until 100).foreach { i =>
        ps.setInt(1, i); ps.setString(2, s"k$i"); ps.setString(3, s"v$i"); ps.addBatch()
      }
      ps.executeBatch()
    } finally c.close()

    val df = Jdbc.readTable(spark, conn, "SOLO", Seq("ID"),
      pkIsNumeric = true, pageSize = 25)
    assert(df.rdd.getNumPartitions == 4)
    assert(rows(df) == rows(spark.read.jdbc(conn.url, "SOLO", conn.props)))
  }

  test("no-PK read: one full-scan partition, row-identical") {
    DerbyTestDb.exec(
      "DROP TABLE NOPK",
      "CREATE TABLE NOPK (A INT NOT NULL, B VARCHAR(16) NOT NULL, V VARCHAR(24))")
    val c = DerbyTestDb.connection()
    try {
      val ps = c.prepareStatement("INSERT INTO NOPK VALUES (?, ?, ?)")
      (0 until 30).foreach { i =>
        ps.setInt(1, i % 7); ps.setString(2, s"k$i"); ps.setString(3, s"v$i"); ps.addBatch()
      }
      ps.executeBatch()
    } finally c.close()

    val df = Jdbc.readTable(spark, conn, "NOPK", Nil, pkIsNumeric = false, pageSize = 4)
    assert(df.rdd.getNumPartitions == 1)
    val got = rows(df)
    assert(got.size == 30)
    assert(got == rows(spark.read.jdbc(conn.url, "NOPK", conn.props)))
  }

  test("single VARCHAR-PK read: deferred-join predicates, ceil(n/pageSize) partitions") {
    DerbyTestDb.exec(
      "DROP TABLE VPK",
      "CREATE TABLE VPK (K VARCHAR(16) NOT NULL PRIMARY KEY, N INT NOT NULL, V VARCHAR(24))")
    val c = DerbyTestDb.connection()
    try {
      val ps = c.prepareStatement("INSERT INTO VPK VALUES (?, ?, ?)")
      (0 until 23).foreach { i =>
        ps.setString(1, s"key$i"); ps.setInt(2, i); ps.setString(3, s"v$i"); ps.addBatch()
      }
      ps.executeBatch()
    } finally c.close()

    val df = Jdbc.readTable(spark, conn, "VPK", Seq("K"), pkIsNumeric = false, pageSize = 5)
    assert(df.rdd.getNumPartitions == 5) // ceil(23 / 5)
    val got = df.collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(got.size == 23 && got.map(_._1).distinct.size == 23)
    assert(got == spark.read.jdbc(conn.url, "VPK", conn.props).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).sortBy(_._1).toSeq)
  }

  test("deferredJoinPredicates carry the kill tag and the dialect's limit clause") {
    val preds = Pagination.deferredJoinPredicates("t", Seq("a", "b"), 100, 250)
    assert(preds.length == 3)
    assert(preds.forall(_.contains("gomysql2pgspark")))
    assert(preds(1).contains("LIMIT 100,100"))
    val ansi = Pagination.deferredJoinPredicates("t", Seq("a"), 100, 250, Pagination.AnsiLimit)
    assert(ansi(2).contains("OFFSET 200 ROWS FETCH NEXT 100 ROWS ONLY"))
    // a PK column literally named k0 must not be captured by the inner
    // alias (a bare `k0 AS k0` correlation would be tautological)
    val capture = Pagination.deferredJoinPredicates("t", Seq("k0"), 100, 100)
    assert(capture.head.contains("temp.gm2ps_k0 = k0"))
    assert(Pagination.dialectFor("jdbc:mysql://h/db") == Pagination.MySqlLimit)
    assert(Pagination.dialectFor("jdbc:derby:memory:x") == Pagination.AnsiLimit)
  }
}
