package graft.io

import java.sql.{DriverManager, PreparedStatement, Timestamp}
import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The page-parallel JDBC read (S1) against a REAL database — embedded
  * Derby, the JDBC engine Spark ships with — instead of fakes: proves the
  * keyset page plan is ONE flat scan relation with one partition per
  * page at 100+ pages, that every PK shape (numeric, composite, VARCHAR,
  * DECIMAL, DATE, TIMESTAMP, quoted mixed-case names, no PK, empty)
  * returns exactly the table's rows, and that every page but the last
  * holds exactly pageSize rows. */
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
        catch { case _: java.sql.SQLException if sql.startsWith("DROP") => () }
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

    val df = Jdbc.readTable(spark, conn, "COMPO", Seq("A", "B"), pageSize = 2)
    // one Spark task per page...
    assert(df.rdd.getNumPartitions == 120)
    // ...but ONE leaf scan relation: the plan is flat at any page count
    assert(df.queryExecution.optimizedPlan.collectLeaves().size == 1)

    val got = rows(df)
    assert(got.size == 240 && got.distinct.size == 240)
    assert(got == rows(spark.read.jdbc(conn.url, "COMPO", conn.props)))
    assert(pageSizes(df).forall(_ == 2))
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

    val df = Jdbc.readTable(spark, conn, "SOLO", Seq("ID"), pageSize = 25)
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

    val df = Jdbc.readTable(spark, conn, "NOPK", Nil, pageSize = 4)
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

    val df = Jdbc.readTable(spark, conn, "VPK", Seq("K"), pageSize = 5)
    assert(df.rdd.getNumPartitions == 5) // ceil(23 / 5)
    val got = df.collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(got.size == 23 && got.map(_._1).distinct.size == 23)
    assert(got == spark.read.jdbc(conn.url, "VPK", conn.props).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).sortBy(_._1).toSeq)
  }

  test("mixed-case table and PK column names are quoted in the probe, pages and relation") {
    DerbyTestDb.exec(
      "DROP TABLE \"MixedT\"",
      "CREATE TABLE \"MixedT\" (\"Id\" INT NOT NULL PRIMARY KEY, \"Val\" VARCHAR(16))")
    insert("INSERT INTO \"MixedT\" VALUES (?, ?)", 17) { (ps, i) =>
      ps.setInt(1, i * 3); ps.setString(2, s"v$i")
    }
    val df = Jdbc.readTable(spark, conn, "MixedT", Seq("Id"), pageSize = 4)
    assertPages(df, rows = 17, pageSize = 4)
    assert(sorted(df) == sorted(spark.read.jdbc(conn.url, "\"MixedT\"", conn.props)))
  }

  // (PK type, binds row i's key, rows, pageSize). The row counts take in
  // an empty table, an exact multiple of pageSize and one more than one.
  private val keyTypes: Seq[(String, (PreparedStatement, Int) => Unit, Int, Int)] = Seq(
    ("DECIMAL(12,2)",
      (ps, i) => ps.setBigDecimal(1, java.math.BigDecimal.valueOf(i * 731L - 5000, 2)), 31, 10),
    ("DATE",
      (ps, i) => ps.setDate(1, java.sql.Date.valueOf(LocalDate.of(1999, 12, 20).plusDays(i * 3L))),
      40, 8),
    ("TIMESTAMP",
      (ps, i) => ps.setTimestamp(1, Timestamp.valueOf(
        LocalDateTime.of(2024, 2, 28, 23, 0).plusSeconds(i * 3601L).plusNanos(i * 123457000L))),
      23, 5),
    // gappy: steps of 1, then jumps of up to ~10^12
    ("BIGINT",
      (ps, i) => ps.setLong(1, 9000000000L + i.toLong * i * i * i * i * i + i), 75, 10),
    ("INT", (ps, i) => ps.setInt(1, i), 0, 5))

  keyTypes.foreach { case (sqlType, bind, n, pageSize) =>
    test(s"$sqlType PK, $n rows, pageSize $pageSize: exact keyset pages, row-identical") {
      DerbyTestDb.exec("DROP TABLE KT",
        s"CREATE TABLE KT (K $sqlType NOT NULL PRIMARY KEY, V VARCHAR(16))")
      insert("INSERT INTO KT VALUES (?, ?)", n) { (ps, i) => bind(ps, i); ps.setString(2, s"v$i") }
      val df = Jdbc.readTable(spark, conn, "KT", Seq("K"), pageSize)
      assertPages(df, n, pageSize)
      assert(sorted(df) == sorted(spark.read.jdbc(conn.url, "KT", conn.props)))
    }
  }

  test("property: keyset pages over (INT, VARCHAR) keys are disjoint, cover, hold pageSize rows") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    // repeated leading values; strings with quotes, backslashes, mixed case
    val part = Gen.oneOf("a", "A", "b", "Z", "'", "\\", "''", "\\'", "é", "0")
    val str = Gen.choose(0, 3).flatMap(Gen.listOfN(_, part)).map(_.mkString)
    val key = Gen.zip(Gen.choose(-2, 6), str)
    val keys = Gen.choose(0, 300).flatMap(Gen.listOfN(_, key)).map(_.distinct)
    val prop = Prop.forAll(keys, Gen.choose(1, 64)) { (ks, pageSize) =>
      DerbyTestDb.exec("DROP TABLE KS",
        "CREATE TABLE KS (A INT NOT NULL, B VARCHAR(16) NOT NULL, PRIMARY KEY (A, B))")
      insert("INSERT INTO KS VALUES (?, ?)", ks.size) { (ps, i) =>
        ps.setInt(1, ks(i)._1); ps.setString(2, ks(i)._2)
      }
      val pages = Jdbc.readTable(spark, conn, "KS", Seq("A", "B"), pageSize).rdd
        .mapPartitions(it => Iterator(it.map(r => (r.getInt(0), r.getString(1))).toVector))
        .collect().toSeq
      val all = pages.flatten
      val m = math.max(1, (ks.size + pageSize - 1) / pageSize)
      all.size == ks.size && all.toSet == ks.toSet &&
        pages.size == m && pages.init.forall(_.size == pageSize)
    }
    val res = check(Parameters.default.withMinSuccessfulTests(30).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("streamed reads: cursor fetch and fetchsize on MySQL, Derby options unchanged") {
    val mysql = Jdbc.ConnInfo("jdbc:mysql://h:3306/db", "u", "p").streamProps
    assert(mysql.getProperty("useCursorFetch") == "true")
    assert(mysql.getProperty("fetchsize") == Jdbc.FetchRows.toString)
    assert(conn.streamProps == conn.props)
  }

  private def insert(sql: String, n: Int)(bind: (PreparedStatement, Int) => Unit): Unit = {
    val c = DerbyTestDb.connection()
    try {
      val ps = c.prepareStatement(sql)
      (0 until n).foreach { i => bind(ps, i); ps.addBatch() }
      if (n > 0) ps.executeBatch()
    } finally c.close()
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Rows in each partition, in partition order. */
  private def pageSizes(df: DataFrame): Seq[Int] =
    df.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq

  /** ceil(rows/pageSize) pages (at least one), each full but the last. */
  private def assertPages(df: DataFrame, rows: Int, pageSize: Int): Unit = {
    val sizes = pageSizes(df)
    val m = math.max(1, (rows + pageSize - 1) / pageSize)
    assert(sizes.size == m)
    assert(sizes.init.forall(_ == pageSize) && sizes.last == rows - pageSize * (m - 1))
  }
}
