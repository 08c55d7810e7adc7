package graft.streaming

import java.nio.charset.StandardCharsets
import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.TestSpark
import graft.io.{CopyTransport, CopyTransportFactory, DerbyCopyTransport, JdbcBatchLedger, PgCopyLoad}

/** The continuous COPY sink, end to end against a REAL database (embedded
  * Derby): micro-batches load through a transactional transport, the
  * per-partition ledger insert rides the data transaction, and the three
  * failure windows — batch replay, partial-batch failure, crash at commit
  * — each recover without duplicating a row. */
object CopyStreamSpec {
  val url = "jdbc:derby:memory:graftstream;create=true"

  /** Failure injection switches, JVM-shared (local[*] executors are
    * in-process). */
  @volatile var failOnMarker: String = null
  @volatile var failAtCommit: Boolean = false

  def exec(sqls: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      sqls.foreach { sql =>
        try st.execute(sql)
        catch { case _: java.sql.SQLException if sql.startsWith("DROP") => () }
      }
    } finally c.close()
  }

  def queryLongs(sql: String): Seq[(Long, String)] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val b = Seq.newBuilder[(Long, String)]
      while (rs.next()) b += ((rs.getLong(1), rs.getString(2)))
      b.result()
    } finally c.close()
  }

  def count(table: String): Long = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  /** The shared Derby COPY transport plus this spec's failure windows:
    * a write carrying `failOnMarker` fails, and `failAtCommit` crashes
    * after the data and ledger statements but before COMMIT. */
  final class DerbyLoadTransport extends DerbyCopyTransport(url) {
    override def write(bytes: Array[Byte], off: Int, len: Int): Unit = {
      val m = failOnMarker
      if (m != null && new String(bytes, off, len, StandardCharsets.UTF_8).contains(m))
        throw new RuntimeException("injected write failure")
      super.write(bytes, off, len)
    }
    override protected def beforeCommit(): Unit =
      if (failAtCommit) throw new RuntimeException("injected crash before commit")
  }

  final class DerbyLoadFactory extends CopyTransportFactory {
    override def open(): CopyTransport = new DerbyLoadTransport
  }
}

class CopyStreamSpec extends AnyFunSuite {
  import CopyStreamSpec._
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTables(data: String, ledgerTable: String,
                          valueCol: String = "V VARCHAR(64) NOT NULL"): JdbcBatchLedger = {
    exec(s"DROP TABLE $data", s"DROP TABLE $ledgerTable",
      s"CREATE TABLE $data (ID BIGINT NOT NULL, $valueCol)")
    failOnMarker = null; failAtCommit = false
    val ledger = new JdbcBatchLedger(url, "", "", ledgerTable)
    ledger.ensure()
    ledger
  }

  test("micro-batches COPY transactionally; replayed batch ids re-load nothing") {
    implicit val sqlCtx = spark.sqlContext
    val ledger = freshTables("T_STREAM", "LED_STREAM")
    val input = MemoryStream[(Long, String)]
    val ckpt = graft.TempScratch.fresh("graft-copystream").toString
    val q = CopyStream.start(input.toDF().toDF("ID", "V"), "T_STREAM",
      new DerbyLoadFactory, ledger, ckpt)
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()

    assert(queryLongs("SELECT ID, V FROM T_STREAM ORDER BY ID") ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // every committed partition is in the ledger, same transaction
    assert(count("LED_STREAM") > 0)

    // restart-after-commit replay: batch 0 presents again with the same
    // data and partitioning — every partition finds its ledger row and
    // skips the transport (single-partition, like the one-block batch)
    val before = count("T_STREAM")
    PgCopyLoad.copyIntoLedgered(
      Seq((1L, "a"), (2L, "b")).toDF("ID", "V").coalesce(1),
      "T_STREAM", new DerbyLoadFactory, ledger, batchId = 0L)
    assert(count("T_STREAM") == before, "replayed batch must re-load nothing")
  }

  test("a streamed timestamp is written as Spark's session-zone text, not the JVM zone's") {
    implicit val sqlCtx = spark.sqlContext
    // VARCHAR, so Derby stores the COPY text without parsing it
    val ledger = freshTables("T_TS", "LED_TS", "TS VARCHAR(32)")
    val ts = Seq(
      java.sql.Timestamp.from(java.time.Instant.parse("2024-01-02T03:04:05.123456Z")),
      java.sql.Timestamp.from(java.time.Instant.parse("2024-07-31T23:30:00Z")))
    // a zone whose offset is not the JVM default's at either instant
    val zone = Seq("Asia/Kathmandu", "America/St_Johns").find { z =>
      ts.forall(t => java.util.TimeZone.getTimeZone(z).getOffset(t.getTime) !=
        java.util.TimeZone.getDefault.getOffset(t.getTime))
    }.get
    val zoneKey = "spark.sql.session.timeZone"
    val saved = spark.conf.get(zoneKey)
    spark.conf.set(zoneKey, zone)
    try {
      val expected = ts.toDF("ts").select($"ts".cast("string")).as[String].collect().toSeq
      val input = MemoryStream[(Long, java.sql.Timestamp)]
      val ckpt = graft.TempScratch.fresh("graft-copystream-ts").toString
      val q = CopyStream.start(input.toDF().toDF("ID", "TS"), "T_TS",
        new DerbyLoadFactory, ledger, ckpt)
      try {
        input.addData((1L, ts(0)), (2L, ts(1)))
        q.processAllAvailable()
      } finally q.stop()
      assert(queryLongs("SELECT ID, TS FROM T_TS ORDER BY ID") ==
        Seq(1L, 2L).zip(expected))
    } finally spark.conf.set(zoneKey, saved)
  }

  test("partial-batch failure: committed partitions are skipped on retry, not duplicated") {
    val ledger = freshTables("T_PART", "LED_PART")
    // two slice-partitions (deterministic split): the second is poisoned —
    // it fails AFTER the first commits
    val df = spark.sparkContext.parallelize(
      Seq((1L, "ok1"), (2L, "ok2"), (3L, "POISON"), (4L, "ok4")), 2)
      .toDF("ID", "V")
    failOnMarker = "POISON"
    intercept[Exception] {
      PgCopyLoad.copyIntoLedgered(df, "T_PART", new DerbyLoadFactory, ledger, batchId = 5L)
    }
    val firstPass = count("T_PART")
    assert(firstPass > 0 && firstPass < 4, "exactly one partition should have committed")
    assert(count("LED_PART") == 1, "only the committed partition is in the ledger")

    // the batch retries wholesale (same batch id, same partitioning):
    // the committed partition is skipped, the failed one loads
    failOnMarker = null
    PgCopyLoad.copyIntoLedgered(df, "T_PART", new DerbyLoadFactory, ledger, batchId = 5L)
    assert(queryLongs("SELECT ID, V FROM T_PART ORDER BY ID").map(_._1) ==
      Seq(1L, 2L, 3L, 4L), "every row exactly once after retry")
    assert(count("LED_PART") == 2)
  }

  test("ledger rides the data transaction: a crash at commit leaves neither") {
    val ledger = freshTables("T_ATOM", "LED_ATOM")
    val df = Seq((1L, "x"), (2L, "y")).toDF("ID", "V").coalesce(1)
    // crash injected after data + ledger statements, before COMMIT: the
    // window ADVICE flagged (data committed, ledger not) cannot exist —
    // rollback takes both
    failAtCommit = true
    intercept[Exception] {
      PgCopyLoad.copyIntoLedgered(df, "T_ATOM", new DerbyLoadFactory, ledger, batchId = 9L)
    }
    assert(count("T_ATOM") == 0, "crash before commit must leave no data")
    assert(count("LED_ATOM") == 0, "…and no ledger entry")

    failAtCommit = false
    PgCopyLoad.copyIntoLedgered(df, "T_ATOM", new DerbyLoadFactory, ledger, batchId = 9L)
    assert(count("T_ATOM") == 2 && count("LED_ATOM") == 1)
    // and the recovery is idempotent
    PgCopyLoad.copyIntoLedgered(df, "T_ATOM", new DerbyLoadFactory, ledger, batchId = 9L)
    assert(count("T_ATOM") == 2)
  }
}
