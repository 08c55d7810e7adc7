package graft.io

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}

/** K1 mode B — the reference's COPY bulk load (`pq.CopyIn`,
  * cmd/root.go:408-511) as a Spark write path: each partition opens one
  * transport, streams its rows in COPY text format (PgCopyText), and
  * commits one transaction — so a task that fails BEFORE its commit
  * leaves no partial page and retries cleanly.
  *
  * Exactly-once caveat (same exposure as any non-transactional sink): a
  * task that dies AFTER commit but before reporting success would load
  * its partition twice on retry. The speculative-duplicate variant of
  * that exposure is guarded: copyInto refuses to run when
  * spark.speculation is enabled (assertNoSpeculation below). Recovery
  * for the remaining window is the phase-level truncate-first re-run;
  * true per-retry exactly-once is what the ledgered streaming variant
  * (copyIntoLedgered) provides.
  *
  * The transport is an interface so the engine compiles and is fully
  * testable without the PostgreSQL driver on the classpath; the pgjdbc
  * binding below resolves CopyManager reflectively at runtime.
  */
trait CopyTransport extends AutoCloseable {
  /** Open the connection + COPY stream for `copySql` (one txn). */
  def begin(copySql: String): Unit
  /** Stream one buffered chunk of encoded rows. */
  def write(bytes: Array[Byte], off: Int, len: Int): Unit
  /** End the COPY stream, execute `sideSqls` on the SAME connection, then
    * commit — the data and the side statements (e.g. a batch-ledger
    * insert) are one atomic transaction. */
  def commit(sideSqls: Seq[String] = Nil): Unit
  /** Abort the COPY stream and roll the transaction back. */
  def rollback(): Unit
}

/** Serializable factory: shipped to executors, opened once per partition. */
trait CopyTransportFactory extends Serializable {
  def open(): CopyTransport
}

object PgCopyLoad {

  /** COPY chunk size: about one pq message buffer. */
  private val FlushBytes = 64 * 1024

  /** A speculative duplicate of a slow task would COPY its partition
    * TWICE (each task commits its own transaction; there is no task-id
    * dedup). Refuse loudly up front rather than double-load — the data
    * phase must run with speculation off (Spark's default), or stage
    * partitions into task-unique temp tables (not implemented; the
    * reference has no equivalent either). */
  private[io] def assertNoSpeculation(conf: org.apache.spark.SparkConf): Unit =
    require(!conf.getBoolean("spark.speculation", defaultValue = false),
      "COPY bulk load refuses to run with spark.speculation=true: a " +
        "speculative duplicate of a slow task would load its partition twice")

  /** Stream `df` into `table` via COPY. Rows are encoded with
    * `PgCopyText.encodeRow` and flushed in ~`flushBytes` chunks (the
    * buffering the reference gets from pq's internal message buffer).
    * Returns the number of rows written, counted by accumulator — no
    * second scan of the input. */
  def copyInto(df: DataFrame, table: String, factory: CopyTransportFactory,
               flushBytes: Int = FlushBytes): Long = {
    assertNoSpeculation(df.sparkSession.sparkContext.getConf)
    val stmt = PgCopyText.copyStatement(table, df.columns.toSeq)
    val rows = df.sparkSession.sparkContext.longAccumulator("graft-copy-rows")
    df.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext)
        rows.add(streamPartition(it, stmt, factory, flushBytes, Nil))
    }
    rows.value
  }

  /** Exactly-once variant for the streaming sink (CopyStream): a
    * partition whose (batchId, partitionId) is already in the ledger is
    * skipped, and for the rest the ledger insert executes INSIDE the
    * partition's COPY transaction — data and ledger entry commit
    * atomically. A micro-batch retry after a partial failure therefore
    * re-loads exactly the partitions that did not commit, and a crash at
    * any point leaves each partition either fully loaded + recorded or
    * untouched. (Relies on Structured Streaming's replay contract: a
    * replayed batch id re-presents the same data with the same
    * deterministic partitioning.) */
  def copyIntoLedgered(df: DataFrame, table: String,
                       factory: CopyTransportFactory, ledger: BatchLedger,
                       batchId: Long): Long = {
    assertNoSpeculation(df.sparkSession.sparkContext.getConf)
    val stmt = PgCopyText.copyStatement(table, df.columns.toSeq)
    val rows = df.sparkSession.sparkContext.longAccumulator("graft-copy-rows")
    df.foreachPartition { (it: Iterator[Row]) =>
      val pid = org.apache.spark.TaskContext.get().partitionId()
      if (it.hasNext && !ledger.committed(batchId, pid))
        rows.add(streamPartition(it, stmt, factory, FlushBytes,
          Seq(ledger.recordSql(batchId, pid))))
    }
    rows.value
  }

  /** One partition's COPY: begin → encode/flush → commit(sideSqls), with
    * rollback on any failure. Returns rows streamed. */
  private def streamPartition(it: Iterator[Row], stmt: String,
                              factory: CopyTransportFactory, flushBytes: Int,
                              sideSqls: Seq[String]): Long = {
    val t = factory.open()
    var ok = false
    var n = 0L
    try {
      t.begin(stmt)
      val buf = new ByteArrayOutputStream(flushBytes + 4096)
      it.foreach { row =>
        buf.write(PgCopyText.encodeRow(row).getBytes(StandardCharsets.UTF_8))
        buf.write('\n')
        n += 1
        if (buf.size >= flushBytes) {
          val b = buf.toByteArray; t.write(b, 0, b.length); buf.reset()
        }
      }
      if (buf.size > 0) { val b = buf.toByteArray; t.write(b, 0, b.length) }
      t.commit(sideSqls)
      ok = true
    } finally {
      if (!ok) try t.rollback() catch { case _: Throwable => () }
      t.close()
    }
    n
  }
}

/** pgjdbc CopyManager transport, bound reflectively: the driver jar is
  * required at runtime only (it is always present when the JDBC write
  * path itself works — CopyManager ships inside pgjdbc). Per-partition
  * transaction: autoCommit off, COPY stream, commit on endCopy,
  * cancelCopy + rollback on failure. */
final class PgJdbcCopyTransport(url: String, user: String, password: String)
    extends CopyTransport {
  private var conn: java.sql.Connection = _
  private var copyIn: AnyRef = _
  // Method handles resolved ONCE in begin() — write() runs per ~64 KB
  // chunk on the hot path; per-call Class.forName would cost hundreds of
  // thousands of reflective lookups per large partition
  private var writeToCopy: java.lang.reflect.Method = _
  private var endCopy: java.lang.reflect.Method = _
  private var cancelCopy: java.lang.reflect.Method = _

  override def begin(copySql: String): Unit = {
    conn = java.sql.DriverManager.getConnection(url, user, password)
    conn.setAutoCommit(false)
    val pgConnClass = Class.forName("org.postgresql.PGConnection")
    val pgConn = conn.unwrap(pgConnClass).asInstanceOf[AnyRef]
    val copyApi = pgConnClass.getMethod("getCopyAPI").invoke(pgConn)
    copyIn = copyApi.getClass.getMethod("copyIn", classOf[String])
      .invoke(copyApi, copySql)
    val copyInClass = Class.forName("org.postgresql.copy.CopyIn")
    writeToCopy = copyInClass.getMethod("writeToCopy",
      classOf[Array[Byte]], classOf[Int], classOf[Int])
    endCopy = copyInClass.getMethod("endCopy")
    cancelCopy = copyInClass.getMethod("cancelCopy")
  }

  override def write(bytes: Array[Byte], off: Int, len: Int): Unit =
    writeToCopy.invoke(copyIn, bytes, Integer.valueOf(off), Integer.valueOf(len))

  override def commit(sideSqls: Seq[String]): Unit = {
    // order matters: the COPY stream must END before the connection can
    // run other statements (pgjdbc locks the connection during COPY);
    // the ledger insert then lands INSIDE the still-open transaction
    endCopy.invoke(copyIn)
    if (sideSqls.nonEmpty) {
      val st = conn.createStatement()
      try sideSqls.foreach(st.execute) finally st.close()
    }
    conn.commit()
  }

  override def rollback(): Unit = {
    if (copyIn != null)
      try cancelCopy.invoke(copyIn) catch { case _: Throwable => () }
    if (conn != null) conn.rollback()
  }

  override def close(): Unit = if (conn != null) conn.close()
}

final class PgJdbcCopyTransportFactory(url: String, user: String, password: String)
    extends CopyTransportFactory {
  override def open(): CopyTransport = new PgJdbcCopyTransport(url, user, password)
}
