package migbench

import java.util.concurrent.atomic.LongAdder

import scala.util.Try

import org.apache.spark.sql.DataFrame

import graft.cli.Migration
import graft.io.{CopyTransport, CopyTransportFactory, PgCopyLoad}

/** One partition's COPY over a pooled connection, in its own transaction:
  * BEGIN, COPY … FROM STDIN, CopyData chunks, CopyDone, COMMIT. A failure
  * anywhere rolls the transaction back. Only `copyInto`'s contract is
  * served: side statements run inside the same transaction. */
final class WireCopyTransport(pool: PgPool) extends CopyTransport {
  private var conn: PgConn = _
  private var inCopy = false

  override def begin(copySql: String): Unit = {
    conn = pool.borrow()
    conn.query("BEGIN")
    conn.copyBegin(copySql)
    inCopy = true
  }

  override def write(bytes: Array[Byte], off: Int, len: Int): Unit = {
    conn.copyData(bytes, off, len)
    WireCopyTransport.bytes.add(len)
  }

  override def commit(sideSqls: Seq[String]): Unit = {
    inCopy = false
    conn.copyEnd()
    sideSqls.foreach(conn.query)
    conn.query("COMMIT")
  }

  override def rollback(): Unit = if (conn != null) {
    try {
      if (inCopy) { inCopy = false; conn.copyFail("rolled back by the writer") }
      conn.query("ROLLBACK")
    } catch { case e: Throwable => conn.healthy = false; throw e }
  }

  override def close(): Unit = if (conn != null) { pool.release(conn); conn = null }
}

object WireCopyTransport {
  /** COPY-text bytes sent, for data_mb_per_s; counted in both modes. */
  val bytes = new LongAdder
}

final class WireCopyTransportFactory(ep: PgEndpoint) extends CopyTransportFactory {
  override def open(): CopyTransport = new WireCopyTransport(PgPool.of(ep))
}

/** The benchmark's MigrationSink for a real PostgreSQL: `writeTable`
  * truncates first, as the program's JdbcSink does, then hands the frame
  * to the program's `PgCopyLoad.copyInto`. DDL and row counts use the
  * same pooled connections. `timer` attributes the harness's own time
  * (truncate) when tracing. */
final class PgSink(pool: PgPool, factory: CopyTransportFactory, timer: Tracer)
    extends Migration.MigrationSink {

  override def executeDdl(sql: String): Try[Unit] =
    Try(pool.withConn(_.query(sql))).map(_ => ())

  override def writeTable(table: String, df: DataFrame): Try[Long] = Try {
    timer.span("sink.truncate", table) {
      pool.withConn(_.query(s"""truncate table "$table""""))
    }
    df.sparkSession.sparkContext.setLocalProperty(Tracer.WriteProp, "1")
    val n = try PgCopyLoad.copyInto(df, table, factory)
            finally df.sparkSession.sparkContext.setLocalProperty(Tracer.WriteProp, null)
    PgSink.rows.add(n)
    n
  }

  override def rowCount(table: String): Option[Long] =
    Try(pool.withConn(_.query(s"""select count(*) from "$table"""")).head(0).toLong).toOption
}

object PgSink {
  /** Rows `copyInto` reported loaded, for data_rows_per_s. */
  val rows = new LongAdder
}
