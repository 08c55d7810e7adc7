package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.io.{BatchLedger, CopyTransportFactory, PgCopyLoad}

/** Continuous bulk load — the streaming extension of K1 mode B (the
  * reference migrates once and stops; the natural next ask is keeping
  * the target fed). Each micro-batch COPYs into the target through the
  * same transport as the batch path.
  *
  * foreachBatch alone is at-least-once across restarts; the ledgered
  * COPY (PgCopyLoad.copyIntoLedgered) upgrades it to exactly-once at
  * PARTITION granularity: each partition's ledger insert rides the same
  * transaction as its COPY data, so a replayed batch — including one
  * that failed after SOME partitions committed — re-loads exactly the
  * partitions the target does not have. See graft.io.BatchLedger for the
  * atomicity contract.
  */
object CopyStream {

  /** Start the continuous COPY. `stream` is any streaming DataFrame whose
    * schema matches the target table's columns; `ledger` is typically a
    * graft.io.JdbcBatchLedger pointed at the same target database. */
  def start(stream: DataFrame, table: String, factory: CopyTransportFactory,
            ledger: BatchLedger, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        PgCopyLoad.copyIntoLedgered(batch, table, factory, ledger, batchId)
        ()
      }
      .start()
}
