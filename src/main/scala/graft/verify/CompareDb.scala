package graft.verify

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source-vs-target verification (cmd/compare.go:23-132): per-table
  * count reports.
  *
  * The reference compares per-table `count(*)` in parallel goroutines and
  * appends to an unsynchronized shared slice (a data race — compare.go:128).
  * Here Migration.Runner.compare counts each side of a live migration with
  * one statement per table and collects the reports in work-list order, so
  * the race disappears structurally. `countCompare`, which q07 runs,
  * counts DataFrames instead: one Spark job per count.
  */
object CompareDb {

  case class TableReport(table_name: String, src_rows: Long, dest_rows: Long,
                         dest_is_exist: String, is_ok: String)

  object TableReport {
    /** The outcome shapes (compare.go:124-126 / readme.md:152-166): equal
      * or unequal counts, or a missing target → DestIsExist=NO, isOk=NO
      * with dest_rows -1. */
    def apply(table: String, src: Long, dest: Option[Long]): TableReport = dest match {
      case Some(d) => TableReport(table, src, d, "YES", if (src == d) "YES" else "NO")
      case None    => TableReport(table, src, -1L, "NO", "NO")
    }
  }

  /** Count-compare a set of (name, source df, optional target df) pairs. */
  def countCompare(spark: SparkSession,
                   pairs: Seq[(String, DataFrame, Option[DataFrame])]): DataFrame = {
    import spark.implicits._
    pairs.map { case (name, src, dst) => TableReport(name, src.count(), dst.map(_.count())) }
      .toDS().toDF().orderBy("table_name")
  }

  /** Failed-only view (compare.go:71-98 second report table). */
  def failedOnly(report: DataFrame): DataFrame = report.filter(col("is_ok") === "NO")
}
