package graft.verify

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source-vs-target verification (cmd/compare.go:23-132) as DataFrames.
  *
  * The reference compares per-table `count(*)` in parallel goroutines and
  * appends to an unsynchronized shared slice (a data race — compare.go:128).
  * Here each (table → src/dst count) is a Spark job and the report is a
  * DataFrame; the race disappears structurally. A deeper content check the
  * reference lacks (`exceptAll` both ways) is included.
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

  /** Content diff: rows in src missing from dst and vice versa, tagged by
    * direction. Shuffles both sides once on all columns (the exceptAll
    * hash); at scale, run per PK-range slice. */
  def contentDiff(src: DataFrame, dst: DataFrame): DataFrame = {
    src.exceptAll(dst).withColumn("diff_side", lit("src_only"))
      .unionByName(dst.exceptAll(src).withColumn("diff_side", lit("dst_only")))
  }

  /** Per-bucket content checksum: an order-independent sum of a 48-bit
    * md5-derived hash of each row's canonical rendering, bucketed by
    * `pk % buckets` (the q92 kernel as an API). Cheaper than
    * contentDiff — one map-side scan + a |buckets|-row aggregate per
    * side, no wide shuffle — and a mismatch localizes to 1/buckets of
    * the table, which is then worth a contentDiff on that slice only.
    * Columns are rendered with `|` separators; pass a stable column
    * order (e.g. sorted names) so both sides hash identically. */
  def contentChecksum(df: DataFrame, pkCol: String, cols: Seq[String],
                      buckets: Int = 16): DataFrame = {
    val rendered = concat_ws("|", cols.map(col): _*)
    df.select((col(pkCol) % buckets).as("bucket"),
        conv(substring(md5(rendered.cast("binary")), 1, 12), 16, 10)
          .cast("long").as("h"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum"))
  }

  /** Join two checksum reports into a per-bucket verdict. */
  def checksumCompare(src: DataFrame, dst: DataFrame): DataFrame = {
    val s = src.select(col("bucket"), col("n_rows").as("src_rows"),
      col("checksum").as("src_checksum"))
    val d = dst.select(col("bucket"), col("n_rows").as("dest_rows"),
      col("checksum").as("dest_checksum"))
    s.join(d, Seq("bucket"), "full_outer")
      .select(col("bucket"), col("src_rows"), col("dest_rows"),
        when(col("src_rows").isNull || col("dest_rows").isNull, "NO")
          .when(col("src_rows") === col("dest_rows")
            && col("src_checksum") === col("dest_checksum"), "YES")
          .otherwise("NO").as("is_ok"))
      .orderBy("bucket")
  }
}
