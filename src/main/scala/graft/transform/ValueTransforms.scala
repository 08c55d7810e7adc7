package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's per-value runtime transforms (cmd/root.go:430-471)
  * re-expressed as codegen'd Column expressions — no UDFs, so every
  * transform stays inside WholeStageCodegen at any scale.
  */
object ValueTransforms {

  /** GEOMETRY: hex-encode, strip the leading 8 hex chars (MySQL's 4-byte
    * SRID prefix) → WKB hex (cmd/root.go:437-438). Output lowercase to
    * match Go's hex.EncodeToString. */
  def geomHex(c: Column): Column = substring(lower(hex(c)), 9, Int.MaxValue)

  /** BIT: hex-encode, strip the first hex char, so bit(1) lands as one
    * hex digit (cmd/root.go:439-440). */
  def bitHex(c: Column): Column = substring(lower(hex(c)), 2, Int.MaxValue)

  /** VARCHAR/TEXT: strip U+0000 characters (cmd/root.go:450-470). */
  def scrubNul(c: Column): Column = regexp_replace(c, "\u0000", "")

  /** Predicate: does this string value contain U+0000 (for bad-record
    * accounting, cmd/root.go:453-463). */
  def hasNul(c: Column): Column = c.contains("\u0000")

  /** Column-name normalization: PG folds identifiers to lowercase
    * (cmd/root.go:326-330). */
  def lowercaseColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toLowerCase): _*)

  /** Scrub NULs across all string columns (the whole-row form of the
    * reference's per-value loop). */
  def scrubNulAll(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType.typeName == "string") d.withColumn(f.name, scrubNul(col(f.name)))
      else d
    }

  /** Bad-record accounting (cmd/root.go:450-470 logs each affected value to
    * invalidTableData.log): per-string-column count of values containing
    * U+0000 — a distributed aggregate, replacing the reference's per-row
    * side-channel log with one map-side-combined pass. */
  def nulStats(df: DataFrame): DataFrame = {
    val stringCols = df.schema.fields.filter(_.dataType.typeName == "string").map(_.name)
    val aggs = stringCols.map(n => sum(when(hasNul(col(n)), 1L).otherwise(0L)).as(n))
    if (aggs.isEmpty) df.sparkSession.emptyDataFrame
    else df.agg(aggs.head, aggs.tail: _*)
  }
}
