package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}

import graft.types.ColumnMeta

/** The reference's per-value runtime transforms (cmd/root.go:430-471)
  * re-expressed as codegen'd Column expressions — no UDFs, so every
  * transform stays inside WholeStageCodegen at any scale.
  */
object ValueTransforms {

  /** How a source column of MySQL type `dataType` is read, when not as
    * Spark's JDBC reader types it. The reference scans every value as
    * text and converts only BLOB, GEOMETRY and BIT (root.go:430-471).
    * Dates, times and decimals read as the driver's text: no JVM-zone
    * Timestamp and no 38-digit DecimalType. GEOMETRY and BIT read as
    * bytes for `geomHex`/`bitHex`. */
  def readType(dataType: String): Option[DataType] = dataType match {
    case "date" | "datetime" | "timestamp" | "time" | "decimal" => Some(StringType)
    case "geometry" | "bit" => Some(BinaryType)
    case _ => None
  }

  /** Spark JDBC's `customSchema` option for a table of catalog columns
    * `cols`: the columns `readType` reads differently, with quoted names. */
  def customSchema(cols: Seq[ColumnMeta]): String =
    cols.flatMap(c => readType(c.dataType).map(t => s"${quote(c.columnName)} ${t.sql}")).mkString(", ")

  /** A name as Spark's parser reads it back whole, spaces and backticks
    * included. */
  private def quote(name: String): String = s"`${name.replace("`", "``")}`"

  /** How one value crosses to COPY, when not as read: GEOMETRY and BIT
    * as hex text; a zero date (`0000-00-00…`) as NULL, which a
    * PostgreSQL date cannot hold (DELTAS §1). */
  private def convert(dataType: String): Option[Column => Column] = dataType match {
    case "geometry" => Some(geomHex)
    case "bit" => Some(bitHex)
    case "date" | "datetime" | "timestamp" => Some(c => when(!c.startsWith("0000-00-00"), c))
    case _ => None
  }

  /** `convert` over a read of `cols`' table, columns matched by
    * case-insensitive name; the read itself when no column converts. */
  def sourceValues(df: DataFrame, cols: Seq[ColumnMeta]): DataFrame = {
    val converts = cols.flatMap(c => convert(c.dataType).map(c.columnName.toLowerCase -> _)).toMap
    if (!df.columns.exists(n => converts.contains(n.toLowerCase))) df
    else df.select(df.columns.toSeq.map { n =>
      val c = col(quote(n))
      converts.get(n.toLowerCase).fold(c)(_(c)).as(n)
    }: _*)
  }

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
