package graft.types

import graft.catalog.Pagination.AnsiDialect

/** MySQL-family column metadata, as read from `information_schema.COLUMNS`
  * (reference: cmd/tablemeta.go:25-46, the `Table` struct).
  */
case class ColumnMeta(
    columnName: String,
    dataType: String,                       // lowercased MySQL type name
    characterMaximumLength: Option[Long],
    numericPrecision: Option[Int],
    numericScale: Option[Int],
    isNullable: String,                     // "YES" | "NO"
    columnDefault: Option[String],
    ordinalPosition: Int)

/** The reference's MySQL → PostgreSQL type mapping as pure functions
  * over catalog rows. The migration's TableStructure phase emits its
  * CREATE TABLE statements with them, and q05 maps its literal rows with
  * `toPgType`, so the DuckDB oracle checks the same code.
  *
  * Semantics per cmd/tablemeta.go:96-133 (type switch) and :76-94
  * (nullability/defaults). Flags per example.yml:15-16.
  */
object TypeMapper {

  /** PG type emitted for one column (cmd/tablemeta.go:96-133). */
  def toPgType(m: ColumnMeta, charInLength: Boolean = false,
               useNvarchar2: Boolean = false): String = m.dataType match {
    case "int" | "mediumint" | "tinyint" => "int"
    case "varchar" =>
      val n = m.characterMaximumLength.getOrElse(0L)
      if (useNvarchar2) s"nvarchar2($n)"
      else if (charInLength) s"varchar($n char)"
      else s"varchar($n)"
    case "char" =>
      val n = m.characterMaximumLength.getOrElse(0L)
      if (charInLength) s"char($n char)" else s"char($n)"
    case "text" | "tinytext" | "mediumtext" | "longtext" => "text"
    case "datetime" | "timestamp" => "timestamp"
    case "decimal" => (m.numericPrecision, m.numericScale) match {
      case (Some(p), Some(s)) => s"decimal($p,$s)"
      case (Some(p), None)    => s"decimal($p)"
      case _                  => "decimal"
    }
    case "double" | "float" => "double precision"
    case "tinyblob" | "blob" | "mediumblob" | "longblob" => "bytea"
    case other => other // passthrough verbatim (tablemeta.go:130-132)
  }

  /** One column's DDL fragment: `"name" pgtype [default …] [not] null`
    * (cmd/tablemeta.go:76-94,135-138). */
  def columnDdl(m: ColumnMeta, charInLength: Boolean = false,
                useNvarchar2: Boolean = false): String = {
    val nullable = if (m.isNullable == "NO") "not null" else "null"
    val default = m.columnDefault match {
      case None => ""
      case Some(d) =>
        val quoted = m.dataType match {
          case "varchar" | "char" => s"'$d'"
          case _ if d == "( 'user' )" => "user" // tablemeta.go:89-90
          case _ => d
        }
        s" default $quoted"
    }
    s"${AnsiDialect.quote(m.columnName.toLowerCase)} ${toPgType(m, charInLength, useNvarchar2)}$default $nullable"
  }

  /** Full CREATE TABLE statement (cmd/tablemeta.go:54,135-148).
    * `charInLength`/`useNvarchar2` are the reference's config-driven
    * character-length-unit switches (tablemeta.go:100-110). */
  def createTableDdl(table: String, cols: Seq[ColumnMeta],
                     charInLength: Boolean = false,
                     useNvarchar2: Boolean = false): String = {
    val body = cols.sortBy(_.ordinalPosition)
      .map(columnDdl(_, charInLength, useNvarchar2)).mkString(", ")
    s"create table ${AnsiDialect.quote(table.toLowerCase)} ($body)"
  }
}
