package graft.cli

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types.StructType

import graft.catalog.Pagination
import graft.config.GraftConfig
import graft.io.{CopyTransportFactory, Jdbc, PgCopyLoad}
import graft.transform.ValueTransforms
import graft.types.ColumnMeta

/** Live JDBC wiring for the Migration pipeline. JdbcCatalogSource reads
  * each catalog object as the reference does (cmd/tablemeta.go,
  * cmd/root.go): one tagged SQL statement over `information_schema`,
  * filtered to the schema on the source and run over driver-side JDBC, so
  * no catalog read is a Spark job; `columns` and `primaryKeyCols` look up
  * one snapshot per source instance. Table data goes through the one page
  * planner, Jdbc.readTable. JdbcSink (below) is the one target sink.
  *
  * No MySQL/PG is reachable in this build environment; everything but the
  * vendor wire protocols (catalog statements, key probe, keyset pages,
  * the sink's COPY path through a Derby COPY transport) runs end to end
  * against embedded Derby in MigrationEndToEndSpec.
  */
final class JdbcCatalogSource(spark: SparkSession, cfg: GraftConfig,
                              urlOverride: Option[String] = None)
    extends Migration.CatalogSource {
  private val conn = Jdbc.ConnInfo(urlOverride.getOrElse(cfg.src.mysqlJdbcUrl),
    cfg.src.username, cfg.src.password)
  private val dialect = Pagination.dialectFor(conn.url)
  private val schema = dialect.string(cfg.src.database.toLowerCase)

  /** One tagged catalog statement, `SELECT <tag> <body>`, read to the
    * driver with the column types Spark's JDBC reader gives it. */
  private def query(body: String): (StructType, Seq[Row]) =
    Jdbc.withStatement(conn) { st =>
      val rs = st.executeQuery(s"SELECT ${Pagination.SqlTag} $body")
      val jdbcDialect = JdbcDialects.get(conn.url)
      val types = JdbcUtils.getSchema(st.getConnection, rs, jdbcDialect, alwaysNullable = true)
      (types, JdbcUtils.resultSetToRows(rs, types, jdbcDialect).toVector)
    }

  /** A catalog statement as a local DataFrame: its collect runs no job. */
  private def frame(body: String): DataFrame =
    query(body) match { case (types, rows) => spark.createDataFrame(rows.asJava, types) }

  /** S3 (root.go:229-247): base tables of the source schema. */
  override def tableNames: Seq[String] =
    query("table_name FROM information_schema.tables " +
      s"WHERE lower(table_schema) = $schema AND table_type = 'BASE TABLE'")._2.map(_.getString(0))

  /** S5 (tablemeta.go:62-72): every table's columns, read on the first
    * lookup, unordered (createTableDdl sorts by ordinal position). */
  private lazy val columnsByTable: Map[String, Seq[ColumnMeta]] =
    query("table_name, lower(column_name), lower(data_type), character_maximum_length, " +
      "numeric_precision, numeric_scale, is_nullable, column_default, ordinal_position " +
      s"FROM information_schema.columns WHERE lower(table_schema) = $schema")._2
      .groupMap(_.getString(0)) { r =>
        ColumnMeta(r.getString(1), r.getString(2), Option(r.get(3)).map(_.toString.toLong),
          Option(r.get(4)).map(_.toString.toInt), Option(r.get(5)).map(_.toString.toInt),
          r.getString(6), Option(r.getString(7)), r.get(8).toString.toInt)
      }

  override def columns(table: String): Seq[ColumnMeta] = columnsByTable.getOrElse(table, Nil)

  /** S4 (root.go:341-359): every table's PK columns in key order, read on
    * the first lookup. */
  private lazy val primaryKeys: Map[String, Seq[String]] =
    query("table_name, column_name FROM information_schema.key_column_usage " +
      s"WHERE lower(table_schema) = $schema AND constraint_name = 'PRIMARY' " +
      "ORDER BY table_name, ordinal_position")._2.groupMap(_.getString(0))(_.getString(1))

  def primaryKeyCols(table: String): Seq[String] = primaryKeys.getOrElse(table, Nil)

  /** S1 (root.go:389-516): PK-partitioned page read — keyset pages in
    * place of the reference's deferred-join page SQLs
    * (prepareSqlStr, root.go:335-386), planned by Jdbc.readTable — with
    * each value read and converted as the catalog type says
    * (ValueTransforms.readType, root.go:430-471). */
  override def tableData(table: String): DataFrame =
    valued(table)(Jdbc.readTable(spark, conn, table, primaryKeyCols(table), cfg.pageSize, _))

  /** `read(customSchema)` of `table`'s columns, typed and converted by the
    * value rule. */
  private def valued(table: String)(read: String => DataFrame): DataFrame = {
    val cols = columns(table)
    ValueTransforms.sourceValues(read(ValueTransforms.customSchema(cols)), cols)
  }

  /** compareDb's source count (cmd/compare.go:102-132): one tagged
    * `count(*)` statement over driver-side JDBC, cancellable on Ctrl-C. */
  override def rowCount(table: String): Long =
    Jdbc.withStatement(conn) { st =>
      val rs = st.executeQuery(Pagination.countSql(dialect.quote(table)))
      rs.next()
      rs.getLong(1)
    }

  /** Custom-SQL extraction (root.go:97-98, 305-309): each configured SQL
    * runs as its own streamed dbtable subquery — its own JDBC partition
    * unit — and the slices union into the table's DataFrame. */
  override def tableData(table: String, customSqls: Seq[String]): DataFrame =
    if (customSqls.isEmpty) tableData(table)
    else valued(table) { schema =>
      val props = conn.readProps(schema)
      customSqls.map(sql => spark.read.jdbc(conn.url, s"($sql) slice", props)).reduce(_ unionByName _)
    }

  /** S7 (tablemeta.go:205-218). */
  override def statistics: DataFrame =
    frame("table_name, index_name, non_unique, seq_in_index, column_name, index_type " +
      s"FROM information_schema.statistics WHERE lower(table_schema) = $schema")

  /** S8 (tablemeta.go:266,278). */
  override def foreignKeys: (DataFrame, DataFrame) = (
    frame("constraint_name, table_name, column_name, ordinal_position, " +
      "referenced_table_name, referenced_column_name FROM information_schema.key_column_usage " +
      s"WHERE lower(table_schema) = $schema AND referenced_table_name IS NOT NULL"),
    frame("constraint_name, update_rule, delete_rule FROM " +
      s"information_schema.referential_constraints WHERE lower(constraint_schema) = $schema"))

  /** S6 (tablemeta.go:162-172): the reference's one statement, joining
    * `tables` and `columns` on the source. */
  override def autoIncrements: DataFrame =
    frame("t.table_name, c.column_name, t.auto_increment " +
      "FROM information_schema.tables t JOIN information_schema.columns c " +
      "ON c.table_schema = t.table_schema AND c.table_name = t.table_name " +
      s"WHERE lower(t.table_schema) = $schema AND t.auto_increment IS NOT NULL " +
      "AND c.extra = 'auto_increment'")

  /** S9 (tablemeta.go:306). */
  override def views: DataFrame =
    frame("table_name, view_definition FROM information_schema.views " +
      s"WHERE lower(table_schema) = $schema")

  /** S10 (tablemeta.go:339). */
  override def triggers: DataFrame =
    frame("trigger_name, action_statement FROM information_schema.triggers " +
      s"WHERE lower(trigger_schema) = $schema")
}

/** Target-side sink (K1/K2). DDL runs through Jdbc.executeDdl. Data
  * truncates first (root.go:297), so a re-run reloads, then takes the
  * reference's COPY bulk load (`pq.CopyIn`, root.go:408-511) through
  * `copy`, one transport per partition; the values COPY stripped of NULs
  * land in `failureLog`'s invalidTableData.log (root.go:450-470). */
final class JdbcSink(conn: Jdbc.ConnInfo, copy: CopyTransportFactory,
                     failureLog: Option[FailureLog] = None)
    extends Migration.MigrationSink {

  override def executeDdl(sql: String): Try[Unit] = Try(Jdbc.executeDdl(conn, sql))

  override def writeTable(table: String, df: DataFrame): Try[Long] = Try {
    // a failed TRUNCATE (e.g. the table phase 1 should have created is
    // missing) fails the write — COPYing after a silently skipped
    // truncate would append onto stale data on re-runs. The row count
    // comes from the write itself — no second scan of the source
    Jdbc.executeDdl(conn, s"truncate table ${Pagination.AnsiDialect.quote(table)}")
    val (rows, stripped) = PgCopyLoad.copyIntoSampled(df, table, copy, FailureLog.InvalidSampleLimit)
    for (fl <- failureLog; (column, value) <- stripped) fl.logError(FailureLog.InvalidTableData,
      s"[Warning] invalid string found ! tableName:$table column value:[$value] columnName:[$column]",
      "NUL scrubbed") // root.go:466 shape
    rows
  }

  /** One `select count(*)` statement on the target, as compareDb counts
    * (cmd/compare.go:102-132). */
  override def rowCount(table: String): Option[Long] = Try {
    Jdbc.withStatement(conn) { st =>
      val rs = st.executeQuery(s"select count(*) from ${Pagination.AnsiDialect.quote(table)}")
      rs.next()
      rs.getLong(1)
    }
  }.toOption
}
