package graft.cli

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.GraftConfig
import graft.io.{CopyTransportFactory, Jdbc, PgCopyLoad}
import graft.types.ColumnMeta

/** Live JDBC wiring for the Migration pipeline. JdbcCatalogSource turns
  * the catalog queries the reference generates as SQL strings
  * (cmd/tablemeta.go, cmd/root.go) into filtered DataFrame reads over
  * `information_schema`, letting Catalyst push the predicates down to
  * MySQL; table data goes through the one page planner, Jdbc.readTable,
  * which also owns the source SQL dialect. JdbcSink (below) is the one
  * target sink.
  *
  * No MySQL/PG is reachable in this build environment; the catalog
  * queries, the key probe, keyset page reads and the sink's COPY
  * path (through a Derby COPY transport) run end to end against
  * embedded Derby in MigrationEndToEndSpec
  * (plus fixture-backed CatalogSource/MigrationSink specs) — only the
  * vendor wire protocols stay untested.
  */
final class JdbcCatalogSource(spark: SparkSession, cfg: GraftConfig,
                              urlOverride: Option[String] = None)
    extends Migration.CatalogSource {
  private val conn = Jdbc.ConnInfo(urlOverride.getOrElse(cfg.src.mysqlJdbcUrl),
    cfg.src.username, cfg.src.password)

  private def schemaTable(name: String): DataFrame =
    spark.read.jdbc(conn.url, s"information_schema.$name", conn.props)

  /** S3 (root.go:229-247): base tables of the source schema. */
  override def tableNames: Seq[String] =
    schemaTable("tables")
      .filter(lower(col("table_schema")) === cfg.src.database.toLowerCase &&
        col("table_type") === "BASE TABLE")
      .select(col("table_name")).collect().map(_.getString(0)).toSeq

  /** S5 (tablemeta.go:62-72): 11-column metadata projection. */
  override def columns(table: String): Seq[ColumnMeta] =
    schemaTable("columns")
      .filter(lower(col("table_schema")) === cfg.src.database.toLowerCase &&
        col("table_name") === table)
      .orderBy(col("ordinal_position"))
      .select(lower(col("column_name")), lower(col("data_type")),
        col("character_maximum_length"), col("numeric_precision"),
        col("numeric_scale"), col("is_nullable"), col("column_default"),
        col("ordinal_position"))
      .collect().map { r =>
        ColumnMeta(r.getString(0), r.getString(1),
          Option(r.get(2)).map(_.toString.toLong),
          Option(r.get(3)).map(_.toString.toInt),
          Option(r.get(4)).map(_.toString.toInt),
          r.getString(5), Option(r.getString(6)),
          r.get(7).toString.toInt)
      }.toSeq

  /** S1 (root.go:389-516): PK-partitioned page read — keyset pages in
    * place of the reference's deferred-join page SQLs
    * (prepareSqlStr, root.go:335-386), planned by Jdbc.readTable. */
  override def tableData(table: String): DataFrame =
    Jdbc.readTable(spark, conn, table, primaryKeyCols(table), cfg.pageSize)

  /** Custom-SQL extraction (root.go:97-98, 305-309): each configured SQL
    * runs as its own dbtable subquery — its own JDBC partition unit —
    * and the slices union into the table's DataFrame. */
  override def tableData(table: String, customSqls: Seq[String]): DataFrame =
    if (customSqls.isEmpty) tableData(table)
    else customSqls.map(sql =>
      spark.read.jdbc(conn.url, s"($sql) slice", conn.props))
      .reduce(_ unionByName _)

  /** S4 (root.go:341-359): ordered PK column list. */
  def primaryKeyCols(table: String): Seq[String] =
    schemaTable("key_column_usage")
      .filter(lower(col("table_schema")) === cfg.src.database.toLowerCase &&
        col("table_name") === table && col("constraint_name") === "PRIMARY")
      .orderBy(col("ordinal_position"))
      .select(col("column_name")).collect().map(_.getString(0)).toSeq

  /** S7 (tablemeta.go:205-218). */
  override def statistics: DataFrame =
    schemaTable("statistics")
      .filter(lower(col("table_schema")) === cfg.src.database.toLowerCase)
      .select(col("table_name"), col("index_name"), col("non_unique"),
        col("seq_in_index"), col("column_name"), col("index_type"))

  /** S8 (tablemeta.go:266,278). */
  override def foreignKeys: (DataFrame, DataFrame) = (
    schemaTable("key_column_usage")
      .filter(lower(col("table_schema")) === cfg.src.database.toLowerCase &&
        col("referenced_table_name").isNotNull)
      .select(col("constraint_name"), col("table_name"), col("column_name"),
        col("ordinal_position"), col("referenced_table_name"),
        col("referenced_column_name")),
    schemaTable("referential_constraints")
      .filter(lower(col("constraint_schema")) === cfg.src.database.toLowerCase)
      .select(col("constraint_name"), col("update_rule"), col("delete_rule")))

  /** S6 (tablemeta.go:162-172). */
  override def autoIncrements: DataFrame = {
    val t = schemaTable("tables")
      .filter(lower(col("table_schema")) === cfg.src.database.toLowerCase &&
        col("auto_increment").isNotNull)
      .select(col("table_name"), col("auto_increment"))
    val c = schemaTable("columns")
      .filter(lower(col("table_schema")) === cfg.src.database.toLowerCase &&
        col("extra") === "auto_increment")
      .select(col("table_name"), col("column_name"))
    t.join(c, Seq("table_name"), "inner")
      .select(col("table_name"), col("column_name"), col("auto_increment"))
  }

  /** S9 (tablemeta.go:306). */
  override def views: DataFrame =
    schemaTable("views")
      .filter(lower(col("table_schema")) === cfg.src.database.toLowerCase)
      .select(col("table_name"), col("view_definition"))

  /** S10 (tablemeta.go:339). */
  override def triggers: DataFrame =
    schemaTable("triggers")
      .filter(lower(col("trigger_schema")) === cfg.src.database.toLowerCase)
      .select(col("trigger_name"), col("action_statement"))
}

/** Target-side sink (K1/K2). DDL runs through Jdbc.executeDdl. Data
  * truncates first (root.go:297), so a re-run reloads, then takes the
  * reference's COPY bulk load (`pq.CopyIn`, root.go:408-511) through
  * `copy`, one transport per partition. */
final class JdbcSink(conn: Jdbc.ConnInfo, copy: CopyTransportFactory)
    extends Migration.MigrationSink {

  override def executeDdl(sql: String): Try[Unit] = Try(Jdbc.executeDdl(conn, sql))

  override def writeTable(table: String, df: DataFrame): Try[Long] = Try {
    // a failed TRUNCATE (e.g. the table phase 1 should have created is
    // missing) fails the write — COPYing after a silently skipped
    // truncate would append onto stale data on re-runs. The row count
    // comes from the write itself — no second scan of the source
    Jdbc.executeDdl(conn, s"""truncate table "$table"""")
    PgCopyLoad.copyInto(df, table, copy)
  }

  /** One `select count(*)` statement on the target, as compareDb counts
    * (cmd/compare.go:102-132). */
  override def rowCount(table: String): Option[Long] = Try {
    Jdbc.withStatement(conn) { st =>
      val rs = st.executeQuery(s"""select count(*) from "$table"""")
      rs.next()
      rs.getLong(1)
    }
  }.toOption
}
