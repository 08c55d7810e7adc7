package graft.ddlgen

import java.util.Locale
import java.util.regex.Pattern

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

/** The reference's catalog-to-DDL SQL generators (cmd/tablemeta.go:156-364)
  * as plain functions over collected catalog rows: a catalog holds a few
  * rows per table, so grouping and sorting them needs no Spark job. Each
  * generator reads its rows by position, in the order of the column list
  * next to it, and returns its DDL rows in key order. The migration runs
  * them on the rows its DDL phases collect; q36–q39 run them on literal
  * rows, so the DuckDB oracle checks the same code.
  */
object DdlGen {

  /** Ordered, distinct string-agg: the Spark equivalent of MySQL
    * GROUP_CONCAT(DISTINCT v ORDER BY ord SEPARATOR sep) — collect_list of
    * (ord, value) structs → array_sort → project value → array_distinct →
    * array_join. */
  def orderedGroupConcat(ord: Column, value: Column, sep: String = ", "): Column =
    array_join(
      array_distinct(transform(array_sort(collect_list(struct(ord.as("o"), value.as("v")))),
        x => x.getField("v"))),
      sep)

  /** The same string-agg over (ord, value) pairs: values ordered by
    * (ord, value), NULLs skipped, each kept once. */
  private def groupConcat(parts: Seq[(Long, String)]): String =
    parts.filter(_._2 != null).sorted.map(_._2).distinct.mkString(", ")

  private def num(r: Row, i: Int): Long = r.getAs[Number](i).longValue

  /** Index rows: one per (index, column), as in STATISTICS. */
  val StatisticsCols =
    Seq("table_name", "index_name", "non_unique", "seq_in_index", "column_name", "index_type")

  /** Index DDL (cmd/tablemeta.go:205-248): one (table_name, index_name,
    * ddl) per index, its columns in seq_in_index order. `suffix` replaces
    * the reference's nondeterministic `uuid()/md5(rand())` name salt
    * (tablemeta.go:215) so output is testable. */
  def indexDdl(stats: Seq[Row], suffix: String = "x"): Seq[(String, String, String)] =
    stats.groupBy(r => (r.getString(0), r.getString(1), num(r, 2), r.getString(5))).toSeq
      .map { case ((table, index, nonUnique, indexType), rows) =>
        val cols = groupConcat(rows.map(r => (num(r, 3), r.getString(4))))
        val ddl =
          if (index == "PRIMARY") s"alter table $table add primary key ($cols)"
          else if (nonUnique == 0) s"create unique index ${index}_$suffix on $table ($cols)"
          else if ("FULLTEXT".equalsIgnoreCase(indexType))
            s"create index ${index}_$suffix on $table using gin(to_tsvector('english', $cols))"
          else s"create index ${index}_$suffix on $table ($cols)"
        (table, index, ddl)
      }.sortBy(d => (d._1, d._2))

  /** FK column rows, as in KEY_COLUMN_USAGE. */
  val KeyColumnUsageCols = Seq("constraint_name", "table_name", "column_name",
    "ordinal_position", "referenced_table_name", "referenced_column_name")
  /** FK rule rows, as in REFERENTIAL_CONSTRAINTS. */
  val ReferentialConstraintsCols = Seq("constraint_name", "update_rule", "delete_rule")

  /** FK DDL (cmd/tablemeta.go:257-298): key columns inner-joined to their
    * constraint's rules on constraint_name, one (table_name,
    * constraint_name, ddl) per constraint, both column lists in
    * ordinal_position order. */
  def fkDdl(kcu: Seq[Row], rc: Seq[Row]): Seq[(String, String, String)] = {
    val rules = rc.groupBy(_.getString(0))
    kcu.flatMap(k => rules.getOrElse(k.getString(0), Nil).map(r => (k, r)))
      .groupBy { case (k, r) =>
        (k.getString(0), k.getString(1), k.getString(4), r.getString(1), r.getString(2)) }
      .toSeq.map { case ((name, table, refTable, update, delete), rows) =>
        val fkCols = groupConcat(rows.map { case (k, _) => (num(k, 3), k.getString(2)) })
        val refCols = groupConcat(rows.map { case (k, _) => (num(k, 3), k.getString(5)) })
        (table, name, s"alter table $table add constraint $name foreign key ($fkCols) " +
          s"references $refTable ($refCols) on delete ${delete.toLowerCase(Locale.ROOT)} " +
          s"on update ${update.toLowerCase(Locale.ROOT)}")
      }.sortBy(d => (d._1, d._2))
  }

  /** Auto-increment rows: the column and the table's next value. */
  val AutoIncrementCols = Seq("table_name", "column_name", "auto_increment")

  /** Sequence DDL for auto-increment columns (cmd/tablemeta.go:156-201):
    * one (table_name, column_name, drop_ddl, create_ddl, default_ddl) per
    * column. */
  def sequenceDdl(autoInc: Seq[Row]): Seq[(String, String, String, String, String)] =
    autoInc.map { r =>
      val (table, column) = (r.getString(0), r.getString(1))
      val seq = s"seq_${table}_$column"
      (table, column, s"drop sequence if exists $seq",
        s"create sequence $seq start with ${r.get(2)}",
        s"alter table $table alter column $column set default nextval('$seq')")
    }.sortBy(d => (d._1, d._2))

  /** View rows, as in VIEWS. */
  val ViewCols = Seq("table_name", "view_definition")

  private val ConvertUsing = Pattern.compile("(?i)convert\\(([^)]+) using [a-z0-9]+\\)")

  /** View-body scrub (cmd/tablemeta.go:300-331): strip backticks, the
    * literal source-schema prefix, and MySQL `convert(x using utf8mb4)`
    * wrappers, then wrap in CREATE OR REPLACE VIEW; one (table_name, ddl)
    * per view. */
  def viewDdl(views: Seq[Row], schemaName: String): Seq[(String, String)] =
    views.map { r =>
      val body = ConvertUsing.matcher(
        r.getString(1).replace("`", "").replace(s"$schemaName.", "")).replaceAll("$1")
      (r.getString(0), s"create or replace view ${r.getString(0)} as $body")
    }.sortBy(_._1)

  /** Trigger rows, as in TRIGGERS. */
  val TriggerCols = Seq("trigger_name", "action_statement")

  private val HashComment = Pattern.compile("(?m)^#")

  /** Trigger DDL scrub (cmd/tablemeta.go:333-364): `#` line comments →
    * `--`; one (trigger_name, body) per trigger. */
  def triggerDdl(triggers: Seq[Row]): Seq[(String, String)] =
    triggers.map(r => (r.getString(0), HashComment.matcher(r.getString(1)).replaceAll("--")))
      .sortBy(_._1)
}
