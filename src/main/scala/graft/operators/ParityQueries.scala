package graft.operators

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.catalog.{Exclusion, Pagination}
import graft.ddlgen.DdlGen
import graft.transform.ValueTransforms._
import graft.types.{ColumnMeta, TypeMapper}
import graft.operators.RelationalQueries.dsumRowCast

/** The reference pipeline's own operators — aggregation with exact
  * money math, deferred-join pagination, exclusion filters,
  * GROUP_CONCAT, the MySQL→PostgreSQL type map, value transforms, count
  * compare, page planning, DDL regeneration and the table audits a
  * migration runs (PK gaps, content checksums, FK orphans, money
  * reconciliation).
  *
  * Section "Reference parity — migration engine" of
  * docs/OPERATORS.md.
  */
object ParityQueries {

  /** Money columns as exact decimals. All arithmetic on these stays in
    * decimal (never double): double→decimal cast rounding differs between
    * engines (Spark rounds the shortest-repr string, DuckDB the exact
    * binary value), so products must be formed AFTER the cast, where the
    * 2-decimal inputs are exact and every multiply is exact. */
  private def money(c: Column): Column = c.cast(DecimalType(12, 2))

  private def rate1m(c: Column): Column = lit(1).cast(DecimalType(3, 2)) - c.cast(DecimalType(3, 2))

  private def rate1p(c: Column): Column = lit(1).cast(DecimalType(3, 2)) + c.cast(DecimalType(3, 2))

  def queries: Seq[Entry] = Seq(

    // The SURVEY §2 operator inventory, each as an oracle-checkable query over
    // the driver testdata.
    //
    // Determinism rules (the driver hash-compares against DuckDB):
    //  - money/double aggregates go through exact decimal arithmetic
    //    (`dsumRowCast`), so Spark's and DuckDB's summation order cannot diverge;
    //  - every query ends in a total ORDER BY;
    //  - both sides alias every computed column identically.

    // ----- A1/A3-family aggregation with full pushdown (TPC-H Q1 shape) --
    ("q01_agg", (s: SparkSession, dir: String) => {
      import s.implicits._
      val li = Tables.t(s, dir, "lineitem")
      li.groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsumRowCast($"l_quantity", 2).as("sum_qty"),
          dsumRowCast($"l_extendedprice", 2).as("sum_base_price"),
          sum(money($"l_extendedprice") * rate1m($"l_discount")).cast(DecimalType(38, 4)).cast("double").as("sum_disc_price"),
          sum(money($"l_extendedprice") * rate1m($"l_discount") * rate1p($"l_tax")).cast(DecimalType(38, 6)).cast("double").as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }, Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
        CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_base_price,
        CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
        CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_charge,
        count(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")),

    // ----- J1: the reference's deferred-join pagination as an operator ---
    ("q02_deferred_join_page", (s: SparkSession, dir: String) => {
      val orders = Tables.t(s, dir, "orders")
      Pagination.deferredJoinPage(orders, Seq("o_orderkey"), 1000, 500)
        .orderBy("o_orderkey")
    }, Some("""
      WITH temp AS (
        SELECT o_orderkey FROM orders
        ORDER BY o_orderkey LIMIT 500 OFFSET 1000)
      SELECT t.* FROM orders t JOIN temp USING (o_orderkey)
      ORDER BY o_orderkey""")),

    // ----- P3: wildcard exclusion filter (root.go:227-246) ---------------
    ("q03_exclusion_filter", (s: SparkSession, dir: String) => {
      // the work list's own matcher; a NULL is dropped, as NULL NOT LIKE is
      val keep = Exclusion.compiledKeep(Seq("src1", "src1*", "*2"))
      Tables.t(s, dir, "documents")
        .filter(udf((src: String) => src != null && keep(src)).apply(col("source")))
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .orderBy("source")
    }, Some("""
      SELECT source, count(*) AS n_docs FROM documents
      WHERE lower(source) NOT LIKE 'src1' AND lower(source) NOT LIKE 'src1%'
        AND lower(source) NOT LIKE '%2'
      GROUP BY source ORDER BY source""")),

    // ----- A3: ordered GROUP_CONCAT via the sort-by-struct idiom ---------
    ("q04_group_concat", (s: SparkSession, dir: String) => {
      import s.implicits._
      val cust = Tables.t(s, dir, "customer")
      val nat = Tables.t(s, dir, "nation")
      cust.join(nat, $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(DdlGen.orderedGroupConcat($"c_custkey", $"c_name").as("customer_list"),
          count(lit(1)).as("n_customers"))
        .orderBy("n_name")
    }, Some("""
      SELECT n_name, string_agg(c_name, ', ' ORDER BY c_custkey) AS customer_list,
             count(*) AS n_customers
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""")),

    // ----- §1.1: the MySQL→PG type switch the migration runs --------------
    ("q05_typemap", (s: SparkSession, dir: String) => {
      import s.implicits._
      val meta: Seq[(Int, String, String, Option[Long], Option[Int], Option[Int], String)] = Seq(
        (1, "id", "int", None, Some(10), Some(0), "NO"),
        (2, "c_tiny", "tinyint", None, Some(3), Some(0), "YES"),
        (3, "c_medium", "mediumint", None, Some(7), Some(0), "YES"),
        (4, "c_big", "bigint", None, Some(19), Some(0), "YES"),
        (5, "c_varchar", "varchar", Some(100L), None, None, "NO"),
        (6, "c_char", "char", Some(10L), None, None, "YES"),
        (7, "c_text", "text", Some(65535L), None, None, "YES"),
        (8, "c_ttext", "tinytext", Some(255L), None, None, "YES"),
        (9, "c_mtext", "mediumtext", Some(16777215L), None, None, "YES"),
        (10, "c_ltext", "longtext", Some(4294967295L), None, None, "YES"),
        (11, "c_dt", "datetime", None, None, None, "YES"),
        (12, "c_ts", "timestamp", None, None, None, "NO"),
        (13, "c_date", "date", None, None, None, "YES"),
        (14, "c_dec_ps", "decimal", None, Some(12), Some(3), "YES"),
        (15, "c_dec_p", "decimal", None, Some(8), None, "YES"),
        (16, "c_double", "double", None, Some(22), None, "YES"),
        (17, "c_float", "float", None, Some(12), None, "YES"),
        (18, "c_tblob", "tinyblob", None, None, None, "YES"),
        (19, "c_blob", "blob", None, None, None, "YES"),
        (20, "c_mblob", "mediumblob", None, None, None, "YES"),
        (21, "c_lblob", "longblob", None, None, None, "YES"),
        (22, "c_bit", "bit", None, None, None, "YES"),
        (23, "c_geom", "geometry", None, None, None, "YES"),
        (24, "c_enum", "enum", Some(7L), None, None, "YES"),
        (25, "c_json", "json", None, None, None, "YES"),
        (26, "c_year", "year", None, None, None, "YES"))
      meta.map { case (pos, name, dt, len, p, sc, nullable) =>
        (pos, name, dt, TypeMapper.toPgType(ColumnMeta(name, dt, len, p, sc, nullable, None, pos)),
          if (nullable == "NO") "not null" else "null")
      }.toDF("ordinal_position", "column_name", "data_type", "pg_type", "nullability")
    }, Some("""
      WITH meta(ordinal_position, column_name, data_type, character_maximum_length, numeric_precision, numeric_scale, is_nullable) AS (VALUES
        (1, 'id', 'int', NULL, 10, 0, 'NO'),
        (2, 'c_tiny', 'tinyint', NULL, 3, 0, 'YES'),
        (3, 'c_medium', 'mediumint', NULL, 7, 0, 'YES'),
        (4, 'c_big', 'bigint', NULL, 19, 0, 'YES'),
        (5, 'c_varchar', 'varchar', 100, NULL, NULL, 'NO'),
        (6, 'c_char', 'char', 10, NULL, NULL, 'YES'),
        (7, 'c_text', 'text', 65535, NULL, NULL, 'YES'),
        (8, 'c_ttext', 'tinytext', 255, NULL, NULL, 'YES'),
        (9, 'c_mtext', 'mediumtext', 16777215, NULL, NULL, 'YES'),
        (10, 'c_ltext', 'longtext', 4294967295, NULL, NULL, 'YES'),
        (11, 'c_dt', 'datetime', NULL, NULL, NULL, 'YES'),
        (12, 'c_ts', 'timestamp', NULL, NULL, NULL, 'NO'),
        (13, 'c_date', 'date', NULL, NULL, NULL, 'YES'),
        (14, 'c_dec_ps', 'decimal', NULL, 12, 3, 'YES'),
        (15, 'c_dec_p', 'decimal', NULL, 8, NULL, 'YES'),
        (16, 'c_double', 'double', NULL, 22, NULL, 'YES'),
        (17, 'c_float', 'float', NULL, 12, NULL, 'YES'),
        (18, 'c_tblob', 'tinyblob', NULL, NULL, NULL, 'YES'),
        (19, 'c_blob', 'blob', NULL, NULL, NULL, 'YES'),
        (20, 'c_mblob', 'mediumblob', NULL, NULL, NULL, 'YES'),
        (21, 'c_lblob', 'longblob', NULL, NULL, NULL, 'YES'),
        (22, 'c_bit', 'bit', NULL, NULL, NULL, 'YES'),
        (23, 'c_geom', 'geometry', NULL, NULL, NULL, 'YES'),
        (24, 'c_enum', 'enum', 7, NULL, NULL, 'YES'),
        (25, 'c_json', 'json', NULL, NULL, NULL, 'YES'),
        (26, 'c_year', 'year', NULL, NULL, NULL, 'YES'))
      SELECT ordinal_position, column_name, data_type,
        CASE
          WHEN data_type IN ('int','mediumint','tinyint') THEN 'int'
          WHEN data_type = 'varchar' THEN 'varchar(' || character_maximum_length || ')'
          WHEN data_type = 'char' THEN 'char(' || character_maximum_length || ')'
          WHEN data_type IN ('text','tinytext','mediumtext','longtext') THEN 'text'
          WHEN data_type IN ('datetime','timestamp') THEN 'timestamp'
          WHEN data_type = 'decimal' THEN
            CASE WHEN numeric_scale IS NULL THEN 'decimal(' || numeric_precision || ')'
                 ELSE 'decimal(' || numeric_precision || ',' || numeric_scale || ')' END
          WHEN data_type IN ('double','float') THEN 'double precision'
          WHEN data_type IN ('tinyblob','blob','mediumblob','longblob') THEN 'bytea'
          ELSE data_type
        END AS pg_type,
        CASE WHEN is_nullable = 'NO' THEN 'not null' ELSE 'null' END AS nullability
      FROM meta ORDER BY ordinal_position""")),

    // ----- §1.2: GEOMETRY/BIT hex + NUL scrub value transforms -----------
    ("q06_value_transforms", (s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.t(s, dir, "documents")
      val withNul = concat($"text", lit("\u0000"), lit("tail"))
      docs.filter($"doc_id" < 100)
        .select(
          $"doc_id",
          geomHex($"text".cast("binary")).as("geom_hex"),
          bitHex($"text".cast("binary")).as("bit_hex"),
          hasNul(withNul).as("had_nul"),
          length(withNul).as("raw_len"),
          length(scrubNul(withNul)).as("scrubbed_len"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
        substr(lower(hex(encode(text))), 9) AS geom_hex,
        substr(lower(hex(encode(text))), 2) AS bit_hex,
        strpos(text || chr(0) || 'tail', chr(0)) > 0 AS had_nul,
        length(text || chr(0) || 'tail') AS raw_len,
        length(regexp_replace(text || chr(0) || 'tail', chr(0), '', 'g')) AS scrubbed_len
      FROM documents WHERE doc_id < 100 ORDER BY doc_id""")),

    // ----- C6/A1: compareDb count verification ---------------------------
    ("q07_count_compare", (s: SparkSession, dir: String) => {
      import s.implicits._
      val li = Tables.t(s, dir, "lineitem")
      val orders = Tables.t(s, dir, "orders")
      val cust = Tables.t(s, dir, "customer")
      graft.verify.CompareDb.countCompare(s, Seq(
        ("customer_self", cust, Some(cust)),
        ("orders_vs_lineitem_keys", orders, Some(li.select($"l_orderkey").distinct())),
        ("region_missing", Tables.t(s, dir, "region"), None)))
    }, Some("""
      SELECT * FROM (
        SELECT 'customer_self' AS table_name,
               (SELECT count(*) FROM customer) AS src_rows,
               (SELECT count(*) FROM customer) AS dest_rows,
               'YES' AS dest_is_exist,
               CASE WHEN (SELECT count(*) FROM customer) = (SELECT count(*) FROM customer) THEN 'YES' ELSE 'NO' END AS is_ok
        UNION ALL
        SELECT 'orders_vs_lineitem_keys',
               (SELECT count(*) FROM orders),
               (SELECT count(DISTINCT l_orderkey) FROM lineitem),
               'YES',
               CASE WHEN (SELECT count(*) FROM orders) = (SELECT count(DISTINCT l_orderkey) FROM lineitem) THEN 'YES' ELSE 'NO' END
        UNION ALL
        SELECT 'region_missing', (SELECT count(*) FROM region), -1, 'NO', 'NO')
      ORDER BY table_name""")),

    // ----- A2/C4: pagination planning math -------------------------------
    ("q08_page_plan", (s: SparkSession, dir: String) => {
      import s.implicits._
      val ps = 5000L
      Tables.t(s, dir, "lineitem")
        .agg(count(lit(1)).as("cnt"))
        .select($"cnt", explode(sequence(lit(0L),
          (ceil($"cnt" / lit(ps.toDouble))).cast("long") - 1)).as("page_id"))
        .select($"cnt", $"page_id",
          ($"page_id" * ps).as("page_offset"),
          least(lit(ps), $"cnt" - $"page_id" * ps).as("page_rows"))
        .orderBy("page_id")
    }, Some("""
      WITH c AS (SELECT count(*) AS cnt FROM lineitem),
      p AS (SELECT cnt, unnest(range(0, CAST(ceil(cnt / 5000.0) AS BIGINT))) AS page_id FROM c)
      SELECT cnt, page_id, page_id * 5000 AS page_offset,
             least(5000, cnt - page_id * 5000) AS page_rows
      FROM p ORDER BY page_id""")),

    // ----- P4/S2: zero-row schema probe ----------------------------------
    ("q09_schema_probe", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_quantity", $"l_shipdate")
        .filter(lit(1) === lit(0))
    }, Some("""
      SELECT l_orderkey, l_quantity, l_shipdate FROM lineitem WHERE 1 = 0""")),

    // ----- J2/J3-family: multi-way equi-join + agg (TPC-H Q5 shape) ------
    ("q10_join_agg", (s: SparkSession, dir: String) => {
      import s.implicits._
      val li = Tables.t(s, dir, "lineitem")
      val orders = Tables.t(s, dir, "orders")
      val cust = Tables.t(s, dir, "customer")
      val nation = Tables.t(s, dir, "nation")
      val region = Tables.t(s, dir, "region")
      li.join(orders, $"l_orderkey" === $"o_orderkey")
        .join(cust, $"o_custkey" === $"c_custkey")
        .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
        .filter($"r_name".isin("ASIA", "EUROPE"))
        .groupBy($"r_name", $"n_name")
        .agg(dsumRowCast($"l_extendedprice" * (lit(1.0) - $"l_discount"), 4).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }, Some("""
      SELECT r_name, n_name,
        CAST(CAST(sum(CAST((l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
        count(*) AS n_items
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE r_name IN ('ASIA', 'EUROPE')
      GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    // ----- O1-O4: global sort + limit (TakeOrderedAndProject) ------------
    ("q11_sort_limit", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.t(s, dir, "orders")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        .limit(10)
    }, Some("""
      SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")),

    // ----- §2.6: the scalar-function surface -----------------------------
    ("q12_scalar_funcs", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.t(s, dir, "orders")
        .filter($"o_orderkey" <= 200)
        .select(
          $"o_orderkey",
          concat($"o_orderstatus", lit("-"), $"o_orderpriority").as("status_prio"),
          lower($"o_orderpriority").as("prio_lower"),
          upper($"o_orderstatus").as("status_upper"),
          coalesce(nullif($"o_orderstatus", lit("O")), lit("open")).as("coalesced"),
          when($"o_totalprice" > 200000, "big")
            .when($"o_totalprice" > 100000, "mid")
            .otherwise("small").as("size_class"),
          regexp_replace($"o_orderpriority", "[0-9]-", "").as("prio_name"),
          substring($"o_orderpriority", 1, 1).as("prio_code"),
          ceil($"o_totalprice").cast("long").as("price_ceil"),
          date_format($"o_orderdate", "yyyy-MM-dd").as("order_date_str"),
          md5($"o_orderstatus".cast("binary")).as("status_md5"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
        o_orderstatus || '-' || o_orderpriority AS status_prio,
        lower(o_orderpriority) AS prio_lower,
        upper(o_orderstatus) AS status_upper,
        coalesce(nullif(o_orderstatus, 'O'), 'open') AS coalesced,
        CASE WHEN o_totalprice > 200000 THEN 'big'
             WHEN o_totalprice > 100000 THEN 'mid'
             ELSE 'small' END AS size_class,
        regexp_replace(o_orderpriority, '[0-9]-', '', 'g') AS prio_name,
        substr(o_orderpriority, 1, 1) AS prio_code,
        CAST(ceil(o_totalprice) AS BIGINT) AS price_ceil,
        strftime(o_orderdate, '%Y-%m-%d') AS order_date_str,
        md5(o_orderstatus) AS status_md5
      FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""")),

    // The catalog→DDL generators (SURVEY §2.1 S6–S10) as oracle-checked
    // queries over literal information_schema-shaped fixtures — the same
    // VALUES rows on both engines, run through the DdlGen functions the
    // migration runs, so the DuckDB oracle exercises the full generator
    // logic (ordered string-agg, branch pyramids, scrub regexes), not just
    // a spec's golden strings.

    // ----- S7: index DDL (GROUP_CONCAT + IF/CASE pyramid) ----------------
    ("q36_ddl_index", (s: SparkSession, dir: String) => {
      import s.implicits._
      val stats = Seq(
        Row("t1", "PRIMARY", 0, 1, "id", "BTREE"),
        Row("t1", "ix_ab", 1, 2, "b", "BTREE"),
        Row("t1", "ix_ab", 1, 1, "a", "BTREE"),
        Row("t1", "ux_c", 0, 1, "c", "BTREE"),
        Row("t2", "ft_d", 1, 1, "d", "FULLTEXT"),
        Row("t2", "PRIMARY", 0, 2, "k2", "BTREE"),
        Row("t2", "PRIMARY", 0, 1, "k1", "BTREE"))
      DdlGen.indexDdl(stats, suffix = "s1").toDF("table_name", "index_name", "ddl")
    }, Some("""
      WITH stats(table_name, index_name, non_unique, seq_in_index, column_name, index_type) AS (VALUES
        ('t1', 'PRIMARY', 0, 1, 'id', 'BTREE'),
        ('t1', 'ix_ab', 1, 2, 'b', 'BTREE'),
        ('t1', 'ix_ab', 1, 1, 'a', 'BTREE'),
        ('t1', 'ux_c', 0, 1, 'c', 'BTREE'),
        ('t2', 'ft_d', 1, 1, 'd', 'FULLTEXT'),
        ('t2', 'PRIMARY', 0, 2, 'k2', 'BTREE'),
        ('t2', 'PRIMARY', 0, 1, 'k1', 'BTREE')),
      g AS (SELECT table_name, index_name, non_unique, index_type,
              string_agg(column_name, ', ' ORDER BY seq_in_index) AS col_list
            FROM stats GROUP BY table_name, index_name, non_unique, index_type)
      SELECT table_name, index_name,
        CASE WHEN index_name = 'PRIMARY'
               THEN 'alter table ' || table_name || ' add primary key (' || col_list || ')'
             WHEN non_unique = 0
               THEN 'create unique index ' || index_name || '_s1 on ' || table_name || ' (' || col_list || ')'
             WHEN upper(index_type) = 'FULLTEXT'
               THEN 'create index ' || index_name || '_s1 on ' || table_name ||
                    ' using gin(to_tsvector(''english'', ' || col_list || '))'
             ELSE 'create index ' || index_name || '_s1 on ' || table_name || ' (' || col_list || ')'
        END AS ddl
      FROM g ORDER BY table_name, index_name""")),

    // ----- S8: FK DDL (join + ordered string-agg) ------------------------
    ("q37_ddl_fk", (s: SparkSession, dir: String) => {
      import s.implicits._
      val kcu = Seq(
        Row("fk_a", "child", "a", 1, "parent", "x"),
        Row("fk_a", "child", "b", 2, "parent", "y"),
        Row("fk_b", "child2", "p", 1, "parent", "x"))
      val rc = Seq(Row("fk_a", "CASCADE", "NO ACTION"), Row("fk_b", "RESTRICT", "SET NULL"))
      DdlGen.fkDdl(kcu, rc).toDF("table_name", "constraint_name", "ddl")
    }, Some("""
      WITH kcu(constraint_name, table_name, column_name, ordinal_position, referenced_table_name, referenced_column_name) AS (VALUES
        ('fk_a', 'child', 'a', 1, 'parent', 'x'),
        ('fk_a', 'child', 'b', 2, 'parent', 'y'),
        ('fk_b', 'child2', 'p', 1, 'parent', 'x')),
      rc(constraint_name, update_rule, delete_rule) AS (VALUES
        ('fk_a', 'CASCADE', 'NO ACTION'), ('fk_b', 'RESTRICT', 'SET NULL')),
      g AS (SELECT k.constraint_name, k.table_name, k.referenced_table_name,
              r.update_rule, r.delete_rule,
              string_agg(k.column_name, ', ' ORDER BY k.ordinal_position) AS fk_cols,
              string_agg(k.referenced_column_name, ', ' ORDER BY k.ordinal_position) AS ref_cols
            FROM kcu k JOIN rc r USING (constraint_name)
            GROUP BY 1, 2, 3, 4, 5)
      SELECT table_name, constraint_name,
        'alter table ' || table_name || ' add constraint ' || constraint_name ||
        ' foreign key (' || fk_cols || ') references ' || referenced_table_name ||
        ' (' || ref_cols || ') on delete ' || lower(delete_rule) ||
        ' on update ' || lower(update_rule) AS ddl
      FROM g ORDER BY table_name, constraint_name""")),

    // ----- S6: sequence DDL triplet --------------------------------------
    ("q38_ddl_sequence", (s: SparkSession, dir: String) => {
      import s.implicits._
      val ai = Seq(Row("t1", "id", 42L), Row("t2", "seq_no", 7L))
      DdlGen.sequenceDdl(ai)
        .toDF("table_name", "column_name", "drop_ddl", "create_ddl", "default_ddl")
    }, Some("""
      WITH ai(table_name, column_name, auto_increment) AS (VALUES
        ('t1', 'id', 42), ('t2', 'seq_no', 7))
      SELECT table_name, column_name,
        'drop sequence if exists seq_' || table_name || '_' || column_name AS drop_ddl,
        'create sequence seq_' || table_name || '_' || column_name ||
          ' start with ' || auto_increment AS create_ddl,
        'alter table ' || table_name || ' alter column ' || column_name ||
          ' set default nextval(''seq_' || table_name || '_' || column_name || ''')' AS default_ddl
      FROM ai ORDER BY table_name, column_name""")),

    // ----- S9/S10: view scrub + trigger comment rewrite ------------------
    ("q39_ddl_view_trigger", (s: SparkSession, dir: String) => {
      import s.implicits._
      val views = Seq(
        Row("v1", "select `a`, convert(`b` using utf8mb4) from mydb.`t`"),
        Row("v2", "select x from mydb.u where x > 1"))
      val trig = Seq(Row("tr1", "#note\nbegin\n#x\nend"))
      (DdlGen.viewDdl(views, "mydb") ++ DdlGen.triggerDdl(trig)).sortBy(_._1)
        .toDF("object_name", "body")
    }, Some("""
      WITH v(table_name, view_definition) AS (VALUES
        ('v1', 'select `a`, convert(`b` using utf8mb4) from mydb.`t`'),
        ('v2', 'select x from mydb.u where x > 1')),
      t(trigger_name, action_statement) AS (VALUES ('tr1', chr(35) || 'note' || chr(10) || 'begin' || chr(10) || chr(35) || 'x' || chr(10) || 'end')),
      vd AS (SELECT table_name AS object_name,
        'create or replace view ' || table_name || ' as ' ||
          regexp_replace(regexp_replace(regexp_replace(view_definition, '`', '', 'g'),
            'mydb\.', '', 'g'), '(?i)convert\(([^)]+) using [a-z0-9]+\)', '\1', 'g') AS body
        FROM v),
      td AS (SELECT trigger_name AS object_name,
        regexp_replace(action_statement, '(?m)^#', '--', 'g') AS body FROM t)
      SELECT * FROM (SELECT * FROM vd UNION ALL SELECT * FROM td)
      ORDER BY object_name""")),

    // ----- migration QA: primary-key gap detection -------------------------
    ("q91_pk_gaps", (s: SparkSession, dir: String) => {
      import s.implicits._
      // find holes in a supposedly-dense key sequence — the page-planner
      // sanity check before range-partitioned extraction: a gap bigger
      // than the page size silently yields empty pages. Distributed
      // two-level lead (r14; was a single-partition corpus window):
      // within a 64k-key bucket, lead() runs partitioned by bucket; each
      // bucket's MAX key takes its successor from the bucket-minima grid
      // (|pk range|/65536 rows — the q106 grid convention), whose own
      // lead window is grid-sized. Identical output: every key's
      // successor is either in its bucket or the next non-empty
      // bucket's minimum.
      val keys = Tables.t(s, dir, "orders")
        .filter($"o_orderkey" % 13 =!= 0) // punch deterministic holes
        .select($"o_orderkey".as("pk"))
        .withColumn("b", expr("pk div 65536"))
      val wIn = Window.partitionBy($"b").orderBy($"pk")
      val grid = keys.groupBy($"b").agg(min($"pk").as("bmin"))
      val wG = Window.orderBy($"b") // bucket grid, not corpus rows
      val nxt = grid
        .withColumn("next_bmin", lead($"bmin", 1).over(wG))
        .select($"b", $"next_bmin")
      keys.withColumn("next_in", lead($"pk", 1).over(wIn))
        .join(nxt, Seq("b"))
        .withColumn("next_pk", coalesce($"next_in", $"next_bmin"))
        .filter($"next_pk" - $"pk" > 1)
        .select(($"pk" + 1).as("gap_start"), ($"next_pk" - 1).as("gap_end"),
          ($"next_pk" - $"pk" - 1).as("gap_len"))
        .orderBy("gap_start")
    }, Some("""
      WITH keys AS (SELECT o_orderkey AS pk FROM orders WHERE o_orderkey % 13 <> 0),
      n AS (SELECT pk, lead(pk, 1) OVER (ORDER BY pk) AS next_pk FROM keys)
      SELECT pk + 1 AS gap_start, next_pk - 1 AS gap_end, next_pk - pk - 1 AS gap_len
      FROM n WHERE next_pk - pk > 1 ORDER BY gap_start""")),

    // ----- migration QA: content checksum compare --------------------------
    ("q92_content_checksum", (s: SparkSession, dir: String) => {
      import s.implicits._
      // the deep form of the reference's count(*) compare (compare.go:
      // 102-132): an order-independent per-bucket content checksum — sum
      // of a 48-bit md5-derived hash of each row's canonical rendering.
      // Bucketing by pk % 16 localizes a mismatch to 1/16 of the table;
      // at scale each bucket checksum is one partial aggregate, no sort.
      // canonical money rendering: decimal(12,2) → string gives the same
      // "123.45" on both engines (format_number would add locale commas)
      val row = concat_ws("|", $"o_orderkey", $"o_custkey", $"o_orderstatus",
        $"o_totalprice".cast(DecimalType(12, 2)).cast("string"), $"o_orderpriority")
      Tables.t(s, dir, "orders")
        .select(($"o_orderkey" % 16).as("bucket"),
          conv(substring(md5(row.cast("binary")), 1, 12), 16, 10).cast("long").as("h"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_rows"), sum($"h").as("checksum"))
        .orderBy("bucket")
    }, Some("""
      SELECT o_orderkey % 16 AS bucket, count(*) AS n_rows,
        CAST(sum(('0x' || substr(md5(o_orderkey || '|' || o_custkey || '|' || o_orderstatus
          || '|' || CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) || '|' || o_orderpriority), 1, 12))::BIGINT) AS BIGINT) AS checksum
      FROM orders GROUP BY 1 ORDER BY bucket""")),

    // ----- migration QA: referential-integrity orphan audit ----------------
    ("q93_fk_orphans", (s: SparkSession, dir: String) => {
      import s.implicits._
      // FK audit across the whole schema edge (lineitem→orders,
      // orders→customer): per edge, rows whose parent is missing — the
      // check the reference's FK phase (tablemeta.go:257-298) implies
      // but never runs. Deterministic holes simulate a broken target.
      val orders = Tables.t(s, dir, "orders")
        .filter($"o_orderkey" % 251 =!= 0)
      val customers = Tables.t(s, dir, "customer")
        .filter($"c_custkey" % 97 =!= 0)
      val e1 = Tables.t(s, dir, "lineitem")
        .join(orders, $"l_orderkey" === $"o_orderkey", "left_anti")
        .agg(count(lit(1)).as("n_orphans"),
          countDistinct($"l_orderkey").as("n_distinct_keys"))
        .select(lit("lineitem->orders").as("edge"), $"n_orphans", $"n_distinct_keys")
      val e2 = Tables.t(s, dir, "orders")
        .join(customers, $"o_custkey" === $"c_custkey", "left_anti")
        .agg(count(lit(1)).as("n_orphans"),
          countDistinct($"o_custkey").as("n_distinct_keys"))
        .select(lit("orders->customer").as("edge"), $"n_orphans", $"n_distinct_keys")
      e1.unionByName(e2).orderBy("edge")
    }, Some("""
      SELECT 'lineitem->orders' AS edge, count(*) AS n_orphans,
        count(DISTINCT l_orderkey) AS n_distinct_keys
      FROM lineitem WHERE NOT EXISTS (
        SELECT 1 FROM orders WHERE o_orderkey = l_orderkey AND o_orderkey % 251 <> 0)
      UNION ALL
      SELECT 'orders->customer', count(*), count(DISTINCT o_custkey)
      FROM orders WHERE NOT EXISTS (
        SELECT 1 FROM customer WHERE c_custkey = o_custkey AND c_custkey % 97 <> 0)
      ORDER BY edge""")),

    // ----- cross-table money reconciliation -------------------------------
    // The finance-grade consistency audit q07/q92/q93 don't cover:
    // does each order's header total equal the sum of its line items
    // (extended price, discounted and taxed)? Every term stays in
    // DECIMAL cents — the charged amount per line is
    // round(extprice·(1−disc)·(1+tax)) computed in DECIMAL so both
    // engines round identically — and the audit reports, per order
    // status, the orders whose header disagrees with the recomputed
    // body plus the total absolute drift. On this generator the header
    // is NOT derived from the lines, so the audit flags everything —
    // which is the honest read: reconciliation exists to FIND such
    // pipelines. One join on the natural key, two rollups.
    ("q292_money_reconciliation", (s: SparkSession, dir: String) => {
      import s.implicits._
      val li = Tables.t(s, dir, "lineitem")
        .select($"l_orderkey",
          expr("""CAST(floor(CAST(l_extendedprice AS DECIMAL(12,2))
            * (1 - CAST(l_discount AS DECIMAL(4,2)))
            * (1 + CAST(l_tax AS DECIMAL(4,2))) * 100 + 0.5)
            AS BIGINT)""").as("line_cents"))
        .groupBy($"l_orderkey").agg(sum($"line_cents").as("body_cents"))
      val o = Tables.t(s, dir, "orders")
        .select($"o_orderkey", $"o_orderstatus",
          expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
            .as("head_cents"))
      o.join(li, $"o_orderkey" === $"l_orderkey", "left")
        .select($"o_orderstatus",
          coalesce($"body_cents", lit(0L)).as("body_cents"), $"head_cents")
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(when($"head_cents" =!= $"body_cents", 1L).otherwise(0L))
            .as("n_mismatch"),
          sum(abs($"head_cents" - $"body_cents")).as("abs_drift_cents"),
          sum(when($"body_cents" === 0L, 1L).otherwise(0L)).as("n_headless"))
        .select($"o_orderstatus", $"n_orders", $"n_mismatch",
          expr("1000000 * n_mismatch div n_orders").as("mismatch_micro"),
          $"abs_drift_cents", $"n_headless")
        .orderBy($"o_orderstatus")
    }, Some("""
      WITH li AS (SELECT l_orderkey,
          CAST(sum(CAST(floor(CAST(l_extendedprice AS DECIMAL(12,2))
            * (1 - CAST(l_discount AS DECIMAL(4,2)))
            * (1 + CAST(l_tax AS DECIMAL(4,2))) * 100 + 0.5)
            AS BIGINT)) AS BIGINT) AS body_cents
        FROM lineitem GROUP BY 1),
      o AS (SELECT o_orderkey, o_orderstatus,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS head_cents
        FROM orders),
      j AS (SELECT o.o_orderstatus, coalesce(li.body_cents, 0) AS body_cents,
          o.head_cents
        FROM o LEFT JOIN li ON o.o_orderkey = li.l_orderkey)
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        CAST(sum(CASE WHEN head_cents <> body_cents THEN 1 ELSE 0 END) AS BIGINT)
          AS n_mismatch,
        CAST(1000000 * sum(CASE WHEN head_cents <> body_cents THEN 1 ELSE 0 END)
          // count(*) AS BIGINT) AS mismatch_micro,
        CAST(sum(abs(head_cents - body_cents)) AS BIGINT) AS abs_drift_cents,
        CAST(sum(CASE WHEN body_cents = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_headless
      FROM j GROUP BY 1 ORDER BY 1"""))
  )
}
