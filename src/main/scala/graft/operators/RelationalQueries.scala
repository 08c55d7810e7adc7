package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ext.{IntervalJoin, TextAnalysis => TA}

/** The relational and analytical surface: windows, joins, grouping
  * sets, pivots, scalar function families, format round trips, pattern
  * mining, statistics over the TPC-H-shaped tables and the sequential-
  * monitoring / resampling estimators.
  *
  * Section "Relational / analytical surface" of
  * docs/OPERATORS.md.
  */
object RelationalQueries {

  private val normSql = TA.normTextSql

  /** Order-insensitive exact sum: per-row cast to decimal(18,s) (exact for
    * the 2-decimal money domain), decimal accumulation — then DOUBLE out.
    * The final double cast is deliberate: the sum itself is exact decimal
    * (no summation-order divergence), and a double survives every
    * parquet/pandas/DuckDB reader identically, whereas decimal columns
    * render with trailing zeros in some readers ("253942.00") and as
    * floats in others ("253942.0") and hash-mismatch downstream. */
  private[operators] def dsumRowCast(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DecimalType(38, scale)).cast("double")

  // top-level so Spark can derive product encoders (q103)
  case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                   o_totalprice: Double)

  case class CustSummary(o_custkey: Long, n_big: Long, max_price: Double)

  /** Sum in the input's own type, then cast the TOTAL to
    * decimal(38,s) and DOUBLE out. Unlike [[dsumRowCast]] no row is
    * cast first, so it is exact only where the input's own sum is
    * (integer or decimal columns). */
  private def dsumTotalCast(c: Column, scale: Int): Column =
    sum(c).cast(DecimalType(38, scale)).cast("double")

  /** Epoch-micros column for events.ts, tolerant of both parquet
    * timestamp encodings (the TESTDATA gotcha). */
  private[operators] def tusOf(raw: DataFrame) =
    raw.schema("ts").dataType.typeName match {
      case "timestamp_ntz" => unix_micros(col("ts").cast("timestamp"))
      case _ => unix_micros(col("ts"))
    }

  def queries: Seq[Entry] = Seq(

    // ----- Window functions (ranking + running aggregate) ----------------
    ("q13_window_topk", (s: SparkSession, dir: String) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
      Tables.t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("cum_spend",
          sum($"o_totalprice".cast(DecimalType(18, 2)))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DecimalType(38, 2)).cast("double"))
        .filter($"rn" <= 3)
        .select($"o_custkey", $"rn", $"o_orderkey",
          $"o_totalprice".cast(DecimalType(18, 2)).cast("double").as("total_price"), $"cum_spend")
        .orderBy("o_custkey", "rn")
    }, Some("""
      SELECT o_custkey, rn, o_orderkey,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price, cum_spend
      FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
          CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS DOUBLE) AS cum_spend
        FROM orders)
      WHERE rn <= 3 ORDER BY o_custkey, rn""")),

    // ----- Time-window aggregation over the events table -----------------
    ("q14_event_window", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.t(s, dir, "events")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n_events"), dsumRowCast($"value", 2).as("sum_value"))
        .select($"window.start".as("hour_start"), $"event_type", $"n_events", $"sum_value")
        .orderBy("hour_start", "event_type")
    }, Some("""
      SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
        count(*) AS n_events,
        CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""")),

    // ----- Semi-structured: JSON extraction from event props -------------
    ("q15_json_extract", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.t(s, dir, "events")
        .filter($"event_id" < 500)
        .select($"event_id",
          get_json_object($"props", "$.k").cast("int").as("k"))
        .orderBy("event_id")
    }, Some("""
      SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events WHERE event_id < 500 ORDER BY event_id""")),

    // LLM-training-data pipeline operators (SURVEY §7.1 item 9 / the north
    // star): dedup (exact, MinHash+LSH, SimHash, n-gram Jaccard,
    // embedding-cosine), similarity search (brute-force + LSH ANN), text
    // analysis (lang-ID, quality, tokens, fingerprint), multimodal metadata.
    //
    // Oracle strategy: operators whose SQL form needs generated expression
    // pyramids (simhash bit votes, LSH projections) build BOTH the Spark
    // expression and the DuckDB SQL from one template, so the two engines
    // execute the same algorithm by construction.

    // ----- events: gap-based sessionization ------------------------------
    ("q28_sessionize", (s: SparkSession, dir: String) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.t(s, dir, "events")
        .select($"user_id", $"event_id", unix_timestamp(date_trunc("second", $"ts")).as("tsec"))
      val w = Window.partitionBy($"user_id").orderBy($"tsec", $"event_id")
      val flagged = ev.withColumn("new_sess",
        when(lag($"tsec", 1).over(w).isNull || $"tsec" - lag($"tsec", 1).over(w) > 1800, 1L)
          .otherwise(0L))
      flagged.groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"), sum($"new_sess").as("n_sessions"))
        .orderBy("user_id")
    }, Some("""
      WITH e AS (SELECT user_id, event_id,
        CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS tsec FROM events),
      f AS (SELECT user_id,
        CASE WHEN lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec, event_id) IS NULL
               OR tsec - lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec, event_id) > 1800
             THEN 1 ELSE 0 END AS new_sess
        FROM e)
      SELECT user_id, count(*) AS n_events, CAST(sum(new_sess) AS BIGINT) AS n_sessions
      FROM f GROUP BY user_id ORDER BY user_id""")),

    // ----- Grouping sets: ROLLUP subtotals -------------------------------
    ("q29_rollup", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.t(s, dir, "orders")
        .rollup($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          dsumRowCast($"o_totalprice", 2).as("total_spend"))
        .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
    }, Some("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total_spend
      FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")),

    // ----- Anti/semi joins: EXISTS / NOT EXISTS --------------------------
    ("q30_anti_semi_join", (s: SparkSession, dir: String) => {
      import s.implicits._
      val cust = Tables.t(s, dir, "customer")
      val orders = Tables.t(s, dir, "orders")
      val without = cust.join(orders, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", lit("no_orders").as("status"))
      val withO = cust.join(orders, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", lit("has_orders").as("status"))
      without.unionByName(withO).orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey, 'no_orders' AS status FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      UNION ALL
      SELECT c_custkey, 'has_orders' FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey""")),

    // ----- Distinct aggregates -------------------------------------------
    ("q31_distinct_agg", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          countDistinct($"l_orderkey").as("n_orders"),
          countDistinct($"l_partkey").as("n_parts"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
        count(DISTINCT l_partkey) AS n_parts, count(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ----- Set operations -------------------------------------------------
    ("q32_set_ops", (s: SparkSession, dir: String) => {
      import s.implicits._
      val liParts = Tables.t(s, dir, "lineitem").select($"l_partkey".as("partkey")).distinct()
      val allParts = Tables.t(s, dir, "part").select($"p_partkey".as("partkey"))
      val unsold = allParts.exceptAll(liParts).select($"partkey", lit("unsold").as("tag"))
      val sold = allParts.intersect(liParts).select($"partkey", lit("sold").as("tag"))
      unsold.unionByName(sold).orderBy("partkey")
    }, Some("""
      SELECT partkey, 'unsold' AS tag FROM (
        SELECT p_partkey AS partkey FROM part
        EXCEPT ALL
        SELECT DISTINCT l_partkey FROM lineitem)
      UNION ALL
      SELECT partkey, 'sold' FROM (
        SELECT p_partkey AS partkey FROM part
        INTERSECT
        SELECT DISTINCT l_partkey FROM lineitem)
      ORDER BY partkey""")),

    // ----- Grouping sets: full CUBE --------------------------------------
    ("q35_cube", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.t(s, dir, "events")
        .cube($"event_type", date_format($"ts", "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy($"event_type".asc_nulls_first, $"month".asc_nulls_first)
    }, Some("""
      SELECT event_type, strftime(ts, '%Y-%m') AS month, count(*) AS n_events
      FROM events GROUP BY CUBE (event_type, strftime(ts, '%Y-%m'))
      ORDER BY event_type ASC NULLS FIRST, month ASC NULLS FIRST""")),

    // ----- Analytic window family: lag/lead/rank/ntile/first/last --------
    ("q40_window_analytics", (s: SparkSession, dir: String) => {
      import s.implicits._
      val price = $"o_totalprice".cast(DecimalType(18, 2)).cast("double")
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.t(s, dir, "orders")
        .filter($"o_custkey" < 100)
        .select(
          $"o_custkey", $"o_orderkey",
          lag(price, 1).over(w).as("prev_price"),
          lead(price, 1).over(w).as("next_price"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"),
          first(price).over(full).as("first_price"),
          last(price).over(full).as("last_price"))
        .orderBy("o_custkey", "o_orderkey")
    }, Some("""
      SELECT o_custkey, o_orderkey,
        lag(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE), 1) OVER w AS prev_price,
        lead(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE), 1) OVER w AS next_price,
        rank() OVER w AS rnk,
        dense_rank() OVER w AS drnk,
        ntile(4) OVER w AS quartile,
        first_value(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)) OVER
          (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_price,
        last_value(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)) OVER
          (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price
      FROM orders WHERE o_custkey < 100
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, o_orderkey""")),

    // ----- near-dup: edit distance within blocks -------------------------
    ("q44_edit_distance", (s: SparkSession, dir: String) => {
      import s.implicits._
      // same blocking discipline as the other pair operators; levenshtein
      // is exact integer — engine-identical by definition
      val d = Tables.spread(Tables.t(s, dir, "documents"))
        .filter($"n_chars" < 120)
        .select($"doc_id", concat($"lang", lit("_"), expr("n_chars div 40")).as("bucket"), $"text")
      val l = d.select($"bucket", $"doc_id".as("id_a"), $"text".as("t_a"))
      val r = d.select($"bucket", $"doc_id".as("id_b"), $"text".as("t_b"))
      l.join(r, Seq("bucket"))
        .filter($"id_a" < $"id_b")
        .select($"id_a", $"id_b", levenshtein($"t_a", $"t_b").as("edit_dist"))
        .filter($"edit_dist" <= 45)
        .orderBy("id_a", "id_b")
    }, Some("""
      WITH d AS (SELECT doc_id, lang || '_' || (n_chars // 40) AS bucket, text
        FROM documents WHERE n_chars < 120)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        levenshtein(a.text, b.text) AS edit_dist
      FROM d a JOIN d b USING (bucket)
      WHERE a.doc_id < b.doc_id AND levenshtein(a.text, b.text) <= 45
      ORDER BY id_a, id_b""")),

    // ----- as-of join: each event ↔ the user's latest prior order --------
    ("q45_asof_join", (s: SparkSession, dir: String) => {
      import s.implicits._
      // Composed from built-ins (SURVEY §7.3 preference (a)): range-join
      // on (key, time ≤ t) then keep the latest match per event. At scale
      // the join is an equi-join on the key with AQE handling size; the
      // per-event top-1 is a windowed rank over the matches.
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.t(s, dir, "events")
        .filter($"event_id" < 2000)
        .select($"event_id", $"user_id", date_trunc("second", $"ts").as("tsec"))
      val orders = Tables.t(s, dir, "orders")
        .select($"o_custkey", $"o_orderkey", $"o_orderdate")
      val w = Window.partitionBy($"event_id").orderBy($"o_orderdate".desc, $"o_orderkey".desc)
      ev.join(orders, $"user_id" === $"o_custkey" && $"o_orderdate" <= $"tsec", "left")
        .withColumn("__r", row_number().over(w))
        .filter($"__r" === 1)
        .select($"event_id", $"user_id", $"o_orderkey".as("latest_orderkey"),
          $"o_orderdate".as("latest_orderdate"))
        .orderBy("event_id")
    }, Some("""
      WITH ev AS (SELECT event_id, user_id, date_trunc('second', ts) AS tsec
        FROM events WHERE event_id < 2000),
      m AS (SELECT ev.event_id, ev.user_id, o.o_orderkey, o.o_orderdate,
        row_number() OVER (PARTITION BY ev.event_id
          ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS r
        FROM ev LEFT JOIN orders o
          ON ev.user_id = o.o_custkey AND o.o_orderdate <= ev.tsec)
      SELECT event_id, user_id, o_orderkey AS latest_orderkey,
             o_orderdate AS latest_orderdate
      FROM m WHERE r = 1 ORDER BY event_id""")),

    // ----- Grouping sets: explicit set list + grouping_id ----------------
    ("q46_grouping_sets", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.t(s, dir, "orders")
        .groupingSets(
          Seq(Seq($"o_orderstatus", $"o_orderpriority"), Seq($"o_orderstatus"), Seq()),
          $"o_orderstatus", $"o_orderpriority")
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_orders"),
          dsumRowCast($"o_totalprice", 2).as("total_spend"))
        .orderBy($"gid", $"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
    }, Some("""
      SELECT o_orderstatus, o_orderpriority,
        CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        count(*) AS n_orders,
        CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total_spend
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")),

    // ----- continuous percentiles / median over exact-integer domain -----
    ("q49_percentiles", (s: SparkSession, dir: String) => {
      import s.implicits._
      // percentile_cont interpolates a + (b-a)*frac; over integer-valued
      // doubles both terms are exact, so the result is engine-identical
      Tables.t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity)").as("median_qty"),
          expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity)").as("p25_qty"),
          expr("percentile_cont(0.95) WITHIN GROUP (ORDER BY l_quantity)").as("p95_qty"),
          avg($"l_quantity").as("mean_qty"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag,
        quantile_cont(l_quantity, 0.5) AS median_qty,
        quantile_cont(l_quantity, 0.25) AS p25_qty,
        quantile_cont(l_quantity, 0.95) AS p95_qty,
        sum(l_quantity) / count(*) AS mean_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ----- RANGE-frame windows: value-based sliding aggregates -----------
    ("q50_range_window", (s: SparkSession, dir: String) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // orders within ±3 days of each order, per customer: RANGE frames
      // bound by VALUE distance (vs the ROWS frames of q13/q40)
      val days = datediff($"o_orderdate", lit("1992-01-01")).cast("long")
      val w = Window.partitionBy($"o_custkey").orderBy(days)
        .rangeBetween(-3, 3)
      Tables.t(s, dir, "orders")
        .filter($"o_custkey" < 200)
        .select($"o_custkey", $"o_orderkey", days.as("day_no"),
          count(lit(1)).over(w).as("n_near"),
          max($"o_orderkey").over(w).as("max_near_key"))
        .orderBy("o_custkey", "day_no", "o_orderkey")
    }, Some("""
      SELECT o_custkey, o_orderkey,
        CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS day_no,
        count(*) OVER w AS n_near,
        max(o_orderkey) OVER w AS max_near_key
      FROM orders WHERE o_custkey < 200
      WINDOW w AS (PARTITION BY o_custkey
        ORDER BY CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)
        RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      ORDER BY o_custkey, day_no, o_orderkey""")),

    // ----- correlated subqueries (scalar + EXISTS), spark.sql surface ----
    ("q51_correlated_subquery", (s: SparkSession, dir: String) => {
      // the SQL-text path: Catalyst decorrelates the scalar subqueries
      // into left-outer aggregate joins and the EXISTS into a semi-join
      Tables.t(s, dir, "customer").createOrReplaceTempView("customer_v")
      Tables.t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT c_custkey, c_mktsegment,
          (SELECT count(*) FROM orders_v o
           WHERE o.o_custkey = c.c_custkey) AS n_orders,
          (SELECT CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE)
           FROM orders_v o WHERE o.o_custkey = c.c_custkey) AS total_spend
        FROM customer_v c
        WHERE EXISTS (SELECT 1 FROM orders_v o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        ORDER BY c_custkey""")
    }, Some("""
      SELECT c_custkey, c_mktsegment,
        (SELECT count(*) FROM orders o
         WHERE o.o_custkey = c.c_custkey) AS n_orders,
        (SELECT CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE)
         FROM orders o WHERE o.o_custkey = c.c_custkey) AS total_spend
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      ORDER BY c_custkey""")),

    // ----- pivot: status columns per priority ----------------------------
    ("q52_pivot", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.t(s, dir, "orders")
        .groupBy($"o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select($"o_orderpriority",
          coalesce($"F", lit(0L)).as("n_f"),
          coalesce($"O", lit(0L)).as("n_o"),
          coalesce($"P", lit(0L)).as("n_p"))
        .orderBy("o_orderpriority")
    }, Some("""
      SELECT o_orderpriority,
        count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ----- date spine / gap fill: dense daily series ---------------------
    ("q55_date_spine", (s: SparkSession, dir: String) => {
      import s.implicits._
      // dense calendar over the observed range (sequence + explode), left
      // join the per-day aggregate, zero-fill the gaps — the standard
      // time-series densification every reporting pipeline needs
      val daily = Tables.t(s, dir, "orders")
        .filter($"o_orderdate" >= lit("1998-01-01"))
        .groupBy($"o_orderdate".as("day")).agg(count(lit(1)).as("n_orders"))
      val bounds = daily.agg(min($"day").as("d0"), max($"day").as("d1"))
      val spine = bounds
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      spine.join(daily, Seq("day"), "left")
        .select($"day", coalesce($"n_orders", lit(0L)).as("n_orders"))
        .orderBy("day")
    }, Some("""
      WITH daily AS (SELECT o_orderdate AS day, count(*) AS n_orders
        FROM orders WHERE o_orderdate >= DATE '1998-01-01' GROUP BY 1),
      bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
      spine AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM bounds)
      SELECT spine.day AS day, coalesce(n_orders, 0) AS n_orders
      FROM spine LEFT JOIN daily ON spine.day = daily.day
      ORDER BY spine.day""")),

    // ----- as-of join, native operator (custom LogicalPlan/Strategy) -----
    ("q56_asof_native", (s: SparkSession, dir: String) => {
      import s.implicits._
      // same semantics as q45 but through the custom merge operator
      // (plans.AsOfJoinExec): one forward pass per co-partition instead
      // of range-join row multiplication + windowed top-1
      if (!s.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
        s.experimental.extraStrategies =
          s.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
      val ev = Tables.t(s, dir, "events")
        .filter($"event_id" >= 2000 && $"event_id" < 4000)
        .select($"event_id", $"user_id", date_trunc("second", $"ts").as("tsec"))
      val orders = Tables.t(s, dir, "orders")
        .select($"o_custkey", $"o_orderkey", $"o_orderdate".cast("timestamp").as("o_ts"))
      graft.plans.AsOfJoinOps.asofBackward(ev, orders,
          key = ("user_id", "o_custkey"), time = ("tsec", "o_ts"),
          rightTieBreak = Seq("o_orderkey"))
        .select($"event_id", $"user_id", $"o_orderkey".as("latest_orderkey"),
          $"o_ts".as("latest_orderdate"))
        .orderBy("event_id")
    }, Some("""
      WITH ev AS (SELECT event_id, user_id, date_trunc('second', ts) AS tsec
        FROM events WHERE event_id >= 2000 AND event_id < 4000),
      m AS (SELECT ev.event_id, ev.user_id, o.o_orderkey, o.o_orderdate,
        row_number() OVER (PARTITION BY ev.event_id
          ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS r
        FROM ev LEFT JOIN orders o
          ON ev.user_id = o.o_custkey AND o.o_orderdate <= ev.tsec)
      SELECT event_id, user_id, o_orderkey AS latest_orderkey,
             o_orderdate AS latest_orderdate
      FROM m WHERE r = 1 ORDER BY event_id""")),

    // ----- incremental sync: src/dst diff by PK + row hash ---------------
    ("q57_incremental_diff", (s: SparkSession, dir: String) => {
      import s.implicits._
      // the incremental form of the reference's full re-migration: rows
      // to INSERT (pk missing at target), UPDATE (pk present, row hash
      // differs), DELETE (target orphans). Target is simulated
      // deterministically: drop every 97th order, stale every 89th price.
      val rowHash = md5(concat_ws("|",
        $"o_orderkey", $"o_custkey", $"o_orderstatus",
        format_number($"o_totalprice", 2), $"o_orderpriority").cast("binary"))
      val src = Tables.t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
          $"o_totalprice", $"o_orderpriority")
      val dst = src.filter($"o_orderkey" % 97 =!= 0)
        .withColumn("o_totalprice",
          when($"o_orderkey" % 89 === 0, $"o_totalprice" + 1.0).otherwise($"o_totalprice"))
        // target-only orphans (deleted upstream): negated every-101st pk
        .unionByName(src.filter($"o_orderkey" % 101 === 0)
          .withColumn("o_orderkey", -$"o_orderkey"))
      val sh = src.select($"o_orderkey".as("pk"), rowHash.as("h"))
      val dh = dst.select($"o_orderkey".as("pk"), rowHash.as("h2"))
      // one full-outer join classifies all three change kinds in a single
      // pass — the anti/semi/inner triple would scan each side three times
      sh.join(dh, Seq("pk"), "full_outer")
        .select($"pk",
          when($"h2".isNull, "insert")
            .when($"h".isNull, "delete")
            .when($"h" =!= $"h2", "update").as("change_type"))
        .filter($"change_type".isNotNull)
        .groupBy($"change_type")
        .agg(count(lit(1)).as("n_rows"), min($"pk").as("min_pk"), max($"pk").as("max_pk"))
        .orderBy("change_type")
    }, Some("""
      WITH src AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders),
      dst AS (SELECT o_orderkey, o_custkey, o_orderstatus,
          CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
          o_orderpriority
        FROM src WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT -o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM src WHERE o_orderkey % 101 = 0),
      sh AS (SELECT o_orderkey AS pk, md5(o_orderkey || '|' || o_custkey || '|' || o_orderstatus
          || '|' || format('{:.2f}', o_totalprice) || '|' || o_orderpriority) AS h FROM src),
      dh AS (SELECT o_orderkey AS pk, md5(o_orderkey || '|' || o_custkey || '|' || o_orderstatus
          || '|' || format('{:.2f}', o_totalprice) || '|' || o_orderpriority) AS h FROM dst),
      changes AS (
        SELECT 'insert' AS change_type, pk FROM sh WHERE pk NOT IN (SELECT pk FROM dh)
        UNION ALL
        SELECT 'update', sh.pk FROM sh JOIN dh USING (pk) WHERE sh.h <> dh.h
        UNION ALL
        SELECT 'delete', pk FROM dh WHERE pk NOT IN (SELECT pk FROM sh))
      SELECT change_type, count(*) AS n_rows, min(pk) AS min_pk, max(pk) AS max_pk
      FROM changes GROUP BY change_type ORDER BY change_type""")),

    // ----- skew: salted two-phase aggregation == plain group-by ----------
    ("q58_salted_agg", (s: SparkSession, dir: String) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      // decimal accumulation keeps the salted partial sums exact, so the
      // salt-bucketed result is bit-identical to the direct aggregate
      graft.catalog.Skew.saltedSumCount(
          Tables.t(s, dir, "lineitem"),
          $"l_suppkey", $"l_quantity".cast(DecimalType(18, 2)), buckets = 8)
        .select($"k".as("suppkey"),
          $"sum_value".cast(DecimalType(38, 2)).cast("double").as("sum_qty"),
          $"n_rows")
        .orderBy("suppkey")
    }, Some("""
      SELECT l_suppkey AS suppkey,
        CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
        count(*) AS n_rows
      FROM lineitem GROUP BY l_suppkey ORDER BY suppkey""")),

    // ----- skew: salted join == plain equi-join --------------------------
    ("q59_salted_join", (s: SparkSession, dir: String) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val big = Tables.t(s, dir, "lineitem")
        .select($"l_suppkey".as("suppkey"), $"l_quantity")
      val small = Tables.t(s, dir, "supplier")
        .select($"s_suppkey".as("suppkey"), $"s_name")
      graft.catalog.Skew.saltedJoin(big, small, "suppkey", buckets = 8)
        .groupBy($"s_name")
        .agg(count(lit(1)).as("n_items"),
          sum($"l_quantity".cast(DecimalType(18, 2)))
            .cast(DecimalType(38, 2)).cast("double").as("sum_qty"))
        .orderBy("s_name")
    }, Some("""
      SELECT s_name, count(*) AS n_items,
        CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_name ORDER BY s_name""")),

    // ----- scalar surface: the wider string-function family --------------
    ("q60_string_funcs", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.t(s, dir, "customer")
        .filter($"c_custkey" <= 200)
        .select(
          $"c_custkey",
          expr("translate(c_name, '#_', '-~')").as("translated"),
          lpad($"c_mktsegment", 12, ".").as("seg_lpad"),
          rpad($"c_mktsegment", 12, ".").as("seg_rpad"),
          reverse($"c_name").as("name_rev"),
          expr("split_part(c_name, '_', 2)").as("seg_part"),
          expr("instr(c_name, '_')").cast("long").as("pos_dash"),
          expr("left(c_name, 3)").as("left3"),
          expr("right(c_name, 3)").as("right3"))
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey,
        translate(c_name, '#_', '-~') AS translated,
        lpad(c_mktsegment, 12, '.') AS seg_lpad,
        rpad(c_mktsegment, 12, '.') AS seg_rpad,
        reverse(c_name) AS name_rev,
        split_part(c_name, '_', 2) AS seg_part,
        CAST(instr(c_name, '_') AS BIGINT) AS pos_dash,
        left(c_name, 3) AS left3,
        right(c_name, 3) AS right3
      FROM customer WHERE c_custkey <= 200 ORDER BY c_custkey""")),

    // ----- scalar surface: bitwise operators ------------------------------
    ("q61_bitwise", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.t(s, dir, "orders")
        .filter($"o_orderkey" <= 500)
        .select(
          $"o_orderkey",
          ($"o_orderkey".bitwiseAND(255L)).as("and255"),
          ($"o_orderkey".bitwiseOR(16L)).as("or16"),
          ($"o_orderkey".bitwiseXOR(255L)).as("xor255"),
          shiftleft($"o_orderkey", 2).as("shl2"),
          shiftright($"o_orderkey", 1).as("shr1"),
          bitwise_not($"o_orderkey").as("inv"),
          bit_count($"o_orderkey").cast("long").as("popcnt"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
        o_orderkey & 255 AS and255,
        o_orderkey | 16 AS or16,
        xor(o_orderkey, 255) AS xor255,
        o_orderkey << 2 AS shl2,
        o_orderkey >> 1 AS shr1,
        ~o_orderkey AS inv,
        CAST(bit_count(o_orderkey) AS BIGINT) AS popcnt
      FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""")),

    // ----- scalar surface: date/time function family ----------------------
    ("q62_datetime_funcs", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.t(s, dir, "orders")
        .filter($"o_orderkey" <= 500)
        .select(
          $"o_orderkey",
          date_add($"o_orderdate".cast("date"), 30).as("plus30"),
          last_day($"o_orderdate".cast("date")).as("month_end"),
          year($"o_orderdate").cast("long").as("yr"),
          month($"o_orderdate").cast("long").as("mo"),
          dayofmonth($"o_orderdate").cast("long").as("dom"),
          quarter($"o_orderdate").cast("long").as("qtr"),
          dayofweek($"o_orderdate").cast("long").as("dow_sun1"),
          weekofyear($"o_orderdate").cast("long").as("iso_week"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
        (o_orderdate::DATE + INTERVAL 30 DAY)::DATE AS plus30,
        last_day(o_orderdate::DATE) AS month_end,
        CAST(year(o_orderdate) AS BIGINT) AS yr,
        CAST(month(o_orderdate) AS BIGINT) AS mo,
        CAST(day(o_orderdate) AS BIGINT) AS dom,
        CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow_sun1,
        CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week
      FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""")),

    // ----- scalar surface: null-handling family ---------------------------
    ("q63_null_funcs", (s: SparkSession, dir: String) => {
      import s.implicits._
      // lag introduces genuine nulls to exercise the family on
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderkey")
      Tables.t(s, dir, "orders")
        .filter($"o_custkey" < 100)
        .withColumn("prev_key", lag($"o_orderkey", 1).over(w))
        .select(
          $"o_custkey", $"o_orderkey",
          coalesce($"prev_key", lit(-1L)).as("prev_or_neg1"),
          $"prev_key".isNull.as("is_first"),
          when($"prev_key".isNotNull, $"o_orderkey" - $"prev_key").as("gap"),
          expr("nvl2(prev_key, 'has_prev', 'first')").as("nvl2_tag"),
          nullif($"o_orderkey" % 10, lit(0)).as("nullif_mod"),
          greatest($"o_orderkey" % 7, $"o_orderkey" % 11).as("gr"),
          least($"o_orderkey" % 7, $"o_orderkey" % 11).as("ls"))
        .orderBy("o_custkey", "o_orderkey")
    }, Some("""
      WITH w AS (SELECT o_custkey, o_orderkey,
        lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_key
        FROM orders WHERE o_custkey < 100)
      SELECT o_custkey, o_orderkey,
        coalesce(prev_key, -1) AS prev_or_neg1,
        prev_key IS NULL AS is_first,
        CASE WHEN prev_key IS NOT NULL THEN o_orderkey - prev_key END AS gap,
        CASE WHEN prev_key IS NOT NULL THEN 'has_prev' ELSE 'first' END AS nvl2_tag,
        nullif(o_orderkey % 10, 0) AS nullif_mod,
        greatest(o_orderkey % 7, o_orderkey % 11) AS gr,
        least(o_orderkey % 7, o_orderkey % 11) AS ls
      FROM w ORDER BY o_custkey, o_orderkey""")),

    // ----- scalar surface: IEEE-exact math family -------------------------
    ("q64_math_funcs", (s: SparkSession, dir: String) => {
      import s.implicits._
      // only IEEE-exact operations (abs/sign/sqrt/floor/ceil/mod/div):
      // transcendentals (exp/ln/pow) are libm-dependent in the last ulp
      // and intentionally excluded from the oracle surface
      val v = $"o_totalprice" - 150000.0
      Tables.t(s, dir, "orders")
        .filter($"o_orderkey" <= 500)
        .select(
          $"o_orderkey",
          abs(v).as("abs_v"),
          signum(v).as("sign_v"),
          sqrt(abs(v)).as("sqrt_v"),
          floor(v).as("floor_v"),
          ceil(v).as("ceil_v"),
          ($"o_orderkey" % 97).as("mod97"),
          ($"o_orderkey" / lit(8)).cast("long").as("div8"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
        abs(o_totalprice - 150000.0) AS abs_v,
        CAST(sign(o_totalprice - 150000.0) AS DOUBLE) AS sign_v,
        sqrt(abs(o_totalprice - 150000.0)) AS sqrt_v,
        CAST(floor(o_totalprice - 150000.0) AS BIGINT) AS floor_v,
        CAST(ceil(o_totalprice - 150000.0) AS BIGINT) AS ceil_v,
        o_orderkey % 97 AS mod97,
        o_orderkey // 8 AS div8
      FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""")),

    // ----- statistical aggregates from exact sums -------------------------
    ("q65_variance_exact", (s: SparkSession, dir: String) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      // built-in stddev/var accumulate doubles in partition order —
      // nondeterministic under re-partitioning. The scale-stable form:
      // exact decimal sums of x and x², then one fixed double formula.
      val x = $"l_quantity".cast(DecimalType(12, 2))
      Tables.t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(x).cast(DecimalType(38, 2)).cast("double").as("sum_x"),
          sum(x * x).cast(DecimalType(38, 4)).cast("double").as("sum_x2"))
        .select($"l_returnflag", $"n",
          (($"sum_x2" - $"sum_x" * $"sum_x" / $"n") / ($"n" - 1)).as("var_samp"),
          sqrt(($"sum_x2" - $"sum_x" * $"sum_x" / $"n") / ($"n" - 1)).as("stddev_samp"),
          ($"sum_x" / $"n").as("mean"))
        .orderBy("l_returnflag")
    }, Some("""
      WITH a AS (SELECT l_returnflag, count(*) AS n,
        CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_x,
        CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_x2
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, n,
        (sum_x2 - sum_x * sum_x / n) / (n - 1) AS var_samp,
        sqrt((sum_x2 - sum_x * sum_x / n) / (n - 1)) AS stddev_samp,
        sum_x / n AS mean
      FROM a ORDER BY l_returnflag""")),

    // ----- data profiling: fixed-width histogram --------------------------
    ("q66_histogram", (s: SparkSession, dir: String) => {
      import s.implicits._
      // 20 fixed bins over [0, 600000): bin = floor(x / 30000), clamped —
      // the migration-QA profile of a column's distribution
      val bin = least(floor($"o_totalprice" / 30000.0).cast("long"), lit(19L))
      Tables.t(s, dir, "orders")
        .groupBy(bin.as("bin"))
        .agg(count(lit(1)).as("n_orders"))
        .withColumn("bin_lo", $"bin" * 30000L)
        .orderBy("bin")
    }, Some("""
      SELECT least(CAST(floor(o_totalprice / 30000.0) AS BIGINT), 19) AS bin,
        count(*) AS n_orders,
        least(CAST(floor(o_totalprice / 30000.0) AS BIGINT), 19) * 30000 AS bin_lo
      FROM orders
      GROUP BY 1 ORDER BY bin""")),

    // ----- scalar surface: regex extraction with groups -------------------
    ("q68_regex_extract", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.t(s, dir, "customer")
        .filter($"c_custkey" <= 300)
        .select(
          $"c_custkey",
          regexp_extract($"c_name", "([a-zA-Z]+)_?([0-9]*)", 1).as("name_word"),
          regexp_extract($"c_name", "([0-9]+)", 1).as("first_num"),
          ($"c_name" rlike "[0-9]").as("has_digit"),
          regexp_replace($"c_name", "[0-9]+", "#").as("nums_masked"))
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey,
        regexp_extract(c_name, '([a-zA-Z]+)_?([0-9]*)', 1) AS name_word,
        regexp_extract(c_name, '([0-9]+)', 1) AS first_num,
        regexp_matches(c_name, '[0-9]') AS has_digit,
        regexp_replace(c_name, '[0-9]+', '#', 'g') AS nums_masked
      FROM customer WHERE c_custkey <= 300 ORDER BY c_custkey""")),

    // ----- join family completeness: FULL OUTER + CROSS ------------------
    ("q70_full_outer_join", (s: SparkSession, dir: String) => {
      import s.implicits._
      // two deterministic halves with partial overlap → all three
      // full-outer row classes (left-only / both / right-only)
      val a = Tables.t(s, dir, "customer").filter($"c_custkey" % 3 === 0)
        .select($"c_custkey".as("k"), $"c_mktsegment".as("seg_a"))
      val b = Tables.t(s, dir, "customer").filter($"c_custkey" % 2 === 0)
        .select($"c_custkey".as("k"), $"c_acctbal".as("bal_b"))
      a.join(b, Seq("k"), "full_outer")
        .select($"k", $"seg_a",
          when($"bal_b".isNotNull, lit(1L)).otherwise(lit(0L)).as("has_b"),
          when($"seg_a".isNotNull && $"bal_b".isNotNull, "both")
            .when($"seg_a".isNotNull, "left_only").otherwise("right_only").as("side"))
        .orderBy("k")
    }, Some("""
      WITH a AS (SELECT c_custkey AS k, c_mktsegment AS seg_a FROM customer WHERE c_custkey % 3 = 0),
      b AS (SELECT c_custkey AS k, c_acctbal AS bal_b FROM customer WHERE c_custkey % 2 = 0)
      SELECT coalesce(a.k, b.k) AS k, seg_a,
        CASE WHEN bal_b IS NOT NULL THEN 1 ELSE 0 END AS has_b,
        CASE WHEN seg_a IS NOT NULL AND bal_b IS NOT NULL THEN 'both'
             WHEN seg_a IS NOT NULL THEN 'left_only' ELSE 'right_only' END AS side
      FROM a FULL OUTER JOIN b ON a.k = b.k
      ORDER BY k""")),

    ("q71_cross_join", (s: SparkSession, dir: String) => {
      import s.implicits._
      // explicit cartesian over two provably-small inputs (region 5×5):
      // the one place a cross join is the right plan
      val r1 = Tables.t(s, dir, "region").select($"r_regionkey".as("rk1"), $"r_name".as("n1"))
      val r2 = Tables.t(s, dir, "region").select($"r_regionkey".as("rk2"), $"r_name".as("n2"))
      r1.crossJoin(r2)
        .filter($"rk1" =!= $"rk2")
        .select($"n1", $"n2", concat($"n1", lit("->"), $"n2").as("route"))
        .orderBy("n1", "n2")
    }, Some("""
      SELECT a.r_name AS n1, b.r_name AS n2, a.r_name || '->' || b.r_name AS route
      FROM region a CROSS JOIN region b
      WHERE a.r_regionkey <> b.r_regionkey
      ORDER BY n1, n2""")),

    // ----- window analytics: distribution functions ----------------------
    ("q72_window_distribution", (s: SparkSession, dir: String) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // percent_rank = (rank-1)/(n-1), cume_dist = rows≤x / n: exact
      // rational values both engines compute with one identical division
      val w = Window.partitionBy($"o_orderpriority").orderBy($"o_orderkey")
      Tables.t(s, dir, "orders")
        .filter($"o_custkey" < 50)
        .select($"o_orderpriority", $"o_orderkey",
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"),
          ntile(3).over(w).cast("long").as("tercile"))
        .orderBy("o_orderpriority", "o_orderkey")
    }, Some("""
      SELECT o_orderpriority, o_orderkey,
        percent_rank() OVER w AS pct_rank,
        cume_dist() OVER w AS cume,
        CAST(ntile(3) OVER w AS BIGINT) AS tercile
      FROM orders WHERE o_custkey < 50
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)
      ORDER BY o_orderpriority, o_orderkey""")),

    // ----- epoch / timestamp conversion family ----------------------------
    ("q73_epoch_funcs", (s: SparkSession, dir: String) => {
      import s.implicits._
      val tsec = date_trunc("second", $"ts")
      Tables.t(s, dir, "events")
        .filter($"event_id" < 500)
        .select(
          $"event_id",
          unix_timestamp(tsec).as("epoch_s"),
          to_timestamp(unix_timestamp(tsec)).as("roundtrip_ts"),
          date_trunc("minute", $"ts").as("ts_minute"),
          date_trunc("day", $"ts").as("ts_day"),
          to_date($"ts").as("d"))
        .orderBy("event_id")
    }, Some("""
      SELECT event_id,
        CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s,
        to_timestamp(epoch(date_trunc('second', ts)))::TIMESTAMP AS roundtrip_ts,
        date_trunc('minute', ts) AS ts_minute,
        date_trunc('day', ts) AS ts_day,
        CAST(ts AS DATE) AS d
      FROM events WHERE event_id < 500 ORDER BY event_id""")),

    // The collection/array + map function
    // families, unpivot/melt, lateral joins, LOCF gap-fill, gaps-and-
    // islands, exact-sum correlation/regression and higher moments,
    // bit/bool aggregates, deterministic mode, hopping windows, the
    // bucketed interval join (the non-equi-join scale rewrite), TF-IDF
    // scoring, and a JSON construct/parse round trip.
    //
    // Determinism rules follow SURVEY §8 / the round-2 notes: exact
    // arithmetic (decimal or integer-valued doubles) inside aggregates,
    // DOUBLE at the output boundary, array outputs rendered as sorted
    // joined strings, a total ORDER BY everywhere, identical aliases and
    // formula shapes on both engines.

    // ----- collection surface: the array function family ------------------
    ("q74_array_funcs", (s: SparkSession, dir: String) => {
      import s.implicits._
      // arrays derived from scalars so both engines build identical inputs
      val a = sequence(lit(1L), lit(1L) + ($"o_orderkey" % 5))
      val b = sequence(($"o_orderkey" % 3) + 1, ($"o_orderkey" % 3) + 4)
      Tables.t(s, dir, "orders").filter($"o_orderkey" <= 1000)
        .select($"o_orderkey", a.as("a"), b.as("b"))
        .select($"o_orderkey",
          concat_ws(",", sort_array(array_union($"a", $"b"))).as("union_s"),
          concat_ws(",", sort_array(array_intersect($"a", $"b"))).as("intersect_s"),
          concat_ws(",", sort_array(array_except($"a", $"b"))).as("except_s"),
          size($"a").cast("long").as("n_a"),
          array_contains($"b", 3L).cast("long").as("has3"),
          element_at($"a", 1).as("first_a"),
          concat_ws(",", slice($"b", 2, 2)).as("slice_b"),
          concat_ws(",", flatten(array($"a", $"b"))).as("flat_s"),
          array_position($"b", 4L).cast("long").as("pos4"))
        .orderBy("o_orderkey")
    }, Some("""
      WITH base AS (SELECT o_orderkey,
          range(1, o_orderkey % 5 + 2) AS a,
          range(o_orderkey % 3 + 1, o_orderkey % 3 + 5) AS b
        FROM orders WHERE o_orderkey <= 1000)
      SELECT o_orderkey,
        array_to_string(list_sort(list_distinct(list_concat(a, b))), ',') AS union_s,
        coalesce(array_to_string(list_sort(list_distinct(list_intersect(a, b))), ','), '') AS intersect_s,
        coalesce(array_to_string(list_sort(list_distinct(list_filter(a, x -> NOT list_contains(b, x)))), ','), '') AS except_s,
        len(a) AS n_a,
        CAST(list_contains(b, 3) AS BIGINT) AS has3,
        a[1] AS first_a,
        array_to_string(b[2:3], ',') AS slice_b,
        array_to_string(list_concat(a, b), ',') AS flat_s,
        coalesce(list_position(b, 4), 0) AS pos4
      FROM base ORDER BY o_orderkey""")),

    // ----- collection surface: the map function family --------------------
    ("q75_map_funcs", (s: SparkSession, dir: String) => {
      import s.implicits._
      // the oracle computes the same outputs straight from the scalars —
      // the check is that Spark's map ops preserve entry order + values
      val m = map_from_arrays(
        array(lit("p"), lit("s")),
        array($"o_orderpriority", $"o_orderstatus"))
      Tables.t(s, dir, "orders").filter($"o_orderkey" <= 1000)
        .select($"o_orderkey", m.as("m"))
        .select($"o_orderkey",
          concat_ws(",", map_keys($"m")).as("keys_s"),
          concat_ws(",", map_values($"m")).as("vals_s"),
          element_at($"m", "p").as("p_val"),
          size($"m").cast("long").as("n_entries"),
          concat_ws(",", map_values(
            transform_values($"m", (k, v) => concat(k, lit(":"), v)))).as("tagged"),
          concat_ws(",", map_keys(
            map_filter($"m", (k, _) => k === "s"))).as("only_s"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey,
        'p,s' AS keys_s,
        o_orderpriority || ',' || o_orderstatus AS vals_s,
        o_orderpriority AS p_val,
        CAST(2 AS BIGINT) AS n_entries,
        'p:' || o_orderpriority || ',s:' || o_orderstatus AS tagged,
        's' AS only_s
      FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""")),

    // ----- reshaping: unpivot / melt --------------------------------------
    ("q76_unpivot", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.t(s, dir, "orders").filter($"o_orderkey" <= 2000)
        .select($"o_orderkey",
          $"o_totalprice".as("totalprice"),
          ($"o_orderkey" % 7).cast("double").as("keymod"))
        .unpivot(Array($"o_orderkey"), Array($"totalprice", $"keymod"),
          "metric", "value")
        .orderBy("o_orderkey", "metric")
    }, Some("""
      SELECT o_orderkey, 'totalprice' AS metric, o_totalprice AS value
      FROM orders WHERE o_orderkey <= 2000
      UNION ALL
      SELECT o_orderkey, 'keymod', CAST(o_orderkey % 7 AS DOUBLE)
      FROM orders WHERE o_orderkey <= 2000
      ORDER BY o_orderkey, metric""")),

    // ----- lateral join: per-row dependent subquery -----------------------
    ("q77_lateral_topk", (s: SparkSession, dir: String) => {
      // LATERAL with correlated ORDER BY + LIMIT: per-customer top-2
      // orders — Catalyst decorrelates the limit into a ranked join
      Tables.t(s, dir, "customer").createOrReplaceTempView("customer_l")
      Tables.t(s, dir, "orders").createOrReplaceTempView("orders_l")
      s.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer_l c
        JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders_l o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c.c_custkey <= 500
        ORDER BY c.c_custkey, t.o_orderkey""")
    }, Some("""
      SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      FROM customer c
      JOIN LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t ON true
      WHERE c.c_custkey <= 500
      ORDER BY c.c_custkey, t.o_orderkey""")),

    // ----- window: LOCF gap fill (last observation carried forward) -------
    ("q78_locf_gap_fill", (s: SparkSession, dir: String) => {
      import s.implicits._
      // punch deterministic holes, then fill forward with IGNORE NULLS —
      // the standard sensor/feature-table repair operator
      val ev = Tables.t(s, dir, "events")
        .select($"event_id", $"user_id",
          date_trunc("second", $"ts").as("tsec"),
          when($"event_id" % 7 === 0, lit(null)).otherwise($"value").as("v"))
      val w = Window.partitionBy($"user_id").orderBy($"tsec", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.select($"event_id", $"user_id",
          last($"v", ignoreNulls = true).over(w).as("v_filled"))
        .orderBy("event_id")
    }, Some("""
      SELECT event_id, user_id,
        last_value(v IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY tsec, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
      FROM (SELECT event_id, user_id, date_trunc('second', ts) AS tsec,
              CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
            FROM events)
      ORDER BY event_id""")),

    // ----- gaps & islands: activity streak detection ----------------------
    ("q79_islands_streaks", (s: SparkSession, dir: String) => {
      import s.implicits._
      val days = Tables.t(s, dir, "events")
        .select($"user_id", to_date(date_trunc("day", $"ts")).as("day"))
        .distinct()
      val w = Window.partitionBy($"user_id").orderBy($"day")
      val islands = days.withColumn("grp",
        datediff($"day", lit(java.sql.Date.valueOf("1970-01-01")))
          - row_number().over(w))
      islands.groupBy($"user_id", $"grp")
        .agg(count(lit(1)).as("len"), min($"day").as("start"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_streaks"),
          max($"len").as("max_streak_days"),
          date_format(min($"start"), "yyyy-MM-dd").as("first_day"))
        .orderBy("user_id")
    }, Some("""
      WITH days AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events),
      g AS (SELECT user_id, day,
        date_diff('day', DATE '1970-01-01', day)
          - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        FROM days),
      st AS (SELECT user_id, grp, count(*) AS len, min(day) AS start
        FROM g GROUP BY 1, 2)
      SELECT user_id, count(*) AS n_streaks, max(len) AS max_streak_days,
        strftime(min(start), '%Y-%m-%d') AS first_day
      FROM st GROUP BY user_id ORDER BY user_id""")),

    // ----- statistics: correlation + regression from exact sums -----------
    ("q80_corr_regression", (s: SparkSession, dir: String) => {
      import s.implicits._
      // built-in corr/regr_* accumulate doubles in partition order; the
      // scale-stable form: exact decimal sums, then one fixed double
      // formula (identical expression shape on both engines)
      val x = $"l_quantity".cast(DecimalType(12, 2))
      val y = $"l_extendedprice".cast(DecimalType(12, 2))
      Tables.t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          dsumTotalCast(x, 2).as("sx"), dsumTotalCast(y, 2).as("sy"),
          dsumTotalCast(x * y, 4).as("sxy"),
          dsumTotalCast(x * x, 4).as("sx2"), dsumTotalCast(y * y, 4).as("sy2"))
        .select($"l_returnflag", $"n",
          (($"sxy" - $"sx" * $"sy" / $"n")
            / sqrt(($"sx2" - $"sx" * $"sx" / $"n") * ($"sy2" - $"sy" * $"sy" / $"n")))
            .as("corr_xy"),
          (($"sxy" - $"sx" * $"sy" / $"n") / ($"sx2" - $"sx" * $"sx" / $"n"))
            .as("slope"),
          (($"sy" - ($"sxy" - $"sx" * $"sy" / $"n") / ($"sx2" - $"sx" * $"sx" / $"n") * $"sx") / $"n")
            .as("intercept"))
        .orderBy("l_returnflag")
    }, Some("""
      WITH a AS (SELECT l_returnflag, count(*) AS n,
        CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sx,
        CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sy,
        CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,4)) AS DOUBLE) AS sxy,
        CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,4)) AS DOUBLE) AS sx2,
        CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,4)) AS DOUBLE) AS sy2
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, n,
        (sxy - sx * sy / n) / sqrt((sx2 - sx * sx / n) * (sy2 - sy * sy / n)) AS corr_xy,
        (sxy - sx * sy / n) / (sx2 - sx * sx / n) AS slope,
        (sy - (sxy - sx * sy / n) / (sx2 - sx * sx / n) * sx) / n AS intercept
      FROM a ORDER BY l_returnflag""")),

    // ----- statistics: skewness/kurtosis from exact integer moments -------
    ("q81_higher_moments", (s: SparkSession, dir: String) => {
      import s.implicits._
      // quantity scaled to an exact integer (q100 = quantity*100); all
      // four power sums are then exact (per-row q100^4 fits int64, sums
      // in DECIMAL(38,0)); cast to double and use one shared formula.
      // sqrt(m2)*m2 replaces pow(m2, 1.5): pow may differ across libm,
      // sqrt is IEEE-correctly-rounded everywhere.
      val q = ($"l_quantity" * 100).cast("long")
      Tables.t(s, dir, "lineitem")
        .select($"l_returnflag", q.as("q"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum($"q".cast(DecimalType(38, 0))).cast(DecimalType(38, 0)).cast("double").as("s1"),
          sum(($"q" * $"q").cast(DecimalType(38, 0))).cast(DecimalType(38, 0)).cast("double").as("s2"),
          sum(($"q" * $"q" * $"q").cast(DecimalType(38, 0))).cast(DecimalType(38, 0)).cast("double").as("s3"),
          sum(($"q" * $"q" * $"q" * $"q").cast(DecimalType(38, 0))).cast(DecimalType(38, 0)).cast("double").as("s4"))
        .select($"l_returnflag", $"n",
          ($"s1" / $"n" / 100.0).as("mean_qty"),
          (($"s2" / $"n" - ($"s1" / $"n") * ($"s1" / $"n")) / 10000.0).as("m2"),
          ((($"s3" / $"n" - lit(3.0) * ($"s1" / $"n") * ($"s2" / $"n")
              + lit(2.0) * ($"s1" / $"n") * ($"s1" / $"n") * ($"s1" / $"n")) / 1000000.0)
            / ((($"s2" / $"n" - ($"s1" / $"n") * ($"s1" / $"n")) / 10000.0)
              * sqrt(($"s2" / $"n" - ($"s1" / $"n") * ($"s1" / $"n")) / 10000.0)))
            .as("skewness"),
          ((($"s4" / $"n" - lit(4.0) * ($"s1" / $"n") * ($"s3" / $"n")
              + lit(6.0) * ($"s1" / $"n") * ($"s1" / $"n") * ($"s2" / $"n")
              - lit(3.0) * ($"s1" / $"n") * ($"s1" / $"n") * ($"s1" / $"n") * ($"s1" / $"n")) / 100000000.0)
            / ((($"s2" / $"n" - ($"s1" / $"n") * ($"s1" / $"n")) / 10000.0)
              * (($"s2" / $"n" - ($"s1" / $"n") * ($"s1" / $"n")) / 10000.0)) - lit(3.0))
            .as("excess_kurtosis"))
        .orderBy("l_returnflag")
    }, Some("""
      WITH b AS (SELECT l_returnflag, CAST(l_quantity * 100 AS BIGINT) AS q FROM lineitem),
      a AS (SELECT l_returnflag, count(*) AS n,
        CAST(CAST(sum(CAST(q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE) AS s1,
        CAST(CAST(sum(CAST(q * q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE) AS s2,
        CAST(CAST(sum(CAST(q * q * q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE) AS s3,
        CAST(CAST(sum(CAST(q * q * q * q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE) AS s4
        FROM b GROUP BY l_returnflag)
      SELECT l_returnflag, n,
        s1 / n / 100.0 AS mean_qty,
        (s2 / n - (s1 / n) * (s1 / n)) / 10000.0 AS m2,
        ((s3 / n - 3.0 * (s1 / n) * (s2 / n) + 2.0 * (s1 / n) * (s1 / n) * (s1 / n)) / 1000000.0)
          / (((s2 / n - (s1 / n) * (s1 / n)) / 10000.0)
            * sqrt((s2 / n - (s1 / n) * (s1 / n)) / 10000.0)) AS skewness,
        ((s4 / n - 4.0 * (s1 / n) * (s3 / n) + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
            - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)) / 100000000.0)
          / (((s2 / n - (s1 / n) * (s1 / n)) / 10000.0)
            * ((s2 / n - (s1 / n) * (s1 / n)) / 10000.0)) - 3.0 AS excess_kurtosis
      FROM a ORDER BY l_returnflag""")),

    // ----- aggregates: bitwise and boolean families -----------------------
    ("q82_bit_bool_aggs", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.t(s, dir, "orders")
        .select($"o_orderpriority",
          ($"o_orderkey" % 256).as("kb"),
          ($"o_totalprice" > 1000.0).as("big"),
          ($"o_orderstatus" === "P").as("pending"))
        .groupBy($"o_orderpriority")
        .agg(expr("bit_and(kb)").as("band"),
          expr("bit_or(kb)").as("bor"),
          expr("bit_xor(kb)").as("bxor"),
          expr("bool_and(big)").cast("long").as("all_big"),
          expr("bool_or(pending)").cast("long").as("any_pending"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }, Some("""
      SELECT o_orderpriority,
        bit_and(o_orderkey % 256) AS band,
        bit_or(o_orderkey % 256) AS bor,
        bit_xor(o_orderkey % 256) AS bxor,
        CAST(bool_and(o_totalprice > 1000.0) AS BIGINT) AS all_big,
        CAST(bool_or(o_orderstatus = 'P') AS BIGINT) AS any_pending,
        count(*) AS n
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ----- aggregates: deterministic mode (most frequent value) -----------
    ("q83_mode", (s: SparkSession, dir: String) => {
      import s.implicits._
      // built-in mode() picks an arbitrary value on ties; the ranked form
      // pins the tie-break (highest count, then smallest value)
      val counts = Tables.t(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_quantity")
        .agg(count(lit(1)).as("n_occ"))
      val w = Window.partitionBy($"l_returnflag")
        .orderBy($"n_occ".desc, $"l_quantity".asc)
      counts.withColumn("r", row_number().over(w)).filter($"r" === 1)
        .select($"l_returnflag", $"l_quantity".as("mode_qty"), $"n_occ")
        .orderBy("l_returnflag")
    }, Some("""
      WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS n_occ
        FROM lineitem GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        ORDER BY n_occ DESC, l_quantity ASC) AS r FROM c)
      SELECT l_returnflag, l_quantity AS mode_qty, n_occ
      FROM r WHERE r = 1 ORDER BY l_returnflag""")),

    // ----- time: hopping (sliding) windows, batch form --------------------
    ("q84_hop_windows", (s: SparkSession, dir: String) => {
      import s.implicits._
      // 30-minute windows every 15 minutes: each event lands in exactly
      // two windows; the oracle materializes both hop starts explicitly
      Tables.t(s, dir, "events")
        .groupBy(window(date_trunc("second", $"ts"), "30 minutes", "15 minutes"),
          $"event_type")
        .agg(count(lit(1)).as("n_events"))
        .select($"window.start".as("win_start"), $"event_type", $"n_events")
        .orderBy("win_start", "event_type")
    }, Some("""
      WITH e AS (SELECT date_trunc('second', ts) AS tsec, event_type FROM events),
      x AS (SELECT event_type, time_bucket(INTERVAL '15 minutes', tsec) AS b FROM e),
      w AS (SELECT event_type, b AS win_start FROM x
            UNION ALL
            SELECT event_type, b - INTERVAL '15 minutes' FROM x)
      SELECT win_start, event_type, count(*) AS n_events
      FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""")),

    // ----- join: point-in-interval via bucketed equi-join rewrite ---------
    ("q85_interval_join", (s: SparkSession, dir: String) => {
      import s.implicits._
      // overlapping price bands (width 30k every 20k): a pure range
      // predicate that Spark would plan as a nested-loop join; the
      // IntervalJoin rewrite buckets it into an equi-join (see
      // ext.IntervalJoin + IntervalJoinSpec for the plan assertion)
      val bands = s.range(0, 30).select(
        $"id".as("band_id"),
        ($"id" * 20000.0 - 5000.0).as("lo"),
        ($"id" * 20000.0 + 25000.0).as("hi"))
      val pts = Tables.t(s, dir, "orders")
        .select($"o_orderkey", $"o_totalprice")
      IntervalJoin.pointInterval(pts, "o_totalprice", bands, "lo", "hi",
          bucketWidth = 20000.0)
        .groupBy($"band_id")
        .agg(count(lit(1)).as("n_orders"),
          dsumTotalCast($"o_totalprice".cast(DecimalType(12, 2)), 2).as("sum_price"))
        .orderBy("band_id")
    }, Some("""
      WITH bands AS (SELECT i AS band_id,
          i * 20000.0 - 5000.0 AS lo, i * 20000.0 + 25000.0 AS hi
        FROM unnest(range(0, 30)) AS t(i))
      SELECT band_id, count(*) AS n_orders,
        CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price
      FROM orders JOIN bands ON lo <= o_totalprice AND o_totalprice < hi
      GROUP BY band_id ORDER BY band_id""")),

    // ----- semi-structured: JSON construct → parse round trip -------------
    ("q87_json_roundtrip", (s: SparkSession, dir: String) => {
      import s.implicits._
      // to_json(struct) → from_json(schema) → field access: the typed
      // JSON path the ingest side of a pipeline uses; the oracle reads
      // the same fields directly (the round trip must be lossless)
      val built = Tables.t(s, dir, "orders").filter($"o_orderkey" <= 1000)
        .select($"o_orderkey",
          to_json(struct($"o_custkey".as("ck"), $"o_orderstatus".as("st"),
            ($"o_orderkey" % 13).as("m13"))).as("js"))
      built.select($"o_orderkey",
          from_json($"js", org.apache.spark.sql.types.StructType.fromDDL(
            "ck BIGINT, st STRING, m13 BIGINT")).as("parsed"),
          get_json_object($"js", "$.st").as("st_path"))
        .select($"o_orderkey",
          $"parsed.ck".as("ck"), $"parsed.st".as("st"),
          $"parsed.m13".as("m13"), $"st_path")
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey, o_custkey AS ck, o_orderstatus AS st,
        o_orderkey % 13 AS m13, o_orderstatus AS st_path
      FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""")),

    // ----- CDC: slowly-changing-dimension type-2 merge ---------------------
    ("q88_scd2_merge", (s: SparkSession, dir: String) => {
      import s.implicits._
      // the versioned form of q57's incremental diff: instead of
      // overwriting, close out changed rows (valid_to = load date) and
      // append the new version. Dim state is simulated like q57: every
      // 97th key missing (insert), every 89th price stale (update).
      val loadDate = "2024-06-01"
      val src = Tables.t(s, dir, "orders")
        .select($"o_orderkey".as("pk"), $"o_totalprice".as("price"))
      val dim = src.filter($"pk" % 97 =!= 0)
        .withColumn("price",
          when($"pk" % 89 === 0, $"price" + 1.0).otherwise($"price"))
        .withColumn("valid_from", lit("2024-01-01"))
      val joined = dim.join(src.select($"pk", $"price".as("src_price")),
        Seq("pk"), "full_outer")
      val closed = joined.filter($"price".isNotNull && $"src_price".isNotNull
          && $"price" =!= $"src_price")
        .select($"pk", $"price", $"valid_from", lit(loadDate).as("valid_to"),
          lit(0L).as("is_current"))
      val kept = joined.filter($"price".isNotNull && $"src_price".isNotNull
          && $"price" === $"src_price")
        .select($"pk", $"price", $"valid_from", lit(null).cast("string").as("valid_to"),
          lit(1L).as("is_current"))
      val newVersions = joined.filter($"src_price".isNotNull
          && ($"price".isNull || $"price" =!= $"src_price"))
        .select($"pk", $"src_price".as("price"), lit(loadDate).as("valid_from"),
          lit(null).cast("string").as("valid_to"), lit(1L).as("is_current"))
      closed.unionByName(kept).unionByName(newVersions)
        .groupBy($"is_current", $"valid_from")
        .agg(count(lit(1)).as("n_rows"),
          dsumTotalCast($"price".cast(DecimalType(12, 2)), 2).as("sum_price"))
        .orderBy("is_current", "valid_from")
    }, Some("""
      WITH src AS (SELECT o_orderkey AS pk, o_totalprice AS price FROM orders),
      dim AS (SELECT pk,
          CASE WHEN pk % 89 = 0 THEN price + 1.0 ELSE price END AS price,
          '2024-01-01' AS valid_from
        FROM src WHERE pk % 97 <> 0),
      j AS (SELECT coalesce(d.pk, s.pk) AS pk, d.price AS price,
          d.valid_from AS valid_from, s.price AS src_price
        FROM dim d FULL OUTER JOIN src s ON d.pk = s.pk),
      merged AS (
        SELECT pk, price, valid_from, '2024-06-01' AS valid_to, 0 AS is_current
        FROM j WHERE price IS NOT NULL AND src_price IS NOT NULL AND price <> src_price
        UNION ALL
        SELECT pk, price, valid_from, NULL, 1
        FROM j WHERE price IS NOT NULL AND src_price IS NOT NULL AND price = src_price
        UNION ALL
        SELECT pk, src_price, '2024-06-01', NULL, 1
        FROM j WHERE src_price IS NOT NULL AND (price IS NULL OR price <> src_price))
      SELECT is_current, valid_from, count(*) AS n_rows,
        CAST(CAST(sum(CAST(price AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price
      FROM merged GROUP BY 1, 2 ORDER BY is_current, valid_from""")),

    // ----- events: ordered funnel analysis ---------------------------------
    ("q89_funnel", (s: SparkSession, dir: String) => {
      import s.implicits._
      // strict-order funnel view → purchase → click: each stage's
      // timestamp must be the first occurrence AFTER the prior stage
      val ev = Tables.t(s, dir, "events")
        .select($"user_id", $"event_type", date_trunc("second", $"ts").as("tsec"))
      val s1 = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"tsec").as("t_view"))
      val s2 = ev.filter($"event_type" === "purchase")
        .join(s1, Seq("user_id")).filter($"tsec" > $"t_view")
        .groupBy($"user_id").agg(min($"tsec").as("t_purchase"))
      val s3 = ev.filter($"event_type" === "click")
        .join(s2, Seq("user_id")).filter($"tsec" > $"t_purchase")
        .groupBy($"user_id").agg(min($"tsec").as("t_click"))
      val users = ev.select($"user_id").distinct()
      users.join(s1, Seq("user_id"), "left")
        .join(s2.select($"user_id", $"t_purchase"), Seq("user_id"), "left")
        .join(s3.select($"user_id", $"t_click"), Seq("user_id"), "left")
        .select(
          count(lit(1)).as("n_users"),
          count($"t_view").as("n_viewed"),
          count($"t_purchase").as("n_purchased_after_view"),
          count($"t_click").as("n_clicked_after_purchase"))
    }, Some("""
      WITH ev AS (SELECT user_id, event_type, date_trunc('second', ts) AS tsec
        FROM events),
      s1 AS (SELECT user_id, min(tsec) AS t_view FROM ev
        WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (SELECT ev.user_id, min(tsec) AS t_purchase FROM ev
        JOIN s1 ON ev.user_id = s1.user_id
        WHERE event_type = 'purchase' AND tsec > t_view GROUP BY ev.user_id),
      s3 AS (SELECT ev.user_id, min(tsec) AS t_click FROM ev
        JOIN s2 ON ev.user_id = s2.user_id
        WHERE event_type = 'click' AND tsec > t_purchase GROUP BY ev.user_id),
      u AS (SELECT DISTINCT user_id FROM ev)
      SELECT count(*) AS n_users,
        count(t_view) AS n_viewed,
        count(t_purchase) AS n_purchased_after_view,
        count(t_click) AS n_clicked_after_purchase
      FROM u
      LEFT JOIN s1 USING (user_id)
      LEFT JOIN s2 USING (user_id)
      LEFT JOIN s3 USING (user_id)""")),

    // ----- events: cohort retention matrix ---------------------------------
    ("q90_retention_cohorts", (s: SparkSession, dir: String) => {
      import s.implicits._
      val days = Tables.t(s, dir, "events")
        .select($"user_id", to_date(date_trunc("day", $"ts")).as("day"))
        .distinct()
      val cohorts = days.groupBy($"user_id").agg(min($"day").as("cohort_day"))
      days.join(cohorts, Seq("user_id"))
        .select($"user_id", $"cohort_day", datediff($"day", $"cohort_day").as("day_offset"))
        .filter($"day_offset" <= 7)
        .groupBy(date_format($"cohort_day", "yyyy-MM-dd").as("cohort"),
          $"day_offset".cast("long").as("day_offset"))
        .agg(countDistinct($"user_id").as("n_users"))
        .orderBy("cohort", "day_offset")
    }, Some("""
      WITH days AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events),
      c AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id)
      SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
        date_diff('day', cohort_day, day) AS day_offset,
        count(DISTINCT user_id) AS n_users
      FROM days JOIN c USING (user_id)
      WHERE date_diff('day', cohort_day, day) <= 7
      GROUP BY 1, 2 ORDER BY cohort, day_offset""")),

    // ----- window: ratio-to-report (percent of total) ----------------------
    ("q94_percent_of_total", (s: SparkSession, dir: String) => {
      import s.implicits._
      // share of each priority within its status: exact decimal sums at
      // both levels, ONE double division at the end (identical on both
      // engines); the window re-aggregates the grouped result (5 rows
      // per status), not the base table
      val grouped = Tables.t(s, dir, "orders")
        .groupBy($"o_orderstatus", $"o_orderpriority")
        .agg(sum($"o_totalprice".cast(DecimalType(12, 2)))
          .cast(DecimalType(38, 2)).as("spend_dec"))
      val w = Window.partitionBy($"o_orderstatus")
      grouped.select($"o_orderstatus", $"o_orderpriority",
          $"spend_dec".cast("double").as("spend"),
          ($"spend_dec".cast("double")
            / sum($"spend_dec").over(w).cast(DecimalType(38, 2)).cast("double"))
            .as("share_of_status"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }, Some("""
      WITH g AS (SELECT o_orderstatus, o_orderpriority,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS spend_dec
        FROM orders GROUP BY 1, 2)
      SELECT o_orderstatus, o_orderpriority,
        CAST(spend_dec AS DOUBLE) AS spend,
        CAST(spend_dec AS DOUBLE) /
          CAST(CAST(sum(spend_dec) OVER (PARTITION BY o_orderstatus) AS DECIMAL(38,2)) AS DOUBLE)
          AS share_of_status
      FROM g ORDER BY o_orderstatus, o_orderpriority""")),

    // ----- aggregate: exact weighted average -------------------------------
    ("q95_weighted_avg", (s: SparkSession, dir: String) => {
      import s.implicits._
      // discount-weighted price per flag: sum(w*x)/sum(w) from exact
      // decimal products — the deterministic form of avg() with weights
      val wgt = $"l_quantity".cast(DecimalType(12, 2))
      val x = $"l_extendedprice".cast(DecimalType(12, 2))
      Tables.t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          sum(wgt * x).cast(DecimalType(38, 4)).cast("double").as("swx"),
          sum(wgt).cast(DecimalType(38, 2)).cast("double").as("sw"))
        .select($"l_returnflag", ($"swx" / $"sw").as("weighted_avg_price"),
          $"swx".as("sum_wx"), $"sw".as("sum_w"))
        .orderBy("l_returnflag")
    }, Some("""
      WITH a AS (SELECT l_returnflag,
        CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,4)) AS DOUBLE) AS swx,
        CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sw
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, swx / sw AS weighted_avg_price,
        swx AS sum_wx, sw AS sum_w
      FROM a ORDER BY l_returnflag""")),

    // ----- window: rank with ties (vs row_number's arbitrary pick) ---------
    ("q96_rank_with_ties", (s: SparkSession, dir: String) => {
      import s.implicits._
      // top quantities per flag INCLUDING ties: rank() keeps all rows of
      // a tied value, so the cut is value-deterministic where a
      // row_number cut would depend on the tie-break — counts per
      // (flag, quantity) keep the output compact
      val w = Window.partitionBy($"l_returnflag").orderBy($"l_quantity".desc)
      Tables.t(s, dir, "lineitem")
        .select($"l_returnflag", $"l_quantity",
          rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"))
        .filter($"rnk" <= 5)
        .groupBy($"l_returnflag", $"l_quantity", $"rnk", $"drnk")
        .agg(count(lit(1)).as("n_rows"))
        .select($"l_returnflag", $"l_quantity", $"rnk".cast("long").as("rnk"),
          $"drnk".cast("long").as("drnk"), $"n_rows")
        .orderBy("l_returnflag", "rnk")
    }, Some("""
      WITH r AS (SELECT l_returnflag, l_quantity,
        rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS rnk,
        dense_rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS drnk
        FROM lineitem)
      SELECT l_returnflag, l_quantity, rnk, drnk, count(*) AS n_rows
      FROM r WHERE rnk <= 5
      GROUP BY 1, 2, 3, 4 ORDER BY l_returnflag, rnk""")),

    // ----- schema evolution: union across drifted schemas ------------------
    ("q99_union_evolution", (s: SparkSession, dir: String) => {
      import s.implicits._
      // two vintages of the same feed: v2 added a column, v1 lacks it —
      // unionByName(allowMissingColumns) null-fills instead of failing
      // or silently mis-aligning by position (what positional UNION
      // would do). The shape every long-lived ingestion hits.
      val v1 = Tables.t(s, dir, "orders").filter($"o_orderkey" % 2 === 0)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val v2 = Tables.t(s, dir, "orders").filter($"o_orderkey" % 2 === 1)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
          $"o_orderpriority") // the added column
      v1.unionByName(v2, allowMissingColumns = true)
        .filter($"o_orderkey" <= 2000)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
          coalesce($"o_orderpriority", lit("<missing>")).as("o_orderpriority"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice,
        CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority ELSE '<missing>' END
          AS o_orderpriority
      FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""")),

    // ----- events: first/last-touch attribution ----------------------------
    ("q100_attribution", (s: SparkSession, dir: String) => {
      import s.implicits._
      // for each purchasing user: attribute the first purchase to the
      // first and last non-purchase event that preceded it
      val ev = Tables.t(s, dir, "events")
        .select($"user_id", $"event_type", date_trunc("second", $"ts").as("tsec"),
          $"event_id")
      val firstBuy = ev.filter($"event_type" === "purchase")
        .groupBy($"user_id").agg(min($"tsec").as("t_buy"))
      val touches = ev.filter($"event_type" =!= "purchase")
        .join(firstBuy, Seq("user_id")).filter($"tsec" < $"t_buy")
      // deterministic pick: earliest/latest by (tsec, event_id)
      val w = Window.partitionBy($"user_id")
      val wAsc = w.orderBy($"tsec".asc, $"event_id".asc)
      val wDesc = w.orderBy($"tsec".desc, $"event_id".desc)
      touches
        .withColumn("rn_first", row_number().over(wAsc))
        .withColumn("rn_last", row_number().over(wDesc))
        .filter($"rn_first" === 1 || $"rn_last" === 1)
        .groupBy($"user_id", $"t_buy")
        .agg(
          max(when($"rn_first" === 1, $"event_type")).as("first_touch"),
          max(when($"rn_last" === 1, $"event_type")).as("last_touch"))
        .orderBy("user_id")
    }, Some("""
      WITH ev AS (SELECT user_id, event_type, date_trunc('second', ts) AS tsec,
          event_id FROM events),
      fb AS (SELECT user_id, min(tsec) AS t_buy FROM ev
        WHERE event_type = 'purchase' GROUP BY user_id),
      t AS (SELECT ev.*, t_buy FROM ev JOIN fb ON ev.user_id = fb.user_id
        WHERE ev.event_type <> 'purchase' AND tsec < t_buy),
      r AS (SELECT *,
          row_number() OVER (PARTITION BY user_id ORDER BY tsec ASC, event_id ASC) AS rn_first,
          row_number() OVER (PARTITION BY user_id ORDER BY tsec DESC, event_id DESC) AS rn_last
        FROM t)
      SELECT user_id, t_buy,
        max(CASE WHEN rn_first = 1 THEN event_type END) AS first_touch,
        max(CASE WHEN rn_last = 1 THEN event_type END) AS last_touch
      FROM r WHERE rn_first = 1 OR rn_last = 1
      GROUP BY user_id, t_buy ORDER BY user_id""")),

    // ----- join: interval-overlap via bucketed equi-join rewrite -----------
    ("q102_interval_overlap", (s: SparkSession, dir: String) => {
      import s.implicits._
      // per-user daily activity spans × 90-minute maintenance windows
      // every 4 h: which windows touched whose activity. A pure overlap
      // predicate (nested-loop territory) run through the
      // IntervalJoin.intervalOverlap bucket rewrite — each qualifying
      // pair emitted exactly once, no post-join distinct.
      val spans = Tables.t(s, dir, "events")
        .select($"user_id",
          unix_timestamp(date_trunc("second", $"ts")).cast("double").as("sec"),
          to_date(date_trunc("day", $"ts")).as("day"))
        .groupBy($"user_id", $"day")
        .agg(min($"sec").as("l_lo"), (max($"sec") + 1.0).as("l_hi"))
      val windows = s.range(0, 180).select(
        $"id".as("win_id"),
        (lit(1704067200.0) + $"id" * 14400.0).as("r_lo"),
        (lit(1704067200.0) + $"id" * 14400.0 + 5400.0).as("r_hi"))
      IntervalJoin.intervalOverlap(spans, "l_lo", "l_hi",
          windows, "r_lo", "r_hi", bucketWidth = 14400.0)
        .groupBy($"win_id")
        .agg(count(lit(1)).as("n_user_days"),
          countDistinct($"user_id").as("n_users"))
        .orderBy("win_id")
    }, Some("""
      WITH spans AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
          min(CAST(epoch(date_trunc('second', ts)) AS DOUBLE)) AS l_lo,
          max(CAST(epoch(date_trunc('second', ts)) AS DOUBLE)) + 1.0 AS l_hi
        FROM events GROUP BY 1, 2),
      win AS (SELECT i AS win_id,
          1704067200.0 + i * 14400.0 AS r_lo,
          1704067200.0 + i * 14400.0 + 5400.0 AS r_hi
        FROM unnest(range(0, 180)) AS t(i))
      SELECT win_id, count(*) AS n_user_days, count(DISTINCT user_id) AS n_users
      FROM spans JOIN win ON greatest(l_lo, r_lo) < least(l_hi, r_hi)
      GROUP BY win_id ORDER BY win_id""")),

    // ----- typed Dataset surface: case-class filter/map/groupByKey ---------
    ("q103_typed_dataset_ops", (s: SparkSession, dir: String) => {
      import s.implicits._
      // the Dataset[T] API end-to-end: typed filter → map → groupByKey/
      // mapGroups with compile-time row types. Typed lambdas are opaque
      // to Catalyst (no pushdown into them) — right where invariants
      // matter more than the last bit of scan pruning; the oracle
      // computes the same result relationally.
      val ds = Tables.t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
        .as[Order]
      ds.filter(o => o.o_totalprice > 200000.0 && o.o_orderstatus != "P")
        .map(o => o.copy(o_totalprice = math.floor(o.o_totalprice)))
        .groupByKey(_.o_custkey)
        .mapGroups { (k, os) =>
          var n = 0L
          var mx = 0.0
          os.foreach { o => n += 1; mx = math.max(mx, o.o_totalprice) }
          CustSummary(k, n, mx)
        }
        .toDF()
        .filter($"n_big" >= 2)
        .orderBy("o_custkey")
    }, Some("""
      SELECT o_custkey, count(*) AS n_big, max(floor(o_totalprice)) AS max_price
      FROM orders
      WHERE o_totalprice > 200000.0 AND o_orderstatus <> 'P'
      GROUP BY o_custkey HAVING count(*) >= 2
      ORDER BY o_custkey""")),

    // ----- semi-structured: CSV parse round trip ---------------------------
    ("q104_csv_roundtrip", (s: SparkSession, dir: String) => {
      import s.implicits._
      // build a CSV line, parse it back typed with from_csv — the
      // flat-file sibling of q87's JSON round trip (the reference's
      // world is exactly this kind of delimited row shuttling)
      val line = concat_ws(",", $"o_orderkey", $"o_custkey",
        $"o_totalprice".cast(DecimalType(12, 2)), $"o_orderpriority")
      Tables.t(s, dir, "orders").filter($"o_orderkey" <= 1000)
        .select($"o_orderkey", line.as("csv_line"))
        .select($"o_orderkey",
          from_csv($"csv_line",
            org.apache.spark.sql.types.StructType.fromDDL(
              "k BIGINT, ck BIGINT, price DECIMAL(12,2), prio STRING"),
            Map.empty[String, String]).as("p"))
        .select($"o_orderkey", $"p.ck".as("ck"),
          $"p.price".cast("double").as("price"), $"p.prio".as("prio"))
        .orderBy("o_orderkey")
    }, Some("""
      SELECT o_orderkey, o_custkey AS ck,
        CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
        o_orderpriority AS prio
      FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""")),

    // ----- one-pass per-column table profile (migration QA) --------------
    // The profiling companion to compareDb: row/null/distinct counts and
    // min/max per column in one pass. Deliberately NOT the wide
    // multi-count-distinct aggregate — Spark expands that to |cols|
    // copies of every row before the shuffle (Expand operator, m-times
    // the shuffle volume at 100 TB). Instead: stack-unpivot to
    // (col_name, value), aggregate per value (map-side combinable, this
    // dedups BEFORE the second shuffle), then roll up per column.
    // Values travel as strings so one schema fits every column; binary
    // UTF8 min/max ordering agrees between the engines.
    ("q125_table_profile", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.t(s, dir, "orders")
        .select(expr(
          "stack(4, " +
            "'o_orderstatus', cast(o_orderstatus as string), " +
            "'o_orderpriority', cast(o_orderpriority as string), " +
            "'o_custkey', cast(o_custkey as string), " +
            "'o_totalprice', cast(o_totalprice as string)) as (col_name, v)"))
        .groupBy($"col_name", $"v").agg(count(lit(1)).as("c"))
        .groupBy($"col_name")
        .agg(sum($"c").cast("long").as("n_rows"),
          sum(when($"v".isNull, $"c").otherwise(0L)).cast("long").as("n_null"),
          count(when($"v".isNotNull, lit(1))).cast("long").as("n_distinct"),
          min($"v").as("min_v"), max($"v").as("max_v"))
        .orderBy("col_name")
    }, Some("""
      WITH up AS (
        SELECT 'o_orderstatus' AS col_name, CAST(o_orderstatus AS VARCHAR) AS v FROM orders
        UNION ALL SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
        UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        UNION ALL SELECT 'o_totalprice', CAST(o_totalprice AS VARCHAR) FROM orders),
      per_val AS (SELECT col_name, v, count(*) AS c FROM up GROUP BY col_name, v)
      SELECT col_name,
        CAST(sum(c) AS BIGINT) AS n_rows,
        CAST(sum(CASE WHEN v IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_null,
        CAST(count(CASE WHEN v IS NOT NULL THEN 1 END) AS BIGINT) AS n_distinct,
        min(v) AS min_v, max(v) AS max_v
      FROM per_val GROUP BY col_name ORDER BY col_name""")),

    // ----- heavy hitters: top-3 values per profiled column ---------------
    // q125's companion: the most frequent values per column with counts,
    // ties broken by value. The rank<=k filter compiles to
    // WindowGroupLimit, so each map task forwards at most k rows per
    // column ahead of the shuffle — the shuffle is |cols| x k rows no
    // matter how large the table (plan-asserted).
    ("q128_heavy_hitters", (s: SparkSession, dir: String) => {
      import s.implicits._
      val cnt = Tables.t(s, dir, "orders")
        .select(expr(
          "stack(3, " +
            "'o_orderstatus', cast(o_orderstatus as string), " +
            "'o_orderpriority', cast(o_orderpriority as string), " +
            "'o_clerk', cast(o_custkey % 100 as string)) as (col_name, v)"))
        .filter($"v".isNotNull)
        .groupBy($"col_name", $"v").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy($"col_name").orderBy($"c".desc, $"v")
      cnt.withColumn("r", row_number().over(w))
        .filter($"r" <= 3)
        .select($"col_name", $"r".cast("long").as("rnk"), $"v".as("value"), $"c".as("n"))
        .orderBy("col_name", "rnk")
    }, Some("""
      WITH up AS (
        SELECT 'o_orderstatus' AS col_name, CAST(o_orderstatus AS VARCHAR) AS v FROM orders
        UNION ALL SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
        UNION ALL SELECT 'o_clerk', CAST(o_custkey % 100 AS VARCHAR) FROM orders),
      cnt AS (SELECT col_name, v, CAST(count(*) AS BIGINT) AS c FROM up
        WHERE v IS NOT NULL GROUP BY col_name, v),
      rk AS (SELECT col_name, v, c,
          row_number() OVER (PARTITION BY col_name ORDER BY c DESC, v) AS r FROM cnt)
      SELECT col_name, CAST(r AS BIGINT) AS rnk, v AS value, c AS n
      FROM rk WHERE r <= 3 ORDER BY col_name, rnk""")),

    // ----- ORC sink/source round trip ------------------------------------
    // The second columnar format the engine speaks natively: lineitem
    // written to ORC, read back with a pushed predicate (asserted), and
    // aggregated under the q01 decimal-exact sum rule. The values survive
    // the round trip bit-identically (same IEEE doubles in both formats),
    // so the oracle reads the original parquet.
    ("q143_orc_roundtrip", (s: SparkSession, dir: String) => {
      import s.implicits._
      val tmp = graft.TempScratch.dir("q143").toString
      Tables.t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_quantity", $"l_returnflag")
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .filter($"l_quantity" >= 25)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum($"l_quantity".cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast(org.apache.spark.sql.types.DecimalType(38, 2))
            .cast("double").as("sum_qty"),
          min($"l_orderkey").as("min_key"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
        min(l_orderkey) AS min_key
      FROM lineitem WHERE l_quantity >= 25
      GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ----- native session_window sessionization --------------------------
    // q28 builds sessions by hand (lag + islands); this is Spark's native
    // session_window aggregate — merge-on-overlap semantics where an
    // event landing EXACTLY gap seconds after the previous one still
    // merges (closed right edge; verified empirically — two events
    // 1800 s apart form ONE session), so the island rule is > 1800,
    // identical to q28's. sf0.1 exercises this boundary: an earlier
    // >= 1800 oracle split one real 1800 s gap Spark merges. Two hash
    // aggregates, both keyed on user_id — one shuffle, reused.
    ("q144_session_window_native", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.t(s, dir, "events")
        .select($"user_id", date_trunc("second", $"ts").as("tsec"))
        .groupBy($"user_id", session_window($"tsec", "30 minutes"))
        .agg(count(lit(1)).as("sess_events"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_sessions"), sum($"sess_events").as("n_events"),
          max($"sess_events").as("max_sess_events"))
        .orderBy("user_id")
    }, Some("""
      WITH e AS (SELECT user_id, event_id,
        CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS tsec FROM events),
      f AS (SELECT user_id, event_id, tsec,
        CASE WHEN lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec, event_id) IS NULL
               OR tsec - lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec, event_id) > 1800
             THEN 1 ELSE 0 END AS ns FROM e),
      g AS (SELECT user_id,
        sum(ns) OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS sid FROM f),
      per AS (SELECT user_id, sid, count(*) AS sess_events FROM g GROUP BY user_id, sid)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
        CAST(sum(sess_events) AS BIGINT) AS n_events,
        CAST(max(sess_events) AS BIGINT) AS max_sess_events
      FROM per GROUP BY user_id ORDER BY user_id""")),

    // ----- co-occurrence pair mining (market-basket) ---------------------
    // Which items travel together: distinct (order, part) pairs self-join
    // on the order key — multiplicity bounded by items-per-order squared
    // (~7 items -> <=21 pairs per order at any corpus size, so the
    // equi-join output is linear in orders, never quadratic in the
    // table), two-phase count per pair, TakeOrderedAndProject top-32
    // under a total order. The same shape mines token co-occurrence or
    // doc-pair affinity in a training corpus.
    ("q151_cooccurrence_pairs", (s: SparkSession, dir: String) => {
      import s.implicits._
      val items = Tables.t(s, dir, "lineitem")
        .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
      items.toDF("ok", "p1").join(items.toDF("ok", "p2"), Seq("ok"))
        .filter($"p1" < $"p2")
        .groupBy($"p1", $"p2").agg(count(lit(1)).as("n_orders"))
        .orderBy(desc("n_orders"), $"p1", $"p2").limit(32)
    }, Some("""
      WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
      SELECT a.pk AS p1, b.pk AS p2, CAST(count(*) AS BIGINT) AS n_orders
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2 ORDER BY n_orders DESC, p1, p2 LIMIT 32""")),

    // ----- incremental view maintenance (delta merge, no base rescan) ----
    // The materialized-view refresh primitive: a stored per-nation
    // balance aggregate (base, cents) is brought current by aggregating
    // ONLY the changelog (events joined to the broadcast customer dim,
    // micro-units) and full-outer-merging the two one-row-per-group
    // sides. Work is proportional to |delta|, not |base fact|: at 100 TB
    // the base aggregate is a tiny stored table and the day's events are
    // the only scan. Monetary/base amounts stay in exact decimal cents;
    // delta doubles become integer micros via floor (per-row IEEE op,
    // engine-exact) so no double sum ever crosses the shuffle.
    ("q152_incremental_view", (s: SparkSession, dir: String) => {
      import s.implicits._
      val cust = Tables.t(s, dir, "customer")
      val base = cust.groupBy($"c_nationkey".as("grp"))
        .agg(expr("CAST(sum(CAST(c_acctbal AS DECIMAL(12,2)) * 100) AS BIGINT)")
          .as("base_cents"))
      val delta = Tables.t(s, dir, "events")
        .join(broadcast(cust.select($"c_custkey", $"c_nationkey")),
          $"user_id" === $"c_custkey")
        .groupBy($"c_nationkey".as("grp"))
        .agg(expr("sum(CAST(floor(value * 1000000) AS BIGINT))").as("delta_micro"))
      base.join(delta, Seq("grp"), "full_outer")
        .select($"grp",
          coalesce($"base_cents", lit(0L)).as("base_cents"),
          coalesce($"delta_micro", lit(0L)).as("delta_micro"),
          (coalesce($"base_cents", lit(0L)) * 10000 +
            coalesce($"delta_micro", lit(0L))).as("new_micro"))
        .orderBy("grp")
    }, Some("""
      WITH base AS (SELECT c_nationkey AS grp,
          CAST(sum(CAST(c_acctbal AS DECIMAL(12,2)) * 100) AS BIGINT) AS base_cents
        FROM customer GROUP BY 1),
      delta AS (SELECT c.c_nationkey AS grp,
          CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS delta_micro
        FROM events e JOIN customer c ON e.user_id = c.c_custkey GROUP BY 1)
      SELECT COALESCE(b.grp, d.grp) AS grp,
        COALESCE(b.base_cents, 0) AS base_cents,
        COALESCE(d.delta_micro, 0) AS delta_micro,
        COALESCE(b.base_cents, 0) * 10000 + COALESCE(d.delta_micro, 0) AS new_micro
      FROM base b FULL OUTER JOIN delta d ON b.grp = d.grp
      ORDER BY grp""")),

    // ----- JSON-lines roundtrip (schema-on-read + column pruning) --------
    // Completes the source-format matrix (parquet everywhere, CSV q104,
    // ORC q143): documents written as JSON lines — the interchange format
    // most raw training corpora actually arrive in — and read back with
    // an EXPLICIT schema (no inference pass over 100 TB) selecting 3 of
    // the 5 written fields. Column pruning must reach the scan: the JSON
    // parser only materializes the ReadSchema fields (asserted — `text`,
    // the wide column, is never parsed), which is the difference between
    // parsing 5% and 100% of every line at scale.
    ("q154_json_roundtrip", (s: SparkSession, dir: String) => {
      import s.implicits._
      import org.apache.spark.sql.types._
      val tmp = graft.TempScratch.dir("q154").toString
      Tables.t(s, dir, "documents")
        .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
        .write.mode("overwrite").json(tmp)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.schema(schema).json(tmp)
        .filter($"n_chars" >= 120)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"),
          min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
        .orderBy("lang")
    }, Some("""
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM documents WHERE n_chars >= 120
      GROUP BY lang ORDER BY lang""")),

    // ----- frequent triple mining (market-basket, order-bounded) ----------
    // q151's pair mining extended to 3-itemsets. The classic Apriori
    // worry — candidate explosion — is structurally excluded here the
    // same way q151 excludes it for pairs: triples are generated by a
    // per-order 3-way self-equi-join on the order key, so output is
    // Σ C(items_o, 3) ≈ linear in orders (items-per-order is bounded by
    // the basket, not the catalog), never C(|parts|, 3). Support filter
    // + total-ordered top-32 via TakeOrderedAndProject.
    ("q170_frequent_triples", (s: SparkSession, dir: String) => {
      import s.implicits._
      val items = Tables.t(s, dir, "lineitem")
        .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
      items.toDF("ok", "a")
        .join(items.toDF("ok", "b"), Seq("ok")).filter($"a" < $"b")
        .join(items.toDF("ok", "c"), Seq("ok")).filter($"b" < $"c")
        .groupBy($"a", $"b", $"c").agg(count(lit(1)).as("support"))
        .filter($"support" >= 2)
        .orderBy(desc("support"), $"a", $"b", $"c")
        .limit(32)
    }, Some("""
      WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      t AS (SELECT a.pk AS a, b.pk AS b, c.pk AS c
        FROM items a JOIN items b ON b.ok = a.ok AND a.pk < b.pk
                     JOIN items c ON c.ok = a.ok AND b.pk < c.pk),
      f AS (SELECT a, b, c, CAST(count(*) AS BIGINT) AS support
        FROM t GROUP BY 1, 2, 3 HAVING count(*) >= 2)
      SELECT a, b, c, support FROM f
      ORDER BY support DESC, a, b, c LIMIT 32""")),

    // ----- behavioral path mining (event trigrams) ------------------------
    // Sequence mining over the event feed: per (user, day) the ordered
    // event-type sequence yields its length-3 paths via two lead()
    // windows — one shuffle on the session key, no joins, no explode of
    // anything unbounded (paths per user-day = events − 2). The path
    // distribution table is the bounded output (≤ |types|³ rows); at
    // 100 TB the window partitions by the session key exactly as here.
    // Event order inside a user is total (ts is unique per user in this
    // feed; the ts, event_id tie-break makes it total regardless).
    ("q171_path_mining", (s: SparkSession, dir: String) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"day").orderBy($"ts", $"event_id")
      Tables.t(s, dir, "events")
        .select($"user_id", to_date($"ts").as("day"), $"ts", $"event_id", $"event_type")
        .withColumn("e2", lead($"event_type", 1).over(w))
        .withColumn("e3", lead($"event_type", 2).over(w))
        .filter($"e3".isNotNull)
        .select(concat_ws("->", $"event_type", $"e2", $"e3").as("path"))
        .groupBy($"path").agg(count(lit(1)).as("n_paths"))
        .orderBy("path")
    }, Some("""
      WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, event_type,
          lead(event_type, 1) OVER (PARTITION BY user_id, CAST(ts AS DATE)
            ORDER BY ts, event_id) AS e2,
          lead(event_type, 2) OVER (PARTITION BY user_id, CAST(ts AS DATE)
            ORDER BY ts, event_id) AS e3
        FROM events)
      SELECT event_type || '->' || e2 || '->' || e3 AS path,
        CAST(count(*) AS BIGINT) AS n_paths
      FROM e WHERE e3 IS NOT NULL
      GROUP BY 1 ORDER BY path""")),

    // ----- time-decayed popularity (power-of-two decay) -------------------
    // Recency-weighted counts — the freshness prior every sampling/
    // ranking pipeline wants — with the decay kept EXACT: weight =
    // 2^(29 − age_days) for age ≤ 29 (one shiftleft per row, zero
    // beyond), so the "half-life of one day" sum is pure integer
    // arithmetic and engine-identical; no exp()/pow() float touches the
    // gate. The anchor date is an in-DAG broadcast scalar (q86 rule).
    // Weighted sums fit comfortably: N·2^29 at any per-day volume this
    // side of 2^33 events/day.
    ("q172_decayed_popularity", (s: SparkSession, dir: String) => {
      import s.implicits._
      val ev = Tables.t(s, dir, "events")
      val anchor = ev.agg(max(to_date($"ts")).as("mx"))
      ev.crossJoin(broadcast(anchor))
        .select($"event_type", datediff($"mx", to_date($"ts")).as("age"))
        .select($"event_type", $"age",
          when($"age" <= 29, expr("shiftleft(CAST(1 AS BIGINT), 29 - age)"))
            .otherwise(lit(0L)).as("w"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when($"age" <= 7, 1L).otherwise(0L)).as("n_last_week"),
          sum($"w").as("decayed_weight"))
        .orderBy("event_type")
    }, Some("""
      WITH mx AS (SELECT max(CAST(ts AS DATE)) AS mx FROM events),
      a AS (SELECT event_type, datediff('day', CAST(ts AS DATE), mx) AS age
        FROM events, mx),
      w AS (SELECT event_type, age,
          CASE WHEN age <= 29 THEN CAST(1 AS BIGINT) << (29 - age) ELSE 0 END AS w
        FROM a)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        CAST(sum(CASE WHEN age <= 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_last_week,
        CAST(sum(w) AS BIGINT) AS decayed_weight
      FROM w GROUP BY 1 ORDER BY event_type""")),

    // ----- functional-dependency discovery (schema profiling) -----------
    // Metanome-style FD audit: does LHS determine RHS? For each candidate
    // dependency, one two-phase aggregate — group by LHS, count distinct
    // RHS — then a scalar rollup: how many LHS groups exist, how many
    // violate (|RHS|>1), the worst fan-out, and the violation rate in
    // micro units. Each audit scans exactly two columns (pruned at the
    // parquet reader) with map-side partials, so the candidate set can be
    // widened linearly at 100 TB; there are no joins at all. Violation
    // counts are the repair-cost signal a schema-inference or
    // normalization pass acts on.
    ("q176_fd_discovery", (s: SparkSession, dir: String) => {
      import s.implicits._
      def audit(df: DataFrame, fd: String, lhs: String, rhs: String): DataFrame =
        df.groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("rhs_card"))
          .agg(count(lit(1)).as("lhs_groups"),
            sum(when($"rhs_card" > 1, 1L).otherwise(0L)).as("violating_groups"),
            max($"rhs_card").as("max_rhs_card"))
          .select(lit(fd).as("fd"), $"lhs_groups", $"violating_groups",
            $"max_rhs_card",
            expr("(1000000 * violating_groups) div lhs_groups").as("violation_micro"))
      val part = Tables.t(s, dir, "part")
      audit(part, "part: p_brand -> p_type", "p_brand", "p_type")
        .unionByName(audit(part, "part: p_partkey -> p_brand", "p_partkey", "p_brand"))
        .unionByName(audit(Tables.t(s, dir, "customer"),
          "customer: c_nationkey -> c_mktsegment", "c_nationkey", "c_mktsegment"))
        .unionByName(audit(Tables.t(s, dir, "orders"),
          "orders: o_orderstatus -> o_orderpriority", "o_orderstatus", "o_orderpriority"))
        .orderBy($"fd")
    }, Some("""
      WITH
      f1 AS (SELECT 'part: p_brand -> p_type' AS fd, g.* FROM (
        SELECT CAST(count(*) AS BIGINT) AS lhs_groups,
          CAST(sum(CASE WHEN rhs_card > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
          CAST(max(rhs_card) AS BIGINT) AS max_rhs_card,
          (1000000 * CAST(sum(CASE WHEN rhs_card > 1 THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS violation_micro
        FROM (SELECT p_brand, count(DISTINCT p_type) AS rhs_card FROM part GROUP BY 1)) g),
      f2 AS (SELECT 'part: p_partkey -> p_brand' AS fd, g.* FROM (
        SELECT CAST(count(*) AS BIGINT) AS lhs_groups,
          CAST(sum(CASE WHEN rhs_card > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
          CAST(max(rhs_card) AS BIGINT) AS max_rhs_card,
          (1000000 * CAST(sum(CASE WHEN rhs_card > 1 THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS violation_micro
        FROM (SELECT p_partkey, count(DISTINCT p_brand) AS rhs_card FROM part GROUP BY 1)) g),
      f3 AS (SELECT 'customer: c_nationkey -> c_mktsegment' AS fd, g.* FROM (
        SELECT CAST(count(*) AS BIGINT) AS lhs_groups,
          CAST(sum(CASE WHEN rhs_card > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
          CAST(max(rhs_card) AS BIGINT) AS max_rhs_card,
          (1000000 * CAST(sum(CASE WHEN rhs_card > 1 THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS violation_micro
        FROM (SELECT c_nationkey, count(DISTINCT c_mktsegment) AS rhs_card FROM customer GROUP BY 1)) g),
      f4 AS (SELECT 'orders: o_orderstatus -> o_orderpriority' AS fd, g.* FROM (
        SELECT CAST(count(*) AS BIGINT) AS lhs_groups,
          CAST(sum(CASE WHEN rhs_card > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
          CAST(max(rhs_card) AS BIGINT) AS max_rhs_card,
          (1000000 * CAST(sum(CASE WHEN rhs_card > 1 THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS violation_micro
        FROM (SELECT o_orderstatus, count(DISTINCT o_orderpriority) AS rhs_card FROM orders GROUP BY 1)) g)
      SELECT * FROM f1 UNION ALL SELECT * FROM f2
      UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4
      ORDER BY fd""")),

    // The experimentation/planning analytics a telemetry
    // pipeline serves — forecast model selection by backtest, and A/B test
    // analysis with an exact chi-square decision statistic.

    // ----- forecast backtesting (model selection table) -------------------
    // Which forecaster earns the capacity-planning job is an empirical
    // question answered by backtest, not taste: against the daily event
    // series, score naive (yesterday), seasonal-naive (7 days ago) and
    // the 7-day moving average on every day where all three are defined,
    // by MAE. Forecasts are CALENDAR JOINS on the day grid (day−1,
    // day−7, and an offsets-1..7 explode requiring all 7 present), not
    // positional lags — gap-safe, and the grid is |days| rows (bounded;
    // the corpus-sized work is the one daily count aggregate). The
    // moving average floors to an integer forecast, so every error is
    // an exact integer and the MAE table is engine-identical. At scale
    // this is the nightly model-selection job over per-tenant series —
    // the same plan with a tenant key prepended to every join.
    ("q223_forecast_backtest", (s: SparkSession, dir: String) => {
      import s.implicits._
      val raw = Tables.t(s, dir, "events")
      val daily = raw.select((tusOf(raw) / 86400000000L).cast("long").as("day"))
        .groupBy($"day").agg(count(lit(1)).as("y"))
        .localCheckpoint() // self-joined by three forecasters
      val bounds = daily.agg(min($"day").as("d0"))
      val naive = daily.toDF("day", "f").select(($"day" + 1).as("day"),
        $"f".as("f_naive"))
      val snaive = daily.toDF("day", "f").select(($"day" + 7).as("day"),
        $"f".as("f_snaive"))
      val ma7 = daily.toDF("dd", "f")
        .select($"dd", $"f", explode(array((1 to 7).map(lit): _*)).as("off"))
        .select(($"dd" + $"off").as("day"), $"f")
        .groupBy($"day").agg(count(lit(1)).as("k"), sum($"f").as("sf"))
        .filter($"k" === 7)
        .select($"day", expr("sf div 7").as("f_ma7"))
      val joined = daily.join(naive, "day").join(snaive, "day").join(ma7, "day")
        .crossJoin(broadcast(bounds))
        .filter($"day" >= $"d0" + 7)
      joined.select(explode(array(
          struct(lit("ma7").as("forecaster"), abs($"y" - $"f_ma7").as("ae")),
          struct(lit("naive").as("forecaster"), abs($"y" - $"f_naive").as("ae")),
          struct(lit("snaive").as("forecaster"), abs($"y" - $"f_snaive").as("ae"))))
          .as("x"))
        .select($"x.forecaster".as("forecaster"), $"x.ae".as("ae"))
        .groupBy($"forecaster")
        .agg(count(lit(1)).as("n_eval"), sum($"ae").as("sae"))
        .select($"forecaster", $"n_eval", $"sae",
          expr("(1000000 * sae) div n_eval").as("mae_micro"))
        .orderBy("forecaster")
    }, Some("""
      WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
          CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1),
      bounds AS (SELECT min(day) AS d0 FROM daily),
      naive AS (SELECT day + 1 AS day, y AS f_naive FROM daily),
      snaive AS (SELECT day + 7 AS day, y AS f_snaive FROM daily),
      ma7 AS (SELECT day, sf // 7 AS f_ma7 FROM (
        SELECT d.day + o.off AS day, CAST(count(*) AS BIGINT) AS k,
            CAST(sum(d.y) AS BIGINT) AS sf
          FROM daily d CROSS JOIN (SELECT unnest(range(1, 8)) AS off) o
          GROUP BY 1) WHERE k = 7),
      j AS (SELECT d.day, d.y, n.f_naive, sn.f_snaive, m.f_ma7
        FROM daily d JOIN naive n USING (day) JOIN snaive sn USING (day)
        JOIN ma7 m USING (day) CROSS JOIN bounds b
        WHERE d.day >= b.d0 + 7),
      e AS (SELECT 'naive' AS forecaster, abs(y - f_naive) AS ae FROM j
        UNION ALL SELECT 'snaive', abs(y - f_snaive) FROM j
        UNION ALL SELECT 'ma7', abs(y - f_ma7) FROM j)
      SELECT forecaster, CAST(count(*) AS BIGINT) AS n_eval,
        CAST(sum(ae) AS BIGINT) AS sae,
        (1000000 * CAST(sum(ae) AS BIGINT)) // CAST(count(*) AS BIGINT) AS mae_micro
      FROM e GROUP BY forecaster ORDER BY forecaster""")),

    // ----- A/B test analysis (exact chi-square decision) ------------------
    // The experimentation read-out: variant by user-id parity (the
    // hash-bucket assignment every platform uses), conversion = the
    // user is a heavy purchaser (≥ 14 purchase events — "ever
    // purchased" saturates at 100% on this generator and would zero two
    // cells), and the 2×2 chi-square statistic
    //   χ² = n·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d))
    // computed exactly in integers and emitted in micro units next to
    // the per-variant rates and the lift; `significant` is the α=0.05
    // decision bit (χ² ≥ 3.841). On this corpus the parity split flags
    // a genuine id-correlated pattern in the synthetic generator
    // (34.7% vs 57.3% heavy-purchaser rate at sf0.01) — which is the
    // point: an "A/A" split that rejects means the assignment key is
    // NOT independent of the metric, the first thing a platform's
    // sample-ratio/pre-experiment checks exist to catch. One user-level
    // aggregate + one 4-cell reduction; the Int64 products are exact to
    // ~10⁴ users per cell — past that the same expressions promote to
    // DECIMAL(38,0), the q192 rule.
    ("q224_ab_analysis", (s: SparkSession, dir: String) => {
      import s.implicits._
      val raw = Tables.t(s, dir, "events")
      val users = raw.select($"user_id", $"event_type")
        .groupBy($"user_id")
        .agg(when(sum(when($"event_type" === "purchase", 1L).otherwise(0L)) >= 14,
          1L).otherwise(0L).as("conv"))
        .select(($"user_id" % 2).as("variant"), $"conv")
      val cells = users.agg(
        sum(when($"variant" === 0 && $"conv" === 1, 1L).otherwise(0L)).as("a"),
        sum(when($"variant" === 0 && $"conv" === 0, 1L).otherwise(0L)).as("b"),
        sum(when($"variant" === 1 && $"conv" === 1, 1L).otherwise(0L)).as("c"),
        sum(when($"variant" === 1 && $"conv" === 0, 1L).otherwise(0L)).as("d"))
      cells.select(
          ($"a" + $"b" + $"c" + $"d").as("n_users"),
          $"a".as("conv_a"), ($"a" + $"b").as("n_a"),
          $"c".as("conv_b"), ($"c" + $"d").as("n_b"),
          expr("(1000000 * a) div (a + b)").as("cr_a_micro"),
          expr("(1000000 * c) div (c + d)").as("cr_b_micro"),
          (expr("(1000000 * c) div (c + d)") - expr("(1000000 * a) div (a + b)"))
            .as("lift_micro"),
          expr("(1000000 * (a + b + c + d) * (a * d - b * c) * (a * d - b * c)) div ((a + b) * (c + d) * (a + c) * (b + d))")
            .as("chi2_micro"))
        .select($"n_users", $"conv_a", $"n_a", $"conv_b", $"n_b",
          $"cr_a_micro", $"cr_b_micro", $"lift_micro", $"chi2_micro",
          when($"chi2_micro" >= 3841000L, 1L).otherwise(0L).as("significant"))
    }, Some("""
      WITH users AS (SELECT user_id % 2 AS variant,
          CAST(CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
            THEN 1 ELSE 0 END AS BIGINT) AS conv
        FROM events GROUP BY user_id),
      cells AS (SELECT
          CAST(sum(CASE WHEN variant = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
          CAST(sum(CASE WHEN variant = 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
          CAST(sum(CASE WHEN variant = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
          CAST(sum(CASE WHEN variant = 1 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM users)
      SELECT a + b + c + d AS n_users, a AS conv_a, a + b AS n_a,
        c AS conv_b, c + d AS n_b,
        (1000000 * a) // (a + b) AS cr_a_micro,
        (1000000 * c) // (c + d) AS cr_b_micro,
        (1000000 * c) // (c + d) - (1000000 * a) // (a + b) AS lift_micro,
        (1000000 * (a + b + c + d) * (a * d - b * c) * (a * d - b * c))
          // ((a + b) * (c + d) * (a + c) * (b + d)) AS chi2_micro,
        CAST(CASE WHEN (1000000 * (a + b + c + d) * (a * d - b * c) * (a * d - b * c))
          // ((a + b) * (c + d) * (a + c) * (b + d)) >= 3841000 THEN 1 ELSE 0 END AS BIGINT) AS significant
      FROM cells""")),

    // Preference queries (skyline), market-basket rule
    // mining on top of the q151 pair counts, and leave-one-out source
    // valuation — what each source contributes to a corpus-level metric.

    // ----- 2-D skyline (Pareto frontier) ----------------------------------
    // The preference query: parts where no other part is both cheaper
    // AND larger — the Pareto frontier of (price ↓, size ↑). The naive
    // form is an O(n²) dominance anti-join; the sort-based form used
    // here is one cumulative window over the PRICE-sorted order: a part
    // is on the skyline iff its size strictly exceeds the max size of
    // every STRICTLY cheaper part (ties in price can't dominate each
    // other on price, so the running max must only cover cheaper rows —
    // a range frame keyed on the price value handles tie groups
    // exactly). Price quantizes to cents first (the money rule), so
    // frame bounds are integer-exact. The prefix-max runs over the
    // distinct-price grid and joins back to the rows, so no corpus-sized
    // single-partition window exists at any scale.
    ("q225_skyline", (s: SparkSession, dir: String) => {
      import s.implicits._
      val p = Tables.t(s, dir, "part")
        .select($"p_partkey", $"p_size".cast("long").as("size"),
          floor($"p_retailprice" * 100 + lit(0.5)).cast("long").as("price_cents"))
      // distributed form (r14; was a single-partition window over every
      // part row): best_cheaper is constant per distinct price, so run
      // the prefix-max over the |distinct prices| VALUE GRID (bounded by
      // the price domain, not the corpus — the house grid convention)
      // and join it back by price. rowsBetween(-1) on the distinct grid
      // ≡ rangeBetween(-1) on raw rows: both see exactly the strictly
      // cheaper prices.
      val grid = p.groupBy($"price_cents").agg(max($"size").as("gmax"))
      val wg = Window.orderBy($"price_cents")
        .rowsBetween(Window.unboundedPreceding, -1)
      val bc = grid.withColumn("best_cheaper", max($"gmax").over(wg))
        .select($"price_cents", $"best_cheaper")
      p.join(bc, Seq("price_cents"))
        .filter($"best_cheaper".isNull || $"size" > $"best_cheaper")
        .select($"p_partkey", $"price_cents", $"size",
          coalesce($"best_cheaper", lit(-1L)).as("best_cheaper_size"))
        .orderBy("price_cents", "p_partkey")
    }, Some("""
      WITH p AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS size,
          CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents
        FROM part),
      m AS (SELECT p_partkey, price_cents, size,
          max(size) OVER (ORDER BY price_cents
            RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_cheaper
        FROM p)
      SELECT p_partkey, price_cents, size,
        CAST(coalesce(best_cheaper, -1) AS BIGINT) AS best_cheaper_size
      FROM m WHERE best_cheaper IS NULL OR size > best_cheaper
      ORDER BY price_cents, p_partkey""")),

    // ----- association rules (confidence / lift over q151's pairs) --------
    // The step after pair mining: turn co-occurrence counts into RULES.
    // For each frequent ordered pair a→b (support ≥ 3 baskets — the
    // generator's basket overlap is sparse; a real retail corpus raises
    // the floor with its density):
    // confidence = P(b|a) = n_ab/n_a and lift = N·n_ab/(n_a·n_b), both
    // cleared to micro integers. Inputs are exactly two bounded
    // aggregates (per-item basket counts, per-pair counts — the q151
    // order-bounded self-join); the rule table is pair-sized, ranked by
    // lift with a TakeOrdered top-20. Lift > 1e6 means genuinely
    // associated, not just popular — the number that separates
    // recommendation signal from shelf-position noise.
    ("q226_association_rules", (s: SparkSession, dir: String) => {
      import s.implicits._
      val items = Tables.t(s, dir, "lineitem")
        .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
        .localCheckpoint() // item counts + pair join + basket count
      val nBaskets = items.select($"ok").distinct().agg(count(lit(1)).as("nb"))
      val itemCnt = items.groupBy($"pk").agg(count(lit(1)).as("n_item"))
      val pairs = items.toDF("ok", "a").join(items.toDF("ok", "b"), Seq("ok"))
        .filter($"a" =!= $"b")
        .groupBy($"a", $"b").agg(count(lit(1)).as("n_ab"))
        .filter($"n_ab" >= 3)
      pairs
        .join(itemCnt.toDF("a", "n_a"), Seq("a"))
        .join(itemCnt.toDF("b", "n_b"), Seq("b"))
        .crossJoin(broadcast(nBaskets))
        .select($"a".as("antecedent"), $"b".as("consequent"), $"n_ab",
          expr("(1000000 * n_ab) div n_a").as("confidence_micro"),
          expr("(1000000 * nb * n_ab) div (n_a * n_b)").as("lift_micro"))
        .orderBy(desc("lift_micro"), desc("n_ab"), $"antecedent", $"consequent")
        .limit(20)
    }, Some("""
      WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS nb FROM items),
      ic AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_item FROM items GROUP BY 1),
      pairs AS (SELECT a.pk AS a, b.pk AS b, CAST(count(*) AS BIGINT) AS n_ab
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk <> b.pk
        GROUP BY 1, 2 HAVING count(*) >= 3)
      SELECT p.a AS antecedent, p.b AS consequent, p.n_ab,
        (1000000 * p.n_ab) // ia.n_item AS confidence_micro,
        (1000000 * nb.nb * p.n_ab) // (ia.n_item * ib.n_item) AS lift_micro
      FROM pairs p JOIN ic ia ON ia.pk = p.a JOIN ic ib ON ib.pk = p.b
      CROSS JOIN nb
      ORDER BY lift_micro DESC, n_ab DESC, antecedent, consequent LIMIT 20""")),

    // ----- leave-one-out source valuation ---------------------------------
    // Data valuation without retraining: each source's contribution to a
    // corpus-level metric, read off as the LEAVE-ONE-OUT delta — what
    // the corpus mean of the q191 quality logit becomes if this source
    // were dropped. The algebra makes it free: one per-source (Σlogit,
    // n) aggregate gives every LOO mean as (total − s_i)/(n − n_i) — NO
    // per-source rescans, |sources| arithmetic rows after one corpus
    // pass. A negative delta means the corpus mean would RISE
    // without the source: the first-order case for down-weighting it in
    // the mixture (q107's input). The same template prices any additive
    // metric — token counts, dedup rates, contamination hits.
    ("q227_loo_source_value", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"source", explode(split(TA.normText($"text"), " ")).as("tok"))
      val scored = toks
        .withColumn("w",
          conv(substring(md5(concat(lit("w|"),
              (conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long") % 1024)
                .cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2001 - 1000)
        .groupBy($"doc_id", $"source").agg(sum($"w").as("logit"))
      val per = scored.groupBy($"source")
        .agg(count(lit(1)).as("n_s"), sum($"logit").as("sl"))
      val tot = per.agg(sum($"n_s").as("n"), sum($"sl").as("tl"))
      // logit sums are SIGNED (weights center on 0): Spark's `div`
      // truncates toward zero while DuckDB's `//` floors, so all four
      // quotients use explicit FLOOR(/) — floored like the oracle, and
      // exact while the operands stay inside double's 2^53 (documented
      // bound; the test corpus is orders inside it)
      per.crossJoin(broadcast(tot))
        .select($"source", $"n_s",
          expr("CAST(floor(sl / n_s) AS BIGINT)").as("own_mean"),
          expr("CAST(floor(tl / n) AS BIGINT)").as("all_mean"),
          expr("CAST(floor((tl - sl) / (n - n_s)) AS BIGINT)").as("loo_mean"),
          (expr("CAST(floor(tl / n) AS BIGINT)") -
            expr("CAST(floor((tl - sl) / (n - n_s)) AS BIGINT)")).as("delta"))
        .orderBy("source")
    }, Some(s"""
      WITH toks AS (SELECT doc_id, source, unnest(string_split($normSql, ' ')) AS tok FROM documents),
      tw AS (SELECT doc_id, source,
          ('0x' || substr(md5('w|' || CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000 AS w
        FROM toks),
      scored AS (SELECT doc_id, source, CAST(sum(w) AS BIGINT) AS logit
        FROM tw GROUP BY 1, 2),
      per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s,
          CAST(sum(logit) AS BIGINT) AS sl FROM scored GROUP BY 1),
      tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n, CAST(sum(sl) AS BIGINT) AS tl FROM per)
      SELECT per.source, per.n_s,
        per.sl // per.n_s AS own_mean,
        tot.tl // tot.n AS all_mean,
        (tot.tl - per.sl) // (tot.n - per.n_s) AS loo_mean,
        tot.tl // tot.n - (tot.tl - per.sl) // (tot.n - per.n_s) AS delta
      FROM per CROSS JOIN tot ORDER BY per.source""")),

    // ----- behavioral Markov chain (transitions + stationary) -------------
    // The model behind q171's path mining: the event-type transition
    // matrix (lag pairs per user, row-normalized to micro
    // probabilities) plus the 2-step power-iteration stationary
    // distribution — where user attention settles, the number a
    // capacity planner multiplies by traffic. Both matrix and vector
    // live in integer micro; each power step is one broadcast-size
    // join + aggregate on the |states|² matrix (states are event
    // types — bounded — so iteration cost is independent of corpus
    // size; the corpus-sized work is the single lag pass). Stationary
    // rows append under kind='pi2' with the same schema.
    ("q243_markov_transitions", (s: SparkSession, dir: String) => {
      import s.implicits._
      val raw = Tables.t(s, dir, "events")
      val ev = raw.select($"user_id", $"event_id", $"event_type".as("et"),
        tusOf(raw).as("tus"))
      val trans = ev
        .withColumn("prev", lag($"et", 1).over(
          Window.partitionBy($"user_id").orderBy($"tus", $"event_id")))
        .filter($"prev".isNotNull)
        .groupBy($"prev".as("from_type"), $"et".as("to_type"))
        .agg(count(lit(1)).as("n_trans"))
        .localCheckpoint() // matrix reused by both power steps
      val rowTot = trans.groupBy($"from_type").agg(sum($"n_trans").as("rt"))
      val p = trans.join(rowTot, Seq("from_type"))
        .select($"from_type", $"to_type", $"n_trans",
          expr("(1000000 * n_trans) div rt").as("p_micro"))
      val states = p.select($"from_type".as("st")).distinct()
      val k = states.agg(count(lit(1)).as("k"))
      val pi0 = states.crossJoin(broadcast(k))
        .select($"st", expr("1000000 div k").as("pi"))
      def step(pi: DataFrame) = p.join(pi.toDF("from_type", "pi"), Seq("from_type"))
        .groupBy($"to_type".as("st"))
        .agg(expr("sum(pi * p_micro) div 1000000").as("pi"))
      val pi2 = step(step(pi0))
      p.select($"from_type", $"to_type", $"n_trans", $"p_micro")
        .unionByName(pi2.select(lit("pi2").as("from_type"), $"st".as("to_type"),
          lit(0L).as("n_trans"), $"pi".as("p_micro")))
        .orderBy($"from_type", $"to_type")
    }, Some("""
      WITH ev AS (SELECT user_id, event_id, event_type AS et,
          epoch_us(ts) AS tus FROM events),
      lagged AS (SELECT et, lag(et) OVER (PARTITION BY user_id
          ORDER BY tus, event_id) AS prev FROM ev),
      trans AS (SELECT prev AS from_type, et AS to_type,
          CAST(count(*) AS BIGINT) AS n_trans
        FROM lagged WHERE prev IS NOT NULL GROUP BY 1, 2),
      rt AS (SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS rt
        FROM trans GROUP BY 1),
      p AS (SELECT t.from_type, t.to_type, t.n_trans,
          (1000000 * t.n_trans) // rt.rt AS p_micro
        FROM trans t JOIN rt ON t.from_type = rt.from_type),
      states AS (SELECT DISTINCT from_type AS st FROM p),
      k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
      pi0 AS (SELECT st, 1000000 // k.k AS pi FROM states CROSS JOIN k),
      pi1 AS (SELECT p.to_type AS st,
          CAST(sum(pi0.pi * p.p_micro) // 1000000 AS BIGINT) AS pi
        FROM p JOIN pi0 ON p.from_type = pi0.st GROUP BY 1),
      pi2 AS (SELECT p.to_type AS st,
          CAST(sum(pi1.pi * p.p_micro) // 1000000 AS BIGINT) AS pi
        FROM p JOIN pi1 ON p.from_type = pi1.st GROUP BY 1)
      SELECT from_type, to_type, n_trans, CAST(p_micro AS BIGINT) AS p_micro FROM p
      UNION ALL SELECT 'pi2', st, CAST(0 AS BIGINT), pi FROM pi2
      ORDER BY from_type, to_type""")),

    // ----- Cohen's kappa inter-annotator agreement ------------------------
    // The labeling-pipeline QA gate: two annotators rate every document
    // against a quality bar; raw agreement p_o flatters them whenever
    // the classes are imbalanced, kappa subtracts the chance-agreement
    // floor p_e = Σ_c p_A(c)·p_B(c). Here the annotators are the shared
    // signal (n_chars ≥ 250) with independent deterministic error
    // channels (md5 flips at 10% and 20%), so the expected kappa is
    // high-but-not-1 — exactly the regime the statistic exists for.
    // One corpus scan builds the 2×2 confusion matrix; p_e's products
    // of marginal counts go through 128-bit so corpus-scale n² can't
    // wrap. At 100 TB this is a single map-side classification plus a
    // 4-cell aggregate — the cheapest possible audit of an annotation
    // vendor before trusting a million labels.
    ("q253_cohens_kappa", (s: SparkSession, dir: String) => {
      import s.implicits._
      val ann = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", ($"n_chars" >= 250).as("sig"))
        .withColumn("fa",
          conv(substring(md5(concat(lit("annA|"), $"doc_id".cast("string"))), 1, 8), 16, 10)
            .cast("long") % 10 === 0)
        .withColumn("fb",
          conv(substring(md5(concat(lit("annB|"), $"doc_id".cast("string"))), 1, 8), 16, 10)
            .cast("long") % 5 === 0)
        .select($"doc_id", ($"sig" =!= $"fa").as("a"), ($"sig" =!= $"fb").as("b"))
      val cm = ann.agg(count(lit(1)).as("n"),
        sum(when($"a" && $"b", 1L).otherwise(0L)).as("n11"),
        sum(when($"a" && !$"b", 1L).otherwise(0L)).as("n10"),
        sum(when(!$"a" && $"b", 1L).otherwise(0L)).as("n01"),
        sum(when(!$"a" && !$"b", 1L).otherwise(0L)).as("n00"))
      cm.select($"n", $"n11", $"n10", $"n01", $"n00",
          expr("1000000 * (n11 + n00) div n").as("po_micro"),
          expr("""CAST((1000000 * (CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)
            + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00)))
            div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)""").as("pe_micro"))
        .select($"n", $"n11", $"n10", $"n01", $"n00", $"po_micro", $"pe_micro",
          expr("1000000 * (po_micro - pe_micro) div (1000000 - pe_micro)")
            .as("kappa_micro"))
    }, Some("""
      WITH ann AS (SELECT doc_id, (n_chars >= 250) AS sig,
          ('0x' || substr(md5('annA|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 10 = 0 AS fa,
          ('0x' || substr(md5('annB|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 5 = 0 AS fb
        FROM documents),
      ab AS (SELECT doc_id, (sig <> fa) AS a, (sig <> fb) AS b FROM ann),
      cm AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
          CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
          CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
          CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
        FROM ab),
      p AS (SELECT *, 1000000 * (n11 + n00) // n AS po_micro,
          CAST((1000000 * (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
            + CAST(n01 + n00 AS HUGEINT) * (n10 + n00)))
            // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_micro
        FROM cm)
      SELECT n, n11, n10, n01, n00, po_micro, pe_micro,
        1000000 * (po_micro - pe_micro) // (1000000 - pe_micro) AS kappa_micro
      FROM p""")),

    // Delete-one-source jackknife variance (the
    // deterministic resampling SE the Poisson bootstrap approximates with
    // RNG), an SPRT sequential monitor over the daily error rate (decide
    // WHILE data arrives, not after — Wald's test as a cumulative
    // log-likelihood walk), and per-source rates with Wilson confidence
    // intervals (the interval that stays honest at small n where the
    // normal approximation lies).
    //
    // House rules as elsewhere: integer arithmetic at every gate,
    // micro-ln per transcendental constant with the identical expression
    // both sides, sqrt only on final bounded rows, total ORDER BY.

    // ----- delete-one-source jackknife SE ---------------------------------
    // The corpus mean doc length has a standard error — under CLUSTER
    // sampling (sources are the clusters), not the iid formula. The
    // delete-one-group jackknife: μ_j = mean with source j removed
    // (every LOO mean from ONE per-source aggregate — the q227 trick),
    // SE² = (g−1)/g · Σ(μ_j − μ̄·)². Deterministic — no RNG, unlike
    // the Poisson bootstrap — and the per-source influence |μ_j − μ|
    // ranks which source DRIVES the estimate. Output is one row from
    // a |sources|-bounded table; the one sqrt runs on that row.
    ("q318_jackknife_se", (s: SparkSession, dir: String) => {
      import s.implicits._
      val per = Tables.spread(Tables.t(s, dir, "documents"))
        .groupBy($"source").agg(count(lit(1)).as("ns"),
          sum($"n_chars").as("ss"))
        .localCheckpoint() // reused: totals + LOO table + influence rank
      val tot = per.agg(count(lit(1)).as("g"), sum($"ns").as("n"),
        sum($"ss").as("st"))
      val loo = per.crossJoin(broadcast(tot))
        .select($"source", $"g", $"n", $"st",
          expr("1000000 * (st - ss) div (n - ns)").as("mu_j"),
          expr("1000000 * st div n").as("mu"))
        .localCheckpoint()
      val mdot = loo.agg(expr("sum(mu_j) div count(*)").as("md"))
      val infl = loo
        .withColumn("rn", row_number().over(
          Window.orderBy(abs($"mu_j" - $"mu").desc, $"source")))
        .filter($"rn" === 1)
        .select($"source".as("top_influence_source"),
          abs($"mu_j" - $"mu").as("max_influence_micro"))
      loo.crossJoin(broadcast(mdot))
        .groupBy($"g", $"mu")
        .agg(sum(($"mu_j" - $"md") * ($"mu_j" - $"md")).as("sd2"))
        .crossJoin(broadcast(infl))
        .select($"g", $"mu".as("mean_micro"),
          expr("""CAST(floor(sqrt(CAST((g - 1) * sd2 AS DOUBLE)
              / CAST(g AS DOUBLE)) + 0.5) AS BIGINT)""").as("jack_se_micro"),
          $"max_influence_micro", $"top_influence_source")
    }, Some("""
      WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS ns,
          CAST(sum(n_chars) AS BIGINT) AS ss FROM documents GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS g,
          CAST(sum(ns) AS BIGINT) AS n, CAST(sum(ss) AS BIGINT) AS st
        FROM per),
      loo AS (SELECT source, g, n, st,
          1000000 * (st - ss) // (n - ns) AS mu_j,
          1000000 * st // n AS mu
        FROM per CROSS JOIN tot),
      mdot AS (SELECT CAST(sum(mu_j) // count(*) AS BIGINT) AS md FROM loo),
      infl AS (SELECT source AS top_influence_source,
          abs(mu_j - mu) AS max_influence_micro FROM
        (SELECT source, mu_j, mu, row_number() OVER
           (ORDER BY abs(mu_j - mu) DESC, source) AS rn FROM loo)
        WHERE rn = 1),
      sd AS (SELECT g, mu,
          CAST(sum((mu_j - md) * (mu_j - md)) AS BIGINT) AS sd2
        FROM loo CROSS JOIN mdot GROUP BY 1, 2)
      SELECT sd.g, sd.mu AS mean_micro,
        CAST(floor(sqrt(CAST((sd.g - 1) * sd.sd2 AS DOUBLE)
          / CAST(sd.g AS DOUBLE)) + 0.5) AS BIGINT) AS jack_se_micro,
        infl.max_influence_micro, infl.top_influence_source
      FROM sd CROSS JOIN infl""")),

    // ----- SPRT sequential monitor over the daily error rate --------------
    // Fixed-n tests (q224) decide AFTER the window closes; Wald's SPRT
    // decides WHILE days arrive: the cumulative log-likelihood-ratio
    // walk Λ_t = Σ_days [e_d·ln(p1/p0) + (n_d−e_d)·ln((1−p1)/(1−p0))]
    // for H0: error rate p0 = 19% vs H1: p1 = 21%, with acceptance
    // bounds ±ln(19) (α = β = 0.05). The two ln constants are
    // micro-ln literals evaluated by the identical expression both
    // sides; each day contributes an exact integer increment, the walk
    // is one cumulative window over the day grid (the documented q195
    // bound), and the verdict column marks the FIRST crossing — how
    // many days of data the decision actually needed.
    ("q319_sprt_monitor", (s: SparkSession, dir: String) => {
      import s.implicits._
      def lnm(a: String) =
        s"CAST(floor(ln(CAST(($a) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
      val daily = Tables.t(s, dir, "events")
        .select(datediff(to_date($"ts".cast("timestamp")),
          lit("1970-01-01").cast("date")).cast("long").as("epd"),
          when($"event_type" === "error", 1L).otherwise(0L).as("e"))
        .groupBy($"epd").agg(count(lit(1)).as("nd"), sum($"e").as("ed"))
      val stepped = daily.select($"epd", $"nd", $"ed",
        expr(s"ed * (${lnm("21")} - ${lnm("19")})" +
          s" + (nd - ed) * (${lnm("79")} - ${lnm("81")})").as("inc"))
      val wc = Window.orderBy($"epd")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      stepped.withColumn("llr_micro", sum($"inc").over(wc))
        .crossJoin(broadcast(s.range(1).select(expr(lnm("19")).as("bound"))))
        .select($"epd", $"nd", $"ed", $"llr_micro",
          when($"llr_micro" >= $"bound", lit("accept_h1"))
            .when($"llr_micro" <= -$"bound", lit("accept_h0"))
            .otherwise(lit("continue")).as("verdict"))
        .orderBy($"epd")
    }, Some("""
      WITH daily AS (SELECT
          CAST(date_diff('day', DATE '1970-01-01',
            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS epd,
          CAST(count(*) AS BIGINT) AS nd,
          CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            AS BIGINT) AS ed
        FROM events GROUP BY 1),
      c AS (SELECT
          CAST(floor(ln(CAST(21 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
            - CAST(floor(ln(CAST(19 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
            AS le,
          CAST(floor(ln(CAST(79 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
            - CAST(floor(ln(CAST(81 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
            AS lq,
          CAST(floor(ln(CAST(19 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
            AS bound),
      walk AS (SELECT epd, nd, ed,
          CAST(sum(ed * c.le + (nd - ed) * c.lq) OVER (ORDER BY epd
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS llr_micro,
          c.bound
        FROM daily CROSS JOIN c)
      SELECT epd, nd, ed, llr_micro,
        CASE WHEN llr_micro >= bound THEN 'accept_h1'
          WHEN llr_micro <= -bound THEN 'accept_h0'
          ELSE 'continue' END AS verdict
      FROM walk ORDER BY epd""")),

    // ----- per-source Wilson confidence intervals -------------------------
    // "Source X is 12% long-docs" means nothing without an interval,
    // and at n = 60 the normal interval lies. Wilson's score interval
    // center ± halfwidth (z = 1.96 with z² carried as the rational
    // 96/25 = 3.84, so the center term stays integer until the one
    // sqrt per source row): the audit flags sources whose interval EXCLUDES the corpus
    // rate — the statistically-honest version of a naive rate sort.
    // One per-source aggregate, |sources| output rows, sqrt on those
    // rows only.
    ("q320_wilson_rate_audit", (s: SparkSession, dir: String) => {
      import s.implicits._
      val per = Tables.spread(Tables.t(s, dir, "documents"))
        .groupBy($"source").agg(count(lit(1)).as("n"),
          sum(($"n_chars" >= 250).cast("long")).as("k"))
        .localCheckpoint()
      val tot = per.agg(sum($"n").as("nt"), sum($"k").as("kt"))
      // Wilson with z² = 96/25: center = (k + z²/2) / (n + z²),
      // hw = z·sqrt(k(n−k)/n + z²/4) / (n + z²); scaled by 100n/(100n+384)
      // in exact integers, sqrt once per row.
      per.crossJoin(broadcast(tot))
        .select($"source", $"n", $"k",
          expr("1000000 * k div n").as("rate_micro"),
          expr("(1000000 * (50 * k + 96)) div (50 * n + 192)")
            .as("center_micro"),
          expr("""CAST(floor(1960000.0
              * sqrt(CAST(k * (n - k) AS DOUBLE) / CAST(n AS DOUBLE)
                     + 0.96)
              / (CAST(n AS DOUBLE) + 3.84) + 0.5) AS BIGINT)""")
            .as("hw_micro"),
          expr("1000000 * kt div nt").as("corpus_micro"))
        .select($"source", $"n", $"k", $"rate_micro", $"center_micro",
          $"hw_micro",
          when($"corpus_micro" < $"center_micro" - $"hw_micro" ||
            $"corpus_micro" > $"center_micro" + $"hw_micro", 1L)
            .otherwise(0L).as("sig_flag"))
        .orderBy($"source")
    }, Some("""
      WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END) AS BIGINT)
            AS k
        FROM documents GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
          CAST(sum(k) AS BIGINT) AS kt FROM per),
      w AS (SELECT source, n, k,
          1000000 * k // n AS rate_micro,
          (1000000 * (50 * k + 96)) // (50 * n + 192) AS center_micro,
          CAST(floor(1960000.0
            * sqrt(CAST(k * (n - k) AS DOUBLE) / CAST(n AS DOUBLE) + 0.96)
            / (CAST(n AS DOUBLE) + 3.84) + 0.5) AS BIGINT) AS hw_micro,
          1000000 * kt // nt AS corpus_micro
        FROM per CROSS JOIN tot)
      SELECT source, n, k, rate_micro, center_micro, hw_micro,
        CAST(CASE WHEN corpus_micro < center_micro - hw_micro
          OR corpus_micro > center_micro + hw_micro THEN 1 ELSE 0 END
          AS BIGINT) AS sig_flag
      FROM w ORDER BY source"""))
  )
}
