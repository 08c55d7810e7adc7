package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Storage layout and optimizer economics: partition/bucket/bloom
  * pruning, z-order and zone maps, compaction, histograms, join
  * forecasting, profiling and schema pre-flight audits.
  *
  * Section "Storage layout & optimizer (100 TB scan economics)" of
  * docs/OPERATORS.md.
  */
object StorageLayoutQueries {

  def queries: Seq[Entry] = Seq(

    // ----- partitioned layout + partition-pruned read --------------------
    // The table-layout story at 100 TB: documents written
    // `partitionBy(source)`, then read back with a partition predicate.
    // The predicate must resolve at PLANNING time from the directory
    // structure (PartitionFilters in the scan, asserted in
    // PlanQualitySpec) — at scale this is the difference between listing
    // one directory and scanning the corpus. The n_chars predicate rides
    // alongside as an ordinary pushed filter.
    ("q141_partition_prune", (s: SparkSession, dir: String) => {
      import s.implicits._
      val tmp = graft.TempScratch.dir("q141").toString
      Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"n_chars", $"source")
        .write.mode("overwrite").partitionBy("source").parquet(tmp)
      s.read.parquet(tmp)
        .filter($"source" === "src3" && $"n_chars" >= 100)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"),
          min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
        .orderBy("source")
    }, Some("""
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM documents WHERE source = 'src3' AND n_chars >= 100
      GROUP BY source ORDER BY source""")),

    // ----- bucketed co-located join (zero-shuffle) -----------------------
    // Both sides written `bucketBy(8, custkey)` into the session catalog;
    // the join then consumes the bucketing as its distribution — NO
    // exchange below the SortMergeJoin (plan-asserted). This is the
    // pre-partitioning answer to the biggest 100 TB cost in the battery:
    // a fact-dimension join that would otherwise shuffle the fact table
    // every run is shuffled ONCE at write time and never again.
    ("q142_bucketed_join", (s: SparkSession, dir: String) => {
      import s.implicits._
      // drop both catalog entry AND location: a previous JVM's managed
      // table survives as a directory this session's in-memory catalog
      // has never heard of, and CTAS refuses an occupied location
      Seq("g_orders_bkt", "g_customer_bkt").foreach { name =>
        s.sql(s"DROP TABLE IF EXISTS $name")
        val p = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), name)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
      Tables.t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey")
        .write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable("g_orders_bkt")
      Tables.t(s, dir, "customer")
        .select($"c_custkey", $"c_mktsegment")
        .write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable("g_customer_bkt")
      s.table("g_orders_bkt").hint("merge")
        .join(s.table("g_customer_bkt"), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          countDistinct($"o_custkey").as("n_custs"),
          min($"o_orderkey").as("min_key"), max($"o_orderkey").as("max_key"))
        .orderBy("c_mktsegment")
    }, Some("""
      SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ----- dynamic partition pruning -------------------------------------
    // The third leg of the layout story (q141 static prune, q142
    // bucketing): the fact table is partitioned by source, and the
    // partitions to read are only known AFTER planning the dim side —
    // Catalyst injects a dynamic-pruning subquery into the fact scan
    // (plan-asserted), so at 100 TB the scan reads 3 of N partitions
    // even though no literal source predicate exists on the fact side.
    ("q146_dynamic_partition_prune", (s: SparkSession, dir: String) => {
      import s.implicits._
      val tmp = graft.TempScratch.dir("q146").toString
      Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"n_chars", $"source")
        .write.mode("overwrite").partitionBy("source").parquet(tmp)
      // the dim must be a real scan with a surviving Filter node — a
      // literal Seq folds into a LocalRelation and DPP's
      // selective-predicate check never sees a filter
      val dimTmp = graft.TempScratch.dir("q146d").toString
      Seq(("src1", 1), ("src5", 2), ("src7", 3), ("src9", 9))
        .toDF("source", "grp").write.mode("overwrite").parquet(dimTmp)
      val dim = s.read.parquet(dimTmp).filter($"grp" <= 3)
      s.read.parquet(tmp).join(dim, Seq("source"))
        .groupBy($"grp")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
        .orderBy("grp")
    }, Some("""
      SELECT CASE source WHEN 'src1' THEN 1 WHEN 'src5' THEN 2 ELSE 3 END AS grp,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents WHERE source IN ('src1', 'src5', 'src7')
      GROUP BY 1 ORDER BY grp""")),

    // ----- z-order curve + zone-map skipping audit -----------------------
    // The data-skipping argument in one operator: documents are assigned a
    // Morton z-value interleaving n_chars (10 bits) with the source id
    // (5 bits); zone maps (per-bucket min/max of both dims) are computed
    // for the natural doc_id layout AND for z-range buckets, and the
    // 2-D predicate n_chars∈[100,200] ∧ src_id∈[4,7] is tested against
    // each bucket's ranges. Linear layout scans every bucket (n_chars and
    // source are uncorrelated with doc_id); the z-order layout skips the
    // large majority — the quantified case for Delta/Iceberg-style
    // OPTIMIZE ZORDER at 100 TB, where a bucket is a parquet file and
    // skipped buckets are files never opened. Everything is integer
    // arithmetic + two groupBys: fully distributed, engine-exact.
    ("q147_zone_map_skipping", (s: SparkSession, dir: String) => {
      import s.implicits._
      val zSpark = ((0 until 10).map(j => s"((n_chars div ${1 << j}) % 2) * ${1L << (2 * j + 1)}") ++
        (0 until 5).map(j => s"((src_id div ${1 << j}) % 2) * ${1L << (2 * j)}")).mkString(" + ")
      val withZ = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"n_chars",
          expr("CAST(substring(source, 4, 4) AS INT)").as("src_id"))
        .withColumn("zval", expr(zSpark))
      def stats(name: String, bucket: Column): DataFrame = withZ
        .groupBy(bucket.as("bucket"))
        .agg(min($"n_chars").as("mn"), max($"n_chars").as("mx"),
          min($"src_id").as("ms"), max($"src_id").as("xs"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(when($"mn" <= 200 && $"mx" >= 100 && $"ms" <= 7 && $"xs" >= 4, 1L)
            .otherwise(0L)).as("scanned_buckets"))
        .select(lit(name).as("layout"), $"n_buckets", $"scanned_buckets",
          (($"n_buckets" - $"scanned_buckets").cast("double") / $"n_buckets").as("skipped_frac"))
      stats("linear", expr("doc_id div 64"))
        .unionByName(stats("zorder", expr("zval div 2048")))
        .orderBy("layout")
    }, Some {
      val zDuck = ((0 until 10).map(j => s"((n_chars // ${1 << j}) % 2) * ${1L << (2 * j + 1)}") ++
        (0 until 5).map(j => s"((src_id // ${1 << j}) % 2) * ${1L << (2 * j)}")).mkString(" + ")
      s"""
      WITH base AS (SELECT doc_id, n_chars, CAST(substr(source, 4) AS INT) AS src_id FROM documents),
      z AS (SELECT doc_id, n_chars, src_id, $zDuck AS zval FROM base),
      lin AS (SELECT doc_id // 64 AS bucket, min(n_chars) AS mn, max(n_chars) AS mx,
          min(src_id) AS ms, max(src_id) AS xs FROM z GROUP BY 1),
      zo AS (SELECT zval // 2048 AS bucket, min(n_chars) AS mn, max(n_chars) AS mx,
          min(src_id) AS ms, max(src_id) AS xs FROM z GROUP BY 1),
      s1 AS (SELECT 'linear' AS layout, CAST(count(*) AS BIGINT) AS n_buckets,
          CAST(sum(CASE WHEN mn <= 200 AND mx >= 100 AND ms <= 7 AND xs >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS scanned_buckets
        FROM lin),
      s2 AS (SELECT 'zorder' AS layout, CAST(count(*) AS BIGINT) AS n_buckets,
          CAST(sum(CASE WHEN mn <= 200 AND mx >= 100 AND ms <= 7 AND xs >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS scanned_buckets
        FROM zo),
      u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
      SELECT layout, n_buckets, scanned_buckets,
        CAST(n_buckets - scanned_buckets AS DOUBLE) / n_buckets AS skipped_frac
      FROM u ORDER BY layout"""
    }),

    // ----- join-key skew diagnosis ---------------------------------------
    // The report you run BEFORE choosing salt factors (q58/q59): for each
    // candidate join key, its cardinality, the hottest key's frequency,
    // and the share of all rows the hottest key carries — the number that
    // decides whether a shuffle on that key melts one executor. Each key
    // costs one two-phase aggregate plus a 1-row rollup; keys are
    // diagnosed independently (a union of bounded aggregates).
    ("q148_skew_diagnosis", (s: SparkSession, dir: String) => {
      import s.implicits._
      val li = Tables.t(s, dir, "lineitem")
      def keyStats(c: String): DataFrame = li
        .groupBy(col(c)).agg(count(lit(1)).as("f"))
        .agg(sum($"f").as("n_rows"), count(lit(1)).as("n_keys"),
          max($"f").as("max_freq"))
        .select(lit(c).as("key_col"), $"n_rows", $"n_keys", $"max_freq",
          ($"max_freq".cast("double") / $"n_rows").as("hot_share"))
      keyStats("l_orderkey")
        .unionByName(keyStats("l_partkey"))
        .unionByName(keyStats("l_suppkey"))
        .orderBy("key_col")
    }, Some("""
      WITH s AS (
        SELECT 'l_orderkey' AS key_col, f FROM (SELECT count(*) AS f FROM lineitem GROUP BY l_orderkey)
        UNION ALL
        SELECT 'l_partkey', f FROM (SELECT count(*) AS f FROM lineitem GROUP BY l_partkey)
        UNION ALL
        SELECT 'l_suppkey', f FROM (SELECT count(*) AS f FROM lineitem GROUP BY l_suppkey))
      SELECT key_col, CAST(sum(f) AS BIGINT) AS n_rows,
        CAST(count(*) AS BIGINT) AS n_keys, CAST(max(f) AS BIGINT) AS max_freq,
        CAST(max(f) AS DOUBLE) / sum(f) AS hot_share
      FROM s GROUP BY key_col ORDER BY key_col""")),

    // ----- CDC changelog compaction (last-writer-wins) -------------------
    // The lakehouse MERGE primitive q88's SCD2 doesn't cover: an ordered
    // changelog (upserts + deletes) collapsed to its final state and
    // applied to a base snapshot. Latest-per-key is a WindowGroupLimit
    // (rank 1 by event time, map tasks forward one row per key); the
    // apply is one full-outer equi-join. 'error' events play the delete
    // tombstone; everything else upserts the event's value.
    ("q149_cdc_compaction", (s: SparkSession, dir: String) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      val latest = Tables.t(s, dir, "events")
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"user_id".as("k"),
          when($"event_type" === "error", lit("D")).otherwise(lit("U")).as("op"),
          $"value".as("nv"))
      val base = Tables.t(s, dir, "customer")
        .select($"c_custkey".as("k"), $"c_acctbal".cast("double").as("bv"))
      base.join(latest, Seq("k"), "full_outer")
        .filter($"op".isNull || $"op" === "U")
        .select($"k", coalesce($"nv", $"bv").as("val"),
          when($"op".isNull, "base").when($"bv".isNull, "inserted")
            .otherwise("updated").as("row_state"))
        .orderBy("k")
    }, Some("""
      WITH latest AS (SELECT user_id AS k,
          CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op, value AS nv
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1),
      base AS (SELECT c_custkey AS k, CAST(c_acctbal AS DOUBLE) AS bv FROM customer)
      SELECT COALESCE(b.k, l.k) AS k, COALESCE(l.nv, b.bv) AS val,
        CASE WHEN l.op IS NULL THEN 'base' WHEN b.k IS NULL THEN 'inserted'
             ELSE 'updated' END AS row_state
      FROM base b FULL OUTER JOIN latest l ON b.k = l.k
      WHERE l.op IS NULL OR l.op = 'U'
      ORDER BY k""")),

    // ----- broadcast bloom semi-filter (runtime row-level pruning) -------
    // q146 prunes PARTITIONS at runtime from the dim side; this is the
    // row-level counterpart when the fact table isn't partitioned on the
    // join key: a 64K-bit membership bitmap (2048 words x 32 bits, keyed
    // by an md5-derived bucket) is built from the filtered dim's keys as
    // one tiny aggregate, broadcast, and applied to the fact scan as an
    // equi-join on the word index + a bit test — rows that cannot match
    // never enter the real join. The exact join behind it keeps the
    // result correct regardless of bitmap false positives; the grp=-1
    // stats row (bloom-passed vs exactly-matched counts) pins the bitmap
    // construction bit-for-bit against the oracle. At 100 TB the bitmap
    // plays Spark's injected runtime bloom filter with the FP rate under
    // the operator's control; everything before the final aggregate is
    // map-side.
    ("q150_bloom_runtime_filter", (s: SparkSession, dir: String) => {
      import s.implicits._
      def bucket(c: Column): Column =
        conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") % 65536
      val dim = Tables.t(s, dir, "customer")
        .filter($"c_mktsegment" === "BUILDING")
        .select($"c_custkey", $"c_nationkey")
      val bm = dim.withColumn("h", bucket($"c_custkey"))
        .select(expr("h div 32").as("word"), expr("CAST(h % 32 AS INT)").as("bit"))
        .groupBy($"word")
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("bits"))
      val passed = Tables.t(s, dir, "orders")
        .select($"o_custkey", $"o_totalprice")
        .withColumn("h", bucket($"o_custkey"))
        .withColumn("word", expr("h div 32"))
        .withColumn("bit", expr("CAST(h % 32 AS INT)"))
        .join(broadcast(bm), Seq("word"))
        .filter(expr("(shiftright(bits, bit) & 1) = 1"))
      val joined = passed.join(broadcast(dim), $"o_custkey" === $"c_custkey")
      val agg = joined.groupBy($"c_nationkey".as("grp"))
        .agg(count(lit(1)).as("n_rows"),
          expr("CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)")
            .as("total_cents"))
      val stats = passed.agg(count(lit(1)).as("np"))
        .crossJoin(joined.agg(count(lit(1)).as("ne")))
        .select(lit(-1).as("grp"), $"np".as("n_rows"), $"ne".as("total_cents"))
      agg.unionByName(stats).orderBy("grp")
    }, Some("""
      WITH dim AS (SELECT c_custkey, c_nationkey FROM customer
        WHERE c_mktsegment = 'BUILDING'),
      dh AS (SELECT c_custkey, c_nationkey,
        ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 65536 AS h FROM dim),
      bm AS (SELECT h // 32 AS word,
        bit_or(CAST(1 AS BIGINT) << CAST(h % 32 AS INT)) AS bits FROM dh GROUP BY 1),
      oh AS (SELECT o_custkey, o_totalprice,
        ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT % 65536 AS h FROM orders),
      pass AS (SELECT o.o_custkey, o.o_totalprice FROM oh o
        JOIN bm ON bm.word = o.h // 32
        WHERE ((bm.bits >> CAST(o.h % 32 AS INT)) & 1) = 1),
      agg AS (SELECT d.c_nationkey AS grp, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS total_cents
        FROM pass p JOIN dim d ON p.o_custkey = d.c_custkey GROUP BY 1),
      stats AS (SELECT -1 AS grp,
        CAST((SELECT count(*) FROM pass) AS BIGINT) AS n_rows,
        CAST((SELECT count(*) FROM pass p JOIN dim d ON p.o_custkey = d.c_custkey) AS BIGINT) AS total_cents)
      SELECT grp, n_rows, total_cents FROM agg
      UNION ALL SELECT grp, n_rows, total_cents FROM stats
      ORDER BY grp""")),

    // ----- Z-order layout clustering (multi-dim zone-map win) -----------
    // The OPTIMIZE ZORDER primitive: interleave the bits of two
    // quantized dimensions (customer, order day) into a Z-value, lay
    // rows out into 64 equal "files" along that curve, and measure the
    // zone-map skip rate for a 2-D box predicate against the same
    // predicate on a date-sorted layout. Z-order keeps BOTH per-file
    // min/max ranges narrow, so a 1/16-of-the-grid box touches a
    // fraction of the files where the 1-D sort scans nearly all of
    // them — this delta is the entire justification for the layout.
    // All arithmetic is integer (bit interleave, div-binning with
    // in-DAG bounds per the q86 rule); ntile stands in for the
    // repartitionByRange(z) a 100 TB write would use — the stats and
    // skip logic are identical under either partitioner.
    ("q159_zorder_layout", (s: SparkSession, dir: String) => {
      import s.implicits._
      val sparkZ = (0 until 8).map(i =>
        s"shiftleft(shiftright(x_bin, $i) & 1, ${2 * i}) + shiftleft(shiftright(y_bin, $i) & 1, ${2 * i + 1})")
        .mkString(" + ")
      val o = Tables.t(s, dir, "orders").select($"o_orderkey", $"o_custkey",
        datediff($"o_orderdate", lit("1992-01-01")).as("d"))
      val bounds = o.agg(min($"o_custkey").as("xmin"), max($"o_custkey").as("xmax"),
        min($"d").as("ymin"), max($"d").as("ymax"))
      val files = o.crossJoin(broadcast(bounds)).select($"o_orderkey",
          expr("((o_custkey - xmin) * 256) div (xmax - xmin + 1)").as("x_bin"),
          expr("((d - ymin) * 256) div (ymax - ymin + 1)").as("y_bin"))
        .withColumn("z", expr(sparkZ))
      // two-level ntile (GridRank): the orders-scale layout assignment
      // never single-tasks; bit-identical to the window ntile
      val zf = graft.ext.GridRank
        .withNtile(files, 64, "z", Seq($"o_orderkey"), "file_id")
        .withColumn("layout", lit("zorder"))
      val ds = graft.ext.GridRank
        .withNtile(files, 64, "y_bin", Seq($"o_orderkey"), "file_id")
        .withColumn("layout", lit("datesort"))
      val stats = zf.unionByName(ds).groupBy($"layout", $"file_id")
        .agg(count(lit(1)).as("n_rows"),
          min($"x_bin").as("x_lo"), max($"x_bin").as("x_hi"),
          min($"y_bin").as("y_lo"), max($"y_bin").as("y_hi"))
      val miss = $"x_hi" < 96 || $"x_lo" > 159 || $"y_hi" < 96 || $"y_lo" > 159
      stats.groupBy($"layout").agg(
          count(lit(1)).as("n_files"),
          sum(when(miss, 0L).otherwise(1L)).as("files_scanned"),
          sum(when(miss, 0L).otherwise($"n_rows")).as("rows_scanned"))
        .orderBy("layout")
    }, Some {
      val duckZ = (0 until 8).map(i =>
        s"(((x_bin >> $i) & 1) << ${2 * i}) + (((y_bin >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""
      WITH o AS (SELECT o_orderkey, o_custkey,
        datediff('day', DATE '1992-01-01', o_orderdate) AS d FROM orders),
      bo AS (SELECT min(o_custkey) AS xmin, max(o_custkey) AS xmax,
        min(d) AS ymin, max(d) AS ymax FROM o),
      binned AS (SELECT o_orderkey,
        ((o_custkey - xmin) * 256) // (xmax - xmin + 1) AS x_bin,
        ((d - ymin) * 256) // (ymax - ymin + 1) AS y_bin FROM o, bo),
      f AS (SELECT o_orderkey, x_bin, y_bin, $duckZ AS z FROM binned),
      u AS (
        SELECT 'zorder' AS layout,
          ntile(64) OVER (ORDER BY z, o_orderkey) AS file_id, x_bin, y_bin
        FROM f
        UNION ALL
        SELECT 'datesort' AS layout,
          ntile(64) OVER (ORDER BY y_bin, o_orderkey) AS file_id, x_bin, y_bin
        FROM f),
      st AS (SELECT layout, file_id, count(*) AS n_rows,
        min(x_bin) AS x_lo, max(x_bin) AS x_hi,
        min(y_bin) AS y_lo, max(y_bin) AS y_hi
        FROM u GROUP BY 1, 2)
      SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
        CAST(sum(CASE WHEN x_hi < 96 OR x_lo > 159 OR y_hi < 96 OR y_lo > 159
          THEN 0 ELSE 1 END) AS BIGINT) AS files_scanned,
        CAST(sum(CASE WHEN x_hi < 96 OR x_lo > 159 OR y_hi < 96 OR y_lo > 159
          THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned
      FROM st GROUP BY layout ORDER BY layout"""
    }),

    // ----- small-file compaction planner (bin packing) -------------------
    // The OPTIMIZE/compaction primitive every table format needs: given
    // per-file sizes (here: synthetic "files" of 20 docs each, sized by
    // their text bytes), pack append-ordered files into ~64 KB target
    // bins per source partition via a running-sum split — the planner
    // shape Delta/Iceberg compaction actually uses (bins may overflow by
    // at most one file, which real planners accept). The plan is
    // metadata-scale: one aggregate over the manifest + one window per
    // partition key; the rewrite it drives is embarrassingly parallel
    // per bin. All integer arithmetic.
    ("q163_compaction_plan", (s: SparkSession, dir: String) => {
      import s.implicits._
      val files = Tables.spread(Tables.t(s, dir, "documents"))
        .groupBy($"source", expr("doc_id div 20").as("file_no"))
        .agg(sum($"n_chars").as("bytes"), count(lit(1)).as("n_docs"))
      val w = Window.partitionBy($"source").orderBy($"file_no")
        .rowsBetween(Window.unboundedPreceding, -1)
      files
        .withColumn("cum_before", coalesce(sum($"bytes").over(w), lit(0L)))
        .withColumn("bin_id", expr("cum_before div 65536"))
        .groupBy($"source", $"bin_id")
        .agg(count(lit(1)).as("n_files"), sum($"n_docs").as("n_docs"),
          sum($"bytes").as("bin_bytes"))
        .orderBy("source", "bin_id")
    }, Some("""
      WITH f AS (SELECT source, doc_id // 20 AS file_no,
          CAST(sum(n_chars) AS BIGINT) AS bytes, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1, 2),
      c AS (SELECT source, file_no, bytes, n_docs,
          COALESCE(CAST(sum(bytes) OVER (PARTITION BY source ORDER BY file_no
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
        FROM f)
      SELECT source, cum_before // 65536 AS bin_id,
        CAST(count(*) AS BIGINT) AS n_files, CAST(sum(n_docs) AS BIGINT) AS n_docs,
        CAST(sum(bytes) AS BIGINT) AS bin_bytes
      FROM c GROUP BY 1, 2 ORDER BY source, bin_id""")),

    // ----- equi-depth histogram builder (ANALYZE statistics) --------------
    // The planner statistic behind every selectivity estimate: 8
    // equal-mass buckets per column with boundaries, row counts, and
    // NDVs. Built the scale-safe way: one count aggregate per column to
    // the VALUE GRID (distinct values — bounded for l_quantity, and for
    // money columns pre-quantized to cents, the q126 convention), a
    // cumulative window over that grid (grid-sized, never row-sized),
    // and bucket assignment by the value's cumulative FIRST-row rank —
    // each distinct value lands wholly in one bucket, which is how a
    // real equi-depth histogram resolves heavy values straddling a
    // boundary (bucket masses then deviate from N/8 exactly where heavy
    // hitters sit, and that deviation is itself the skew signal the
    // planner wants). Two columns through one template; per-bucket
    // n_rows / n_values / lo / hi, the artifact ANALYZE would persist.
    ("q217_equidepth_histogram", (s: SparkSession, dir: String) => {
      import s.implicits._
      val li = Tables.t(s, dir, "lineitem")
      val vals = li.select(lit("l_quantity").as("col"),
          $"l_quantity".cast("long").as("v"))
        .unionByName(li.select(lit("price_cents").as("col"),
          floor($"l_extendedprice" * 100 + lit(0.5)).cast("long").as("v")))
      val grid = vals.groupBy($"col", $"v").agg(count(lit(1)).as("cnt"))
      val wg = Window.partitionBy($"col").orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val tot = vals.groupBy($"col").agg(count(lit(1)).as("n"))
      val g2 = grid.withColumn("cum_prev", coalesce(sum($"cnt").over(wg), lit(0L)))
        .join(broadcast(tot), "col")
        .withColumn("bucket", expr("least(7, (cum_prev * 8) div n)"))
      g2.groupBy($"col", $"bucket")
        .agg(sum($"cnt").as("n_rows"), count(lit(1)).as("n_values"),
          min($"v").as("lo"), max($"v").as("hi"))
        .orderBy("col", "bucket")
    }, Some("""
      WITH vals AS (
        SELECT 'l_quantity' AS col, CAST(l_quantity AS BIGINT) AS v FROM lineitem
        UNION ALL
        SELECT 'price_cents', CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) FROM lineitem),
      grid AS (SELECT col, v, CAST(count(*) AS BIGINT) AS cnt FROM vals GROUP BY 1, 2),
      tot AS (SELECT col, CAST(count(*) AS BIGINT) AS n FROM vals GROUP BY 1),
      g2 AS (SELECT g.col, g.v, g.cnt,
          CAST(coalesce(sum(g.cnt) OVER (PARTITION BY g.col ORDER BY g.v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_prev,
          t.n
        FROM grid g JOIN tot t ON t.col = g.col),
      b AS (SELECT col, v, cnt, least(7, (cum_prev * 8) // n) AS bucket FROM g2)
      SELECT col, bucket, CAST(sum(cnt) AS BIGINT) AS n_rows,
        CAST(count(*) AS BIGINT) AS n_values,
        min(v) AS lo, max(v) AS hi
      FROM b GROUP BY col, bucket ORDER BY col, bucket""")),

    // ----- corpus snapshot diff (dataset versioning) ----------------------
    // The delta audit between two corpus snapshots — the operation every
    // versioned data lake runs before retraining: which documents were
    // added / removed / changed / untouched, per source. v2 is derived
    // deterministically from v1 (drop doc_id%11=3, edit doc_id%7=2,
    // add a derived doc for doc_id%13=5) so the oracle sees the same
    // pair. The diff itself is the production shape: ONE full outer join
    // on the snapshot key comparing md5 content fingerprints — text
    // never crosses the shuffle, only 32-byte hashes, and the join key
    // is the natural partition key of both snapshots, so at 100 TB this
    // is a co-partitioned zipper with hash-only network traffic.
    ("q247_corpus_diff", (s: SparkSession, dir: String) => {
      import s.implicits._
      val base = Tables.t(s, dir, "documents").select($"doc_id", $"source", $"text")
      val v2 = base.filter($"doc_id" % 11 =!= 3)
        .select($"doc_id", $"source",
          when($"doc_id" % 7 === 2, concat($"text", lit(" v2")))
            .otherwise($"text").as("text"))
        .unionByName(base.filter($"doc_id" % 13 === 5)
          .select(($"doc_id" + 1000000L).as("doc_id"), $"source",
            concat(lit("new "), $"text").as("text")))
      val l = base.select($"doc_id".as("id1"), $"source".as("source1"),
        md5($"text").as("h1"))
      val r = v2.select($"doc_id".as("id2"), $"source".as("source2"),
        md5($"text").as("h2"))
      l.join(r, $"id1" === $"id2", "full_outer")
        .select(coalesce($"source1", $"source2").as("source"),
          coalesce($"id1", $"id2").as("doc_id"),
          when($"id1".isNull, lit("added"))
            .when($"id2".isNull, lit("removed"))
            .when($"h1" =!= $"h2", lit("changed"))
            .otherwise(lit("unchanged")).as("status"))
        .groupBy($"source", $"status")
        .agg(count(lit(1)).as("n"), sum($"doc_id").as("idsum"))
        .orderBy($"source", $"status")
    }, Some("""
      WITH base AS (SELECT doc_id, source, text FROM documents),
      v2 AS (SELECT doc_id, source,
          CASE WHEN doc_id % 7 = 2 THEN text || ' v2' ELSE text END AS text
        FROM base WHERE doc_id % 11 <> 3
        UNION ALL
        SELECT doc_id + 1000000, source, 'new ' || text FROM base
        WHERE doc_id % 13 = 5),
      l AS (SELECT doc_id AS id1, source AS source1, md5(text) AS h1 FROM base),
      r AS (SELECT doc_id AS id2, source AS source2, md5(text) AS h2 FROM v2),
      j AS (SELECT coalesce(source1, source2) AS source,
          coalesce(id1, id2) AS doc_id,
          CASE WHEN id1 IS NULL THEN 'added'
               WHEN id2 IS NULL THEN 'removed'
               WHEN h1 <> h2 THEN 'changed' ELSE 'unchanged' END AS status
        FROM l FULL OUTER JOIN r ON id1 = id2)
      SELECT source, status, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(doc_id) AS BIGINT) AS idsum
      FROM j GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ----- multi-way join-order advisor -----------------------------------
    // The planner decision q165 feeds: for the 3-table chain
    // customer ⋈ orders ⋈ lineitem, forecast BOTH intermediate
    // cardinalities from per-key count aggregates (|A⋈B| on key k =
    // Σ_k c_A(k)·c_B(k), in 128-bit), pick the cheaper start, and then
    // AUDIT the forecast by actually counting each intermediate — the
    // row-level joins run here only because the audit demands ground
    // truth; the advisor itself never touches a row. This is exactly
    // what a cost-based optimizer does with column statistics, made
    // relational and exact. At 100 TB the count aggregates are the
    // only corpus passes and they're reusable across every plan
    // considered — the forecast side scales with |distinct keys|, not
    // rows.
    ("q257_join_order_advisor", (s: SparkSession, dir: String) => {
      import s.implicits._
      val cust = Tables.t(s, dir, "customer").select($"c_custkey")
      val ord = Tables.t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val li = Tables.t(s, dir, "lineitem").select($"l_orderkey")
      // per-key count tables — the q165 primitive
      val cC = cust.groupBy($"c_custkey".as("k")).agg(count(lit(1)).as("nc"))
      val cOc = ord.groupBy($"o_custkey".as("k")).agg(count(lit(1)).as("no"))
      val cOo = ord.groupBy($"o_orderkey".as("k")).agg(count(lit(1)).as("no"))
      val cL = li.groupBy($"l_orderkey".as("k")).agg(count(lit(1)).as("nl"))
      val predCO = cC.join(cOc, Seq("k"))
        .agg(sum(expr("CAST(nc AS DECIMAL(38,0)) * no")).as("p")).select(
          lit("plan_co_first").as("plan"), $"p".cast("long").as("predicted"))
      val predOL = cOo.join(cL, Seq("k"))
        .agg(sum(expr("CAST(no AS DECIMAL(38,0)) * nl")).as("p")).select(
          lit("plan_ol_first").as("plan"), $"p".cast("long").as("predicted"))
      // ground-truth audit: count the actual intermediates + final
      val actCO = cust.join(ord, $"c_custkey" === $"o_custkey")
        .agg(count(lit(1)).as("actual"))
        .select(lit("plan_co_first").as("plan"), $"actual")
      val actOL = ord.join(li, $"o_orderkey" === $"l_orderkey")
        .agg(count(lit(1)).as("actual"))
        .select(lit("plan_ol_first").as("plan"), $"actual")
      val fin = cust.join(ord, $"c_custkey" === $"o_custkey")
        .join(li, $"o_orderkey" === $"l_orderkey")
        .agg(count(lit(1)).as("final_rows"))
      val pred = predCO.unionByName(predOL)
      val act = actCO.unionByName(actOL)
      val best = pred.agg(min($"predicted").as("bestp"))
      pred.join(act, Seq("plan")).crossJoin(broadcast(fin))
        .crossJoin(broadcast(best))
        .select($"plan", $"predicted", $"actual", $"final_rows",
          when($"predicted" === $"bestp", 1L).otherwise(0L).as("chosen"))
        .orderBy($"plan")
    }, Some("""
      WITH cc AS (SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS nc
        FROM customer GROUP BY 1),
      coc AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS no
        FROM orders GROUP BY 1),
      coo AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS no
        FROM orders GROUP BY 1),
      cl AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS nl
        FROM lineitem GROUP BY 1),
      pred AS (
        SELECT 'plan_co_first' AS plan,
          CAST(sum(CAST(nc AS HUGEINT) * no) AS BIGINT) AS predicted
        FROM cc JOIN coc USING (k)
        UNION ALL
        SELECT 'plan_ol_first',
          CAST(sum(CAST(no AS HUGEINT) * nl) AS BIGINT)
        FROM coo JOIN cl USING (k)),
      act AS (
        SELECT 'plan_co_first' AS plan, CAST(count(*) AS BIGINT) AS actual
        FROM customer JOIN orders ON c_custkey = o_custkey
        UNION ALL
        SELECT 'plan_ol_first', CAST(count(*) AS BIGINT)
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      fin AS (SELECT CAST(count(*) AS BIGINT) AS final_rows
        FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey),
      best AS (SELECT min(predicted) AS bestp FROM pred)
      SELECT p.plan, p.predicted, a.actual, f.final_rows,
        CAST(CASE WHEN p.predicted = b.bestp THEN 1 ELSE 0 END AS BIGINT) AS chosen
      FROM pred p JOIN act a ON p.plan = a.plan
      CROSS JOIN fin f CROSS JOIN best b
      ORDER BY p.plan""")),

    // Single-pass column profiling (the Deequ-style
    // completeness/distinctness/min-max audit every ingestion pipeline
    // runs before trusting a table), median/MAD robust outlier detection
    // (the heavy-tail-safe alternative to the q178-era mean/σ z-score),
    // and frequent-items sketch capacity planning (which counter budget k
    // GUARANTEES the true top-10 survives any Misra–Gries/space-saving
    // merge — the capacity-side companion to q155's count-min error and
    // q311's collision audit).
    //
    // House rules as elsewhere: integer arithmetic at every gate (money
    // as cents, dates as epoch days), identical aliases both sides, total
    // ORDER BY.

    // ----- typed column profile (numeric-correct min/max) -----------------
    // q125 profiles columns through a STRING unpivot — cross-engine
    // safe, but its min/max are lexicographic ('10.0' < '2.0'), which
    // is the wrong answer for planning range partitions or validating
    // bounds on a numeric column. This profile maps each column to a
    // deterministic INTEGER domain first (cents, epoch days, the house
    // money/date rules — injective, so distinct counts equal the raw
    // columns') and unpivots to (col_name, BIGINT value), so min/max
    // are numerically correct; the lone string column (returnflag)
    // rides a separate tiny aggregate with the same output schema.
    // Shape follows q125's documented rule, NOT the multi-distinct
    // form: Spark expands a 5-way count-distinct into 5 copies of
    // every row before the shuffle (Expand — measured 9.1 s vs 1.3 s
    // for this shape at sf0.1), while the stack-unpivot dedups per
    // (column, value) map-side before anything wide shuffles.
    // WIDE-SCHEMA rule (BENCHNOTES "Round 11", bench/r11_wide.json):
    // one stack() feeds ONE per-task partial-agg hash map covering every lane's
    // (col, value) grid — past ~16 lanes that map exceeds the
    // aggregate budget and falls back to sort-spill (15.6× slower and
    // erratic at 64 columns). Profile wider tables as a UNION of
    // ≤16-column stack chunks: row-identical output, same bytes read
    // (columnar pruning), per-branch maps that fit.
    ("q322_column_profile", (s: SparkSession, dir: String) => {
      import s.implicits._
      val num = Tables.t(s, dir, "lineitem").select(expr(
        """stack(4,
           'l_orderkey', l_orderkey,
           'l_quantity_int', CAST(l_quantity AS BIGINT),
           'l_extendedprice_cents',
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT),
           'l_shipdate_epd',
             CAST(datediff(to_date(l_shipdate), DATE '1970-01-01') AS BIGINT)
           ) AS (col_name, v)"""))
        .groupBy($"col_name", $"v").agg(count(lit(1)).as("c"))
        .groupBy($"col_name")
        .agg(sum($"c").as("n_rows"),
          count(when($"v".isNotNull, lit(1))).as("n_distinct"),
          sum(when($"v".isNull, $"c").otherwise(0L)).as("n_null"),
          min($"v").cast("string").as("min_val"),
          max($"v").cast("string").as("max_val"))
      val flag = Tables.t(s, dir, "lineitem")
        .groupBy($"l_returnflag".as("v")).agg(count(lit(1)).as("c"))
        .agg(lit("l_returnflag").as("col_name"), sum($"c").as("n_rows"),
          count(when($"v".isNotNull, lit(1))).as("n_distinct"),
          sum(when($"v".isNull, $"c").otherwise(0L)).as("n_null"),
          min($"v").as("min_val"), max($"v").as("max_val"))
      num.unionByName(flag)
        .select($"col_name", $"n_rows", $"n_distinct", $"n_null",
          expr("1000000 * (n_rows - n_null) div n_rows")
            .as("completeness_micro"),
          $"min_val", $"max_val")
        .orderBy($"col_name")
    }, Some("""
      WITH p AS (SELECT l_orderkey AS c1,
          CAST(l_quantity AS BIGINT) AS c2,
          CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c3,
          l_returnflag AS c4,
          CAST(date_diff('day', DATE '1970-01-01',
            CAST(l_shipdate AS DATE)) AS BIGINT) AS c5
        FROM lineitem),
      a AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(count(DISTINCT c1) AS BIGINT) AS d1,
          CAST(sum(CASE WHEN c1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS x1,
          CAST(min(c1) AS VARCHAR) AS mn1, CAST(max(c1) AS VARCHAR) AS mx1,
          CAST(count(DISTINCT c2) AS BIGINT) AS d2,
          CAST(sum(CASE WHEN c2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS x2,
          CAST(min(c2) AS VARCHAR) AS mn2, CAST(max(c2) AS VARCHAR) AS mx2,
          CAST(count(DISTINCT c3) AS BIGINT) AS d3,
          CAST(sum(CASE WHEN c3 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS x3,
          CAST(min(c3) AS VARCHAR) AS mn3, CAST(max(c3) AS VARCHAR) AS mx3,
          CAST(count(DISTINCT c4) AS BIGINT) AS d4,
          CAST(sum(CASE WHEN c4 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS x4,
          CAST(min(c4) AS VARCHAR) AS mn4, CAST(max(c4) AS VARCHAR) AS mx4,
          CAST(count(DISTINCT c5) AS BIGINT) AS d5,
          CAST(sum(CASE WHEN c5 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS x5,
          CAST(min(c5) AS VARCHAR) AS mn5, CAST(max(c5) AS VARCHAR) AS mx5
        FROM p)
      SELECT col_name, n_rows, n_distinct, n_null,
        1000000 * (n_rows - n_null) // n_rows AS completeness_micro,
        min_val, max_val
      FROM (
        SELECT 'l_orderkey' AS col_name, n AS n_rows, d1 AS n_distinct,
          x1 AS n_null, mn1 AS min_val, mx1 AS max_val FROM a
        UNION ALL SELECT 'l_quantity_int', n, d2, x2, mn2, mx2 FROM a
        UNION ALL SELECT 'l_extendedprice_cents', n, d3, x3, mn3, mx3 FROM a
        UNION ALL SELECT 'l_returnflag', n, d4, x4, mn4, mx4 FROM a
        UNION ALL SELECT 'l_shipdate_epd', n, d5, x5, mn5, mx5 FROM a)
      ORDER BY col_name""")),

    // The sampled range-partitioner audit (how much
    // partition imbalance does boundary SAMPLING — what Spark's
    // RangePartitioner actually does — cost vs the exact equi-depth
    // floor q217 owns), and the log-rank test (the two-group survival
    // comparison q265's single product-limit curve cannot run).
    //
    // (This batch shipped with a per-doc Kaplan–Meier and a postings
    // budget in its first draft; both duplicated existing operators —
    // q265 and q278 — and were removed in the round-9 dedup audit.)
    //
    // House rules as elsewhere: integer arithmetic at every gate,
    // identical aliases both sides, total ORDER BY.

    // ----- sampled range-partitioner audit ----------------------------------
    // A range shuffle at 100 TB never computes exact quantile
    // boundaries — it SAMPLES keys and cuts the sample (Spark's
    // RangePartitioner); q217 owns the exact equi-depth statistic.
    // The question that design leaves open is WHAT THE SAMPLING
    // COSTS: for sample rates 1% / 5% / 10% / 100%, cut 31 boundaries
    // from the md5-deterministic sample (boundary p = smallest sample
    // value with 32·cum ≥ p·n_s), assign the FULL corpus, and report
    // the worst partition's overfill vs the ideal n/32 — the number
    // that decides whether a rate suffices or AQE must re-split. The
    // 100% row is the exact-boundary floor (whole-value ties are the
    // residual skew even there). Shapes: sample grids and corpus grid
    // are distinct-value-bounded; assignment is ONE cumulative count
    // of interleaved boundary markers per rate (boundaries sort before
    // equal values: pid = #boundaries ≤ v) — no per-row boundary
    // search, no crossJoin against the corpus.
    ("q331_sampled_range_partitioner", (s: SparkSession, dir: String) => {
      import s.implicits._
      val c = Tables.t(s, dir, "orders")
        .select($"o_orderkey".as("k"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("v"))
        .withColumn("h",
          conv(substring(md5(concat(lit("rp|"), $"k".cast("string"))),
            1, 8), 16, 10).cast("long") % 100)
        .localCheckpoint() // reused: 4 sample grids + the corpus grid
      val rates = Seq(1L, 5L, 10L, 100L).map(Tuple1(_)).toDF("r")
      val samp = c.crossJoin(broadcast(rates)).filter($"h" < $"r")
        .groupBy($"r", $"v").agg(count(lit(1)).as("scnt"))
      val ws = Window.partitionBy($"r").orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wtot = Window.partitionBy($"r")
      val sg = samp.withColumn("cum", sum($"scnt").over(ws))
        .withColumn("ns", sum($"scnt").over(wtot))
      val bnd = sg
        .withColumn("plo", expr("least(31, 32 * (cum - scnt) div ns)"))
        .withColumn("phi", expr("least(31, 32 * cum div ns)"))
        .filter($"phi" > $"plo")
        .select($"r", $"v", explode(expr("sequence(plo + 1, phi)")).as("p"))
      val grid = c.groupBy($"v").agg(count(lit(1)).as("cnt"))
      val lanes = grid.crossJoin(broadcast(rates))
        .select($"r", $"v", $"cnt", lit(0L).as("isb"))
        .unionByName(bnd.select($"r", $"v", lit(0L).as("cnt"),
          lit(1L).as("isb")))
      val wl = Window.partitionBy($"r").orderBy($"v", desc("isb"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val assigned = lanes.withColumn("pid", sum($"isb").over(wl))
        .filter($"isb" === 0)
        .groupBy($"r", $"pid").agg(sum($"cnt").as("pn"))
      val n = c.agg(count(lit(1)).as("n"))
      val nsamp = samp.groupBy($"r").agg(sum($"scnt").as("n_sample"))
      assigned.groupBy($"r")
        .agg(max($"pn").as("max_part_rows"),
          count(lit(1)).as("n_parts_used"))
        .join(broadcast(nsamp), Seq("r"))
        .crossJoin(broadcast(n))
        .select($"r".as("sample_pct"), $"n_sample", $"n_parts_used",
          $"max_part_rows",
          expr("1000000 * max_part_rows * 32 div n - 1000000")
            .as("overfill_micro"))
        .orderBy($"sample_pct")
    }, Some("""
      WITH c AS (SELECT o_orderkey AS k,
          CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
          ('0x' || substr(md5('rp|' || CAST(o_orderkey AS VARCHAR)), 1, 8))
            ::BIGINT % 100 AS h
        FROM orders),
      rates AS (SELECT CAST(r AS BIGINT) AS r
        FROM (SELECT unnest([1, 5, 10, 100]) AS r)),
      samp AS (SELECT r, v, CAST(count(*) AS BIGINT) AS scnt
        FROM c CROSS JOIN rates WHERE h < r GROUP BY 1, 2),
      sg AS (SELECT r, v, scnt,
          CAST(sum(scnt) OVER (PARTITION BY r ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum,
          CAST(sum(scnt) OVER (PARTITION BY r) AS BIGINT) AS ns
        FROM samp),
      bnd AS (SELECT r, v,
          CAST(unnest(range(least(31, 32 * (cum - scnt) // ns) + 1,
            least(31, 32 * cum // ns) + 1)) AS BIGINT) AS p
        FROM sg WHERE least(31, 32 * cum // ns)
          > least(31, 32 * (cum - scnt) // ns)),
      grid AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY v),
      lanes AS (SELECT r, v, cnt, CAST(0 AS BIGINT) AS isb
          FROM grid CROSS JOIN rates
        UNION ALL SELECT r, v, CAST(0 AS BIGINT), CAST(1 AS BIGINT)
          FROM bnd),
      assigned AS (SELECT r, pid, CAST(sum(cnt) AS BIGINT) AS pn FROM
        (SELECT r, cnt, isb,
            CAST(sum(isb) OVER (PARTITION BY r ORDER BY v, isb DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS pid
          FROM lanes)
        WHERE isb = 0 GROUP BY 1, 2),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
      nsamp AS (SELECT r, CAST(sum(scnt) AS BIGINT) AS n_sample
        FROM samp GROUP BY 1)
      SELECT a.r AS sample_pct, nsamp.n_sample,
        CAST(count(*) AS BIGINT) AS n_parts_used,
        max(a.pn) AS max_part_rows,
        1000000 * max(a.pn) * 32 // max(n.n) - 1000000 AS overfill_micro
      FROM assigned a JOIN nsamp ON a.r = nsamp.r CROSS JOIN n
      GROUP BY a.r, nsamp.n_sample ORDER BY sample_pct""")),

    // Migration data-quality audits — the pre-flight
    // screens a schema migration (the reference's domain) runs BEFORE
    // moving data, each a question the reference's pipeline answers only
    // implicitly (by failing mid-COPY):
    //
    //  - q412 referential integrity: orphan child keys per FK edge —
    //    the rows a target-side `ADD CONSTRAINT` would reject;
    //  - q413 numeric-width sizing: per money/measure column, the digit
    //    envelope a TypeMapper-style NUMERIC(p,s) choice must cover;
    //  - q414 string width/charset: per text column, observed char/byte
    //    widths (the VARCHAR(n) sizing input) and non-ASCII / NUL
    //    incidence (the COPY-encoding hazards q06 scrubs).
    //
    // Scale shapes: q412 aggregates child keys before the anti join
    // (shuffle = distinct keys, parents broadcast when small); q413/q414
    // are single-scan column-pruned aggregates unioned into a roster-
    // sized report.

    // ----- referential-integrity audit --------------------------------------
    ("q412_fk_orphan_audit", (s: SparkSession, dir: String) => {
      import s.implicits._
      def edge(name: String, child: DataFrame, ck: String,
               parent: DataFrame, pk: String): DataFrame = {
        val keys = child.filter(col(ck).isNotNull)
          .groupBy(col(ck).as("k")).agg(count(lit(1)).as("n"))
        val orphans = keys.join(parent.select(col(pk).as("k")), Seq("k"), "left_anti")
        val tot = keys.agg(sum($"n").as("n_child"),
          count(lit(1)).as("n_distinct_keys"))
        val orp = orphans.agg(
          coalesce(sum($"n"), lit(0L)).as("n_orphan_rows"),
          count(lit(1)).as("n_orphan_keys"))
        tot.crossJoin(orp).select(lit(name).as("fk_edge"),
          $"n_child", $"n_distinct_keys", $"n_orphan_keys", $"n_orphan_rows",
          expr("1000000 * n_orphan_rows div n_child").as("orphan_ppm"))
      }
      val li = Tables.t(s, dir, "lineitem")
      Seq(
        edge("lineitem.l_orderkey->orders", li, "l_orderkey",
          Tables.t(s, dir, "orders"), "o_orderkey"),
        edge("lineitem.l_partkey->part", li, "l_partkey",
          Tables.t(s, dir, "part"), "p_partkey"),
        edge("lineitem.l_suppkey->supplier", li, "l_suppkey",
          Tables.t(s, dir, "supplier"), "s_suppkey"),
        edge("orders.o_custkey->customer", Tables.t(s, dir, "orders"),
          "o_custkey", Tables.t(s, dir, "customer"), "c_custkey"),
        edge("customer.c_nationkey->nation", Tables.t(s, dir, "customer"),
          "c_nationkey", Tables.t(s, dir, "nation"), "n_nationkey")
      ).reduce(_ unionByName _).orderBy("fk_edge")
    }, Some("""
      WITH e1 AS (SELECT 'lineitem.l_orderkey->orders' AS fk_edge, l_orderkey AS k
          FROM lineitem WHERE l_orderkey IS NOT NULL),
      e1a AS (SELECT fk_edge, k, count(*) AS n FROM e1 GROUP BY 1, 2),
      e1r AS (SELECT fk_edge, CAST(sum(n) AS BIGINT) AS n_child,
          CAST(count(*) AS BIGINT) AS n_distinct_keys,
          CAST(count(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) AS n_orphan_keys,
          CAST(coalesce(sum(n) FILTER (WHERE o_orderkey IS NULL), 0) AS BIGINT)
            AS n_orphan_rows
        FROM e1a LEFT JOIN orders ON k = o_orderkey GROUP BY 1),
      e2 AS (SELECT 'lineitem.l_partkey->part' AS fk_edge, l_partkey AS k
          FROM lineitem WHERE l_partkey IS NOT NULL),
      e2a AS (SELECT fk_edge, k, count(*) AS n FROM e2 GROUP BY 1, 2),
      e2r AS (SELECT fk_edge, CAST(sum(n) AS BIGINT), CAST(count(*) AS BIGINT),
          CAST(count(*) FILTER (WHERE p_partkey IS NULL) AS BIGINT),
          CAST(coalesce(sum(n) FILTER (WHERE p_partkey IS NULL), 0) AS BIGINT)
        FROM e2a LEFT JOIN part ON k = p_partkey GROUP BY 1),
      e3 AS (SELECT 'lineitem.l_suppkey->supplier' AS fk_edge, l_suppkey AS k
          FROM lineitem WHERE l_suppkey IS NOT NULL),
      e3a AS (SELECT fk_edge, k, count(*) AS n FROM e3 GROUP BY 1, 2),
      e3r AS (SELECT fk_edge, CAST(sum(n) AS BIGINT), CAST(count(*) AS BIGINT),
          CAST(count(*) FILTER (WHERE s_suppkey IS NULL) AS BIGINT),
          CAST(coalesce(sum(n) FILTER (WHERE s_suppkey IS NULL), 0) AS BIGINT)
        FROM e3a LEFT JOIN supplier ON k = s_suppkey GROUP BY 1),
      e4 AS (SELECT 'orders.o_custkey->customer' AS fk_edge, o_custkey AS k
          FROM orders WHERE o_custkey IS NOT NULL),
      e4a AS (SELECT fk_edge, k, count(*) AS n FROM e4 GROUP BY 1, 2),
      e4r AS (SELECT fk_edge, CAST(sum(n) AS BIGINT), CAST(count(*) AS BIGINT),
          CAST(count(*) FILTER (WHERE c_custkey IS NULL) AS BIGINT),
          CAST(coalesce(sum(n) FILTER (WHERE c_custkey IS NULL), 0) AS BIGINT)
        FROM e4a LEFT JOIN customer ON k = c_custkey GROUP BY 1),
      e5 AS (SELECT 'customer.c_nationkey->nation' AS fk_edge,
          CAST(c_nationkey AS BIGINT) AS k
          FROM customer WHERE c_nationkey IS NOT NULL),
      e5a AS (SELECT fk_edge, k, count(*) AS n FROM e5 GROUP BY 1, 2),
      e5r AS (SELECT fk_edge, CAST(sum(n) AS BIGINT), CAST(count(*) AS BIGINT),
          CAST(count(*) FILTER (WHERE n_nationkey IS NULL) AS BIGINT),
          CAST(coalesce(sum(n) FILTER (WHERE n_nationkey IS NULL), 0) AS BIGINT)
        FROM e5a LEFT JOIN nation ON k = n_nationkey GROUP BY 1),
      u AS (SELECT * FROM e1r UNION ALL SELECT * FROM e2r
        UNION ALL SELECT * FROM e3r UNION ALL SELECT * FROM e4r
        UNION ALL SELECT * FROM e5r)
      SELECT fk_edge, n_child, n_distinct_keys, n_orphan_keys, n_orphan_rows,
        1000000 * n_orphan_rows // n_child AS orphan_ppm
      FROM u ORDER BY fk_edge""")),

    // ----- numeric-width sizing audit ---------------------------------------
    // The digit envelope behind a NUMERIC(p,s) target-type choice: max
    // integer digits observed, negatives, nulls, and rows that would
    // overflow NUMERIC(12,2)'s 10 integer digits. floor(abs(x)) is
    // exact in doubles at these magnitudes, so the digit count is an
    // integer fact, not a float estimate.
    ("q413_numeric_width_audit", (s: SparkSession, dir: String) => {
      import s.implicits._
      def audit(table: String, column: String): DataFrame = {
        val x = col(column)
        Tables.t(s, dir, table).agg(
          count(lit(1)).as("n_rows"),
          sum(x.isNull.cast("long")).as("n_null"),
          sum((x < 0).cast("long")).as("n_negative"),
          max(length(floor(abs(x)).cast("long").cast("string"))
            .cast("long")).as("max_int_digits"),
          sum((abs(x) >= 1e10).cast("long")).as("n_overflow_12_2"))
          .select(lit(s"$table.$column").as("col"), $"n_rows", $"n_null",
            $"n_negative", $"max_int_digits", $"n_overflow_12_2")
      }
      Seq(audit("lineitem", "l_extendedprice"), audit("lineitem", "l_quantity"),
        audit("orders", "o_totalprice"), audit("customer", "c_acctbal"),
        audit("part", "p_retailprice"), audit("supplier", "s_acctbal"),
        audit("events", "value"))
        .reduce(_ unionByName _).orderBy("col")
    }, Some("""
      WITH a AS (
        SELECT 'lineitem.l_extendedprice' AS col, count(*) AS n_rows,
          count(*) FILTER (WHERE l_extendedprice IS NULL) AS n_null,
          count(*) FILTER (WHERE l_extendedprice < 0) AS n_negative,
          max(length(CAST(CAST(floor(abs(l_extendedprice)) AS BIGINT) AS VARCHAR))) AS max_int_digits,
          count(*) FILTER (WHERE abs(l_extendedprice) >= 1e10) AS n_overflow_12_2
        FROM lineitem
        UNION ALL SELECT 'lineitem.l_quantity', count(*),
          count(*) FILTER (WHERE l_quantity IS NULL),
          count(*) FILTER (WHERE l_quantity < 0),
          max(length(CAST(CAST(floor(abs(l_quantity)) AS BIGINT) AS VARCHAR))),
          count(*) FILTER (WHERE abs(l_quantity) >= 1e10) FROM lineitem
        UNION ALL SELECT 'orders.o_totalprice', count(*),
          count(*) FILTER (WHERE o_totalprice IS NULL),
          count(*) FILTER (WHERE o_totalprice < 0),
          max(length(CAST(CAST(floor(abs(o_totalprice)) AS BIGINT) AS VARCHAR))),
          count(*) FILTER (WHERE abs(o_totalprice) >= 1e10) FROM orders
        UNION ALL SELECT 'customer.c_acctbal', count(*),
          count(*) FILTER (WHERE c_acctbal IS NULL),
          count(*) FILTER (WHERE c_acctbal < 0),
          max(length(CAST(CAST(floor(abs(c_acctbal)) AS BIGINT) AS VARCHAR))),
          count(*) FILTER (WHERE abs(c_acctbal) >= 1e10) FROM customer
        UNION ALL SELECT 'part.p_retailprice', count(*),
          count(*) FILTER (WHERE p_retailprice IS NULL),
          count(*) FILTER (WHERE p_retailprice < 0),
          max(length(CAST(CAST(floor(abs(p_retailprice)) AS BIGINT) AS VARCHAR))),
          count(*) FILTER (WHERE abs(p_retailprice) >= 1e10) FROM part
        UNION ALL SELECT 'supplier.s_acctbal', count(*),
          count(*) FILTER (WHERE s_acctbal IS NULL),
          count(*) FILTER (WHERE s_acctbal < 0),
          max(length(CAST(CAST(floor(abs(s_acctbal)) AS BIGINT) AS VARCHAR))),
          count(*) FILTER (WHERE abs(s_acctbal) >= 1e10) FROM supplier
        UNION ALL SELECT 'events.value', count(*),
          count(*) FILTER (WHERE value IS NULL),
          count(*) FILTER (WHERE value < 0),
          max(length(CAST(CAST(floor(abs(value)) AS BIGINT) AS VARCHAR))),
          count(*) FILTER (WHERE abs(value) >= 1e10) FROM events)
      SELECT col, CAST(n_rows AS BIGINT) AS n_rows,
        CAST(n_null AS BIGINT) AS n_null,
        CAST(n_negative AS BIGINT) AS n_negative,
        CAST(max_int_digits AS BIGINT) AS max_int_digits,
        CAST(n_overflow_12_2 AS BIGINT) AS n_overflow_12_2
      FROM a ORDER BY col""")),

    // ----- string width / charset audit -------------------------------------
    // The VARCHAR(n) sizing input plus the two COPY-encoding hazards
    // (non-ASCII, embedded NUL) per text column — what q06's scrubber
    // handles row-wise, reported as a per-column incidence screen.
    ("q414_string_width_audit", (s: SparkSession, dir: String) => {
      import s.implicits._
      def audit(table: String, column: String): DataFrame = {
        val x = col(column)
        Tables.t(s, dir, table).agg(
          count(lit(1)).as("n_rows"),
          sum(x.isNull.cast("long")).as("n_null"),
          max(length(x).cast("long")).as("max_chars"),
          max(octet_length(x).cast("long")).as("max_bytes"),
          sum(x.rlike("[^\\x00-\\x7F]").cast("long")).as("n_non_ascii"),
          sum((instr(x, "\u0000") > 0).cast("long")).as("n_with_nul"))
          .select(lit(s"$table.$column").as("col"), $"n_rows", $"n_null",
            $"max_chars", $"max_bytes", $"n_non_ascii", $"n_with_nul")
      }
      Seq(audit("customer", "c_name"), audit("customer", "c_mktsegment"),
        audit("part", "p_name"), audit("part", "p_type"),
        audit("supplier", "s_name"), audit("events", "event_type"),
        audit("events", "props"), audit("documents", "lang"))
        .reduce(_ unionByName _).orderBy("col")
    }, Some("""
      WITH a AS (
        SELECT 'customer.c_name' AS col, count(*) AS n_rows,
          count(*) FILTER (WHERE c_name IS NULL) AS n_null,
          max(length(c_name)) AS max_chars, max(strlen(c_name)) AS max_bytes,
          count(*) FILTER (WHERE regexp_matches(c_name, '[^\x00-\x7F]')) AS n_non_ascii,
          count(*) FILTER (WHERE strpos(c_name, chr(0)) > 0) AS n_with_nul
        FROM customer
        UNION ALL SELECT 'customer.c_mktsegment', count(*),
          count(*) FILTER (WHERE c_mktsegment IS NULL),
          max(length(c_mktsegment)), max(strlen(c_mktsegment)),
          count(*) FILTER (WHERE regexp_matches(c_mktsegment, '[^\x00-\x7F]')),
          count(*) FILTER (WHERE strpos(c_mktsegment, chr(0)) > 0)
        FROM customer
        UNION ALL SELECT 'part.p_name', count(*),
          count(*) FILTER (WHERE p_name IS NULL),
          max(length(p_name)), max(strlen(p_name)),
          count(*) FILTER (WHERE regexp_matches(p_name, '[^\x00-\x7F]')),
          count(*) FILTER (WHERE strpos(p_name, chr(0)) > 0)
        FROM part
        UNION ALL SELECT 'part.p_type', count(*),
          count(*) FILTER (WHERE p_type IS NULL),
          max(length(p_type)), max(strlen(p_type)),
          count(*) FILTER (WHERE regexp_matches(p_type, '[^\x00-\x7F]')),
          count(*) FILTER (WHERE strpos(p_type, chr(0)) > 0)
        FROM part
        UNION ALL SELECT 'supplier.s_name', count(*),
          count(*) FILTER (WHERE s_name IS NULL),
          max(length(s_name)), max(strlen(s_name)),
          count(*) FILTER (WHERE regexp_matches(s_name, '[^\x00-\x7F]')),
          count(*) FILTER (WHERE strpos(s_name, chr(0)) > 0)
        FROM supplier
        UNION ALL SELECT 'events.event_type', count(*),
          count(*) FILTER (WHERE event_type IS NULL),
          max(length(event_type)), max(strlen(event_type)),
          count(*) FILTER (WHERE regexp_matches(event_type, '[^\x00-\x7F]')),
          count(*) FILTER (WHERE strpos(event_type, chr(0)) > 0)
        FROM events
        UNION ALL SELECT 'events.props', count(*),
          count(*) FILTER (WHERE props IS NULL),
          max(length(props)), max(strlen(props)),
          count(*) FILTER (WHERE regexp_matches(props, '[^\x00-\x7F]')),
          count(*) FILTER (WHERE strpos(props, chr(0)) > 0)
        FROM events
        UNION ALL SELECT 'documents.lang', count(*),
          count(*) FILTER (WHERE lang IS NULL),
          max(length(lang)), max(strlen(lang)),
          count(*) FILTER (WHERE regexp_matches(lang, '[^\x00-\x7F]')),
          count(*) FILTER (WHERE strpos(lang, chr(0)) > 0)
        FROM documents)
      SELECT col, CAST(n_rows AS BIGINT) AS n_rows,
        CAST(n_null AS BIGINT) AS n_null,
        CAST(max_chars AS BIGINT) AS max_chars,
        CAST(max_bytes AS BIGINT) AS max_bytes,
        CAST(n_non_ascii AS BIGINT) AS n_non_ascii,
        CAST(n_with_nul AS BIGINT) AS n_with_nul
      FROM a ORDER BY col"""))
  )
}
