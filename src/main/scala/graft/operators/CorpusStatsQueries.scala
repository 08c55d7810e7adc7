package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Dedup, GridCumulative, TextAnalysis => TA}
import graft.operators.RelationalQueries.tusOf

/** Corpus statistics: distribution drift, information measures, time-
  * series monitors, causal and survival estimates and the estimators a
  * corpus report reads.
  *
  * Section "Text analysis & corpus curation" of
  * docs/OPERATORS.md.
  */
object CorpusStatsQueries {

  private val normSql = TA.normTextSql
  private val P = Dedup.HashPrime

  // ----- shared drift-grid machinery ---------------------------------

  /** (cums, totals): one row per distinct n_chars with per-split counts
    * (ca, cb), running totals (cuma, cumb, cump — GridCumulative, so
    * bounded per-task state), and the (n_a, n_b) totals table.
    */
  private def driftCums(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    // checkpoint the grid: the totals branch and the three cumulative
    // branches all read the materialized value-domain-sized grid, so
    // the CORPUS is scanned exactly once per query (PlanQualitySpec
    // pins the grid plan: one scan, pruned to (doc_id, n_chars))
    val g = driftGrid(s, dir).localCheckpoint()
    val cums = GridCumulative.withRunningTotal(
      GridCumulative.withRunningTotal(
        GridCumulative.withRunningTotal(g, "n_chars", "ca", "cuma"),
        "n_chars", "cb", "cumb")
        .withColumn("cp", $"ca" + $"cb"),
      "n_chars", "cp", "cump")
    val tot = g.agg(sum($"ca").as("n_a"), sum($"cb").as("n_b"))
    (cums, tot)
  }

  /** The pre-checkpoint grid plan — exposed so PlanQualitySpec can
    * assert the one-pruned-scan shape that checkpointing hides from
    * the final plans. */
  private[graft] def driftGrid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.spread(Tables.t(s, dir, "documents"))
      .select($"n_chars", (pmod($"doc_id", lit(2)) === 0).as("is_a"))
      .groupBy($"n_chars").agg(
        sum(when($"is_a", 1L).otherwise(0L)).as("ca"),
        sum(when($"is_a", 0L).otherwise(1L)).as("cb"))
  }

  /** DuckDB CTE chain ending in `c(n_chars, ca, cb, cuma, cumb, cump)`
    * and `t(n_a, n_b)` — the oracle rendering of [[driftCums]].
    */
  private val DriftGridSql: String = """
      d0 AS (SELECT n_chars, (doc_id % 2 = 0) AS is_a FROM documents),
      g AS (SELECT n_chars,
          CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
          CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        FROM d0 GROUP BY 1),
      c AS (SELECT n_chars, ca, cb,
          sum(ca) OVER (ORDER BY n_chars) AS cuma,
          sum(cb) OVER (ORDER BY n_chars) AS cumb,
          sum(ca + cb) OVER (ORDER BY n_chars) AS cump
        FROM g),
      t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
          CAST(sum(cb) AS BIGINT) AS n_b FROM g)"""

  /** D = d_num/(nA·nB) — identical text on both engines so the IEEE
    * chain agrees to the last ulp. */
  private val KsDSql =
    "CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))"

  /** Exact integer decile assignment: bin b ⟺ b·n ≤ (cum_pool−1)·10
    * < (b+1)·n. Spark side compares DECIMAL(38,0) columns xp/nt. */
  private val PsiBinCase: String =
    (9 to 1 by -1).map(b => s"WHEN xp >= $b * nt THEN ${b}L")
      .mkString("CASE ", " ", " ELSE 0L END")

  /** The same CASE for DuckDB, inline over HUGEINT cump. */
  private val PsiBinCaseSql: String =
    (9 to 1 by -1).map(b =>
      s"WHEN (cump - 1) * 10 >= $b * (SELECT n_a + n_b FROM t) THEN $b")
      .mkString("CASE ", " ", " ELSE 0 END")

  /** Per-bin PSI term — identical text on both engines. */
  private val PsiTermSql = """CASE WHEN a = 0 OR b = 0 THEN CAST(0.0 AS DOUBLE)
      ELSE (CAST(a AS DOUBLE) / CAST(n_a AS DOUBLE)
          - CAST(b AS DOUBLE) / CAST(n_b AS DOUBLE))
        * ln((CAST(a AS DOUBLE) / CAST(n_a AS DOUBLE))
           / (CAST(b AS DOUBLE) / CAST(n_b AS DOUBLE))) END"""

  def queries: Seq[Entry] = Seq(

    // ----- robust length outliers: exact median/MAD from histograms ------
    // Quality-filter signal: per-source token-length median and MAD and
    // the docs beyond 3 MADs. The medians are EXACT but never buffer a
    // group's values (percentile_cont's sort-buffering aggregate does,
    // which is why q49's shape would not survive a 100 TB group):
    // aggregate to a (source, value, count) histogram — bounded by
    // |sources| x |distinct lengths|, both small — and read the median
    // off the cumulative window. The deviation histogram repeats the
    // trick around the median. Integer values and half-step medians keep
    // every comparison exact in IEEE double on both engines.
    ("q126_robust_outliers", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"source",
          size(split(TA.normText($"text"), " ")).cast("long").as("v"))
      def histMedian(df: DataFrame, valCol: String, out: String): DataFrame = {
        val hist = df.groupBy($"source", col(valCol)).agg(count(lit(1)).as("c"))
        val wCum = Window.partitionBy($"source").orderBy(col(valCol))
        val wTot = Window.partitionBy($"source")
        hist
          .withColumn("cum", sum($"c").over(wCum))
          .withColumn("tot", sum($"c").over(wTot))
          .groupBy($"source")
          .agg(((min(when($"cum" >= floor(($"tot" + 1) / 2), col(valCol))) +
            min(when($"cum" >= floor($"tot" / 2) + 1, col(valCol)))) / 2.0).as(out))
      }
      val med = histMedian(d, "v", "median_v")
      val dev = d.join(med, Seq("source"))
        .select($"source", abs($"v".cast("double") - $"median_v").as("dv"))
      val mad = histMedian(dev, "dv", "mad_v")
      d.join(med, Seq("source")).join(mad, Seq("source"))
        .groupBy($"source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          min($"median_v").as("median_tokens"),
          min($"mad_v").as("mad_tokens"),
          sum(when(abs($"v".cast("double") - $"median_v") > lit(3) * $"mad_v", 1L)
            .otherwise(0L)).cast("long").as("n_outliers"))
        .orderBy("source")
    }, Some(s"""
      WITH d AS (SELECT doc_id, source,
          CAST(len(string_split($normSql, ' ')) AS BIGINT) AS v FROM documents),
      hist AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY source, v),
      win AS (SELECT source, v, c,
          sum(c) OVER (PARTITION BY source ORDER BY v) AS cum,
          sum(c) OVER (PARTITION BY source) AS tot
        FROM hist),
      med AS (SELECT source,
          (min(CASE WHEN cum >= floor((tot + 1) / 2) THEN v END)
           + min(CASE WHEN cum >= floor(tot / 2) + 1 THEN v END)) / 2.0 AS median_v
        FROM win GROUP BY source),
      dev AS (SELECT d.source, abs(CAST(d.v AS DOUBLE) - m.median_v) AS dv,
          CAST(count(*) AS BIGINT) AS c
        FROM d JOIN med m ON d.source = m.source GROUP BY d.source, dv),
      dwin AS (SELECT source, dv, c,
          sum(c) OVER (PARTITION BY source ORDER BY dv) AS cum,
          sum(c) OVER (PARTITION BY source) AS tot
        FROM dev),
      mad AS (SELECT source,
          (min(CASE WHEN cum >= floor((tot + 1) / 2) THEN dv END)
           + min(CASE WHEN cum >= floor(tot / 2) + 1 THEN dv END)) / 2.0 AS mad_v
        FROM dwin GROUP BY source)
      SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        min(m.median_v) AS median_tokens, min(x.mad_v) AS mad_tokens,
        CAST(sum(CASE WHEN abs(CAST(d.v AS DOUBLE) - m.median_v) > 3 * x.mad_v
          THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM d JOIN med m ON d.source = m.source JOIN mad x ON d.source = x.source
      GROUP BY d.source ORDER BY d.source""")),

    // ----- domain drift: per-source KL divergence from the corpus --------
    // Distribution-shift monitor: KL(p_source || p_corpus) over unigram
    // distributions, in nats. Rewritten for exactness as
    // (1/n) * sum_t f_t * [micro_ln(f_t/n) - micro_ln(g_t/m)] — the
    // per-token factor is an INTEGER (count x micro-ln difference), so
    // the shuffle-order-sensitive double sum the naive p*ln(p/q) form
    // would need never appears (the q80/q119 rule). Both aggregates and
    // the join key on (source,) token; the corpus total is an in-DAG
    // broadcast scalar (q86 rule).
    ("q127_kl_drift", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", explode(split(TA.normText($"text"), " ")).as("tok"))
      val src = toks.groupBy($"source", $"tok").agg(count(lit(1)).as("f"))
      val srcn = src.groupBy($"source").agg(sum($"f").as("n"))
      val corp = toks.groupBy($"tok").agg(count(lit(1)).as("g"))
      val m = toks.agg(count(lit(1)).as("m"))
      src.join(srcn, Seq("source")).join(corp, Seq("tok")).crossJoin(broadcast(m))
        .select($"source", $"f",
          (floor(log($"f".cast("double") / $"n".cast("double")) * 1e6 + 0.5).cast("long")
            - floor(log($"g".cast("double") / $"m".cast("double")) * 1e6 + 0.5).cast("long"))
            .as("dln"))
        .groupBy($"source")
        .agg(sum($"f" * $"dln").as("s"), sum($"f").cast("long").as("n_tokens"))
        .select($"source", $"n_tokens",
          round($"s".cast("double") / ($"n_tokens".cast("double") * 1e6), 6).as("kl_nats"))
        .orderBy("source")
    }, Some(s"""
      WITH toks AS (SELECT source, unnest(string_split($normSql, ' ')) AS tok FROM documents),
      src AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY source, tok),
      srcn AS (SELECT source, CAST(sum(f) AS BIGINT) AS n FROM src GROUP BY source),
      corp AS (SELECT tok, CAST(count(*) AS BIGINT) AS g FROM toks GROUP BY tok),
      m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM toks),
      terms AS (SELECT s.source, s.f,
          CAST(floor(ln(CAST(s.f AS DOUBLE) / sn.n) * 1e6 + 0.5) AS BIGINT)
            - CAST(floor(ln(CAST(c.g AS DOUBLE) / m.m) * 1e6 + 0.5) AS BIGINT) AS dln
        FROM src s JOIN srcn sn ON s.source = sn.source
        JOIN corp c ON s.tok = c.tok CROSS JOIN m),
      agg AS (SELECT source, sum(f * dln) AS s, CAST(sum(f) AS BIGINT) AS n FROM terms GROUP BY source)
      SELECT source, n AS n_tokens,
        round(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6), 6) AS kl_nats
      FROM agg ORDER BY source""")),

    // ----- per-source length deciles -------------------------------------
    // Mixture-design input: the n_chars decile boundaries and populations
    // within each source (ntile(10), ties broken by doc_id so the split
    // is engine-deterministic). One window pass + one aggregate; the
    // window is partitioned by source, so at scale each source's sort is
    // its own shuffle partition set.
    ("q138_length_deciles", (s: SparkSession, dir: String) => {
      import s.implicits._
      val w = Window.partitionBy($"source").orderBy($"n_chars", $"doc_id")
      Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", $"doc_id", $"n_chars", ntile(10).over(w).as("decile"))
        .groupBy($"source", $"decile")
        .agg(count(lit(1)).as("n_docs"),
          min($"n_chars").as("min_chars"), max($"n_chars").as("max_chars"))
        .orderBy("source", "decile")
    }, Some("""
      WITH t AS (SELECT source, doc_id, n_chars,
        ntile(10) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS decile
        FROM documents)
      SELECT source, decile, CAST(count(*) AS BIGINT) AS n_docs,
        min(n_chars) AS min_chars, max(n_chars) AS max_chars
      FROM t GROUP BY source, decile ORDER BY source, decile""")),

    // ----- seasonal anomaly monitor (hour-of-day baseline) ----------------
    // Ingest monitoring for the event feed: per (event_type, hour-of-day)
    // the median daily count is the seasonal baseline, and a day is
    // anomalous when its count deviates from that median by more than
    // the median itself (|c - med| > med). Exactness trick: med2 =
    // 2·median is an exact integer for integer counts (the even-n
    // midpoint average doubles back to an integer — both engines'
    // interpolating percentile agrees bit-for-bit on (a+b)/2 of longs),
    // so the flag is the integer inequality |2c - med2| > med2 and no
    // float crosses the gate; max deviation is emitted in ppm by
    // integer division. Output is the bounded per-slot monitor table
    // (types × 24 rows), never per-event — at 100 TB the hourly count
    // aggregate is the only full scan and everything after it is
    // metadata-scale.
    ("q168_seasonal_anomaly", (s: SparkSession, dir: String) => {
      import s.implicits._
      val c = Tables.t(s, dir, "events")
        .groupBy($"event_type", to_date($"ts").as("day"), hour($"ts").as("hod"))
        .agg(count(lit(1)).as("c"))
      val base = c.groupBy($"event_type", $"hod")
        .agg(expr("CAST(2 * percentile(c, 0.5D) AS BIGINT)").as("med2"))
      c.join(base, Seq("event_type", "hod"))
        .groupBy($"event_type", $"hod")
        .agg(count(lit(1)).as("n_days"), max($"med2").as("med2"),
          sum(when(abs($"c" * 2 - $"med2") > $"med2", 1L).otherwise(0L)).as("n_anomalous"),
          max(expr("(abs(c * 2 - med2) * 1000000) div med2")).as("max_dev_ppm"))
        .orderBy("event_type", "hod")
    }, Some("""
      WITH c AS (SELECT event_type, CAST(ts AS DATE) AS day,
          CAST(extract(hour FROM ts) AS INTEGER) AS hod, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2, 3),
      base AS (SELECT event_type, hod, CAST(2 * median(c) AS BIGINT) AS med2
        FROM c GROUP BY 1, 2)
      SELECT c.event_type, c.hod, CAST(count(*) AS BIGINT) AS n_days,
        max(med2) AS med2,
        CAST(sum(CASE WHEN abs(c * 2 - med2) > med2 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous,
        CAST(max((abs(c * 2 - med2) * 1000000) // med2) AS BIGINT) AS max_dev_ppm
      FROM c JOIN base USING (event_type, hod)
      GROUP BY 1, 2 ORDER BY event_type, hod""")),

    // Corpus-comparison statistics (MinHash source
    // similarity, KS drift), collocation mining, and diversity capping —
    // each with a DuckDB oracle.
    //
    // House rules as elsewhere: shared md5/permutation templates, the
    // micro-ln rule for transcendentals, integer arithmetic near the gate,
    // identical aliases, total ORDER BY.

    // ----- pairwise source similarity: MinHash signatures + exact audit -
    // The corpus-comparison matrix a mixing planner reads: per-source
    // token-SET MinHash signatures (8 permutations from the q21
    // template, each one min() AGGREGATE — the signature is mergeable,
    // so at 100 TB it maintains incrementally and the pairwise stage
    // touches only |sources|² signature rows, never content). The exact
    // Jaccard audit joins distinct (source, token) pairs on the token —
    // |vocab|-bounded, the measure of what the 8-component estimate
    // (resolution 1/8 = 125000 micro) trades away.
    ("q194_source_similarity", (s: SparkSession, dir: String) => {
      import s.implicits._
      val st = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", explode(split(TA.normText($"text"), " ")).as("tok"))
        .distinct()
      val h = st.withColumn("h",
        conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long"))
      val minCols: Seq[Column] = (0 until 8).map { k =>
        val (a, b) = Dedup.permConsts(k)
        min(($"h" * a + b) % P).as(s"m$k")
      }
      val sigs = h.groupBy($"source")
        .agg(count(lit(1)).as("n_toks"), minCols: _*)
      val a = sigs.toDF(sigs.columns.map(c => s"a_$c"): _*)
      val b = sigs.toDF(sigs.columns.map(c => s"b_$c"): _*)
      val matches = (0 until 8).map(k =>
        when(col(s"a_m$k") === col(s"b_m$k"), 1).otherwise(0)).reduce(_ + _)
      val pairs = a.join(b, col("a_source") < col("b_source"))
        .select(col("a_source").as("source_a"), col("b_source").as("source_b"),
          col("a_n_toks").as("n_a"), col("b_n_toks").as("n_b"),
          matches.cast("long").as("sig_matches"))
      val inter = st.toDF("source_a", "tok")
        .join(st.toDF("source_b", "tok"), Seq("tok"))
        .filter($"source_a" < $"source_b")
        .groupBy($"source_a", $"source_b").agg(count(lit(1)).as("inter"))
      pairs.join(inter, Seq("source_a", "source_b"), "left")
        .na.fill(0L, Seq("inter"))
        .select($"source_a", $"source_b", $"n_a", $"n_b", $"inter",
          ($"sig_matches" * 125000).as("est_micro"),
          expr("(1000000 * inter) div (n_a + n_b - inter)").as("exact_micro"))
        .orderBy($"source_a", $"source_b")
    }, Some {
      val mins = (0 until 8).map { k =>
        val (a, b) = Dedup.permConsts(k)
        s"min((h * $a + $b) % $P) AS m$k"
      }.mkString(", ")
      val eq = (0 until 8).map(k =>
        s"(CASE WHEN a.m$k = b.m$k THEN 1 ELSE 0 END)").mkString(" + ")
      s"""
      WITH st AS (SELECT DISTINCT source, tok
        FROM (SELECT source, unnest(string_split($normSql, ' ')) AS tok FROM documents)),
      h AS (SELECT source, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM st),
      sig AS (SELECT source, CAST(count(*) AS BIGINT) AS n_toks, $mins
        FROM h GROUP BY 1),
      pairs AS (SELECT a.source AS source_a, b.source AS source_b,
          a.n_toks AS n_a, b.n_toks AS n_b, CAST($eq AS BIGINT) AS sig_matches
        FROM sig a JOIN sig b ON a.source < b.source),
      i AS (SELECT x.source AS source_a, y.source AS source_b,
          CAST(count(*) AS BIGINT) AS inter
        FROM st x JOIN st y ON x.tok = y.tok AND x.source < y.source GROUP BY 1, 2)
      SELECT p.source_a, p.source_b, p.n_a, p.n_b,
        CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
        p.sig_matches * 125000 AS est_micro,
        (1000000 * CAST(coalesce(i.inter, 0) AS BIGINT))
          // (p.n_a + p.n_b - CAST(coalesce(i.inter, 0) AS BIGINT)) AS exact_micro
      FROM pairs p LEFT JOIN i ON p.source_a = i.source_a AND p.source_b = i.source_b
      ORDER BY 1, 2"""
    }),

    // ----- Kolmogorov–Smirnov drift per source --------------------------
    // The distribution-shift complement to q127's KL: the exact
    // two-sample KS statistic between each source's length distribution
    // and the whole corpus — max over the value grid of
    // |ECDF_s − ECDF_corpus|, computed entirely in integers as
    // max|cum_s·n − cum_c·n_s| / (n_s·n) (the denominator is constant
    // per source, so the max moves inside; the cross-products run in
    // 128-bit integers — DECIMAL(38,0)/HUGEINT — since cum·n reaches n²,
    // past Int64 at ~3e9 rows). The grid is the DISTINCT
    // value set (bounded by value cardinality — bucket first for
    // unbounded domains); each source's cumulative rides its own window
    // partition, so sources scan in parallel and nothing global sorts.
    ("q195_ks_drift", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", $"n_chars".as("v"))
      val ns = d.groupBy($"source").agg(count(lit(1)).as("n_s"))
      val tot = d.agg(count(lit(1)).as("n"))
      val sv = d.groupBy($"source", $"v").agg(count(lit(1)).as("c"))
      val cv = graft.ext.GridCumulative.withRunningTotal(
          d.groupBy($"v").agg(count(lit(1)).as("c")), "v", "c", "cum_c")
        .select($"v", $"cum_c")
      val grid = d.select($"source").distinct().crossJoin(d.select($"v").distinct())
      val cums = grid.join(sv, Seq("source", "v"), "left")
        .na.fill(0L, Seq("c"))
        .withColumn("cum_s", sum($"c").over(
          Window.partitionBy($"source").orderBy($"v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      cums.join(cv, Seq("v"))
        .join(ns, Seq("source"))
        .crossJoin(broadcast(tot))
        .groupBy($"source")
        .agg(max($"n_s").as("n_docs"),
          max(abs(expr("CAST(cum_s AS DECIMAL(38,0)) * n") -
                  expr("CAST(cum_c AS DECIMAL(38,0)) * n_s"))).as("mx"),
          max(expr("CAST(n_s AS DECIMAL(38,0)) * n")).as("den"))
        .select($"source", $"n_docs",
          expr("CAST((1000000 * mx) div den AS BIGINT)").as("ks_micro"))
        .orderBy($"source")
    }, Some("""
      WITH d AS (SELECT source, n_chars AS v FROM documents),
      ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM d GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      sv AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
      cv AS (SELECT v, CAST(sum(count(*)) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_c
        FROM d GROUP BY v),
      grid AS (SELECT s.source, g.v
        FROM (SELECT DISTINCT source FROM d) s CROSS JOIN (SELECT DISTINCT v FROM d) g),
      cums AS (SELECT grid.source, grid.v,
          CAST(sum(coalesce(sv.c, 0)) OVER (PARTITION BY grid.source ORDER BY grid.v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_s
        FROM grid LEFT JOIN sv ON grid.source = sv.source AND grid.v = sv.v),
      m AS (SELECT c.source, max(ns.n_s) AS n_docs,
          max(abs(CAST(c.cum_s AS HUGEINT) * tot.n - CAST(cv.cum_c AS HUGEINT) * ns.n_s)) AS mx,
          max(CAST(ns.n_s AS HUGEINT) * tot.n) AS den
        FROM cums c JOIN cv ON c.v = cv.v JOIN ns ON c.source = ns.source
        CROSS JOIN tot GROUP BY 1)
      SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        CAST((1000000 * mx) // den AS BIGINT) AS ks_micro
      FROM m ORDER BY source""")),

    // ----- Poisson-bootstrap confidence interval (scan-once) --------------
    // Error bars on corpus statistics without resampling the corpus: the
    // Poisson bootstrap draws each row's replicate weight w ~ Poisson(1)
    // independently per (row, replicate) — md5-uniform u against the
    // HARD-CODED Poisson(1) CDF thresholds (×1e9; e⁻¹·Σ 1/k!, exact
    // literals both engines) — so all 8 replicate means of mean(n_chars)
    // come out of ONE corpus scan as 8 parallel conditional aggregates.
    // This is the only bootstrap that works at 100 TB (classic
    // resampling needs n draws from a distributed corpus; Poisson
    // weights are row-local and seedless-deterministic here, so any
    // retry regenerates the identical replicate). The spread of the 8
    // replicate rows against mean_full_micro IS the confidence interval.
    ("q212_poisson_bootstrap", (s: SparkSession, dir: String) => {
      import s.implicits._
      val thresholds = Seq(367879441L, 735758882L, 919698603L, 981011843L,
        996340153L, 999405815L, 999916759L, 999989751L)
      val d = Tables.t(s, dir, "documents").select($"doc_id", $"n_chars")
      val full = d.agg(expr("(1000000 * sum(n_chars)) div count(*)")
        .as("mean_full_micro"))
      val reps = d.select($"doc_id", $"n_chars",
          explode(array((0 to 7).map(lit): _*)).as("rep"))
        .withColumn("u",
          conv(substring(md5(concat_ws("|", lit("bs"), $"doc_id".cast("string"),
            $"rep".cast("string"))), 1, 8), 16, 10).cast("long") % 1000000000L)
        .withColumn("w",
          thresholds.map(t => when($"u" >= t, 1L).otherwise(0L)).reduce(_ + _))
      reps.groupBy($"rep")
        .agg(sum($"w").as("n_eff"), sum($"w" * $"n_chars").as("wsum"))
        .crossJoin(broadcast(full))
        .select($"rep".cast("long").as("rep"), $"n_eff",
          expr("(1000000 * wsum) div n_eff").as("mean_micro"),
          $"mean_full_micro")
        .orderBy("rep")
    }, Some {
      val ts = Seq(367879441L, 735758882L, 919698603L, 981011843L,
        996340153L, 999405815L, 999916759L, 999989751L)
      val wExpr = ts.map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)").mkString(" + ")
      s"""
      WITH full_m AS (SELECT (1000000 * CAST(sum(n_chars) AS BIGINT)) // CAST(count(*) AS BIGINT) AS mean_full_micro FROM documents),
      reps AS (SELECT d.doc_id, d.n_chars, r.rep,
          ('0x' || substr(md5('bs|' || CAST(d.doc_id AS VARCHAR) || '|' || CAST(r.rep AS VARCHAR)), 1, 8))::BIGINT % 1000000000 AS u
        FROM documents d CROSS JOIN (SELECT unnest(range(0, 8)) AS rep) r),
      w AS (SELECT rep, n_chars, $wExpr AS w FROM reps)
      SELECT CAST(rep AS BIGINT) AS rep, CAST(sum(w) AS BIGINT) AS n_eff,
        (1000000 * CAST(sum(w * n_chars) AS BIGINT)) // CAST(sum(w) AS BIGINT) AS mean_micro,
        f.mean_full_micro
      FROM w CROSS JOIN full_m f GROUP BY rep, f.mean_full_micro ORDER BY rep"""
    }),

    // Numeric-integrity auditing (Benford), change-point
    // detection (CUSUM), the third privacy metric (t-closeness, completing
    // q206 k-anonymity / q219 l-diversity), probabilistic record linkage
    // (Fellegi–Sunter u-weights), exact phrase queries over a positional
    // inverted index, and HITS hubs/authorities.
    //
    // House rules as elsewhere: micro-ln for transcendentals, integer
    // arithmetic at every gate, 128-bit (DECIMAL(38,0)/HUGEINT) for
    // cross-products that reach n², identical aliases both sides, total
    // ORDER BY.

    // ----- Benford first-digit audit --------------------------------------
    // The numeric-integrity screen auditors run on money columns: the
    // observed first-significant-digit distribution of o_totalprice vs
    // Benford's law p(d) = log10(1 + 1/d). Fabricated or truncated
    // figures drift from the curve; a natural multiplicative process
    // follows it. One digit-histogram aggregate (map-side combinable to
    // 9 rows) joined to a 9-row expectation grid — corpus-linear with a
    // constant-size result at any SF. Prices quantize to cents first
    // (the money rule) so the digit extraction is integer-string exact;
    // the expectation uses log10 on the 9 constant ratios (micro-ln
    // rule: identical inputs → identical IEEE doubles both sides).
    ("q228_benford", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.t(s, dir, "orders")
        .select(substring(floor($"o_totalprice" * 100 + lit(0.5))
          .cast("long").cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("n_d"))
      val tot = d.agg(sum($"n_d").as("n"))
      val grid = s.range(1, 10).select($"id".as("digit"))
      grid.join(d, Seq("digit"), "left").na.fill(0L, Seq("n_d"))
        .crossJoin(broadcast(tot))
        .select($"digit", $"n_d",
          expr("(1000000 * n_d) div n").as("obs_micro"),
          floor(log10(($"digit" + 1).cast("double") / $"digit".cast("double"))
            * 1e6 + 0.5).cast("long").as("exp_micro"))
        .withColumn("dev_micro", abs($"obs_micro" - $"exp_micro"))
        .orderBy($"digit")
    }, Some("""
      WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
          CAST(count(*) AS BIGINT) AS n_d
        FROM orders GROUP BY 1),
      tot AS (SELECT CAST(sum(n_d) AS BIGINT) AS n FROM d),
      grid AS (SELECT CAST(range AS BIGINT) AS digit FROM range(1, 10))
      SELECT g.digit, CAST(coalesce(d.n_d, 0) AS BIGINT) AS n_d,
        (1000000 * CAST(coalesce(d.n_d, 0) AS BIGINT)) // tot.n AS obs_micro,
        CAST(floor(log10(CAST(g.digit + 1 AS DOUBLE) / CAST(g.digit AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS exp_micro,
        abs((1000000 * CAST(coalesce(d.n_d, 0) AS BIGINT)) // tot.n
          - CAST(floor(log10(CAST(g.digit + 1 AS DOUBLE) / CAST(g.digit AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) AS dev_micro
      FROM grid g LEFT JOIN d ON g.digit = d.digit CROSS JOIN tot
      ORDER BY g.digit""")),

    // ----- CUSUM change-point detection -----------------------------------
    // The level-shift detector the seasonal monitor (q168 family) can't
    // see: the classical CUSUM statistic S_t = Σ_{i≤t}(c_i − mean) over
    // the daily event-count series, computed entirely in integers by
    // scaling through the day count (n·c_i − total — same algebra, no
    // division). The change point is the argmax of |S_t|: the day the
    // series' level shifted, flagged in-DAG via a window max (no
    // driver-side argmax). The cumulative window is single-partition by
    // construction but bounded by |days| — a 100 TB corpus still has
    // thousands of days, not billions; the corpus-sized work is the one
    // daily aggregate below it.
    ("q229_cusum_changepoint", (s: SparkSession, dir: String) => {
      import s.implicits._
      val raw = Tables.t(s, dir, "events")
      val daily = raw.select((tusOf(raw) / 86400000000L).cast("long").as("day"))
        .groupBy($"day").agg(count(lit(1)).as("y"))
      val tot = daily.agg(count(lit(1)).as("nd"), sum($"y").as("ty"))
      val cum = daily.crossJoin(broadcast(tot))
        .withColumn("s_scaled", sum($"nd" * $"y" - $"ty").over(
          Window.orderBy($"day").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      cum.withColumn("mx", max(abs($"s_scaled")).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select($"day", $"y", $"s_scaled",
          when(abs($"s_scaled") === $"mx", 1L).otherwise(0L).as("is_changepoint"))
        .orderBy($"day")
    }, Some("""
      WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
          CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(y) AS BIGINT) AS ty FROM daily),
      cum AS (SELECT day, y,
          CAST(sum(tot.nd * y - tot.ty) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_scaled
        FROM daily CROSS JOIN tot)
      SELECT day, y, s_scaled,
        CASE WHEN abs(s_scaled) = max(abs(s_scaled)) OVER () THEN 1 ELSE 0 END
          ::BIGINT AS is_changepoint
      FROM cum ORDER BY day""")),

    // Distribution-free prediction sets (split
    // conformal), metadata dependence (mutual information), topic
    // segmentation (TextTiling), storage-order compression economics,
    // aggregation-bias auditing (Simpson reversal), and corpus
    // concentration (Gini/Lorenz).
    //
    // House rules as elsewhere: micro-ln for transcendentals, integer
    // arithmetic at every gate, 128-bit cross-products where sums reach
    // n², identical aliases both sides, total ORDER BY.

    // ----- split-conformal threshold + conditional coverage ---------------
    // The distribution-free complement of q204's calibration audit:
    // split conformal prediction over the q191 hashed linear scorer.
    // The calibration half (md5 split — exchangeable by construction)
    // yields the ceil(0.9·(n+1))-th smallest score as the 90% threshold;
    // the eval half then reads MARGINAL coverage (guaranteed ≥ 90% in
    // expectation) and PER-SOURCE conditional coverage — the guarantee
    // conformal does NOT make, and exactly where a shifted source shows
    // up. The rank threshold is one ordered window over the calibration
    // set only — bounded because calibration sets are fixed-size samples
    // BY DESIGN at any corpus scale; the eval side is one rollup
    // aggregate under a broadcast scalar threshold.
    ("q234_conformal_coverage", (s: SparkSession, dir: String) => {
      import s.implicits._
      val scored = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"source", explode(split(TA.normText($"text"), " ")).as("tok"))
        .withColumn("w",
          conv(substring(md5(concat(lit("w|"),
              (conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long") % 1024)
                .cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2001 - 1000)
        .groupBy($"doc_id", $"source").agg(sum($"w").as("logit"))
        .withColumn("is_cal",
          conv(substring(md5(concat(lit("cal|"), $"doc_id".cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2 === 0)
        .localCheckpoint() // threshold pass + coverage pass
      val cal = scored.filter($"is_cal")
      val nCal = cal.agg(count(lit(1)).as("n_cal"))
      val thr = graft.ext.GridRank
        .withRowNumber(cal, "logit", Seq($"doc_id"), "rn") // two-level global rank
        .crossJoin(broadcast(nCal))
        .filter($"rn" === expr("(9 * (n_cal + 1) + 9) div 10"))
        .select($"logit".as("thr"))
      scored.filter(!$"is_cal")
        .crossJoin(broadcast(thr))
        .rollup($"source")
        .agg(count(lit(1)).as("n_eval"),
          sum(when($"logit" <= $"thr", 1L).otherwise(0L)).as("n_covered"))
        .select(coalesce($"source", lit("ALL")).as("source"), $"n_eval", $"n_covered",
          expr("(1000000 * n_covered) div n_eval").as("cov_micro"),
          lit(900000L).as("target_micro"))
        .orderBy($"source")
    }, Some(s"""
      WITH toks AS (SELECT doc_id, source, unnest(string_split($normSql, ' ')) AS tok FROM documents),
      scored AS (SELECT doc_id, source,
          CAST(sum(('0x' || substr(md5('w|' || CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000) AS BIGINT) AS logit,
          ('0x' || substr(md5('cal|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 AS is_cal
        FROM toks GROUP BY doc_id, source),
      nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM scored WHERE is_cal),
      ranked AS (SELECT logit, row_number() OVER (ORDER BY logit, doc_id) AS rn
        FROM scored WHERE is_cal),
      thr AS (SELECT logit AS thr FROM ranked CROSS JOIN nc
        WHERE rn = (9 * (n_cal + 1) + 9) // 10),
      ev AS (SELECT coalesce(source, 'ALL') AS source,
          CAST(count(*) AS BIGINT) AS n_eval,
          CAST(sum(CASE WHEN logit <= thr.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
        FROM scored CROSS JOIN thr WHERE NOT is_cal
        GROUP BY ROLLUP(source))
      SELECT source, n_eval, n_covered,
        (1000000 * n_covered) // n_eval AS cov_micro,
        CAST(900000 AS BIGINT) AS target_micro
      FROM ev ORDER BY source""")),

    // ----- mutual information between metadata columns --------------------
    // The redundancy audit for stratification keys: MI(a;b) =
    // Σ p(ab)·(ln p(ab) − ln p(a) − ln p(b)) over three column pairs of
    // the documents table, stacked into ONE generic pipeline (pair is
    // just another group key, so adding pairs costs rows, not stages).
    // High NMI between two keys means stratifying on both buys nothing
    // (q220's question, answered pairwise); near-zero means independent
    // dials. Cell and margin tables are |values|-bounded aggregates;
    // the ln terms are micro-lns of integer-count ratios; the weighted
    // sums clear to integers through one final div. NMI normalizes by
    // min(H_a, H_b), the tight bound for MI.
    ("q235_mi_metadata", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.t(s, dir, "documents")
        .select($"source", $"lang",
          least(expr("n_chars div 500"), lit(4L)).cast("string").as("lb"))
      val stacked = d.select(lit("source|lang").as("pair"), $"source".as("a"), $"lang".as("b"))
        .unionByName(d.select(lit("source|lenb").as("pair"), $"source".as("a"), $"lb".as("b")))
        .unionByName(d.select(lit("lang|lenb").as("pair"), $"lang".as("a"), $"lb".as("b")))
      val cells = stacked.groupBy($"pair", $"a", $"b").agg(count(lit(1)).as("n_ab"))
      val ma = stacked.groupBy($"pair", $"a").agg(count(lit(1)).as("n_a"))
      val mb = stacked.groupBy($"pair", $"b").agg(count(lit(1)).as("n_b"))
      val tot = stacked.groupBy($"pair").agg(count(lit(1)).as("n"))
      def mln(x: Column, n: Column): Column =
        floor(log(x.cast("double") / n.cast("double")) * 1e6 + 0.5).cast("long")
      val joined = cells.join(ma, Seq("pair", "a")).join(mb, Seq("pair", "b"))
        .join(broadcast(tot), Seq("pair"))
        .select($"pair", $"n_ab", $"n_a", $"n_b", $"n",
          (mln($"n_ab", $"n") - mln($"n_a", $"n") - mln($"n_b", $"n")).as("l_mi"),
          mln($"n_a", $"n").as("l_a"), mln($"n_b", $"n").as("l_b"))
      // MI cell sums are SIGNED (independent pairs round to ±noise):
      // floored double division both sides (q227 rule; sums bounded
      // ~1e11 here, orders inside double's 2^53 exactness). Entropy
      // sums are ≤ 0 by construction, so negating first keeps those
      // divisions in non-negative integer `div` territory.
      joined.groupBy($"pair")
        .agg(count(lit(1)).as("n_cells"),
          expr("CAST(floor(sum(n_ab * l_mi) / CAST(max(n) AS DOUBLE)) AS BIGINT)").as("mi_micro"),
          expr("(-sum(n_ab * l_a)) div max(n)").as("h_a_micro"),
          expr("(-sum(n_ab * l_b)) div max(n)").as("h_b_micro"))
        .select($"pair", $"n_cells", $"mi_micro", $"h_a_micro", $"h_b_micro",
          expr("CAST(floor((1000000.0 * mi_micro) / (CASE WHEN h_a_micro < h_b_micro THEN h_a_micro ELSE h_b_micro END)) AS BIGINT)")
            .as("nmi_micro"))
        .orderBy($"pair")
    }, Some("""
      WITH d AS (SELECT source, lang,
          CAST(least(n_chars // 500, 4) AS VARCHAR) AS lb FROM documents),
      stacked AS (
        SELECT 'source|lang' AS pair, source AS a, lang AS b FROM d
        UNION ALL SELECT 'source|lenb', source, lb FROM d
        UNION ALL SELECT 'lang|lenb', lang, lb FROM d),
      cells AS (SELECT pair, a, b, CAST(count(*) AS BIGINT) AS n_ab
        FROM stacked GROUP BY 1, 2, 3),
      ma AS (SELECT pair, a, CAST(count(*) AS BIGINT) AS n_a FROM stacked GROUP BY 1, 2),
      mb AS (SELECT pair, b, CAST(count(*) AS BIGINT) AS n_b FROM stacked GROUP BY 1, 2),
      tot AS (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM stacked GROUP BY 1),
      j AS (SELECT c.pair, c.n_ab, t.n,
          CAST(floor(ln(CAST(c.n_ab AS DOUBLE) / t.n) * 1e6 + 0.5) AS BIGINT)
            - CAST(floor(ln(CAST(ma.n_a AS DOUBLE) / t.n) * 1e6 + 0.5) AS BIGINT)
            - CAST(floor(ln(CAST(mb.n_b AS DOUBLE) / t.n) * 1e6 + 0.5) AS BIGINT) AS l_mi,
          CAST(floor(ln(CAST(ma.n_a AS DOUBLE) / t.n) * 1e6 + 0.5) AS BIGINT) AS l_a,
          CAST(floor(ln(CAST(mb.n_b AS DOUBLE) / t.n) * 1e6 + 0.5) AS BIGINT) AS l_b
        FROM cells c JOIN ma ON c.pair = ma.pair AND c.a = ma.a
        JOIN mb ON c.pair = mb.pair AND c.b = mb.b
        JOIN tot t ON c.pair = t.pair)
      SELECT pair, CAST(count(*) AS BIGINT) AS n_cells,
        CAST(floor(sum(n_ab * l_mi) / CAST(max(n) AS DOUBLE)) AS BIGINT) AS mi_micro,
        CAST((-sum(n_ab * l_a)) // max(n) AS BIGINT) AS h_a_micro,
        CAST((-sum(n_ab * l_b)) // max(n) AS BIGINT) AS h_b_micro,
        CAST(floor((1000000.0 * CAST(floor(sum(n_ab * l_mi) / CAST(max(n) AS DOUBLE)) AS BIGINT))
          / (CASE WHEN (-sum(n_ab * l_a)) // max(n) < (-sum(n_ab * l_b)) // max(n)
                THEN (-sum(n_ab * l_a)) // max(n) ELSE (-sum(n_ab * l_b)) // max(n) END)) AS BIGINT) AS nmi_micro
      FROM j GROUP BY pair ORDER BY pair""")),

    // ----- sort-order compression estimator -------------------------------
    // The storage-layout question z-order (q147) answers for SCANS,
    // answered for BYTES: how much run-length encoding does each
    // candidate column get from the table's write order, vs the best
    // case (sorted by that column, where runs = distinct values)? Runs
    // under write order count value changes inside each (l_orderkey,
    // l_linenumber) block — a window partitioned by (column, order), so
    // no global sort; cross-order boundaries are ≤ |orders| and counted
    // as run starts, which is exact for the row-group-per-order layout
    // this models. The three candidate columns stack into one melted
    // pipeline (the q235 trick) — auditing a wider table adds rows,
    // not stages. The gap between gain_natural and gain_sorted is the
    // re-sort's payoff in storage — the number a compaction policy
    // (q163) should be reading.
    ("q237_rle_estimate", (s: SparkSession, dir: String) => {
      import s.implicits._
      val li = Tables.t(s, dir, "lineitem")
      val melted = li.select($"l_orderkey".as("ok"), $"l_linenumber".as("ln"),
          explode(expr(
            "array(struct('l_partkey' AS col, CAST(l_partkey AS STRING) AS v)," +
            " struct('l_suppkey' AS col, CAST(l_suppkey AS STRING) AS v)," +
            " struct('l_returnflag' AS col, l_returnflag AS v))")).as("x"))
        .select($"ok", $"ln", $"x.col".as("col"), $"x.v".as("v"))
      // the generator duplicates (ok, ln), so the value joins the sort
      // key to make the modeled write order TOTAL — equal values sort
      // adjacent inside a tie group, deterministically on both sides
      val runs = melted
        .withColumn("prev", lag($"v", 1).over(
          Window.partitionBy($"col", $"ok").orderBy($"ln", $"v")))
        .groupBy($"col")
        .agg(count(lit(1)).as("n"),
          sum(when($"prev".isNull || $"prev" =!= $"v", 1L).otherwise(0L)).as("runs_natural"))
      val nd = melted.groupBy($"col").agg(countDistinct($"v").as("n_distinct"))
      runs.join(nd, Seq("col"))
        .select($"col", $"n", $"n_distinct", $"runs_natural",
          expr("(1000000 * (n - runs_natural)) div n").as("rle_gain_natural_micro"),
          expr("(1000000 * (n - n_distinct)) div n").as("rle_gain_sorted_micro"))
        .orderBy($"col")
    }, Some("""
      WITH melted AS (
        SELECT l_orderkey AS ok, l_linenumber AS ln, 'l_partkey' AS col,
          CAST(l_partkey AS VARCHAR) AS v FROM lineitem
        UNION ALL SELECT l_orderkey, l_linenumber, 'l_suppkey',
          CAST(l_suppkey AS VARCHAR) FROM lineitem
        UNION ALL SELECT l_orderkey, l_linenumber, 'l_returnflag',
          l_returnflag FROM lineitem),
      lagged AS (SELECT col, v,
          lag(v) OVER (PARTITION BY col, ok ORDER BY ln, v) AS prev
        FROM melted),
      runs AS (SELECT col, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN prev IS NULL OR prev <> v THEN 1 ELSE 0 END) AS BIGINT) AS runs_natural
        FROM lagged GROUP BY col),
      nd AS (SELECT col, CAST(count(DISTINCT v) AS BIGINT) AS n_distinct
        FROM melted GROUP BY col)
      SELECT r.col, r.n, nd.n_distinct, r.runs_natural,
        (1000000 * (r.n - r.runs_natural)) // r.n AS rle_gain_natural_micro,
        (1000000 * (r.n - nd.n_distinct)) // r.n AS rle_gain_sorted_micro
      FROM runs r JOIN nd ON r.col = nd.col ORDER BY r.col""")),

    // ----- Simpson's-paradox audit (pooled vs per-segment trend) ----------
    // The aggregation-bias check every corpus-level correlation should
    // ship with: the sign of cov(acctbal, totalprice) pooled over all
    // orders vs within each market segment. A reversal (segment signs
    // disagreeing with the pooled sign) means the pooled trend is a
    // composition artifact — Simpson's paradox — and any mixing/
    // weighting decision read off the pooled number inverts inside the
    // strata it actually acts on. Covariance clears to the integer
    // n·Σxy − Σx·Σy with per-term 128-bit casts (Σxy alone reaches
    // 9e18 at sf0.1 — past Int64 exactly where it matters); each
    // segment is one aggregate row, the pooled sign one broadcast
    // scalar.
    ("q238_simpson_audit", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.t(s, dir, "orders")
        .join(Tables.t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
        .select($"c_mktsegment".as("segment"),
          floor($"c_acctbal" * 100 + lit(0.5)).cast("long").as("x"),
          floor($"o_totalprice" * 100 + lit(0.5)).cast("long").as("y"))
      def covSign(g: org.apache.spark.sql.RelationalGroupedDataset) = g
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
          sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
          sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"))
        .withColumn("cov_scaled", expr("n * sxy - sx * sy"))
        .withColumn("sign", when($"cov_scaled" > 0, 1L)
          .when($"cov_scaled" < 0, -1L).otherwise(0L))
      val pooled = covSign(d.groupBy()).select($"sign".as("pooled_sign"))
      covSign(d.groupBy($"segment"))
        .crossJoin(broadcast(pooled))
        .select($"segment", $"n".as("n_orders"), $"sign".as("cov_sign"),
          $"pooled_sign",
          when($"sign" =!= $"pooled_sign", 1L).otherwise(0L).as("is_reversal"))
        .orderBy($"segment")
    }, Some("""
      WITH d AS (SELECT c.c_mktsegment AS segment,
          CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS x,
          CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      seg AS (SELECT segment, CAST(count(*) AS BIGINT) AS n,
          CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * y)
            - sum(CAST(x AS HUGEINT)) * sum(CAST(y AS HUGEINT)) AS cov_scaled
        FROM d GROUP BY segment),
      pooled AS (SELECT CASE
          WHEN CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * y)
            - sum(CAST(x AS HUGEINT)) * sum(CAST(y AS HUGEINT)) > 0 THEN 1
          WHEN CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * y)
            - sum(CAST(x AS HUGEINT)) * sum(CAST(y AS HUGEINT)) < 0 THEN -1
          ELSE 0 END AS pooled_sign FROM d)
      SELECT seg.segment, seg.n AS n_orders,
        (CASE WHEN seg.cov_scaled > 0 THEN 1 WHEN seg.cov_scaled < 0 THEN -1
          ELSE 0 END)::BIGINT AS cov_sign,
        CAST(pooled.pooled_sign AS BIGINT) AS pooled_sign,
        (CASE WHEN (CASE WHEN seg.cov_scaled > 0 THEN 1
            WHEN seg.cov_scaled < 0 THEN -1 ELSE 0 END) <> pooled.pooled_sign
          THEN 1 ELSE 0 END)::BIGINT AS is_reversal
      FROM seg CROSS JOIN pooled ORDER BY seg.segment""")),

    // ----- Gini concentration (Lorenz) ------------------------------------
    // How concentrated is the corpus? Two Gini coefficients from the
    // same rank-sum identity G = (2·Σi·x_i − (n+1)·Σx_i)/(n·Σx_i) over
    // ascending-ranked unit sizes: source-level (docs per source — the
    // mixing-table inequality) and token-level (frequency per token —
    // the Zipf mass concentration q119 fits a slope to, read here as a
    // single inequality number). Σi·x_i is invariant under tie order,
    // so the rank window (|sources| / |vocab|-bounded, the documented
    // q195 grid bound) needs no tie rule for correctness — row_number
    // gets one anyway for plan determinism. G→0 is uniform; G→1 is
    // winner-take-all: the one number that says whether a dedup or cap
    // policy (q197) is even needed.
    ("q239_gini", (s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.spread(Tables.t(s, dir, "documents"))
      val bySource = docs.groupBy($"source").agg(count(lit(1)).as("x"))
        .select(lit("source_docs").as("dim"), $"source".as("unit"), $"x")
      val byToken = docs
        .select(explode(split(TA.normText($"text"), " ")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("x"))
        .select(lit("token_freq").as("dim"), $"tok".as("unit"), $"x")
      bySource.unionByName(byToken)
        .withColumn("i", row_number().over(
          Window.partitionBy($"dim").orderBy($"x", $"unit")))
        .groupBy($"dim")
        .agg(count(lit(1)).as("n_units"), sum($"x").as("total"),
          sum($"i" * $"x").as("ranksum"))
        .select($"dim", $"n_units", $"total",
          expr("(1000000 * (2 * ranksum - (n_units + 1) * total)) div (n_units * total)")
            .as("gini_micro"))
        .orderBy($"dim")
    }, Some(s"""
      WITH src AS (SELECT 'source_docs' AS dim, source AS unit,
          CAST(count(*) AS BIGINT) AS x FROM documents GROUP BY 2),
      tok AS (SELECT 'token_freq' AS dim, tok AS unit, CAST(count(*) AS BIGINT) AS x
        FROM (SELECT unnest(string_split($normSql, ' ')) AS tok FROM documents)
        GROUP BY 2),
      u AS (SELECT * FROM src UNION ALL SELECT * FROM tok),
      ranked AS (SELECT dim, x,
          CAST(row_number() OVER (PARTITION BY dim ORDER BY x, unit) AS BIGINT) AS i
        FROM u)
      SELECT dim, CAST(count(*) AS BIGINT) AS n_units,
        CAST(sum(x) AS BIGINT) AS total,
        CAST((1000000 * (2 * sum(i * x) - (count(*) + 1) * sum(x)))
          // (count(*) * sum(x)) AS BIGINT) AS gini_micro
      FROM ranked GROUP BY dim ORDER BY dim""")),

    // Cross-source language-model distance, submodular
    // coverage selection, distribution alignment (quantile
    // normalization), behavioral Markov analysis, and scorer rank
    // agreement (Spearman).
    //
    // House rules as elsewhere: micro-ln for transcendentals, integer
    // arithmetic at every gate, value-grid windows where a cumulative is
    // needed, identical aliases both sides, total ORDER BY.

    // ----- quantile normalization onto the corpus distribution ------------
    // The distribution-alignment transform: map every document's length
    // to the corpus value at the same within-source quantile, so every
    // source's length distribution becomes the corpus's (the
    // microarray-era quantile normalization, here as the length-bias
    // equalizer q192's matched resampling only approximates by
    // dropping). Per-source midpoint ranks come from source-partitioned
    // windows; the corpus inverse-ECDF is the VALUE GRID with
    // cumulative counts (q195 bound — value-cardinality, not corpus,
    // wide), and the lookup is a broadcast range join against that
    // grid: cum_prev < idx ≤ cum. Integer throughout — the midpoint
    // index is ceil((2r−1)·N / 2n_s) done as one div.
    ("q242_quantile_norm", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.t(s, dir, "documents")
        .select($"doc_id", $"source", $"n_chars".as("v"))
      val ns = d.groupBy($"source").agg(count(lit(1)).as("n_s"))
      val tot = d.agg(count(lit(1)).as("n"))
      val grid = d.groupBy($"v").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum($"c").over(
          Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cum_prev", $"cum" - $"c")
        .select($"v".as("norm_v"), $"cum_prev", $"cum")
      val ranked = d
        .withColumn("r", row_number().over(
          Window.partitionBy($"source").orderBy($"v", $"doc_id")))
        .join(ns, Seq("source")).crossJoin(broadcast(tot))
        .withColumn("idx", expr("((2 * r - 1) * n + 2 * n_s - 1) div (2 * n_s)"))
      ranked.join(broadcast(grid), $"idx" > $"cum_prev" && $"idx" <= $"cum")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(v) div count(1)").as("mean_raw"),
          expr("sum(norm_v) div count(1)").as("mean_norm"))
        .orderBy($"source")
    }, Some("""
      WITH d AS (SELECT doc_id, source, n_chars AS v FROM documents),
      ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM d GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      grid AS (SELECT v AS norm_v,
          CAST(sum(count(*)) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
          CAST(sum(count(*)) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - count(*) AS BIGINT) AS cum_prev
        FROM d GROUP BY v),
      ranked AS (SELECT d.source, d.v,
          ((2 * CAST(row_number() OVER (PARTITION BY d.source ORDER BY d.v, d.doc_id) AS BIGINT) - 1)
            * tot.n + 2 * ns.n_s - 1) // (2 * ns.n_s) AS idx
        FROM d JOIN ns ON d.source = ns.source CROSS JOIN tot)
      SELECT r.source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(r.v) // count(*) AS BIGINT) AS mean_raw,
        CAST(sum(g.norm_v) // count(*) AS BIGINT) AS mean_norm
      FROM ranked r JOIN grid g ON r.idx > g.cum_prev AND r.idx <= g.cum
      GROUP BY 1 ORDER BY 1""")),

    // ----- Spearman rank agreement between scorers ------------------------
    // Do two quality scorers AGREE on ordering? Spearman's ρ between
    // the q191 hashed-logit scorer and raw length, via the exact
    // rank-difference identity ρ = 1 − 6Σd²/(n(n²−1)) — rank windows
    // tie-broken by doc_id so both sides rank identically, Σd² in
    // 128-bit (it reaches n³). The two global sorts ARE the exact
    // algorithm at any scale (range-partitioned sort + partition-offset
    // ranks on a cluster — same identity); ρ near +1e6 means the cheap
    // scorer is a length proxy and buys nothing over the trivial one —
    // the redundancy check before paying for a second scorer.
    ("q244_spearman_scorers", (s: SparkSession, dir: String) => {
      import s.implicits._
      val scored = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"n_chars", explode(split(TA.normText($"text"), " ")).as("tok"))
        .withColumn("w",
          conv(substring(md5(concat(lit("w|"),
              (conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long") % 1024)
                .cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2001 - 1000)
        .groupBy($"doc_id").agg(max($"n_chars").as("len"), sum($"w").as("logit"))
      // two-level global ranks (GridRank): the doc-scale total orders
      // never pass through one task; bit-identical to the single-window
      // form the oracle keeps
      val ranked = graft.ext.GridRank.withRowNumber(
        graft.ext.GridRank.withRowNumber(scored, "logit", Seq($"doc_id"), "r1"),
        "len", Seq($"doc_id"), "r2")
      ranked
        .select(expr("CAST(r1 - r2 AS DECIMAL(38,0))").as("d"), lit(1L).as("one"))
        .agg(count($"one").as("n"), sum(expr("d * d")).as("sd2"))
        .select(lit("hash_logit").as("scorer_a"), lit("n_chars").as("scorer_b"),
          $"n", $"sd2".cast("long").as("sum_d2"),
          (lit(1000000L) - expr("CAST((6000000 * sd2) div (n * (CAST(n AS DECIMAL(38,0)) * n - 1)) AS BIGINT)"))
            .as("rho_micro"))
    }, Some(s"""
      WITH toks AS (SELECT doc_id, n_chars, unnest(string_split($normSql, ' ')) AS tok FROM documents),
      scored AS (SELECT doc_id, max(n_chars) AS len,
          CAST(sum(('0x' || substr(md5('w|' || CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000) AS BIGINT) AS logit
        FROM toks GROUP BY doc_id),
      ranked AS (SELECT
          CAST(row_number() OVER (ORDER BY logit, doc_id) AS HUGEINT)
            - CAST(row_number() OVER (ORDER BY len, doc_id) AS HUGEINT) AS d
        FROM scored)
      SELECT 'hash_logit' AS scorer_a, 'n_chars' AS scorer_b,
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(d * d) AS BIGINT) AS sum_d2,
        1000000 - CAST((6000000 * sum(d * d))
          // (count(*) * (CAST(count(*) AS HUGEINT) * count(*) - 1)) AS BIGINT) AS rho_micro
      FROM ranked""")),

    // ----- binary-segmentation change points ------------------------------
    // The optimal-split companion to q229's CUSUM: pick the split s of
    // the daily event-value series that MAXIMIZES the between-segment
    // variance reduction — in prefix-sum form, maximize
    // gain(s) = L(s)·R(s)·(meanL − meanR)², which clears to integers as
    // (R·cumL − L·(tot − cumL))² / (L·R·n) — so the whole search is ONE
    // cumulative window over the day grid plus an argmax, no per-split
    // rescans (the naive form recomputes two means per candidate). Then
    // recurse ONCE on each side — binary segmentation depth 2, giving
    // up to 3 change points. Numerators are squares of value sums ×
    // counts: 128-bit everywhere. The day grid is |days|-bounded — at
    // 100 TB the only corpus pass is the daily pre-aggregate, the
    // segmentation itself is metadata-scale, like q229.
    ("q259_binary_segmentation", (s: SparkSession, dir: String) => {
      import s.implicits._
      val raw = Tables.t(s, dir, "events")
      val daily = raw
        .select(date_format($"ts".cast("timestamp"), "yyyy-MM-dd").as("day"),
          floor($"value" + 0.5).cast("long").as("v"))
        .groupBy($"day").agg(sum($"v").as("dv"), count(lit(1)).as("dn"))
        .localCheckpoint() // three segment searches reuse it
      def bestSplit(seg: DataFrame, lo: String, hi: String): DataFrame = {
        val in = seg.filter($"day" >= lo && $"day" < hi)
        val w = Window.orderBy($"day")
        val tot = in.agg(sum($"dv").as("tv"), count(lit(1)).as("tn"))
        in.withColumn("cum", sum($"dv").over(w))
          .withColumn("k", row_number().over(w).cast("long"))
          .crossJoin(broadcast(tot))
          .filter($"k" < $"tn") // a split needs a non-empty right side
          .withColumn("num", expr(
            """CAST((tn - k) AS DECIMAL(38,0)) * cum
               - CAST(k AS DECIMAL(38,0)) * (tv - cum)"""))
          .withColumn("gain", expr(
            """CAST(num * num div (CAST(k AS DECIMAL(38,0)) * (tn - k) * tn)
               AS DECIMAL(38,0))"""))
          .orderBy(desc("gain"), $"day").limit(1)
          .select($"day", $"gain".cast("long").as("gain"))
      }
      val top = bestSplit(daily, "0000-00-00", "9999-99-99")
        .select($"day".as("split_day"), $"gain", lit("root").as("segment"))
      val topDay = top.select($"split_day")
      // split_day is the LAST day of the left segment: left recursion
      // keeps day <= split_day, right keeps day > split_day (a <
      // boundary would re-search the whole range whenever the root
      // split lands on the first day)
      val left = bestSplit(daily.join(broadcast(topDay),
          $"day" <= $"split_day").select($"day", $"dv", $"dn"),
          "0000-00-00", "9999-99-99")
        .select($"day".as("split_day"), $"gain", lit("left").as("segment"))
      val right = bestSplit(daily.join(broadcast(topDay.select(
          $"split_day".as("sd"))), $"day" > $"sd").select($"day", $"dv", $"dn"),
          "0000-00-00", "9999-99-99")
        .select($"day".as("split_day"), $"gain", lit("right").as("segment"))
      top.unionByName(left).unionByName(right)
        .select($"segment", $"split_day", $"gain")
        .orderBy($"segment")
    }, Some("""
      WITH daily AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
          CAST(sum(CAST(floor(value + 0.5) AS BIGINT)) AS BIGINT) AS dv,
          CAST(count(*) AS BIGINT) AS dn
        FROM events GROUP BY 1),
      r_t AS (SELECT CAST(sum(dv) AS BIGINT) AS tv, CAST(count(*) AS BIGINT) AS tn
        FROM daily),
      r_c AS (SELECT day, sum(dv) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum,
          CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k FROM daily),
      r_g AS (SELECT day,
          CAST((CAST(tn - k AS HUGEINT) * cum - CAST(k AS HUGEINT) * (tv - cum))
            * (CAST(tn - k AS HUGEINT) * cum - CAST(k AS HUGEINT) * (tv - cum))
            // (CAST(k AS HUGEINT) * (tn - k) * tn) AS HUGEINT) AS gain
        FROM r_c CROSS JOIN r_t WHERE k < tn),
      root AS (SELECT 'root' AS segment, day AS split_day,
          CAST(gain AS BIGINT) AS gain
        FROM r_g ORDER BY gain DESC, day LIMIT 1),
      l_d AS (SELECT d.* FROM daily d CROSS JOIN root WHERE d.day <= root.split_day),
      l_t AS (SELECT CAST(sum(dv) AS BIGINT) AS tv, CAST(count(*) AS BIGINT) AS tn
        FROM l_d),
      l_c AS (SELECT day, sum(dv) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum,
          CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k FROM l_d),
      l_g AS (SELECT day,
          CAST((CAST(tn - k AS HUGEINT) * cum - CAST(k AS HUGEINT) * (tv - cum))
            * (CAST(tn - k AS HUGEINT) * cum - CAST(k AS HUGEINT) * (tv - cum))
            // (CAST(k AS HUGEINT) * (tn - k) * tn) AS HUGEINT) AS gain
        FROM l_c CROSS JOIN l_t WHERE k < tn),
      lft AS (SELECT 'left' AS segment, day AS split_day,
          CAST(gain AS BIGINT) AS gain
        FROM l_g ORDER BY gain DESC, day LIMIT 1),
      r_d AS (SELECT d.* FROM daily d CROSS JOIN root WHERE d.day > root.split_day),
      rt_t AS (SELECT CAST(sum(dv) AS BIGINT) AS tv, CAST(count(*) AS BIGINT) AS tn
        FROM r_d),
      rt_c AS (SELECT day, sum(dv) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum,
          CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k FROM r_d),
      rt_g AS (SELECT day,
          CAST((CAST(tn - k AS HUGEINT) * cum - CAST(k AS HUGEINT) * (tv - cum))
            * (CAST(tn - k AS HUGEINT) * cum - CAST(k AS HUGEINT) * (tv - cum))
            // (CAST(k AS HUGEINT) * (tn - k) * tn) AS HUGEINT) AS gain
        FROM rt_c CROSS JOIN rt_t WHERE k < tn),
      rgt AS (SELECT 'right' AS segment, day AS split_day,
          CAST(gain AS BIGINT) AS gain
        FROM rt_g ORDER BY gain DESC, day LIMIT 1)
      SELECT segment, split_day, gain FROM root
      UNION ALL SELECT segment, split_day, gain FROM lft
      UNION ALL SELECT segment, split_day, gain FROM rgt
      ORDER BY segment""")),

    // Off-policy policy evaluation (bandit replay),
    // difference-in-differences estimation, Kaplan–Meier survival, and
    // functional-dependency majority repair — counterfactual evaluation,
    // causal analytics, survival, and data-cleaning surface.
    //
    // House rules as elsewhere: integer arithmetic at every gate, micro-ln
    // for transcendentals, money in DECIMAL(12,2) cents, identical
    // aliases both sides, total ORDER BY.

    // ----- difference-in-differences --------------------------------------
    // The workhorse causal estimator for a rollout you couldn't
    // randomize: treated customers (even nation key — the stand-in for
    // "got the feature") vs control, before vs after the 1999-01-01
    // cutoff; DiD = (T_post − T_pre) − (C_post − C_pre) on mean order
    // value cancels both the level difference between groups and the
    // common time trend. One scan, four conditional cells, means in
    // integer cents — plus the parallel-trends ingredient (the pre-gap)
    // reported alongside, because DiD is only as honest as that
    // assumption. At 100 TB: a broadcast dim join + one 4-cell rollup.
    ("q264_diff_in_diff", (s: SparkSession, dir: String) => {
      import s.implicits._
      val cust = Tables.t(s, dir, "customer")
        .select($"c_custkey", ($"c_nationkey" % 2 === 0).as("treated"))
      val o = Tables.t(s, dir, "orders")
        .select($"o_custkey",
          ($"o_orderdate".cast("date") >= lit("1999-01-01").cast("date")).as("post"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)").as("cents"))
        .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      val cells = o.groupBy($"treated", $"post")
        .agg(count(lit(1)).as("n"), expr("sum(cents) div count(1)").as("mean_cents"))
      val wide = cells.agg(
        max(when($"treated" && $"post", $"mean_cents")).as("t_post"),
        max(when($"treated" && !$"post", $"mean_cents")).as("t_pre"),
        max(when(!$"treated" && $"post", $"mean_cents")).as("c_post"),
        max(when(!$"treated" && !$"post", $"mean_cents")).as("c_pre"),
        sum($"n").as("n_orders"))
      wide.select($"n_orders", $"t_pre", $"t_post", $"c_pre", $"c_post",
        (($"t_post" - $"t_pre") - ($"c_post" - $"c_pre")).as("did_cents"),
        ($"t_pre" - $"c_pre").as("pre_gap_cents"))
    }, Some("""
      WITH cust AS (SELECT c_custkey, (c_nationkey % 2 = 0) AS treated
        FROM customer),
      o AS (SELECT
          (CAST(o_orderdate AS DATE) >= DATE '1999-01-01') AS post,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
          c.treated
        FROM orders JOIN cust c ON o_custkey = c.c_custkey),
      cells AS (SELECT treated, post, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents
        FROM o GROUP BY 1, 2),
      wide AS (SELECT
          max(CASE WHEN treated AND post THEN mean_cents END) AS t_post,
          max(CASE WHEN treated AND NOT post THEN mean_cents END) AS t_pre,
          max(CASE WHEN NOT treated AND post THEN mean_cents END) AS c_post,
          max(CASE WHEN NOT treated AND NOT post THEN mean_cents END) AS c_pre,
          CAST(sum(n) AS BIGINT) AS n_orders
        FROM cells)
      SELECT n_orders, t_pre, t_post, c_pre, c_post,
        (t_post - t_pre) - (c_post - c_pre) AS did_cents,
        t_pre - c_pre AS pre_gap_cents
      FROM wide""")),

    // ----- Kaplan–Meier survival curve ------------------------------------
    // Product-limit survival for "customer lifetime" (days from first
    // to last order; customers still ordering in the last 180 days
    // before the data horizon are CENSORED — their lifetime is a lower
    // bound, and simply dropping them is the classic bias KM exists to
    // fix). The estimator works on the |distinct durations| grid:
    // deaths d_t and at-risk counts n_t from ONE duration histogram
    // (risk set = suffix sum, one cumulative window DOWN the grid), and
    // the product Π(1 − d/n) clears to a SUM in micro-ln — reported as
    // ln S(t), monotone nonincreasing by construction. At 100 TB the
    // only corpus pass is the per-entity min/max aggregate; the grid
    // math is value-bounded, the q184/q217 discipline.
    ("q265_kaplan_meier", (s: SparkSession, dir: String) => {
      import s.implicits._
      val horizon = lit("2001-08-01").cast("date")
      val life = Tables.t(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(min($"o_orderdate".cast("date")).as("first_d"),
          max($"o_orderdate".cast("date")).as("last_d"))
        .select(
          datediff($"last_d", $"first_d").cast("long").as("t"),
          (datediff(horizon, $"last_d") > 180).cast("long").as("death"))
      val grid = life.groupBy($"t")
        .agg(sum($"death").as("d"), count(lit(1)).as("ending"))
      val w = Window.orderBy($"t") // |distinct durations|-bounded
      val risk = grid
        .withColumn("before", coalesce(sum($"ending")
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .crossJoin(broadcast(life.agg(count(lit(1)).as("total"))))
        .withColumn("n_risk", $"total" - $"before")
        // d == n_risk would put S at exactly 0 (ln undefined) — the
        // standard log-space KM convention stops the curve there
        .filter($"d" > 0 && $"d" < $"n_risk")
        .withColumn("lnf_micro",
          floor(log(lit(1.0) - $"d".cast("double") / $"n_risk".cast("double"))
            * 1e6 + 0.5).cast("long"))
      risk
        .withColumn("ln_s_micro", sum($"lnf_micro").over(w))
        .select($"t", $"d", $"n_risk", $"ln_s_micro")
        .orderBy($"t")
    }, Some("""
      WITH life AS (SELECT
          CAST(date_diff('day', min(CAST(o_orderdate AS DATE)),
            max(CAST(o_orderdate AS DATE))) AS BIGINT) AS t,
          CAST(CASE WHEN date_diff('day', max(CAST(o_orderdate AS DATE)),
            DATE '2001-08-01') > 180 THEN 1 ELSE 0 END AS BIGINT) AS death
        FROM orders GROUP BY o_custkey),
      grid AS (SELECT t, CAST(sum(death) AS BIGINT) AS d,
          CAST(count(*) AS BIGINT) AS ending FROM life GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM life),
      risk AS (SELECT g.t, g.d,
          tot.total - coalesce(sum(g.ending) OVER (ORDER BY g.t
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        FROM grid g CROSS JOIN tot),
      dd AS (SELECT t, d, n_risk,
          CAST(floor(ln(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
            * 1e6 + 0.5) AS BIGINT) AS lnf_micro
        FROM risk WHERE d > 0 AND d < n_risk)
      SELECT t, d, CAST(n_risk AS BIGINT) AS n_risk,
        CAST(sum(lnf_micro) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
          AS BIGINT) AS ln_s_micro
      FROM dd ORDER BY t""")),

    // ----- functional-dependency majority repair --------------------------
    // The repair step after FD discovery: in a denormalized order feed
    // where custkey → mktsegment MUST hold, a deterministic corruption
    // (orderkey % 17 = 3 rows get segment 'CORRUPTED') breaks the
    // dependency; the repair assigns every violating group its MAJORITY
    // segment (ties to the lexicographically smallest — the standard
    // holistic-cleaning vote), and because the clean truth exists, the
    // audit also scores repair ACCURACY — the number real cleaning
    // systems can only estimate. One groupBy builds the vote table, a
    // broadcast-scale join applies it; per-segment rollup. At 100 TB
    // the vote is per-entity (key-partitioned), the apply is map-side
    // against the broadcast repair table — no corpus self-join.
    ("q266_fd_repair", (s: SparkSession, dir: String) => {
      import s.implicits._
      val seg = Tables.t(s, dir, "customer").select($"c_custkey", $"c_mktsegment")
      val feed = Tables.t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey")
        .join(broadcast(seg), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey", $"o_custkey",
          when($"o_orderkey" % 17 === 3, lit("CORRUPTED"))
            .otherwise($"c_mktsegment").as("seg_dirty"),
          $"c_mktsegment".as("seg_true"))
      val votes = feed.groupBy($"o_custkey", $"seg_dirty")
        .agg(count(lit(1)).as("v"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"o_custkey").orderBy(desc("v"), $"seg_dirty")))
        .filter($"rn" === 1)
        .select($"o_custkey", $"seg_dirty".as("seg_repair"))
      feed.join(votes, Seq("o_custkey"))
        .select($"seg_true",
          ($"seg_dirty" === lit("CORRUPTED")).as("dirty"),
          when($"seg_dirty" === lit("CORRUPTED"),
            ($"seg_repair" === $"seg_true").cast("long")).as("fixed"))
        .groupBy($"seg_true")
        .agg(count(lit(1)).as("n_rows"),
          sum(when($"dirty", 1L).otherwise(0L)).as("n_dirty"),
          sum(coalesce($"fixed", lit(0L))).as("n_repaired_ok"))
        .select($"seg_true", $"n_rows", $"n_dirty", $"n_repaired_ok",
          expr("1000000 * n_repaired_ok div n_dirty").as("repair_acc_micro"))
        .orderBy($"seg_true")
    }, Some("""
      WITH feed AS (SELECT o_orderkey, o_custkey,
          CASE WHEN o_orderkey % 17 = 3 THEN 'CORRUPTED'
            ELSE c.c_mktsegment END AS seg_dirty,
          c.c_mktsegment AS seg_true
        FROM orders JOIN customer c ON o_custkey = c.c_custkey),
      votes AS (SELECT o_custkey, seg_dirty AS seg_repair FROM (
          SELECT o_custkey, seg_dirty, count(*) AS v,
            row_number() OVER (PARTITION BY o_custkey
              ORDER BY count(*) DESC, seg_dirty) AS rn
          FROM feed GROUP BY 1, 2) WHERE rn = 1),
      scored AS (SELECT f.seg_true,
          (f.seg_dirty = 'CORRUPTED') AS dirty,
          CASE WHEN f.seg_dirty = 'CORRUPTED'
            THEN CAST(v.seg_repair = f.seg_true AS BIGINT) END AS fixed
        FROM feed f JOIN votes v USING (o_custkey))
      SELECT seg_true, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CASE WHEN dirty THEN 1 ELSE 0 END) AS BIGINT) AS n_dirty,
        CAST(sum(coalesce(fixed, 0)) AS BIGINT) AS n_repaired_ok,
        CAST(1000000 * sum(coalesce(fixed, 0))
          // sum(CASE WHEN dirty THEN 1 ELSE 0 END) AS BIGINT) AS repair_acc_micro
      FROM scored GROUP BY 1 ORDER BY 1""")),

    // Seasonal-trend decomposition (STL-lite), degree
    // assortativity, per-node clustering-coefficient distribution, a
    // hash-uniformity audit of the house md5 convention, and token
    // burstiness — time-series structure, graph texture, and two
    // statistics the rest of the battery silently relies on.
    //
    // House rules as elsewhere: integer arithmetic at every gate, 128-bit
    // (DECIMAL(38,0)/HUGEINT) where count products appear; where a final
    // SCALAR needs sqrt, exact integer aggregates convert to double only
    // in the last single-row expression (no distributed double sums — the
    // q250 sort-key rationale). Identical aliases both sides, total
    // ORDER BY.

    // ----- STL-lite seasonal decomposition --------------------------------
    // Trend = centered 7-day moving average (full windows only),
    // seasonal = mean detrended value per weekday, remainder = what's
    // left; the variance split between seasonal and remainder says
    // whether the weekly cycle is real structure or noise — the
    // decomposition read q168's hour-of-day monitor and q223's
    // backtest both assume. Weekday indexing is pure arithmetic
    // (days-since-epoch mod 7, 0 = Thursday) so both engines share it
    // without calendar APIs. Every mean is an integer division of
    // exact sums; the two sums of squares are 128-bit and ride along
    // on every weekday row (one cross-joined scalar). |days|-bounded
    // after the daily pre-aggregate — the q229 scale shape.
    ("q270_stl_lite", (s: SparkSession, dir: String) => {
      import s.implicits._
      val daily = Tables.t(s, dir, "events")
        .select(datediff(to_date($"ts".cast("timestamp")),
          lit("1970-01-01").cast("date")).cast("long").as("epd"),
          floor($"value" + 0.5).cast("long").as("v"))
        .groupBy($"epd").agg(sum($"v").as("dv"))
      val w = Window.orderBy($"epd").rowsBetween(-3, 3)
      val tr = daily
        .withColumn("wn", count(lit(1)).over(w))
        .withColumn("ts7", sum($"dv").over(w))
        .withColumn("trend", expr("ts7 div 7"))
        .filter($"wn" === 7)
        .withColumn("dt", $"dv" - $"trend")
        .withColumn("dow", $"epd" % 7)
        .localCheckpoint() // seasonal means + both SS rollups reuse it
      val seas = tr.groupBy($"dow")
        .agg(count(lit(1)).as("n_days"), expr("sum(dt) div count(1)").as("seasonal_units"))
      val joined = tr.join(seas.select($"dow", $"seasonal_units"), Seq("dow"))
        .withColumn("rem", $"dt" - $"seasonal_units")
      val ss = joined.agg(
        sum(expr("CAST(dt AS DECIMAL(38,0)) * dt")).cast("long").as("ss_detrended"),
        sum(expr("CAST(rem AS DECIMAL(38,0)) * rem")).cast("long").as("ss_remainder"))
      seas.crossJoin(broadcast(ss))
        .select($"dow", $"n_days", $"seasonal_units", $"ss_detrended", $"ss_remainder")
        .orderBy($"dow")
    }, Some("""
      WITH daily AS (SELECT
          CAST(date_diff('day', DATE '1970-01-01',
            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS epd,
          CAST(sum(CAST(floor(value + 0.5) AS BIGINT)) AS BIGINT) AS dv
        FROM events GROUP BY 1),
      tr AS (SELECT epd, dv,
          count(*) OVER w7 AS wn,
          sum(dv) OVER w7 // 7 AS trend
        FROM daily WINDOW w7 AS (ORDER BY epd ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      f AS (SELECT epd, dv, dv - trend AS dt, epd % 7 AS dow FROM tr WHERE wn = 7),
      seas AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
          CAST(sum(dt) // count(*) AS BIGINT) AS seasonal_units
        FROM f GROUP BY 1),
      j AS (SELECT f.dow, f.dt, f.dt - s.seasonal_units AS rem
        FROM f JOIN seas s ON f.dow = s.dow),
      ss AS (SELECT CAST(sum(CAST(dt AS HUGEINT) * dt) AS BIGINT) AS ss_detrended,
          CAST(sum(CAST(rem AS HUGEINT) * rem) AS BIGINT) AS ss_remainder FROM j)
      SELECT s.dow, s.n_days, s.seasonal_units, ss.ss_detrended, ss.ss_remainder
      FROM seas s CROSS JOIN ss ORDER BY s.dow""")),

    // ----- hash-uniformity audit (chi-square) -----------------------------
    // The whole battery leans on "md5 buckets are uniform" (folds,
    // samples, salts, policies); this audits the assumption with a
    // chi-square against uniform over 64 buckets, on two key sets of
    // different cardinality (500 doc ids, 15k order keys at sf0.01).
    // Scaled to integers: χ² = (k·Σo² − n²)/n, squares in 128-bit;
    // compared against the χ²(63) 5% critical value as a micro
    // constant. The honest reading matters: a healthy hash EXCEEDS the
    // 5% critical one time in twenty — the dev sweep across salts saw
    // 48–87 around the expected 63 — so one marginal flag across key
    // sets is the statistic working, while a large exceedance would
    // invalidate half the determinism conventions. One scan per key
    // type, 64-cell rollups. (Hashing a key space SMALLER than the
    // bucket count — e.g. this generator's 31-token vocabulary — can
    // never be occurrence-uniform; audit keys, not weighted
    // occurrences.)
    ("q273_hash_uniformity", (s: SparkSession, dir: String) => {
      import s.implicits._
      val crit = 82529000L // chi2(63) at 5%, micro
      val ids = Tables.t(s, dir, "documents")
        .select(conv(substring(md5(concat(lit("u|"), $"doc_id".cast("string"))),
          1, 8), 16, 10).cast("long") % 64)
        .toDF("bucket").withColumn("key_type", lit("doc_id"))
      val oks = Tables.t(s, dir, "orders")
        .select($"o_orderkey").distinct()
        .select((conv(substring(md5(concat(lit("u|"), $"o_orderkey".cast("string"))),
          1, 8), 16, 10).cast("long") % 64).as("bucket"))
        .withColumn("key_type", lit("o_orderkey"))
      val cells = ids.unionByName(oks)
        .groupBy($"key_type", $"bucket").agg(count(lit(1)).as("o"))
      cells.groupBy($"key_type")
        .agg(sum($"o").as("n"), count(lit(1)).as("k_used"),
          sum(expr("CAST(o AS DECIMAL(38,0)) * o")).as("so2"))
        .select($"key_type", $"n", $"k_used",
          // χ² = Σ(o − n/k)²·k/n = (k·Σo² − n²)/n — empty buckets are
          // absorbed by the identity (Σo = n over all k buckets)
          expr("""CAST(1000000 * (CAST(64 AS DECIMAL(38,0)) * so2
            - CAST(n AS DECIMAL(38,0)) * n) div n AS BIGINT)""")
            .as("chi2_micro"),
          lit(crit).as("crit_micro"))
        .withColumn("uniform_ok", ($"chi2_micro" < $"crit_micro").cast("long"))
        .orderBy($"key_type")
    }, Some(s"""
      WITH ids AS (SELECT 'doc_id' AS key_type,
          ('0x' || substr(md5('u|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 64 AS bucket
        FROM documents),
      oks AS (SELECT 'o_orderkey' AS key_type,
          ('0x' || substr(md5('u|' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
            % 64 AS bucket
        FROM (SELECT DISTINCT o_orderkey FROM orders)),
      cells AS (SELECT key_type, bucket, CAST(count(*) AS BIGINT) AS o
        FROM (SELECT * FROM ids UNION ALL SELECT * FROM oks)
        GROUP BY 1, 2),
      agg AS (SELECT key_type, CAST(sum(o) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS k_used,
          sum(CAST(o AS HUGEINT) * o) AS so2
        FROM cells GROUP BY 1)
      SELECT key_type, n, k_used,
        CAST(1000000 * (CAST(64 AS HUGEINT) * so2
          - CAST(n AS HUGEINT) * n) // n AS BIGINT) AS chi2_micro,
        CAST(82529000 AS BIGINT) AS crit_micro,
        CAST(CASE WHEN 1000000 * (CAST(64 AS HUGEINT) * so2
          - CAST(n AS HUGEINT) * n) // n < 82529000
          THEN 1 ELSE 0 END AS BIGINT) AS uniform_ok
      FROM agg ORDER BY key_type""")),

    // Autocorrelation of the daily series, a one-step
    // logistic GLM fit in exact integers, effective-sample-size
    // diagnostics for weighted data, and cold-start coverage of the CF
    // neighbor graph — time-series memory, an exact distributed GLM
    // iteration, and two production diagnostics.
    //
    // House rules as elsewhere: integer arithmetic at every gate, 128-bit
    // (DECIMAL(38,0)/HUGEINT) for moment products; centering multiplies
    // through by n instead of dividing (no fractional means anywhere).
    // Identical aliases both sides, total ORDER BY.

    // ----- autocorrelation function, lags 1..7 ----------------------------
    // Does today predict next week? The ACF at daily lags 1..7 over the
    // event-value series — the memory diagnostic that decides between
    // q223's naive and seasonal-naive forecasters and validates q270's
    // weekly decomposition. Centering is done EXACTLY by scaling:
    // c_t = n·x_t − S is an integer, ACF_L = Σ c_t·c_{t+L} / Σ c_t²
    // needs no fractional mean; lag pairing is an equi-join on the
    // |days| grid shifted by L (a 7-row lag table cross-joined, ONE
    // join for all lags). Products in 128-bit. Metadata-scale after
    // the daily pre-aggregate — the q229/q259 shape.
    ("q287_acf_daily", (s: SparkSession, dir: String) => {
      import s.implicits._
      val daily = Tables.t(s, dir, "events")
        .select(datediff(to_date($"ts".cast("timestamp")),
          lit("1970-01-01").cast("date")).cast("long").as("epd"),
          floor($"value" + 0.5).cast("long").as("v"))
        .groupBy($"epd").agg(sum($"v").as("dv"))
        .localCheckpoint() // reused: moments + both sides of the lag join
      val m = daily.agg(count(lit(1)).as("n"), sum($"dv").as("sv"))
      val centered = daily.crossJoin(broadcast(m))
        .select($"epd", ($"n" * $"dv" - $"sv").as("c"))
        .localCheckpoint()
      val den = centered.agg(
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("den"))
      val lags = (1L to 7L).map(l => Tuple1(l)).toDF("lag")
      val pairs = centered.toDF("epd", "c1").crossJoin(broadcast(lags))
        .withColumn("tgt", $"epd" + $"lag")
        .join(centered.toDF("tgt", "c2"), Seq("tgt"))
      pairs.groupBy($"lag")
        .agg(count(lit(1)).as("n_pairs"),
          sum(expr("CAST(c1 AS DECIMAL(38,0)) * c2")).as("num"))
        .crossJoin(broadcast(den))
        .select($"lag", $"n_pairs",
          expr("CAST(1000000 * num div den AS BIGINT)").as("acf_micro"))
        .orderBy($"lag")
    }, Some("""
      WITH daily AS (SELECT
          CAST(date_diff('day', DATE '1970-01-01',
            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS epd,
          CAST(sum(CAST(floor(value + 0.5) AS BIGINT)) AS BIGINT) AS dv
        FROM events GROUP BY 1),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dv) AS BIGINT) AS sv
        FROM daily),
      centered AS (SELECT d.epd, m.n * d.dv - m.sv AS c
        FROM daily d CROSS JOIN m),
      den AS (SELECT sum(CAST(c AS HUGEINT) * c) AS den FROM centered),
      lags(lag) AS (VALUES (CAST(1 AS BIGINT)), (2), (3), (4), (5), (6), (7)),
      pairs AS (SELECT l.lag, a.c AS c1, b.c AS c2
        FROM centered a CROSS JOIN lags l
        JOIN centered b ON b.epd = a.epd + l.lag)
      SELECT p.lag, CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(1000000 * sum(CAST(p.c1 AS HUGEINT) * p.c2) // d.den AS BIGINT)
          AS acf_micro
      FROM pairs p CROSS JOIN den d GROUP BY p.lag, d.den ORDER BY p.lag""")),

    // ----- effective sample size of a weighting scheme --------------------
    // Every importance-weighted pipeline (q190's DSIR reweighting, any
    // mixture temperature) should report Kish's ESS = (Σw)²/Σw² — the
    // number of EQUIVALENT unweighted samples the weighted set is
    // worth. Computed here for length-proportional sampling weights,
    // per source and overall: a low ess_ratio says the weights
    // concentrate on few documents and downstream variance will blow
    // up. Two moments per group, 128-bit, one scan — the diagnostic is
    // cheaper than the mistake it prevents.
    ("q289_effective_sample_size", (s: SparkSession, dir: String) => {
      import s.implicits._
      val w = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", TA.normText($"text").as("nt"))
        .select($"source", when($"nt" === "", lit(1L))
          .otherwise(size(split($"nt", " ")).cast("long") + 1L).as("w"))
      val per = w.groupBy($"source")
        .agg(count(lit(1)).as("n"), sum($"w").as("sw"),
          sum(expr("CAST(w AS DECIMAL(38,0)) * w")).as("sw2"))
        .select($"source", $"n",
          expr("CAST(CAST(sw AS DECIMAL(38,0)) * sw div sw2 AS BIGINT)")
            .as("ess"),
          expr("""CAST(1000000 * (CAST(sw AS DECIMAL(38,0)) * sw div sw2)
            div n AS BIGINT)""").as("ess_ratio_micro"))
      val overall = w.agg(count(lit(1)).as("n"), sum($"w").as("sw"),
          sum(expr("CAST(w AS DECIMAL(38,0)) * w")).as("sw2"))
        .select(lit("__overall__").as("source"), $"n",
          expr("CAST(CAST(sw AS DECIMAL(38,0)) * sw div sw2 AS BIGINT)")
            .as("ess"),
          expr("""CAST(1000000 * (CAST(sw AS DECIMAL(38,0)) * sw div sw2)
            div n AS BIGINT)""").as("ess_ratio_micro"))
      per.unionByName(overall).orderBy($"source")
    }, Some(s"""
      WITH w AS (SELECT source,
          CASE WHEN $normSql = '' THEN 1
            ELSE CAST(len(string_split($normSql, ' ')) AS BIGINT) + 1 END AS w
        FROM documents),
      per AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(w) AS BIGINT) AS sw, sum(CAST(w AS HUGEINT) * w) AS sw2
        FROM w GROUP BY 1),
      ov AS (SELECT '__overall__' AS source, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(w) AS BIGINT) AS sw, sum(CAST(w AS HUGEINT) * w) AS sw2
        FROM w),
      u AS (SELECT * FROM per UNION ALL SELECT * FROM ov)
      SELECT source, n,
        CAST(CAST(sw AS HUGEINT) * sw // sw2 AS BIGINT) AS ess,
        CAST(1000000 * (CAST(sw AS HUGEINT) * sw // sw2) // n AS BIGINT)
          AS ess_ratio_micro
      FROM u ORDER BY source""")),

    // ----- Mann–Kendall trend + Theil–Sen slope ---------------------------
    // The nonparametric trend verdict on the daily order series: is
    // there a monotone trend (q229's CUSUM finds level SHIFTS, q270
    // splits structure — neither answers "monotone drift?"). S =
    // Σ_{i<j} sign(c_j − c_i) over the DAY GRID (the corpus collapses
    // to |days| rows first — at 100 TB the grid is time-bounded, not
    // corpus-bounded; the pair join is |days|², ~2.9M cells here,
    // documented as the grid bound). Tie-corrected variance
    // var = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18 from the count-value
    // histogram; z = (S ∓ 1)/√var with the sqrt map-side on the one
    // final row. Theil–Sen: median of the pairwise slopes
    // (c_j−c_i)·1e6 div (d_j−d_i) — the median via the slope VALUE
    // grid (cumulative counts, no global sort of pairs), midpoint of
    // the two straddling ranks.
    ("q295_mann_kendall", (s: SparkSession, dir: String) => {
      import s.implicits._
      val daily = Tables.t(s, dir, "orders")
        .select(datediff($"o_orderdate", lit("1992-01-01")).cast("long").as("d"))
        .groupBy($"d").agg(count(lit(1)).as("c"))
        .localCheckpoint() // reused: pairs (both sides), ties, n
      val pairs = daily.toDF("da", "ca")
        .join(daily.toDF("db", "cb"), $"da" < $"db")
        .localCheckpoint() // reused: S-aggregate + slope grid
      val sagg = pairs.agg(count(lit(1)).as("n_pairs"),
        sum(when($"cb" > $"ca", 1L).when($"cb" < $"ca", -1L).otherwise(0L))
          .as("s_stat"),
        sum(when($"cb" > $"ca", 1L).otherwise(0L)).as("n_conc"),
        sum(when($"cb" < $"ca", 1L).otherwise(0L)).as("n_disc"),
        sum(when($"cb" === $"ca", 1L).otherwise(0L)).as("n_tied"))
      val nd = daily.agg(count(lit(1)).as("n_days"))
      val ties = daily.groupBy($"c").agg(count(lit(1)).as("t"))
        .agg(coalesce(sum($"t" * ($"t" - 1) * (lit(2) * $"t" + 5)), lit(0L))
          .as("tsum"))
      val slopes = pairs
        .select(expr("(cb - ca) * 1000000 div (db - da)").as("sl"))
        .groupBy($"sl").agg(count(lit(1)).as("cnt"))
      val wv = Window.orderBy($"sl") // |distinct slopes|-bounded
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = slopes.withColumn("cum", sum($"cnt").over(wv))
        .crossJoin(broadcast(sagg.select($"n_pairs".as("npr"))))
        .agg(min(when($"cum" >= expr("(npr + 1) div 2"), $"sl")).as("v1"),
          min(when($"cum" >= expr("(npr + 2) div 2"), $"sl")).as("v2"))
      sagg.crossJoin(broadcast(nd)).crossJoin(broadcast(ties))
        .crossJoin(broadcast(med))
        .withColumn("var18",
          $"n_days" * ($"n_days" - 1) * (lit(2) * $"n_days" + 5) - $"tsum")
        .select($"n_days", $"n_pairs", $"s_stat", $"n_conc", $"n_disc",
          $"n_tied",
          expr("""CAST(floor(CAST(CASE WHEN s_stat > 0 THEN s_stat - 1
                 WHEN s_stat < 0 THEN s_stat + 1 ELSE 0 END AS DOUBLE)
               / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1000000 + 0.5)
               AS BIGINT)""").as("z_micro"),
          expr("(v1 + v2) div 2").as("sen_slope_micro"))
    }, Some("""
      WITH daily AS (SELECT
          CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
            AS BIGINT) AS d,
          CAST(count(*) AS BIGINT) AS c
        FROM orders GROUP BY 1),
      pairs AS (SELECT a.d AS da, a.c AS ca, b.d AS db, b.c AS cb
        FROM daily a JOIN daily b ON a.d < b.d),
      sagg AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(sum(CASE WHEN cb > ca THEN 1 WHEN cb < ca THEN -1 ELSE 0 END)
            AS BIGINT) AS s_stat,
          CAST(sum(CASE WHEN cb > ca THEN 1 ELSE 0 END) AS BIGINT) AS n_conc,
          CAST(sum(CASE WHEN cb < ca THEN 1 ELSE 0 END) AS BIGINT) AS n_disc,
          CAST(sum(CASE WHEN cb = ca THEN 1 ELSE 0 END) AS BIGINT) AS n_tied
        FROM pairs),
      nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
      ties AS (SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
            AS BIGINT) AS tsum
        FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY c)),
      slopes AS (SELECT (cb - ca) * 1000000 // (db - da) AS sl,
          CAST(count(*) AS BIGINT) AS cnt
        FROM pairs GROUP BY 1),
      cums AS (SELECT sl, CAST(sum(cnt) OVER (ORDER BY sl
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM slopes),
      med AS (SELECT
          min(CASE WHEN cum >= (s.n_pairs + 1) // 2 THEN sl END) AS v1,
          min(CASE WHEN cum >= (s.n_pairs + 2) // 2 THEN sl END) AS v2
        FROM cums CROSS JOIN sagg s)
      SELECT nd.n_days, s.n_pairs, s.s_stat, s.n_conc, s.n_disc, s.n_tied,
        CAST(floor(CAST(CASE WHEN s.s_stat > 0 THEN s.s_stat - 1
              WHEN s.s_stat < 0 THEN s.s_stat + 1 ELSE 0 END AS DOUBLE)
            / sqrt(CAST(nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
              - t.tsum AS DOUBLE) / 18.0) * 1000000 + 0.5) AS BIGINT)
          AS z_micro,
        (m.v1 + m.v2) // 2 AS sen_slope_micro
      FROM sagg s CROSS JOIN nd CROSS JOIN ties t CROSS JOIN med m""")),

    // ----- Wasserstein-1 length-distribution shift ------------------------
    // KL (q127) blows up on support mismatch and KS (q195) reads only
    // the worst single gap; W1 = ∫|F_s − F_corpus| dv is the
    // earth-mover read that weighs BOTH how often and HOW FAR a
    // source's length distribution sits from the corpus — the
    // drift statistic reweighting policies (q190) actually want.
    // Same grid-cumulative shape as q195: per-source CDFs ride
    // partitioned windows over the DISTINCT value grid (bounded by
    // value cardinality — bucket first for unbounded domains); the
    // integrand |cum_s·n − cum_c·n_s| · gap runs in DECIMAL(38,0)/
    // HUGEINT (cum·n reaches n², past Int64 at ~3e9 rows), and the
    // one division lands on the final 20 rows. W1 is in value units
    // (chars), micro-scaled.
    ("q303_wasserstein_drift", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", $"n_chars".as("v"))
      val ns = d.groupBy($"source").agg(count(lit(1)).as("n_s"))
      val tot = d.agg(count(lit(1)).as("n"))
      val cv = d.groupBy($"v").agg(count(lit(1)).as("c"))
        .withColumn("cum_c", sum($"c").over(
          Window.orderBy($"v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("gap", coalesce(
          lead($"v", 1).over(Window.orderBy($"v")) - $"v", lit(0L)))
        .select($"v", $"cum_c", $"gap")
      val sv = d.groupBy($"source", $"v").agg(count(lit(1)).as("c"))
      val grid = d.select($"source").distinct()
        .crossJoin(d.select($"v").distinct())
      val cums = grid.join(sv, Seq("source", "v"), "left")
        .na.fill(0L, Seq("c"))
        .withColumn("cum_s", sum($"c").over(
          Window.partitionBy($"source").orderBy($"v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      cums.join(cv, Seq("v"))
        .join(ns, Seq("source"))
        .crossJoin(broadcast(tot))
        .groupBy($"source")
        .agg(max($"n_s").as("n_docs"),
          sum(abs(expr("CAST(cum_s AS DECIMAL(38,0)) * n") -
                  expr("CAST(cum_c AS DECIMAL(38,0)) * n_s")) * $"gap")
            .as("area"),
          max(expr("CAST(n_s AS DECIMAL(38,0)) * n")).as("den"))
        .select($"source", $"n_docs",
          expr("CAST((1000000 * area) div den AS BIGINT)")
            .as("w1_micro_chars"))
        .orderBy($"source")
    }, Some("""
      WITH d AS (SELECT source, n_chars AS v FROM documents),
      ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM d GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      cv AS (SELECT v,
          CAST(sum(count(*)) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_c,
          coalesce(lead(v, 1) OVER (ORDER BY v) - v, 0) AS gap
        FROM d GROUP BY v),
      sv AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c
        FROM d GROUP BY 1, 2),
      grid AS (SELECT s.source, g.v
        FROM (SELECT DISTINCT source FROM d) s
        CROSS JOIN (SELECT DISTINCT v FROM d) g),
      cums AS (SELECT grid.source, grid.v,
          CAST(sum(coalesce(sv.c, 0)) OVER (PARTITION BY grid.source
            ORDER BY grid.v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_s
        FROM grid LEFT JOIN sv ON grid.source = sv.source AND grid.v = sv.v),
      m AS (SELECT c.source, max(ns.n_s) AS n_docs,
          sum(abs(CAST(c.cum_s AS HUGEINT) * tot.n
                  - CAST(cv.cum_c AS HUGEINT) * ns.n_s) * cv.gap) AS area,
          max(CAST(ns.n_s AS HUGEINT) * tot.n) AS den
        FROM cums c JOIN cv ON c.v = cv.v JOIN ns ON c.source = ns.source
        CROSS JOIN tot GROUP BY 1)
      SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        CAST((1000000 * area) // den AS BIGINT) AS w1_micro_chars
      FROM m ORDER BY source""")),

    // ----- lagged cross-correlation between two event series --------------
    // q287 asks whether a series predicts ITSELF; this asks whether one
    // stream LEADS another: the cross-correlation of daily error-counts
    // against daily purchase-value at lags −3..+3. A peak at positive
    // lag says errors precede purchase shifts — the incident-impact
    // read an ops dashboard wants. Same scale shape as q287: the corpus
    // collapses to the day grid first, centering is exact by scaling
    // (n·x_t − S), the 7 lags ride ONE equi-join against a broadcast
    // lag table, products in 128-bit, and the sqrt-normalized ratio is
    // the identical final double formula on both engines over 7 rows.
    // CCF convention: full-series means/variances, pairwise-complete
    // overlap sums.
    ("q307_cross_correlation", (s: SparkSession, dir: String) => {
      import s.implicits._
      val ev = Tables.t(s, dir, "events")
        .select(datediff(to_date($"ts".cast("timestamp")),
          lit("1970-01-01").cast("date")).cast("long").as("epd"),
          $"event_type",
          floor($"value" + 0.5).cast("long").as("v"))
      val daily = ev.groupBy($"epd").agg(
          sum(when($"event_type" === "error", 1L).otherwise(0L)).as("a"),
          sum(when($"event_type" === "purchase", $"v").otherwise(0L)).as("b"))
        .localCheckpoint() // reused: moments + both sides of the lag join
      val m = daily.agg(count(lit(1)).as("n"), sum($"a").as("sa"),
        sum($"b").as("sb"))
      val centered = daily.crossJoin(broadcast(m))
        .select($"epd", ($"n" * $"a" - $"sa").as("ca"),
          ($"n" * $"b" - $"sb").as("cb"))
        .localCheckpoint()
      val dens = centered.agg(
        sum(expr("CAST(ca AS DECIMAL(38,0)) * ca")).as("da"),
        sum(expr("CAST(cb AS DECIMAL(38,0)) * cb")).as("db"))
      val lags = (-3L to 3L).map(l => Tuple1(l)).toDF("lag")
      val pairs = centered.select($"epd", $"ca").crossJoin(broadcast(lags))
        .withColumn("tgt", $"epd" + $"lag")
        .join(centered.select($"epd".as("tgt"), $"cb"), Seq("tgt"))
      pairs.groupBy($"lag")
        .agg(count(lit(1)).as("n_pairs"),
          sum(expr("CAST(ca AS DECIMAL(38,0)) * cb")).as("num"))
        .crossJoin(broadcast(dens))
        .select($"lag", $"n_pairs",
          expr("""CAST(floor(CAST(num AS DOUBLE)
              / sqrt(CAST(da AS DOUBLE) * CAST(db AS DOUBLE))
              * 1000000 + 0.5) AS BIGINT)""").as("ccf_micro"))
        .orderBy($"lag")
    }, Some("""
      WITH daily AS (SELECT
          CAST(date_diff('day', DATE '1970-01-01',
            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS epd,
          CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            AS BIGINT) AS a,
          CAST(sum(CASE WHEN event_type = 'purchase'
            THEN CAST(floor(value + 0.5) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS b
        FROM events GROUP BY 1),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(a) AS BIGINT)
          AS sa, CAST(sum(b) AS BIGINT) AS sb FROM daily),
      centered AS (SELECT d.epd, m.n * d.a - m.sa AS ca,
          m.n * d.b - m.sb AS cb FROM daily d CROSS JOIN m),
      dens AS (SELECT sum(CAST(ca AS HUGEINT) * ca) AS da,
          sum(CAST(cb AS HUGEINT) * cb) AS db FROM centered),
      lags(lag) AS (VALUES (CAST(-3 AS BIGINT)), (-2), (-1), (0), (1),
        (2), (3)),
      pairs AS (SELECT l.lag, x.ca, y.cb
        FROM centered x CROSS JOIN lags l
        JOIN centered y ON y.epd = x.epd + l.lag)
      SELECT p.lag, CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(floor(CAST(sum(CAST(p.ca AS HUGEINT) * p.cb) AS DOUBLE)
          / sqrt(CAST(d.da AS DOUBLE) * CAST(d.db AS DOUBLE))
          * 1000000 + 0.5) AS BIGINT) AS ccf_micro
      FROM pairs p CROSS JOIN dens d GROUP BY p.lag, d.da, d.db
      ORDER BY p.lag""")),

    // ----- EWMA control chart (exact trailing-16 weights) -----------------
    // The classic λ=1/8 EWMA z_t = (7·z_{t−1} + x_t)/8 is a recursion —
    // hostile to both engines — but its trailing-16 truncation is a
    // CLOSED FORM: z_t = Σ_{k=0..15} 7^k·8^(15−k)·x_{t−k} / 8^16, with
    // every weight an exact Int64 (7^15·1 and 1·8^15 both < 2^53, so
    // pow() is exact in both engines) and the truncation error < (7/8)^16
    // ≈ 12% of weight mass, absorbed into the statistic's definition.
    // Distributed shape: the corpus collapses to the day grid, the 16
    // lags ride ONE equi-join against a broadcast lag table (the q287
    // pattern), the weighted sum runs in DECIMAL(38,0), and the alarm
    // compares |1e6·x_t − z_t| against 3σ̂ with σ̂ from exact integer
    // central sums and the one final sqrt. Only days with a full
    // 16-day history are emitted (HAVING count = 16).
    ("q312_ewma_control_chart", (s: SparkSession, dir: String) => {
      import s.implicits._
      val daily = Tables.t(s, dir, "events")
        .select(datediff(to_date($"ts".cast("timestamp")),
          lit("1970-01-01").cast("date")).cast("long").as("epd"))
        .groupBy($"epd").agg(count(lit(1)).as("x"))
        .localCheckpoint() // reused: moments + both sides of the lag join
      val m = daily.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      val sig = m.select(
        expr("""CAST(floor(sqrt(CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx
            AS DOUBLE)) / CAST(n AS DOUBLE) * 1000000 + 0.5) AS BIGINT)""")
          .as("sigma_micro"))
      val lags = (0L to 15L).map(k => Tuple1(k)).toDF("k")
      val z = daily.select($"epd".as("t")).crossJoin(broadcast(lags))
        .withColumn("src", $"t" - $"k")
        .join(daily.select($"epd".as("src"), $"x".as("xs")), Seq("src"))
        .groupBy($"t")
        .agg(count(lit(1)).as("nw"),
          sum(expr("""CAST(CAST(pow(7, k) AS BIGINT)
              * CAST(pow(8, 15 - k) AS BIGINT) AS DECIMAL(38,0)) * xs"""))
            .as("wsum"))
        .filter($"nw" === 16)
        .select($"t",
          expr("CAST(1000000 * wsum div CAST(pow(8, 16) AS DECIMAL(38,0)) AS BIGINT)")
            .as("ewma_micro"))
      z.join(daily.select($"epd".as("t"), $"x"), Seq("t"))
        .crossJoin(broadcast(sig))
        .select($"t".as("epd"), $"x", $"ewma_micro",
          when(abs($"x" * 1000000L - $"ewma_micro") >
            lit(3L) * $"sigma_micro", 1L).otherwise(0L).as("alarm"))
        .orderBy($"epd")
    }, Some("""
      WITH daily AS (SELECT
          CAST(date_diff('day', DATE '1970-01-01',
            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS epd,
          CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT)
          AS sx, sum(CAST(x AS HUGEINT) * x) AS sxx FROM daily),
      sig AS (SELECT CAST(floor(sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx
          AS DOUBLE)) / CAST(n AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
          AS sigma_micro FROM m),
      lags AS (SELECT CAST(k AS BIGINT) AS k
        FROM (SELECT unnest(range(16)) AS k)),
      z AS (SELECT g.t,
          CAST(1000000 * sum(CAST(CAST(pow(7, l.k) AS BIGINT)
            * CAST(pow(8, 15 - l.k) AS BIGINT) AS HUGEINT) * d.x)
            // CAST(pow(8, 16) AS HUGEINT) AS BIGINT) AS ewma_micro,
          count(*) AS nw
        FROM (SELECT epd AS t FROM daily) g
        CROSS JOIN lags l JOIN daily d ON d.epd = g.t - l.k
        GROUP BY 1 HAVING count(*) = 16)
      SELECT z.t AS epd, d.x, z.ewma_micro,
        CAST(CASE WHEN abs(d.x * 1000000 - z.ewma_micro)
          > 3 * s.sigma_micro THEN 1 ELSE 0 END AS BIGINT) AS alarm
      FROM z JOIN daily d ON d.epd = z.t CROSS JOIN sig s
      ORDER BY epd""")),

    // Good–Turing unseen-mass estimation per source
    // (the probability-of-novelty companion to q313's richness counts),
    // the German-tank cardinality estimator (ID-space size from a sample
    // — the sampling-side answer q311 audits from the hash side), and a
    // sliding 7-day distinct-user window (the windowed COUNT DISTINCT
    // every engagement dashboard needs and naive windowing gets wrong).
    //
    // House rules as elsewhere: integer arithmetic at every gate,
    // identical aliases both sides, total ORDER BY.

    // ----- German-tank cardinality estimator ------------------------------
    // How many rows does the table have, from a SAMPLE of its serial
    // ids? The minimum-variance unbiased answer (the WWII production
    // estimate): N̂ = m + m/k − 1 with m the sample max and k the
    // sample size — assuming ids are 1..N serials, which this audit
    // CHECKS by also reporting the true count and max. Sample is the
    // engine-reproducible md5-Bernoulli ~10% (no RNG); the whole
    // operator is two aggregates over one scan, output a single row.
    // The production read: estimate a partner table's cardinality from
    // a sampled extract before planning the full copy (q165's
    // join-size forecast needs exactly this input when only a sample
    // has landed).
    ("q316_german_tank", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.spread(Tables.t(s, dir, "orders"))
        .select($"o_orderkey".as("id"))
      val tot = d.agg(count(lit(1)).as("n_true"), max($"id").as("max_true"))
      val samp = d.filter(
          conv(substring(md5(concat(lit("gt|"), $"id".cast("string"))),
            1, 8), 16, 10).cast("long") % 10 === 0)
        .agg(count(lit(1)).as("k"), max($"id").as("m"))
      samp.crossJoin(broadcast(tot))
        .select($"n_true", $"max_true", $"k", $"m",
          expr("m + m div k - 1").as("n_est"),
          expr("""CAST(floor(CAST(m + m div k - 1 - max_true AS DOUBLE)
              / CAST(max_true AS DOUBLE) * 1000000 + 0.5) AS BIGINT)""")
            .as("err_vs_max_micro"))
    }, Some("""
      WITH d AS (SELECT o_orderkey AS id FROM orders),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_true,
          CAST(max(id) AS BIGINT) AS max_true FROM d),
      samp AS (SELECT CAST(count(*) AS BIGINT) AS k,
          CAST(max(id) AS BIGINT) AS m
        FROM d WHERE ('0x' || substr(md5('gt|' || CAST(id AS VARCHAR)),
          1, 8))::BIGINT % 10 = 0)
      SELECT tot.n_true, tot.max_true, samp.k, samp.m,
        samp.m + samp.m // samp.k - 1 AS n_est,
        CAST(floor(CAST(samp.m + samp.m // samp.k - 1 - tot.max_true
            AS DOUBLE)
          / CAST(tot.max_true AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
          AS err_vs_max_micro
      FROM samp CROSS JOIN tot""")),

    // ----- sliding 7-day distinct users -----------------------------------
    // Windowed COUNT DISTINCT does NOT decompose over a sliding window
    // (distinct is not subtractable), which is why naive rolling sums
    // get WAU wrong. The exact distributed form: collapse events to
    // DISTINCT (day, user) pairs once, then fan each pair to the ≤7
    // window-end days it supports via a broadcast 0..6 offset grid and
    // count DISTINCT users per end day — the fanout is 7×|distinct
    // day-user pairs|, never 7×|events|, and every stage is an
    // equi-shuffle on the day. Emitted for end days with a full 7-day
    // history inside the observed range.
    ("q317_sliding_distinct_users", (s: SparkSession, dir: String) => {
      import s.implicits._
      val du = Tables.t(s, dir, "events")
        .select(datediff(to_date($"ts".cast("timestamp")),
          lit("1970-01-01").cast("date")).cast("long").as("epd"),
          $"user_id")
        .distinct()
        .localCheckpoint() // reused: range scalar + the offset fanout
      val rng = du.agg(min($"epd").as("mn"), max($"epd").as("mx"))
      val offs = (0L to 6L).map(k => Tuple1(k)).toDF("off")
      du.crossJoin(broadcast(offs))
        .select(($"epd" + $"off").as("endd"), $"user_id")
        .crossJoin(broadcast(rng))
        .filter($"endd" - 6 >= $"mn" && $"endd" <= $"mx")
        .groupBy($"endd")
        .agg(countDistinct($"user_id").as("wau"))
        .orderBy($"endd")
    }, Some("""
      WITH du AS (SELECT DISTINCT
          CAST(date_diff('day', DATE '1970-01-01',
            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS epd,
          user_id
        FROM events),
      rng AS (SELECT min(epd) AS mn, max(epd) AS mx FROM du),
      offs AS (SELECT CAST(o AS BIGINT) AS off
        FROM (SELECT unnest(range(7)) AS o)),
      fan AS (SELECT du.epd + offs.off AS endd, du.user_id
        FROM du CROSS JOIN offs CROSS JOIN rng
        WHERE du.epd + offs.off - 6 >= rng.mn AND du.epd + offs.off <= rng.mx)
      SELECT endd, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      FROM fan GROUP BY endd ORDER BY endd""")),

    // The PRODUCTION-form threshold sweep — the q408
    // dial run over a candidate space that stays bounded at any corpus
    // shape (r11 VERDICT item 1 / missing #2).
    //
    // The three sweeps now tell one complete story:
    //  - q408 audits q23's bucket-blocked char-3-gram space — exact on a
    //    DENSE gram universe, quadratic by ANSWER size (killed at ×100);
    //  - q410 is the recall-lossless curve over PPJoin prefix-filtered
    //    pairs — the true curve, same density boundary;
    //  - q416 (here) is what production runs at 100 TB: banded-MinHash
    //    candidate generation (bucket-bounded by construction — pair work
    //    is Σ|bucket|², and band keys over 2 minhashes keep buckets small
    //    on any non-degenerate corpus), exact integer verify with the
    //    codegen'd two-pointer kernel, then the multi-τ cut table. q411
    //    measured this index's recall per cut (≥ the 500k-cut recall for
    //    every higher τ, since banding only loses LOW-similarity pairs);
    //    q416 is the sweep itself over those candidates — the table a
    //    curation run reads to pick its dedup threshold.
    //
    // The oracle replays the band keys EXACTLY (q21's template CTE) and
    // then the same integer cut arithmetic, so the gate pins the whole
    // candidate-generation + verify + sweep chain, not just the counts.

    // ----- distribution-drift monitors ------------------------------------
    // The re-crawl question a production corpus asks every snapshot:
    // has the length distribution MOVED? Three standard monitors over
    // the same split (snapshot A = even doc_id, B = odd — the
    // deterministic stand-in for consecutive crawls), all computed
    // from ONE distinct-value grid: per-value (countA, countB) and
    // GridCumulative running totals — never a global sort, never a
    // per-row rank. Pair counts are corpus-sized; the grid is
    // value-DOMAIN-sized (distinct document lengths), the same
    // boundedness argument as the rank-test battery (q356/q357).
    // All comparisons are cross-multiplied exact integers
    // (|cumA·nB − cumB·nA| in DECIMAL(38,0) vs DuckDB HUGEINT);
    // doubles appear only in the final scalar chains, written with
    // IDENTICAL expression text on both engines. Where an exact
    // integer is itself an OUTPUT column (q417 d_num, q418 w1_num),
    // the oracle narrows it to BIGINT at the very end: that cast is a
    // gate-representation constraint, not an engine-type claim — the
    // driver's duckdb→pandas bridge degrades both HUGEINT and
    // DECIMAL(38,0) to float64 ("12345.0", 1e+26), which would break
    // the exact string-repr compare, while BIGINT survives verbatim.
    // The narrowing is safe to |d_num| < 2^63, i.e. ~3e9 docs per
    // split; the engine-side arithmetic stays DECIMAL(38,0)/HUGEINT
    // throughout (r12 ADVICE, adjudicated with a measured probe).

    // Kolmogorov–Smirnov two-sample: D = sup|F_A − F_B| — the classic
    // nonparametric drift alarm (q357 ranks; this sups the CDF gap).
    ("q417_ks_two_sample", (s: SparkSession, dir: String) => {
      import s.implicits._
      val (cums, tot) = driftCums(s, dir)
      val dmax = cums.crossJoin(broadcast(tot))
        .select(abs($"cuma".cast("decimal(38,0)") * $"n_b" -
          $"cumb".cast("decimal(38,0)") * $"n_a").as("dn"))
        .agg(max($"dn").as("d_num"))
      dmax.crossJoin(broadcast(tot)).select(
        $"n_a", $"n_b", $"d_num",
        expr(KsDSql).as("d_stat"),
        expr(s"sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / " +
          s"CAST(n_a + n_b AS DOUBLE)) * ($KsDSql)").as("ks_scaled"))
    }, Some(s"""
      WITH $DriftGridSql,
      m AS (SELECT CAST(max(abs(cuma * (SELECT n_b FROM t)
                         - cumb * (SELECT n_a FROM t))) AS BIGINT) AS d_num FROM c)
      SELECT n_a, n_b, d_num, $KsDSql AS d_stat,
        sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) /
          CAST(n_a + n_b AS DOUBLE)) * ($KsDSql) AS ks_scaled
      FROM t, m""")),

    // Wasserstein-1 (earth mover) drift: ∫|F_A − F_B| dx — KS flags
    // the worst point; W1 prices the whole transport. Exact integer
    // numerator Σ|cumA·nB − cumB·nA|·Δv over consecutive grid values.
    ("q418_wasserstein_drift", (s: SparkSession, dir: String) => {
      import s.implicits._
      val (cums, tot) = driftCums(s, dir)
      // lead over the GRID: value-domain-bounded, the documented
      // bounded-grid window idiom (one row per distinct length)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(0)).orderBy($"n_chars")
      val segs = cums.withColumn("vnext", lead($"n_chars", 1).over(w))
        .filter($"vnext".isNotNull)
        .crossJoin(broadcast(tot))
        .select((abs($"cuma".cast("decimal(38,0)") * $"n_b" -
          $"cumb".cast("decimal(38,0)") * $"n_a") *
          ($"vnext" - $"n_chars").cast("decimal(38,0)")).as("seg"))
      segs.agg(sum($"seg").as("w1_num")).crossJoin(broadcast(tot))
        .select($"n_a", $"n_b", $"w1_num",
          expr("CAST(w1_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * " +
            "CAST(n_b AS DOUBLE))").as("w1"))
    }, Some(s"""
      WITH $DriftGridSql,
      sg AS (SELECT abs(cuma * (SELECT n_b FROM t)
                      - cumb * (SELECT n_a FROM t))
               * (lead(n_chars) OVER (ORDER BY n_chars) - n_chars) AS seg
             FROM c),
      m AS (SELECT CAST(sum(seg) AS BIGINT) AS w1_num FROM sg WHERE seg IS NOT NULL)
      SELECT n_a, n_b, w1_num,
        CAST(w1_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS w1
      FROM t, m""")),

    // Population stability index over pooled deciles — the ML-ops
    // drift score. Decile assignment is EXACT integer (a 10-arm CASE
    // on (cum_pool−1)·10 vs b·n — no decimal division, whose rounding
    // differs between engines); the ≤10 ln terms fold sorted by bin
    // (the q386 sorted-fold discipline). Bins where either side is
    // empty contribute 0 by convention (ε-free; n_bins_used reports
    // how many scored).
    ("q419_psi_deciles", (s: SparkSession, dir: String) => {
      import s.implicits._
      val (cums, tot) = driftCums(s, dir)
      val binned = cums.crossJoin(broadcast(tot))
        .withColumn("xp",
          ($"cump".cast("decimal(38,0)") - 1) * 10)
        .withColumn("nt", ($"n_a" + $"n_b").cast("decimal(38,0)"))
        .withColumn("bin", expr(PsiBinCase))
      val bins = binned.groupBy($"bin").agg(
        sum($"ca").as("a"), sum($"cb").as("b"))
      bins.crossJoin(broadcast(tot))
        .withColumn("term", expr(PsiTermSql))
        .agg(
          count(lit(1)).as("n_bins"),
          sum(when($"a" > 0 && $"b" > 0, 1L).otherwise(0L)).as("n_bins_used"),
          first($"n_a").as("n_a"), first($"n_b").as("n_b"),
          collect_list(struct($"bin", $"term")).as("ts"))
        .withColumn("psi", expr(
          "aggregate(array_sort(ts), CAST(0.0 AS DOUBLE), (acc, t) -> acc + t.term)"))
        .select($"n_a", $"n_b", $"n_bins", $"n_bins_used", $"psi")
    }, Some(s"""
      WITH $DriftGridSql,
      bn AS (SELECT ${PsiBinCaseSql} AS bin, ca, cb FROM c),
      bins AS (SELECT bin, CAST(sum(ca) AS BIGINT) AS a,
          CAST(sum(cb) AS BIGINT) AS b FROM bn GROUP BY 1),
      tm AS (SELECT bin, $PsiTermSql AS term FROM bins, t),
      ag AS (SELECT CAST(count(*) AS BIGINT) AS n_bins,
          CAST(sum(CASE WHEN a > 0 AND b > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_bins_used
        FROM bins, t),
      ps AS (SELECT list_reduce(list(term ORDER BY bin), (x, y) -> x + y)
          AS psi FROM tm)
      SELECT n_a, n_b, n_bins, n_bins_used, psi FROM t, ag, ps"""))
  )
}
