package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Similarity, TextAnalysis => TA}
import graft.operators.GraphQueries.StagedSlices

/** Evaluation metrics over corpus scores: ranking and retrieval
  * metrics, classifier calibration and operating points, recommender
  * and link-prediction scores, label audits.
  *
  * Section "Text analysis & corpus curation" of
  * docs/OPERATORS.md.
  */
object EvalMetricQueries {

  private val normSql = TA.normTextSql
  private val Projs = Similarity.OracleProjs
  private val prepSql = Similarity.prepareSql
  private def bucketSql: String = Similarity.lshBucketSql

  /** RBO weights (1−p)·p^(d−1) at p = 0.9, micro, depths 1..20 —
    * precomputed once HERE so Spark and DuckDB share the exact
    * constants (no cross-engine pow()). */
  private val RboW: Seq[Long] = {
    var w = 0.1
    (1 to 20).map { _ => val r = math.floor(w * 1e6 + 0.5).toLong; w *= 0.9; r }
  }

  /** log₂(i+1) in micro for ranks 1..10 — the nDCG discount ladder,
    * precomputed once so both engines share the exact constants. */
  private val Lg2: Seq[Long] =
    (1 to 10).map(i => math.floor(math.log(i + 1) / math.log(2) * 1e6 + 0.5).toLong)

  /** Adamic–Adar over the co-purchase graph with the hub-cap dial.
    *
    * `cap` bounds the wedge-center degree: only centers with
    * 2 ≤ deg(w) ≤ cap enumerate wedges, making the join cost
    * Σ_{deg(w) ≤ cap} deg(w)² instead of Σ deg(w)² — the production
    * dial for hub-skewed graphs, where a handful of promiscuous
    * centers carry most of the quadratic cost while contributing the
    * LEAST-informative wedges (AA already discounts them by
    * 1/ln(deg)). The cap is applied by inner-joining the filtered
    * weight table onto one wedge leg BEFORE the self-join, so capped
    * centers never fan out. cap ≥ max-degree (e.g. Long.MaxValue)
    * reproduces the exact result bit-for-bit (Round8zSpec pins this);
    * measured at sf0.1, cap = 128 halves Σdeg² (3.0e8 → 1.5e8).
    */
  /** Wedge-aggregate sizing (r14, guide §2.2/§5): target rows per
    * aggregate task. At sf0.1 the 32-wide aggregate held ~4 M groups of
    * hash state per task and sort-spilled ~15 GB on each side of the
    * exchange, while the map-side partial pass reduced the wedge stream
    * by only 3.6 % (145.7 M → 140.5 M rows) — the group key (x, x2) is
    * scattered across map tasks, so partial aggregation is pure
    * overhead here. 500 k rows/task keeps both hash maps of the
    * post-exchange partial+final pair ≤ ~25 MB — inside a fair task
    * share of the execution pool at 32 concurrent tasks on the 8 g
    * default heap — and derives the width from the DATA (measured wedge
    * count), not the core count, so the same rule sizes the aggregate
    * at any SF or cluster width.
    */
  private val WedgeRowsPerTask = 500000L

  private[graft] def adamicAdar(s: SparkSession, dir: String,
      cap: Long): DataFrame = {
    import s.implicits._
    val (pairs, sym, wts) = wedgeInputs(s, dir, cap)
    // measured wedge volume Σ C(deg,2) over capped centers — one tiny
    // aggregate over the checkpointed edge list (≤ |V| groups)
    val nWedges = sym.groupBy($"w").agg(count(lit(1)).as("deg"))
      .filter($"deg" >= 2 && $"deg" <= cap)
      .agg(coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L)))
      .head().getLong(0)
    val aggWidth = math.max(s.sparkContext.defaultParallelism.toLong,
      (nWedges + WedgeRowsPerTask - 1) / WedgeRowsPerTask).toInt
    // repartition on the GROUP key moves the exchange BELOW the
    // aggregation: the map side becomes a pure join + shuffle write (no
    // hash map, no sort-fallback), and the one aggregation runs at a
    // width where per-task state fits (REPARTITION_BY_NUM also keeps
    // AQE from re-coalescing this CPU-dense stage by bytes)
    val wedges = sym.join(wts, Seq("w")) // cap applied BEFORE the fanout
      .join(sym.toDF("w", "x2"), Seq("w"))
      .filter($"x" < $"x2")
      .repartition(aggWidth, $"x", $"x2")
      .groupBy($"x", $"x2")
      .agg(count(lit(1)).as("n_common"), sum($"wm").as("aa_micro"))
    // anti-join strategy picked from the MEASURED edge count: a sort-merge
    // anti here sorts the wedge aggregate (Σdeg²/2 rows — the biggest
    // table in the query) just to subtract the existing-edge set, which
    // is orders of magnitude smaller (guide §3.1)
    wedges.join(
        AdaptiveJoin.broadcastIfSmall(pairs.select($"a".as("x"), $"b".as("x2"))),
        Seq("x", "x2"), "left_anti")
      .select($"x".as("item_a"), $"x2".as("item_b"), $"n_common",
        $"aa_micro")
      .orderBy(desc("aa_micro"), $"item_a", $"item_b").limit(20)
  }

  /** Shared wedge inputs: the deduped co-purchase pair list
    * (checkpointed — reused by both sym legs and the anti-join), its
    * symmetric closure, and the cap-filtered micro-ln weight table.
    */
  private[graft] def wedgeInputs(s: SparkSession, dir: String, cap: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val items = Tables.t(s, dir, "lineitem")
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    val pairs = items.toDF("ok", "a").join(items.toDF("ok", "b"), Seq("ok"))
      .filter($"a" < $"b")
      .groupBy($"a", $"b").agg(count(lit(1)).as("cab"))
      .localCheckpoint() // reused: sym edges (twice) + the anti-join
    val sym = pairs.select($"a".as("w"), $"b".as("x"))
      .unionByName(pairs.select($"b".as("w"), $"a".as("x")))
    val wts = sym.groupBy($"w").agg(count(lit(1)).as("deg"))
      .filter($"deg" >= 2 && $"deg" <= cap)
      .select($"w", expr(
        """CAST(1000000000000 div
           CAST(floor(ln(CAST(deg AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
           AS BIGINT)""").as("wm"))
    (pairs, sym, wts)
  }

  /** One staged slice's chain (wedge fanout → exact per-slice aggregate
    * → anti-join → slice top-20).
    */
  private[graft] def sliceTop(s: SparkSession, leg1: DataFrame, sym: DataFrame,
      pairs: DataFrame, broadcastAnti: Boolean, slices: Int,
      b: Int): DataFrame = {
    import s.implicits._
    val wedges = leg1
      .join(sym.toDF("w", "x2")
        .filter(pmod(hash($"x2"), lit(slices)) === b), Seq("w"))
      .filter($"x" < $"x2")
      .groupBy($"x", $"x2")
      .agg(count(lit(1)).as("n_common"), sum($"wm").as("aa_micro"))
    val anti0 = pairs.filter(pmod(hash($"b"), lit(slices)) === b)
      .select($"a".as("x"), $"b".as("x2"))
    wedges
      .join(AdaptiveJoin.broadcastIf(broadcastAnti, anti0),
        Seq("x", "x2"), "left_anti")
      .select($"x".as("item_a"), $"x2".as("item_b"), $"n_common",
        $"aa_micro")
      .orderBy(desc("aa_micro"), $"item_a", $"item_b").limit(20)
  }

  /** The staged (disk-bounded) form of [[adamicAdar]]: bit-identical
    * result, executed as `slices` SEQUENTIAL sub-jobs. Slice b owns
    * the x2-hash-slice `pmod(hash(x2), slices) = b` of the wedge
    * space: because the slice key is a function of x2 alone, every
    * (x, x2) wedge group lives entirely in one slice, so the
    * per-slice aggregate is exact and the slice's top-20 is a
    * superset of the global top-20's members in that slice — the
    * union of per-slice top-20s re-sorted under the same total order
    * IS the global top-20. Each slice materializes eagerly
    * (localCheckpoint, ≤ 20 rows kept) before the next starts, so
    * peak shuffle/spill disk is Σ_{deg≤cap} deg²/slices instead of
    * the whole wedge volume at once — the per-task state bound that
    * lets the ×30+ scale probes complete on one box where the
    * single-shot form exhausts the spill disk (bench/r09_scale100_*
    * are the failure baselines). The weight table is checkpointed
    * once (≤ |V| rows) so slices don't recompute the degree scan.
    */
  private[graft] def adamicAdarStaged(s: SparkSession, dir: String,
      cap: Long, slices: Int): DataFrame = {
    import s.implicits._
    val (pairs, sym, wts0) = wedgeInputs(s, dir, cap)
    val wts = wts0.localCheckpoint()
    // same measured-size anti-join pick as the single-shot form; the
    // whole edge set bounds every per-slice subset, so one count decides
    // for all slices
    val broadcastAnti = AdaptiveJoin.isSmall(pairs)
    // NOT width-pinned (r14, measured): AQE's byte-based coalescing runs
    // the slice fanout at 16 tasks at sf0.1 (28 MB shuffled in), which
    // looks like the r13 prefix-chain starvation — but pinning sym's
    // exchange to full width (REPARTITION_BY_NUM on w, reused by both
    // join legs) measured NEUTRAL-TO-WORSE in an interleaved A/B
    // (min-of-2: old 19.8 s vs pinned 21.3 s), the wider sort/merge
    // overhead eating the extra cores on this slice volume. And the
    // starvation is a small-bytes artifact: at production volumes the
    // per-slice wedge bytes keep AQE's own coalescing wide. Rejected;
    // see BENCHNOTES r14. (A pin on leg1's OUTPUT was also tried and
    // silently vanished — its child already satisfied hash(w, 32), so
    // EnsureRequirements dropped the redundant exchange.)
    val leg1 = sym.join(wts, Seq("w")) // cap applied BEFORE the fanout
    val parts = (0 until slices).map { b =>
      val top = sliceTop(s, leg1, sym, pairs, broadcastAnti, slices, b)
        .localCheckpoint() // eager: THIS slice's job runs to completion here
      // the finished slice's shuffle lineage is now unreferenced; a GC
      // lets the ContextCleaner drop its shuffle files before the next
      // slice needs the disk (the whole point of staging)
      if (slices > 1) System.gc()
      top
    }
    parts.reduce(_ unionByName _)
      .orderBy(desc("aa_micro"), $"item_a", $"item_b").limit(20)
  }

  /** q300's ARI closed form over (n, ix, sa, sb). Spark's `div` always
    * returns BIGINT, so the halved C(n,2) is re-cast to DECIMAL(38,0)
    * before the `· ix` / `· (sa+sb)` multiplies — at n ~ 2e6 those
    * products reach ~2e24 and the un-recast form wraps (or throws
    * under ANSI). Shared with Round8abSpec's int64-boundary pin so the
    * spec can never desync from the shipped expression.
    */
  private[graft] val AriExprSql = """CAST(floor(
      CAST(2 * CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) div 2
             AS DECIMAL(38,0)) * ix
           - 2 * CAST(sa AS DECIMAL(38,0)) * sb AS DOUBLE)
      / CAST(CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) div 2
             AS DECIMAL(38,0)) * (sa + sb)
           - 2 * CAST(sa AS DECIMAL(38,0)) * sb AS DOUBLE)
      * 1000000 + 0.5) AS BIGINT)"""

  /** The battery's shared hashed-token document score (q297's form);
    * reused by q329's label-noise estimate. */
  private[operators] def scoredDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.spread(Tables.t(s, dir, "documents"))
      .select($"doc_id", $"n_chars",
        explode(split(TA.normText($"text"), " ")).as("tok"))
      .withColumn("w",
        conv(substring(md5(concat(lit("w|"),
            (conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long") % 1024)
              .cast("string"))), 1, 8), 16, 10)
          .cast("long") % 2001 - 1000)
      .groupBy($"doc_id").agg(max($"n_chars").as("nc"), sum($"w").as("score"))
      .withColumn("pos", ($"nc" >= 250).cast("long"))
  }

  private val scoredSql = s"""
      st AS (SELECT doc_id, n_chars,
          unnest(string_split($normSql, ' ')) AS tok FROM documents),
      sc AS (SELECT doc_id, max(n_chars) AS nc,
          CAST(sum(('0x' || substr(md5('w|' || CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000) AS BIGINT) AS score
        FROM st GROUP BY 1),
      lab AS (SELECT doc_id, score,
          CAST(CASE WHEN nc >= 250 THEN 1 ELSE 0 END AS BIGINT) AS pos
        FROM sc)"""

  /** The dial value used by the gated capped query — chosen from the
    * measured sf0.1 degree distribution (median 119, p99 183,
    * max 222): D = 128 halves the wedge-join cost while keeping the
    * median-degree mass intact.
    */
  val AaCap = 128L

  /** q321's oracle, shared verbatim by q353's staged form (the staged
    * execution is a pure physical re-plan — the answer is defined to
    * be bit-identical, so both gate against the same SQL).
    */
  private val AaCappedOracleSql = s"""
      WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        FROM lineitem),
      pairs AS (SELECT a.pk AS a, b.pk AS b, CAST(count(*) AS BIGINT) AS cab
        FROM items a JOIN items b ON a.ok = b.ok WHERE a.pk < b.pk GROUP BY 1, 2),
      sym AS (SELECT a AS w, b AS x FROM pairs
        UNION ALL SELECT b AS w, a AS x FROM pairs),
      wts AS (SELECT w, CAST(1000000000000
            // CAST(floor(ln(CAST(count(*) AS DOUBLE)) * 1000000 + 0.5)
              AS BIGINT) AS BIGINT) AS wm
        FROM sym GROUP BY w HAVING count(*) >= 2 AND count(*) <= $AaCap),
      wedges AS (SELECT s1.x AS x, s2.x AS x2,
          CAST(count(*) AS BIGINT) AS n_common,
          CAST(sum(w.wm) AS BIGINT) AS aa_micro
        FROM sym s1 JOIN wts w ON s1.w = w.w
        JOIN sym s2 ON s1.w = s2.w AND s1.x < s2.x
        GROUP BY 1, 2),
      pred AS (SELECT wd.* FROM wedges wd
        LEFT JOIN pairs p ON wd.x = p.a AND wd.x2 = p.b
        WHERE p.a IS NULL)
      SELECT x AS item_a, x2 AS item_b, n_common, aa_micro
      FROM pred ORDER BY aa_micro DESC, item_a, item_b LIMIT 20"""

  def queries: Seq[Entry] = Seq(

    // ----- scorer calibration audit (reliability table + ECE) -------------
    // Model-based filtering at corpus scale is only as good as its
    // calibration: a scorer whose top decile is not actually better data
    // silently skews the mixture. This audits q191's map-side hashed
    // linear scorer against the held-out `lang='en'` label. Predicted
    // probability is RANK-based (the midrank fraction of the doc's logit
    // in the corpus), computed scale-safely: the window runs over the
    // DISTINCT-LOGIT VALUE GRID (bounded by the score's integer range,
    // orders below the corpus — the q195 grid convention), never over
    // rows; docs join back to the grid by logit equi-join (grid
    // broadcastable). Bins are midrank deciles; per-bin predicted-vs-
    // observed (micro) plus the expected calibration error
    // ECE = Σ_b n_b·|pred_b − obs_b| / N. Everything after the q191 scan
    // touches only the grid and 10 bin rows.
    ("q204_score_calibration", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"lang", explode(split(TA.normText($"text"), " ")).as("tok"))
      val scored = toks
        .withColumn("w",
          conv(substring(md5(concat(lit("w|"),
              (conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long") % 1024)
                .cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2001 - 1000)
        .groupBy($"doc_id", $"lang").agg(sum($"w").as("logit"))
        .select($"doc_id", $"logit",
          when($"lang" === "en", 1L).otherwise(0L).as("y"))
      val grid = scored.groupBy($"logit").agg(count(lit(1)).as("n_l"))
      // the logit grid is NOT domain-bounded (distinct sums grow with
      // the corpus) — two-level running total instead of a global window
      val g2 = graft.ext.GridCumulative
        .withRunningTotal(grid, "logit", "n_l", "__cum")
        .withColumn("cum_prev", $"__cum" - $"n_l").drop("__cum")
      val tot = scored.agg(count(lit(1)).as("n"))
      val g3 = g2.crossJoin(broadcast(tot))
        .select($"logit",
          expr("((2 * cum_prev + n_l) * 500000) div n").as("predv_micro"),
          expr("least(9, ((2 * cum_prev + n_l) * 5) div n)").as("bin"))
      val perBin = scored.join(broadcast(g3), Seq("logit"))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n_docs"), sum($"y").as("n_pos"),
          sum($"predv_micro").as("sp"))
        .select($"bin", $"n_docs", $"n_pos",
          expr("sp div n_docs").as("pred_micro"),
          expr("(1000000 * n_pos) div n_docs").as("obs_micro"))
        .withColumn("gap_micro", abs($"pred_micro" - $"obs_micro"))
      val ece = perBin.agg(sum($"n_docs" * $"gap_micro").as("wg"))
        .crossJoin(broadcast(tot)).select(expr("wg div n").as("ece_micro"))
      perBin.crossJoin(broadcast(ece)).orderBy("bin")
    }, Some(s"""
      WITH toks AS (SELECT doc_id, lang, unnest(string_split($normSql, ' ')) AS tok FROM documents),
      tw AS (SELECT doc_id, lang,
          ('0x' || substr(md5('w|' || CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000 AS w
        FROM toks),
      scored AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS logit,
          CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
        FROM tw GROUP BY doc_id, lang),
      grid AS (SELECT logit, CAST(count(*) AS BIGINT) AS n_l FROM scored GROUP BY 1),
      g2 AS (SELECT logit, n_l, CAST(coalesce(sum(n_l) OVER (ORDER BY logit
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_prev
        FROM grid),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scored),
      g3 AS (SELECT logit, ((2 * cum_prev + n_l) * 500000) // n AS predv_micro,
          least(9, ((2 * cum_prev + n_l) * 5) // n) AS bin
        FROM g2 CROSS JOIN tot),
      pb AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(s.y) AS BIGINT) AS n_pos, CAST(sum(predv_micro) AS BIGINT) AS sp
        FROM scored s JOIN g3 USING (logit) GROUP BY 1),
      pb2 AS (SELECT bin, n_docs, n_pos, sp // n_docs AS pred_micro,
          (1000000 * n_pos) // n_docs AS obs_micro,
          abs(sp // n_docs - (1000000 * n_pos) // n_docs) AS gap_micro
        FROM pb),
      e AS (SELECT CAST(sum(n_docs * gap_micro) AS BIGINT) // tot.n AS ece_micro
        FROM pb2 CROSS JOIN tot GROUP BY tot.n)
      SELECT bin, n_docs, n_pos, pred_micro, obs_micro, gap_micro, e.ece_micro
      FROM pb2 CROSS JOIN e ORDER BY bin""")),

    // Optimal change-point by binary segmentation,
    // weight-of-evidence feature binning, leakage-free K-fold target
    // encoding, and the disparity-filter graph backbone — time-series,
    // feature-engineering, and network-reduction surface.
    //
    // House rules as elsewhere: integer arithmetic at every gate, micro-ln
    // for transcendentals, 128-bit (DECIMAL(38,0)/HUGEINT) where count
    // products appear, identical aliases both sides, total ORDER BY.

    // ----- weight-of-evidence binning + information value -----------------
    // The credit-scoring feature-binning standard: bin a continuous
    // feature (order total price in cents) into 5 equal-depth bins
    // (q217's ntile form), call high-priority orders the "good" class,
    // and score each bin by WoE = ln(good share / bad share) with the
    // total Information Value Σ (g − b)·WoE saying whether the feature
    // separates the classes at all. Shares in parts-per-million, WoE in
    // micro-ln, the IV product in 128-bit. One pass bins, one aggregate
    // scores.
    ("q260_woe_iv", (s: SparkSession, dir: String) => {
      import s.implicits._
      val o0 = Tables.t(s, dir, "orders")
        .select(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("cents"),
          $"o_orderkey".as("okey"),
          (substring($"o_orderpriority", 1, 1) <= "2").as("good"))
      // distributed exact ntile (r14; was a single-partition window over
      // every order row): GridRank.withNtile range-buckets on cents and
      // replays Spark's exact ntile fill rule — bit-identical ranks/bins
      // at any bucket count (GridRankSpec), bounded per-task state at
      // any scale. okey tie-break — the q237 total-order rule.
      val o = graft.ext.GridRank
        .withNtile(o0, 5, "cents", Seq($"okey"), "bin")
        .withColumn("bin", $"bin".cast("long"))
      val tot = o0.agg(
        sum(when($"good", 1L).otherwise(0L)).as("tg"),
        sum(when(!$"good", 1L).otherwise(0L)).as("tb"))
      val bins = o.groupBy($"bin")
        .agg(count(lit(1)).as("n"),
          sum(when($"good", 1L).otherwise(0L)).as("ng"),
          sum(when(!$"good", 1L).otherwise(0L)).as("nb"))
        .crossJoin(broadcast(tot))
        .withColumn("gs", expr("1000000 * ng div tg"))
        .withColumn("bs", expr("1000000 * nb div tb"))
        .withColumn("woe_micro",
          floor(log($"gs".cast("double") / $"bs".cast("double")) * 1e6 + 0.5)
            .cast("long"))
      bins.select($"bin", $"n", $"ng", $"nb", $"gs", $"bs", $"woe_micro",
          expr("CAST(CAST(gs - bs AS DECIMAL(38,0)) * woe_micro div 1000000 AS BIGINT)")
            .as("iv_part_micro"))
        .orderBy($"bin")
    }, Some("""
      WITH o AS (SELECT
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
          o_orderkey AS okey,
          (substr(o_orderpriority, 1, 1) <= '2') AS good FROM orders),
      b AS (SELECT *, CAST(ntile(5) OVER (ORDER BY cents, okey) AS BIGINT) AS bin
        FROM o),
      tot AS (SELECT CAST(sum(CASE WHEN good THEN 1 ELSE 0 END) AS BIGINT) AS tg,
          CAST(sum(CASE WHEN NOT good THEN 1 ELSE 0 END) AS BIGINT) AS tb FROM b),
      bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN good THEN 1 ELSE 0 END) AS BIGINT) AS ng,
          CAST(sum(CASE WHEN NOT good THEN 1 ELSE 0 END) AS BIGINT) AS nb
        FROM b GROUP BY 1),
      sc AS (SELECT bin, n, ng, nb,
          1000000 * ng // tg AS gs, 1000000 * nb // tb AS bs
        FROM bins CROSS JOIN tot),
      woe AS (SELECT *, CAST(floor(ln(CAST(gs AS DOUBLE) / CAST(bs AS DOUBLE))
            * 1e6 + 0.5) AS BIGINT) AS woe_micro FROM sc)
      SELECT bin, n, ng, nb, gs, bs, woe_micro,
        CAST(CAST(gs - bs AS HUGEINT) * woe_micro // 1000000 AS BIGINT)
          AS iv_part_micro
      FROM woe ORDER BY bin""")),

    // ----- leakage-free K-fold target encoding ----------------------------
    // Target encoding done RIGHT: each row's category encoding is the
    // target mean computed from the OTHER four folds — the standard
    // guard against the target leaking into its own feature (the naive
    // global mean memorizes rare categories). The trick that makes it
    // one pass: per-(category, fold) partial sums, then each fold's
    // encoding = (total − own fold) / (n_total − n_own) — no per-fold
    // rescans, K never multiplies the corpus work. Folds are
    // md5-deterministic; target = order price in cents; category =
    // customer market segment reached by a broadcast dim join. Output
    // is the encoding table per (segment, fold) plus its spread — the
    // honest check that fold encodings differ (if they didn't, the
    // leakage guard would be free). At 100 TB: one groupBy + a
    // |categories|·K rollup.
    ("q261_target_encoding", (s: SparkSession, dir: String) => {
      import s.implicits._
      val o = Tables.t(s, dir, "orders")
        .select($"o_custkey",
          expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
            .as("cents"),
          (conv(substring(md5(concat(lit("fold|"), $"o_orderkey".cast("string"))),
            1, 8), 16, 10).cast("long") % 5).as("fold"))
      val seg = Tables.t(s, dir, "customer").select($"c_custkey", $"c_mktsegment")
      val rows = o.join(broadcast(seg), $"o_custkey" === $"c_custkey")
      val pf = rows.groupBy($"c_mktsegment", $"fold")
        .agg(sum($"cents").as("s"), count(lit(1)).as("n"))
      val pt = pf.groupBy($"c_mktsegment")
        .agg(sum($"s").as("ts"), sum($"n").as("tn"))
      val enc = pf.join(pt, Seq("c_mktsegment"))
        .withColumn("enc_cents", expr("(ts - s) div (tn - n)"))
      val spread = enc.groupBy($"c_mktsegment")
        .agg(max($"enc_cents").as("mx"), min($"enc_cents").as("mn"))
      enc.join(spread, Seq("c_mktsegment"))
        .select($"c_mktsegment", $"fold", $"n", $"enc_cents",
          ($"mx" - $"mn").as("spread_cents"))
        .orderBy($"c_mktsegment", $"fold")
    }, Some("""
      WITH o AS (SELECT o_custkey,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
          ('0x' || substr(md5('fold|' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
            % 5 AS fold
        FROM orders),
      rows_ AS (SELECT c.c_mktsegment, o.cents, o.fold
        FROM o JOIN customer c ON o.o_custkey = c.c_custkey),
      pf AS (SELECT c_mktsegment, fold, CAST(sum(cents) AS BIGINT) AS s,
          CAST(count(*) AS BIGINT) AS n FROM rows_ GROUP BY 1, 2),
      pt AS (SELECT c_mktsegment, CAST(sum(s) AS BIGINT) AS ts,
          CAST(sum(n) AS BIGINT) AS tn FROM pf GROUP BY 1),
      enc AS (SELECT pf.c_mktsegment, pf.fold, pf.n,
          (pt.ts - pf.s) // (pt.tn - pf.n) AS enc_cents
        FROM pf JOIN pt ON pf.c_mktsegment = pt.c_mktsegment),
      spread AS (SELECT c_mktsegment, max(enc_cents) AS mx, min(enc_cents) AS mn
        FROM enc GROUP BY 1)
      SELECT e.c_mktsegment, e.fold, e.n, CAST(e.enc_cents AS BIGINT) AS enc_cents,
        CAST(s.mx - s.mn AS BIGINT) AS spread_cents
      FROM enc e JOIN spread s ON e.c_mktsegment = s.c_mktsegment
      ORDER BY e.c_mktsegment, e.fold""")),

    // ----- bandit replay (off-policy evaluation) --------------------------
    // The replay method (Li et al. 2011): estimate what reward a NEW
    // action policy would have earned from a log collected under an old
    // one, by keeping exactly the events where the logged action equals
    // the policy's choice — unbiased when logging was uniform. Policies
    // evaluated: p1_hash (a per-user deterministic preference — the
    // md5-argmax over the action set, a stand-in for any learned
    // per-user model), p2_best_global (always the action with the best
    // logged mean reward — computed IN-DAG and broadcast, no driver
    // round-trip), and the logged baseline. Everything is one scan with
    // conditional aggregation; the action set is |event_types|-bounded.
    // At 100 TB this is the standard counterfactual dashboard: map-side
    // policy evaluation, one rollup, no joins except a broadcast scalar.
    ("q263_bandit_replay", (s: SparkSession, dir: String) => {
      import s.implicits._
      val ev = Tables.t(s, dir, "events")
        .select($"user_id", $"event_type".as("action"),
          floor($"value" * 1e6 + 0.5).cast("long").as("r"))
      val actions = ev.select($"action").distinct()
      // p1: per-user md5-argmax over the action set (bounded cross join)
      val p1 = ev.select($"user_id").distinct()
        .crossJoin(broadcast(actions))
        .withColumn("sc", conv(substring(md5(concat(lit("p1|"),
          $"user_id".cast("string"), lit("|"), $"action")), 1, 8), 16, 10)
          .cast("long"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"user_id").orderBy(desc("sc"), $"action")))
        .filter($"rn" === 1).select($"user_id", $"action".as("p1_action"))
      // p2: the single best action by logged mean reward (in-DAG scalar)
      val p2 = ev.groupBy($"action")
        .agg(expr("sum(r) div count(1)").as("mean_r"))
        .orderBy(desc("mean_r"), $"action").limit(1)
        .select($"action".as("p2_action"))
      val joined = ev
        .join(p1, Seq("user_id"))
        .crossJoin(broadcast(p2))
      val rows = Seq(
        ("logged", joined.agg(count(lit(1)).as("nm"), sum($"r").as("sr"),
          count(lit(1)).as("n"))),
        ("p1_hash", joined.filter($"action" === $"p1_action")
          .agg(count(lit(1)).as("nm"), sum($"r").as("sr"))
          .crossJoin(broadcast(joined.agg(count(lit(1)).as("n"))))),
        ("p2_best_global", joined.filter($"action" === $"p2_action")
          .agg(count(lit(1)).as("nm"), sum($"r").as("sr"))
          .crossJoin(broadcast(joined.agg(count(lit(1)).as("n"))))))
      rows.map { case (nm, df) =>
        df.select(lit(nm).as("policy"), $"n".as("n_events"), $"nm".as("n_matched"),
          expr("1000000 * nm div n").as("match_micro"),
          expr("sr div nm").as("reward_micro"))
      }.reduce(_ unionByName _).orderBy($"policy")
    }, Some("""
      WITH ev AS (SELECT user_id, event_type AS action,
          CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS r FROM events),
      actions AS (SELECT DISTINCT action FROM ev),
      p1 AS (SELECT user_id, action AS p1_action FROM (
          SELECT u.user_id, a.action,
            row_number() OVER (PARTITION BY u.user_id ORDER BY
              ('0x' || substr(md5('p1|' || CAST(u.user_id AS VARCHAR) || '|'
                || a.action), 1, 8))::BIGINT DESC, a.action) AS rn
          FROM (SELECT DISTINCT user_id FROM ev) u CROSS JOIN actions a)
        WHERE rn = 1),
      p2 AS (SELECT action AS p2_action FROM (
          SELECT action, sum(r) // count(*) AS mean_r FROM ev GROUP BY 1)
        ORDER BY mean_r DESC, action LIMIT 1),
      j AS (SELECT ev.*, p1.p1_action, p2.p2_action
        FROM ev JOIN p1 USING (user_id) CROSS JOIN p2),
      n_all AS (SELECT CAST(count(*) AS BIGINT) AS n FROM j),
      rows_ AS (
        SELECT 'logged' AS policy, n.n AS n_events,
          CAST(count(*) AS BIGINT) AS n_matched, CAST(sum(r) AS BIGINT) AS sr
        FROM j CROSS JOIN n_all n GROUP BY n.n
        UNION ALL
        SELECT 'p1_hash', n.n, CAST(count(*) AS BIGINT), CAST(sum(r) AS BIGINT)
        FROM j CROSS JOIN n_all n WHERE action = p1_action GROUP BY n.n
        UNION ALL
        SELECT 'p2_best_global', n.n, CAST(count(*) AS BIGINT), CAST(sum(r) AS BIGINT)
        FROM j CROSS JOIN n_all n WHERE action = p2_action GROUP BY n.n)
      SELECT policy, n_events, n_matched,
        1000000 * n_matched // n_events AS match_micro,
        sr // n_matched AS reward_micro
      FROM rows_ ORDER BY policy""")),

    // Item–item collaborative filtering, exact
    // (tie-corrected) AUC over sample fractions, rank-biased overlap of
    // two rankings, and a postings d-gap varint sizing estimate —
    // recommendation, model-evaluation, and IR-index surface.
    //
    // House rules as elsewhere: integer arithmetic at every gate; where a
    // per-row scalar needs sqrt, it runs map-side on exact integers (no
    // distributed double sums); truncated geometric weights (RBO) are
    // Scala-precomputed integer constants embedded IDENTICALLY in both
    // engines' queries. Identical aliases both sides, total ORDER BY.

    // ----- item–item collaborative filtering ------------------------------
    // The classic "customers who bought X also bought Y": cosine
    // similarity over binary co-purchase vectors, sim(a,b) =
    // c_ab / √(c_a·c_b), which needs only the q151 pair counts and the
    // per-item supports — no vectors materialized. The sqrt is a
    // map-side scalar on exact integer counts. Neighbors symmetrize,
    // rank ≤ 3 compiles to WindowGroupLimit (overflow rows never leave
    // the map side — the q197 shape), and output is restricted to the
    // 10 highest-support items so the answer is bounded at any SF. At
    // 100 TB: pair counting is the blocked self-join every recommender
    // runs; everything after is |items|-bounded.
    ("q275_item_item_cf", (s: SparkSession, dir: String) => {
      import s.implicits._
      val items = Tables.t(s, dir, "lineitem")
        .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
      val sup = items.groupBy($"pk").agg(count(lit(1)).as("c"))
      val pairs = items.toDF("ok", "a").join(items.toDF("ok", "b"), Seq("ok"))
        .filter($"a" < $"b")
        .groupBy($"a", $"b").agg(count(lit(1)).as("cab"))
      val sym = pairs.unionByName(
        pairs.select($"b".as("a"), $"a".as("b"), $"cab"))
      val scored = sym
        .join(sup.select($"pk".as("a"), $"c".as("ca")), Seq("a"))
        .join(sup.select($"pk".as("b"), $"c".as("cb")), Seq("b"))
        .withColumn("cos_micro", expr(
          """CAST(floor(1000000 * CAST(cab AS DOUBLE)
             / sqrt(CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)) + 0.5) AS BIGINT)"""))
      val top10 = sup.orderBy(desc("c"), $"pk").limit(10)
        .select($"pk".as("a"))
      scored.join(broadcast(top10), Seq("a"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy($"a").orderBy(desc("cos_micro"), $"b")))
        .filter($"rnk" <= 3)
        .select($"a".as("item"), $"b".as("neighbor"), $"cab", $"cos_micro",
          $"rnk".cast("long").as("rnk"))
        .orderBy($"item", $"rnk")
    }, Some("""
      WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        FROM lineitem),
      sup AS (SELECT pk, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY 1),
      pairs AS (SELECT a.pk AS a, b.pk AS b, CAST(count(*) AS BIGINT) AS cab
        FROM items a JOIN items b ON a.ok = b.ok WHERE a.pk < b.pk GROUP BY 1, 2),
      sym AS (SELECT a, b, cab FROM pairs UNION ALL SELECT b, a, cab FROM pairs),
      scored AS (SELECT s.a, s.b, s.cab,
          CAST(floor(1000000 * CAST(s.cab AS DOUBLE)
            / sqrt(CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) + 0.5) AS BIGINT)
            AS cos_micro
        FROM sym s JOIN sup ca ON s.a = ca.pk JOIN sup cb ON s.b = cb.pk),
      top10 AS (SELECT pk AS a FROM sup ORDER BY c DESC, pk LIMIT 10),
      ranked AS (SELECT sc.*, row_number() OVER (PARTITION BY sc.a
          ORDER BY sc.cos_micro DESC, sc.b) AS rnk
        FROM scored sc JOIN top10 t ON sc.a = t.a)
      SELECT a AS item, b AS neighbor, cab, cos_micro, CAST(rnk AS BIGINT) AS rnk
      FROM ranked WHERE rnk <= 3 ORDER BY item, rnk""")),

    // ----- exact AUC learning curve ---------------------------------------
    // Mann–Whitney AUC of the hashed linear scorer (q191's join-free
    // classifier) against the quality signal, computed EXACTLY with tie
    // correction: group by score, one cumulative window over the score
    // grid gives negatives-below, and U×2 = Σ(2·neg_below·pos_g +
    // pos_g·neg_g) clears the ½-tie term without fractions. Evaluated
    // at 25/50/100% md5-samples — the learning-curve read that says
    // whether more eval data would change the ranking verdict. The
    // corpus pass is one scoring scan; each AUC is |distinct scores|-
    // bounded. 128-bit for the count products.
    ("q276_auc_learning_curve", (s: SparkSession, dir: String) => {
      import s.implicits._
      val scored = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"n_chars",
          explode(split(TA.normText($"text"), " ")).as("tok"))
        .withColumn("w",
          conv(substring(md5(concat(lit("w|"),
              (conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long") % 1024)
                .cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2001 - 1000)
        .groupBy($"doc_id").agg(max($"n_chars").as("nc"), sum($"w").as("score"))
        .withColumn("pos", ($"nc" >= 250).cast("long"))
        .withColumn("h", conv(substring(md5(concat(lit("lc|"),
          $"doc_id".cast("string"))), 1, 8), 16, 10).cast("long") % 4)
        .localCheckpoint() // three sample fractions reuse it
      val fracs = Seq(("f25", 1L), ("f50", 2L), ("f100", 4L))
      fracs.map { case (nm, keep) =>
        val sm = scored.filter($"h" < keep)
        val grid = sm.groupBy($"score")
          .agg(sum($"pos").as("pg"), sum(lit(1L) - $"pos").as("ng"))
        val w = Window.orderBy($"score") // |distinct scores|-bounded
        val u2 = grid
          .withColumn("nb", coalesce(sum($"ng")
            .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .agg(sum(expr("2 * CAST(nb AS DECIMAL(38,0)) * pg + CAST(pg AS DECIMAL(38,0)) * ng"))
            .as("u2"),
            sum($"pg").as("np"), sum($"ng").as("nn"))
        u2.select(lit(nm).as("fraction"), $"np".as("n_pos"), $"nn".as("n_neg"),
          expr("""CAST(1000000 * u2 div (CAST(2 AS DECIMAL(38,0)) * np * nn)
            AS BIGINT)""").as("auc_micro"))
      }.reduce(_ unionByName _).orderBy($"fraction")
    }, Some(s"""
      WITH st AS (SELECT doc_id, n_chars,
          unnest(string_split($normSql, ' ')) AS tok FROM documents),
      sc AS (SELECT doc_id, max(n_chars) AS nc,
          CAST(sum(('0x' || substr(md5('w|' || CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000) AS BIGINT) AS score
        FROM st GROUP BY 1),
      lab AS (SELECT doc_id, score,
          CAST(CASE WHEN nc >= 250 THEN 1 ELSE 0 END AS BIGINT) AS pos,
          ('0x' || substr(md5('lc|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 4 AS h
        FROM sc),
      fr AS (SELECT 'f25' AS fraction, CAST(1 AS BIGINT) AS keep
        UNION ALL SELECT 'f50', 2 UNION ALL SELECT 'f100', 4),
      sm AS (SELECT fr.fraction, lab.score, lab.pos
        FROM lab JOIN fr ON lab.h < fr.keep),
      grid AS (SELECT fraction, score, CAST(sum(pos) AS BIGINT) AS pg,
          CAST(sum(1 - pos) AS BIGINT) AS ng
        FROM sm GROUP BY 1, 2),
      cum AS (SELECT *, coalesce(sum(ng) OVER (PARTITION BY fraction
          ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS nb FROM grid),
      agg AS (SELECT fraction,
          sum(CAST(2 AS HUGEINT) * nb * pg + CAST(pg AS HUGEINT) * ng) AS u2,
          CAST(sum(pg) AS BIGINT) AS np, CAST(sum(ng) AS BIGINT) AS nn
        FROM cum GROUP BY 1)
      SELECT fraction, np AS n_pos, nn AS n_neg,
        CAST(1000000 * u2 // (CAST(2 AS HUGEINT) * np * nn) AS BIGINT) AS auc_micro
      FROM agg ORDER BY fraction""")),

    // ----- rank-biased overlap of two rankings ----------------------------
    // RBO (Webber et al.): top-weighted agreement between the hashed
    // scorer's ranking and the length ranking, truncated at depth 20 —
    // the ranking-comparison metric that, unlike Spearman (q244),
    // handles non-conjoint lists and weights the head. Identity used:
    // |A_d ∩ B_d| = #{docs with max(rank_A, rank_B) ≤ d}, so one join
    // of the two top-20 lists + a 20-row depth grid computes every
    // overlap; the geometric weights (1−p)p^(d−1) are Scala-
    // precomputed micro constants embedded in BOTH engines' queries —
    // no cross-engine pow(). Everything after the two TakeOrdered
    // top-20s is constant-size.
    ("q277_rank_biased_overlap", (s: SparkSession, dir: String) => {
      import s.implicits._
      val scored = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"n_chars",
          explode(split(TA.normText($"text"), " ")).as("tok"))
        .withColumn("w",
          conv(substring(md5(concat(lit("w|"),
              (conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long") % 1024)
                .cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2001 - 1000)
        .groupBy($"doc_id").agg(max($"n_chars").as("nc"), sum($"w").as("score"))
      val topA = scored.orderBy(desc("score"), $"doc_id").limit(20)
        .withColumn("ra", row_number().over(
          Window.orderBy(desc("score"), $"doc_id")).cast("long"))
        .select($"doc_id", $"ra")
      val topB = scored.orderBy(desc("nc"), $"doc_id").limit(20)
        .withColumn("rb", row_number().over(
          Window.orderBy(desc("nc"), $"doc_id")).cast("long"))
        .select($"doc_id", $"rb")
      val both = topA.join(topB, Seq("doc_id"))
        .select(greatest($"ra", $"rb").as("mr"))
      val depths = RboW.zipWithIndex
        .map { case (wd, i) => (i + 1L, wd) }.toDF("d", "w_micro")
      val xd = depths.join(both, $"mr" <= $"d", "left")
        .groupBy($"d", $"w_micro").agg(count($"mr").as("x_d"))
      xd.agg(
          sum(expr("w_micro * x_d div d")).as("rbo_micro"),
          max(when($"d" === 20, $"x_d")).as("overlap_at_20"))
        .select($"rbo_micro", $"overlap_at_20")
    }, Some {
      val wRows = RboW.zipWithIndex
        .map { case (wd, i) => s"(${i + 1}, $wd)" }.mkString(", ")
      s"""
      WITH st AS (SELECT doc_id, n_chars,
          unnest(string_split($normSql, ' ')) AS tok FROM documents),
      sc AS (SELECT doc_id, max(n_chars) AS nc,
          CAST(sum(('0x' || substr(md5('w|' || CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000) AS BIGINT) AS score
        FROM st GROUP BY 1),
      ta AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
          AS BIGINT) AS ra FROM sc ORDER BY score DESC, doc_id LIMIT 20),
      tb AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY nc DESC, doc_id)
          AS BIGINT) AS rb FROM sc ORDER BY nc DESC, doc_id LIMIT 20),
      bth AS (SELECT greatest(ta.ra, tb.rb) AS mr
        FROM ta JOIN tb USING (doc_id)),
      depths(d, w_micro) AS (VALUES $wRows),
      xd AS (SELECT d.d, d.w_micro, CAST(count(b.mr) AS BIGINT) AS x_d
        FROM depths d LEFT JOIN bth b ON b.mr <= d.d GROUP BY 1, 2)
      SELECT CAST(sum(w_micro * x_d // d) AS BIGINT) AS rbo_micro,
        CAST(max(CASE WHEN d = 20 THEN x_d END) AS BIGINT) AS overlap_at_20
      FROM xd"""
    }),

    // ----- one-step logistic regression (Fisher scoring from null) --------
    // A distributed GLM iteration with NO floating-point reduction:
    // starting from β = 0 the logistic Fisher-scoring step has weight
    // matrix W = ¼I and working response y − ½ exactly, so the first
    // Newton step β = 4(X'X)⁻¹X'(y − ½) is a RATIONAL function of five
    // integer moments (n, Σx, Σx², Σy, Σxy) — the 2×2 inverse in
    // closed form, halves cleared by doubling. One aggregate pass
    // computes the moments; the coefficient (nano-scaled, 128-bit
    // numerators) answers "does token count predict English?" with the
    // exact sign and magnitude any GLM library's first iteration would
    // produce. The template for distributed GLMs: moments shuffle,
    // never rows.
    ("q288_logistic_one_step", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.spread(Tables.t(s, dir, "documents"))
        .select(($"lang" === "en").cast("long").as("y"),
          TA.normText($"text").as("nt"))
        .select($"y", when($"nt" === "", lit(0L))
          .otherwise(size(split($"nt", " ")).cast("long")).as("x"))
      val mom = d.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum($"y").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
      mom.select($"n", $"sx", $"sy",
          expr("CAST(sxx AS BIGINT)").as("sxx"),
          expr("CAST(sxy AS BIGINT)").as("sxy"),
          // a2 = 2Σz, b2 = 2Σxz with z = y − ½;
          // det = n·Σx² − (Σx)²; β = 2·adj·[a2 b2] / det, nano-scaled
          expr("""CAST(2000000000 * (sxx * CAST(2 * sy - n AS DECIMAL(38,0))
            - CAST(sx AS DECIMAL(38,0)) * (2 * sxy - sx))
            div (CAST(n AS DECIMAL(38,0)) * sxx
            - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)""").as("b0_nano"),
          expr("""CAST(2000000000 * (CAST(n AS DECIMAL(38,0)) * (2 * sxy - sx)
            - CAST(sx AS DECIMAL(38,0)) * (2 * sy - n))
            div (CAST(n AS DECIMAL(38,0)) * sxx
            - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)""").as("b1_nano"))
    }, Some(s"""
      WITH d AS (SELECT
          CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y,
          CASE WHEN $normSql = '' THEN 0
            ELSE CAST(len(string_split($normSql, ' ')) AS BIGINT) END AS x
        FROM documents),
      mom AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
          sum(CAST(x AS HUGEINT) * x) AS sxx, CAST(sum(y) AS BIGINT) AS sy,
          sum(CAST(x AS HUGEINT) * y) AS sxy
        FROM d)
      SELECT n, sx, sy, CAST(sxx AS BIGINT) AS sxx, CAST(sxy AS BIGINT) AS sxy,
        CAST(2000000000 * (sxx * CAST(2 * sy - n AS HUGEINT)
          - CAST(sx AS HUGEINT) * (2 * sxy - sx))
          // (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT)
          AS b0_nano,
        CAST(2000000000 * (CAST(n AS HUGEINT) * (2 * sxy - sx)
          - CAST(sx AS HUGEINT) * (2 * sy - n))
          // (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT)
          AS b1_nano
      FROM mom""")),

    // ----- CF cold-start coverage -----------------------------------------
    // The recommender-quality read on top of q275: what share of items
    // in each support band has enough (≥3) sufficiently-similar
    // (cosine ≥ 0.05 — tuned to this co-purchase density; on retail
    // data it would be 0.1–0.3) neighbors to recommend from? Low-support items
    // with no neighbors are the cold-start set a content-based
    // fallback must cover — this query sizes that set exactly. Pair
    // counts and supports as in q275; the map-side cosine gate, one
    // per-item rollup, one band rollup. All |items|-bounded beyond the
    // pair counting.
    ("q290_cf_cold_start", (s: SparkSession, dir: String) => {
      import s.implicits._
      val items = Tables.t(s, dir, "lineitem")
        .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
      val sup = items.groupBy($"pk").agg(count(lit(1)).as("c"))
      val pairs = items.toDF("ok", "a").join(items.toDF("ok", "b"), Seq("ok"))
        .filter($"a" < $"b")
        .groupBy($"a", $"b").agg(count(lit(1)).as("cab"))
      val sym = pairs.unionByName(pairs.select($"b".as("a"), $"a".as("b"), $"cab"))
      val good = sym
        .join(sup.select($"pk".as("a"), $"c".as("ca")), Seq("a"))
        .join(sup.select($"pk".as("b"), $"c".as("cb")), Seq("b"))
        .filter(expr(
          """1000000 * CAST(cab AS DOUBLE)
             / sqrt(CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)) >= 50000"""))
        .groupBy($"a".as("pk")).agg(count(lit(1)).as("n_nb"))
      sup.join(good, Seq("pk"), "left")
        .select($"pk", $"c", coalesce($"n_nb", lit(0L)).as("n_nb"))
        .withColumn("band", expr(
          "CASE WHEN c >= 32 THEN 'c_head' WHEN c >= 25 THEN 'b_mid' ELSE 'a_tail' END"))
        .groupBy($"band")
        .agg(count(lit(1)).as("n_items"),
          sum(when($"n_nb" >= 3, 1L).otherwise(0L)).as("n_covered"),
          sum($"n_nb").as("nb_sum"))
        .select($"band", $"n_items", $"n_covered",
          expr("1000000 * n_covered div n_items").as("coverage_micro"),
          expr("1000000 * nb_sum div n_items").as("avg_nb_micro"))
        .orderBy($"band")
    }, Some("""
      WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        FROM lineitem),
      sup AS (SELECT pk, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY 1),
      pairs AS (SELECT a.pk AS a, b.pk AS b, CAST(count(*) AS BIGINT) AS cab
        FROM items a JOIN items b ON a.ok = b.ok WHERE a.pk < b.pk GROUP BY 1, 2),
      sym AS (SELECT a, b, cab FROM pairs UNION ALL SELECT b, a, cab FROM pairs),
      good AS (SELECT s.a AS pk, CAST(count(*) AS BIGINT) AS n_nb
        FROM sym s JOIN sup ca ON s.a = ca.pk JOIN sup cb ON s.b = cb.pk
        WHERE 1000000 * CAST(s.cab AS DOUBLE)
          / sqrt(CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) >= 50000
        GROUP BY 1),
      j AS (SELECT sup.pk, sup.c, coalesce(g.n_nb, 0) AS n_nb,
          CASE WHEN sup.c >= 32 THEN 'c_head' WHEN sup.c >= 25 THEN 'b_mid'
            ELSE 'a_tail' END AS band
        FROM sup LEFT JOIN good g ON sup.pk = g.pk)
      SELECT band, CAST(count(*) AS BIGINT) AS n_items,
        CAST(sum(CASE WHEN n_nb >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
        CAST(1000000 * sum(CASE WHEN n_nb >= 3 THEN 1 ELSE 0 END) // count(*)
          AS BIGINT) AS coverage_micro,
        CAST(1000000 * sum(n_nb) // count(*) AS BIGINT) AS avg_nb_micro
      FROM j GROUP BY 1 ORDER BY 1""")),

    // ----- graded retrieval evaluation: nDCG@10 + MRR ---------------------
    // The graded complement to q210's recall certificate: score the
    // single-probe LSH retriever (q25's shape, k = 10) against the
    // exact top-10 (q24's brute force) with relevance grades
    // rel = 11 − exact_rank. nDCG@10 uses the log₂ discount ladder as
    // shared micro constants (rel·10¹²/lg₂ per hit, so each term is an
    // exact integer); MRR finds the reciprocal rank of the TRUE
    // nearest neighbor in the retrieved list. Reported as micro means
    // over the probe set plus the top-1-found count — the eval triple
    // (recall, nDCG, MRR) a retrieval system actually publishes. Both
    // lists are WindowGroupLimit top-10s; the grade join keys on
    // (q_id, c_id).
    ("q293_ndcg_mrr", (s: SparkSession, dir: String) => {
      import s.implicits._
      val prepared = Similarity.prepare(
        Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
      val exact = Similarity.bruteForceTopK(
          prepared.filter($"id" % 100 === 0), prepared, k = 10)
        .select($"q_id", $"c_id", $"rank".as("ex_rank"))
        .localCheckpoint() // grades + ideal + MRR target reuse it
      val got10 = Similarity.lshTopK(prepared, col("id") % 100 === 0, Projs, k = 10)
        .select($"q_id", $"c_id", $"rank".as("r_rank"))
      val lg2 = Lg2.zipWithIndex.map { case (l, i) => (i + 1L, l) }
        .toDF("rnk", "lg2_micro")
      val graded = got10
        .join(exact, Seq("q_id", "c_id"), "left")
        .withColumn("rel", when($"ex_rank".isNotNull, lit(11L) - $"ex_rank")
          .otherwise(lit(0L)))
        .join(broadcast(lg2), $"r_rank" === $"rnk")
        .withColumn("g", expr("rel * 1000000000000 div lg2_micro"))
      val dcg = graded.groupBy($"q_id").agg(sum($"g").as("dcg"))
      val idcg = Lg2.zipWithIndex
        .map { case (l, i) => (11L - (i + 1)) * 1000000000000L / l }.sum
      val mrr = got10.join(exact.filter($"ex_rank" === 1)
          .select($"q_id", $"c_id"), Seq("q_id", "c_id"), "left_semi")
        .select($"q_id", expr("1000000 div r_rank").as("rr_micro"))
      val nq = exact.select($"q_id").distinct().agg(count(lit(1)).as("n_probes"))
      val aggD = dcg.agg(sum($"dcg").as("sum_dcg"), count(lit(1)).as("nd"))
      val aggM = mrr.groupBy($"q_id").agg(max($"rr_micro").as("rr"))
        .agg(sum($"rr").as("sum_rr"), count(lit(1)).as("n_top1_found"))
      nq.crossJoin(broadcast(aggD)).crossJoin(broadcast(aggM))
        .select($"n_probes",
          expr(s"CAST(1000000 * CAST(sum_dcg AS DECIMAL(38,0)) div ($idcg * n_probes) AS BIGINT)")
            .as("mean_ndcg_micro"),
          expr("coalesce(sum_rr, 0) div n_probes").as("mean_mrr_micro"),
          coalesce($"n_top1_found", lit(0L)).as("n_top1_found"))
    }, Some {
      val lg2Rows = Lg2.zipWithIndex
        .map { case (l, i) => s"(${i + 1}, $l)" }.mkString(", ")
      val idcg = Lg2.zipWithIndex
        .map { case (l, i) => (11L - (i + 1)) * 1000000000000L / l }.sum
      s"""
      WITH $prepSql,
      b AS (SELECT vec_id, qvec, n2, $bucketSql AS bucket FROM n),
      qp AS (SELECT * FROM b WHERE vec_id % 100 = 0),
      exact AS (SELECT q_id, c_id, rnk AS ex_rank FROM (
          SELECT q.vec_id AS q_id, c.vec_id AS c_id,
            row_number() OVER (PARTITION BY q.vec_id ORDER BY
              list_dot_product(q.qvec, c.qvec) / sqrt(q.n2 * c.n2) DESC,
              c.vec_id) AS rnk
          FROM n c, qp q WHERE q.vec_id <> c.vec_id) WHERE rnk <= 10),
      got10 AS (SELECT q_id, c_id, rnk AS r_rank FROM (
          SELECT q.vec_id AS q_id, c.vec_id AS c_id,
            row_number() OVER (PARTITION BY q.vec_id ORDER BY
              list_dot_product(q.qvec, c.qvec) / sqrt(q.n2 * c.n2) DESC,
              c.vec_id) AS rnk
          FROM b c JOIN qp q ON c.bucket = q.bucket AND q.vec_id <> c.vec_id)
        WHERE rnk <= 10),
      lg2(rnk, lg2_micro) AS (VALUES $lg2Rows),
      graded AS (SELECT g.q_id,
          (CASE WHEN e.ex_rank IS NOT NULL THEN 11 - e.ex_rank ELSE 0 END)
            * 1000000000000 // l.lg2_micro AS g
        FROM got10 g LEFT JOIN exact e ON g.q_id = e.q_id AND g.c_id = e.c_id
        JOIN lg2 l ON g.r_rank = l.rnk),
      dcg AS (SELECT q_id, CAST(sum(g) AS BIGINT) AS dcg FROM graded GROUP BY 1),
      mrr AS (SELECT g.q_id, CAST(max(1000000 // g.r_rank) AS BIGINT) AS rr
        FROM got10 g JOIN exact e ON g.q_id = e.q_id AND g.c_id = e.c_id
        WHERE e.ex_rank = 1 GROUP BY 1),
      nq AS (SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_probes FROM exact),
      ad AS (SELECT CAST(sum(dcg) AS BIGINT) AS sum_dcg FROM dcg),
      am AS (SELECT CAST(coalesce(sum(rr), 0) AS BIGINT) AS sum_rr,
          CAST(count(*) AS BIGINT) AS n_top1_found FROM mrr)
      SELECT nq.n_probes,
        CAST(1000000 * CAST(ad.sum_dcg AS HUGEINT) // ($idcg * nq.n_probes) AS BIGINT)
          AS mean_ndcg_micro,
        CAST(am.sum_rr // nq.n_probes AS BIGINT) AS mean_mrr_micro,
        am.n_top1_found
      FROM nq CROSS JOIN ad CROSS JOIN am"""
    }),

    // 11-point interpolated average precision (the
    // PR-curve companion to q276's ROC AUC), Mann–Kendall trend +
    // Theil–Sen slope over the daily order series, and Adamic–Adar link
    // prediction on the co-purchase graph — model evaluation under class
    // imbalance, nonparametric trend detection, and recommender link
    // prediction.
    //
    // House rules as elsewhere: integer arithmetic at every gate; the one
    // sqrt (Mann–Kendall z) runs map-side on exact integers on the final
    // single row; ln via the micro-ln rule (floor(ln·1e6 + 0.5), the
    // identical expression in both engines). Signed integer division uses
    // `div`/`//`, which BOTH engines truncate toward zero (verified:
    // -7 div 2 = -3 in Spark and DuckDB alike), so negative slopes and
    // deviations divide identically. Identical aliases both sides, total
    // ORDER BY.

    // ----- 11-point interpolated average precision ------------------------
    // The PR-curve read q276's AUC hides under class imbalance: with
    // 1% positives an AUC of 0.95 can coexist with useless precision,
    // and a corpus-filter decision needs the precision/recall
    // tradeoff, not the ranking statistic. PASCAL-VOC form: collapse
    // the corpus to the distinct-score grid (ties collapse at group
    // boundaries — deterministic, no within-tie ordering), take
    // cumulative (cp, ca) down the score-descending grid, and for each
    // recall level L ∈ {0, 0.1, …, 1.0} report the interpolated
    // precision max{prec at points with recall ≥ L}. AP11 is the mean
    // of the 11 (integer div). One corpus scoring scan; everything
    // after is |distinct scores|-bounded (the q276 grid bound — the
    // window orders the GRID, never the corpus); the level join is an
    // 11-row broadcast nested loop against the grid.
    ("q294_average_precision", (s: SparkSession, dir: String) => {
      import s.implicits._
      val scored = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"n_chars",
          explode(split(TA.normText($"text"), " ")).as("tok"))
        .withColumn("w",
          conv(substring(md5(concat(lit("w|"),
              (conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long") % 1024)
                .cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2001 - 1000)
        .groupBy($"doc_id").agg(max($"n_chars").as("nc"), sum($"w").as("score"))
        .withColumn("pos", ($"nc" >= 250).cast("long"))
      val grid = scored.groupBy($"score")
        .agg(sum($"pos").as("pg"), sum(lit(1L) - $"pos").as("ng"))
      val w = Window.orderBy(desc("score")) // |distinct scores|-bounded
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pts = grid
        .withColumn("cp", sum($"pg").over(w))
        .withColumn("ca", sum($"pg" + $"ng").over(w))
      val tot = pts.agg(max($"cp").as("np"))
      val pr = pts.crossJoin(broadcast(tot))
        .select(expr("1000000 * cp div np").as("recall_micro"),
          expr("1000000 * cp div ca").as("prec_micro"))
      val levels = (0L to 10L).map(i => Tuple1(i * 100000L)).toDF("level_micro")
      val interp = pr.join(broadcast(levels),
          $"recall_micro" >= $"level_micro")
        .groupBy($"level_micro").agg(max($"prec_micro").as("p_interp_micro"))
      val ap = interp.agg(expr("sum(p_interp_micro) div 11").as("ap11_micro"))
      interp.crossJoin(broadcast(ap))
        .select($"level_micro", $"p_interp_micro", $"ap11_micro")
        .orderBy($"level_micro")
    }, Some(s"""
      WITH st AS (SELECT doc_id, n_chars,
          unnest(string_split($normSql, ' ')) AS tok FROM documents),
      sc AS (SELECT doc_id, max(n_chars) AS nc,
          CAST(sum(('0x' || substr(md5('w|' || CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000) AS BIGINT) AS score
        FROM st GROUP BY 1),
      lab AS (SELECT score,
          CAST(CASE WHEN nc >= 250 THEN 1 ELSE 0 END AS BIGINT) AS pos FROM sc),
      grid AS (SELECT score, CAST(sum(pos) AS BIGINT) AS pg,
          CAST(sum(1 - pos) AS BIGINT) AS ng FROM lab GROUP BY 1),
      pts AS (SELECT score,
          CAST(sum(pg) OVER (ORDER BY score DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cp,
          CAST(sum(pg + ng) OVER (ORDER BY score DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca
        FROM grid),
      tot AS (SELECT max(cp) AS np FROM pts),
      pr AS (SELECT 1000000 * cp // np AS recall_micro,
          1000000 * cp // ca AS prec_micro FROM pts CROSS JOIN tot),
      levels(level_micro) AS (VALUES (CAST(0 AS BIGINT)), (100000), (200000),
        (300000), (400000), (500000), (600000), (700000), (800000),
        (900000), (1000000)),
      interp AS (SELECT level_micro, max(prec_micro) AS p_interp_micro
        FROM levels JOIN pr ON pr.recall_micro >= levels.level_micro
        GROUP BY 1),
      ap AS (SELECT CAST(sum(p_interp_micro) // 11 AS BIGINT) AS ap11_micro
        FROM interp)
      SELECT level_micro, p_interp_micro, ap11_micro
      FROM interp CROSS JOIN ap ORDER BY level_micro""")),

    // ----- Adamic–Adar link prediction ------------------------------------
    // The recommender question q275 does NOT answer: which item pairs
    // are NOT yet co-purchased but have the strongest shared
    // neighborhoods? AA(a,b) = Σ_{w ∈ N(a)∩N(b)} 1/ln(deg(w)) — the
    // common-neighbor score that discounts promiscuous hubs (a raw
    // common-neighbor count would be dominated by them). The wedge
    // enumeration joins the symmetrized edge list with itself on the
    // CENTER w (cost Σ deg(w)² — AA needs both wedge corners, so the
    // q160 degree orientation cannot halve it). The shared builder
    // `adamicAdar` takes the production hub-cap dial D as a real
    // parameter: the weight table keeps only centers with
    // 2 ≤ deg(w) ≤ D and is inner-joined onto one wedge leg BEFORE the
    // self-join, so capped hub centers never fan out at all — the
    // Σ_{deg≤D} deg² bound is structural, not post-hoc. This exact
    // entry passes cap = ∞ (a cap ≥ max-degree is bit-for-bit the
    // exact result — Round8zSpec proves it); q321 is the capped form
    // under the oracle gate. Wedge weight 1e12 div micro-ln(deg(w))
    // (deg ≥ 2, so the ln is never 0), per-pair aggregate, anti-join
    // of the existing edge set, top-20 via TakeOrderedAndProject.
    ("q296_adamic_adar", (s: SparkSession, dir: String) =>
      adamicAdar(s, dir, Long.MaxValue), Some("""
      WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        FROM lineitem),
      pairs AS (SELECT a.pk AS a, b.pk AS b, CAST(count(*) AS BIGINT) AS cab
        FROM items a JOIN items b ON a.ok = b.ok WHERE a.pk < b.pk GROUP BY 1, 2),
      sym AS (SELECT a AS w, b AS x FROM pairs
        UNION ALL SELECT b AS w, a AS x FROM pairs),
      wts AS (SELECT w, CAST(1000000000000
            // CAST(floor(ln(CAST(count(*) AS DOUBLE)) * 1000000 + 0.5)
              AS BIGINT) AS BIGINT) AS wm
        FROM sym GROUP BY w HAVING count(*) >= 2),
      wedges AS (SELECT s1.x AS x, s2.x AS x2,
          CAST(count(*) AS BIGINT) AS n_common,
          CAST(sum(w.wm) AS BIGINT) AS aa_micro
        FROM sym s1 JOIN sym s2 ON s1.w = s2.w AND s1.x < s2.x
        JOIN wts w ON s1.w = w.w
        GROUP BY 1, 2),
      pred AS (SELECT wd.* FROM wedges wd
        LEFT JOIN pairs p ON wd.x = p.a AND wd.x2 = p.b
        WHERE p.a IS NULL)
      SELECT x AS item_a, x2 AS item_b, n_common, aa_micro
      FROM pred ORDER BY aa_micro DESC, item_a, item_b LIMIT 20""")),

    // Isotonic calibration (exact PAVA via the minimax
    // identity over a bounded bin grid), a multinomial Naive Bayes
    // classifier trained and evaluated end-to-end, and a kNN hubness
    // audit — the calibration FIX q204's audit motivates, a real
    // generative classifier beyond q191's hashed scorer, and the
    // high-dimensional pathology read on the retrieval graph.
    //
    // House rules as elsewhere: integer arithmetic at every gate,
    // micro-ln (floor(ln·1e6 + 0.5)) for every transcendental with the
    // identical expression in both engines, map-side sqrt only on final
    // bounded rows. Identical aliases both sides, total ORDER BY.

    // ----- isotonic calibration via the minimax identity ------------------
    // q204 AUDITS calibration; this FIXES it: the isotonic (monotone
    // nondecreasing) regression of the positive rate on the score,
    // which is what sklearn's CalibratedClassifier fits. Scores bin to
    // a 256-cell equal-width grid first (the standard calibration
    // preprocessing — and the scale move: the corpus collapses to
    // ≤256 weighted points, so EVERYTHING downstream is bin-bounded
    // regardless of corpus size). PAVA's fixpoint has the closed
    // minimax form iso(i) = max_{j≤i} min_{k≥i} mean(pos over bins
    // j..k); means come from prefix sums as integer-div micro
    // (floor is monotone, so max∘min of floored means == floor of the
    // exact minimax — the spec pins this against an imperative
    // pool-adjacent-violators run), and the (i,j,k) triple join is
    // ≤ B³/6 ≈ 2.8M cells at B=256 — constant, not corpus-scaled.
    ("q297_isotonic_calibration", (s: SparkSession, dir: String) => {
      import s.implicits._
      val scored = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"n_chars",
          explode(split(TA.normText($"text"), " ")).as("tok"))
        .withColumn("w",
          conv(substring(md5(concat(lit("w|"),
              (conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long") % 1024)
                .cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2001 - 1000)
        .groupBy($"doc_id").agg(max($"n_chars").as("nc"), sum($"w").as("score"))
        .withColumn("pos", ($"nc" >= 250).cast("long"))
      val rng = scored.agg(min($"score").as("mn"), max($"score").as("mx"))
      val bins = scored.crossJoin(broadcast(rng))
        .select(expr("(score - mn) * 256 div (mx - mn + 1)").as("bin"), $"pos")
        .groupBy($"bin").agg(count(lit(1)).as("n"), sum($"pos").as("p"))
      val wb = Window.orderBy($"bin") // ≤256 rows
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pre = bins
        .withColumn("cn", sum($"n").over(wb))
        .withColumn("cp", sum($"p").over(wb))
        .localCheckpoint() // reused: A(j,k) both sides + final output
      // A(j,k) = micro mean of pos over bins j..k, from prefix sums
      val a = pre.select($"bin".as("j"), ($"cn" - $"n").as("cnj"),
          ($"cp" - $"p").as("cpj"))
        .join(pre.select($"bin".as("k"), $"cn".as("cnk"), $"cp".as("cpk")),
          $"j" <= $"k")
        .select($"j", $"k",
          expr("1000000 * (cpk - cpj) div (cnk - cnj)").as("amu"))
      val ji = pre.select($"bin".as("j"))
        .join(pre.select($"bin".as("i")), $"j" <= $"i")
      val iso = ji.join(a, Seq("j")).filter($"k" >= $"i")
        .groupBy($"i", $"j").agg(min($"amu").as("mn_a"))
        .groupBy($"i").agg(max($"mn_a").as("iso_micro"))
      pre.join(iso, $"bin" === $"i")
        .select($"bin", $"n", $"p".as("n_pos"),
          expr("1000000 * p div n").as("raw_micro"), $"iso_micro")
        .orderBy($"bin")
    }, Some(s"""
      WITH st AS (SELECT doc_id, n_chars,
          unnest(string_split($normSql, ' ')) AS tok FROM documents),
      sc AS (SELECT doc_id, max(n_chars) AS nc,
          CAST(sum(('0x' || substr(md5('w|' || CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000) AS BIGINT) AS score
        FROM st GROUP BY 1),
      lab AS (SELECT score,
          CAST(CASE WHEN nc >= 250 THEN 1 ELSE 0 END AS BIGINT) AS pos FROM sc),
      rng AS (SELECT min(score) AS mn, max(score) AS mx FROM lab),
      bins AS (SELECT (score - mn) * 256 // (mx - mn + 1) AS bin,
          CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS p
        FROM lab CROSS JOIN rng GROUP BY 1),
      pre AS (SELECT bin, n, p,
          CAST(sum(n) OVER (ORDER BY bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
          CAST(sum(p) OVER (ORDER BY bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cp
        FROM bins),
      a AS (SELECT pj.bin AS j, pk.bin AS k,
          1000000 * (pk.cp - (pj.cp - pj.p)) // (pk.cn - (pj.cn - pj.n)) AS amu
        FROM pre pj JOIN pre pk ON pj.bin <= pk.bin),
      iso AS (SELECT i, max(mn_a) AS iso_micro FROM (
          SELECT pi.bin AS i, a.j, min(a.amu) AS mn_a
          FROM pre pi JOIN a ON a.j <= pi.bin AND a.k >= pi.bin
          GROUP BY 1, 2) GROUP BY 1)
      SELECT pre.bin, pre.n, pre.p AS n_pos,
        1000000 * pre.p // pre.n AS raw_micro, iso.iso_micro
      FROM pre JOIN iso ON pre.bin = iso.i ORDER BY pre.bin""")),

    // ----- multinomial Naive Bayes, trained and evaluated -----------------
    // A REAL generative classifier over the corpus (q191 is a hashed
    // heuristic; q288 one GLM step): predict each held-out document's
    // quality class (the battery's standard n_chars >= 250 label) from
    // its word distribution. (Source prediction was tried first and
    // landed at the 1/20 chance floor — this generator's sources are
    // lexically exchangeable — so the learnable label is the honest
    // demonstration.) Train on the md5-3/4 split: add-one
    // smoothed token log-likelihoods lnm(c_tc + 1) − lnm(tot_c + V)
    // and log-priors, all as separate micro-ln terms (the q196 rule).
    // The unseen-token identity keeps the model table sparse: since
    // lnm(0 + 1) = 0, score(d,c) = prior_c − n_toks_d·lnm(tot_c + V)
    // + Σ_{t∈d seen in c} lnm(c_tc + 1) — the per-class denominator
    // factors out of the join entirely, so the scoring join touches
    // ONLY (token, class) pairs that exist in the trained table.
    // Per-class test accuracy is the output. At 100 TB: the model is
    // |vocab|×|classes| (broadcastable or bucketed), scoring is one
    // equi-join on the token, argmax is a rank-1 window per doc.
    ("q298_naive_bayes", (s: SparkSession, dir: String) => {
      import s.implicits._
      def lnm(sqlArg: String) =
        expr(s"CAST(floor(ln(CAST(($sqlArg) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)")
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id",
          when($"n_chars" >= 250, "b_long").otherwise("a_short").as("label"),
          explode(split(TA.normText($"text"), " ")).as("tok"))
        .withColumn("h", conv(substring(md5(concat(lit("nb|"),
          $"doc_id".cast("string"))), 1, 8), 16, 10).cast("long") % 4)
        .localCheckpoint() // reused: train counts + test scoring
      val train = toks.filter($"h" < 3)
      val test = toks.filter($"h" === 3)
      val counts = train.groupBy($"label".as("cls"), $"tok")
        .agg(count(lit(1)).as("ctc"))
        .localCheckpoint() // reused: class totals + the scoring join
      val vdf = counts.select($"tok").distinct().agg(count(lit(1)).as("v"))
      val clsTot = counts.groupBy($"cls").agg(sum($"ctc").as("totc"))
      val clsDocs = train.select($"doc_id", $"label".as("cls")).distinct()
        .groupBy($"cls").agg(count(lit(1)).as("ndc"))
      val nTrain = clsDocs.agg(sum($"ndc").as("ntr"))
      val cls = clsTot.join(clsDocs, Seq("cls"))
        .crossJoin(broadcast(vdf)).crossJoin(broadcast(nTrain))
        .select($"cls",
          (lnm("ndc") - lnm("ntr")).as("prior_micro"),
          lnm("totc + v").as("den_micro"))
      val docs = test.groupBy($"doc_id", $"label")
        .agg(count(lit(1)).as("n_toks"))
      val seen = test.select($"doc_id", $"tok")
        .join(counts.select($"cls", $"tok",
          lnm("ctc + 1").as("llt")), Seq("tok"))
        .groupBy($"doc_id", $"cls").agg(sum($"llt").as("sum_ll"))
      val scoresAll = docs.crossJoin(broadcast(cls))
        .join(seen, Seq("doc_id", "cls"), "left")
        .na.fill(0L, Seq("sum_ll"))
        .select($"doc_id", $"label", $"cls",
          ($"prior_micro" - $"n_toks" * $"den_micro" + $"sum_ll").as("score"))
      val wd = Window.partitionBy($"doc_id").orderBy(desc("score"), $"cls")
      val predicted = scoresAll
        .withColumn("rn", row_number().over(wd)).filter($"rn" === 1)
      predicted.groupBy($"label")
        .agg(count(lit(1)).as("n_test"),
          sum(when($"cls" === $"label", 1L).otherwise(0L)).as("n_correct"))
        .select($"label", $"n_test", $"n_correct",
          expr("1000000 * n_correct div n_test").as("acc_micro"))
        .orderBy($"label")
    }, Some(s"""
      WITH toks AS (SELECT doc_id,
          CASE WHEN n_chars >= 250 THEN 'b_long' ELSE 'a_short' END AS label,
          unnest(string_split($normSql, ' ')) AS tok,
          ('0x' || substr(md5('nb|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 4 AS h
        FROM documents),
      train AS (SELECT * FROM toks WHERE h < 3),
      test AS (SELECT * FROM toks WHERE h = 3),
      counts AS (SELECT label AS cls, tok, CAST(count(*) AS BIGINT) AS ctc
        FROM train GROUP BY 1, 2),
      vdf AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM counts),
      clstot AS (SELECT cls, CAST(sum(ctc) AS BIGINT) AS totc
        FROM counts GROUP BY 1),
      clsdocs AS (SELECT label AS cls, CAST(count(DISTINCT doc_id) AS BIGINT)
          AS ndc FROM train GROUP BY 1),
      ntrain AS (SELECT CAST(sum(ndc) AS BIGINT) AS ntr FROM clsdocs),
      cls AS (SELECT t.cls,
          CAST(floor(ln(CAST(d.ndc AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
            - CAST(floor(ln(CAST(n.ntr AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
            AS prior_micro,
          CAST(floor(ln(CAST(t.totc + v.v AS DOUBLE)) * 1000000 + 0.5)
            AS BIGINT) AS den_micro
        FROM clstot t JOIN clsdocs d ON t.cls = d.cls
        CROSS JOIN vdf v CROSS JOIN ntrain n),
      docs AS (SELECT doc_id, label, CAST(count(*) AS BIGINT) AS n_toks
        FROM test GROUP BY 1, 2),
      seen AS (SELECT te.doc_id, c.cls,
          CAST(sum(CAST(floor(ln(CAST(c.ctc + 1 AS DOUBLE)) * 1000000 + 0.5)
            AS BIGINT)) AS BIGINT) AS sum_ll
        FROM test te JOIN counts c ON te.tok = c.tok GROUP BY 1, 2),
      scores AS (SELECT d.doc_id, d.label, c.cls,
          c.prior_micro - d.n_toks * c.den_micro + coalesce(s.sum_ll, 0)
            AS score
        FROM docs d CROSS JOIN cls c
        LEFT JOIN seen s ON s.doc_id = d.doc_id AND s.cls = c.cls),
      pred AS (SELECT doc_id, label, cls,
          row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls)
            AS rn FROM scores)
      SELECT label, CAST(count(*) AS BIGINT) AS n_test,
        CAST(sum(CASE WHEN cls = label THEN 1 ELSE 0 END) AS BIGINT)
          AS n_correct,
        CAST(1000000 * sum(CASE WHEN cls = label THEN 1 ELSE 0 END)
          // count(*) AS BIGINT) AS acc_micro
      FROM pred WHERE rn = 1 GROUP BY label ORDER BY label""")),

    // ----- adjusted Rand + B-cubed clustering evaluation ------------------
    // The battery produces clusterings everywhere (LSH buckets q25,
    // dup components q54/q161, label propagation q203) but has never
    // SCORED one against ground truth. This evaluates the 4-bit LSH
    // bucketing as a clustering of the embeddings against their label
    // column: ARI (pair-counting, chance-corrected) and B-cubed
    // precision/recall/F1 (the per-item average the entity-resolution
    // literature prefers — Bagga & Baldwin). Everything flows from ONE
    // contingency aggregate groupBy(bucket, label): all later joins and
    // scalars are |buckets|·|labels|-bounded (≤ 160 cells here), so the
    // evaluation costs one corpus pass regardless of corpus size.
    // Arithmetic: per-cell pair counts and B³ terms are exact int64
    // (Σij·1e6 < 2^63 is annotation-bounded by nature), but the ARI
    // num/den multiply three pair-count sums — C(n,2)·Σij and sa·sb
    // reach ~n⁴/1000, past int64 around n ~ 1e5 per stratum — so both
    // are accumulated in DECIMAL(38,0)/HUGEINT before the ONE double
    // division, on a single row (floor semantics match across engines
    // for doubles, unlike integer div vs // on negatives). Spark's
    // `div` ALWAYS returns BIGINT regardless of operand type, so the
    // halved C(n,2) is re-cast to DECIMAL(38,0) before the ·Σij and
    // ·(sa+sb) multiplies — C(n,2) itself fits int64 to n ~ 4e9, and
    // the re-cast keeps the products exact to ~1e38 (n ≲ 1e9 items);
    // Round8abSpec pins the n ~ 1e6 regime against the int64-overflow
    // form.
    ("q300_clustering_ari", (s: SparkSession, dir: String) => {
      import s.implicits._
      val e = Tables.spread(Tables.t(s, dir, "embeddings"))
      val prepared = Similarity.prepare(e, "vec_id", "embedding")
      val pairs = prepared
        .withColumn("bucket", Similarity.lshBucket(col("qvec"), Projs))
        .select($"id", $"bucket")
        .join(e.select($"vec_id".as("id"), $"label".cast("long").as("lbl")),
          Seq("id"))
      val cells = pairs.groupBy($"bucket", $"lbl")
        .agg(count(lit(1)).as("nij"))
        .localCheckpoint() // reused: row/col margins, index, both B³ sides
      val ai = cells.groupBy($"bucket").agg(sum($"nij").as("a"))
      val bj = cells.groupBy($"lbl").agg(sum($"nij").as("b"))
      val tot = cells.agg(sum($"nij").as("n"),
        sum(expr("nij * (nij - 1) div 2")).as("ix"))
      val sa = ai.agg(sum(expr("a * (a - 1) div 2")).as("sa"),
        count(lit(1)).as("n_pred"))
      val sb = bj.agg(sum(expr("b * (b - 1) div 2")).as("sb"),
        count(lit(1)).as("n_true"))
      val prec = cells.join(broadcast(ai), Seq("bucket"))
        .agg(sum(expr("1000000 * nij * nij div a")).as("pp"))
      val rec = cells.join(broadcast(bj), Seq("lbl"))
        .agg(sum(expr("1000000 * nij * nij div b")).as("rr"))
      tot.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
        .crossJoin(broadcast(prec)).crossJoin(broadcast(rec))
        .select($"n".as("n_items"), $"n_pred", $"n_true",
          expr(AriExprSql).as("ari_micro"),
          expr("pp div n").as("b3_precision_micro"),
          expr("rr div n").as("b3_recall_micro"),
          expr("2 * (pp div n) * (rr div n) div ((pp div n) + (rr div n))")
            .as("b3_f1_micro"))
    }, Some(s"""
      WITH $prepSql,
      pairs AS (SELECT n.vec_id AS id, $bucketSql AS bucket,
          CAST(e.label AS BIGINT) AS lbl
        FROM n JOIN embeddings e ON n.vec_id = e.vec_id),
      cells AS (SELECT bucket, lbl, CAST(count(*) AS BIGINT) AS nij
        FROM pairs GROUP BY 1, 2),
      ai AS (SELECT bucket, CAST(sum(nij) AS BIGINT) AS a
        FROM cells GROUP BY 1),
      bj AS (SELECT lbl, CAST(sum(nij) AS BIGINT) AS b FROM cells GROUP BY 1),
      tot AS (SELECT CAST(sum(nij) AS BIGINT) AS n,
          CAST(sum(nij * (nij - 1) // 2) AS BIGINT) AS ix FROM cells),
      sa AS (SELECT CAST(sum(a * (a - 1) // 2) AS BIGINT) AS sa,
          CAST(count(*) AS BIGINT) AS n_pred FROM ai),
      sb AS (SELECT CAST(sum(b * (b - 1) // 2) AS BIGINT) AS sb,
          CAST(count(*) AS BIGINT) AS n_true FROM bj),
      prec AS (SELECT CAST(sum(1000000 * nij * nij // a) AS BIGINT) AS pp
        FROM cells JOIN ai USING (bucket)),
      rec AS (SELECT CAST(sum(1000000 * nij * nij // b) AS BIGINT) AS rr
        FROM cells JOIN bj USING (lbl))
      SELECT tot.n AS n_items, sa.n_pred, sb.n_true,
        CAST(floor(
          CAST(2 * (CAST(tot.n AS HUGEINT) * (tot.n - 1) // 2) * tot.ix
              - 2 * CAST(sa.sa AS HUGEINT) * sb.sb AS DOUBLE)
          / CAST((CAST(tot.n AS HUGEINT) * (tot.n - 1) // 2) * (sa.sa + sb.sb)
              - 2 * CAST(sa.sa AS HUGEINT) * sb.sb AS DOUBLE)
          * 1000000 + 0.5) AS BIGINT) AS ari_micro,
        prec.pp // tot.n AS b3_precision_micro,
        rec.rr // tot.n AS b3_recall_micro,
        2 * (prec.pp // tot.n) * (rec.rr // tot.n)
          // ((prec.pp // tot.n) + (rec.rr // tot.n)) AS b3_f1_micro
      FROM tot CROSS JOIN sa CROSS JOIN sb
      CROSS JOIN prec CROSS JOIN rec""")),

    // Operating-point selection (the F1- and
    // Youden-optimal decision thresholds over the exact score grid — the
    // step that turns q276's AUC curve and q297's calibrated scores into
    // a deployable classifier), the Brier score with its Murphy
    // reliability–resolution–uncertainty decomposition (what q204's ECE
    // reads only one third of), and a hash-collision namespace audit
    // (birthday-bound engineering for every md5-truncation the battery's
    // determinism rests on).
    //
    // House rules as elsewhere: integer arithmetic at every gate,
    // 128-bit where cross-products can pass Int64, identical aliases
    // both sides, total ORDER BY.

    // ----- operating-point selection over the exact score grid ------------
    // q276 integrates over ALL thresholds (AUC) and q297 calibrates the
    // scores; neither answers the deployment question: WHICH threshold
    // ships? This sweeps every achievable operating point — the
    // distinct-score grid, suffix-cumulated once (TP(t), FP(t) ride one
    // descending window over the value grid, the q195/q276 documented
    // bound: bucket first for unbounded score domains) — and picks two
    // canonical points: max-F1 (the imbalance-robust choice) and
    // max-Youden-J = recall − FPR (the ROC-corner choice). Precision/
    // recall/F1/J are floored micro integers (identical both engines);
    // argmax ties break toward the LOWER threshold (more recall at
    // equal score). Degenerate single-class corpora (np = 0 or nn = 0)
    // yield explicit NULL recall/J — Spark's div would NULL silently
    // while DuckDB's // raises, so the CASE guard keeps the engines in
    // agreement (tp + fp ≥ 1 holds by grid construction, so precision
    // needs no guard). Two rank-1 windows over the grid, not the corpus.
    ("q309_operating_point", (s: SparkSession, dir: String) => {
      import s.implicits._
      val lab = scoredDocs(s, dir).select($"score", $"pos")
      val tot = lab.agg(sum($"pos").as("np"),
        (count(lit(1)) - sum($"pos")).as("nn"))
      val wdesc = Window.orderBy(desc("score"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val grid = lab.groupBy($"score").agg(sum($"pos").as("p"),
          (count(lit(1)) - sum($"pos")).as("q"))
        .withColumn("tp", sum($"p").over(wdesc))
        .withColumn("fp", sum($"q").over(wdesc))
        .crossJoin(broadcast(tot))
        .select($"score".as("thr"), $"tp", $"fp", $"np", $"nn",
          expr("1000000 * tp div (tp + fp)").as("prec_micro"),
          expr("CASE WHEN np = 0 THEN NULL ELSE 1000000 * tp div np END")
            .as("rec_micro"))
        .select($"thr", $"tp", $"fp", $"np", $"nn", $"prec_micro",
          $"rec_micro",
          expr("""CASE WHEN prec_micro + rec_micro = 0 THEN 0
                  ELSE 2 * prec_micro * rec_micro
                       div (prec_micro + rec_micro) END""").as("f1_micro"),
          expr("""CASE WHEN np = 0 OR nn = 0 THEN NULL
                  ELSE 1000000 * tp div np - 1000000 * fp div nn END""")
            .as("j_micro"))
        .localCheckpoint() // reused by both argmax windows
      val wf = Window.orderBy(desc("f1_micro"), $"thr")
      val wj = Window.orderBy(desc("j_micro"), $"thr")
      val bestF = grid.withColumn("rn", row_number().over(wf))
        .filter($"rn" === 1).select(lit("f1").as("criterion"),
          $"thr", $"tp", $"fp", ($"np" - $"tp").as("fn"),
          $"prec_micro", $"rec_micro", $"f1_micro", $"j_micro")
      val bestJ = grid.withColumn("rn", row_number().over(wj))
        .filter($"rn" === 1).select(lit("youden").as("criterion"),
          $"thr", $"tp", $"fp", ($"np" - $"tp").as("fn"),
          $"prec_micro", $"rec_micro", $"f1_micro", $"j_micro")
      bestF.unionByName(bestJ).orderBy($"criterion")
    }, Some(s"""
      WITH $scoredSql,
      tot AS (SELECT CAST(sum(pos) AS BIGINT) AS np,
          CAST(count(*) - sum(pos) AS BIGINT) AS nn FROM lab),
      grid0 AS (SELECT score AS thr,
          CAST(sum(sum(pos)) OVER (ORDER BY score DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS tp,
          CAST(sum(count(*) - sum(pos)) OVER (ORDER BY score DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS fp
        FROM lab GROUP BY score),
      grid1 AS (SELECT thr, tp, fp, np, nn,
          1000000 * tp // (tp + fp) AS prec_micro,
          CASE WHEN np = 0 THEN NULL ELSE 1000000 * tp // np END
            AS rec_micro
        FROM grid0 CROSS JOIN tot),
      grid AS (SELECT thr, tp, fp, np, nn, prec_micro, rec_micro,
          CASE WHEN prec_micro + rec_micro = 0 THEN 0
            ELSE 2 * prec_micro * rec_micro
                 // (prec_micro + rec_micro) END AS f1_micro,
          CASE WHEN np = 0 OR nn = 0 THEN NULL
            ELSE 1000000 * tp // np - 1000000 * fp // nn END AS j_micro
        FROM grid1),
      bf AS (SELECT 'f1' AS criterion, thr, tp, fp, np - tp AS fn,
          prec_micro, rec_micro, f1_micro, j_micro,
          row_number() OVER (ORDER BY f1_micro DESC, thr) AS rn FROM grid),
      bj AS (SELECT 'youden' AS criterion, thr, tp, fp, np - tp AS fn,
          prec_micro, rec_micro, f1_micro, j_micro,
          row_number() OVER (ORDER BY j_micro DESC, thr) AS rn FROM grid)
      SELECT criterion, thr, tp, fp, fn, prec_micro, rec_micro, f1_micro,
        j_micro FROM bf WHERE rn = 1
      UNION ALL SELECT criterion, thr, tp, fp, fn, prec_micro, rec_micro,
        f1_micro, j_micro FROM bj WHERE rn = 1
      ORDER BY criterion""")),

    // ----- Brier score + Murphy decomposition -----------------------------
    // q204's ECE reads only RELIABILITY; the Murphy decomposition reads
    // the whole forecast: Brier = REL − RES + UNC, where resolution
    // rewards forecasts that actually SEPARATE outcomes and uncertainty
    // is the outcome base rate's own variance. Forecasts are the 16-bin
    // equal-width calibration of the document score (the q297
    // preprocessing), forecast value = bin midpoint in micro. Every
    // term is an exact integer: squared micro differences accumulate in
    // DECIMAL(38,0) (n·1e12 passes Int64 at ~9e6 rows), each component
    // is floored once by n·1e6, and the floor-bounded identity residual
    // brier − (rel − res + unc) ships as its own column — measured,
    // not assumed away (|gap| ≤ 8: one floor per component plus the
    // per-bin ōk and base-rate floors, each worth ≤ 2 micro;
    // spec-pinned).
    ("q310_brier_decomposition", (s: SparkSession, dir: String) => {
      import s.implicits._
      val lab = scoredDocs(s, dir).select($"score", $"pos")
      val rng = lab.agg(min($"score").as("mn"), max($"score").as("mx"))
      val binned = lab.crossJoin(broadcast(rng))
        .select(expr("(score - mn) * 16 div (mx - mn + 1)").as("bin"),
          $"pos")
        .select($"bin", $"pos",
          expr("(2 * bin + 1) * 1000000 div 32").as("f"))
        .localCheckpoint() // reused: per-bin stats + the global base rate
      val tot = binned.agg(count(lit(1)).as("n"), sum($"pos").as("sp"))
      val bins = binned.groupBy($"bin", $"f")
        .agg(count(lit(1)).as("nk"), sum($"pos").as("pk"))
        .select($"bin", $"f", $"nk", $"pk",
          expr("1000000 * pk div nk").as("ok"))
      val brier = binned.agg(sum(
        expr("CAST(f - pos * 1000000 AS DECIMAL(38,0)) * (f - pos * 1000000)"))
        .as("sq"))
      val comps = bins.crossJoin(broadcast(tot))
        .agg(sum(expr("CAST(nk AS DECIMAL(38,0)) * (f - ok) * (f - ok)"))
            .as("reln"),
          sum(expr(
            "CAST(nk AS DECIMAL(38,0)) * (ok - 1000000 * sp div n) * (ok - 1000000 * sp div n)"))
            .as("resn"))
      brier.crossJoin(broadcast(comps)).crossJoin(broadcast(tot))
        .select(
          expr("CAST(sq div (CAST(n AS DECIMAL(38,0)) * 1000000) AS BIGINT)")
            .as("brier_micro"),
          expr("CAST(reln div (CAST(n AS DECIMAL(38,0)) * 1000000) AS BIGINT)")
            .as("rel_micro"),
          expr("CAST(resn div (CAST(n AS DECIMAL(38,0)) * 1000000) AS BIGINT)")
            .as("res_micro"),
          expr("""CAST((1000000 * sp div n) * (1000000 - 1000000 * sp div n)
              div 1000000 AS BIGINT)""").as("unc_micro"))
        .select($"brier_micro", $"rel_micro", $"res_micro", $"unc_micro",
          ($"brier_micro" - ($"rel_micro" - $"res_micro" + $"unc_micro"))
            .as("identity_gap"))
    }, Some(s"""
      WITH $scoredSql,
      rng AS (SELECT min(score) AS mn, max(score) AS mx FROM lab),
      binned AS (SELECT (score - mn) * 16 // (mx - mn + 1) AS bin, pos,
          ((score - mn) * 16 // (mx - mn + 1) * 2 + 1) * 1000000 // 32 AS f
        FROM lab CROSS JOIN rng),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(pos) AS BIGINT) AS sp FROM binned),
      bins AS (SELECT bin, f, CAST(count(*) AS BIGINT) AS nk,
          CAST(sum(pos) AS BIGINT) AS pk,
          1000000 * CAST(sum(pos) AS BIGINT) // CAST(count(*) AS BIGINT)
            AS ok
        FROM binned GROUP BY 1, 2),
      brier AS (SELECT sum(CAST(f - pos * 1000000 AS HUGEINT)
          * (f - pos * 1000000)) AS sq FROM binned),
      comps AS (SELECT
          sum(CAST(nk AS HUGEINT) * (f - ok) * (f - ok)) AS reln,
          sum(CAST(nk AS HUGEINT) * (ok - 1000000 * sp // n)
            * (ok - 1000000 * sp // n)) AS resn
        FROM bins CROSS JOIN tot)
      SELECT
        CAST(sq // (CAST(n AS HUGEINT) * 1000000) AS BIGINT) AS brier_micro,
        CAST(reln // (CAST(n AS HUGEINT) * 1000000) AS BIGINT) AS rel_micro,
        CAST(resn // (CAST(n AS HUGEINT) * 1000000) AS BIGINT) AS res_micro,
        CAST((1000000 * sp // n) * (1000000 - 1000000 * sp // n) // 1000000
          AS BIGINT) AS unc_micro,
        CAST(sq // (CAST(n AS HUGEINT) * 1000000) AS BIGINT)
          - (CAST(reln // (CAST(n AS HUGEINT) * 1000000) AS BIGINT)
             - CAST(resn // (CAST(n AS HUGEINT) * 1000000) AS BIGINT)
             + CAST((1000000 * sp // n) * (1000000 - 1000000 * sp // n)
               // 1000000 AS BIGINT)) AS identity_gap
      FROM brier CROSS JOIN comps CROSS JOIN tot""")),

    // The Adamic–Adar hub-cap dial as a first-class
    // oracle-gated operator. q296 keeps the exact form (cap = ∞); this
    // is the production form at a fixed dial value, so the gate checks
    // BOTH points of the dial, and the scale probes measure the cost gap
    // the cap buys (Σ_{deg≤D} deg² vs Σ deg² — measured 2× at sf0.1 for
    // D = 128).
    //
    // House rules as elsewhere: integer micro-ln weights, identical
    // aliases both sides, total ORDER BY.

    // ----- Adamic–Adar with the hub cap engaged ---------------------------
    // The capped form q296's scaladoc names as "what production runs":
    // wedge centers with deg(w) > 128 are excluded BEFORE the Σdeg²
    // self-join (see EvalMetricQueries.adamicAdar — the cap is an inner
    // join onto one wedge leg, so hubs never fan out). The bias is
    // explicit and documented: pairs whose common neighbors are ALL
    // high-degree hubs drop out entirely, and every retained score is
    // a lower bound on the exact AA score. Round9Spec quantifies the
    // bias on this corpus by diffing against q296. The oracle
    // interpolates AaCap into its HAVING clause (s-interpolator), so
    // turning the dial can never silently desynchronize the two sides.
    ("q321_adamic_adar_capped", (s: SparkSession, dir: String) =>
      adamicAdar(s, dir, AaCap), Some(AaCappedOracleSql)),

    // ----- confident-learning label noise estimate (score-space) ----------
    // q309 picks the best threshold ASSUMING the labels; confident
    // learning asks the opposite: which labels does the scorer itself
    // confidently contradict? (q187 runs the FEATURE-space version of
    // this screen — kNN label agreement over embeddings; this is the
    // score-space sibling, which needs no vectors and no pair scan.) Per-class confident thresholds are the
    // class-mean scores (t_pos = mean score of labeled-positives,
    // t_neg of labeled-negatives — integer div means, truncation
    // identical both engines); a labeled-positive scoring BELOW the
    // negatives' own mean is a suspected pos→neg flip, and vice versa.
    // The off-diagonal rates are the Cleanlab-style noise read —
    // simplified to mean-thresholds and documented as such (no
    // probability calibration is assumed; q297/q204 own that). Two
    // aggregates over the shared q297 scoring pass, output one row.
    ("q329_label_noise", (s: SparkSession, dir: String) => {
      import s.implicits._
      val lab = scoredDocs(s, dir)
        .select($"score", $"pos").localCheckpoint() // reused: means + flags
      val th = lab.agg(
        sum(when($"pos" === 1, $"score")).as("sp"),
        sum($"pos").as("np"),
        sum(when($"pos" === 0, $"score")).as("sn"),
        (count(lit(1)) - sum($"pos")).as("nn"))
        .select(
          expr("CASE WHEN np = 0 THEN NULL ELSE sp div np END").as("t_pos"),
          expr("CASE WHEN nn = 0 THEN NULL ELSE sn div nn END").as("t_neg"),
          $"np", $"nn")
      lab.crossJoin(broadcast(th))
        .agg(max($"np").as("n_pos"), max($"nn").as("n_neg"),
          max($"t_pos").as("t_pos"), max($"t_neg").as("t_neg"),
          sum(when($"pos" === 1 && $"score" < $"t_neg", 1L).otherwise(0L))
            .as("n_suspect_pos2neg"),
          sum(when($"pos" === 0 && $"score" > $"t_pos", 1L).otherwise(0L))
            .as("n_suspect_neg2pos"))
        .select($"n_pos", $"n_neg", $"t_pos", $"t_neg",
          $"n_suspect_pos2neg", $"n_suspect_neg2pos",
          expr("""CASE WHEN n_pos = 0 THEN NULL
                  ELSE 1000000 * n_suspect_pos2neg div n_pos END""")
            .as("noise_pos_micro"),
          expr("""CASE WHEN n_neg = 0 THEN NULL
                  ELSE 1000000 * n_suspect_neg2pos div n_neg END""")
            .as("noise_neg_micro"))
    }, Some(s"""
      WITH ${scoredSql},
      th AS (SELECT
          CASE WHEN sum(pos) = 0 THEN NULL
            ELSE CAST(sum(CASE WHEN pos = 1 THEN score ELSE 0 END) AS BIGINT)
                 // CAST(sum(pos) AS BIGINT) END AS t_pos,
          CASE WHEN count(*) - sum(pos) = 0 THEN NULL
            ELSE CAST(sum(CASE WHEN pos = 0 THEN score ELSE 0 END) AS BIGINT)
                 // CAST(count(*) - sum(pos) AS BIGINT) END AS t_neg,
          CAST(sum(pos) AS BIGINT) AS np,
          CAST(count(*) - sum(pos) AS BIGINT) AS nn
        FROM lab)
      SELECT max(np) AS n_pos, max(nn) AS n_neg,
        max(t_pos) AS t_pos, max(t_neg) AS t_neg,
        CAST(sum(CASE WHEN pos = 1 AND score < t_neg THEN 1 ELSE 0 END)
          AS BIGINT) AS n_suspect_pos2neg,
        CAST(sum(CASE WHEN pos = 0 AND score > t_pos THEN 1 ELSE 0 END)
          AS BIGINT) AS n_suspect_neg2pos,
        CASE WHEN max(np) = 0 THEN NULL
          ELSE 1000000 * CAST(sum(CASE WHEN pos = 1 AND score < t_neg
            THEN 1 ELSE 0 END) AS BIGINT) // max(np) END AS noise_pos_micro,
        CASE WHEN max(nn) = 0 THEN NULL
          ELSE 1000000 * CAST(sum(CASE WHEN pos = 0 AND score > t_pos
            THEN 1 ELSE 0 END) AS BIGINT) // max(nn) END AS noise_neg_micro
      FROM lab CROSS JOIN th""")),

    // The decile lift/gains table (the campaign-targeting
    // read of the q309 scorer — how much better than base rate is each
    // score decile), Fellegi–Sunter record-linkage field weights computed
    // WITHOUT materializing a single non-match pair (the scoring step
    // between q328's blocking and q54's clustering), and a per-document
    // bigram LM perplexity filter (the CCNet-style quality gate; q240
    // owns the source×source unigram matrix, this scores DOCUMENTS under
    // a corpus bigram model).
    //
    // House rules as elsewhere: integer micro arithmetic, micro-ln via
    // floor(ln·1e6 + 0.5), md5-deterministic corruption, identical
    // aliases both sides, total ORDER BY.

    // ----- decile lift and cumulative gains -------------------------------
    // ROC (q276) and PR (q294) read ranking quality; the lift table
    // answers the budgeted-action question: if only the top k/10 of
    // documents can be processed, how many positives does each slice
    // buy? Deciles come off the descending score-value grid with all
    // ties in one decile ((rows above) · 10 div n — the q331 tie
    // rule), so the slices are deterministic; per decile: size,
    // positives, response rate, lift vs base rate, and cumulative
    // gains (share of ALL positives captured so far). Grid-bounded
    // windows only; NULL-guarded for a positive-free corpus.
    ("q334_lift_gains", (s: SparkSession, dir: String) => {
      import s.implicits._
      val lab = scoredDocs(s, dir).select($"score", $"pos")
      val tot = lab.agg(count(lit(1)).as("n"), sum($"pos").as("np"))
      val wdesc = Window.orderBy(desc("score"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val grid = lab.groupBy($"score")
        .agg(count(lit(1)).as("cnt"), sum($"pos").as("p"))
        .withColumn("cum", sum($"cnt").over(wdesc))
        .crossJoin(broadcast(tot))
        .select(expr("(cum - cnt) * 10 div n").as("decile"),
          $"cnt", $"p", $"n", $"np")
      val wcum = Window.orderBy($"decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.groupBy($"decile")
        .agg(sum($"cnt").as("n_docs"), sum($"p").as("n_pos"),
          max($"n").as("n"), max($"np").as("np"))
        .withColumn("cum_pos", sum($"n_pos").over(wcum))
        .select($"decile", $"n_docs", $"n_pos",
          expr("1000000 * n_pos div n_docs").as("resp_rate_micro"),
          expr("""CASE WHEN np = 0 THEN NULL
                  ELSE CAST(CAST(1000000 AS DECIMAL(38,0)) * n_pos * n
                       div (CAST(n_docs AS DECIMAL(38,0)) * np) AS BIGINT)
                  END""").as("lift_micro"),
          expr("""CASE WHEN np = 0 THEN NULL
                  ELSE 1000000 * cum_pos div np END""").as("cum_gains_micro"))
        .orderBy($"decile")
    }, Some(s"""
      WITH ${scoredSql},
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(pos) AS BIGINT) AS np FROM lab),
      g AS (SELECT score, CAST(count(*) AS BIGINT) AS cnt,
          CAST(sum(pos) AS BIGINT) AS p,
          CAST(sum(count(*)) OVER (ORDER BY score DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum
        FROM lab GROUP BY score),
      d AS (SELECT (cum - cnt) * 10 // n AS decile, cnt, p, n, np
        FROM g CROSS JOIN tot),
      agg AS (SELECT decile, CAST(sum(cnt) AS BIGINT) AS n_docs,
          CAST(sum(p) AS BIGINT) AS n_pos,
          max(n) AS n, max(np) AS np
        FROM d GROUP BY decile)
      SELECT decile, n_docs, n_pos,
        1000000 * n_pos // n_docs AS resp_rate_micro,
        CASE WHEN np = 0 THEN NULL
          ELSE CAST(CAST(1000000 AS HUGEINT) * n_pos * n
               // (CAST(n_docs AS HUGEINT) * np) AS BIGINT) END AS lift_micro,
        CASE WHEN np = 0 THEN NULL
          ELSE 1000000 * CAST(sum(n_pos) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            // np END AS cum_gains_micro
      FROM agg ORDER BY decile""")),

    // ----- staged capped Adamic–Adar --------------------------------------
    // q321 executed as StagedSlices sequential x2-hash-slice jobs,
    // each reduced to its slice top-20 before the next starts. Same
    // dial value (EvalMetricQueries.AaCap), same oracle — the answer is
    // defined bit-identical; see EvalMetricQueries.adamicAdarStaged.
    ("q353_adamic_adar_staged", (s: SparkSession, dir: String) =>
      adamicAdarStaged(s, dir, AaCap,
        StagedSlices), Some(AaCappedOracleSql))
  )
}
