package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.ext.{GridCumulative, Similarity, TextAnalysis => TA}

/** Hypothesis tests, agreement statistics and effect sizes over the
  * corpus and order tables, each with its exact-integer DuckDB oracle.
  *
  * Section "Storage layout & optimizer (100 TB scan economics)" of
  * docs/OPERATORS.md.
  */
object StatTestQueries {

  /** q332's expected-events term over (dd, na, n). 1000000·dd·na wraps
    * int64 once dd·na > ~9.2e12 (cohorts ~3e6+), so the product is
    * carried in DECIMAL(38,0) end-to-end. Shared with Round9eSpec's
    * int64-boundary pin so the spec can never desync from the shipped
    * expression.
    */
  private[graft] val ExpEventsSql =
    "CAST(1000000 AS DECIMAL(38,0)) * dd * na div n"

  /** Permutation count for q359's null distribution (p granularity
    * 1/(S+1)). A dial: the scan fans out S× before the map-side
    * combine, and the shuffle carries only S × cells partial rows.
    */
  val FdrSeeds = 99

  /** Shared permutation p-value table (source, nx, t_obs, p) for the
    * multiplicity-control family — q359's BH step-up and q400's Holm
    * step-down consume the SAME pipeline so the two procedures can
    * never desynchronize their p-values. p-values are exact
    * permutation ranks over md5-relabeled cells; the scan fans out
    * FdrSeeds× but map-side combine reduces to seeds × cells partial
    * sums before the shuffle.
    */
  private[operators] def fdrPvals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.spread(Tables.t(s, dir, "documents"))
      .select($"doc_id", $"source", $"n_chars")
    val obs = d.groupBy($"source")
      .agg(sum($"n_chars").as("sx"), count(lit(1)).as("nx"))
    val tot = obs.agg(sum($"sx").as("stot"), sum($"nx").as("ntot"))
    val obsT = obs.crossJoin(broadcast(tot))
      .withColumn("t_obs", expr(
        "abs(CAST(sx AS DOUBLE)/CAST(nx AS DOUBLE) - CAST(stot AS DOUBLE)/CAST(ntot AS DOUBLE))"))
      .withColumn("cell", expr("CAST(substring(source, 4) AS BIGINT) % 20"))
    val perm = d
      .select($"doc_id", $"n_chars",
        explode(expr(s"sequence(1, $FdrSeeds)")).as("seed"))
      .withColumn("cell", expr(
        """CAST(conv(substring(md5(CAST(doc_id AS STRING) || '_' ||
           CAST(seed AS STRING)), 1, 8), 16, 10) AS BIGINT) % 20"""))
      .groupBy($"seed", $"cell")
      .agg(sum($"n_chars").as("px"), count(lit(1)).as("pn"))
      .crossJoin(broadcast(tot))
      .withColumn("t_perm", expr(
        "abs(CAST(px AS DOUBLE)/CAST(pn AS DOUBLE) - CAST(stot AS DOUBLE)/CAST(ntot AS DOUBLE))"))
      .select($"cell", $"t_perm")
    obsT.join(perm, Seq("cell"))
      .groupBy($"source", $"nx", $"t_obs")
      .agg(sum(($"t_perm" >= $"t_obs").cast("long")).as("n_ge"))
      .withColumn("p", expr(s"CAST(1 + n_ge AS DOUBLE) / ${FdrSeeds + 1}.0"))
  }

  /** DuckDB CTE chain ending in `pv(source, nx, t_obs, p)` — the
    * oracle rendering of [[fdrPvals]], shared by q359 and q400. */
  private val FdrPvalSql: String = s"""d AS (SELECT doc_id, source, n_chars FROM documents),
      obs AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS sx,
          CAST(count(*) AS BIGINT) AS nx FROM d GROUP BY 1),
      tot AS (SELECT CAST(sum(sx) AS BIGINT) AS stot,
          CAST(sum(nx) AS BIGINT) AS ntot FROM obs),
      ob2 AS (SELECT source, nx,
          abs(CAST(sx AS DOUBLE)/CAST(nx AS DOUBLE) - CAST(stot AS DOUBLE)/CAST(ntot AS DOUBLE)) AS t_obs,
          CAST(substr(source, 4) AS BIGINT) % 20 AS cell
        FROM obs, tot),
      pm AS (SELECT seed,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_' ||
            CAST(seed AS VARCHAR)), 1, 8))::BIGINT % 20 AS cell, n_chars
        FROM d, range(1, ${FdrSeeds + 1}) t(seed)),
      pc AS (SELECT seed, cell, CAST(sum(n_chars) AS BIGINT) AS px,
          CAST(count(*) AS BIGINT) AS pn FROM pm GROUP BY 1, 2),
      pt AS (SELECT cell,
          abs(CAST(px AS DOUBLE)/CAST(pn AS DOUBLE) - CAST(stot AS DOUBLE)/CAST(ntot AS DOUBLE)) AS t_perm
        FROM pc, tot),
      pv AS (SELECT source, nx, t_obs,
          CAST(1 + sum(CASE WHEN t_perm >= t_obs THEN 1 ELSE 0 END) AS DOUBLE)
            / ${FdrSeeds + 1}.0 AS p
        FROM ob2 JOIN pt USING (cell) GROUP BY 1, 2, 3)"""

  /** Mann–Whitney z from the exact integer grid aggregates — shared
    * verbatim between the Spark plan and the DuckDB oracle so the
    * IEEE op order is identical. Inputs: u1x2 = 2·U1 (exact), n1, n2,
    * tsum = Σ(t³−t) over tied groups.
    */
  private val MwZSql =
    """CAST(u1x2 - n1*n2 AS DOUBLE) / (2.0 * sqrt(
       (CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE)/12.0) *
       ((CAST(n1+n2 AS DOUBLE)+1.0) - CAST(tsum AS DOUBLE) /
        (CAST(n1+n2 AS DOUBLE)*(CAST(n1+n2 AS DOUBLE)-1.0)))))"""

  /** Fleiss κ chain from the integer rating-count aggregates (n docs,
    * sx = Σ x_i raters-say-long, spp = Σ x_i²+(R−x_i)², R = 5 raters).
    * Shared text, double ops only.
    */
  private val FleissSql = Seq(
    "CAST(sx AS DOUBLE)/(5.0*CAST(n AS DOUBLE)) AS p_long",
    """(CAST(spp AS DOUBLE) - 5.0*CAST(n AS DOUBLE)) /
       (20.0*CAST(n AS DOUBLE)) AS p_bar""",
    """((CAST(spp AS DOUBLE) - 5.0*CAST(n AS DOUBLE)) / (20.0*CAST(n AS DOUBLE))
       - (CAST(sx AS DOUBLE)/(5.0*CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE)/(5.0*CAST(n AS DOUBLE)))
          + (1.0 - CAST(sx AS DOUBLE)/(5.0*CAST(n AS DOUBLE))) * (1.0 - CAST(sx AS DOUBLE)/(5.0*CAST(n AS DOUBLE)))))
       / (1.0
       - (CAST(sx AS DOUBLE)/(5.0*CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE)/(5.0*CAST(n AS DOUBLE)))
          + (1.0 - CAST(sx AS DOUBLE)/(5.0*CAST(n AS DOUBLE))) * (1.0 - CAST(sx AS DOUBLE)/(5.0*CAST(n AS DOUBLE)))))
       AS kappa""")

  // canonical definition lives with the kernel so the SQL registration
  // (GraftExtensions) and this battery share ONE stop set
  private[graft] val GopherStops = graft.functions.GopherTextStats.GopherStops

  /** Per-document Gopher rule flags (see q355) — shared with q371's
    * Cochran Q so both sides of both queries compute the rules from
    * ONE definition. Returns (doc_id, source, r_wc..r_sym).
    *
    * One fused primitive scan per document (GopherTextStats): the
    * round-11 form was already shuffle-free but still paid three regex
    * passes plus a split + array_sort fold — ~84 s at ×100 docs, the
    * text battery's measured ceiling. The kernel computes the same six
    * integers in one pass (bit-equality with that expression chain
    * pinned in GopherTextStatsSpec on the whole corpus + adversarial
    * edges). The DuckDB oracle keeps the definitional
    * normalize+unnest+group form — same values, different physical
    * plan, which is the point.
    */
  private[graft] def gopherDoc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.spread(Tables.t(s, dir, "documents"))
    docs
      .select($"doc_id", $"source",
        graft.functions.GopherTextStats($"text", GopherStops).as("g"))
      .select($"doc_id", $"source",
        $"g".getItem(0).as("wc"),
        $"g".getItem(1).as("sumlen"),
        ($"g".getItem(0) - $"g".getItem(2)).as("n_alpha"),
        $"g".getItem(3).as("n_stopkinds"),
        $"g".getItem(4).as("maxw"),
        $"g".getItem(5).as("n_sym"))
      .filter($"wc" > 0)
      .withColumn("r_wc", $"wc" >= 50 && $"wc" <= 100000)
      .withColumn("r_mwl",
        $"sumlen" >= lit(3) * $"wc" && $"sumlen" <= lit(10) * $"wc")
      .withColumn("r_alpha", lit(5) * $"n_alpha" >= lit(4) * $"wc")
      .withColumn("r_stop", $"n_stopkinds" >= 2)
      .withColumn("r_rep", lit(10) * $"maxw" <= $"wc")
      .withColumn("r_sym", lit(10) * $"n_sym" <= $"wc")
      .select($"doc_id", $"source", $"r_wc", $"r_mwl", $"r_alpha",
        $"r_stop", $"r_rep", $"r_sym")
  }

  /** DuckDB CTE chain ending in `f(doc_id, source, r_wc..r_sym)` —
    * the oracle rendering of [[gopherDoc]], shared by q355 and q371.
    */
  private val GopherDocSql: String = {
    val norm = TA.normTextSql
    val stopSum = GopherStops.map(w =>
      s"CASE WHEN list_contains(a, '$w') THEN 1 ELSE 0 END").mkString(" + ")
    s"""b AS (SELECT doc_id, source, text, $norm AS nt FROM documents),
      b2 AS (SELECT doc_id, source, text, nt, string_split(nt, ' ') AS a,
          CAST(CASE WHEN nt = '' THEN 0 ELSE len(string_split(nt, ' ')) END AS BIGINT) AS wc
        FROM b),
      b3 AS (SELECT doc_id, source, a, wc,
          CAST(len(nt) - (wc - 1) AS BIGINT) AS sumlen,
          CAST(len(list_filter(a, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
          CAST($stopSum AS BIGINT) AS n_stopkinds,
          CAST(len(text) - len(replace(text, '#', '')) AS BIGINT)
            + CAST((len(text) - len(replace(text, '...', ''))) / 3 AS BIGINT) AS n_sym
        FROM b2 WHERE wc > 0),
      rep AS (SELECT doc_id, max(c) AS maxw FROM (
          SELECT doc_id, w, count(*) AS c
          FROM (SELECT doc_id, unnest(a) AS w FROM b3) GROUP BY 1, 2)
        GROUP BY 1),
      f AS (SELECT b3.doc_id, b3.source,
          (wc >= 50 AND wc <= 100000) AS r_wc,
          (sumlen >= 3*wc AND sumlen <= 10*wc) AS r_mwl,
          (5*n_alpha >= 4*wc) AS r_alpha,
          (n_stopkinds >= 2) AS r_stop,
          (10*maxw <= wc) AS r_rep,
          (10*n_sym <= wc) AS r_sym
        FROM b3 JOIN rep USING (doc_id))"""
  }

  /** Grid-derived rank-sum tables over (source, n_chars) — shared by
    * q357 (Kruskal–Wallis) and q366 (Dunn post-hoc): per-source
    * (nj, rj2 = 2·rank-sum as DECIMAL) and the scalar (n, tsum =
    * Σ(t³−t)) totals. Ranks come from the distinct-value grid via
    * GridCumulative — no global sort anywhere.
    */
  private def sourceRankTables(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val d = Tables.t(s, dir, "documents").select($"source", $"n_chars")
    val grid = d.groupBy($"n_chars").agg(count(lit(1)).as("c"))
    val cum = GridCumulative.withRunningTotal(grid, "n_chars", "c", "cumc")
      .withColumn("ar2", lit(2) * ($"cumc" - $"c") + $"c" + 1)
    val totals = cum.agg(
      sum($"c").as("n"),
      sum($"c".cast("decimal(38,0)") * $"c" * $"c" - $"c").as("tsum"))
    val rj = d.groupBy($"source", $"n_chars")
      .agg(count(lit(1)).as("cs"))
      .join(broadcast(cum.select($"n_chars", $"ar2")), Seq("n_chars"))
      .groupBy($"source").agg(
        sum($"cs").as("nj"),
        sum($"cs".cast("decimal(38,0)") * $"ar2").as("rj2"))
    (rj, totals)
  }

  /** DuckDB CTE chain ending in `rj(source, nj, rj2)` and `tot(n,
    * tsum)` — the oracle rendering of [[sourceRankTables]].
    */
  private val SourceRankSql: String = """
      d AS (SELECT source, n_chars FROM documents),
      g AS (SELECT n_chars, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1),
      g2 AS (SELECT *,
          sum(c) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS cumc
        FROM g),
      g3 AS (SELECT n_chars, c, 2*(cumc - c) + c + 1 AS ar2 FROM g2),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
          sum(CAST(c AS DECIMAL(38,0)) * c * c - c) AS tsum FROM g3),
      ps AS (SELECT source, n_chars, CAST(count(*) AS BIGINT) AS cs
        FROM d GROUP BY 1, 2),
      rj AS (SELECT source, CAST(sum(cs) AS BIGINT) AS nj,
          sum(CAST(cs AS DECIMAL(38,0)) * ar2) AS rj2
        FROM ps JOIN g3 USING (n_chars) GROUP BY source)"""

  /** Bonferroni critical value for q366's 20-source Dunn family:
    * Φ⁻¹(1 − 0.05 / (2 · 190)) for the m = k(k−1)/2 = 190 pairwise
    * comparisons at family α = 0.05 — precomputed, documented, and
    * interpolated into BOTH engines so the dial cannot desynchronize
    * them (the q321 AaCap lesson).
    */
  val DunnZCrit = "3.6555"

  /** γ, Somers' D (both directions) and Stuart τ-c from the exact pair
    * masses — one shared double chain per coefficient. Inputs: cpairs,
    * dpairs, n0 = C(n,2), tx = pairs tied on x (incl. both-tied), ty
    * likewise, n, m = min(#rows, #cols).
    */
  private val GammaSql =
    """CASE WHEN cpairs + dpairs = 0 THEN NULL ELSE
       (CAST(cpairs AS DOUBLE) - CAST(dpairs AS DOUBLE)) /
       (CAST(cpairs AS DOUBLE) + CAST(dpairs AS DOUBLE)) END"""

  private val DyxSql =
    """CASE WHEN n0 = tx THEN NULL ELSE
       (CAST(cpairs AS DOUBLE) - CAST(dpairs AS DOUBLE)) /
       (CAST(n0 AS DOUBLE) - CAST(tx AS DOUBLE)) END"""

  private val DxySql =
    """CASE WHEN n0 = ty THEN NULL ELSE
       (CAST(cpairs AS DOUBLE) - CAST(dpairs AS DOUBLE)) /
       (CAST(n0 AS DOUBLE) - CAST(ty AS DOUBLE)) END"""

  private val TauCSql =
    """CASE WHEN m <= 1 THEN NULL ELSE
       2.0 * CAST(m AS DOUBLE) *
       (CAST(cpairs AS DOUBLE) - CAST(dpairs AS DOUBLE)) /
       (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(m AS DOUBLE) - 1.0)) END"""

  /** MCC from the 2×2 gate counts — NULL when any margin is empty
    * (the correlation is undefined, and sqrt(0) denominators would
    * otherwise divide by zero).
    */
  private val MccSql =
    """CASE WHEN (a + b) * (a + c) = 0 OR (b + d) * (c + d) = 0 THEN NULL ELSE
       (CAST(a AS DOUBLE) * CAST(d AS DOUBLE) - CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) /
       sqrt((CAST(a AS DOUBLE) + CAST(b AS DOUBLE)) * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE)) *
            (CAST(b AS DOUBLE) + CAST(d AS DOUBLE)) * (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))) END"""

  /** Haldane–Anscombe odds ratio and the log-scale Wald SE — the +0.5
    * continuity correction makes every cell strictly positive, so the
    * chain is total (no zero-cell guards needed).
    */
  private val OrSql =
    """((CAST(a AS DOUBLE) + 0.5) * (CAST(d AS DOUBLE) + 0.5)) /
       ((CAST(b AS DOUBLE) + 0.5) * (CAST(c AS DOUBLE) + 0.5))"""

  private val OrSeSql =
    """sqrt(1.0/(CAST(a AS DOUBLE) + 0.5) + 1.0/(CAST(b AS DOUBLE) + 0.5)
          + 1.0/(CAST(c AS DOUBLE) + 0.5) + 1.0/(CAST(d AS DOUBLE) + 0.5))"""

  /** Page's L z under the no-tie null: E[L] = b·k(k+1)²/4, Var(L) =
    * b·k²(k+1)(k²−1)/144; with k = 7 weekdays and l2 = 2L this is
    * (l2 − 224b)/2 over sqrt(18816·b/144). Tie-uncorrected (ties in
    * daily counts are rare and shrink Var, making |z| conservative^-1 —
    * reported as the classical statistic, like q378's JT z).
    */
  private val PageZSql =
    """(CAST(l2 AS DOUBLE) - 224.0 * CAST(b AS DOUBLE)) /
       (2.0 * sqrt(18816.0 * CAST(b AS DOUBLE) / 144.0))"""

  /** Jonckheere–Terpstra z from 2J, 4E[J] = n² − Σn_j² and the no-tie
    * variance numerator vnum = n²(2n+3) − Σ n_j²(2n_j+3) (J − E =
    * (2·j2 − ej4)/4, Var = vnum/72).
    */
  private val JtZSql =
    """CASE WHEN vnum = 0 THEN NULL ELSE
       (2.0 * CAST(j2 AS DOUBLE) - CAST(ej4 AS DOUBLE)) /
       (4.0 * sqrt(CAST(vnum AS DOUBLE) / 72.0)) END"""

  /** Durbin–Watson from exact integers: n·Σ(Δc)² over n·Σc² − (Σc)²
    * (differencing cancels the mean, so no fractional residual ever
    * materializes).
    */
  private val DwSql =
    """CASE WHEN n * scc = sc * sc THEN NULL ELSE
       CAST(n AS DOUBLE) * CAST(sd2 AS DOUBLE) /
       (CAST(n AS DOUBLE) * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)) END"""

  /** Cohen's d from the five exact moments; pooled variance written as
    * (A1 + A2)/(n1+n2−2) with A_i = (n_i·Σx² − (Σx)²)/n_i so each term
    * is one division of exact DECIMALs.
    */
  private val CohenDSql =
    """(CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE) - CAST(s2 AS DOUBLE)/CAST(n2 AS DOUBLE)) /
       sqrt(((CAST(n1 AS DOUBLE)*CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))/CAST(n1 AS DOUBLE)
           + (CAST(n2 AS DOUBLE)*CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE))/CAST(n2 AS DOUBLE))
          / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0))"""

  /** Lin CCC / Pearson r over exact cent-integer moments, evaluated in
    * doubles with shared text: both coefficients from n, A=Σx, B=Σy,
    * XX=Σx², YY=Σy², XY=Σxy.
    */
  private val CccSql =
    """2.0 * (CAST(n AS DOUBLE)*CAST(xy AS DOUBLE) - CAST(a AS DOUBLE)*CAST(b AS DOUBLE)) /
       ((CAST(n AS DOUBLE)*CAST(xx AS DOUBLE) - CAST(a AS DOUBLE)*CAST(a AS DOUBLE))
        + (CAST(n AS DOUBLE)*CAST(yy AS DOUBLE) - CAST(b AS DOUBLE)*CAST(b AS DOUBLE))
        + (CAST(a AS DOUBLE) - CAST(b AS DOUBLE)) * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE)))"""

  private val PearsonSql =
    """(CAST(n AS DOUBLE)*CAST(xy AS DOUBLE) - CAST(a AS DOUBLE)*CAST(b AS DOUBLE)) /
       sqrt((CAST(n AS DOUBLE)*CAST(xx AS DOUBLE) - CAST(a AS DOUBLE)*CAST(a AS DOUBLE))
          * (CAST(n AS DOUBLE)*CAST(yy AS DOUBLE) - CAST(b AS DOUBLE)*CAST(b AS DOUBLE)))"""

  /** Krippendorff binary-nominal α from the cleared integers: n total
    * ratings, n1/n0 value margins, s12 = Σ_u 12·x_u(m_u−x_u)/(m_u−1).
    */
  private val KripSql =
    """CASE WHEN n1 = 0 OR n0 = 0 THEN NULL ELSE
       1.0 - (CAST(n AS DOUBLE) - 1.0) * CAST(s12 AS DOUBLE) /
       (12.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)) END"""

  /** Weighted κ from the exact grid integers: sum of |i−j|-weighted
    * observed mass (wo), expected mass (we = Σ|i−j|·r_i·c_j), n.
    */
  private val WKappaSql =
    """CASE WHEN we = 0 THEN NULL ELSE
       1.0 - CAST(n AS DOUBLE) * CAST(wo AS DOUBLE) / CAST(we AS DOUBLE) END"""

  private val EpdSpark =
    """datediff(to_date(CAST(ts AS TIMESTAMP)), DATE '1970-01-01')"""

  private val EpdSql =
    """CAST(date_diff('day', DATE '1970-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT)"""

  def queries: Seq[Entry] = Seq(

    // ----- σ-consistent robust z outliers (money column) ------------------
    // Mean/σ outlier rules break exactly when needed most: one extreme
    // value inflates σ until nothing is an outlier (masking). q126
    // counts plain 3-MAD token-length outliers per source; this is the
    // σ-CONSISTENT form on a money column — flag |x − median| >
    // 3 · 1.4826 · MAD, where 1.4826 ≈ 1/Φ⁻¹(3/4) rescales MAD to σ
    // under normality, so "3" means the same thing it does in a z-rule
    // (q126's unscaled 3-MAD is a ~4.4σ gate). 50% breakdown point
    // either way. Everything runs on the o_totalprice CENTS grid:
    // value-grid cumulative windows (the q195/q276 documented bound —
    // the window is over DISTINCT values, not rows), lower-median
    // convention rank = (n+1) div 2 for engine-identical medians, and
    // the 1.4826 consistency constant as the integer comparison
    // dev · 10000 > 3 · 14826 · mad, so no doubles anywhere.
    ("q323_mad_outliers", (s: SparkSession, dir: String) => {
      import s.implicits._
      val c = Tables.t(s, dir, "orders")
        .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("v"))
        .localCheckpoint() // reused: median grid + deviation grid + flags
      val n = c.agg(count(lit(1)).as("n"))
      val wv = Window.orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = c.groupBy($"v").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum($"cnt").over(wv))
        .crossJoin(broadcast(n))
        .filter($"cum" >= expr("(n + 1) div 2"))
        .agg(min($"v").as("med"))
      val dev = c.crossJoin(broadcast(med))
        .select(abs($"v" - $"med").as("d"), $"med")
      val wd = Window.orderBy($"d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mad = dev.groupBy($"d").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum($"cnt").over(wd))
        .crossJoin(broadcast(n))
        .filter($"cum" >= expr("(n + 1) div 2"))
        .agg(min($"d").as("mad"))
      dev.crossJoin(broadcast(mad))
        .crossJoin(broadcast(n))
        .agg(max($"n").as("n_rows"), max($"med").as("med_cents"),
          max($"mad").as("mad_cents"),
          sum(when(expr("d * 10000 > 3 * 14826 * mad"), 1L).otherwise(0L))
            .as("n_outliers"),
          max($"d").as("max_dev_cents"))
        .select($"n_rows", $"med_cents", $"mad_cents", $"n_outliers",
          expr("1000000 * n_outliers div n_rows").as("outlier_share_micro"),
          $"max_dev_cents")
    }, Some("""
      WITH c AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        FROM orders),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
      medg AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
          CAST(sum(count(*)) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum
        FROM c GROUP BY v),
      med AS (SELECT min(v) AS med FROM medg CROSS JOIN n
        WHERE cum >= (n + 1) // 2),
      dev AS (SELECT abs(v - med) AS d, med FROM c CROSS JOIN med),
      madg AS (SELECT d, CAST(count(*) AS BIGINT) AS cnt,
          CAST(sum(count(*)) OVER (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum
        FROM dev GROUP BY d),
      mad AS (SELECT min(d) AS mad FROM madg CROSS JOIN n
        WHERE cum >= (n + 1) // 2)
      SELECT max(n.n) AS n_rows, max(dev.med) AS med_cents,
        max(mad.mad) AS mad_cents,
        CAST(sum(CASE WHEN dev.d * 10000 > 3 * 14826 * mad.mad
          THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        1000000 * CAST(sum(CASE WHEN dev.d * 10000 > 3 * 14826 * mad.mad
          THEN 1 ELSE 0 END) AS BIGINT) // max(n.n) AS outlier_share_micro,
        max(dev.d) AS max_dev_cents
      FROM dev CROSS JOIN mad CROSS JOIN n""")),

    // ----- log-rank test: two-group survival comparison ---------------------
    // q265 ESTIMATES one survival curve (product-limit in micro-ln);
    // the question it cannot answer is whether two cohorts' curves
    // DIFFER. The log-rank test does, censoring-aware: cohort = users
    // with a signup, duration = days to first purchase strictly after
    // it (the q89 strict-order rule), censored at the horizon; early
    // vs late signups (signup epoch-day ≤ midpoint of the signup-day
    // range — a fixed, SF-stable split). At each event day the
    // early group's expected events under H₀ are d·n_A/n from the
    // at-risk suffix sums; U = Σ(o_A − e_A) and the hypergeometric
    // variance V = Σ d(n−d)n_A n_B / (n²(n−1)) accumulate in micro
    // with 128-bit cross-products, and z = U/√V is the ONE sqrt on the
    // single output row (q295's rule; degenerate n ≤ 1 days contribute
    // 0, V = 0 yields NULL). Shapes: user-keyed aggregates, a day-grid
    // suffix window per group — grid-bounded, the q265 discipline.
    ("q332_logrank_test", (s: SparkSession, dir: String) => {
      import s.implicits._
      val raw = Tables.t(s, dir, "events")
      val tus = raw.schema("ts").dataType.typeName match {
        case "timestamp_ntz" => unix_micros($"ts".cast("timestamp"))
        case _ => unix_micros($"ts")
      }
      val e = raw.select($"user_id".as("u"), $"event_type".as("et"),
        tus.as("tm")).localCheckpoint() // reused: cohort, events, horizon
      val s1 = e.filter($"et" === "signup").groupBy($"u")
        .agg(min($"tm").as("t1"))
        .withColumn("sd", expr("t1 div 86400000000"))
      val mid = s1.agg(expr("(min(sd) + max(sd)) div 2").as("mid"))
      val ev = e.filter($"et" === "purchase").join(s1.select($"u", $"t1"),
          Seq("u"))
        .filter($"tm" > $"t1").groupBy($"u").agg(min($"tm").as("tp"))
      val hor = e.agg(max($"tm").as("th"))
      val uu = s1.join(ev, Seq("u"), "left")
        .crossJoin(broadcast(hor)).crossJoin(broadcast(mid))
        .select($"u",
          when($"sd" <= $"mid", lit("early")).otherwise(lit("late")).as("g"),
          when($"tp".isNotNull, lit(1L)).otherwise(lit(0L)).as("is_event"),
          when($"tp".isNotNull, expr("(tp - t1) div 86400000000"))
            .otherwise(expr("(th - t1) div 86400000000")).as("d"))
      val grid = uu.groupBy($"d")
        .agg(sum(when($"g" === "early", $"is_event").otherwise(0L)).as("da"),
          sum(when($"g" === "early", 1L).otherwise(0L)).as("ta"),
          sum(when($"g" === "late", $"is_event").otherwise(0L)).as("db"),
          sum(when($"g" === "late", 1L).otherwise(0L)).as("tb"))
      val wRisk = Window.orderBy($"d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val terms = grid
        .withColumn("na", sum($"ta").over(wRisk))
        .withColumn("nb", sum($"tb").over(wRisk))
        .filter($"da" + $"db" > 0)
        .select(($"da" + $"db").as("dd"), ($"na" + $"nb").as("n"),
          $"da", $"na", $"nb")
      val tot = uu.groupBy($"g").agg(count(lit(1)).as("n"))
        .agg(max(when($"g" === "early", $"n")).as("n_early"),
          max(when($"g" === "late", $"n")).as("n_late"))
      terms.agg(
          sum($"da" * 1000000L).as("obs_a_micro"),
          sum(expr(ExpEventsSql)).as("exp_a_micro"),
          sum(expr("""CASE WHEN n <= 1 THEN 0
              ELSE CAST(1000000000000 AS DECIMAL(38,0)) * dd * (n - dd)
                   * na * nb div (CAST(n AS DECIMAL(38,0)) * n * (n - 1))
              END""")).as("v_micro2"))
        .crossJoin(broadcast(tot))
        .select($"n_early", $"n_late", $"obs_a_micro", $"exp_a_micro",
          expr("CAST(v_micro2 AS BIGINT)").as("var_micro2"),
          expr("""CASE WHEN CAST(v_micro2 AS BIGINT) = 0 THEN NULL
              ELSE CAST(floor(
                CAST((obs_a_micro - exp_a_micro) * 1000 AS DOUBLE)
                / sqrt(CAST(v_micro2 AS DOUBLE)) + 0.5) AS BIGINT)
              END""").as("z_milli"))
        .select($"n_early", $"n_late", $"obs_a_micro", $"exp_a_micro",
          $"var_micro2", $"z_milli",
          when(abs($"z_milli") >= 1960L, 1L).otherwise(0L).as("reject_h0"))
    }, Some("""
      WITH e AS (SELECT user_id AS u, event_type AS et,
          epoch_us(CAST(ts AS TIMESTAMP)) AS tm FROM events),
      s1 AS (SELECT u, min(tm) AS t1, min(tm) // 86400000000 AS sd
        FROM e WHERE et = 'signup' GROUP BY u),
      mid AS (SELECT (min(sd) + max(sd)) // 2 AS mid FROM s1),
      ev AS (SELECT e.u, min(e.tm) AS tp FROM e JOIN s1 ON e.u = s1.u
        WHERE e.et = 'purchase' AND e.tm > s1.t1 GROUP BY e.u),
      hor AS (SELECT max(tm) AS th FROM e),
      uu AS (SELECT s1.u,
          CASE WHEN s1.sd <= mid.mid THEN 'early' ELSE 'late' END AS g,
          CASE WHEN ev.tp IS NOT NULL THEN CAST(1 AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS is_event,
          CASE WHEN ev.tp IS NOT NULL THEN (ev.tp - s1.t1) // 86400000000
            ELSE (hor.th - s1.t1) // 86400000000 END AS d
        FROM s1 LEFT JOIN ev ON s1.u = ev.u CROSS JOIN hor CROSS JOIN mid),
      grid AS (SELECT d,
          CAST(sum(CASE WHEN g = 'early' THEN is_event ELSE 0 END)
            AS BIGINT) AS da,
          CAST(sum(CASE WHEN g = 'early' THEN 1 ELSE 0 END) AS BIGINT)
            AS ta,
          CAST(sum(CASE WHEN g = 'late' THEN is_event ELSE 0 END)
            AS BIGINT) AS db,
          CAST(sum(CASE WHEN g = 'late' THEN 1 ELSE 0 END) AS BIGINT) AS tb
        FROM uu GROUP BY d),
      risk AS (SELECT d, da, db,
          CAST(sum(ta) OVER (ORDER BY d
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
            AS na,
          CAST(sum(tb) OVER (ORDER BY d
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
            AS nb
        FROM grid),
      terms AS (SELECT da + db AS dd, na + nb AS n, da, na, nb
        FROM risk WHERE da + db > 0),
      tot AS (SELECT
          CAST(sum(CASE WHEN g = 'early' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_early,
          CAST(sum(CASE WHEN g = 'late' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_late
        FROM uu),
      agg AS (SELECT
          CAST(sum(da * 1000000) AS BIGINT) AS obs_a_micro,
          CAST(sum(CAST(1000000 AS HUGEINT) * dd * na // n) AS BIGINT)
            AS exp_a_micro,
          CAST(sum(CASE WHEN n <= 1 THEN 0
            ELSE CAST(1000000000000 AS HUGEINT) * dd * (n - dd) * na * nb
                 // (CAST(n AS HUGEINT) * n * (n - 1)) END) AS BIGINT)
            AS var_micro2
        FROM terms)
      SELECT t.n_early, t.n_late, a.obs_a_micro, a.exp_a_micro,
        a.var_micro2,
        CASE WHEN a.var_micro2 = 0 THEN NULL
          ELSE CAST(floor(
            CAST((a.obs_a_micro - a.exp_a_micro) * 1000 AS DOUBLE)
            / sqrt(CAST(a.var_micro2 AS DOUBLE)) + 0.5) AS BIGINT) END
          AS z_milli,
        CAST(CASE WHEN abs(CASE WHEN a.var_micro2 = 0 THEN NULL
            ELSE CAST(floor(
              CAST((a.obs_a_micro - a.exp_a_micro) * 1000 AS DOUBLE)
              / sqrt(CAST(a.var_micro2 AS DOUBLE)) + 0.5) AS BIGINT) END)
            >= 1960 THEN 1 ELSE 0 END AS BIGINT) AS reject_h0
      FROM agg a CROSS JOIN tot t""")),

    // Trimmed/winsorized robust means — what to report
    // once q323 has flagged tail contamination; exact by rank on the
    // cents value grid.
    //
    // (This batch's first draft also carried a two-proportion A/B z-test
    // and a Gini/Lorenz concentration read; both duplicated existing
    // operators — q224's chi-square is the identical 2x2 test (z² = χ²)
    // and q239 already owns Gini — and were removed in the round-9
    // dedup audit.)
    //
    // House rules as elsewhere: integer micro arithmetic, identical
    // aliases both sides, total ORDER BY.

    // ----- trimmed and winsorized means ------------------------------------
    // Once q323 has flagged tail contamination, which center do you
    // REPORT? The 5% trimmed mean (drop the outer 5% each side) and
    // the 5% winsorized mean (clamp to the 5th/95th percentile values)
    // — both exact, both off the o_totalprice cents value grid: the
    // rank thresholds lo = ceil(n/20), hi = n − lo select interior
    // mass; straddling values contribute PARTIAL counts
    // (min(cum,hi) − max(cum−cnt,lo) clipped at 0), so the trim is by
    // RANK, not by whole value — no heavy value distorts the cut. One
    // grid pass, one output row with the raw mean alongside: the gap
    // between the three IS the tail-mass diagnostic.
    ("q338_trimmed_mean", (s: SparkSession, dir: String) => {
      import s.implicits._
      val c = Tables.t(s, dir, "orders")
        .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("v"))
      val n = c.agg(count(lit(1)).as("n"), sum($"v").as("sv"))
      val wv = Window.orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val g = c.groupBy($"v").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum($"cnt").over(wv))
        .crossJoin(broadcast(n))
        .withColumn("lo", expr("(n + 19) div 20")) // ceil(n/20)
        .withColumn("hi", expr("n - (n + 19) div 20"))
        .withColumn("inkeep", expr(
          """greatest(CAST(0 AS BIGINT),
             least(cum, hi) - greatest(cum - cnt, lo))"""))
      g.agg(max($"n").as("n_rows"), max($"sv").as("sum_cents"),
          sum($"inkeep" * $"v").as("tsum"), sum($"inkeep").as("tn"),
          min(when($"cum" > $"lo", $"v")).as("p05"),
          min(when($"cum" >= $"hi", $"v")).as("p95"),
          max($"lo").as("lo"))
        .select($"n_rows",
          expr("sum_cents div n_rows").as("mean_cents"),
          expr("CASE WHEN tn = 0 THEN NULL ELSE tsum div tn END")
            .as("trimmed_mean_cents"),
          expr("""(tsum + lo * p05 + (n_rows - lo - tn) * p95)
                  div n_rows""").as("winsorized_mean_cents"),
          $"p05".as("p05_cents"), $"p95".as("p95_cents"))
    }, Some("""
      WITH c AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        FROM orders),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(v) AS BIGINT) AS sv FROM c),
      g AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
          CAST(sum(count(*)) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum
        FROM c GROUP BY v),
      k AS (SELECT v, cnt, cum, n, sv,
          (n + 19) // 20 AS lo, n - (n + 19) // 20 AS hi
        FROM g CROSS JOIN n),
      p AS (SELECT max(n) AS n_rows, max(sv) AS sum_cents,
          CAST(sum(greatest(CAST(0 AS BIGINT),
            least(cum, hi) - greatest(cum - cnt, lo)) * v) AS BIGINT)
            AS tsum,
          CAST(sum(greatest(CAST(0 AS BIGINT),
            least(cum, hi) - greatest(cum - cnt, lo))) AS BIGINT) AS tn,
          min(CASE WHEN cum > lo THEN v END) AS p05,
          min(CASE WHEN cum >= hi THEN v END) AS p95,
          max(lo) AS lo
        FROM k)
      SELECT n_rows, sum_cents // n_rows AS mean_cents,
        CASE WHEN tn = 0 THEN NULL ELSE tsum // tn END
          AS trimmed_mean_cents,
        (tsum + lo * p05 + (n_rows - lo - tn) * p95) // n_rows
          AS winsorized_mean_cents,
        p05 AS p05_cents, p95 AS p95_cents
      FROM p""")),

    // ----- per-dimension whitening statistics -------------------------------
    // Cosine and Euclidean distances silently weight dimensions by
    // their variance; whitening (per-dim standardize) is the
    // preprocessing every ANN/clustering stage assumes and nobody
    // checks. Per dimension of the quantized embeddings: mean, the
    // σ in quantized units (ONE sqrt per dim over the 64-row stats
    // table, exact-integer operand via n·Σv² − (Σv)² in DECIMAL), and
    // the VERIFICATION pass — re-scan the corpus with the broadcast
    // stats and confirm the standardized residuals per dim: Σ(v·n−sv)
    // is 0 EXACTLY (the centering identity), max |z| in milli-σ units
    // is the honest outlier read per dim. Constant dims yield NULL z
    // (σ = 0) in both engines.
    ("q341_whitening_stats", (s: SparkSession, dir: String) => {
      import s.implicits._
      val dims = Tables.spread(Tables.t(s, dir, "embeddings"))
        .select(posexplode(Similarity.quantize($"embedding"))
          .as(Seq("j0", "x")))
        .select(($"j0" + 1).as("j"), $"x".cast("long").as("v"))
        .localCheckpoint() // reused: stats + the verification rescan
      val st = dims.groupBy($"j").agg(count(lit(1)).as("n"),
          sum($"v").as("sv"),
          sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("svv"))
        .select($"j", $"n", $"sv",
          expr("""CAST(floor(sqrt(
              CAST(n * svv - CAST(sv AS DECIMAL(38,0)) * sv AS DOUBLE))
              / n + 0.5) AS BIGINT)""").as("sigma_q"))
      dims.join(broadcast(st), Seq("j"))
        .groupBy($"j")
        .agg(max($"n").as("n"), max($"sv").as("sv"),
          max($"sigma_q").as("sigma_q"),
          sum(expr("CAST(v AS DECIMAL(38,0)) * n - sv")).as("ssz"),
          max(expr("""CASE WHEN sigma_q = 0 THEN NULL
            ELSE abs(v * n - sv) * 1000 div (n * sigma_q) END"""))
            .as("max_abs_z_milli"))
        .select($"j".as("dim"), $"n",
          expr("sv div n").as("mean_q"), $"sigma_q",
          expr("CAST(ssz AS BIGINT)").as("centering_residual"),
          $"max_abs_z_milli")
        .orderBy($"dim")
    }, Some(s"""
      WITH p AS (SELECT vec_id,
          list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000))
            AS qvec FROM embeddings),
      dims AS (SELECT j, CAST(qvec[CAST(j AS INT)] AS BIGINT) AS v
        FROM p, unnest(range(1, len(qvec) + 1)) AS t(j)),
      st AS (SELECT j, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(v) AS BIGINT) AS sv,
          CAST(floor(sqrt(
            CAST(count(*) * sum(CAST(v AS HUGEINT) * v)
              - CAST(sum(v) AS HUGEINT) * sum(v) AS DOUBLE))
            / count(*) + 0.5) AS BIGINT) AS sigma_q
        FROM dims GROUP BY j)
      SELECT d.j AS dim, max(st.n) AS n,
        max(st.sv) // max(st.n) AS mean_q,
        max(st.sigma_q) AS sigma_q,
        CAST(sum(CAST(d.v AS HUGEINT) * st.n - st.sv) AS BIGINT)
          AS centering_residual,
        max(CASE WHEN st.sigma_q = 0 THEN NULL
          ELSE abs(d.v * st.n - st.sv) * 1000 // (st.n * st.sigma_q) END)
          AS max_abs_z_milli
      FROM dims d JOIN st ON d.j = st.j
      GROUP BY d.j ORDER BY dim""")),

    // ----- Wald–Wolfowitz runs test on the daily error rate -----------------
    // q229/q312/q319 DETECT shifts; this tests the null they assume:
    // that the daily error-share series is exchangeable noise around
    // its center. Signs = above/below the series' lower-median
    // (median-equal days are EXCLUDED, the standard treatment); the
    // number of runs R among n = n1 + n2 signed days is compared to
    // its exchangeability law, E[R] = 1 + 2n1n2/n,
    // Var[R] = 2n1n2(2n1n2 − n) / (n²(n−1)); too FEW runs = trending
    // (the control-chart case), too MANY = oscillation (over-dispersed
    // sampling or a feedback loop). R comes from one lag window over
    // the day grid; z is computed from exact integer counts with the
    // identical float expression in both engines, NULL when a sign
    // class is empty.
    ("q346_runs_test", (s: SparkSession, dir: String) => {
      import s.implicits._
      val daily = Tables.t(s, dir, "events")
        .select(datediff(to_date($"ts".cast("timestamp")),
          lit("1970-01-01").cast("date")).cast("long").as("epd"),
          ($"event_type" === "error").cast("long").as("is_err"))
        .groupBy($"epd")
        .agg(expr("1000000 * sum(is_err) div count(1)").as("v"))
        .localCheckpoint() // reused: median grid + the sign series
      val nd = daily.agg(count(lit(1)).as("nd"))
      val wv = Window.orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = daily.groupBy($"v").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum($"cnt").over(wv))
        .crossJoin(broadcast(nd))
        .filter($"cum" >= expr("(nd + 1) div 2"))
        .agg(min($"v").as("med"))
      val signed = daily.crossJoin(broadcast(med))
        .filter($"v" =!= $"med")
        .select($"epd", ($"v" > $"med").cast("long").as("sgn"))
      val wd = Window.orderBy($"epd")
      val runs = signed
        .withColumn("chg",
          when(lag($"sgn", 1).over(wd).isNull, 1L)
            .when(lag($"sgn", 1).over(wd) =!= $"sgn", 1L).otherwise(0L))
        .agg(count(lit(1)).as("n"), sum($"sgn").as("n1"),
          (count(lit(1)) - sum($"sgn")).as("n2"),
          sum($"chg").as("n_runs"))
      runs.select($"n".as("n_days"), $"n1", $"n2", $"n_runs",
          expr("""CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
              ELSE CAST(floor(
                (CAST(n_runs AS DOUBLE) - 1
                   - CAST(2 * n1 * n2 AS DOUBLE) / n) * 1000
                / sqrt(CAST(2 * n1 * n2 AS DOUBLE)
                    * (2 * n1 * n2 - n) / (CAST(n AS DOUBLE) * n * (n - 1)))
                + 0.5) AS BIGINT) END""").as("z_milli"))
        .select($"n_days", $"n1", $"n2", $"n_runs", $"z_milli",
          when(abs($"z_milli") >= 1960L, 1L).otherwise(0L).as("reject_h0"))
    }, Some("""
      WITH daily AS (SELECT
          CAST(date_diff('day', DATE '1970-01-01',
            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS epd,
          1000000 * CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0
            END) AS BIGINT) // CAST(count(*) AS BIGINT) AS v
        FROM events GROUP BY 1),
      nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM daily),
      medg AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
          CAST(sum(count(*)) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum
        FROM daily GROUP BY v),
      med AS (SELECT min(v) AS med FROM medg CROSS JOIN nd
        WHERE cum >= (nd + 1) // 2),
      signed AS (SELECT epd,
          CAST(CASE WHEN v > med THEN 1 ELSE 0 END AS BIGINT) AS sgn
        FROM daily CROSS JOIN med WHERE v <> med),
      runs AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(sgn) AS BIGINT) AS n1,
          CAST(count(*) - sum(sgn) AS BIGINT) AS n2,
          CAST(sum(chg) AS BIGINT) AS n_runs FROM
        (SELECT sgn, CASE WHEN lag(sgn, 1) OVER (ORDER BY epd) IS NULL
            THEN 1 WHEN lag(sgn, 1) OVER (ORDER BY epd) <> sgn THEN 1
            ELSE 0 END AS chg
          FROM signed)),
      z AS (SELECT n AS n_days, n1, n2, n_runs,
          CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
          ELSE CAST(floor(
            (CAST(n_runs AS DOUBLE) - 1
               - CAST(2 * n1 * n2 AS DOUBLE) / n) * 1000
            / sqrt(CAST(2 * n1 * n2 AS DOUBLE)
                * (2 * n1 * n2 - n) / (CAST(n AS DOUBLE) * n * (n - 1)))
            + 0.5) AS BIGINT) END AS z_milli
        FROM runs)
      SELECT n_days, n1, n2, n_runs, z_milli,
        CAST(CASE WHEN abs(z_milli) >= 1960 THEN 1 ELSE 0 END AS BIGINT)
          AS reject_h0
      FROM z""")),

    // A distribution-free confidence
    // interval for the median (the order-statistic CI — q320's Wilson
    // intervals cover proportions, nothing covered quantiles), the
    // retention half-life fit (q90 reports the cohort matrix; this fits
    // the decay LAW and reports the one number a growth model consumes),
    // and a Flesch-style readability gate (the classic curation signal
    // the q17 length/punct heuristics don't capture).
    //
    // House rules as elsewhere: integer micro/milli arithmetic, micro-ln
    // per factor, the sqrt on a single scalar row, identical aliases
    // both sides, total ORDER BY.

    // ----- distribution-free median confidence interval ---------------------
    // Reporting a median without an interval invites the q320 mistake
    // at the quantile level. The order-statistic CI needs NO
    // distributional assumption: by the sign argument, ranks
    // l = max(1, floor((n − 1.96√n)/2)) and
    // u = min(n, ceil((n + 1.96√n)/2) + 1) cover the true median with
    // ~95% probability (large-sample binomial(n, ½) normal
    // approximation — the convention stated, not hidden). The three
    // order statistics read off ONE cents value-grid cumulative (the
    // q195 bound); the sqrt runs once on the scalar n with the
    // identical expression in both engines.
    ("q349_median_ci", (s: SparkSession, dir: String) => {
      import s.implicits._
      val c = Tables.t(s, dir, "orders")
        .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("v"))
      val n = c.agg(count(lit(1)).as("n"))
        .select($"n",
          expr("""greatest(CAST(1 AS BIGINT), CAST(floor(
              (n - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT))""")
            .as("lo_rank"),
          expr("""least(n, CAST(ceil(
              (n + 1.96 * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT) + 1)""")
            .as("hi_rank"))
      val cumGrid = graft.ext.GridCumulative.withRunningTotal(
        c.groupBy($"v").agg(count(lit(1)).as("cnt")), "v", "cnt", "cum")
      cumGrid
        .crossJoin(broadcast(n))
        .agg(max($"n").as("n_rows"), max($"lo_rank").as("lo_rank"),
          max($"hi_rank").as("hi_rank"),
          min(when($"cum" >= expr("(n + 1) div 2"), $"v"))
            .as("median_cents"),
          min(when($"cum" >= $"lo_rank", $"v")).as("ci_lo_cents"),
          min(when($"cum" >= $"hi_rank", $"v")).as("ci_hi_cents"))
    }, Some("""
      WITH c AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        FROM orders),
      n AS (SELECT n,
          greatest(CAST(1 AS BIGINT), CAST(floor(
            (n - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT)) AS lo_rank,
          least(n, CAST(ceil(
            (n + 1.96 * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT) + 1)
            AS hi_rank
        FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM c)),
      g AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
          CAST(sum(count(*)) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum
        FROM c GROUP BY v)
      SELECT max(n.n) AS n_rows, max(n.lo_rank) AS lo_rank,
        max(n.hi_rank) AS hi_rank,
        min(CASE WHEN cum >= (n.n + 1) // 2 THEN v END) AS median_cents,
        min(CASE WHEN cum >= n.lo_rank THEN v END) AS ci_lo_cents,
        min(CASE WHEN cum >= n.hi_rank THEN v END) AS ci_hi_cents
      FROM g CROSS JOIN n""")),

    // ----- retention half-life fit ------------------------------------------
    // q90 SHOWS the retention matrix; a growth model needs the decay
    // LAW: pooled day-k retention r_k (only cohorts old enough to
    // reach offset k are eligible — the censoring-honest pooling),
    // fit ln r_k = a + b·k over offsets 1..14 by exact integer least
    // squares on micro-ln values, half-life = ln2 / (−b). A positive
    // or zero slope yields NULL half-life (no decay — itself the
    // finding). One distinct (user, day) pass, user-keyed first-day
    // aggregate, a 14-point grid regression — the q306 Heaps-fit
    // shape.
    ("q350_retention_halflife", (s: SparkSession, dir: String) => {
      import s.implicits._
      val ud = Tables.t(s, dir, "events")
        .select($"user_id".as("u"),
          datediff(to_date($"ts".cast("timestamp")),
            lit("1970-01-01").cast("date")).cast("long").as("d"))
        .distinct()
        .localCheckpoint() // reused: first-day, horizon, activity join
      val first = ud.groupBy($"u").agg(min($"d").as("fd"))
      val hor = ud.agg(max($"d").as("mx"))
      val ks = (1L to 14L).map(Tuple1(_)).toDF("k")
      val elig = first.crossJoin(broadcast(hor))
        .crossJoin(broadcast(ks))
        .filter($"fd" + $"k" <= $"mx")
        .select($"u", $"fd", $"k")
      val actv = elig.join(ud.select($"u", $"d"), Seq("u"))
        .filter($"d" === $"fd" + $"k")
        .groupBy($"k").agg(countDistinct($"u").as("n_active"))
      val base = elig.groupBy($"k").agg(count(lit(1)).as("n_elig"))
      val pts = base.join(actv, Seq("k"), "left")
        .select($"k",
          expr("1000000 * coalesce(n_active, 0) div n_elig").as("r_micro"))
        .filter($"r_micro" > 0)
        .select($"k", expr(
          "CAST(floor(ln(CAST(r_micro AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)")
          .as("y"))
      val fit = pts.agg(count(lit(1)).as("m"), sum($"k").as("sk"),
          sum($"y").as("sy"), sum($"k" * $"y").as("sky"),
          sum($"k" * $"k").as("skk"))
        .select($"m",
          expr("""CASE WHEN m * skk - sk * sk = 0 THEN NULL
              ELSE (m * sky - sk * sy) div (m * skk - sk * sk) END""")
            .as("b_microln_per_day"))
      fit.select($"m".as("n_offsets"), $"b_microln_per_day",
        expr("""CASE WHEN b_microln_per_day IS NULL
                  OR b_microln_per_day >= 0 THEN NULL
                ELSE 693147180 div (-b_microln_per_day) END""")
          .as("half_life_days_milli"))
    }, Some("""
      WITH ud AS (SELECT DISTINCT user_id AS u,
          CAST(date_diff('day', DATE '1970-01-01',
            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS d
        FROM events),
      first AS (SELECT u, min(d) AS fd FROM ud GROUP BY u),
      hor AS (SELECT max(d) AS mx FROM ud),
      ks AS (SELECT CAST(k AS BIGINT) AS k
        FROM (SELECT unnest(range(1, 15)) AS k)),
      elig AS (SELECT f.u, f.fd, ks.k
        FROM first f CROSS JOIN hor CROSS JOIN ks
        WHERE f.fd + ks.k <= hor.mx),
      actv AS (SELECT e.k, CAST(count(DISTINCT e.u) AS BIGINT) AS n_active
        FROM elig e JOIN ud ON e.u = ud.u AND ud.d = e.fd + e.k
        GROUP BY 1),
      base AS (SELECT k, CAST(count(*) AS BIGINT) AS n_elig
        FROM elig GROUP BY 1),
      pts AS (SELECT b.k,
          CAST(floor(ln(CAST(1000000 * coalesce(a.n_active, 0) // b.n_elig
            AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y
        FROM base b LEFT JOIN actv a ON b.k = a.k
        WHERE 1000000 * coalesce(a.n_active, 0) // b.n_elig > 0),
      fit AS (SELECT CAST(count(*) AS BIGINT) AS m,
          CAST(sum(k) AS BIGINT) AS sk, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(k * y) AS BIGINT) AS sky,
          CAST(sum(k * k) AS BIGINT) AS skk
        FROM pts),
      b AS (SELECT m,
          CASE WHEN m * skk - sk * sk = 0 THEN NULL
            ELSE (m * sky - sk * sy) // (m * skk - sk * sk) END
            AS b_microln_per_day
        FROM fit)
      SELECT m AS n_offsets, b_microln_per_day,
        CASE WHEN b_microln_per_day IS NULL OR b_microln_per_day >= 0
          THEN NULL
          ELSE 693147180 // (-b_microln_per_day) END AS half_life_days_milli
      FROM b""")),

    // The classical-statistics layer a curation team
    // runs ON TOP of the per-document signals the battery already
    // computes — rank tests (Mann–Whitney, Kruskal–Wallis), association
    // (Kendall τ-b, Cramér's V), multiplicity control (Benjamini–Hochberg
    // over permutation p-values), cascade-model retrieval eval (ERR), and
    // the Gopher-style document rule battery. House float discipline
    // throughout: every data-scale aggregate is exact integer/DECIMAL;
    // doubles appear only in the FINAL bounded-cardinality expression
    // chain, and any sum of more than two doubles folds a sorted list
    // (Spark `aggregate(array_sort(...))` ↔ DuckDB
    // `list_reduce(list(... ORDER BY ...))`) so both engines add in the
    // same order — the correctness gate compares float reprs exactly.
    // Scale notes sit on each query; shapes are grid/aggregate-bounded
    // (shuffles carry per-value/per-cell counts, never rows) except where
    // a scan-side expansion is the point and dialed (q359's seed fan-out).

    // ----- Gopher-style document rule battery -----------------------------
    // The named per-document quality rules (Rae et al.'s Gopher filter
    // family, re-expressed on this corpus): word-count bounds, mean
    // word length bounds, alphabetic-word fraction, ≥2 distinct
    // stopwords, top-word repetition cap, symbol-to-word cap. q17 is a
    // scalar quality SCORE; this is the production boolean rule
    // battery with per-rule pass accounting, and every rule compares
    // CROSS-MULTIPLIED INTEGERS (e.g. 5·n_alpha ≥ 4·wc) so no float
    // ratio exists anywhere. Shape: one normalize+split scan, one
    // (doc, word)-count shuffle for the repetition rule (bounded by
    // corpus token count, same as q16's), one per-source rollup.
    ("q355_gopher_rules", (s: SparkSession, dir: String) => {
      import s.implicits._
      gopherDoc(s, dir)
        .groupBy($"source").agg(
          count(lit(1)).as("n_docs"),
          sum($"r_wc".cast("long")).as("p_wc"),
          sum($"r_mwl".cast("long")).as("p_mwl"),
          sum($"r_alpha".cast("long")).as("p_alpha"),
          sum($"r_stop".cast("long")).as("p_stop"),
          sum($"r_rep".cast("long")).as("p_rep"),
          sum($"r_sym".cast("long")).as("p_sym"),
          sum(($"r_wc" && $"r_mwl" && $"r_alpha" && $"r_stop" && $"r_rep" &&
            $"r_sym").cast("long")).as("p_all"))
        .orderBy($"source")
    }, Some {
      s"""
      WITH $GopherDocSql
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN r_wc THEN 1 ELSE 0 END) AS BIGINT) AS p_wc,
        CAST(sum(CASE WHEN r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS p_mwl,
        CAST(sum(CASE WHEN r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS p_alpha,
        CAST(sum(CASE WHEN r_stop THEN 1 ELSE 0 END) AS BIGINT) AS p_stop,
        CAST(sum(CASE WHEN r_rep THEN 1 ELSE 0 END) AS BIGINT) AS p_rep,
        CAST(sum(CASE WHEN r_sym THEN 1 ELSE 0 END) AS BIGINT) AS p_sym,
        CAST(sum(CASE WHEN r_wc AND r_mwl AND r_alpha AND r_stop AND r_rep
          AND r_sym THEN 1 ELSE 0 END) AS BIGINT) AS p_all
      FROM f GROUP BY source ORDER BY source"""
    }),

    // ----- Mann–Whitney U (tie-corrected) ---------------------------------
    // Rank-sum drift test between two sources' length distributions.
    // The classical formulation sorts all N values — a global sort.
    // Here ranks come from the VALUE GRID: one count-per-distinct-value
    // aggregate, the two-level GridCumulative running total (bounded
    // per-task state at any grid size), and 2·avg-rank for a tied
    // value as the exact integer 2·(cum−c)+c+1. Everything through
    // 2·U1 and the tie mass Σ(t³−t) is exact DECIMAL; z is one shared
    // double expression. The shuffle carries distinct values, not
    // rows — at 100 TB the grid is domain-bounded (document lengths).
    ("q356_mann_whitney", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.t(s, dir, "documents")
        .filter($"source".isin("src0", "src1"))
        .select($"source", $"n_chars")
      val grid = d.groupBy($"n_chars").agg(
        sum(when($"source" === "src0", 1L).otherwise(0L)).as("c1"),
        sum(when($"source" === "src1", 1L).otherwise(0L)).as("c2"))
        .withColumn("c", $"c1" + $"c2")
      val cum = GridCumulative.withRunningTotal(grid, "n_chars", "c", "cumc")
      cum.agg(
          sum($"c1").as("n1"), sum($"c2").as("n2"),
          sum($"c1".cast("decimal(38,0)") *
            (lit(2) * ($"cumc" - $"c") + $"c" + 1)).as("r1x2"),
          sum($"c".cast("decimal(38,0)") * $"c" * $"c" - $"c").as("tsum"))
        .withColumn("u1x2",
          $"r1x2" - $"n1".cast("decimal(38,0)") * ($"n1" + 1))
        .select($"n1", $"n2", $"u1x2".cast("double").as("u1x2"),
          $"tsum".cast("double").as("tie_mass"),
          expr(MwZSql).as("z"))
    }, Some(s"""
      WITH d AS (SELECT source, n_chars FROM documents
        WHERE source IN ('src0', 'src1')),
      g AS (SELECT n_chars,
          CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
          CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM d GROUP BY 1),
      g2 AS (SELECT *, c1 + c2 AS c,
          sum(c1 + c2) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS cumc
        FROM g),
      a AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
          sum(CAST(c1 AS DECIMAL(38,0)) * (2*(cumc - c) + c + 1)) AS r1x2,
          sum(CAST(c AS DECIMAL(38,0)) * c * c - c) AS tsum
        FROM g2),
      b AS (SELECT n1, n2,
          r1x2 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1) AS u1x2, tsum FROM a)
      SELECT n1, n2, CAST(u1x2 AS DOUBLE) AS u1x2,
        CAST(tsum AS DOUBLE) AS tie_mass,
        $MwZSql AS z
      FROM b""")),

    // ----- Kruskal–Wallis H (tie-corrected) -------------------------------
    // The k-sample generalization over ALL sources. Same grid-rank
    // machinery as q356; per-source rank sums come from one broadcast
    // join of (source, value)-counts against the 2·avg-rank grid. The
    // only float sum — Σ_j (2R_j)²/n_j over k sources — folds a
    // source-sorted list identically in both engines. H is reported
    // raw and tie-adjusted.
    ("q357_kruskal_wallis", (s: SparkSession, dir: String) => {
      import s.implicits._
      val (rj, totals) = sourceRankTables(s, dir)
      val perSrc = rj.withColumn("term",
        expr("CAST(rj2 AS DOUBLE) * CAST(rj2 AS DOUBLE) / CAST(nj AS DOUBLE)"))
      perSrc.agg(
          count(lit(1)).as("k"),
          collect_list(struct($"source", $"term")).as("ts"))
        .crossJoin(broadcast(totals))
        .withColumn("sumterm", expr(
          "aggregate(array_sort(ts), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)"))
        .withColumn("h", expr(
          """3.0 * sumterm / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
             - 3.0 * (CAST(n AS DOUBLE) + 1.0)"""))
        .select($"k", $"n", $"h",
          expr("""h / (1.0 - CAST(tsum AS DOUBLE) /
            (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))""")
            .as("h_tie_adj"))
    }, Some(s"""
      WITH $SourceRankSql,
      tm AS (SELECT source,
          CAST(rj2 AS DOUBLE) * CAST(rj2 AS DOUBLE) / CAST(nj AS DOUBLE) AS term
        FROM rj),
      f AS (SELECT CAST(count(*) AS BIGINT) AS k,
          list_reduce(list(term ORDER BY source), (a, b) -> a + b) AS sumterm
        FROM tm),
      h0 AS (SELECT k, n, tsum,
          3.0 * sumterm / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
            - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h
        FROM f, tot)
      SELECT k, n, h,
        h / (1.0 - CAST(tsum AS DOUBLE) /
          (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*CAST(n AS DOUBLE) - CAST(n AS DOUBLE))) AS h_tie_adj
      FROM h0""")),

    // ----- Kendall τ-b via the contingency grid ---------------------------
    // Rank correlation between two discrete scorers (length bucket vs
    // stopword-density bucket). The textbook form enumerates N² pairs;
    // bucketed scorers reduce it to the B×B contingency grid — one
    // count aggregate, then concordant/discordant mass from the grid's
    // self-join (bounded cells, broadcast). All pair counts are exact
    // DECIMAL; τ-b is one double expression. q244 fits Spearman ρ on
    // the same scorer idea — this is the pair-concordance coefficient
    // with proper tie treatment, the one you quote when scorer scales
    // are ordinal, not interval.
    ("q358_kendall_tau", (s: SparkSession, dir: String) => {
      import s.implicits._
      // fused WordStopStats kernel: one primitive pass for (wc, ns) —
      // no normText string, no regex engine on the corpus-scan path
      // (bit-equality with the regex chain pinned in WordStopStatsSpec)
      val base = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"n_chars",
          graft.functions.WordStopStats($"text", GopherStops).as("st"))
        .select($"n_chars", $"st".getItem(0).as("wc"), $"st".getItem(1).as("ns"))
        .filter($"wc" > 0)
        .select(expr("CAST(n_chars AS BIGINT) * 2 div 100").as("la"),
          expr("10 * ns div wc").as("lb"))
      val grid = base.groupBy($"la", $"lb").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val g2 = grid.select($"la".as("la2"), $"lb".as("lb2"), $"cnt".as("cnt2"))
      val pairs = grid.crossJoin(broadcast(g2)).agg(
        sum(when($"la2" > $"la" && $"lb2" > $"lb",
          $"cnt".cast("decimal(38,0)") * $"cnt2").otherwise(lit(0).cast("decimal(38,0)"))).as("cpairs"),
        sum(when($"la2" > $"la" && $"lb2" < $"lb",
          $"cnt".cast("decimal(38,0)") * $"cnt2").otherwise(lit(0).cast("decimal(38,0)"))).as("dpairs"))
      val rowT = grid.groupBy($"la").agg(sum($"cnt").as("ra"))
        .agg(sum($"ra".cast("decimal(38,0)") * ($"ra" - 1) / 2).as("ties_a"))
      val colT = grid.groupBy($"lb").agg(sum($"cnt").as("rb"))
        .agg(sum($"rb".cast("decimal(38,0)") * ($"rb" - 1) / 2).as("ties_b"))
      val tot = grid.agg(sum($"cnt").as("n"))
        .withColumn("n0",
          $"n".cast("decimal(38,0)") * ($"n" - 1) / 2)
      pairs.crossJoin(broadcast(rowT)).crossJoin(broadcast(colT))
        .crossJoin(broadcast(tot))
        .select($"n",
          $"cpairs".cast("double").as("c_pairs"),
          $"dpairs".cast("double").as("d_pairs"),
          $"ties_a".cast("double").as("t_a"),
          $"ties_b".cast("double").as("t_b"),
          expr("""(CAST(cpairs AS DOUBLE) - CAST(dpairs AS DOUBLE)) /
            sqrt((CAST(n0 AS DOUBLE) - CAST(ties_a AS DOUBLE)) *
                 (CAST(n0 AS DOUBLE) - CAST(ties_b AS DOUBLE)))""").as("tau_b"))
    }, Some {
      val norm = TA.normTextSql
      val inList = GopherStops.map(w => s"'$w'").mkString(", ")
      s"""
      WITH b AS (SELECT doc_id, n_chars, $norm AS nt FROM documents),
      b2 AS (SELECT doc_id, n_chars, string_split(nt, ' ') AS a,
          CAST(CASE WHEN nt = '' THEN 0 ELSE len(string_split(nt, ' ')) END AS BIGINT) AS wc
        FROM b),
      b3 AS (SELECT
          CAST(CAST(n_chars AS BIGINT) * 2 // 100 AS BIGINT) AS la,
          CAST(10 * CAST(len(list_filter(a, w -> w IN ($inList))) AS BIGINT) // wc AS BIGINT) AS lb
        FROM b2 WHERE wc > 0),
      g AS (SELECT la, lb, CAST(count(*) AS BIGINT) AS cnt FROM b3 GROUP BY 1, 2),
      p AS (SELECT
          sum(CASE WHEN g2.la > g.la AND g2.lb > g.lb
            THEN CAST(g.cnt AS DECIMAL(38,0)) * g2.cnt ELSE CAST(0 AS DECIMAL(38,0)) END) AS cpairs,
          sum(CASE WHEN g2.la > g.la AND g2.lb < g.lb
            THEN CAST(g.cnt AS DECIMAL(38,0)) * g2.cnt ELSE CAST(0 AS DECIMAL(38,0)) END) AS dpairs
        FROM g, g AS g2),
      ta AS (SELECT sum(CAST(ra AS DECIMAL(38,0)) * (ra - 1) / 2) AS ties_a
        FROM (SELECT la, CAST(sum(cnt) AS BIGINT) AS ra FROM g GROUP BY 1)),
      tb AS (SELECT sum(CAST(rb AS DECIMAL(38,0)) * (rb - 1) / 2) AS ties_b
        FROM (SELECT lb, CAST(sum(cnt) AS BIGINT) AS rb FROM g GROUP BY 1)),
      tn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
          CAST(sum(cnt) AS DECIMAL(38,0)) * (sum(cnt) - 1) / 2 AS n0 FROM g)
      SELECT n, CAST(cpairs AS DOUBLE) AS c_pairs, CAST(dpairs AS DOUBLE) AS d_pairs,
        CAST(ties_a AS DOUBLE) AS t_a, CAST(ties_b AS DOUBLE) AS t_b,
        (CAST(cpairs AS DOUBLE) - CAST(dpairs AS DOUBLE)) /
          sqrt((CAST(n0 AS DOUBLE) - CAST(ties_a AS DOUBLE)) *
               (CAST(n0 AS DOUBLE) - CAST(ties_b AS DOUBLE))) AS tau_b
      FROM p, ta, tb, tn"""
    }),

    // ----- Benjamini–Hochberg over permutation p-values -------------------
    // Multiplicity-controlled per-source mean-length drift screen: the
    // missing step between q320's per-cell rate audits and a defensible
    // "which sources actually shifted" claim at 20 simultaneous tests.
    // p-values are EXACT permutation ranks — no normal approximation,
    // no erf: for each of FdrSeeds hash-derived re-labelings the cell
    // stat |mean_cell − mean_all| is recomputed and p = (1 + #{perm ≥
    // obs}) / (S+1), all integer counting over deterministic doubles.
    // Shape: the scan fans out S× (a dial) but map-side combine
    // reduces to S × cells partial sums before the shuffle; BH's
    // step-up runs on the m=20-row table. The md5-prefix relabeling is
    // the engine-portable hash both q110 and q352 validated.
    ("q359_bh_fdr", (s: SparkSession, dir: String) => {
      import s.implicits._
      val wRank = Window.partitionBy(lit(0)).orderBy($"p", $"source")
      val wAll = Window.partitionBy(lit(0))
      fdrPvals(s, dir)
        .withColumn("krank", row_number().over(wRank).cast("long"))
        .withColumn("m", count(lit(1)).over(wAll))
        .withColumn("pass",
          expr("CASE WHEN p <= CAST(krank AS DOUBLE) * 0.1 / CAST(m AS DOUBLE) THEN krank ELSE CAST(0 AS BIGINT) END"))
        .withColumn("kmax", max($"pass").over(wAll))
        .select($"source", $"nx".as("n_docs"), $"t_obs", $"p", $"krank",
          ($"krank" <= $"kmax").as("rejected"))
        .orderBy($"source")
    }, Some(s"""
      WITH $FdrPvalSql,
      rk AS (SELECT *,
          CAST(row_number() OVER (ORDER BY p, source) AS BIGINT) AS krank,
          CAST(count(*) OVER () AS BIGINT) AS m
        FROM pv),
      km AS (SELECT *, max(CASE WHEN p <= CAST(krank AS DOUBLE) * 0.1 / CAST(m AS DOUBLE)
            THEN krank ELSE CAST(0 AS BIGINT) END) OVER () AS kmax
        FROM rk)
      SELECT source, nx AS n_docs, t_obs, p, krank, (krank <= kmax) AS rejected
      FROM km ORDER BY source""")),

    // Robust-trend, agreement, association, and the
    // heteroscedastic k-sample mean test — plus the squared-scatter
    // Davies–Bouldin clustering validity index over the quantized
    // embedding space. Same float discipline as q356–q360: exact
    // integer/DECIMAL aggregates at data scale, doubles only in final
    // bounded-cardinality expression chains, multi-term float sums always
    // folded over an explicitly sorted list so both engines add in the
    // same order.

    // ----- Theil–Sen robust slope -----------------------------------------
    // Median-of-pairwise-slopes trend estimate of the daily event
    // volume — the robust partner to q295's Mann–Kendall trend TEST
    // (q295 answers "is there a monotone trend", this answers "how
    // steep", both immune to outlier days). Pairs enumerate the DAY
    // GRID, not events: one count-per-day aggregate, then a broadcast
    // grid self-join (G·(G−1)/2 slope rows for G days — bounded by the
    // calendar, not the data). Median = the explicit middle elements
    // of the sorted slope multiset (average of two middles when even —
    // a 2-term float sum, which IEEE addition makes order-proof), same
    // again for the per-day intercepts y − slope·x. The slope window
    // runs single-task over the bounded grid by construction
    // (partitionBy(lit(0)) states the intent, as GridCumulative does).
    ("q361_theilsen_slope", (s: SparkSession, dir: String) => {
      import s.implicits._
      val daily = Tables.t(s, dir, "events")
        .groupBy(to_date($"ts").as("d")).agg(count(lit(1)).as("y"))
        .withColumn("x", datediff($"d", lit("1970-01-01")).cast("long"))
        .select($"x", $"y").localCheckpoint()
      val d2 = daily.select($"x".as("x2"), $"y".as("y2"))
      val slopes = daily.crossJoin(broadcast(d2)).filter($"x2" > $"x")
        .select((($"y2" - $"y").cast("double") /
          ($"x2" - $"x").cast("double")).as("sl"))
      def medianOf(df: DataFrame, c: String): DataFrame = {
        val w = Window.partitionBy(lit(0)).orderBy(col(c))
        val m = df.agg(count(lit(1)).as("m"))
        df.withColumn("rn", row_number().over(w).cast("long"))
          .crossJoin(broadcast(m))
          .filter($"rn" === expr("(m + 1) div 2") ||
            $"rn" === expr("(m + 2) div 2"))
          .agg(avg(col(c)).as(s"${c}_med"), first($"m").as(s"${c}_n"))
      }
      val sm = medianOf(slopes, "sl")
      val betas = daily.crossJoin(broadcast(sm))
        .select(($"y".cast("double") - $"sl_med" * $"x".cast("double"))
          .as("b"))
      medianOf(betas, "b").crossJoin(broadcast(sm))
        .select($"sl_n".as("n_pairs"), $"sl_med".as("slope_med"),
          $"b_med".as("intercept_med"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1),
      dx AS (SELECT CAST(d - DATE '1970-01-01' AS BIGINT) AS x, y FROM daily),
      sl AS (SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS sl
        FROM dx a, dx b WHERE b.x > a.x),
      sr AS (SELECT sl, CAST(row_number() OVER (ORDER BY sl) AS BIGINT) AS rn,
          CAST(count(*) OVER () AS BIGINT) AS m FROM sl),
      sm AS (SELECT avg(sl) AS sl_med, first(m) AS n_pairs FROM sr
        WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2),
      bt AS (SELECT CAST(y AS DOUBLE) - sl_med * CAST(x AS DOUBLE) AS b
        FROM dx, sm),
      br AS (SELECT b, CAST(row_number() OVER (ORDER BY b) AS BIGINT) AS rn,
          CAST(count(*) OVER () AS BIGINT) AS m FROM bt),
      bm AS (SELECT avg(b) AS b_med FROM br
        WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2)
      SELECT n_pairs, sl_med AS slope_med, b_med AS intercept_med
      FROM sm, bm""")),

    // ----- Fleiss κ (multi-rater agreement) -------------------------------
    // Chance-corrected agreement among 5 deterministic "raters" (each
    // applies a different length threshold 150+10r to call a doc
    // long), the multi-rater generalization of q253's two-rater Cohen
    // κ. Because the raters are threshold functions, the per-doc
    // "raters saying long" count x is just how many thresholds the doc
    // clears — one map-only pass, three integer sums, and the shared
    // Fleiss expression chain (StatTestQueries.FleissSql) on both
    // engines. Nothing here shuffles more than one row.
    ("q362_fleiss_kappa", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.t(s, dir, "documents").select($"n_chars")
        .withColumn("x", (0 to 4)
          .map(r => ($"n_chars" >= 150 + 10 * r).cast("long")).reduce(_ + _))
      val agg = d.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"x" * $"x" + (lit(5L) - $"x") * (lit(5L) - $"x")).as("spp"))
      agg.select($"n" +: FleissSql.map(expr): _*)
    }, Some(s"""
      WITH d AS (SELECT (CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END
          + CASE WHEN n_chars >= 160 THEN 1 ELSE 0 END
          + CASE WHEN n_chars >= 170 THEN 1 ELSE 0 END
          + CASE WHEN n_chars >= 180 THEN 1 ELSE 0 END
          + CASE WHEN n_chars >= 190 THEN 1 ELSE 0 END) AS x
        FROM documents),
      a AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
          CAST(sum(x*x + (5 - x)*(5 - x)) AS BIGINT) AS spp FROM d)
      SELECT n, ${FleissSql.mkString(",\n        ")}
      FROM a""")),

    // ----- Cramér's V (lang × source association) -------------------------
    // Effect-size partner to q235's mutual information on the same
    // metadata pair: χ² over the FULL r×c contingency grid (including
    // empty cells, which still carry their expected mass) and
    // V = sqrt(χ² / (N·min(r−1, c−1))). The grid is the complete
    // row-total × col-total cross join (bounded: langs × sources) left
    // joined against observed counts; every χ² term is one double
    // expression over integer aggregates, and the cell sum folds in
    // (lang, source) order on both engines.
    ("q363_cramers_v", (s: SparkSession, dir: String) => {
      import s.implicits._
      val ct = Tables.t(s, dir, "documents")
        .groupBy($"lang", $"source").agg(count(lit(1)).as("o"))
        .localCheckpoint()
      val rowt = ct.groupBy($"lang").agg(sum($"o").as("rt"))
      val colt = ct.groupBy($"source").agg(sum($"o").as("ctt"))
      val tot = ct.agg(sum($"o").as("n"),
        countDistinct($"lang").as("r"), countDistinct($"source").as("c"))
      val full = rowt.crossJoin(colt)
        .join(ct, Seq("lang", "source"), "left")
        .withColumn("o", coalesce($"o", lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("term", expr(
          """(CAST(o AS DOUBLE)*CAST(n AS DOUBLE) - CAST(rt AS DOUBLE)*CAST(ctt AS DOUBLE))
             * (CAST(o AS DOUBLE)*CAST(n AS DOUBLE) - CAST(rt AS DOUBLE)*CAST(ctt AS DOUBLE))
             / (CAST(rt AS DOUBLE)*CAST(ctt AS DOUBLE)*CAST(n AS DOUBLE))"""))
      full.groupBy($"n", $"r", $"c")
        .agg(collect_list(struct($"lang", $"source", $"term")).as("ts"))
        .withColumn("chi2", expr(
          "aggregate(array_sort(ts), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)"))
        .select($"n", (($"r" - 1) * ($"c" - 1)).as("dof"), $"chi2",
          expr("""sqrt(chi2 / (CAST(n AS DOUBLE) *
            CAST(least(r - 1, c - 1) AS DOUBLE)))""").as("v"))
    }, Some("""
      WITH ct AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
        FROM documents GROUP BY 1, 2),
      rowt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rt FROM ct GROUP BY 1),
      colt AS (SELECT source, CAST(sum(o) AS BIGINT) AS ctt FROM ct GROUP BY 1),
      tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
          CAST(count(DISTINCT lang) AS BIGINT) AS r,
          CAST(count(DISTINCT source) AS BIGINT) AS c FROM ct),
      fl AS (SELECT rowt.lang, colt.source, rt, ctt,
          COALESCE(ct.o, 0) AS o
        FROM rowt CROSS JOIN colt
        LEFT JOIN ct ON ct.lang = rowt.lang AND ct.source = colt.source),
      tm AS (SELECT lang, source,
          (CAST(o AS DOUBLE)*CAST(n AS DOUBLE) - CAST(rt AS DOUBLE)*CAST(ctt AS DOUBLE))
            * (CAST(o AS DOUBLE)*CAST(n AS DOUBLE) - CAST(rt AS DOUBLE)*CAST(ctt AS DOUBLE))
            / (CAST(rt AS DOUBLE)*CAST(ctt AS DOUBLE)*CAST(n AS DOUBLE)) AS term
        FROM fl, tot),
      f AS (SELECT list_reduce(list(term ORDER BY lang, source),
          (a, b) -> a + b) AS chi2 FROM tm)
      SELECT n, (r - 1) * (c - 1) AS dof, chi2,
        sqrt(chi2 / (CAST(n AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE))) AS v
      FROM f, tot""")),

    // ----- Welch's heteroscedastic one-way ANOVA --------------------------
    // Does mean document length differ across the 20 sources WITHOUT
    // assuming equal variances — the k-sample Welch F* with
    // Satterthwaite-style df2. q224 is the two-proportion A/B z-test
    // and q338 trims a single mean; this is the unequal-variance
    // k-group mean comparison. Per-group n, Σx, Σx² are exact (Σx² in
    // DECIMAL — long would wrap at petabyte row counts); the three
    // k-term float reductions (ΣW and Σwm, then the numerator and df
    // sums, which need the weighted grand mean first) fold
    // source-sorted lists on both engines.
    ("q364_welch_anova", (s: SparkSession, dir: String) => {
      import s.implicits._
      val g = Tables.t(s, dir, "documents")
        .groupBy($"source").agg(
          count(lit(1)).as("nj"), sum($"n_chars").as("sx"),
          sum($"n_chars".cast("decimal(38,0)") * $"n_chars").as("sxx"))
        .withColumn("mj", expr("CAST(sx AS DOUBLE) / CAST(nj AS DOUBLE)"))
        .withColumn("s2j", expr(
          """(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)/CAST(nj AS DOUBLE))
             / (CAST(nj AS DOUBLE) - 1.0)"""))
        .withColumn("wj", expr("CAST(nj AS DOUBLE) / s2j"))
        .withColumn("wmj", expr("wj * mj"))
      val st1 = g.agg(count(lit(1)).as("k"),
          collect_list(struct($"source", $"wj", $"wmj")).as("ts"))
        .withColumn("bigw", expr(
          "aggregate(array_sort(ts), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.wj)"))
        .withColumn("mw", expr(
          "aggregate(array_sort(ts), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.wmj) / bigw"))
        .select($"k", $"bigw", $"mw")
      val terms = g.crossJoin(broadcast(st1))
        .withColumn("aj", expr("wj * (mj - mw) * (mj - mw)"))
        .withColumn("bj", expr(
          """(1.0 - wj/bigw) * (1.0 - wj/bigw) / (CAST(nj AS DOUBLE) - 1.0)"""))
      terms.groupBy($"k")
        .agg(collect_list(struct($"source", $"aj", $"bj")).as("ts"))
        .withColumn("suma", expr(
          "aggregate(array_sort(ts), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.aj)"))
        .withColumn("sumb", expr(
          "aggregate(array_sort(ts), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.bj)"))
        .select($"k",
          expr("""(suma / (CAST(k AS DOUBLE) - 1.0)) /
            (1.0 + 2.0 * (CAST(k AS DOUBLE) - 2.0) /
             (CAST(k AS DOUBLE)*CAST(k AS DOUBLE) - 1.0) * sumb)""").as("f_welch"),
          ($"k" - 1).as("df1"),
          expr("""(CAST(k AS DOUBLE)*CAST(k AS DOUBLE) - 1.0) / (3.0 * sumb)""")
            .as("df2"))
    }, Some("""
      WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS nj,
          CAST(sum(n_chars) AS BIGINT) AS sx,
          sum(CAST(n_chars AS DECIMAL(38,0)) * n_chars) AS sxx
        FROM documents GROUP BY 1),
      g2 AS (SELECT source, nj,
          CAST(sx AS DOUBLE) / CAST(nj AS DOUBLE) AS mj,
          (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)/CAST(nj AS DOUBLE))
            / (CAST(nj AS DOUBLE) - 1.0) AS s2j
        FROM g),
      g3 AS (SELECT source, nj, mj, CAST(nj AS DOUBLE) / s2j AS wj FROM g2),
      st1 AS (SELECT CAST(count(*) AS BIGINT) AS k,
          list_reduce(list(wj ORDER BY source), (a, b) -> a + b) AS bigw,
          list_reduce(list(wj * mj ORDER BY source), (a, b) -> a + b) AS swm
        FROM g3),
      st2 AS (SELECT k, bigw, swm / bigw AS mw FROM st1),
      tm AS (SELECT source, wj * (mj - mw) * (mj - mw) AS aj,
          (1.0 - wj/bigw) * (1.0 - wj/bigw) / (CAST(nj AS DOUBLE) - 1.0) AS bj
        FROM g3, st2),
      f AS (SELECT
          list_reduce(list(aj ORDER BY source), (a, b) -> a + b) AS suma,
          list_reduce(list(bj ORDER BY source), (a, b) -> a + b) AS sumb
        FROM tm)
      SELECT k,
        (suma / (CAST(k AS DOUBLE) - 1.0)) /
          (1.0 + 2.0 * (CAST(k AS DOUBLE) - 2.0) /
           (CAST(k AS DOUBLE)*CAST(k AS DOUBLE) - 1.0) * sumb) AS f_welch,
        k - 1 AS df1,
        (CAST(k AS DOUBLE)*CAST(k AS DOUBLE) - 1.0) / (3.0 * sumb) AS df2
      FROM f, st2""")),

    // ----- Davies–Bouldin index (squared-scatter form) --------------------
    // Clustering validity over the labeled embedding space: for each
    // cluster the mean SQUARED distance to its centroid (S²), for each
    // pair the squared centroid distance (M²), DB* = mean over
    // clusters of max_j (S²_i + S²_j)/M²_ij. The squared form is
    // chosen deliberately: S² = (ΣΣv² − Σ_d (Σ_d v)²/n)/n needs no
    // per-point sqrt, so the whole index derives from per-(label, dim)
    // integer sums over the q130-style ×10⁴-quantized grid — one
    // aggregate pass over points, then label-pair math on a k×d table.
    // Complements q130 (cohesion) / q131 (separation): DB* is the
    // RATIO index that trades them off per worst-case neighbor. All
    // dim sums fold in dim order; pair maxima and the final k-term
    // mean fold over sorted bounded lists.
    ("q365_davies_bouldin", (s: SparkSession, dir: String) => {
      import s.implicits._
      val e = Tables.spread(Tables.t(s, dir, "embeddings"))
        .select($"label", posexplode($"embedding").as(Seq("j0", "x")))
        .select($"label", ($"j0" + 1).as("j"),
          round($"x".cast("double") * 10000).cast("long").as("v"))
      val perLJ = e.groupBy($"label", $"j").agg(
        sum($"v").as("sx"),
        sum($"v".cast("decimal(38,0)") * $"v").as("sxx"),
        count(lit(1)).as("nl")).localCheckpoint()
      val s2 = perLJ.groupBy($"label", $"nl")
        .agg(collect_list(struct($"j", $"sx", $"sxx")).as("ds"))
        .withColumn("s2", expr(
          """aggregate(array_sort(ds), CAST(0.0 AS DOUBLE), (acc, x) ->
               acc + (CAST(x.sxx AS DOUBLE)
                 - CAST(x.sx AS DOUBLE)*CAST(x.sx AS DOUBLE)/CAST(nl AS DOUBLE)))
             / CAST(nl AS DOUBLE)"""))
        .select($"label", $"nl", $"s2")
      val a = perLJ.select($"label".as("li"), $"j", $"sx".as("sxi"), $"nl".as("ni"))
      val b = perLJ.select($"label".as("lj"), $"j", $"sx".as("sxj"), $"nl".as("nj2"))
      val m2 = a.join(b, Seq("j")).filter($"li" < $"lj")
        .withColumn("dterm", expr(
          """(CAST(sxi AS DOUBLE)/CAST(ni AS DOUBLE) - CAST(sxj AS DOUBLE)/CAST(nj2 AS DOUBLE))
             * (CAST(sxi AS DOUBLE)/CAST(ni AS DOUBLE) - CAST(sxj AS DOUBLE)/CAST(nj2 AS DOUBLE))"""))
        .groupBy($"li", $"lj")
        .agg(collect_list(struct($"j", $"dterm")).as("ds"))
        .withColumn("m2", expr(
          "aggregate(array_sort(ds), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.dterm)"))
        .select($"li", $"lj", $"m2")
      val sI = s2.select($"label".as("li"), $"s2".as("s2i"))
      val sJ = s2.select($"label".as("lj"), $"s2".as("s2j"))
      val r = m2.join(broadcast(sI), Seq("li")).join(broadcast(sJ), Seq("lj"))
        .withColumn("rij", expr("(s2i + s2j) / m2"))
      val sym = r.select($"li".as("l"), $"rij")
        .union(r.select($"lj".as("l"), $"rij"))
      val perL = sym.groupBy($"l").agg(max($"rij").as("rmax"))
      perL.agg(count(lit(1)).as("k"),
          collect_list(struct($"l", $"rmax")).as("ts"))
        .select($"k", expr(
          """aggregate(array_sort(ts), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.rmax)
             / CAST(k AS DOUBLE)""").as("db_sq"))
    }, Some("""
      WITH e AS (SELECT label, CAST(j AS BIGINT) AS j,
          CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) AS v
        FROM (SELECT label, unnest(embedding) AS x,
          generate_subscripts(embedding, 1) AS j FROM embeddings)),
      plj AS (SELECT label, j, CAST(sum(v) AS BIGINT) AS sx,
          sum(CAST(v AS DECIMAL(38,0)) * v) AS sxx,
          CAST(count(*) AS BIGINT) AS nl
        FROM e GROUP BY 1, 2),
      s2 AS (SELECT label, nl,
          list_reduce(list(CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)/CAST(nl AS DOUBLE)
            ORDER BY j), (a, b) -> a + b) / CAST(nl AS DOUBLE) AS s2
        FROM plj GROUP BY label, nl),
      pr AS (SELECT a.label AS li, b.label AS lj, a.j,
          (CAST(a.sx AS DOUBLE)/CAST(a.nl AS DOUBLE) - CAST(b.sx AS DOUBLE)/CAST(b.nl AS DOUBLE))
            * (CAST(a.sx AS DOUBLE)/CAST(a.nl AS DOUBLE) - CAST(b.sx AS DOUBLE)/CAST(b.nl AS DOUBLE)) AS dterm
        FROM plj a JOIN plj b USING (j) WHERE a.label < b.label),
      m2 AS (SELECT li, lj,
          list_reduce(list(dterm ORDER BY j), (a, b) -> a + b) AS m2
        FROM pr GROUP BY 1, 2),
      r AS (SELECT li, lj, (si.s2 + sj.s2) / m2.m2 AS rij
        FROM m2 JOIN s2 si ON si.label = m2.li JOIN s2 sj ON sj.label = m2.lj),
      sym AS (SELECT li AS l, rij FROM r UNION ALL SELECT lj AS l, rij FROM r),
      pl AS (SELECT l, max(rij) AS rmax FROM sym GROUP BY 1),
      f AS (SELECT CAST(count(*) AS BIGINT) AS k,
          list_reduce(list(rmax ORDER BY l), (a, b) -> a + b) AS s FROM pl)
      SELECT k, s / CAST(k AS DOUBLE) AS db_sq FROM f""")),

    // The COMPOSED statistics layer — each operator
    // builds on machinery another battery query already ships (and the
    // Spark helper + oracle CTE are literally shared constants, the
    // q321-AaCap / q300-AriExprSql discipline): Dunn's post-hoc on
    // q357's rank grid, Friedman/Kendall-W on weekday blocks, the
    // Ljung–Box portmanteau over q287's centered-integer ACF trick,
    // Brown–Forsythe variance equality from per-source value grids,
    // McNemar's paired-gate test, and Cochran's Q over q355's rule
    // battery. Float discipline unchanged: integer/DECIMAL to the end,
    // then one deterministic double chain (Friedman and Cochran reduce
    // to a SINGLE integer division).

    // ----- Dunn's post-hoc pairwise rank tests ----------------------------
    // q357 says "SOME source differs"; Dunn answers WHICH pairs, from
    // the SAME shared rank tables (StatTestQueries.sourceRankTables /
    // SourceRankSql — zero recomputation drift possible): z_ij =
    // (R̄_i − R̄_j) / sqrt((N(N+1)/12 − T/(12(N−1)))·(1/n_i + 1/n_j)),
    // flagged at the precomputed Bonferroni z* for the 190-pair
    // family. The pair space is the 20-row per-source table's
    // broadcast self-join — nothing data-scale moves.
    ("q366_dunn_posthoc", (s: SparkSession, dir: String) => {
      import s.implicits._
      val (rj, totals) = sourceRankTables(s, dir)
      val a = rj.select($"source".as("src_a"), $"nj".as("na"), $"rj2".as("ra2"))
      val b = rj.select($"source".as("src_b"), $"nj".as("nb"), $"rj2".as("rb2"))
      a.crossJoin(broadcast(b)).filter($"src_a" < $"src_b")
        .crossJoin(broadcast(totals))
        .withColumn("z", expr(
          """(CAST(ra2 AS DOUBLE)/(2.0*CAST(na AS DOUBLE)) - CAST(rb2 AS DOUBLE)/(2.0*CAST(nb AS DOUBLE)))
             / sqrt((CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)+1.0)/12.0
                     - CAST(tsum AS DOUBLE)/(12.0*(CAST(n AS DOUBLE)-1.0)))
                    * (1.0/CAST(na AS DOUBLE) + 1.0/CAST(nb AS DOUBLE)))"""))
        .select($"src_a", $"src_b", $"z",
          (abs($"z") >= expr(DunnZCrit)).as("significant"))
        .orderBy($"src_a", $"src_b")
    }, Some(s"""
      WITH ${SourceRankSql},
      p AS (SELECT a.source AS src_a, b.source AS src_b,
          a.nj AS na, a.rj2 AS ra2, b.nj AS nb, b.rj2 AS rb2
        FROM rj a, rj b WHERE a.source < b.source)
      SELECT src_a, src_b,
        (CAST(ra2 AS DOUBLE)/(2.0*CAST(na AS DOUBLE)) - CAST(rb2 AS DOUBLE)/(2.0*CAST(nb AS DOUBLE)))
          / sqrt((CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)+1.0)/12.0
                  - CAST(tsum AS DOUBLE)/(12.0*(CAST(n AS DOUBLE)-1.0)))
                 * (1.0/CAST(na AS DOUBLE) + 1.0/CAST(nb AS DOUBLE))) AS z,
        (abs((CAST(ra2 AS DOUBLE)/(2.0*CAST(na AS DOUBLE)) - CAST(rb2 AS DOUBLE)/(2.0*CAST(nb AS DOUBLE)))
          / sqrt((CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)+1.0)/12.0
                  - CAST(tsum AS DOUBLE)/(12.0*(CAST(n AS DOUBLE)-1.0)))
                 * (1.0/CAST(na AS DOUBLE) + 1.0/CAST(nb AS DOUBLE)))) >= $DunnZCrit)
          AS significant
      FROM p, tot ORDER BY src_a, src_b""")),

    // ----- Friedman test + Kendall's W over weekday blocks ----------------
    // Is daily event volume exchangeable across weekdays, treating
    // each complete Monday-aligned week as a block? Tie-corrected
    // Friedman over within-block average ranks, which with 2·rank
    // integers collapses to a SINGLE integer division: χ² =
    // 6·Σ_j(R2_j − 8b)² / (A4 − 448·b) for k = 7 (A4 = Σ(2r)², C4 =
    // b·k·(k+1)² = 448b), plus Kendall's W = χ²/(b(k−1)). Blocks rank
    // only 7 values each (window partitioned by week); incomplete
    // weeks are dropped, so k is constant by construction. Calendar
    // math is pure epoch-day integer arithmetic (epd−4 aligns Monday),
    // identical text both engines.
    ("q367_friedman_weekday", (s: SparkSession, dir: String) => {
      import s.implicits._
      val daily = Tables.t(s, dir, "events")
        .select(datediff(to_date($"ts"), lit("1970-01-01")).cast("long").as("epd"))
        .groupBy($"epd").agg(count(lit(1)).as("y"))
        .withColumn("wk", expr("(epd - 4) div 7"))
        .withColumn("dow", expr("(epd - 4) % 7"))
      val complete = daily.groupBy($"wk").agg(count(lit(1)).as("ndays"))
        .filter($"ndays" === 7).select($"wk")
      val ranked = daily.join(broadcast(complete), Seq("wk"))
        .withColumn("rnk", rank().over(
          Window.partitionBy($"wk").orderBy($"y")))
        .withColumn("ceq", count(lit(1)).over(
          Window.partitionBy($"wk", $"y")))
        .withColumn("r2", lit(2) * ($"rnk" - 1) + $"ceq" + 1)
      val perDow = ranked.groupBy($"dow").agg(sum($"r2").as("rsum2"))
      val scal = ranked.agg(
        (count(lit(1)) / 7).cast("long").as("b"),
        sum($"r2" * $"r2").as("a4"))
      perDow.crossJoin(broadcast(scal))
        .withColumn("dev", $"rsum2" - lit(8) * $"b")
        .agg(first($"b").as("b"), first($"a4").as("a4"),
          sum($"dev" * $"dev").as("ssq"))
        .select($"b", lit(7L).as("k"),
          expr("""CASE WHEN a4 - 448 * b = 0 THEN NULL
            ELSE CAST(6 * ssq AS DOUBLE) / CAST(a4 - 448 * b AS DOUBLE) END""")
            .as("chi2_f"))
        .withColumn("w_kendall",
          expr("chi2_f / (CAST(b AS DOUBLE) * 6.0)"))
    }, Some("""
      WITH daily AS (SELECT
          CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS epd,
          CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1),
      d2 AS (SELECT epd, y, (epd - 4) // 7 AS wk, (epd - 4) % 7 AS dow
        FROM daily),
      complete AS (SELECT wk FROM d2 GROUP BY wk HAVING count(*) = 7),
      rk AS (SELECT d2.*,
          CAST(rank() OVER (PARTITION BY d2.wk ORDER BY y) AS BIGINT) AS rnk,
          CAST(count(*) OVER (PARTITION BY d2.wk, y) AS BIGINT) AS ceq
        FROM d2 JOIN complete USING (wk)),
      r2t AS (SELECT wk, dow, 2*(rnk - 1) + ceq + 1 AS r2 FROM rk),
      pd AS (SELECT dow, CAST(sum(r2) AS BIGINT) AS rsum2 FROM r2t GROUP BY 1),
      sc AS (SELECT CAST(count(*) // 7 AS BIGINT) AS b,
          CAST(sum(r2 * r2) AS BIGINT) AS a4 FROM r2t),
      dv AS (SELECT b, a4,
          CAST(sum((rsum2 - 8*b) * (rsum2 - 8*b)) AS BIGINT) AS ssq
        FROM pd, sc GROUP BY b, a4),
      res AS (SELECT b, CAST(7 AS BIGINT) AS k,
          CASE WHEN a4 - 448 * b = 0 THEN NULL
            ELSE CAST(6 * ssq AS DOUBLE) / CAST(a4 - 448 * b AS DOUBLE) END AS chi2_f
        FROM dv)
      SELECT b, k, chi2_f,
        chi2_f / (CAST(b AS DOUBLE) * 6.0) AS w_kendall
      FROM res""")),

    // ----- Ljung–Box portmanteau test -------------------------------------
    // "Is the daily count series white noise" over the first 7
    // autocorrelation lags — the TEST on top of q287's ACF (q287
    // reports the function; this aggregates it into the portmanteau
    // statistic Q = n(n+2)·Σ ρ_k²/(n−k)). Same exact-integer
    // centering trick: c_t = n·y_t − S makes every ρ numerator and
    // the denominator an exact DECIMAL, so the only floats are 7
    // ρ-divisions and the lag-sorted fold. Day-grid scale throughout
    // after the one count aggregate.
    ("q368_ljung_box", (s: SparkSession, dir: String) => {
      import s.implicits._
      val daily = Tables.t(s, dir, "events")
        .select(datediff(to_date($"ts"), lit("1970-01-01")).cast("long").as("epd"))
        .groupBy($"epd").agg(count(lit(1)).as("y"))
        .localCheckpoint()
      val m = daily.agg(count(lit(1)).as("n"), sum($"y").as("sv"))
      val centered = daily.crossJoin(broadcast(m))
        .select($"epd", ($"n" * $"y" - $"sv").as("c"), $"n")
        .localCheckpoint()
      val den = centered.agg(first($"n").as("n"),
        sum($"c".cast("decimal(38,0)") * $"c").as("den"))
      val lags = (1L to 7L).map(l => Tuple1(l)).toDF("lag")
      val nums = centered.select($"epd", $"c".as("c1"))
        .crossJoin(broadcast(lags))
        .withColumn("tgt", $"epd" + $"lag")
        .join(centered.select($"epd".as("tgt"), $"c".as("c2")), Seq("tgt"))
        .groupBy($"lag")
        .agg(sum($"c1".cast("decimal(38,0)") * $"c2").as("num"))
        .crossJoin(broadcast(den))
        .withColumn("term", expr(
          """(CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
             * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
             / (CAST(n AS DOUBLE) - CAST(lag AS DOUBLE))"""))
      nums.groupBy($"n")
        .agg(count(lit(1)).as("m_lags"),
          collect_list(struct($"lag", $"term")).as("ts"))
        .withColumn("q_lb", expr(
          """CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) *
             aggregate(array_sort(ts), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)"""))
        .select($"n", $"m_lags", $"q_lb")
    }, Some("""
      WITH daily AS (SELECT
          CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS epd,
          CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sv
        FROM daily),
      ct AS (SELECT epd, n * y - sv AS c FROM daily, m),
      den AS (SELECT sum(CAST(c AS DECIMAL(38,0)) * c) AS den FROM ct),
      nums AS (SELECT lag, sum(CAST(a.c AS DECIMAL(38,0)) * b.c) AS num
        FROM ct a, range(1, 8) t(lag), ct b
        WHERE b.epd = a.epd + t.lag GROUP BY lag),
      tm AS (SELECT lag,
          (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
            * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
            / (CAST(n AS DOUBLE) - CAST(lag AS DOUBLE)) AS term
        FROM nums, den, m),
      f AS (SELECT CAST(count(*) AS BIGINT) AS m_lags,
          list_reduce(list(term ORDER BY lag), (a, b) -> a + b) AS s FROM tm)
      SELECT n, m_lags,
        CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * s AS q_lb
      FROM f, m""")),

    // ----- Brown–Forsythe variance-equality test --------------------------
    // The assumption-checker q364's Welch ANOVA dodges: are the
    // per-source length variances even equal? Levene's test with
    // MEDIAN centers (the robust Brown–Forsythe form), computed
    // entirely on the per-source value grid: the median order
    // statistics come from the grid's per-source cumulative (window
    // partitioned BY SOURCE — parallel, bounded by the value domain),
    // and the absolute deviations never materialize per row: Σ|2v−m2|
    // and Σ(2v−m2)² fold the GRID counts. 2·median keeps everything
    // integer (odd/even groups alike); the ANOVA-on-deviations F is
    // scale-invariant so the factor 2 cancels.
    ("q369_brown_forsythe", (s: SparkSession, dir: String) => {
      import s.implicits._
      val grid = Tables.t(s, dir, "documents")
        .groupBy($"source", $"n_chars").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum($"c").over(
          Window.partitionBy($"source").orderBy($"n_chars")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .localCheckpoint()
      val nj = grid.groupBy($"source").agg(sum($"c").as("nj"))
      val wMed = grid.join(broadcast(nj), Seq("source"))
        .withColumn("lo", expr("(nj + 1) div 2"))
        .withColumn("hi", expr("(nj + 2) div 2"))
      val med2 = wMed.groupBy($"source").agg(
        sum(when($"cum" >= $"lo" && $"cum" - $"c" < $"lo",
          $"n_chars").otherwise(0L)).as("vlo"),
        sum(when($"cum" >= $"hi" && $"cum" - $"c" < $"hi",
          $"n_chars").otherwise(0L)).as("vhi"))
        .select($"source", ($"vlo" + $"vhi").as("m2"))
      val devs = grid.join(broadcast(med2), Seq("source"))
        .withColumn("z2", abs(lit(2) * $"n_chars" - $"m2"))
        .groupBy($"source").agg(
          sum($"c").as("nj"),
          sum($"c".cast("decimal(38,0)") * $"z2").as("s1"),
          sum($"c".cast("decimal(38,0)") * $"z2" * $"z2").as("q4"))
      val tot = devs.agg(sum($"nj").as("n"), count(lit(1)).as("k"),
        sum($"s1").as("s1tot"))
      val terms = devs.crossJoin(broadcast(tot))
        .withColumn("mj", expr("CAST(s1 AS DOUBLE) / CAST(nj AS DOUBLE)"))
        .withColumn("gm", expr("CAST(s1tot AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("aj", expr("CAST(nj AS DOUBLE) * (mj - gm) * (mj - gm)"))
        .withColumn("bj", expr(
          "CAST(q4 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/CAST(nj AS DOUBLE)"))
      terms.groupBy($"n", $"k")
        .agg(collect_list(struct($"source", $"aj", $"bj")).as("ts"))
        .withColumn("suma", expr(
          "aggregate(array_sort(ts), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.aj)"))
        .withColumn("sumb", expr(
          "aggregate(array_sort(ts), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.bj)"))
        .select($"n", $"k",
          expr("""(suma / (CAST(k AS DOUBLE) - 1.0)) /
            (sumb / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))""").as("f_bf"),
          ($"k" - 1).as("df1"), ($"n" - $"k").as("df2"))
    }, Some("""
      WITH g AS (SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2),
      g2 AS (SELECT *, sum(c) OVER (PARTITION BY source ORDER BY n_chars
          ROWS UNBOUNDED PRECEDING) AS cum FROM g),
      nj AS (SELECT source, CAST(sum(c) AS BIGINT) AS nj FROM g GROUP BY 1),
      md AS (SELECT g2.source,
          CAST(sum(CASE WHEN cum >= (nj + 1) // 2 AND cum - c < (nj + 1) // 2
            THEN n_chars ELSE 0 END) AS BIGINT)
          + CAST(sum(CASE WHEN cum >= (nj + 2) // 2 AND cum - c < (nj + 2) // 2
            THEN n_chars ELSE 0 END) AS BIGINT) AS m2
        FROM g2 JOIN nj USING (source) GROUP BY g2.source),
      dv AS (SELECT g.source, CAST(sum(c) AS BIGINT) AS nj,
          sum(CAST(c AS DECIMAL(38,0)) * abs(2*n_chars - m2)) AS s1,
          sum(CAST(c AS DECIMAL(38,0)) * abs(2*n_chars - m2) * abs(2*n_chars - m2)) AS q4
        FROM g JOIN md USING (source) GROUP BY g.source),
      tot AS (SELECT CAST(sum(nj) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
          sum(s1) AS s1tot FROM dv),
      tm AS (SELECT source,
          CAST(nj AS DOUBLE) * (CAST(s1 AS DOUBLE)/CAST(nj AS DOUBLE) - CAST(s1tot AS DOUBLE)/CAST(n AS DOUBLE))
            * (CAST(s1 AS DOUBLE)/CAST(nj AS DOUBLE) - CAST(s1tot AS DOUBLE)/CAST(n AS DOUBLE)) AS aj,
          CAST(q4 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/CAST(nj AS DOUBLE) AS bj
        FROM dv, tot),
      f AS (SELECT
          list_reduce(list(aj ORDER BY source), (a, b) -> a + b) AS suma,
          list_reduce(list(bj ORDER BY source), (a, b) -> a + b) AS sumb
        FROM tm)
      SELECT n, k,
        (suma / (CAST(k AS DOUBLE) - 1.0)) /
          (sumb / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) AS f_bf,
        k - 1 AS df1, n - k AS df2
      FROM f, tot""")),

    // ----- McNemar's paired-gate test -------------------------------------
    // Two quality gates applied to the SAME documents — a length
    // floor and langID-agrees-with-metadata (q352's gate pair) —
    // McNemar asks whether they disagree symmetrically (would
    // swapping gates change the kept set's size?). Only the
    // discordant counts matter: b = length-only passes, c =
    // langID-only passes, χ²_cc = (|b−c|−1)²/(b+c) with continuity
    // correction. One map-only scan (the langID scores are q18's
    // stopword argmax), three integer counts, one double division.
    ("q370_mcnemar", (s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.spread(Tables.t(s, dir, "documents"))
      val scored = TA.langScores(docs, "doc_id", "text")
      val scores = TA.Stopwords.map { case (l, _) => l -> col(s"score_$l") }
      val flags = scored
        .withColumn("ga", $"n_chars" >= 150)
        .withColumn("gb", TA.langPredict(scores) === $"lang")
      flags.agg(count(lit(1)).as("n"),
          sum(($"ga" && !$"gb").cast("long")).as("b_ct"),
          sum((!$"ga" && $"gb").cast("long")).as("c_ct"))
        .select($"n", $"b_ct", $"c_ct",
          expr("""CASE WHEN b_ct + c_ct = 0 THEN NULL ELSE
            (abs(CAST(b_ct AS DOUBLE) - CAST(c_ct AS DOUBLE)) - 1.0)
            * (abs(CAST(b_ct AS DOUBLE) - CAST(c_ct AS DOUBLE)) - 1.0)
            / (CAST(b_ct AS DOUBLE) + CAST(c_ct AS DOUBLE)) END""").as("chi2_cc"))
    }, Some {
      val scoreSql = TA.Stopwords.map { case (l, ws) =>
        val inList = ws.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t IN ($inList))) AS score_$l"
      }.mkString(",\n          ")
      val langs = TA.Stopwords.map(_._1).sorted
      val maxExpr = s"greatest(${langs.map("score_" + _).mkString(", ")})"
      val predChain = langs.map(l => s"WHEN score_$l = $maxExpr THEN '$l'").mkString(" ")
      s"""
      WITH sc AS (SELECT doc_id, n_chars, lang,
          $scoreSql
        FROM documents),
      fl AS (SELECT (n_chars >= 150) AS ga,
          ((CASE WHEN $maxExpr = 0 THEN 'und' $predChain ELSE 'und' END) = lang) AS gb
        FROM sc),
      a AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN ga AND NOT gb THEN 1 ELSE 0 END) AS BIGINT) AS b_ct,
          CAST(sum(CASE WHEN NOT ga AND gb THEN 1 ELSE 0 END) AS BIGINT) AS c_ct
        FROM fl)
      SELECT n, b_ct, c_ct,
        CASE WHEN b_ct + c_ct = 0 THEN NULL ELSE
          (abs(CAST(b_ct AS DOUBLE) - CAST(c_ct AS DOUBLE)) - 1.0)
          * (abs(CAST(b_ct AS DOUBLE) - CAST(c_ct AS DOUBLE)) - 1.0)
          / (CAST(b_ct AS DOUBLE) + CAST(c_ct AS DOUBLE)) END AS chi2_cc
      FROM a"""
    }),

    // ----- Cochran's Q over the Gopher rule battery -----------------------
    // Do q355's six rules flag the same documents, or do some rules
    // carry all the rejection weight? Cochran's Q — the k-treatment
    // binary Friedman — over the SHARED per-document flag table
    // (StatTestQueries.gopherDoc / GopherDocSql, the same definition
    // q355 aggregates): Q = ((k−1)·(k·ΣC_j² − T²)) / (k·T − ΣR_i²)
    // with C_j = per-rule pass counts, R_i = per-doc pass counts,
    // T = ΣC = ΣR. Every term is an exact integer sum — the whole
    // statistic is ONE double division at the end.
    ("q371_cochran_q", (s: SparkSession, dir: String) => {
      import s.implicits._
      val rules = Seq("r_wc", "r_mwl", "r_alpha", "r_stop", "r_rep", "r_sym")
      val f = gopherDoc(s, dir)
        .withColumn("ri", rules.map(c => col(c).cast("long")).reduce(_ + _))
      val aggExprs = Seq(
        count(lit(1)).as("n"),
        sum($"ri").as("t"),
        sum($"ri" * $"ri").as("sr2")) ++
        rules.map(c => sum(col(c).cast("long")).as(s"c_$c"))
      val agg = f.agg(aggExprs.head, aggExprs.tail: _*)
      val cSq = rules.map(c => col(s"c_$c") * col(s"c_$c")).reduce(_ + _)
      agg.withColumn("sc2", cSq)
        .select($"n", lit(6L).as("k"),
          expr("""CASE WHEN 6 * t - sr2 = 0 THEN NULL ELSE
            CAST(5 * (6 * sc2 - t * t) AS DOUBLE) / CAST(6 * t - sr2 AS DOUBLE)
            END""").as("q_cochran"),
          lit(5L).as("df"))
    }, Some(s"""
      WITH ${GopherDocSql},
      fr AS (SELECT
          (CASE WHEN r_wc THEN 1 ELSE 0 END + CASE WHEN r_mwl THEN 1 ELSE 0 END
           + CASE WHEN r_alpha THEN 1 ELSE 0 END + CASE WHEN r_stop THEN 1 ELSE 0 END
           + CASE WHEN r_rep THEN 1 ELSE 0 END + CASE WHEN r_sym THEN 1 ELSE 0 END) AS ri,
          r_wc, r_mwl, r_alpha, r_stop, r_rep, r_sym
        FROM f),
      a AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(ri) AS BIGINT) AS t,
          CAST(sum(ri * ri) AS BIGINT) AS sr2,
          CAST(sum(CASE WHEN r_wc THEN 1 ELSE 0 END) AS BIGINT) AS c1,
          CAST(sum(CASE WHEN r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS c2,
          CAST(sum(CASE WHEN r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS c3,
          CAST(sum(CASE WHEN r_stop THEN 1 ELSE 0 END) AS BIGINT) AS c4,
          CAST(sum(CASE WHEN r_rep THEN 1 ELSE 0 END) AS BIGINT) AS c5,
          CAST(sum(CASE WHEN r_sym THEN 1 ELSE 0 END) AS BIGINT) AS c6
        FROM fr)
      SELECT n, CAST(6 AS BIGINT) AS k,
        CASE WHEN 6 * t - sr2 = 0 THEN NULL ELSE
          CAST(5 * (6 * (c1*c1 + c2*c2 + c3*c3 + c4*c4 + c5*c5 + c6*c6) - t * t) AS DOUBLE)
          / CAST(6 * t - sr2 AS DOUBLE) END AS q_cochran,
        CAST(5 AS BIGINT) AS df
      FROM a""")),

    // The association / effect-size / reliability layer
    // — the coefficients a curation team quotes AFTER the round-11b/d
    // hypothesis tests reject: ordinal association with tie treatment
    // (Goodman–Kruskal γ, Somers' D, Stuart τ-c), binary-gate agreement
    // (Matthews correlation), epidemiological 2×2 effect (Haldane odds
    // ratio with log CI), ordered-alternative trend tests (Page over
    // weekday blocks, Jonckheere–Terpstra over ordered sources), nominal
    // dependence (Theil's U), internal consistency (Cronbach's α over the
    // Gopher rule battery), residual serial correlation (Durbin–Watson),
    // and standardized mean difference (Cohen's d / Hedges' g).
    //
    // House float discipline as in q356–q360: every data-scale aggregate
    // is exact integer/DECIMAL (pair masses, rank sums, centered moments);
    // doubles appear only in final bounded-cardinality expression chains
    // whose SQL text is SHARED verbatim between the Spark plan and the
    // DuckDB oracle, so IEEE op order is identical. Shapes: contingency /
    // value grids with broadcast self-joins or partitioned windows —
    // shuffles carry cells and moments, never rows.

    // ----- ordinal association: γ, Somers' D, Stuart τ-c ------------------
    // q358 ships τ-b; these are the other three coefficients quoted
    // over the SAME concordant/discordant pair masses, each answering
    // a different tie question: γ ignores all ties (C−D over C+D),
    // Somers' D is the asymmetric regression-flavored form (denominator
    // drops only pairs tied on the INDEPENDENT margin — both
    // directions reported), τ-c corrects for a non-square grid via
    // m = min(rows, cols). Scorers: quantity vs price bucket on
    // lineitem — a B×B contingency grid (≤ 50×11 cells), one count
    // aggregate, one broadcast grid self-join; every pair mass exact
    // DECIMAL; four shared double chains at the end. Shuffle carries
    // cells, never rows — flat at any corpus scale.
    ("q372_ordinal_association", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.t(s, dir, "lineitem")
        .select($"l_quantity".cast("long").as("x"),
          floor($"l_extendedprice" / 10000).cast("long").as("y"))
      val grid = d.groupBy($"x", $"y").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val g2 = grid.select($"x".as("x2"), $"y".as("y2"), $"cnt".as("cnt2"))
      val pairs = grid.crossJoin(broadcast(g2)).agg(
        sum(when($"x2" > $"x" && $"y2" > $"y",
          $"cnt".cast("decimal(38,0)") * $"cnt2")
          .otherwise(lit(0).cast("decimal(38,0)"))).as("cpairs"),
        sum(when($"x2" > $"x" && $"y2" < $"y",
          $"cnt".cast("decimal(38,0)") * $"cnt2")
          .otherwise(lit(0).cast("decimal(38,0)"))).as("dpairs"))
      val tx = grid.groupBy($"x").agg(sum($"cnt").as("rx"))
        .agg(sum($"rx".cast("decimal(38,0)") * ($"rx" - 1) / 2).as("tx"))
      val ty = grid.groupBy($"y").agg(sum($"cnt").as("ry"))
        .agg(sum($"ry".cast("decimal(38,0)") * ($"ry" - 1) / 2).as("ty"))
      val tot = grid.agg(sum($"cnt").as("n"),
          countDistinct($"x").as("nx"), countDistinct($"y").as("ny"))
        .withColumn("n0", $"n".cast("decimal(38,0)") * ($"n" - 1) / 2)
        .withColumn("m", least($"nx", $"ny"))
      pairs.crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
        .crossJoin(broadcast(tot))
        .select($"n", $"m",
          $"cpairs".cast("double").as("c_pairs"),
          $"dpairs".cast("double").as("d_pairs"),
          expr(GammaSql).as("gamma"),
          expr(DyxSql).as("somers_d_yx"),
          expr(DxySql).as("somers_d_xy"),
          expr(TauCSql).as("tau_c"))
    }, Some(s"""
      WITH d AS (SELECT CAST(l_quantity AS BIGINT) AS x,
          CAST(floor(l_extendedprice / 10000) AS BIGINT) AS y FROM lineitem),
      g AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY 1, 2),
      p AS (SELECT
          sum(CASE WHEN g2.x > g.x AND g2.y > g.y
            THEN CAST(g.cnt AS DECIMAL(38,0)) * g2.cnt ELSE CAST(0 AS DECIMAL(38,0)) END) AS cpairs,
          sum(CASE WHEN g2.x > g.x AND g2.y < g.y
            THEN CAST(g.cnt AS DECIMAL(38,0)) * g2.cnt ELSE CAST(0 AS DECIMAL(38,0)) END) AS dpairs
        FROM g, g AS g2),
      txx AS (SELECT sum(CAST(rx AS DECIMAL(38,0)) * (rx - 1) / 2) AS tx
        FROM (SELECT x, CAST(sum(cnt) AS BIGINT) AS rx FROM g GROUP BY 1)),
      tyy AS (SELECT sum(CAST(ry AS DECIMAL(38,0)) * (ry - 1) / 2) AS ty
        FROM (SELECT y, CAST(sum(cnt) AS BIGINT) AS ry FROM g GROUP BY 1)),
      tn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
          CAST(sum(cnt) AS DECIMAL(38,0)) * (sum(cnt) - 1) / 2 AS n0,
          least(CAST(count(DISTINCT x) AS BIGINT),
                CAST(count(DISTINCT y) AS BIGINT)) AS m
        FROM g)
      SELECT n, m, CAST(cpairs AS DOUBLE) AS c_pairs,
        CAST(dpairs AS DOUBLE) AS d_pairs,
        $GammaSql AS gamma, $DyxSql AS somers_d_yx,
        $DxySql AS somers_d_xy, $TauCSql AS tau_c
      FROM p, txx, tyy, tn""")),

    // ----- Matthews correlation between two quality gates -----------------
    // Do the mean-word-length rule and the repetition rule fire on the
    // SAME documents? q253's κ measures chance-corrected agreement and
    // q370's McNemar tests marginal symmetry; MCC is the
    // ±1-normalized CORRELATION of the two gates (the binary Pearson
    // φ), the number quoted when one gate is a cheap proxy candidate
    // for the other. Consumes the literally shared gopherDoc flag
    // table; one map-only 2×2 count aggregate; the ad−bc product runs
    // in doubles only inside the final shared chain (exact DECIMAL
    // would overflow at 1e12 docs where doubles lose nothing that
    // matters for a correlation).
    ("q373_mcc_gates", (s: SparkSession, dir: String) => {
      import s.implicits._
      gopherDoc(s, dir).agg(
          sum(($"r_mwl" && $"r_rep").cast("long")).as("a"),
          sum(($"r_mwl" && !$"r_rep").cast("long")).as("b"),
          sum((!$"r_mwl" && $"r_rep").cast("long")).as("c"),
          sum((!$"r_mwl" && !$"r_rep").cast("long")).as("d"))
        .select($"a", $"b", $"c", $"d", expr(MccSql).as("mcc"))
    }, Some(s"""
      WITH ${GopherDocSql},
      ct AS (SELECT
          CAST(sum(CASE WHEN r_mwl AND r_rep THEN 1 ELSE 0 END) AS BIGINT) AS a,
          CAST(sum(CASE WHEN r_mwl AND NOT r_rep THEN 1 ELSE 0 END) AS BIGINT) AS b,
          CAST(sum(CASE WHEN NOT r_mwl AND r_rep THEN 1 ELSE 0 END) AS BIGINT) AS c,
          CAST(sum(CASE WHEN NOT r_mwl AND NOT r_rep THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM f)
      SELECT a, b, c, d, $MccSql AS mcc FROM ct""")),

    // ----- Haldane odds ratio with log-scale Wald CI ----------------------
    // How much more likely is source src0 to pass the repetition gate
    // than src1, as an ODDS RATIO with a defensible interval? q224's
    // two-proportion z answers "different?"; the OR is the
    // epidemiological effect size whose log-scale CI stays valid at
    // extreme rates, and the Haldane +0.5 correction keeps it total
    // when a cell is empty (sf0.001's 2-doc sources). One filtered
    // 2×2 count aggregate over the shared gopherDoc flags. The OR
    // itself is pure ×/÷ (IEEE-deterministic); everything through
    // ln/exp rounds to integer micro first — Spark's JIT'd Math.log
    // and DuckDB's libm ln disagree in the last ulp (caught live on
    // this very query: identical 2×2 counts, ln_or off by 1 ulp).
    ("q374_odds_ratio", (s: SparkSession, dir: String) => {
      import s.implicits._
      gopherDoc(s, dir)
        .filter($"source".isin("src0", "src1"))
        .agg(
          sum(($"source" === "src0" && $"r_rep").cast("long")).as("a"),
          sum(($"source" === "src0" && !$"r_rep").cast("long")).as("b"),
          sum(($"source" === "src1" && $"r_rep").cast("long")).as("c"),
          sum(($"source" === "src1" && !$"r_rep").cast("long")).as("d"))
        .select($"a", $"b", $"c", $"d",
          expr(OrSql).as("or_hat"),
          expr(s"CAST(floor(ln($OrSql) * 1e6 + 0.5) AS BIGINT)").as("ln_or_micro"),
          expr(s"CAST(floor(exp(ln($OrSql) - 1.96 * $OrSeSql) * 1e6 + 0.5) AS BIGINT)")
            .as("ci_lo_micro"),
          expr(s"CAST(floor(exp(ln($OrSql) + 1.96 * $OrSeSql) * 1e6 + 0.5) AS BIGINT)")
            .as("ci_hi_micro"))
    }, Some(s"""
      WITH ${GopherDocSql},
      ct AS (SELECT
          CAST(sum(CASE WHEN source = 'src0' AND r_rep THEN 1 ELSE 0 END) AS BIGINT) AS a,
          CAST(sum(CASE WHEN source = 'src0' AND NOT r_rep THEN 1 ELSE 0 END) AS BIGINT) AS b,
          CAST(sum(CASE WHEN source = 'src1' AND r_rep THEN 1 ELSE 0 END) AS BIGINT) AS c,
          CAST(sum(CASE WHEN source = 'src1' AND NOT r_rep THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM f WHERE source IN ('src0', 'src1'))
      SELECT a, b, c, d, $OrSql AS or_hat,
        CAST(floor(ln($OrSql) * 1e6 + 0.5) AS BIGINT) AS ln_or_micro,
        CAST(floor(exp(ln($OrSql) - 1.96 * $OrSeSql) * 1e6 + 0.5) AS BIGINT) AS ci_lo_micro,
        CAST(floor(exp(ln($OrSql) + 1.96 * $OrSeSql) * 1e6 + 0.5) AS BIGINT) AS ci_hi_micro
      FROM ct""")),

    // ----- Page's trend test over weekday blocks --------------------------
    // q367's Friedman asks "do weekdays differ AT ALL"; Page's L asks
    // the sharper ORDERED question — does volume trend monotonically
    // across the weekday position? Same complete-week blocks and
    // doubled within-block average ranks (2·avgrank = 2(rank−1)+ceq+1,
    // exact integers over ties); L2 = Σ (dow+1)·R2_j is one 7-row
    // weighted sum, and the z uses the classical no-tie null
    // (documented in PageZSql). Block ranking windows partition by
    // week — thousands of independent 7-row tasks at any scale.
    ("q375_page_trend", (s: SparkSession, dir: String) => {
      import s.implicits._
      val daily = Tables.t(s, dir, "events")
        .select(datediff(to_date($"ts"), lit("1970-01-01")).cast("long").as("epd"))
        .groupBy($"epd").agg(count(lit(1)).as("y"))
        .withColumn("wk", expr("(epd - 4) div 7"))
        .withColumn("dow", expr("(epd - 4) % 7"))
      val complete = daily.groupBy($"wk").agg(count(lit(1)).as("ndays"))
        .filter($"ndays" === 7).select($"wk")
      val ranked = daily.join(broadcast(complete), Seq("wk"))
        .withColumn("rnk", rank().over(
          Window.partitionBy($"wk").orderBy($"y")))
        .withColumn("ceq", count(lit(1)).over(
          Window.partitionBy($"wk", $"y")))
        .withColumn("r2", lit(2) * ($"rnk" - 1) + $"ceq" + 1)
      val perDow = ranked.groupBy($"dow").agg(sum($"r2").as("rsum2"))
      val b = ranked.agg((count(lit(1)) / 7).cast("long").as("b"))
      perDow
        .agg(sum(($"dow" + 1) * $"rsum2").as("l2"))
        .crossJoin(broadcast(b))
        .select($"b", $"l2", expr(PageZSql).as("z_page"))
    }, Some(s"""
      WITH daily AS (SELECT
          CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS epd,
          CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1),
      d2 AS (SELECT epd, y, (epd - 4) // 7 AS wk, (epd - 4) % 7 AS dow
        FROM daily),
      complete AS (SELECT wk FROM d2 GROUP BY wk HAVING count(*) = 7),
      rk AS (SELECT d2.*,
          CAST(rank() OVER (PARTITION BY d2.wk ORDER BY y) AS BIGINT) AS rnk,
          CAST(count(*) OVER (PARTITION BY d2.wk, y) AS BIGINT) AS ceq
        FROM d2 JOIN complete USING (wk)),
      r2t AS (SELECT wk, dow, 2*(rnk - 1) + ceq + 1 AS r2 FROM rk),
      pd AS (SELECT dow, CAST(sum(r2) AS BIGINT) AS rsum2 FROM r2t GROUP BY 1),
      bt AS (SELECT CAST(count(*) // 7 AS BIGINT) AS b FROM r2t),
      lt AS (SELECT CAST(sum((dow + 1) * rsum2) AS BIGINT) AS l2 FROM pd)
      SELECT b, l2, $PageZSql AS z_page FROM lt, bt""")),

    // ----- Theil's uncertainty coefficient U(lang | source) ---------------
    // What fraction of language entropy does knowing the source
    // remove? q235 reports the raw mutual information in nats; U is
    // the [0,1]-NORMALIZED asymmetric form H(L)−H(L|S) over H(L) — the
    // number that says "source determines language 40%, not 0.4 nats".
    // One (source × lang) count aggregate (≤ 100 cells at any corpus
    // size). Each ln rounds to integer MICRO-nats first (the q235
    // rule: the two engines' libm ln differ in the last ulp, and the
    // first validation run caught exactly that), so both entropies
    // are exact integer sums and U is one integer-ratio double.
    ("q376_theils_u", (s: SparkSession, dir: String) => {
      import s.implicits._
      def mln(x: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
        floor(log(x.cast("double") / n.cast("double")) * 1e6 + 0.5).cast("long")
      val cells = Tables.t(s, dir, "documents")
        .groupBy($"source", $"lang").agg(count(lit(1)).as("nsl"))
        .localCheckpoint()
      val n = cells.agg(sum($"nsl").as("n"))
      val hl = cells.groupBy($"lang").agg(sum($"nsl").as("nl"))
        .crossJoin(broadcast(n))
        .select($"n", $"nl", mln($"nl", $"n").as("ll"))
        .groupBy($"n")
        .agg(sum($"nl".cast("decimal(38,0)") * $"ll").as("sl"))
        .select($"n", expr("(-sl) div n").as("h_l_micro"))
      val ns = cells.groupBy($"source").agg(sum($"nsl").as("ns"))
      val hc = cells.join(broadcast(ns), Seq("source"))
        .crossJoin(broadcast(n))
        .select($"n", $"nsl", mln($"nsl", $"ns").as("lc"))
        .groupBy($"n")
        .agg(sum($"nsl".cast("decimal(38,0)") * $"lc").as("sc"))
        .select(expr("(-sc) div n").as("h_cond_micro"))
      hl.crossJoin(hc)
        .select($"h_l_micro", $"h_cond_micro",
          expr("""CASE WHEN h_l_micro = 0 THEN NULL ELSE
            CAST(h_l_micro - h_cond_micro AS DOUBLE) / CAST(h_l_micro AS DOUBLE) END""")
            .as("u"))
    }, Some("""
      WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS nsl
        FROM documents GROUP BY 1, 2),
      nt AS (SELECT CAST(sum(nsl) AS BIGINT) AS n FROM cells),
      hlt AS (SELECT CAST((-sum(CAST(nl AS HUGEINT) *
            CAST(floor(ln(CAST(nl AS DOUBLE)/CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)))
            // max(n) AS BIGINT) AS h_l_micro
        FROM (SELECT lang, CAST(sum(nsl) AS BIGINT) AS nl FROM cells GROUP BY 1), nt),
      nst AS (SELECT source, CAST(sum(nsl) AS BIGINT) AS ns FROM cells GROUP BY 1),
      hct AS (SELECT CAST((-sum(CAST(nsl AS HUGEINT) *
            CAST(floor(ln(CAST(nsl AS DOUBLE)/CAST(ns AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)))
            // max(n) AS BIGINT) AS h_cond_micro
        FROM cells JOIN nst USING (source), nt)
      SELECT h_l_micro, h_cond_micro,
        CASE WHEN h_l_micro = 0 THEN NULL ELSE
          CAST(h_l_micro - h_cond_micro AS DOUBLE) / CAST(h_l_micro AS DOUBLE) END AS u
      FROM hlt, hct""")),

    // ----- Cronbach's α over the Gopher rule battery ----------------------
    // Do the six quality rules measure ONE latent "document quality"
    // construct, or six unrelated things? q362's Fleiss κ scores
    // rater agreement on one item; α is the internal-consistency
    // coefficient over the six-item battery: k/(k−1)·(1 − Σσ²ᵢ/σ²_T).
    // Bernoulli items make every variance a function of integer sums
    // (Σxᵢ² = Σxᵢ), and the per-doc total t ∈ [0,6] bounds Σt² — one
    // map-only aggregate over the shared flag table, then a single
    // double chain whose six item terms appear in fixed textual order
    // on both engines.
    ("q377_cronbach_alpha", (s: SparkSession, dir: String) => {
      import s.implicits._
      val flags = Seq("r_wc", "r_mwl", "r_alpha", "r_stop", "r_rep", "r_sym")
      val f = gopherDoc(s, dir)
        .select(flags.map(c => col(c).cast("long").as(c)): _*)
        .withColumn("t", flags.map(col).reduce(_ + _))
      val aggExprs = Seq(count(lit(1)).as("n"),
        sum($"t").as("st"), sum($"t" * $"t").as("stt")) ++
        flags.zipWithIndex.map { case (c, i) => sum(col(c)).as(s"s${i + 1}") }
      val aggs = f.agg(aggExprs.head, aggExprs.tail: _*)
      val ivar = (1 to 6).map(i =>
        s"""(CAST(s$i AS DOUBLE)/CAST(n AS DOUBLE)
            - (CAST(s$i AS DOUBLE)/CAST(n AS DOUBLE))*(CAST(s$i AS DOUBLE)/CAST(n AS DOUBLE)))""")
        .mkString(" + ")
      val tvar =
        """(CAST(stt AS DOUBLE)/CAST(n AS DOUBLE)
            - (CAST(st AS DOUBLE)/CAST(n AS DOUBLE))*(CAST(st AS DOUBLE)/CAST(n AS DOUBLE)))"""
      aggs.select($"n",
        expr(ivar).as("sum_item_var"),
        expr(tvar).as("total_var"),
        expr(s"CASE WHEN $tvar = 0.0 THEN NULL ELSE 1.2 * (1.0 - ($ivar) / $tvar) END")
          .as("alpha"))
    }, Some {
      val ivar = (1 to 6).map(i =>
        s"""(CAST(s$i AS DOUBLE)/CAST(n AS DOUBLE)
            - (CAST(s$i AS DOUBLE)/CAST(n AS DOUBLE))*(CAST(s$i AS DOUBLE)/CAST(n AS DOUBLE)))""")
        .mkString(" + ")
      val tvar =
        """(CAST(stt AS DOUBLE)/CAST(n AS DOUBLE)
            - (CAST(st AS DOUBLE)/CAST(n AS DOUBLE))*(CAST(st AS DOUBLE)/CAST(n AS DOUBLE)))"""
      val items = Seq("r_wc", "r_mwl", "r_alpha", "r_stop", "r_rep", "r_sym")
        .zipWithIndex.map { case (c, i) =>
          s"CAST(sum(CASE WHEN $c THEN 1 ELSE 0 END) AS BIGINT) AS s${i + 1}" }
        .mkString(", ")
      s"""
      WITH ${GopherDocSql},
      tt AS (SELECT *,
          CAST((CASE WHEN r_wc THEN 1 ELSE 0 END) + (CASE WHEN r_mwl THEN 1 ELSE 0 END)
             + (CASE WHEN r_alpha THEN 1 ELSE 0 END) + (CASE WHEN r_stop THEN 1 ELSE 0 END)
             + (CASE WHEN r_rep THEN 1 ELSE 0 END) + (CASE WHEN r_sym THEN 1 ELSE 0 END) AS BIGINT) AS t
        FROM f),
      ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(t) AS BIGINT) AS st, CAST(sum(t * t) AS BIGINT) AS stt,
          $items
        FROM tt)
      SELECT n, $ivar AS sum_item_var, $tvar AS total_var,
        CASE WHEN $tvar = 0.0 THEN NULL ELSE 1.2 * (1.0 - ($ivar) / $tvar) END AS alpha
      FROM ag"""
    }),

    // ----- Jonckheere–Terpstra ordered-groups trend ------------------------
    // Does document length trend UPWARD across the source index
    // src0 < src1 < … < src19? q357 (Kruskal–Wallis) is omnibus —
    // any difference, any pattern; JT accumulates the k(k−1)/2
    // pairwise Mann–Whitney masses in the GROUP ORDER, buying power
    // exactly when the alternative is monotone. The pair masses come
    // from a 2D dominance count over the (source, value) grid:
    // densify to |grid values| × 20 cells, one ≤20-row window per
    // value (mass in lower-indexed sources at the same value), one
    // per-source prefix window over the value grid (mass strictly
    // below in lower-indexed sources) — shuffles carry grid cells
    // only, and 2J stays an exact DECIMAL. z uses the classical
    // no-tie null (JtZSql).
    ("q378_jonckheere", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.t(s, dir, "documents")
        .select(expr("CAST(substring(source, 4) AS BIGINT)").as("so"),
          $"n_chars".as("v"))
      val cells = d.groupBy($"so", $"v").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val dense = cells.select($"v").distinct()
        .crossJoin(broadcast(cells.select($"so").distinct()))
        .join(cells, Seq("so", "v"), "left")
        .withColumn("c", coalesce($"c", lit(0L)))
      val wP = Window.partitionBy($"v").orderBy($"so")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wD = Window.partitionBy($"so").orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val masses = dense
        .withColumn("pp", coalesce(sum($"c").over(wP), lit(0L)))
        .withColumn("dd", coalesce(sum($"pp").over(wD), lit(0L)))
      val j2t = masses.agg(sum($"c".cast("decimal(38,0)") *
        (lit(2) * $"dd" + $"pp")).as("j2"))
      val sizes = cells.groupBy($"so").agg(sum($"c").as("nj"))
        .agg(sum($"nj").as("n"), count(lit(1)).as("k"),
          sum($"nj".cast("decimal(38,0)") * $"nj").as("snj2"),
          sum($"nj".cast("decimal(38,0)") * $"nj" * (lit(2) * $"nj" + 3)).as("snj3"))
        .withColumn("ej4", $"n".cast("decimal(38,0)") * $"n" - $"snj2")
        .withColumn("vnum",
          $"n".cast("decimal(38,0)") * $"n" * (lit(2) * $"n" + 3) - $"snj3")
      j2t.crossJoin(broadcast(sizes))
        .select($"n", $"k",
          $"j2".cast("double").as("j2_pairs"),
          $"ej4".cast("double").as("ej4"),
          expr(JtZSql).as("z_jt"))
    }, Some(s"""
      WITH d AS (SELECT CAST(substr(source, 4) AS BIGINT) AS so,
          n_chars AS v FROM documents),
      cells AS (SELECT so, v, CAST(count(*) AS BIGINT) AS c
        FROM d GROUP BY 1, 2),
      dense AS (SELECT vg.v, st.so, COALESCE(cells.c, 0) AS c
        FROM (SELECT DISTINCT v FROM cells) vg
        CROSS JOIN (SELECT DISTINCT so FROM cells) st
        LEFT JOIN cells ON cells.so = st.so AND cells.v = vg.v),
      m1 AS (SELECT *, COALESCE(sum(c) OVER (PARTITION BY v ORDER BY so
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pp
        FROM dense),
      m2 AS (SELECT *, COALESCE(sum(pp) OVER (PARTITION BY so ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS dd
        FROM m1),
      jt AS (SELECT sum(CAST(c AS DECIMAL(38,0)) * (2 * dd + pp)) AS j2
        FROM m2),
      sz AS (SELECT CAST(sum(nj) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS k,
          CAST(sum(nj) AS DECIMAL(38,0)) * sum(nj)
            - sum(CAST(nj AS DECIMAL(38,0)) * nj) AS ej4,
          CAST(sum(nj) AS DECIMAL(38,0)) * sum(nj) * (2 * sum(nj) + 3)
            - sum(CAST(nj AS DECIMAL(38,0)) * nj * (2 * nj + 3)) AS vnum
        FROM (SELECT so, CAST(sum(c) AS BIGINT) AS nj FROM cells GROUP BY 1))
      SELECT n, k, CAST(j2 AS DOUBLE) AS j2_pairs,
        CAST(ej4 AS DOUBLE) AS ej4, $JtZSql AS z_jt
      FROM jt, sz""")),

    // ----- Durbin–Watson on the daily count series ------------------------
    // Residual serial correlation of daily event volume around its
    // mean — the classical regression diagnostic whose ≈2(1−ρ₁) value
    // q287's lag-1 ACF approximates but does not equal (DW keeps the
    // exact first/last boundary terms and the uncentered difference
    // numerator). Differencing cancels the mean, so Σ(Δc)² is an
    // exact integer straight off the counts and the whole statistic
    // is one shared double chain over four exact aggregates. The lag
    // window runs on the bounded day grid (the lit(0) single-task
    // convention, ≤ a few thousand rows at any corpus scale).
    ("q379_durbin_watson", (s: SparkSession, dir: String) => {
      import s.implicits._
      val daily = Tables.t(s, dir, "events")
        .select(datediff(to_date($"ts"), lit("1970-01-01")).cast("long").as("epd"))
        .groupBy($"epd").agg(count(lit(1)).as("cd"))
      val w = Window.partitionBy(lit(0)).orderBy($"epd")
      daily.withColumn("prev", lag($"cd", 1).over(w))
        .agg(count(lit(1)).as("n"), sum($"cd").as("sc"),
          sum($"cd".cast("decimal(38,0)") * $"cd").as("scc"),
          sum(when($"prev".isNotNull,
            ($"cd" - $"prev").cast("decimal(38,0)") * ($"cd" - $"prev"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("sd2"))
        .select($"n".as("n_days"), $"sd2".cast("double").as("sdiff2"),
          expr(DwSql).as("dw"))
    }, Some(s"""
      WITH daily AS (SELECT
          CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS epd,
          CAST(count(*) AS BIGINT) AS cd
        FROM events GROUP BY 1),
      lg AS (SELECT epd, cd, lag(cd, 1) OVER (ORDER BY epd) AS prev FROM daily),
      ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(cd) AS BIGINT) AS sc,
          sum(CAST(cd AS DECIMAL(38,0)) * cd) AS scc,
          sum(CASE WHEN prev IS NOT NULL
            THEN CAST(cd - prev AS DECIMAL(38,0)) * (cd - prev)
            ELSE CAST(0 AS DECIMAL(38,0)) END) AS sd2
        FROM lg)
      SELECT n AS n_days, CAST(sd2 AS DOUBLE) AS sdiff2,
        $DwSql AS dw
      FROM ag""")),

    // ----- Cohen's d / Hedges' g between two sources ----------------------
    // HOW FAR apart are src0's and src1's length distributions, in
    // pooled-SD units? q356 tests whether they differ (rank z),
    // q364 tests k means at once; d is the standardized effect size
    // the power calculation and the meta-analysis consume, and g is
    // its small-sample-debiased form (J = 1 − 3/(4·df − 1)). Five
    // exact integer/DECIMAL moments from one filtered aggregate; the
    // entire statistic is the shared CohenDSql chain.
    ("q380_cohens_d", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.t(s, dir, "documents")
        .filter($"source".isin("src0", "src1"))
        .select(($"source" === "src0").as("g1"), $"n_chars".as("v"))
        .agg(
          sum($"g1".cast("long")).as("n1"),
          sum((!$"g1").cast("long")).as("n2"),
          sum(when($"g1", $"v").otherwise(0L)).as("s1"),
          sum(when(!$"g1", $"v").otherwise(0L)).as("s2"),
          sum(when($"g1", $"v".cast("decimal(38,0)") * $"v")
            .otherwise(lit(0).cast("decimal(38,0)"))).as("ss1"),
          sum(when(!$"g1", $"v".cast("decimal(38,0)") * $"v")
            .otherwise(lit(0).cast("decimal(38,0)"))).as("ss2"))
        .select($"n1", $"n2",
          expr("CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE) - CAST(s2 AS DOUBLE)/CAST(n2 AS DOUBLE)")
            .as("mean_diff"),
          expr(CohenDSql).as("cohen_d"),
          expr(s"""(1.0 - 3.0 / (4.0 * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0) - 1.0))
            * ($CohenDSql)""").as("hedges_g"))
    }, Some(s"""
      WITH d AS (SELECT source = 'src0' AS g1, n_chars AS v
        FROM documents WHERE source IN ('src0', 'src1')),
      ag AS (SELECT
          CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(sum(CASE WHEN g1 THEN 0 ELSE 1 END) AS BIGINT) AS n2,
          CAST(sum(CASE WHEN g1 THEN v ELSE 0 END) AS BIGINT) AS s1,
          CAST(sum(CASE WHEN g1 THEN 0 ELSE v END) AS BIGINT) AS s2,
          sum(CASE WHEN g1 THEN CAST(v AS DECIMAL(38,0)) * v
            ELSE CAST(0 AS DECIMAL(38,0)) END) AS ss1,
          sum(CASE WHEN g1 THEN CAST(0 AS DECIMAL(38,0))
            ELSE CAST(v AS DECIMAL(38,0)) * v END) AS ss2
        FROM d)
      SELECT n1, n2,
        CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE) - CAST(s2 AS DOUBLE)/CAST(n2 AS DOUBLE) AS mean_diff,
        $CohenDSql AS cohen_d,
        (1.0 - 3.0 / (4.0 * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0) - 1.0))
          * ($CohenDSql) AS hedges_g
      FROM ag""")),

    // Agreement, calibration and stratified-effect
    // operators that close out the association layer — Lin's concordance
    // correlation (measure agreement, not association), Krippendorff's α
    // (agreement under MISSING ratings, where q362's Fleiss requires a
    // complete panel), a grouped Hosmer–Lemeshow calibration test with
    // out-of-sample expected rates, Goodman–Kruskal λ (modal-prediction
    // PRE, the counting dual of q376's entropy-based U), linear-weighted
    // Cohen's κ over ordinal deciles, and the Mantel–Haenszel pooled
    // odds ratio (the Simpson-safe adjusted form of q374's crude OR).
    //
    // Float discipline: every statistic here reduces to exact integer /
    // DECIMAL aggregates — including Krippendorff's per-unit rational
    // (cleared by the lcm 12) and Hosmer–Lemeshow's per-stratum term
    // (cleared to (O·ntr − nte·xt)² / (nte·xt·(ntr−xt))) — with one
    // shared double chain, or a key-sorted fold over ≤20 stratum terms,
    // at the very end.

    // ----- Lin's concordance correlation ----------------------------------
    // Does the order header price AGREE with the lineitem revenue sum
    // — not merely correlate with it? q80's Pearson is invariant to
    // location/scale shift; CCC penalizes both (ρ·accuracy), so a
    // systematic bias between the two measures shows up that Pearson
    // hides. Money goes to exact cent integers first (DECIMAL(12,2)
    // ×100, the q01 cast discipline); the orderkey join is
    // co-partitioned sort-merge (both sides keyed by l_orderkey /
    // o_orderkey — at cluster scale this is the bucketed-join shape);
    // five moments in DECIMAL(38,0); both coefficients one shared
    // double chain.
    ("q381_lin_ccc", (s: SparkSession, dir: String) => {
      import s.implicits._
      val x = Tables.t(s, dir, "orders")
        .select($"o_orderkey".as("k"),
          ($"o_totalprice".cast(DecimalType(12, 2)) * 100).cast("long").as("xc"))
      val y = Tables.t(s, dir, "lineitem")
        .groupBy($"l_orderkey".as("k"))
        .agg(sum(($"l_extendedprice".cast(DecimalType(12, 2)) * 100).cast("long"))
          .as("yc"))
      x.join(y, Seq("k"))
        .agg(count(lit(1)).as("n"),
          sum($"xc".cast("decimal(38,0)")).as("a"),
          sum($"yc".cast("decimal(38,0)")).as("b"),
          sum($"xc".cast("decimal(38,0)") * $"xc").as("xx"),
          sum($"yc".cast("decimal(38,0)") * $"yc").as("yy"),
          sum($"xc".cast("decimal(38,0)") * $"yc").as("xy"))
        .select($"n", expr(CccSql).as("ccc"), expr(PearsonSql).as("pearson_r"))
    }, Some(s"""
      WITH x AS (SELECT o_orderkey AS k,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS xc
        FROM orders),
      y AS (SELECT l_orderkey AS k,
          CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS yc
        FROM lineitem GROUP BY 1),
      ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
          sum(CAST(xc AS DECIMAL(38,0))) AS a,
          sum(CAST(yc AS DECIMAL(38,0))) AS b,
          sum(CAST(xc AS DECIMAL(38,0)) * xc) AS xx,
          sum(CAST(yc AS DECIMAL(38,0)) * yc) AS yy,
          sum(CAST(xc AS DECIMAL(38,0)) * yc) AS xy
        FROM x JOIN y USING (k))
      SELECT n, $CccSql AS ccc, $PearsonSql AS pearson_r FROM ag""")),

    // ----- Krippendorff's α with missing ratings --------------------------
    // The agreement coefficient that survives an INCOMPLETE rating
    // panel: each of the 5 threshold raters rates only the ~60% of
    // documents its md5 gate selects (q362's Fleiss requires every
    // rater on every doc). Per-unit disagreement x_u(m_u−x_u)/(m_u−1)
    // is a rational with denominator ∈ {1..4}, cleared exactly by the
    // lcm 12 — so the whole statistic is four integer aggregates and
    // one shared double chain, map-only over the documents scan.
    ("q382_krippendorff_alpha", (s: SparkSession, dir: String) => {
      import s.implicits._
      val rated = Tables.t(s, dir, "documents")
        .select($"doc_id", $"n_chars")
      val withRatings = (0 to 4).foldLeft(rated) { (df, r) =>
        df.withColumn(s"p$r", expr(
          s"""CAST(conv(substring(md5(CAST(doc_id AS STRING) || '_r$r'), 1, 8),
              16, 10) AS BIGINT) % 10 < 6"""))
          .withColumn(s"v$r", ($"n_chars" >= 150 + 10 * r).cast("long"))
      }
      val perDoc = withRatings
        .withColumn("m", (0 to 4).map(r => col(s"p$r").cast("long")).reduce(_ + _))
        .withColumn("x", (0 to 4).map(r =>
          (col(s"p$r") && col(s"v$r") === 1L).cast("long")).reduce(_ + _))
        .filter($"m" >= 2)
      perDoc.agg(
          count(lit(1)).as("n_units"),
          sum($"m").as("n"),
          sum($"x").as("n1"),
          sum($"m" - $"x").as("n0"),
          // integral div: 12/(m−1) is exact for m ∈ {2..5}
          sum(expr("12 * x * (m - x) div (m - 1)")).as("s12"))
        .select($"n_units", $"n", $"n1", $"n0", $"s12",
          expr(KripSql).as("alpha"))
    }, Some {
      val pres = (0 to 4).map(r =>
        s"""(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_r$r'), 1, 8))::BIGINT % 10 < 6)""")
      val vals = (0 to 4).map(r => s"(n_chars >= ${150 + 10 * r})")
      val m = (0 to 4).map(r => s"CASE WHEN ${pres(r)} THEN 1 ELSE 0 END").mkString(" + ")
      val x = (0 to 4).map(r =>
        s"CASE WHEN ${pres(r)} AND ${vals(r)} THEN 1 ELSE 0 END").mkString(" + ")
      s"""
      WITH pd AS (SELECT CAST($m AS BIGINT) AS m, CAST($x AS BIGINT) AS x
        FROM documents),
      pd2 AS (SELECT * FROM pd WHERE m >= 2),
      ag AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
          CAST(sum(m) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS n1,
          CAST(sum(m - x) AS BIGINT) AS n0,
          CAST(sum(12 * x * (m - x) // (m - 1)) AS BIGINT) AS s12
        FROM pd2)
      SELECT n_units, n, n1, n0, s12, $KripSql AS alpha FROM ag"""
    }),

    // ----- grouped Hosmer–Lemeshow with out-of-sample expected rates ------
    // Is the per-source English rate LEARNED ON THE TRAIN SPLIT still
    // calibrated on the test split? q310 decomposes the Brier score
    // of one model; this is the χ²-shaped CALIBRATION TEST over g
    // strata with honestly out-of-sample expectations (an md5 gate
    // splits train/test — doc_id PARITY is confounded with source in
    // the synthetic layout, which would degenerate every stratum; and
    // in-sample HL is identically 0 by construction). The per-stratum
    // term clears to the exact integer ratio
    // (O·ntr − nte·xt)² / (nte·xt·(ntr−xt)); strata where the train
    // rate is degenerate (xt = 0 or xt = ntr) are excluded and
    // counted. One count aggregate, a ≤20-row fold sorted by source;
    // zero usable strata → NULL on both engines.
    ("q383_hosmer_lemeshow", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.t(s, dir, "documents")
        .select($"source", ($"lang" === "en").cast("long").as("y"),
          expr("""CAST(conv(substring(md5(CAST(doc_id AS STRING) || '_hl'), 1, 8),
              16, 10) AS BIGINT) % 2 = 0""").as("train"))
      val strata = d.groupBy($"source").agg(
        sum(when($"train", 1L).otherwise(0L)).as("ntr"),
        sum(when($"train", $"y").otherwise(0L)).as("xt"),
        sum(when(!$"train", 1L).otherwise(0L)).as("nte"),
        sum(when(!$"train", $"y").otherwise(0L)).as("o"))
      val terms = strata
        .withColumn("ok",
          $"xt" > 0 && $"xt" < $"ntr" && $"nte" > 0)
        .withColumn("num",
          ($"o".cast("decimal(38,0)") * $"ntr" - $"nte".cast("decimal(38,0)") * $"xt"))
        .withColumn("term", when($"ok", expr(
          """CAST(num AS DOUBLE) * CAST(num AS DOUBLE) /
             (CAST(nte AS DOUBLE) * CAST(xt AS DOUBLE) * (CAST(ntr AS DOUBLE) - CAST(xt AS DOUBLE)))"""))
          .otherwise(lit(null).cast("double")))
      terms.agg(
          sum($"ok".cast("long")).as("g_used"),
          sum((!$"ok").cast("long")).as("g_skipped"),
          collect_list(when($"ok", struct($"source", $"term"))).as("ts"))
        .select($"g_used", $"g_skipped",
          expr("""CASE WHEN size(ts) = 0 THEN NULL ELSE
            aggregate(array_sort(ts), CAST(0.0 AS DOUBLE), (acc, t) -> acc + t.term) END""")
            .as("hl_chi2"))
    }, Some("""
      WITH d AS (SELECT source, CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_hl'), 1, 8))::BIGINT % 2 = 0 AS train
        FROM documents),
      st AS (SELECT source,
          CAST(sum(CASE WHEN train THEN 1 ELSE 0 END) AS BIGINT) AS ntr,
          CAST(sum(CASE WHEN train THEN y ELSE 0 END) AS BIGINT) AS xt,
          CAST(sum(CASE WHEN NOT train THEN 1 ELSE 0 END) AS BIGINT) AS nte,
          CAST(sum(CASE WHEN NOT train THEN y ELSE 0 END) AS BIGINT) AS o
        FROM d GROUP BY 1),
      tm AS (SELECT source,
          (xt > 0 AND xt < ntr AND nte > 0) AS ok,
          CAST(o AS DECIMAL(38,0)) * ntr - CAST(nte AS DECIMAL(38,0)) * xt AS num,
          ntr, xt, nte
        FROM st),
      tm2 AS (SELECT source, ok,
          CASE WHEN ok THEN
            CAST(num AS DOUBLE) * CAST(num AS DOUBLE) /
            (CAST(nte AS DOUBLE) * CAST(xt AS DOUBLE) * (CAST(ntr AS DOUBLE) - CAST(xt AS DOUBLE)))
          ELSE NULL END AS term
        FROM tm)
      SELECT CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS g_used,
        CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS g_skipped,
        list_reduce(list(term ORDER BY source) FILTER (WHERE ok), (a, b) -> a + b) AS hl_chi2
      FROM tm2""")),

    // ----- Goodman–Kruskal λ(lang | source) -------------------------------
    // How much better does the MODAL language guess get when you know
    // the source? The proportional-reduction-in-error dual of q376's
    // entropy-based U: λ = (Σ_s max_l n_sl − max_l n_l)/(n − max_l n_l)
    // — pure integer counting over the bounded contingency grid, no
    // double until the single final ratio. λ = 0 when every source's
    // modal language is the global one (which entropy-based U can
    // still score > 0 — reporting both is the point).
    ("q384_gk_lambda", (s: SparkSession, dir: String) => {
      import s.implicits._
      val cells = Tables.t(s, dir, "documents")
        .groupBy($"source", $"lang").agg(count(lit(1)).as("nsl"))
        .localCheckpoint()
      val modal = cells.groupBy($"source").agg(max($"nsl").as("mx"))
        .agg(sum($"mx").as("sum_modal"))
      val overall = cells.groupBy($"lang").agg(sum($"nsl").as("nl"))
        .agg(max($"nl").as("modal_overall"), sum($"nl").as("n"))
      modal.crossJoin(broadcast(overall))
        .select($"n", $"sum_modal", $"modal_overall",
          expr("""CASE WHEN n = modal_overall THEN NULL ELSE
            CAST(sum_modal - modal_overall AS DOUBLE) /
            CAST(n - modal_overall AS DOUBLE) END""").as("lambda"))
    }, Some("""
      WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS nsl
        FROM documents GROUP BY 1, 2),
      md AS (SELECT CAST(sum(mx) AS BIGINT) AS sum_modal
        FROM (SELECT source, max(nsl) AS mx FROM cells GROUP BY 1)),
      ov AS (SELECT CAST(max(nl) AS BIGINT) AS modal_overall,
          CAST(sum(nl) AS BIGINT) AS n
        FROM (SELECT lang, sum(nsl) AS nl FROM cells GROUP BY 1))
      SELECT n, sum_modal, modal_overall,
        CASE WHEN n = modal_overall THEN NULL ELSE
          CAST(sum_modal - modal_overall AS DOUBLE) /
          CAST(n - modal_overall AS DOUBLE) END AS lambda
      FROM md, ov""")),

    // ----- linear-weighted Cohen's κ over ordinal deciles -----------------
    // Two ordinal scorers (length decile vs stopword-density decile,
    // q358's scorer pair mapped to a shared 0..9 scale): unweighted κ
    // (q253) would call a one-decile miss as wrong as a nine-decile
    // miss. Linear weights make κ_w = 1 − n·Σ|i−j|·o_ij / Σ|i−j|·rᵢ·cⱼ
    // — ENTIRELY exact integers off the 10×10 grid (the |i−j| weights
    // clear the usual 1−|i−j|/(R−1) normalization), one double at the
    // end. Same one-scan shape as q358; margins from the grid.
    ("q385_weighted_kappa", (s: SparkSession, dir: String) => {
      import s.implicits._
      // fused WordStopStats kernel: ONE primitive pass over the raw
      // text replaces normText's two regexes + the replace pass + the
      // stopword-alternation regexp_count (the ×100 probe priced that
      // chain at 134 s / 500k docs — proportional to passes per byte)
      val base = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"n_chars",
          graft.functions.WordStopStats($"text",
            GopherStops).as("st"))
        .select($"n_chars", $"st".getItem(0).as("wc"), $"st".getItem(1).as("ns"))
        .filter($"wc" > 0)
        .select(least(expr("CAST(n_chars AS BIGINT) * 2 div 100"), lit(9L)).as("ra"),
          least(expr("10 * ns div wc"), lit(9L)).as("rb"))
      val grid = base.groupBy($"ra", $"rb").agg(count(lit(1)).as("o"))
        .localCheckpoint()
      val wo = grid.agg(sum(abs($"ra" - $"rb").cast("decimal(38,0)") * $"o").as("wo"),
        sum($"o").as("n"))
      val rt = grid.groupBy($"ra").agg(sum($"o").as("ri"))
      val ct = grid.groupBy($"rb").agg(sum($"o").as("cj"))
      val we = rt.crossJoin(broadcast(ct))
        .agg(sum(abs($"ra" - $"rb").cast("decimal(38,0)") * $"ri" * $"cj").as("we"))
      wo.crossJoin(broadcast(we))
        .select($"n", $"wo".cast("double").as("w_observed"),
          $"we".cast("double").as("w_expected"),
          expr(WKappaSql).as("kappa_w"))
    }, Some {
      val norm = graft.ext.TextAnalysis.normTextSql
      val inList = GopherStops.mkString("|")
      s"""
      WITH b AS (SELECT doc_id, n_chars, $norm AS nt FROM documents),
      b2 AS (SELECT n_chars,
          CAST(CASE WHEN nt = '' THEN 0
            ELSE len(nt) - len(replace(nt, ' ', '')) + 1 END AS BIGINT) AS wc,
          CAST(len(regexp_extract_all(nt, '\\b($inList)\\b')) AS BIGINT) AS ns
        FROM b),
      b3 AS (SELECT least(CAST(n_chars AS BIGINT) * 2 // 100, 9) AS ra,
          least(10 * ns // wc, 9) AS rb
        FROM b2 WHERE wc > 0),
      g AS (SELECT ra, rb, CAST(count(*) AS BIGINT) AS o FROM b3 GROUP BY 1, 2),
      woc AS (SELECT sum(CAST(abs(ra - rb) AS DECIMAL(38,0)) * o) AS wo,
          CAST(sum(o) AS BIGINT) AS n FROM g),
      rt AS (SELECT ra, CAST(sum(o) AS BIGINT) AS ri FROM g GROUP BY 1),
      ct AS (SELECT rb, CAST(sum(o) AS BIGINT) AS cj FROM g GROUP BY 1),
      wec AS (SELECT sum(CAST(abs(ra - rb) AS DECIMAL(38,0)) * ri * cj) AS we
        FROM rt, ct)
      SELECT n, CAST(wo AS DOUBLE) AS w_observed,
        CAST(we AS DOUBLE) AS w_expected, $WKappaSql AS kappa_w
      FROM woc, wec"""
    }),

    // ----- Mantel–Haenszel pooled odds ratio ------------------------------
    // q374's crude OR can reverse under aggregation when source is a
    // confounder (the q238 Simpson failure mode); MH pools the
    // per-source 2×2s (exposure = mean-word-length rule, outcome =
    // repetition rule, strata = 20 sources) into the adjusted
    // estimator Σ(aᵢdᵢ/nᵢ)/Σ(bᵢcᵢ/nᵢ). Each stratum term is one
    // double from exact integers; the two ≤20-term sums fold sorted
    // by source on both engines. One pass over the shared gopherDoc
    // flags, stratum-grid scale after.
    ("q386_mantel_haenszel", (s: SparkSession, dir: String) => {
      import s.implicits._
      val strata = gopherDoc(s, dir)
        .groupBy($"source").agg(
          sum(($"r_mwl" && $"r_rep").cast("long")).as("a"),
          sum(($"r_mwl" && !$"r_rep").cast("long")).as("b"),
          sum((!$"r_mwl" && $"r_rep").cast("long")).as("c"),
          sum((!$"r_mwl" && !$"r_rep").cast("long")).as("d"))
        .withColumn("nst", $"a" + $"b" + $"c" + $"d")
        .withColumn("tad", expr(
          "CAST(a AS DOUBLE) * CAST(d AS DOUBLE) / CAST(nst AS DOUBLE)"))
        .withColumn("tbc", expr(
          "CAST(b AS DOUBLE) * CAST(c AS DOUBLE) / CAST(nst AS DOUBLE)"))
      strata.agg(
          count(lit(1)).as("k_strata"),
          collect_list(struct($"source", $"tad", $"tbc")).as("ts"))
        .withColumn("sad", expr(
          "aggregate(array_sort(ts), CAST(0.0 AS DOUBLE), (acc, t) -> acc + t.tad)"))
        .withColumn("sbc", expr(
          "aggregate(array_sort(ts), CAST(0.0 AS DOUBLE), (acc, t) -> acc + t.tbc)"))
        .select($"k_strata", $"sad".as("sum_ad_n"), $"sbc".as("sum_bc_n"),
          expr("CASE WHEN sbc = 0.0 THEN NULL ELSE sad / sbc END").as("or_mh"))
    }, Some(s"""
      WITH ${GopherDocSql},
      st AS (SELECT source,
          CAST(sum(CASE WHEN r_mwl AND r_rep THEN 1 ELSE 0 END) AS BIGINT) AS a,
          CAST(sum(CASE WHEN r_mwl AND NOT r_rep THEN 1 ELSE 0 END) AS BIGINT) AS b,
          CAST(sum(CASE WHEN NOT r_mwl AND r_rep THEN 1 ELSE 0 END) AS BIGINT) AS c,
          CAST(sum(CASE WHEN NOT r_mwl AND NOT r_rep THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM f GROUP BY 1),
      tm AS (SELECT source,
          CAST(a AS DOUBLE) * CAST(d AS DOUBLE) / CAST(a + b + c + d AS DOUBLE) AS tad,
          CAST(b AS DOUBLE) * CAST(c AS DOUBLE) / CAST(a + b + c + d AS DOUBLE) AS tbc
        FROM st),
      ag AS (SELECT CAST(count(*) AS BIGINT) AS k_strata,
          list_reduce(list(tad ORDER BY source), (x, y) -> x + y) AS sad,
          list_reduce(list(tbc ORDER BY source), (x, y) -> x + y) AS sbc
        FROM tm)
      SELECT k_strata, sad AS sum_ad_n, sbc AS sum_bc_n,
        CASE WHEN sbc = 0.0 THEN NULL ELSE sad / sbc END AS or_mh
      FROM ag""")),

    // Dataset-construction and forensic-audit
    // operators — exact-count stratified splitting (the eval-set builder
    // Bernoulli gates can't give you), cross-source quantile
    // normalization (batch-effect alignment on the value grid), and a
    // Benford first-digit audit (synthetic/corrupted-data forensics on
    // money columns).
    //
    // Float discipline: q392/q393 never leave BIGINT; q394 clears the
    // Benford proportions to exact ppm via micro-ln integers (the q235
    // rule) before its one double chi-square chain in digit order.

    // ----- exact-count stratified split ------------------------------------
    // Hash-Bernoulli gates (q107's shape) give BINOMIAL stratum counts
    // — an eval set built that way is ±√n per stratum, which breaks
    // small strata. This is the exact-count form: within each
    // (source, lang) stratum, rank by an md5 draw (tie-broken by
    // doc_id) and take exactly (7·n_s) div 10 for train. The ranking
    // window partitions by stratum, so parallelism = stratum count
    // and per-task state = one stratum. Membership itself is
    // witnessed by the doc_id sums per side — identical ranks on both
    // engines or the sums split differently.
    ("q392_stratified_split", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.t(s, dir, "documents")
        .select($"source", $"lang", $"doc_id",
          md5(concat($"doc_id".cast("string"), lit("_sp"))).as("h"))
      val w = Window.partitionBy($"source", $"lang").orderBy($"h", $"doc_id")
      val ranked = d.withColumn("rn", row_number().over(w))
      val counts = ranked.groupBy($"source", $"lang").agg(count(lit(1)).as("n"))
      ranked.join(broadcast(counts), Seq("source", "lang"))
        .withColumn("train", $"rn" <= expr("7 * n div 10"))
        .groupBy($"source", $"lang", $"n")
        .agg(sum($"train".cast("long")).as("n_train"),
          sum((!$"train").cast("long")).as("n_test"),
          sum(when($"train", $"doc_id").otherwise(0L)).as("sum_train_ids"),
          sum(when(!$"train", $"doc_id").otherwise(0L)).as("sum_test_ids"))
        .orderBy($"source", $"lang")
    }, Some("""
      WITH d AS (SELECT source, lang, doc_id,
          md5(CAST(doc_id AS VARCHAR) || '_sp') AS h
        FROM documents),
      r AS (SELECT source, lang, doc_id,
          row_number() OVER (PARTITION BY source, lang ORDER BY h, doc_id) AS rn,
          CAST(count(*) OVER (PARTITION BY source, lang) AS BIGINT) AS n
        FROM d),
      t AS (SELECT source, lang, n, doc_id, rn <= 7 * n // 10 AS train FROM r)
      SELECT source, lang, n,
        CAST(sum(CASE WHEN train THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        CAST(sum(CASE WHEN train THEN 0 ELSE 1 END) AS BIGINT) AS n_test,
        CAST(sum(CASE WHEN train THEN doc_id ELSE 0 END) AS BIGINT) AS sum_train_ids,
        CAST(sum(CASE WHEN train THEN 0 ELSE doc_id END) AS BIGINT) AS sum_test_ids
      FROM t GROUP BY 1, 2, 3 ORDER BY source, lang""")),

    // ----- cross-source quantile normalization -----------------------------
    // Per-source length distributions differ systematically (crawl vs
    // curated); quantile normalization maps each source's distribution
    // onto the POOLED one so downstream length gates act uniformly —
    // the batch-effect correction standard in bioinformatics, here on
    // the (source × n_chars) grid so no per-document sort ever runs.
    // Exact integer algebra: within-source cumulative counts off the
    // per-source grid (window partitioned by source — one stratum per
    // task), pooled cumulative via the two-level GridCumulative
    // helper, target position p = (cum_s·N) div n_s, and the pooled
    // order statistic at p found by a broadcast INTERVAL JOIN against
    // the bounded pooled grid (row v covers positions (cum−c, cum],
    // so each p hits exactly one row). The join is the codegen'd
    // BroadcastNestedLoopJoin over grid × grid — measured 10× faster
    // than the array-lambda lookup it replaced, because higher-order
    // filter() runs interpreted per element while the join condition
    // compiles. Reports per source the total absolute displacement
    // and the distinct target count — BIGINT end to end.
    ("q393_quantile_normalization", (s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.t(s, dir, "documents")
        .select($"source", $"n_chars".cast("long").as("v"))
      val gridS = docs.groupBy($"source", $"v").agg(count(lit(1)).as("c"))
        .localCheckpoint() // reused: per-source cum + pooled grid
      val wS = Window.partitionBy($"source").orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cumS = gridS.withColumn("cum_s", sum($"c").over(wS))
      val nS = gridS.groupBy($"source").agg(sum($"c").as("n_s"))
      val pooledGrid = gridS.groupBy($"v").agg(sum($"c").as("c"))
      val pooled = GridCumulative.withRunningTotal(
        pooledGrid, "v", "c", "cum_p")
      val lookup = pooled.select($"v".as("t"),
        ($"cum_p" - $"c").as("lo"), $"cum_p".as("hi"))
      val tot = pooledGrid.agg(sum($"c").as("n"))
      val mapped = cumS
        .join(broadcast(nS), Seq("source"))
        .crossJoin(broadcast(tot))
        // DECIMAL(38,0) widen: cum_s·N is past int64 once the corpus
        // crosses ~3e9 docs
        .withColumn("p", expr(
          "greatest(1L, (CAST(cum_s AS DECIMAL(38,0)) * n) div n_s)"))
        .join(broadcast(lookup), $"p" > $"lo" && $"p" <= $"hi")
      mapped.groupBy($"source")
        .agg(sum($"c").as("n_docs"),
          sum(abs($"t" - $"v") * $"c").as("displacement"),
          countDistinct($"t").as("n_target_values"))
        .orderBy($"source")
    }, Some("""
      WITH d AS (SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents),
      gs AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
      cs AS (SELECT source, v, c,
          CAST(sum(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum_s
        FROM gs),
      ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM gs GROUP BY 1),
      pg AS (SELECT v, CAST(sum(c) AS BIGINT) AS c FROM gs GROUP BY 1),
      pc AS (SELECT v, c, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum_p FROM pg),
      lk AS (SELECT v AS t, cum_p - c AS lo, cum_p AS hi FROM pc),
      tt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM pg),
      m AS (SELECT cs.source, cs.v, cs.c,
          greatest(1, CAST(cs.cum_s AS HUGEINT) * tt.n // ns.n_s) AS p
        FROM cs JOIN ns ON cs.source = ns.source, tt),
      m2 AS (SELECT m.source, m.v, m.c, lk.t
        FROM m JOIN lk ON m.p > lk.lo AND m.p <= lk.hi)
      SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        CAST(sum(abs(t - v) * c) AS BIGINT) AS displacement,
        CAST(count(DISTINCT t) AS BIGINT) AS n_target_values
      FROM m2 GROUP BY 1 ORDER BY source""")),

    // ----- Benford first-digit audit ---------------------------------------
    // Organic money amounts follow Benford's law, P(d) = log10(1+1/d);
    // fabricated or generator-degenerate columns don't — the classic
    // forensic screen, run here over order totals in exact cents. The
    // proportions clear to exact ppm integers via micro-ln (p_ppm =
    // (lnm(d+1) − lnm(d))·10⁶ div lnm(10), the q235 rule, so the two
    // engines' last-ulp ln disagreement cannot reach the output), the
    // expected counts to exact milli-units, and the chi-square is one
    // double chain over the 9-row digit spine in digit order. Digit
    // extraction is the first character of the cent integer's decimal
    // rendering — no float log anywhere near the data.
    ("q394_benford_audit", (s: SparkSession, dir: String) => {
      import s.implicits._
      val cents = Tables.t(s, dir, "orders")
        .select(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("cents"))
        .filter($"cents" > 0)
      val obs = cents
        .select(expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS BIGINT)").as("d"))
        .groupBy($"d").agg(count(lit(1)).as("n_d"))
      val spine = s.range(1, 10).select($"id".as("d"))
      val tot = cents.agg(count(lit(1)).as("n"))
      val dense = broadcast(spine).join(obs, Seq("d"), "left")
        .withColumn("n_d", coalesce($"n_d", lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("p_ppm", expr(
          """(CAST(floor(ln(CAST(d + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
            - CAST(floor(ln(CAST(d AS DOUBLE)) * 1000000 + 0.5) AS BIGINT))
            * 1000000 div CAST(floor(ln(10.0) * 1000000 + 0.5) AS BIGINT)"""))
        .withColumn("e_milli", expr("n * p_ppm div 1000"))
        .withColumn("term", expr(
          """CAST(1000 * n_d - e_milli AS DOUBLE) * CAST(1000 * n_d - e_milli AS DOUBLE)
             / (1000.0 * CAST(e_milli AS DOUBLE))"""))
      val chi2 = dense.agg(
        expr("""aggregate(array_sort(collect_list(struct(d, term))),
            CAST(0.0 AS DOUBLE), (acc, t) -> acc + t.term)""").as("chi2"))
      dense.select($"d", $"n_d", $"p_ppm", $"e_milli")
        .crossJoin(broadcast(chi2))
        .orderBy($"d")
    }, Some("""
      WITH c0 AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM orders),
      c1 AS (SELECT cents FROM c0 WHERE cents > 0),
      obs AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS d,
          CAST(count(*) AS BIGINT) AS n_d
        FROM c1 GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c1),
      dense AS (SELECT s.d, CAST(coalesce(obs.n_d, 0) AS BIGINT) AS n_d, tot.n,
          (CAST(floor(ln(CAST(s.d + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
           - CAST(floor(ln(CAST(s.d AS DOUBLE)) * 1000000 + 0.5) AS BIGINT))
           * 1000000 // CAST(floor(ln(10.0) * 1000000 + 0.5) AS BIGINT) AS p_ppm
        FROM (SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT) AS d) s
        LEFT JOIN obs ON obs.d = s.d, tot),
      d2 AS (SELECT d, n_d, p_ppm, n * p_ppm // 1000 AS e_milli FROM dense),
      d3 AS (SELECT d, n_d, p_ppm, e_milli,
          CAST(1000 * n_d - e_milli AS DOUBLE) * CAST(1000 * n_d - e_milli AS DOUBLE)
            / (1000.0 * CAST(e_milli AS DOUBLE)) AS term
        FROM d2),
      ch AS (SELECT list_reduce(list(term ORDER BY d), (a, b) -> a + b) AS chi2 FROM d3)
      SELECT d, n_d, p_ppm, e_milli, chi2 FROM d3, ch ORDER BY d""")),

    // ----- split-conformal coverage ----------------------------------------
    // The distribution-free calibrator for any numeric gate: on an
    // md5-gated calibration split, the conformal quantile q̂ is the
    // ⌈(n_cal+1)·(1−α)⌉-th smallest score, and P(score ≤ q̂) ≥ 1−α
    // holds on exchangeable test data with NO distributional
    // assumption — the modern way to set q118-style thresholds with a
    // guarantee. Exact: order statistic via the calibration value
    // grid + the q393 interval-join lookup (rank k lands in exactly
    // one grid row), coverage counted on the test grid. Both α rows
    // (10%, 5%) come off one shared grid pass.
    ("q395_conformal_coverage", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.t(s, dir, "documents")
        .select($"n_chars".cast("long").as("v"),
          expr("""CAST(conv(substring(md5(CAST(doc_id AS STRING) || '_cf'), 1, 8),
              16, 10) AS BIGINT) % 2 = 0""").as("cal"))
      val calGrid = d.filter($"cal").groupBy($"v").agg(count(lit(1)).as("c"))
      val testGrid = d.filter(!$"cal").groupBy($"v").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val cum = GridCumulative.withRunningTotal(calGrid, "v", "c", "cum")
      val lookup = cum.select($"v".as("qhat"),
        ($"cum" - $"c").as("lo"), $"cum".as("hi"))
      val nCal = calGrid.agg(sum($"c").as("n_cal"))
      val nTest = testGrid.agg(sum($"c").as("n_test"))
      val alphas = s.range(0, 2)
        .select(when($"id" === 0, 90L).otherwise(95L).as("pct"))
      val k = alphas.crossJoin(broadcast(nCal)).crossJoin(broadcast(nTest))
        .withColumn("k", expr("((n_cal + 1) * pct + 99) div 100"))
      val withQ = k.join(broadcast(lookup), $"k" > $"lo" && $"k" <= $"hi")
      withQ.join(broadcast(testGrid.withColumnRenamed("v", "tv")),
          $"tv" <= $"qhat")
        .groupBy($"pct", $"n_cal", $"n_test", $"k", $"qhat")
        .agg(sum($"c").as("n_covered"))
        .select($"pct", $"n_cal", $"n_test", $"k", $"qhat", $"n_covered",
          expr("n_covered * 1000000 div n_test").as("cov_ppm"))
        .orderBy($"pct")
    }, Some("""
      WITH d AS (SELECT CAST(n_chars AS BIGINT) AS v,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_cf'), 1, 8))::BIGINT % 2 = 0 AS cal
        FROM documents),
      cg AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM d WHERE cal GROUP BY 1),
      tg AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM d WHERE NOT cal GROUP BY 1),
      cc AS (SELECT v, c, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum FROM cg),
      lk AS (SELECT v AS qhat, cum - c AS lo, cum AS hi FROM cc),
      ncal AS (SELECT CAST(sum(c) AS BIGINT) AS n_cal FROM cg),
      ntst AS (SELECT CAST(sum(c) AS BIGINT) AS n_test FROM tg),
      al AS (SELECT CAST(unnest([90, 95]) AS BIGINT) AS pct),
      kk AS (SELECT pct, n_cal, n_test, ((n_cal + 1) * pct + 99) // 100 AS k
        FROM al, ncal, ntst),
      wq AS (SELECT kk.*, lk.qhat FROM kk JOIN lk ON kk.k > lk.lo AND kk.k <= lk.hi)
      SELECT pct, n_cal, n_test, k, qhat,
        CAST(sum(tg.c) AS BIGINT) AS n_covered,
        CAST(sum(tg.c) AS BIGINT) * 1000000 // n_test AS cov_ppm
      FROM wq JOIN tg ON tg.v <= wq.qhat
      GROUP BY 1, 2, 3, 4, 5 ORDER BY pct""")),

    // The robust-inference completions — Poisson
    // overdispersion audit (is a count column really Poisson before any
    // rate model trusts it), OLS influence diagnostics (which days BEND
    // the q80-style trend line), and Holm–Bonferroni step-down (the FWER
    // dual of q359's BH step-up, over the LITERALLY shared permutation
    // p-value table).
    //
    // Float discipline: q398 is exact integer micro-units end to end;
    // q399 computes every residual/leverage numerator in DECIMAL(38,0)
    // and runs one double chain per day-grid row (SSE folded in day
    // order); q400 inherits q359's exact permutation ranks.

    // ----- Poisson overdispersion audit ------------------------------------
    // Every rate-based monitor (q319's SPRT, q320's intervals) assumes
    // the daily event counts are Poisson-ish; clumped traffic
    // (var >> mean) silently breaks their error guarantees. The
    // dispersion index D = s²/x̄ per event type, EXACT:
    // D_micro = (n·Σc² − S²)·10⁶ div ((n−1)·S) in DECIMAL(38,0) —
    // D > 1 ⟺ overdispersed is an integer comparison, no double
    // anywhere. One day-grid aggregate per type; the type table is the
    // only thing that leaves the executors.
    ("q398_overdispersion", (s: SparkSession, dir: String) => {
      import s.implicits._
      val daily = Tables.t(s, dir, "events")
        .select($"event_type", expr(EpdSpark).cast("long").as("epd"))
        .groupBy($"event_type", $"epd").agg(count(lit(1)).as("c"))
      daily.groupBy($"event_type")
        .agg(count(lit(1)).as("n_days"), sum($"c").as("total"),
          sum($"c".cast("decimal(38,0)") * $"c").as("q2"))
        .withColumn("d_micro", expr(
          """CASE WHEN n_days < 2 THEN NULL ELSE
             (n_days * q2 - CAST(total AS DECIMAL(38,0)) * total) * 1000000
               div ((n_days - 1) * CAST(total AS DECIMAL(38,0))) END"""))
        .select($"event_type", $"n_days", $"total", $"d_micro",
          ($"d_micro" > 1000000L).cast("long").as("overdispersed"))
        .orderBy($"event_type")
    }, Some(s"""
      WITH daily AS (SELECT event_type, $EpdSql AS epd,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      ag AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
          CAST(sum(c) AS BIGINT) AS total,
          sum(CAST(c AS HUGEINT) * c) AS q2
        FROM daily GROUP BY 1),
      d2 AS (SELECT event_type, n_days, total,
          CASE WHEN n_days < 2 THEN NULL ELSE
            (n_days * q2 - CAST(total AS HUGEINT) * total) * 1000000
              // ((n_days - 1) * CAST(total AS HUGEINT)) END AS d_micro
        FROM ag)
      SELECT event_type, n_days, total, CAST(d_micro AS BIGINT) AS d_micro,
        CAST(CASE WHEN d_micro IS NULL THEN NULL
          WHEN d_micro > 1000000 THEN 1 ELSE 0 END AS BIGINT) AS overdispersed
      FROM d2 ORDER BY event_type""")),

    // ----- OLS influence diagnostics (Cook's distance) ---------------------
    // q80 fits trend lines and q361 makes the slope robust; this asks
    // WHICH observations bend the fit — the day whose removal moves
    // the line most. For daily counts vs day index: leverage
    // h_i = 1/n + xc_i²/Sxx (xc = n·x − Sx cleared integers, Sxx =
    // Σxc²), residual e_i = (yc_i·Sxx − Sxy·xc_i)/(n·Sxx) with an
    // exact DECIMAL numerator, SSE folded in day order, Cook's
    // D_i = e_i²·h_i / (2·s²·(1−h_i)²). Top-5 days by (D, epd) —
    // identical doubles from identical integers on both engines. The
    // whole computation lives on the bounded day grid.
    ("q399_regression_influence", (s: SparkSession, dir: String) => {
      import s.implicits._
      val daily = Tables.t(s, dir, "events")
        .select(expr(EpdSpark).cast("long").as("epd"))
        .groupBy($"epd").agg(count(lit(1)).as("c"))
        .localCheckpoint() // reused: moments + per-day terms
      val m = daily.agg(count(lit(1)).as("n"), sum($"epd").as("sx"),
        sum($"c").as("sy"))
      val cent = daily.crossJoin(broadcast(m))
        .select($"epd", $"c", $"n",
          ($"n" * $"epd" - $"sx").as("xc"), ($"n" * $"c" - $"sy").as("yc"))
        .localCheckpoint()
      val mom = cent.agg(
        sum($"xc".cast("decimal(38,0)") * $"xc").as("sxx"),
        sum($"xc".cast("decimal(38,0)") * $"yc").as("sxy"))
      val terms = cent.crossJoin(broadcast(mom))
        .withColumn("en", ($"yc".cast("decimal(38,0)") * $"sxx"
          - $"sxy" * $"xc"))
        .withColumn("e", expr(
          "CAST(en AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE))"))
        .withColumn("h", expr(
          """1.0 / CAST(n AS DOUBLE)
             + CAST(CAST(xc AS DECIMAL(38,0)) * xc AS DOUBLE) / CAST(sxx AS DOUBLE)"""))
      val sse = terms.agg(expr(
        """aggregate(array_sort(collect_list(struct(epd, e))),
           CAST(0.0 AS DOUBLE), (acc, t) -> acc + t.e * t.e)""").as("sse"),
        max($"n").as("nn"))
      terms.crossJoin(broadcast(sse))
        .withColumn("s2", expr("sse / (CAST(nn AS DOUBLE) - 2.0)"))
        .withColumn("cook_d", expr(
          "e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h))"))
        .select($"epd", $"c", $"h".as("leverage"), $"cook_d")
        .orderBy($"cook_d".desc, $"epd").limit(5)
    }, Some(s"""
      WITH daily AS (SELECT $EpdSql AS epd, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(epd) AS BIGINT) AS sx,
          CAST(sum(c) AS BIGINT) AS sy FROM daily),
      cent AS (SELECT epd, c, n, n * epd - sx AS xc, n * c - sy AS yc
        FROM daily, m),
      mom AS (SELECT sum(CAST(xc AS HUGEINT) * xc) AS sxx,
          sum(CAST(xc AS HUGEINT) * yc) AS sxy FROM cent),
      tm AS (SELECT epd, c, n,
          CAST(CAST(yc AS HUGEINT) * sxx - sxy * xc AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)) AS e,
          1.0 / CAST(n AS DOUBLE)
            + CAST(CAST(xc AS HUGEINT) * xc AS DOUBLE) / CAST(sxx AS DOUBLE) AS h
        FROM cent, mom),
      ss AS (SELECT list_reduce(list(e * e ORDER BY epd), (a, b) -> a + b) AS sse,
          max(n) AS nn FROM tm)
      SELECT epd, c, h AS leverage,
        e * e * h / (2.0 * (sse / (CAST(nn AS DOUBLE) - 2.0)) * (1.0 - h) * (1.0 - h))
          AS cook_d
      FROM tm, ss ORDER BY cook_d DESC, epd LIMIT 5""")),

    // ----- Holm–Bonferroni step-down ---------------------------------------
    // q359's BH controls the FALSE DISCOVERY RATE (a fraction of
    // rejections may be wrong — fine for screening); Holm controls the
    // FAMILY-WISE error rate (probability of even ONE false rejection
    // — what a "these sources shifted" report to stakeholders needs),
    // over the LITERALLY shared fdrPvals/FdrPvalSql permutation table
    // so the two procedures can never see different p-values.
    // Step-DOWN: reject p_(k) while p_(j) ≤ α/(m−j+1) for all j ≤ k;
    // the first failure stops everything after it. Always a subset of
    // BH's rejections at the same α — spec-pinned.
    ("q400_holm_fwer", (s: SparkSession, dir: String) => {
      import s.implicits._
      val wRank = Window.partitionBy(lit(0)).orderBy($"p", $"source")
      val wAll = Window.partitionBy(lit(0))
      fdrPvals(s, dir)
        .withColumn("krank", row_number().over(wRank).cast("long"))
        .withColumn("m", count(lit(1)).over(wAll))
        .withColumn("fail", expr(
          "CASE WHEN p > 0.1 / CAST(m - krank + 1 AS DOUBLE) THEN krank ELSE NULL END"))
        .withColumn("first_fail", min($"fail").over(wAll))
        .select($"source", $"nx".as("n_docs"), $"p", $"krank",
          ($"krank" < coalesce($"first_fail", $"m" + 1)).as("rejected"))
        .orderBy($"source")
    }, Some(s"""
      WITH ${FdrPvalSql},
      rk AS (SELECT *,
          CAST(row_number() OVER (ORDER BY p, source) AS BIGINT) AS krank,
          CAST(count(*) OVER () AS BIGINT) AS m
        FROM pv),
      fl AS (SELECT *,
          min(CASE WHEN p > 0.1 / CAST(m - krank + 1 AS DOUBLE)
            THEN krank ELSE NULL END) OVER () AS first_fail
        FROM rk)
      SELECT source, nx AS n_docs, p, krank,
        (krank < coalesce(first_fail, m + 1)) AS rejected
      FROM fl ORDER BY source"""))
  )
}
