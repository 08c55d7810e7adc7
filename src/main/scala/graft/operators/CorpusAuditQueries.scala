package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ext.{Dedup, Similarity, TextAnalysis => TA}
import graft.functions.{KmvBufferMd5, KmvDistinctMd5}

/** Corpus audits: the composed curation pipeline, privacy risk,
  * smoothing, sketches, embedding-index health, budget planning and
  * dedup threshold curves.
  *
  * Section "Storage layout & optimizer (100 TB scan economics)" of
  * docs/OPERATORS.md.
  */
object CorpusAuditQueries {

  private val normSql = TA.normTextSql
  private val prepSql = Similarity.prepareSql
  private def bucketSql: String = Similarity.lshBucketSql

  /** Quasi-identifier prep over customer: nation, segment, and the
    * $1000 account-balance band. Balance goes through the money cast
    * (DECIMAL(12,2) cents) and a +100000 shift so the band division
    * never sees a negative operand (Spark `div` truncates toward zero
    * while DuckDB `//` floors — they agree only on non-negatives).
    */
  private def custQi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "customer").select(
      $"c_nationkey".cast("long").as("nat"),
      $"c_mktsegment".as("seg"),
      expr("""(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
              + 100000) div 100000""").as("band"))
  }

  private val CustQiSql =
    """qi AS (SELECT CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
        (CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) + 100000) // 100000 AS band
      FROM customer)"""

  /** (k−1)·2⁶⁴ for k=256 — the estimator numerator as a decimal literal. */
  private val Num256 = "CAST(4703919738795935662080 AS DECIMAL(38,0))"

  /** Unflip a sign-bit-flipped hash column back to its unsigned value in
    * DECIMAL(38,0): unsigned(h) = flipped + 2⁶³ in true arithmetic. */
  private def unflip(col: String) =
    s"CAST($col AS DECIMAL(38,0)) + 9223372036854775808"

  /** The shared 5-cut sweep over a (id_a, id_b, j_micro) pair table:
    * pairs and distinct flagged docs per threshold (also q416's tail). */
  private[operators] def sweep(s: SparkSession, pairs: DataFrame): DataFrame = {
    import s.implicits._
    val taus = Seq(500000L, 600000L, 700000L, 800000L, 900000L).toDF("tau_micro")
    val hits = pairs.crossJoin(broadcast(taus)).filter($"j_micro" >= $"tau_micro")
    val nPairs = hits.groupBy($"tau_micro").agg(count(lit(1)).as("n_pairs"))
    val nDocs = hits.select($"tau_micro", explode(array($"id_a", $"id_b")).as("id"))
      .distinct()
      .groupBy($"tau_micro").agg(count(lit(1)).as("n_docs_flagged"))
    taus.join(nPairs, Seq("tau_micro"), "left")
      .join(nDocs, Seq("tau_micro"), "left")
      .select($"tau_micro",
        coalesce($"n_pairs", lit(0L)).as("n_pairs"),
        coalesce($"n_docs_flagged", lit(0L)).as("n_docs_flagged"))
      .orderBy($"tau_micro")
  }

  /** q410's pair table, UN-checkpointed — the builder the query
    * materializes behind its localCheckpoint.
    */
  private[graft] def q410PairTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.spread(Tables.t(s, dir, "documents")).select(
      $"doc_id".as("id"),
      TA.charNgramInts($"text", 3).as("grams")) // sorted distinct longs
    Dedup.prefixFilterPairsMicro(docs, 500000L)
  }

  private val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def queries: Seq[Entry] = Seq(

    // Personalized PageRank (teleport to a SEED set —
    // the "related to these items" expansion q153's global walk cannot
    // answer) and per-dimension embedding whitening statistics (the
    // standardization pass before any distance is trustworthy).
    //
    // (This batch's first draft also carried a padding-waste audit; it
    // duplicated q291 — found in the round-9 dedup audit and removed.)
    //
    // House rules as elsewhere: integer micro arithmetic; the per-dim
    // sqrt runs map-side on exact integers over a dim-bounded table
    // (q295's rule); identical aliases both sides, total ORDER BY.

    // ----- personalized PageRank (teleport-to-seeds) ------------------------
    // q153 ranks GLOBAL centrality; the production recommender
    // question is local: which nodes matter relative to THESE seeds?
    // Same bipartite part/supplier graph and micro-mass arithmetic as
    // q153, but the restart mass returns to the seed set (parts with
    // partkey ≡ 0 mod 97 — a fixed, SF-stable rule) instead of
    // everywhere: r₀ = 1e6 on seeds, 0 elsewhere; each of 3 unrolled
    // rounds r' = (seed ? 150000 : 0) + 85%·Σ r/d — the unnormalized
    // teleport iteration (total mass decays; the RANKING is the
    // answer, stated honestly). Rounds are co-partitioned equi-joins
    // on the edge list, the q153/q251 bounded-round shape. Nodes the
    // walk never reaches simply don't appear — locality is the point.
    ("q340_personalized_pagerank", (s: SparkSession, dir: String) => {
      import s.implicits._
      val e0 = Tables.t(s, dir, "lineitem")
        .select(($"l_partkey" * 2).as("u"), ($"l_suppkey" * 2 + 1).as("v"))
        .distinct()
      val e = e0.unionByName(e0.select($"v".as("u"), $"u".as("v")))
      val deg = e.groupBy($"u").agg(count(lit(1)).as("d"))
      val ed = e.join(deg, Seq("u")).localCheckpoint()
      val seeds = deg.select($"u".as("n"),
        when($"u" % 2 === 0 && ($"u" / 2) % 97 === 0, 1L).otherwise(0L)
          .as("is_seed"))
      var ranks = seeds.select($"n", ($"is_seed" * 1000000L).as("r"))
      for (_ <- 1 to 3) {
        val pushed = ed.as("e")
          .join(ranks.filter($"r" > 0).as("rk"), col("e.u") === col("rk.n"))
          .groupBy(col("e.v").as("n"))
          .agg(expr("CAST((85 * sum(rk.r div e.d)) div 100 AS BIGINT)")
            .as("m"))
        ranks = seeds.join(pushed, Seq("n"), "left")
          .select($"n",
            ($"is_seed" * 150000L + coalesce($"m", lit(0L))).as("r"))
      }
      ranks.filter($"r" > 0)
        .join(seeds, Seq("n"))
        .select($"n".as("node_id"),
          when($"n" % 2 === 0, "part").otherwise("supplier").as("kind"),
          $"is_seed", $"r".as("ppr_micro"))
        .orderBy(desc("ppr_micro"), $"node_id").limit(32)
    }, Some("""
      WITH e0 AS (SELECT DISTINCT l_partkey * 2 AS u, l_suppkey * 2 + 1 AS v
        FROM lineitem),
      e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
      deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY u),
      seeds AS (SELECT u AS n,
          CAST(CASE WHEN u % 2 = 0 AND (u // 2) % 97 = 0 THEN 1 ELSE 0 END
            AS BIGINT) AS is_seed
        FROM deg),
      r0 AS (SELECT n, is_seed * 1000000 AS r FROM seeds),
      p1 AS (SELECT e.v AS n,
          CAST((85 * sum(r0.r // deg.d)) // 100 AS BIGINT) AS m
        FROM e JOIN deg USING (u) JOIN r0 ON r0.n = e.u AND r0.r > 0
        GROUP BY e.v),
      r1 AS (SELECT s.n, s.is_seed * 150000 + coalesce(p1.m, 0) AS r
        FROM seeds s LEFT JOIN p1 ON s.n = p1.n),
      p2 AS (SELECT e.v AS n,
          CAST((85 * sum(r1.r // deg.d)) // 100 AS BIGINT) AS m
        FROM e JOIN deg USING (u) JOIN r1 ON r1.n = e.u AND r1.r > 0
        GROUP BY e.v),
      r2 AS (SELECT s.n, s.is_seed * 150000 + coalesce(p2.m, 0) AS r
        FROM seeds s LEFT JOIN p2 ON s.n = p2.n),
      p3 AS (SELECT e.v AS n,
          CAST((85 * sum(r2.r // deg.d)) // 100 AS BIGINT) AS m
        FROM e JOIN deg USING (u) JOIN r2 ON r2.n = e.u AND r2.r > 0
        GROUP BY e.v),
      r3 AS (SELECT s.n, s.is_seed * 150000 + coalesce(p3.m, 0) AS r
        FROM seeds s LEFT JOIN p3 ON s.n = p3.n)
      SELECT r3.n AS node_id,
        CASE WHEN r3.n % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
        s.is_seed, r3.r AS ppr_micro
      FROM r3 JOIN seeds s ON r3.n = s.n WHERE r3.r > 0
      ORDER BY ppr_micro DESC, node_id LIMIT 32""")),

    // The Wald–Wolfowitz runs test (is the daily error-rate's wander
    // around its median RANDOM, or does it trend/oscillate — the
    // randomness gate the CUSUM/EWMA/SPRT control charts all silently
    // assume), session gap-threshold sensitivity (how much the session
    // count itself depends on the 30-minute convention), and daily top-k
    // churn (rank-stability monitoring of the revenue leaderboard).
    //
    // House rules as elsewhere: integer micro arithmetic, the one sqrt
    // on the single output row from exact-integer operands (q295's
    // rule), identical aliases both sides, total ORDER BY.

    // ----- session gap-threshold sensitivity --------------------------------
    // Every sessionization (q28, q144, q171) hard-codes a gap; this
    // measures what the choice COSTS: for gaps of 5/15/30/60 minutes,
    // the session count, the share of inter-event gaps that split, and
    // events-per-session — all from ONE per-user lag pass with four
    // conditional counters (no fanout, no re-sessionization per
    // threshold: a session count is just n_users + #gaps-over). A
    // cliff between adjacent rows means the convention, not the
    // behavior, is driving the metric.
    ("q347_session_gap_sensitivity", (s: SparkSession, dir: String) => {
      import s.implicits._
      val raw = Tables.t(s, dir, "events")
      val tus = raw.schema("ts").dataType.typeName match {
        case "timestamp_ntz" => unix_micros($"ts".cast("timestamp"))
        case _ => unix_micros($"ts")
      }
      val wu = Window.partitionBy($"u").orderBy($"tm", $"event_id")
      val gaps = raw.select($"user_id".as("u"), tus.as("tm"), $"event_id")
        .withColumn("g", $"tm" - lag($"tm", 1).over(wu))
      val agg = gaps.agg(
        countDistinct($"u").as("nu"), count(lit(1)).as("ne"),
        sum(when($"g" > 300L * 1000000, 1L).otherwise(0L)).as("o5"),
        sum(when($"g" > 900L * 1000000, 1L).otherwise(0L)).as("o15"),
        sum(when($"g" > 1800L * 1000000, 1L).otherwise(0L)).as("o30"),
        sum(when($"g" > 3600L * 1000000, 1L).otherwise(0L)).as("o60"),
        sum(when($"g".isNotNull, 1L).otherwise(0L)).as("ng"))
        .localCheckpoint() // one row; reused by the 4-way unpivot
      def row(gapS: Long, oc: String) = agg.select(
        lit(gapS).as("gap_s"), ($"nu" + col(oc)).as("n_sessions"),
        expr(s"1000000 * $oc div ng").as("split_share_micro"),
        expr(s"1000000 * ne div (nu + $oc)").as("events_per_session_micro"))
      row(300, "o5").unionByName(row(900, "o15"))
        .unionByName(row(1800, "o30")).unionByName(row(3600, "o60"))
        .orderBy($"gap_s")
    }, Some("""
      WITH g AS (SELECT user_id AS u,
          epoch_us(CAST(ts AS TIMESTAMP))
            - lag(epoch_us(CAST(ts AS TIMESTAMP)), 1) OVER
              (PARTITION BY user_id
               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS gp
        FROM events),
      agg AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS nu,
          CAST(count(*) AS BIGINT) AS ne,
          CAST(sum(CASE WHEN gp > 300000000 THEN 1 ELSE 0 END) AS BIGINT)
            AS o5,
          CAST(sum(CASE WHEN gp > 900000000 THEN 1 ELSE 0 END) AS BIGINT)
            AS o15,
          CAST(sum(CASE WHEN gp > 1800000000 THEN 1 ELSE 0 END) AS BIGINT)
            AS o30,
          CAST(sum(CASE WHEN gp > 3600000000 THEN 1 ELSE 0 END) AS BIGINT)
            AS o60,
          CAST(sum(CASE WHEN gp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS ng
        FROM g)
      SELECT gap_s, n_sessions, split_share_micro, events_per_session_micro
      FROM (
        SELECT CAST(300 AS BIGINT) AS gap_s, nu + o5 AS n_sessions,
          1000000 * o5 // ng AS split_share_micro,
          1000000 * ne // (nu + o5) AS events_per_session_micro FROM agg
        UNION ALL SELECT 900, nu + o15, 1000000 * o15 // ng,
          1000000 * ne // (nu + o15) FROM agg
        UNION ALL SELECT 1800, nu + o30, 1000000 * o30 // ng,
          1000000 * ne // (nu + o30) FROM agg
        UNION ALL SELECT 3600, nu + o60, 1000000 * o60 // ng,
          1000000 * ne // (nu + o60) FROM agg)
      ORDER BY gap_s""")),

    // ----- daily top-k revenue churn ----------------------------------------
    // A leaderboard that reshuffles daily is noise; one that never
    // moves is stale — churn rate is the monitoring number in
    // between, and none of the rank operators (q96 ties, q128 heavy
    // hitters, q277 RBO between two FIXED rankings) tracks it OVER
    // TIME. Per ship-day: top-10 parts by revenue cents (row_number
    // per day — day-partitioned window, fully parallel); then one
    // self-equi-join on consecutive days counts the overlap, and
    // churn = 1 − |∩| / min(|top_d|, |top_prev|) (the min guards thin
    // early days that field fewer than 10 parts). Output one row per
    // day with a predecessor.
    ("q348_topk_churn", (s: SparkSession, dir: String) => {
      import s.implicits._
      val rev = Tables.t(s, dir, "lineitem")
        .select(datediff(to_date($"l_shipdate"),
          lit("1970-01-01").cast("date")).cast("long").as("d"),
          $"l_partkey".as("pk"),
          expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
            .as("cents"))
        .groupBy($"d", $"pk").agg(sum($"cents").as("rev"))
      val wd = Window.partitionBy($"d").orderBy(desc("rev"), $"pk")
      val top = rev.withColumn("rn", row_number().over(wd))
        .filter($"rn" <= 10).select($"d", $"pk")
        .localCheckpoint() // reused: both sides of the consecutive join
      val sizes = top.groupBy($"d").agg(count(lit(1)).as("k"))
      val common = top.toDF("d", "pk")
        .join(top.toDF("d2", "pk").withColumn("d", $"d2" + 1), Seq("d", "pk"))
        .groupBy($"d").agg(count(lit(1)).as("n_common"))
      sizes.join(sizes.toDF("dp", "kp").withColumn("d", $"dp" + 1), Seq("d"))
        .join(common, Seq("d"), "left")
        .select($"d".as("day"), $"k".as("n_top"), $"kp".as("n_prev"),
          coalesce($"n_common", lit(0L)).as("n_common"),
          expr("""1000000 - 1000000 * coalesce(n_common, 0)
                  div least(k, kp)""").as("churn_micro"))
        .orderBy($"day")
    }, Some("""
      WITH rev AS (SELECT
          CAST(date_diff('day', DATE '1970-01-01',
            CAST(l_shipdate AS DATE)) AS BIGINT) AS d,
          l_partkey AS pk,
          CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS rev
        FROM lineitem GROUP BY 1, 2),
      top AS (SELECT d, pk FROM
        (SELECT d, pk, row_number() OVER
           (PARTITION BY d ORDER BY rev DESC, pk) AS rn FROM rev)
        WHERE rn <= 10),
      sizes AS (SELECT d, CAST(count(*) AS BIGINT) AS k
        FROM top GROUP BY 1),
      common AS (SELECT a.d, CAST(count(*) AS BIGINT) AS n_common
        FROM top a JOIN top b ON a.pk = b.pk AND b.d = a.d - 1
        GROUP BY 1)
      SELECT s.d AS day, s.k AS n_top, sp.k AS n_prev,
        coalesce(c.n_common, 0) AS n_common,
        1000000 - 1000000 * coalesce(c.n_common, 0) // least(s.k, sp.k)
          AS churn_micro
      FROM sizes s JOIN sizes sp ON sp.d = s.d - 1
      LEFT JOIN common c ON c.d = s.d
      ORDER BY day""")),

    // ----- Flesch-style readability gate ------------------------------------
    // The curation classic q17's length/punctuation ratios skip:
    // reading ease from words-per-sentence and syllables-per-word.
    // Deterministic proxies only — sentences = [.!?]+ runs in the RAW
    // text (min 1), syllables = [aeiou]+ vowel groups in the lowered
    // text, words = normText tokens — and the Flesch formula in exact
    // milli: 206835 − 1015·(w div s... rather, the two ratios carried
    // as integer milli before weighting, each floor documented. The
    // verdict column applies the standard "≥ 30 = readable by
    // college-level readers" bar. Map-only over documents; the one
    // regex pass per column is codegen'd.
    ("q351_readability", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id",
          size(split(TA.normText($"text"), " ")).cast("long").as("w"),
          greatest(lit(1L),
            size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long"))
            .as("sen"),
          greatest(lit(1L),
            size(expr("regexp_extract_all(lower(text), '[aeiou]+', 0)"))
              .cast("long")).as("syl"))
        .filter($"w" > 0)
        .select($"doc_id", $"w".as("n_words"), $"sen".as("n_sentences"),
          $"syl".as("n_syllables"),
          expr("""206835 - 1015 * (1000 * w div sen) div 1000
                  - 84600 * (1000 * syl div w) div 1000""")
            .as("flesch_milli"))
        .select($"doc_id", $"n_words", $"n_sentences", $"n_syllables",
          $"flesch_milli",
          ($"flesch_milli" >= 30000L).cast("long").as("readable"))
        .orderBy($"doc_id")
    }, Some(s"""
      WITH d AS (SELECT doc_id,
          CAST(len(string_split(${TA.normTextSql}, ' ')) AS BIGINT) AS w,
          greatest(CAST(1 AS BIGINT),
            CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS sen,
          greatest(CAST(1 AS BIGINT),
            CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT))
            AS syl
        FROM documents)
      SELECT doc_id, w AS n_words, sen AS n_sentences, syl AS n_syllables,
        206835 - 1015 * (1000 * w // sen) // 1000
          - 84600 * (1000 * syl // w) // 1000 AS flesch_milli,
        CAST(CASE WHEN 206835 - 1015 * (1000 * w // sen) // 1000
          - 84600 * (1000 * syl // w) // 1000 >= 30000
          THEN 1 ELSE 0 END AS BIGINT) AS readable
      FROM d WHERE w > 0 ORDER BY doc_id""")),

    // The staged (disk-bounded) execution forms of the
    // two wedge-heavy graph operators as first-class oracle-gated
    // queries. The single-shot forms (q321 capped Adamic–Adar, q272
    // local clustering) aggregate the WHOLE wedge volume in one shuffle:
    // correct, and the right plan on a many-disk cluster, but one box's
    // spill disk is the binding constraint past ×10 scale
    // (bench/r09_scale100_q321.json / _q272.json are the failure
    // baselines — both exhaust ~78 GB of spill at ×100). The staged
    // forms run `slices` sequential sub-jobs, each owning the
    // `pmod(hash(second-leg), slices)` slice of the wedge space; because
    // the slice key is a function of the aggregate key alone, per-slice
    // aggregates are exact and compose losslessly (top-k of unioned
    // per-slice top-ks for q353; summed disjoint partial counts for
    // q354), so the results are BIT-IDENTICAL to the single-shot forms
    // and gate against the same oracle SQL — what changes is only peak
    // disk: wedge-volume/slices per sub-job instead of everything at
    // once. This is the classic out-of-core block-processing bound,
    // declared as Spark jobs: on a 1000-executor cluster you'd set
    // slices = 1 (the shuffle already spreads over 1000 disks); on a
    // disk-constrained deployment you turn the dial up and trade
    // `slices-1` extra scans of the (checkpointed) inputs for an
    // O(1/slices) disk ceiling. Round11Spec pins slice-count invariance
    // (1, 3, 4 slices all bit-equal) and the ×30 probes in BENCHNOTES.md
    // show the staged forms completing where the single-shot forms
    // cannot.

    // ----- composed end-to-end curation pipeline --------------------------
    // The battery verifies every curation stage SOLO; this proves the
    // production chain composes in ONE DAG under one oracle: exact
    // dedup (q20's keep-min-id per content hash) → near-dup cluster +
    // survivor (q177's 10-token-prefix blocking, keep the longest) →
    // quality/langID gates (q17's length floor + q18's
    // argmax-stopword language agreeing with the metadata lang) →
    // contamination screen (q111's ≥2-shared-3-grams-vs-eval-slice
    // drop) → temperature-α=0.5 source sampling (q107's weights over
    // the SURVIVORS, q110's hash-Bernoulli apply) → sequence packing
    // (q106's two-level prefix sum over the sampled set). Funnel
    // semantics throughout: each stage sees only the previous stage's
    // survivors — the near-dup canonical is chosen among exact
    // survivors (f1-first window order makes the subset rank exact in
    // one pass), the sampling weights aggregate the decontaminated
    // set, the packer's global token offsets cover the sampled set
    // only. The whole funnel is ONE scan producing cumulative per-doc
    // flags f1..f5 (q109's no-per-stage-rescan rule, extended to the
    // deep chain), checkpointed once and reused by the weight branch,
    // the packer and the report; the contamination flag is per-doc
    // independent, so screening the full raw set equals screening the
    // gate survivors (the flags conjoin). Output: the per-source
    // funnel (docs surviving each stage), sampled token mass, and the
    // packer's boundary-straddler count — integer-exact except the
    // q107/q110-validated IEEE sqrt/division weight chain.
    ("q352_curation_pipeline", (s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.spread(Tables.t(s, dir, "documents"))
      val raw = docs.filter($"doc_id" % 97 =!= 0)
      val scored = TA.langScores(raw, "doc_id", "text")
      val scores = TA.Stopwords.map { case (l, _) => l -> col(s"score_$l") }
      val t1 = scored.withColumn("f1", row_number().over(
        Window.partitionBy(md5($"text")).orderBy($"doc_id")) === 1)
      val t2 = t1
        .withColumn("ck",
          md5(array_join(slice(split(TA.normText($"text"), " "), 1, 10), " ")))
        .withColumn("f2", $"f1" && row_number().over(
          Window.partitionBy($"ck")
            .orderBy($"f1".desc, desc("n_chars"), $"doc_id")) === 1)
      val t3 = t2.withColumn("f3",
        $"f2" && length($"text") >= 60 && TA.langPredict(scores) === $"lang")
      def ngrams(df: DataFrame): DataFrame = df
        .select($"doc_id", split(TA.normText($"text"), " ").as("a"))
        .filter(size($"a") >= 3)
        .select($"doc_id", explode(expr(
          "transform(sequence(1, size(a) - 2), j -> array_join(slice(a, j, 3), ' '))"))
          .as("ngram"))
        .distinct()
      val evalG = ngrams(docs.filter($"doc_id" % 97 === 0))
        .withColumnRenamed("doc_id", "eval_doc_id")
      val hits = ngrams(raw).join(evalG, Seq("ngram"))
        .groupBy($"doc_id", $"eval_doc_id").agg(count(lit(1)).as("n_shared"))
        .filter($"n_shared" >= 2)
        .select($"doc_id").distinct().withColumn("contam", lit(true))
      val flags = t3.join(hits, Seq("doc_id"), "left")
        .withColumn("f4", $"f3" && !coalesce($"contam", lit(false)))
        .withColumn("n_tokens", CurationQueries.tokCount(TA.normText($"text")))
        .select($"doc_id", $"source", $"f1", $"f2", $"f3", $"f4", $"n_tokens")
        .localCheckpoint() // ONE funnel scan; weights + packer + report reuse it
      val perSrc = flags.filter($"f4").groupBy($"source")
        .agg(sum($"n_tokens").as("src_tokens"))
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val weights = perSrc
        .withColumn("tot_tokens", sum($"src_tokens").over(wAll))
        .withColumn("max_tokens", max($"src_tokens").over(wAll))
        .select($"source", (sqrt($"src_tokens".cast("double") / $"tot_tokens") /
          sqrt($"max_tokens".cast("double") / $"tot_tokens")).as("mix_weight"))
      val sel = flags.join(broadcast(weights), Seq("source"), "left")
        .withColumn("h01",
          conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
            .cast("long").cast("double") / 4294967296.0)
        .withColumn("f5", $"f4" && coalesce($"h01" < $"mix_weight", lit(false)))
      val samp = sel.filter($"f5").select($"doc_id", $"source", $"n_tokens",
        floor($"doc_id" / 65536).cast("long").as("grp"))
      val wIn = Window.partitionBy($"grp").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withCum = samp.withColumn("cum_in_grp", sum($"n_tokens").over(wIn))
      val grpTotals = samp.groupBy($"grp").agg(sum($"n_tokens").as("grp_tot"))
      val wG = Window.orderBy($"grp")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offsets = grpTotals
        .withColumn("grp_off", sum($"grp_tot").over(wG) - $"grp_tot")
        .select($"grp", $"grp_off")
      val packed = withCum.join(broadcast(offsets), Seq("grp"))
        .withColumn("start_tok", $"grp_off" + $"cum_in_grp" - $"n_tokens")
        .withColumn("bin_first", floor($"start_tok" / 512).cast("long"))
        .withColumn("bin_last", when($"n_tokens" === 0, floor($"start_tok" / 512))
          .otherwise(floor(($"start_tok" + $"n_tokens" - 1) / 512)).cast("long"))
      val straddle = packed.groupBy($"source")
        .agg(sum(when($"bin_last" > $"bin_first", 1L).otherwise(0L))
          .as("n_straddle"))
      sel.groupBy($"source").agg(
          count(lit(1)).as("n_raw"),
          sum($"f1".cast("long")).as("n_exact"),
          sum($"f2".cast("long")).as("n_canon"),
          sum($"f3".cast("long")).as("n_gate"),
          sum($"f4".cast("long")).as("n_clean"),
          sum($"f5".cast("long")).as("n_sampled"),
          sum(when($"f5", $"n_tokens").otherwise(0L)).as("tok_sampled"))
        .join(straddle, Seq("source"), "left")
        .select($"source", $"n_raw", $"n_exact", $"n_canon", $"n_gate",
          $"n_clean", $"n_sampled", $"tok_sampled",
          coalesce($"n_straddle", lit(0L)).as("n_straddle"))
        .orderBy($"source")
    }, Some {
      val tokCountSql = CurationQueries.tokCountSql
      val scoreSql = TA.Stopwords.map { case (l, ws) =>
        val inList = ws.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t IN ($inList))) AS score_$l"
      }.mkString(",\n          ")
      val langs = TA.Stopwords.map(_._1).sorted
      val maxExpr = s"greatest(${langs.map("score_" + _).mkString(", ")})"
      val predChain = langs.map(l => s"WHEN score_$l = $maxExpr THEN '$l'").mkString(" ")
      s"""
      WITH raw AS (SELECT doc_id, source, lang, n_chars, text
        FROM documents WHERE doc_id % 97 <> 0),
      t1 AS (SELECT *,
          (row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1) AS f1
        FROM raw),
      t2 AS (SELECT *, (f1 AND row_number() OVER (PARTITION BY
            md5(array_to_string(list_slice(string_split($normSql, ' '), 1, 10), ' '))
            ORDER BY f1 DESC, n_chars DESC, doc_id) = 1) AS f2
        FROM t1),
      sc AS (SELECT doc_id,
          $scoreSql
        FROM raw),
      t3 AS (SELECT t2.*, (f2 AND length(text) >= 60 AND
            (CASE WHEN $maxExpr = 0 THEN 'und' $predChain ELSE 'und' END) = lang) AS f3
        FROM t2 JOIN sc USING (doc_id)),
      base AS (SELECT doc_id, string_split($normSql, ' ') AS a
        FROM documents WHERE len(string_split($normSql, ' ')) >= 3),
      pos AS (SELECT doc_id, a, unnest(range(1, len(a) - 1)) AS j FROM base),
      grams AS (SELECT DISTINCT doc_id,
          array_to_string(list_slice(a, CAST(j AS INT), CAST(j + 2 AS INT)), ' ') AS ngram
        FROM pos),
      corpus AS (SELECT * FROM grams WHERE doc_id % 97 <> 0),
      ev AS (SELECT doc_id AS eval_doc_id, ngram FROM grams WHERE doc_id % 97 = 0),
      pairs AS (SELECT c.doc_id, e.eval_doc_id, count(*) AS n_shared
        FROM corpus c JOIN ev e USING (ngram) GROUP BY 1, 2),
      hits AS (SELECT DISTINCT doc_id FROM pairs WHERE n_shared >= 2),
      t4 AS (SELECT t3.*,
          (f3 AND doc_id NOT IN (SELECT doc_id FROM hits)) AS f4,
          CAST($tokCountSql AS BIGINT) AS n_tokens
        FROM t3),
      srct AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
        FROM t4 WHERE f4 GROUP BY source),
      tt AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS tot_tokens,
          CAST(max(src_tokens) AS BIGINT) AS max_tokens FROM srct),
      w AS (SELECT source,
          sqrt(CAST(src_tokens AS DOUBLE) / tot_tokens)
            / sqrt(CAST(max_tokens AS DOUBLE) / tot_tokens) AS mix_weight
        FROM srct CROSS JOIN tt),
      t5 AS (SELECT t4.*, (f4 AND COALESCE(
            ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              / 4294967296.0 < mix_weight, FALSE)) AS f5
        FROM t4 LEFT JOIN w USING (source)),
      pk AS (SELECT doc_id, source, n_tokens,
          CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
            - n_tokens AS BIGINT) AS start_tok
        FROM t5 WHERE f5),
      pb AS (SELECT source,
          CAST(floor(start_tok / 512.0) AS BIGINT) AS bin_first,
          CAST(CASE WHEN n_tokens = 0 THEN floor(start_tok / 512.0)
               ELSE floor((start_tok + n_tokens - 1) / 512.0) END AS BIGINT) AS bin_last
        FROM pk),
      st AS (SELECT source,
          CAST(sum(CASE WHEN bin_last > bin_first THEN 1 ELSE 0 END) AS BIGINT)
            AS n_straddle
        FROM pb GROUP BY source),
      fn AS (SELECT source, CAST(count(*) AS BIGINT) AS n_raw,
          CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
          CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS n_canon,
          CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS n_gate,
          CAST(sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
          CAST(sum(CASE WHEN f5 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
          CAST(sum(CASE WHEN f5 THEN n_tokens ELSE 0 END) AS BIGINT) AS tok_sampled
        FROM t5 GROUP BY source)
      SELECT fn.source, n_raw, n_exact, n_canon, n_gate, n_clean, n_sampled,
        tok_sampled, CAST(COALESCE(st.n_straddle, 0) AS BIGINT) AS n_straddle
      FROM fn LEFT JOIN st USING (source) ORDER BY source"""
    }),

    // ----- Expected Reciprocal Rank (cascade model) -----------------------
    // The cascade-click retrieval metric over per-customer order
    // rankings with hash-derived graded relevance g ∈ {0..3}. The
    // satisfaction probabilities R = (2^g−1)/8 are exact dyadic
    // rationals, so the cascade products are EXACT floats (≤30
    // mantissa bits over 10 ranks) and engine-order-independent; the
    // per-query sum folds in rank order on both sides. Output is the
    // bounded ERR histogram — per-query metrics never leave the
    // executor as a float reduction. nDCG/MRR/AP (q293/q294) are
    // position-discount metrics; ERR is the dependent-judgment cascade
    // (a doc's credit is gated by everything ranked above it).
    ("q360_err_ranking", (s: SparkSession, dir: String) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      val ranked = Tables.t(s, dir, "orders")
        .select($"o_custkey", $"o_orderkey", $"o_totalprice")
        .withColumn("r", row_number().over(w)).filter($"r" <= 10)
        .withColumn("g", expr(
          "CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 8), 16, 10) AS BIGINT) % 4"))
        .withColumn("rr", expr(
          "CASE WHEN g = 0 THEN 0.0 WHEN g = 1 THEN 0.125 WHEN g = 2 THEN 0.375 ELSE 0.875 END"))
      ranked.groupBy($"o_custkey")
        .agg(collect_list(struct($"r", $"rr")).as("xs"))
        .withColumn("err", expr(
          """aggregate(array_sort(xs),
               named_struct('e', CAST(0.0 AS DOUBLE), 'p', CAST(1.0 AS DOUBLE)),
               (acc, x) -> named_struct(
                 'e', acc.e + acc.p * x.rr / CAST(x.r AS DOUBLE),
                 'p', acc.p * (1.0 - x.rr)),
               acc -> acc.e)"""))
        .groupBy(floor($"err" * 20).cast("long").as("err_bin"))
        .agg(count(lit(1)).as("n_queries"),
          min($"err").as("err_min"), max($"err").as("err_max"))
        .orderBy($"err_bin")
    }, Some("""
      WITH ranked AS (SELECT o_custkey, o_orderkey,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS r
        FROM orders),
      g AS (SELECT o_custkey, r,
          ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 4 AS gr
        FROM ranked WHERE r <= 10),
      rr AS (SELECT o_custkey, r,
          CASE WHEN gr = 0 THEN 0.0 WHEN gr = 1 THEN 0.125
               WHEN gr = 2 THEN 0.375 ELSE 0.875 END AS rv
        FROM g),
      pb AS (SELECT o_custkey, r, rv,
          COALESCE(product(1.0 - rv) OVER (PARTITION BY o_custkey ORDER BY r
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 1.0) AS pprod
        FROM rr),
      c AS (SELECT o_custkey, r, pprod * rv / CAST(r AS DOUBLE) AS contrib
        FROM pb),
      e AS (SELECT o_custkey,
          list_reduce(list(contrib ORDER BY r), (a, b) -> a + b) AS err
        FROM c GROUP BY o_custkey)
      SELECT CAST(floor(err * 20) AS BIGINT) AS err_bin,
        CAST(count(*) AS BIGINT) AS n_queries,
        min(err) AS err_min, max(err) AS err_max
      FROM e GROUP BY 1 ORDER BY 1""")),

    // The privacy-risk battery a training-data
    // pipeline runs before releasing metadata (k-anonymity ladder,
    // l-diversity, t-closeness — all pure integer counting over bounded
    // equivalence-class grids), and the two classical LM-smoothing
    // estimators that q336's add-one filter stops short of (Good–Turing
    // frequency-of-frequencies re-estimation, interpolated Kneser–Ney
    // with the exact rational discount D = 3/4).
    //
    // Float discipline: k/l ladders never leave BIGINT; t-closeness
    // compares cross-multiplied DECIMAL(38,0) before its one double
    // ratio per class; GT and KN clear every probability to an exact
    // integer-division micro-unit (r* and p_KN are rationals by
    // construction once D = 3/4).

    // ----- k-anonymity ladder ---------------------------------------------
    // Re-identification risk of the released metadata grid, per
    // quasi-identifier ladder rung: under QI = (nation), (nation,
    // segment), (nation, segment, $1000-balance band), how small do
    // the equivalence classes get? Reports per rung: class count,
    // k_min, rows in classes below k=5, and singleton (unique) rows —
    // the uniqueness curve IS the risk curve. One finest-grid
    // aggregate, then two re-aggregations of the ≤25·5·11-row grid
    // upward (rollup-without-Expand: each coarser rung sums the
    // finest counts, so the scan runs once and no Expand multiplies
    // rows). Pure integer counting.
    ("q387_k_anonymity", (s: SparkSession, dir: String) => {
      import s.implicits._
      val fine = custQi(s, dir)
        .groupBy($"nat", $"seg", $"band").agg(count(lit(1)).as("k"))
        .localCheckpoint() // reused by all three rungs
      def rung(level: Int, df: DataFrame) = df
        .agg(count(lit(1)).as("n_classes"), min($"k").as("k_min"),
          sum(when($"k" < 5, $"k").otherwise(0L)).as("rows_below_5"),
          sum(when($"k" === 1, 1L).otherwise(0L)).as("unique_rows"))
        .select(lit(level.toLong).as("qi_level"), $"n_classes", $"k_min",
          $"rows_below_5", $"unique_rows")
      val l3 = rung(3, fine)
      val l2 = rung(2, fine.groupBy($"nat", $"seg").agg(sum($"k").as("k")))
      val l1 = rung(1, fine.groupBy($"nat").agg(sum($"k").as("k")))
      l1.unionAll(l2).unionAll(l3).orderBy($"qi_level")
    }, Some(s"""
      WITH $CustQiSql,
      fine AS (SELECT nat, seg, band, CAST(count(*) AS BIGINT) AS k
        FROM qi GROUP BY 1, 2, 3),
      l2g AS (SELECT nat, seg, CAST(sum(k) AS BIGINT) AS k FROM fine GROUP BY 1, 2),
      l1g AS (SELECT nat, CAST(sum(k) AS BIGINT) AS k FROM fine GROUP BY 1),
      r3 AS (SELECT CAST(3 AS BIGINT) AS qi_level, CAST(count(*) AS BIGINT) AS n_classes,
          CAST(min(k) AS BIGINT) AS k_min,
          CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS rows_below_5,
          CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS unique_rows
        FROM fine),
      r2 AS (SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT), CAST(min(k) AS BIGINT),
          CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT),
          CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) FROM l2g),
      r1 AS (SELECT CAST(1 AS BIGINT) AS qi_level, CAST(count(*) AS BIGINT) AS n_classes,
          CAST(min(k) AS BIGINT) AS k_min,
          CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS rows_below_5,
          CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS unique_rows FROM l1g)
      SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
      ORDER BY qi_level""")),

    // ----- l-diversity -----------------------------------------------------
    // q387 counts class SIZES; a class can be large yet homogeneous —
    // every member sharing the sensitive value leaks it regardless of
    // k. Distinct-l per equivalence class (QI = nation × balance
    // band, sensitive = market segment), reported as the l histogram
    // plus the min and the count of classes below l = 3. Distinct
    // sensitive values per class come off the (class × segment) grid
    // (≤ 25·11·5 cells), so nothing beyond the grid shuffles.
    ("q388_l_diversity", (s: SparkSession, dir: String) => {
      import s.implicits._
      val cells = custQi(s, dir)
        .groupBy($"nat", $"band", $"seg").agg(count(lit(1)).as("c"))
      val perClass = cells.groupBy($"nat", $"band")
        .agg(count(lit(1)).as("l")) // one cell per distinct segment
        .localCheckpoint()
      val hist = perClass.groupBy($"l").agg(count(lit(1)).as("n_classes"))
      val summary = perClass.agg(min($"l").as("l_min"),
        sum(when($"l" < 3, 1L).otherwise(0L)).as("classes_below_3"))
      hist.crossJoin(broadcast(summary))
        .select($"l", $"n_classes", $"l_min", $"classes_below_3")
        .orderBy($"l")
    }, Some(s"""
      WITH $CustQiSql,
      cells AS (SELECT nat, band, seg, CAST(count(*) AS BIGINT) AS c
        FROM qi GROUP BY 1, 2, 3),
      pc AS (SELECT nat, band, CAST(count(*) AS BIGINT) AS l FROM cells GROUP BY 1, 2),
      hist AS (SELECT l, CAST(count(*) AS BIGINT) AS n_classes FROM pc GROUP BY 1),
      sm AS (SELECT CAST(min(l) AS BIGINT) AS l_min,
          CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS classes_below_3
        FROM pc)
      SELECT l, n_classes, l_min, classes_below_3 FROM hist, sm ORDER BY l""")),

    // ----- t-closeness ------------------------------------------------------
    // q388 counts distinct sensitive values; t-closeness asks whether
    // a class's sensitive DISTRIBUTION drifts from the global one
    // (skew leaks even at high l). Per class, total variation
    // distance to the global segment distribution — for categorical
    // attributes TVD is the standard instantiation of the EMD in the
    // definition. The threshold test is EXACT: TVD_c > 1/5 iff
    // 5·Σ_s|n_cs·N − N_s·n_c| > 2·n_c·N in DECIMAL(38,0) (the full
    // class × segment grid includes absent cells, whose term is
    // N_s·n_c); the reported max TVD is the one double per class.
    ("q389_t_closeness", (s: SparkSession, dir: String) => {
      import s.implicits._
      val rows = custQi(s, dir)
      val cells = rows.groupBy($"nat", $"band", $"seg").agg(count(lit(1)).as("ncs"))
      val classes = cells.groupBy($"nat", $"band").agg(sum($"ncs").as("nc"))
      val global = cells.groupBy($"seg").agg(sum($"ncs").as("ns"))
      val total = rows.agg(count(lit(1)).as("n"))
      val grid = classes.crossJoin(broadcast(global)) // full grid incl. absent cells
        .join(cells, Seq("nat", "band", "seg"), "left")
        .withColumn("ncs", coalesce($"ncs", lit(0L)))
      val perClass = grid.crossJoin(broadcast(total))
        .groupBy($"nat", $"band", $"nc", $"n")
        .agg(sum(abs($"ncs".cast(DecimalType(38, 0)) * $"n"
          - $"ns".cast(DecimalType(38, 0)) * $"nc")).as("sdev"))
        .withColumn("exceed",
          ($"sdev" * 5 > $"nc".cast(DecimalType(38, 0)) * $"n" * 2).cast("long"))
        .withColumn("tvd", expr(
          "CAST(sdev AS DOUBLE) / (2.0 * CAST(nc AS DOUBLE) * CAST(n AS DOUBLE))"))
      perClass.agg(count(lit(1)).as("n_classes"),
        sum($"exceed").as("classes_over_t"), max($"tvd").as("max_tvd"))
    }, Some(s"""
      WITH $CustQiSql,
      cells AS (SELECT nat, band, seg, CAST(count(*) AS BIGINT) AS ncs
        FROM qi GROUP BY 1, 2, 3),
      cl AS (SELECT nat, band, CAST(sum(ncs) AS BIGINT) AS nc FROM cells GROUP BY 1, 2),
      gl AS (SELECT seg, CAST(sum(ncs) AS BIGINT) AS ns FROM cells GROUP BY 1),
      tt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qi),
      grid AS (SELECT cl.nat, cl.band, cl.nc, gl.seg, gl.ns,
          CAST(coalesce(cells.ncs, 0) AS BIGINT) AS ncs
        FROM cl CROSS JOIN gl
        LEFT JOIN cells ON cells.nat = cl.nat AND cells.band = cl.band
          AND cells.seg = gl.seg),
      pc AS (SELECT nat, band, nc, n,
          sum(abs(CAST(ncs AS DECIMAL(38,0)) * n - CAST(ns AS DECIMAL(38,0)) * nc)) AS sdev
        FROM grid, tt GROUP BY 1, 2, 3, 4),
      pc2 AS (SELECT nat, band,
          CASE WHEN sdev * 5 > CAST(nc AS DECIMAL(38,0)) * n * 2 THEN 1 ELSE 0 END AS exceed,
          CAST(sdev AS DOUBLE) / (2.0 * CAST(nc AS DOUBLE) * CAST(n AS DOUBLE)) AS tvd
        FROM pc)
      SELECT CAST(count(*) AS BIGINT) AS n_classes,
        CAST(sum(exceed) AS BIGINT) AS classes_over_t,
        max(tvd) AS max_tvd
      FROM pc2""")),

    // ----- Good–Turing count-of-counts -------------------------------------
    // q336 smooths by ADDING mass; Good–Turing re-estimates the count
    // VALUES themselves from the frequency-of-frequencies curve:
    // r* = (r+1)·N_{r+1}/N_r, with the unseen mass P0 = N_1/N — the
    // estimator every leave-one-out argument reduces to. Exact by
    // construction: counts → count-of-counts (two bounded
    // aggregations), r* and P0 in integer micro-units via BIGINT
    // division. Rows: the 10 SMALLEST observed counts — the
    // low-frequency regime GT exists for, chosen relatively because
    // an absolute r ≤ 10 cut is empty on a pool-vocabulary corpus
    // where every word repeats (and on any corpus it is the relative
    // bottom of the curve that Katz uses unsmoothed).
    ("q390_good_turing", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select(explode(split(TA.normText($"text"), " ")).as("tok"))
        .filter($"tok" =!= "")
      val counts = toks.groupBy($"tok").agg(count(lit(1)).as("r"))
      val coc = counts.groupBy($"r").agg(count(lit(1)).as("nr"))
        .localCheckpoint() // reused: successor join + totals
      val tot = coc.agg(sum($"r".cast(DecimalType(38, 0)) * $"nr")
        .cast("long").as("n"))
      // successor lookup as a broadcast self-join on r+1, NOT a global
      // lead window (no single-partition WindowExec on the count grid)
      val succ = coc.select(($"r" - 1).as("r"), $"nr".as("nr1"))
      val led = coc.orderBy($"r").limit(10) // TakeOrdered: bottom of the curve
        .join(broadcast(succ), Seq("r"), "left")
        .withColumn("nr1", coalesce($"nr1", lit(0L)))
      led.crossJoin(broadcast(tot))
        .select($"r", $"nr", $"nr1".as("nr_next"),
          expr("(r + 1) * nr_next * 1000000 div nr").as("r_star_micro"),
          expr("CASE WHEN r = 1 THEN nr * 1000000 div n ELSE NULL END")
            .as("p0_micro"))
        .orderBy($"r")
    }, Some {
      val norm = TA.normTextSql
      s"""
      WITH t0 AS (SELECT unnest(string_split($norm, ' ')) AS tok FROM documents),
      t1 AS (SELECT tok FROM t0 WHERE tok <> ''),
      cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS r FROM t1 GROUP BY 1),
      coc AS (SELECT r, CAST(count(*) AS BIGINT) AS nr FROM cnt GROUP BY 1),
      tot AS (SELECT CAST(sum(CAST(r AS DECIMAL(38,0)) * nr) AS BIGINT) AS n FROM coc),
      low AS (SELECT r, nr FROM coc ORDER BY r LIMIT 10),
      led AS (SELECT low.r, low.nr,
          CAST(coalesce(s.nr, 0) AS BIGINT) AS nr_next
        FROM low LEFT JOIN coc s ON s.r = low.r + 1)
      SELECT r, nr, nr_next,
        (r + 1) * nr_next * 1000000 // nr AS r_star_micro,
        CASE WHEN r = 1 THEN nr * 1000000 // n ELSE NULL END AS p0_micro
      FROM led, tot ORDER BY r"""
    }),

    // ----- interpolated Kneser–Ney bigram model ----------------------------
    // The production LM smoothing q336's add-one stands in for: each
    // observed bigram is discounted by exactly D = 3/4 and the freed
    // mass backs off to the CONTINUATION probability (how many
    // contexts a word follows — type counts, not token counts; the
    // "San Francisco" correction). D = 3/4 keeps every probability a
    // rational cleared by 4·c(a·)·B:
    //   p_KN(b|a)·4·ca·B = (4·cab − 3)·B + 3·T(a)·cont(b),
    // so p ships as an exact BIGINT micro-unit. Emitted for the
    // top-20 bigrams ordered by the exact integer key (cab desc, a,
    // b) — engine-proof ordering, no double enters the sort. Shapes:
    // one lag window per doc, token-keyed count aggregates,
    // TakeOrdered 20.
    ("q391_kneser_ney", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id",
          posexplode(split(TA.normText($"text"), " ")).as(Seq("pos", "tok")))
        .filter($"tok" =!= "")
      val wd = Window.partitionBy($"doc_id").orderBy($"pos")
      val big = toks.withColumn("nxt", lead($"tok", 1).over(wd))
        .filter($"nxt".isNotNull)
        .select($"tok".as("a"), $"nxt".as("b"))
      val cab = big.groupBy($"a", $"b").agg(count(lit(1)).as("cab"))
        .localCheckpoint() // reused: ca, Ta, cont, B, top-k
      val ca = cab.groupBy($"a").agg(sum($"cab").as("ca"), count(lit(1)).as("ta"))
      val cont = cab.groupBy($"b").agg(count(lit(1)).as("contb"))
      val btot = cab.agg(count(lit(1)).as("bb"))
      cab.join(ca, Seq("a")).join(cont, Seq("b"))
        .crossJoin(broadcast(btot))
        .select($"a", $"b", $"cab", $"ca", $"ta", $"contb",
          expr("""((4 * cab - 3) * CAST(bb AS DECIMAL(38,0))
                  + 3 * CAST(ta AS DECIMAL(38,0)) * contb) * 1000000""").as("num"),
          ($"ca".cast(DecimalType(38, 0)) * $"bb" * 4).as("den"))
        .select($"a", $"b", $"cab", $"ca", $"ta", $"contb",
          expr("CAST(num div den AS BIGINT)").as("p_kn_micro"))
        .orderBy($"cab".desc, $"a", $"b").limit(20)
    }, Some {
      val norm = TA.normTextSql
      s"""
      WITH t0 AS (SELECT doc_id, tok, pos FROM
        (SELECT doc_id, unnest(string_split($norm, ' ')) AS tok,
           generate_subscripts(string_split($norm, ' '), 1) AS pos
         FROM documents) WHERE tok <> ''),
      big AS (SELECT a, b FROM
        (SELECT tok AS a, lead(tok, 1) OVER
           (PARTITION BY doc_id ORDER BY pos) AS b FROM t0)
        WHERE b IS NOT NULL),
      cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cab FROM big GROUP BY 1, 2),
      ca AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca, CAST(count(*) AS BIGINT) AS ta
        FROM cab GROUP BY 1),
      cont AS (SELECT b, CAST(count(*) AS BIGINT) AS contb FROM cab GROUP BY 1),
      bt AS (SELECT CAST(count(*) AS BIGINT) AS bb FROM cab)
      SELECT cab.a, cab.b, cab.cab, ca.ca, ca.ta, cont.contb,
        CAST(((4 * cab.cab - 3) * CAST(bt.bb AS HUGEINT)
              + 3 * CAST(ca.ta AS HUGEINT) * cont.contb) * 1000000
          // (CAST(ca.ca AS HUGEINT) * bt.bb * 4) AS BIGINT) AS p_kn_micro
      FROM cab JOIN ca ON cab.a = ca.a JOIN cont ON cab.b = cont.b, bt
      ORDER BY cab.cab DESC, cab.a, cab.b LIMIT 20"""
    }),

    // Pipeline-planning operators — split-conformal
    // coverage (the distribution-free gate-threshold calibrator),
    // a data-driven MinHash LSH parameter planner (re-plan the (bands,
    // rows) budget against the corpus's observed candidate similarity
    // mass), and a token-budget waterfill allocator (the mixture planner
    // that turns per-source quality ranks into an exact allocation).
    //
    // Float discipline: q395/q397 are BIGINT end to end; q396's s-curve
    // probabilities are the one double step, micro-rounded per cell (the
    // q235 rule — Spark's Math.pow and DuckDB's libm pow may differ in
    // the last ulp) before every downstream mass sum runs in integers.

    // ----- MinHash LSH parameter planner -----------------------------------
    // q139 audits the CURRENT plan's estimate quality; this RE-PLANS
    // the signature budget: for every (bands b × rows r) factorization
    // of a 128-permutation budget, the analytic collision curve
    // p(s) = 1 − (1 − s^r)^b is weighted by the corpus's OBSERVED
    // candidate-pair similarity histogram (exact integer Jaccard
    // buckets off the shared q21/q139 shingle-hash candidates), and
    // the plan minimizing expected false-positive + false-negative
    // mass around the 0.5 threshold wins. Candidate generation stays
    // bucketed (band equi-join); everything after the ≤20-row
    // histogram is spine-scale. One double per (plan, bucket) cell,
    // micro-rounded; the masses are BIGINT.
    ("q396_lsh_planner", (s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id".as("id"),
          graft.functions.WordShingleHash32(TA.normText($"text"), 3).as("hs"))
      val (hs, cand) = Dedup.lshCandidates(docs, 4)
      val hist = cand
        .join(hs.select($"id".as("id_a"), $"hs".as("h_a")), Seq("id_a"))
        .join(hs.select($"id".as("id_b"), $"hs".as("h_b")), Seq("id_b"))
        .select(expr("size(array_intersect(h_a, h_b))").cast("long").as("inter"),
          (expr("size(h_a) + size(h_b)")
            - expr("size(array_intersect(h_a, h_b))")).cast("long").as("uni"))
        .filter($"uni" > 0) // an empty-shingle doc has no similarity defined
        .select(least(lit(19L), expr("20 * inter div uni")).as("bkt"))
        .groupBy($"bkt").agg(count(lit(1)).as("n_pairs"))
      val plans = s.range(0, 8)
        .select(expr("CAST(pow(2.0, CAST(id AS DOUBLE)) AS BIGINT)").as("r"))
        .withColumn("b", expr("128 div r"))
      val cells = broadcast(plans).crossJoin(broadcast(hist))
        .withColumn("s", expr("CAST(2 * bkt + 1 AS DOUBLE) / 40.0"))
        .withColumn("p_micro", expr(
          """CAST(floor((1.0 - pow(1.0 - pow(s, CAST(r AS DOUBLE)),
               CAST(b AS DOUBLE))) * 1000000 + 0.5) AS BIGINT)"""))
      val scored = cells.groupBy($"b", $"r").agg(
          sum(when($"bkt" < 10, $"n_pairs" * $"p_micro").otherwise(0L))
            .as("fp_mass_micro"),
          sum(when($"bkt" >= 10, $"n_pairs" * (lit(1000000L) - $"p_micro"))
            .otherwise(0L)).as("fn_mass_micro"))
        .withColumn("err_micro", $"fp_mass_micro" + $"fn_mass_micro")
      val best = scored.agg(min(struct($"err_micro", $"b")).as("m"))
        .select($"m.err_micro".as("best_err"), $"m.b".as("best_b"))
      scored.crossJoin(broadcast(best))
        .select($"b", $"r", $"fp_mass_micro", $"fn_mass_micro", $"err_micro",
          ($"err_micro" === $"best_err" && $"b" === $"best_b").cast("long")
            .as("is_best"))
        .orderBy($"r")
    }, Some(s"""
      ${DedupQueries.minhashCandCte},
      pj AS (SELECT cand.id_a, cand.id_b,
          CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS inter,
          CAST(len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS uni
        FROM cand JOIN hst ha ON ha.doc_id = cand.id_a
        JOIN hst hb ON hb.doc_id = cand.id_b),
      hist AS (SELECT least(19, 20 * inter // uni) AS bkt,
          CAST(count(*) AS BIGINT) AS n_pairs
        FROM pj WHERE uni > 0 GROUP BY 1),
      plans AS (SELECT CAST(pow(2.0, CAST(i AS DOUBLE)) AS BIGINT) AS r,
          128 // CAST(pow(2.0, CAST(i AS DOUBLE)) AS BIGINT) AS b
        FROM (SELECT unnest(generate_series(0, 7)) AS i)),
      cells AS (SELECT b, r, bkt, n_pairs,
          CAST(floor((1.0 - pow(1.0 - pow(CAST(2 * bkt + 1 AS DOUBLE) / 40.0,
            CAST(r AS DOUBLE)), CAST(b AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS p_micro
        FROM plans, hist),
      sc AS (SELECT b, r,
          CAST(sum(CASE WHEN bkt < 10 THEN n_pairs * p_micro ELSE 0 END) AS BIGINT)
            AS fp_mass_micro,
          CAST(sum(CASE WHEN bkt >= 10 THEN n_pairs * (1000000 - p_micro) ELSE 0 END)
            AS BIGINT) AS fn_mass_micro
        FROM cells GROUP BY 1, 2),
      sc2 AS (SELECT *, fp_mass_micro + fn_mass_micro AS err_micro FROM sc),
      bst AS (SELECT err_micro AS best_err, b AS best_b FROM sc2
        ORDER BY err_micro, b LIMIT 1)
      SELECT b, r, fp_mass_micro, fn_mass_micro, err_micro,
        CAST(CASE WHEN err_micro = best_err AND b = best_b THEN 1 ELSE 0 END AS BIGINT)
          AS is_best
      FROM sc2, bst ORDER BY r""")),

    // ----- token-budget waterfill allocator --------------------------------
    // The mixture PLANNER q107/q110's samplers execute: given per-source
    // token supply (n_chars div 4 proxy) and a quality rank (English
    // rate in exact ppm), greedily fill a 40%-of-corpus token budget
    // best-source-first, each source capped at its own supply —
    // allocation a_s = clamp(B − Σ_{better} supply, 0, supply_s). The
    // cumulative runs over the ≤20-row source table (the GridCumulative
    // totals convention: constant partition key states the intent).
    ("q397_token_budget_allocation", (s: SparkSession, dir: String) => {
      import s.implicits._
      val src = Tables.t(s, dir, "documents")
        .groupBy($"source").agg(
          sum(expr("CAST(n_chars AS BIGINT) div 4")).as("supply"),
          count(lit(1)).as("n_docs"),
          sum(($"lang" === "en").cast("long")).as("n_en"))
        .withColumn("q_ppm", expr("n_en * 1000000 div n_docs"))
        .localCheckpoint() // reused: total + fold (one corpus scan, not two)
      val tot = src.agg(sum($"supply").as("tot"))
      val w = Window.partitionBy(lit(0)).orderBy($"q_ppm".desc, $"source")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      src.crossJoin(broadcast(tot))
        .withColumn("budget", expr("tot * 2 div 5"))
        .withColumn("cum", sum($"supply").over(w))
        .withColumn("alloc", expr(
          "greatest(0L, least(supply, budget - (cum - supply)))"))
        .select($"source", $"q_ppm", $"supply", $"budget", $"alloc",
          ($"alloc" === $"supply").cast("long").as("fully_taken"))
        .orderBy($"q_ppm".desc, $"source")
    }, Some("""
      WITH src AS (SELECT source,
          CAST(sum(CAST(n_chars AS BIGINT) // 4) AS BIGINT) AS supply,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
        FROM documents GROUP BY 1),
      s2 AS (SELECT source, supply, n_en * 1000000 // n_docs AS q_ppm FROM src),
      tt AS (SELECT CAST(sum(supply) AS BIGINT) AS tot FROM s2),
      s3 AS (SELECT source, q_ppm, supply, tot * 2 // 5 AS budget,
          CAST(sum(supply) OVER (ORDER BY q_ppm DESC, source) AS BIGINT) AS cum
        FROM s2, tt)
      SELECT source, q_ppm, supply, budget,
        greatest(0, least(supply, budget - (cum - supply))) AS alloc,
        CAST(CASE WHEN greatest(0, least(supply, budget - (cum - supply))) = supply
          THEN 1 ELSE 0 END AS BIGINT) AS fully_taken
      FROM s3 ORDER BY q_ppm DESC, source""")),

    // Embedding-infrastructure health audits — space
    // isotropy indices (is the representation collapsing), LSH bucket
    // balance (the Σocc² candidate-join cost the ANN index actually
    // pays), and scalar-quantization error (the int8-storage decision).
    //
    // Float discipline: q401/q402 aggregate exact quantized integers
    // (participation ratio is the one double chain, folded in dim
    // order); q403 micro-rounds each element's reconstruction error —
    // a pure function of the stored float — before any aggregation.

    // ----- embedding-space isotropy ----------------------------------------
    // q341 standardizes each dimension; this reduces the same per-dim
    // aggregates to the three SPACE-HEALTH indices: the mean-vector
    // ratio ||μ||²/E||x||² (anisotropy — 0 for a centered isotropic
    // cloud, →1 when everything points one way), the diagonal
    // participation ratio (Σvar)²/Σvar² (effective dimensionality —
    // d when variance is spread evenly, 1 under collapse), and the
    // top dimension's variance share. The ratio and share are exact
    // integer divisions off cleared DECIMAL(38,0) moments; PR folds
    // its 64 exact cvar integers in dim order through one double
    // chain. One exploded scan, a 64-row stats table, scalars out.
    ("q401_embedding_isotropy", (s: SparkSession, dir: String) => {
      import s.implicits._
      val dims = Tables.spread(Tables.t(s, dir, "embeddings"))
        .select(posexplode(Similarity.quantize($"embedding")).as(Seq("j0", "x")))
        .select(($"j0" + 1).as("j"), $"x".cast("long").as("v"))
      val st = dims.groupBy($"j").agg(count(lit(1)).as("n"),
          sum($"v").as("sv"),
          sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("svv"))
        .withColumn("cvar", expr(
          "n * svv - CAST(sv AS DECIMAL(38,0)) * sv"))
      st.agg(
          max($"n").as("n"), count(lit(1)).as("d"),
          sum(expr("CAST(sv AS DECIMAL(38,0)) * sv")).as("s2"),
          sum($"svv").as("svtot"),
          sum($"cvar").as("cv1"),
          max($"cvar").as("cvmax"),
          expr("""aggregate(array_sort(collect_list(named_struct(
                'j', j, 'cv', CAST(cvar AS DOUBLE)))),
              CAST(0.0 AS DOUBLE), (acc, t) -> acc + t.cv * t.cv)""").as("cv2"))
        .select($"n", $"d",
          expr("s2 * 1000000 div (n * svtot)").as("mean_norm_ratio_micro"),
          expr("""CAST(floor(CAST(cv1 AS DOUBLE) * CAST(cv1 AS DOUBLE) / cv2
              * 1000000 + 0.5) AS BIGINT)""").as("participation_micro"),
          expr("cvmax * 1000000 div cv1").as("top_var_share_micro"))
    }, Some(s"""
      WITH p AS (SELECT list_transform(embedding,
          x -> round(CAST(x AS DOUBLE) * 10000)) AS qvec FROM embeddings),
      dims AS (SELECT j, CAST(qvec[CAST(j AS INT)] AS BIGINT) AS v
        FROM p, unnest(range(1, len(qvec) + 1)) AS t(j)),
      st AS (SELECT j, CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS sv,
          sum(CAST(v AS HUGEINT) * v) AS svv
        FROM dims GROUP BY 1),
      st2 AS (SELECT *, n * svv - CAST(sv AS HUGEINT) * sv AS cvar FROM st),
      ag AS (SELECT CAST(max(n) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS d,
          sum(CAST(sv AS HUGEINT) * sv) AS s2, sum(svv) AS svtot,
          sum(cvar) AS cv1, max(cvar) AS cvmax,
          list_reduce(list(CAST(cvar AS DOUBLE) * CAST(cvar AS DOUBLE) ORDER BY j),
            (a, b) -> a + b) AS cv2
        FROM st2)
      SELECT n, d,
        CAST(s2 * 1000000 // (n * svtot) AS BIGINT) AS mean_norm_ratio_micro,
        CAST(floor(CAST(cv1 AS DOUBLE) * CAST(cv1 AS DOUBLE) / cv2
          * 1000000 + 0.5) AS BIGINT) AS participation_micro,
        CAST(cvmax * 1000000 // cv1 AS BIGINT) AS top_var_share_micro
      FROM ag""")),

    // ----- LSH bucket-balance audit ----------------------------------------
    // q25 searches with the sign-projection index; this audits what the
    // index COSTS: Σ occupancy² is exactly the candidate-pair volume
    // of the bucket self-join, and the max bucket is the query-latency
    // tail. Reported against the uniform ideal (n/2^p per bucket):
    // skew = max·2^p/n and cost = Σocc²·2^p/n², both exact integer
    // micro-units. One bucket aggregate over the prepared vectors —
    // the audit costs one groupBy, the thing it predicts costs Σocc².
    ("q402_lsh_bucket_balance", (s: SparkSession, dir: String) => {
      import s.implicits._
      val prepared = Similarity.prepare(
        Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
      val nProj = Similarity.OracleProjs.size
      val occ = prepared
        .select(Similarity.lshBucket($"qvec", Similarity.OracleProjs).as("bucket"))
        .groupBy($"bucket").agg(count(lit(1)).as("occ"))
      occ.agg(sum($"occ").as("n"), count(lit(1)).as("buckets_used"),
          max($"occ").as("max_occ"),
          sum(expr("CAST(occ AS DECIMAL(38,0)) * occ")).as("sum_occ2"))
        .select($"n", lit(1L << nProj).as("n_buckets"), $"buckets_used",
          $"max_occ", expr("CAST(sum_occ2 AS BIGINT)").as("sum_occ2"),
          expr(s"max_occ * ${1L << nProj} * 1000000 div n").as("skew_micro"),
          expr(s"""sum_occ2 * ${1L << nProj} * 1000000
            div (CAST(n AS DECIMAL(38,0)) * n)""").as("cost_vs_uniform_micro"))
    }, Some {
      val prepSql = Similarity.prepareSql
      val bucketSql = Similarity.lshBucketSql
      val nb = 1L << Similarity.OracleProjs.size
      s"""
      WITH $prepSql,
      b AS (SELECT vec_id, $bucketSql AS bucket FROM n),
      occ AS (SELECT bucket, CAST(count(*) AS BIGINT) AS occ FROM b GROUP BY 1),
      ag AS (SELECT CAST(sum(occ) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS buckets_used,
          CAST(max(occ) AS BIGINT) AS max_occ,
          sum(CAST(occ AS HUGEINT) * occ) AS sum_occ2
        FROM occ)
      SELECT n, CAST($nb AS BIGINT) AS n_buckets, buckets_used, max_occ,
        CAST(sum_occ2 AS BIGINT) AS sum_occ2,
        max_occ * $nb * 1000000 // n AS skew_micro,
        CAST(sum_occ2 * $nb * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT)
          AS cost_vs_uniform_micro
      FROM ag"""
    }),

    // ----- scalar-quantization error audit ----------------------------------
    // q208 compresses with learned codebooks (vector quantization);
    // this audits the SIMPLER decision — store embeddings at int8 /
    // int10 / the index's own 1e4 scale — by measuring exact
    // reconstruction error per element: e = |round(x·s)/s − x|,
    // micro-rounded per element (a pure function of the stored float,
    // identical on both engines), then integer mean/max per scale.
    // The 3-scale spine broadcasts over one exploded scan.
    ("q403_quantization_error", (s: SparkSession, dir: String) => {
      import s.implicits._
      val elems = Tables.spread(Tables.t(s, dir, "embeddings"))
        .select(explode($"embedding").as("x"))
        .select($"x".cast("double").as("x"))
      val scales = Seq(127L, 1023L, 10000L).toDF("s")
      elems.crossJoin(broadcast(scales))
        .select($"s", expr(
          """CAST(floor(abs(round(x * CAST(s AS DOUBLE)) / CAST(s AS DOUBLE) - x)
             * 1000000000 + 0.5) AS BIGINT)""").as("e_nano"))
        .groupBy($"s")
        .agg(count(lit(1)).as("n_elems"),
          expr("sum(e_nano) div count(1)").as("mean_err_nano"),
          max($"e_nano").as("max_err_nano"))
        .orderBy($"s")
    }, Some("""
      WITH e AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
      sc AS (SELECT CAST(unnest([127, 1023, 10000]) AS BIGINT) AS s),
      t AS (SELECT s,
          CAST(floor(abs(round(x * CAST(s AS DOUBLE)) / CAST(s AS DOUBLE) - x)
            * 1000000000 + 0.5) AS BIGINT) AS e_nano
        FROM e, sc)
      SELECT s, CAST(count(*) AS BIGINT) AS n_elems,
        CAST(sum(e_nano) AS BIGINT) // count(*) AS mean_err_nano,
        max(e_nano) AS max_err_nano
      FROM t GROUP BY 1 ORDER BY s""")),

    // Engine-portable KMV sketch ALGEBRA — the
    // md5-hashed variant of the KMV kernel (functions/KmvMd5.scala) whose
    // buffers and pure-integer estimator (n̂ = ⌊(k−1)·2⁶⁴ / h_(k)⌋, BigInt
    // here / HUGEINT `//` in the oracle) DuckDB replays bit-exactly.
    // Three production shapes the relational KMV queries (q53/q202/q343)
    // don't cover:
    //
    //  - q404 runs the sketch as a typed Aggregator INSIDE Structured
    //    Streaming state (map-side combine to k longs per window, merged
    //    across micro-batches) — the live distinct-users telemetry panel;
    //  - q405 does SET OPERATIONS on persisted per-source buffers — the
    //    pairwise union/Jaccard/intersection matrix q330 computes exactly,
    //    re-derived from 20 k-sized arrays with no token ever re-scanned;
    //  - q406 prefix-merges buffers in ingest order — the marginal
    //    new-vocabulary curve behind "is another crawl worth ingesting".
    //
    // Float discipline: no doubles anywhere — hashes compare in unsigned
    // integer order (sign-bit-flipped longs, so signed sorts work), and
    // every estimate is one exact integer division.

    // ----- streaming windowed KMV: live distinct-users telemetry ----------
    // q67 streams exact windowed COUNTS; this streams a mergeable
    // DISTINCT sketch — the state per (day) key is the k=64-long buffer
    // the typed Aggregator reduces into (map-side combine) and merges
    // across micro-batches, never the user set itself. The oracle
    // replays the buffer relationally: the k-th smallest md5 hash per
    // day via order statistics, then the same integer estimate — the
    // streaming state and the batch replay hash identically.
    ("q404_stream_kmv_window", (s: SparkSession, dir: String) => {
      import s.implicits._
      val tmp = graft.TempScratch.symlinkDir("q404", "events.parquet",
        java.nio.file.Paths.get(s"$dir/events.parquet"))
      val stream = graft.streaming.EventStream
        .streamFromParquetDir(s, tmp.toString)
      val q = stream
        .groupBy(window($"ts", "1 day"))
        .agg(count(lit(1)).as("n_events"),
          KmvDistinctMd5.udf(64)($"user_id".cast("string")).as("users_kmv"))
        .select($"window.start".as("day_start"), $"n_events", $"users_kmv")
        .writeStream.format("memory").queryName("q404_mem")
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      s.table("q404_mem").orderBy("day_start")
    }, Some("""
      WITH h AS (SELECT DISTINCT time_bucket(INTERVAL '1 day', ts) AS day_start,
          ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 16))::UBIGINT AS h
        FROM events),
      r AS (SELECT day_start, h,
          row_number() OVER (PARTITION BY day_start ORDER BY h) AS rn,
          count(*) OVER (PARTITION BY day_start) AS nd FROM h),
      e AS (SELECT day_start, max(nd) AS nd,
          max(CASE WHEN rn = 64 THEN h END) AS hk FROM r GROUP BY 1),
      c AS (SELECT time_bucket(INTERVAL '1 day', ts) AS day_start,
          CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY 1)
      SELECT c.day_start, c.n_events,
        CASE WHEN e.nd < 64 THEN CAST(e.nd AS BIGINT)
          ELSE CAST((63::HUGEINT * 18446744073709551616::HUGEINT)
            // greatest(CAST(e.hk AS HUGEINT), 1) AS BIGINT) END AS users_kmv
      FROM c JOIN e USING (day_start) ORDER BY day_start""")),

    // ----- sketch set operations: the overlap matrix from buffers ---------
    // q330 computes the exact source-pair overlap matrix with a token
    // equi-join that scales with the corpus; this re-derives the matrix
    // from the 20 persisted k=256 buffers alone — union k-min by array
    // merge, Jaccard numerator |kminU ∩ bufA ∩ bufB| (membership in the
    // union's k smallest implies membership in each side's buffer), and
    // the intersection size as J·|union|. ONE token pass ever happens
    // (the buffer build, map-side combined to k longs per source); the
    // matrix itself touches only 20 arrays. At 100 TB the buffers are
    // the persisted per-source ingest state and this query is free.
    ("q405_sketch_overlap_matrix", (s: SparkSession, dir: String) => {
      import s.implicits._
      // 3-gram shingle space, not word tokens: the test corpus's word
      // vocabulary (~31) is below k, which would leave every buffer in
      // its exact regime — the q202 precedent (16k+ shingles) keeps the
      // estimator genuinely engaged
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", explode(TA.shingles($"text", 3)).as("tok"))
        .filter($"tok" =!= "")
      val sk = toks.groupBy($"source")
        .agg(KmvBufferMd5.udf(256)($"tok").as("buf"))
      sk.toDF("sa", "ba").join(sk.toDF("sb", "bb"), $"sa" < $"sb")
        .withColumn("u", expr("slice(array_sort(array_union(ba, bb)), 1, 256)"))
        .withColumn("usize", expr("CAST(size(u) AS BIGINT)"))
        .withColumn("j_num", expr(
          "CAST(size(array_intersect(array_intersect(u, ba), bb)) AS BIGINT)"))
        .withColumn("union_est", expr(s"""
          CASE WHEN usize < 256 THEN usize
            ELSE $Num256 div greatest(${unflip("element_at(u, 256)")},
              CAST(1 AS DECIMAL(38,0))) END"""))
        .select($"sa".as("source_a"), $"sb".as("source_b"),
          $"j_num", $"union_est",
          expr("1000000 * j_num div usize").as("jaccard_micro"),
          expr("j_num * union_est div usize").as("inter_est"))
        .orderBy($"source_a", $"source_b")
    }, Some(s"""
      WITH d AS (SELECT source, string_split($normSql, ' ') AS arr
        FROM documents),
      sh AS (SELECT source, unnest(list_transform(
          range(1, greatest(len(arr) - 2, 1) + 1),
          i -> array_to_string(arr[i:i+2], ' '))) AS tok FROM d),
      st AS (SELECT DISTINCT source,
          ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
        FROM sh WHERE tok <> ''),
      buf AS (SELECT source, h FROM (SELECT source, h,
          row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM st)
        WHERE rn <= 256),
      pairs AS (SELECT a.source AS sa, b.source AS sb
        FROM (SELECT DISTINCT source FROM buf) a
        JOIN (SELECT DISTINCT source FROM buf) b ON a.source < b.source),
      uh AS (SELECT DISTINCT p.sa, p.sb, u.h
        FROM pairs p JOIN buf u ON u.source = p.sa OR u.source = p.sb),
      ur AS (SELECT sa, sb, h,
          row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn,
          count(*) OVER (PARTITION BY sa, sb) AS nd FROM uh),
      kmin AS (SELECT sa, sb, h, nd FROM ur WHERE rn <= 256),
      agg AS (SELECT k.sa, k.sb, least(max(k.nd), 256) AS usize,
          max(k.h) AS hk,
          CAST(count(*) FILTER (WHERE x.h IS NOT NULL AND y.h IS NOT NULL)
            AS BIGINT) AS j_num
        FROM kmin k
        LEFT JOIN buf x ON x.source = k.sa AND x.h = k.h
        LEFT JOIN buf y ON y.source = k.sb AND y.h = k.h
        GROUP BY 1, 2)
      SELECT sa AS source_a, sb AS source_b, j_num,
        CASE WHEN usize < 256 THEN CAST(usize AS BIGINT)
          ELSE CAST((255::HUGEINT * 18446744073709551616::HUGEINT)
            // greatest(CAST(hk AS HUGEINT), 1) AS BIGINT) END AS union_est,
        1000000 * j_num // usize AS jaccard_micro,
        j_num * (CASE WHEN usize < 256 THEN CAST(usize AS BIGINT)
          ELSE CAST((255::HUGEINT * 18446744073709551616::HUGEINT)
            // greatest(CAST(hk AS HUGEINT), 1) AS BIGINT) END) // usize
          AS inter_est
      FROM agg ORDER BY source_a, source_b""")),

    // ----- prefix-merge novelty curve: the data-acquisition planner -------
    // q202 proves ONE global merge equals the direct sketch; this runs
    // the merge INCREMENTALLY in ingest order (src0, src1, …) and
    // differences the estimates — vocab_est after r sources and the
    // marginal novelty source r added. The diminishing-returns curve a
    // crawl-acquisition planner reads before paying for the next source,
    // computed entirely from the 20 persisted buffers: the prefix
    // expansion is ≤ |sources|²·k rows (roster-bounded, never corpus).
    ("q406_vocab_novelty_curve", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", explode(TA.shingles($"text", 3)).as("tok"))
        .filter($"tok" =!= "")
      val sk = toks.groupBy($"source")
        .agg(KmvBufferMd5.udf(256)($"tok").as("buf"))
        .withColumn("r", expr("CAST(substring(source, 4, 8) AS BIGINT)"))
      val hb = sk.select($"r".as("hr"), explode($"buf").as("h"))
      // the step roster comes from a SECOND, one-column scan on purpose:
      // deriving it from sk makes the shingle+buffer pass run twice at
      // runtime (measured 45.5 s vs 26.0 s at ×100 docs — AQE's printed
      // exchange reuse does not cover the second consumer), while this
      // scan reads one dictionary-encoded column
      val steps = Tables.t(s, dir, "documents")
        .select($"source").distinct()
        .withColumn("step", expr("CAST(substring(source, 4, 8) AS BIGINT)"))
      val pre = steps.join(hb, $"hr" <= $"step")
        .select($"step", $"source", $"h").distinct()
      val w = Window.partitionBy($"step").orderBy($"h")
      val grid = pre.withColumn("rn", row_number().over(w))
        .groupBy($"step", $"source")
        .agg(count(lit(1)).as("nd"),
          max(when($"rn" === 256, $"h")).as("hk"))
        .withColumn("vocab_est", expr(s"""
          CASE WHEN nd < 256 THEN nd
            ELSE $Num256 div greatest(${unflip("hk")},
              CAST(1 AS DECIMAL(38,0))) END"""))
      // the 20-row curve: roster-bounded window, not a data-scale sort
      grid.withColumn("novelty_est",
          $"vocab_est" - coalesce(
            lag($"vocab_est", 1).over(Window.orderBy($"step")), lit(0L)))
        .select($"step", $"source", $"vocab_est", $"novelty_est")
        .orderBy($"step")
    }, Some(s"""
      WITH d AS (SELECT source, string_split($normSql, ' ') AS arr
        FROM documents),
      sh AS (SELECT source, unnest(list_transform(
          range(1, greatest(len(arr) - 2, 1) + 1),
          i -> array_to_string(arr[i:i+2], ' '))) AS tok FROM d),
      st AS (SELECT DISTINCT source,
          ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
        FROM sh WHERE tok <> ''),
      buf AS (SELECT source, CAST(substr(source, 4) AS BIGINT) AS hr, h
        FROM (SELECT source, h,
          row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM st)
        WHERE rn <= 256),
      steps AS (SELECT DISTINCT source,
          CAST(substr(source, 4) AS BIGINT) AS step FROM documents),
      pre AS (SELECT DISTINCT s.step, s.source, b.h
        FROM steps s JOIN buf b ON b.hr <= s.step),
      g AS (SELECT step, source, count(*) AS nd,
          max(CASE WHEN rn = 256 THEN h END) AS hk
        FROM (SELECT step, source, h,
          row_number() OVER (PARTITION BY step ORDER BY h) AS rn FROM pre)
        GROUP BY 1, 2),
      est AS (SELECT step, source,
          CASE WHEN nd < 256 THEN CAST(nd AS BIGINT)
            ELSE CAST((255::HUGEINT * 18446744073709551616::HUGEINT)
              // greatest(CAST(hk AS HUGEINT), 1) AS BIGINT) END AS vocab_est
        FROM g)
      SELECT step, source, vocab_est,
        vocab_est - coalesce(lag(vocab_est) OVER (ORDER BY step), 0)
          AS novelty_est
      FROM est ORDER BY step""")),

    // The DIALS the composed curation pipeline (q352)
    // runs on — each an explicit planning/sensitivity table for a knob
    // that upstream operators take as given:
    //
    //  - q407 plans EPOCHS under an over-corpus token budget (q397 plans a
    //    sub-corpus budget and never repeats data) — units are
    //    (source, epoch) valued at quality × (3/4)^(epoch−1), the
    //    data-constrained allocation;
    //  - q408 sweeps q23's near-dup Jaccard threshold and reports
    //    pairs / flagged docs per cut — the table that justifies the dial;
    //  - q409 re-scores q108's contamination screen with corpus-rarity
    //    weights (exact rational N/df in micro units, q86's log-free
    //    convention) — verbatim leakage vs stock phrases.
    //
    // Float discipline: zero doubles — decay is exact dyadic, IDF the
    // exact rational micro division, Jaccard exact micro.

    // ----- epoch allocation under repetition decay -------------------------
    // The data-constrained regime: the budget is 2× the corpus, so
    // repetition is forced and the question is WHERE. Each (source,
    // epoch≤4) unit supplies the source's tokens at marginal value
    // quality_ppm × (3/4)^(epoch−1) — exact dyadic decay ppm
    // {1e6, 750000, 562500, 421875} — and the waterfill takes units in
    // value order. A 2nd epoch of a high-quality source outranks a 1st
    // epoch of junk exactly when q_hi × 3/4 > q_lo: the planner's whole
    // point. 80-row grid; the cumulative is the GridCumulative totals
    // convention (constant partition key, roster-bounded).
    ("q407_epoch_allocation", (s: SparkSession, dir: String) => {
      import s.implicits._
      val src = Tables.t(s, dir, "documents")
        .groupBy($"source").agg(
          sum(expr("CAST(n_chars AS BIGINT) div 4")).as("supply"),
          count(lit(1)).as("n_docs"),
          sum(($"lang" === "en").cast("long")).as("n_en"))
        .withColumn("q_ppm", expr("n_en * 1000000 div n_docs"))
        .localCheckpoint() // reused: total + the 4-epoch fan-out
      val tot = src.agg(sum($"supply").as("tot"))
      val decay = Seq((1L, 1000000L), (2L, 750000L), (3L, 562500L),
        (4L, 421875L)).toDF("epoch", "decay_ppm")
      val units = src.crossJoin(broadcast(decay))
        .withColumn("value_ppm", expr("q_ppm * decay_ppm div 1000000"))
      val w = Window.partitionBy(lit(0))
        .orderBy($"value_ppm".desc, $"epoch", $"source")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      units.crossJoin(broadcast(tot))
        .withColumn("budget", expr("tot * 2"))
        .withColumn("cum", sum($"supply").over(w))
        .withColumn("alloc", expr(
          "greatest(0L, least(supply, budget - (cum - supply)))"))
        .withColumn("eff_tokens", expr("alloc * value_ppm div 1000000"))
        .select($"source", $"epoch", $"q_ppm", $"value_ppm", $"supply",
          $"alloc", $"eff_tokens")
        .orderBy($"value_ppm".desc, $"epoch", $"source")
    }, Some("""
      WITH src AS (SELECT source,
          CAST(sum(CAST(n_chars AS BIGINT) // 4) AS BIGINT) AS supply,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
        FROM documents GROUP BY 1),
      s2 AS (SELECT source, supply, n_en * 1000000 // n_docs AS q_ppm FROM src),
      tt AS (SELECT CAST(sum(supply) AS BIGINT) AS tot FROM s2),
      dk AS (SELECT CAST(unnest([1, 2, 3, 4]) AS BIGINT) AS epoch,
          CAST(unnest([1000000, 750000, 562500, 421875]) AS BIGINT) AS decay_ppm),
      u AS (SELECT source, epoch, q_ppm, supply,
          q_ppm * decay_ppm // 1000000 AS value_ppm
        FROM s2, dk),
      s3 AS (SELECT source, epoch, q_ppm, value_ppm, supply, tot * 2 AS budget,
          CAST(sum(supply) OVER (ORDER BY value_ppm DESC, epoch, source)
            AS BIGINT) AS cum
        FROM u, tt)
      SELECT source, epoch, q_ppm, value_ppm, supply,
        greatest(0, least(supply, budget - (cum - supply))) AS alloc,
        greatest(0, least(supply, budget - (cum - supply)))
          * value_ppm // 1000000 AS eff_tokens
      FROM s3 ORDER BY value_ppm DESC, epoch, source""")),

    // ----- near-dup threshold sensitivity ----------------------------------
    // q23 ships ONE threshold (0.55); this sweeps the dial over the same
    // blocked candidate space — (lang, length-bucket) blocking, char-
    // 3-gram sets, Jaccard in EXACT micro — and reports the pair count
    // and flagged-doc count per cut. Candidates are computed once
    // (blocking bounds them at any corpus size) and the 5-row τ grid is
    // broadcast over them; the flagged-doc count dedups ids per τ.
    ("q408_dedup_threshold_curve", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.spread(Tables.t(s, dir, "documents")).select(
        $"doc_id".as("id"),
        concat($"lang", lit("_"), expr("n_chars div 100")).as("bucket"),
        TA.charNgramInts($"text", 3).as("grams")) // sorted + distinct
      val pairs = d.toDF("id_a", "bucket", "ga")
        .join(d.toDF("id_b", "bucket", "gb"), "bucket")
        .filter($"id_a" < $"id_b")
        .withColumn("inter", expr("CAST(size(array_intersect(ga, gb)) AS BIGINT)"))
        .withColumn("uni", expr("CAST(size(ga) + size(gb) AS BIGINT) - inter"))
        .select($"id_a", $"id_b",
          expr("1000000 * inter div uni").as("j_micro"))
        // only pairs at or above the SMALLEST swept threshold can appear
        // in any cut — filter before materializing (the q23 discipline;
        // without it the checkpoint holds every in-bucket pair and the
        // downstream aggregates OOM at ×10 docs)
        .filter($"j_micro" >= 500000L)
        .localCheckpoint() // reused by the 5 threshold cuts
      val taus = Seq(500000L, 600000L, 700000L, 800000L, 900000L).toDF("tau_micro")
      val hits = pairs.crossJoin(broadcast(taus)).filter($"j_micro" >= $"tau_micro")
      val nPairs = hits.groupBy($"tau_micro").agg(count(lit(1)).as("n_pairs"))
      val nDocs = hits.select($"tau_micro", explode(array($"id_a", $"id_b")).as("id"))
        .distinct()
        .groupBy($"tau_micro").agg(count(lit(1)).as("n_docs_flagged"))
      taus.join(nPairs, Seq("tau_micro"), "left")
        .join(nDocs, Seq("tau_micro"), "left")
        .select($"tau_micro",
          coalesce($"n_pairs", lit(0L)).as("n_pairs"),
          coalesce($"n_docs_flagged", lit(0L)).as("n_docs_flagged"))
        .orderBy($"tau_micro")
    }, Some("""
      WITH d AS (SELECT doc_id, lang || '_' || (n_chars // 100) AS bucket,
        list_distinct(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
          i -> (CAST(ascii(substr(text, i, 1)) AS BIGINT) * 1114112
            + ascii(substr(text, i + 1, 1))) * 1114112
            + ascii(substr(text, i + 2, 1)))) AS grams
        FROM documents),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          1000000 * len(list_intersect(a.grams, b.grams))
            // (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
            AS j_micro
        FROM d a JOIN d b USING (bucket) WHERE a.doc_id < b.doc_id),
      pf AS (SELECT * FROM p WHERE j_micro >= 500000),
      taus AS (SELECT CAST(unnest([500000, 600000, 700000, 800000, 900000])
          AS BIGINT) AS tau_micro),
      h AS (SELECT tau_micro, id_a, id_b FROM pf, taus WHERE j_micro >= tau_micro),
      np AS (SELECT tau_micro, CAST(count(*) AS BIGINT) AS n_pairs
        FROM h GROUP BY 1),
      nd AS (SELECT tau_micro, CAST(count(*) AS BIGINT) AS n_docs_flagged
        FROM (SELECT DISTINCT tau_micro, id FROM (
          SELECT tau_micro, id_a AS id FROM h
          UNION ALL SELECT tau_micro, id_b FROM h)) GROUP BY 1)
      SELECT t.tau_micro, coalesce(np.n_pairs, 0) AS n_pairs,
        coalesce(nd.n_docs_flagged, 0) AS n_docs_flagged
      FROM taus t LEFT JOIN np USING (tau_micro) LEFT JOIN nd USING (tau_micro)
      ORDER BY tau_micro""")),

    // ----- rarity-weighted contamination ------------------------------------
    // q108 counts every shared 3-gram equally, so on a low-entropy
    // corpus every eval doc looks contaminated; this weights each shared
    // gram by its corpus rarity — IDF as the exact rational
    // n_corpus_docs/df in micro units (q86's log-free convention, df
    // from the CORPUS side only) — separating verbatim leakage (rare
    // grams) from stock phrases (df≈N grams score ≈1e6 each, the
    // floor). Same gram-keyed equi-join shape as q108: the n-gram is
    // its own blocking key, no cross join at any corpus size.
    ("q409_idf_contamination", (s: SparkSession, dir: String) => {
      import s.implicits._
      val n = 3
      def ngrams(df: DataFrame): DataFrame = df
        .select($"doc_id", split(TA.normText($"text"), " ").as("a"))
        .filter(size($"a") >= n)
        .select($"doc_id", explode(expr(
          s"transform(sequence(1, size(a) - ${n - 1}), j -> array_join(slice(a, j, $n), ' '))"))
          .as("ngram"))
        .distinct()
      val docs = Tables.spread(Tables.t(s, dir, "documents"))
      val corpus = ngrams(docs.filter($"doc_id" % 97 =!= 0))
        .localCheckpoint() // reused: df table + the screen join
      val nc = corpus.select($"doc_id").distinct()
        .agg(count(lit(1)).as("n_corpus"))
      val dfT = corpus.groupBy($"ngram").agg(count(lit(1)).as("df"))
      val eval = ngrams(docs.filter($"doc_id" % 97 === 0))
        .withColumnRenamed("doc_id", "eval_doc_id")
      corpus.join(eval, Seq("ngram"))
        .join(dfT, Seq("ngram"))
        .crossJoin(broadcast(nc))
        .groupBy($"doc_id", $"eval_doc_id")
        .agg(count(lit(1)).as("n_shared"),
          sum(expr("n_corpus * 1000000 div df")).as("idf_score"))
        .orderBy("doc_id", "eval_doc_id")
    }, Some(s"""
      WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS a
        FROM documents WHERE len(string_split($normSql, ' ')) >= 3),
      pos AS (SELECT doc_id, a, unnest(range(1, len(a) - 1)) AS j FROM base),
      grams AS (SELECT DISTINCT doc_id,
          array_to_string(list_slice(a, CAST(j AS INT), CAST(j + 2 AS INT)), ' ') AS ngram
        FROM pos),
      corpus AS (SELECT * FROM grams WHERE doc_id % 97 <> 0),
      nc AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_corpus FROM corpus),
      dft AS (SELECT ngram, CAST(count(*) AS BIGINT) AS df FROM corpus GROUP BY 1),
      ev AS (SELECT doc_id AS eval_doc_id, ngram FROM grams WHERE doc_id % 97 = 0)
      SELECT c.doc_id, e.eval_doc_id,
        CAST(count(*) AS BIGINT) AS n_shared,
        CAST(sum(n_corpus * 1000000 // df) AS BIGINT) AS idf_score
      FROM corpus c JOIN ev e USING (ngram) JOIN dft USING (ngram) CROSS JOIN nc
      GROUP BY 1, 2 ORDER BY doc_id, eval_doc_id""")),

    // The SCALE PATHS for the q408 threshold sweep —
    // the same dial audited over candidate spaces that stay bounded at any
    // corpus shape, closing the loop the q408 BENCHNOTES boundary opened:
    //
    //  - q410 sweeps over PPJoin prefix-filtered pairs
    //    (Dedup.prefixFilterPairsMicro — exact integer pruning rules, so
    //    the sweep is recall-LOSSLESS: its counts are the true curve, per
    //    construction a superset of q408's bucket-blocked counts);
    //  - q411 sweeps over q21's banded-MinHash candidates and reports the
    //    MEASURED recall per cut against the q410-form exact counts on the
    //    same hash universe — the empirical s-curve q396 predicts
    //    analytically.
    //
    // Both oracles are brute-force all-pairs ground truth in DuckDB (the
    // strongest possible check: the engine's pruned plans must equal the
    // unpruned enumeration), feasible at gate scale.

    // ----- recall-lossless threshold sweep ----------------------------------
    // q408's table over q23's bucket blocking can MISS pairs the blocking
    // drops; this is the true curve — prefix filtering guarantees every
    // pair with J ≥ 0.5 is produced at any corpus shape, and all pruning
    // arithmetic is exact-integer so the five cuts replay bit-for-bit
    // against DuckDB's unpruned all-pairs enumeration.
    //
    // Density caveat (measured, BENCHNOTES ×10 row): when the gram space
    // is DENSE — this synthetic corpus is 38% self-similar at τ=0.5 in
    // char-3-grams — the true pair set itself grows as corpus² and no
    // lossless sweep escapes its size; sweep dense spaces at τ ≥ 0.7 or
    // sweep the sparse shingle universe instead (q411's side, which
    // completes ×10).
    ("q410_threshold_curve_exact", (s: SparkSession, dir: String) => {
      val pairs = q410PairTable(s, dir)
        .localCheckpoint() // reused by the 5 cuts
      sweep(s, pairs)
    }, Some("""
      WITH d AS (SELECT doc_id,
        list_distinct(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
          i -> (CAST(ascii(substr(text, i, 1)) AS BIGINT) * 1114112
            + ascii(substr(text, i + 1, 1))) * 1114112
            + ascii(substr(text, i + 2, 1)))) AS grams
        FROM documents),
      p0 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          len(list_intersect(a.grams, b.grams)) AS inter,
          len(a.grams) + len(b.grams) AS stot
        FROM d a JOIN d b ON a.doc_id < b.doc_id),
      pf AS (SELECT id_a, id_b, 1000000 * inter // (stot - inter) AS j_micro
        FROM p0 WHERE 1000000 * inter >= 500000 * (stot - inter)),
      taus AS (SELECT CAST(unnest([500000, 600000, 700000, 800000, 900000])
          AS BIGINT) AS tau_micro),
      h AS (SELECT tau_micro, id_a, id_b FROM pf, taus WHERE j_micro >= tau_micro),
      np AS (SELECT tau_micro, CAST(count(*) AS BIGINT) AS n_pairs FROM h GROUP BY 1),
      nd AS (SELECT tau_micro, CAST(count(*) AS BIGINT) AS n_docs_flagged
        FROM (SELECT DISTINCT tau_micro, id FROM (
          SELECT tau_micro, id_a AS id FROM h
          UNION ALL SELECT tau_micro, id_b FROM h)) GROUP BY 1)
      SELECT t.tau_micro, coalesce(np.n_pairs, 0) AS n_pairs,
        coalesce(nd.n_docs_flagged, 0) AS n_docs_flagged
      FROM taus t LEFT JOIN np USING (tau_micro) LEFT JOIN nd USING (tau_micro)
      ORDER BY tau_micro""")),

    // ----- measured LSH recall per threshold --------------------------------
    // q396 PLANS (bands, rows) from an analytic collision curve; this
    // MEASURES the shipped 4-band index: per cut, the exact pair count
    // on the word-shingle hash universe (prefix-filtered, lossless) vs
    // the count surviving banded candidate generation — recall in micro.
    // Bands can only lose pairs, so recall ≤ 1e6 by construction; the
    // oracle enumerates all pairs AND replays the band keys exactly
    // (the q21 template CTE).
    ("q411_lsh_recall_curve", (s: SparkSession, dir: String) => {
      import s.implicits._
      val hashed = Tables.spread(Tables.t(s, dir, "documents")).select(
        $"doc_id".as("id"),
        graft.functions.WordShingleHash32(TA.normText($"text"), 3).as("hs"))
      val (hs, cand) = Dedup.lshCandidates(hashed, nBands = 4)
      val lshPairs = cand
        .join(hs.toDF("id_a", "h_a"), Seq("id_a"))
        .join(hs.toDF("id_b", "h_b"), Seq("id_b"))
        .withColumn("inter", size(array_intersect($"h_a", $"h_b")).cast("long"))
        .select($"id_a", $"id_b", expr(
          "1000000L * inter div (CAST(size(h_a) AS BIGINT) + size(h_b) - inter)")
          .as("j_micro"))
        .filter($"j_micro" >= 500000L)
      val exPairs = Dedup.prefixFilterPairsMicro(
        hashed.withColumnRenamed("hs", "grams"), 500000L)
      val taus = Seq(500000L, 600000L, 700000L, 800000L, 900000L).toDF("tau_micro")
      val nEx = exPairs.crossJoin(broadcast(taus))
        .filter($"j_micro" >= $"tau_micro")
        .groupBy($"tau_micro").agg(count(lit(1)).as("n_exact"))
      val nLsh = lshPairs.crossJoin(broadcast(taus))
        .filter($"j_micro" >= $"tau_micro")
        .groupBy($"tau_micro").agg(count(lit(1)).as("n_lsh"))
      taus.join(nEx, Seq("tau_micro"), "left").join(nLsh, Seq("tau_micro"), "left")
        .select($"tau_micro",
          coalesce($"n_exact", lit(0L)).as("n_exact"),
          coalesce($"n_lsh", lit(0L)).as("n_lsh"))
        .withColumn("recall_micro", expr(
          "CASE WHEN n_exact = 0 THEN NULL ELSE 1000000 * n_lsh div n_exact END"))
        .orderBy($"tau_micro")
    }, Some(s"""
      ${DedupQueries.minhashPairsCte},
      lp AS (SELECT id_a, id_b,
          1000000 * len(list_intersect(ha.hs, hb.hs))
            // (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)))
            AS j_micro
        FROM cand JOIN hst ha ON ha.doc_id = id_a
        JOIN hst hb ON hb.doc_id = id_b),
      lpf AS (SELECT * FROM lp WHERE j_micro >= 500000),
      ex AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          1000000 * len(list_intersect(a.hs, b.hs))
            // (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))
            AS j_micro
        FROM hst a JOIN hst b ON a.doc_id < b.doc_id),
      exf AS (SELECT * FROM ex WHERE j_micro >= 500000),
      taus AS (SELECT CAST(unnest([500000, 600000, 700000, 800000, 900000])
          AS BIGINT) AS tau_micro),
      ne AS (SELECT tau_micro, CAST(count(*) AS BIGINT) AS n_exact
        FROM exf, taus WHERE j_micro >= tau_micro GROUP BY 1),
      nl AS (SELECT tau_micro, CAST(count(*) AS BIGINT) AS n_lsh
        FROM lpf, taus WHERE j_micro >= tau_micro GROUP BY 1)
      SELECT t.tau_micro, coalesce(ne.n_exact, 0) AS n_exact,
        coalesce(nl.n_lsh, 0) AS n_lsh,
        CASE WHEN coalesce(ne.n_exact, 0) = 0 THEN NULL
          ELSE 1000000 * coalesce(nl.n_lsh, 0) // ne.n_exact END AS recall_micro
      FROM taus t LEFT JOIN ne USING (tau_micro) LEFT JOIN nl USING (tau_micro)
      ORDER BY tau_micro""")),

    // The corpus-INGEST gate as a stream — every
    // existing streaming operator monitors the events table; this one
    // watches documents arrive (the curation pipeline's entry stage) and
    // maintains per-source acceptance telemetry: volume, the cheap
    // column gates (length floor, English), and their pass rates in
    // exact ppm. State is one counter row per source (roster-bounded);
    // the oracle is the identical batch aggregation, so the streaming
    // state is proven equal to the batch answer — q67's discipline on a
    // second table and a second pipeline stage.
    ("q415_stream_ingest_gate", (s: SparkSession, dir: String) => {
      import s.implicits._
      // the dataset path can be a flat FILE (driver testdata) or a
      // Spark-written DIRECTORY of part files (ScaleGen replicas), and
      // the file source accepts neither uniformly: pointing at a file
      // fails ("Option 'basePath' must be a directory") while the q67
      // symlink-in-a-parent-dir pattern silently reads ZERO rows from a
      // nested directory. Probe once and pick the shape (both failure
      // modes measured before this fix).
      val p = java.nio.file.Paths.get(s"$dir/documents.parquet")
      val srcPath =
        if (java.nio.file.Files.isDirectory(p)) p.toString
        else graft.TempScratch
          .symlinkDir("q415", "documents.parquet", p).toString
      val stream = s.readStream.schema(DocSchema).parquet(srcPath)
      val q = stream
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(($"n_chars" >= 200).cast("long")).as("n_len_ok"),
          sum(($"lang" === "en").cast("long")).as("n_en"),
          sum(($"n_chars" >= 200 && $"lang" === "en").cast("long"))
            .as("n_pass"))
        .writeStream.format("memory").queryName("q415_mem")
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      s.table("q415_mem")
        .select($"source", $"n_docs", $"n_len_ok", $"n_en", $"n_pass",
          expr("1000000 * n_pass div n_docs").as("pass_ppm"))
        .orderBy("source")
    }, Some("""
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(count(*) FILTER (WHERE n_chars >= 200) AS BIGINT) AS n_len_ok,
        CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n_en,
        CAST(count(*) FILTER (WHERE n_chars >= 200 AND lang = 'en') AS BIGINT)
          AS n_pass,
        1000000 * count(*) FILTER (WHERE n_chars >= 200 AND lang = 'en')
          // count(*) AS pass_ppm
      FROM documents GROUP BY source ORDER BY source"""))
  )
}
