package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.ext.{Dedup, Similarity, TextAnalysis => TA}

/** Corpus curation: sampling, mixing, splits, packing, decontamination,
  * budgets, privacy audits and the filters and allocations a curation
  * run applies.
  *
  * Section "Text analysis & corpus curation" of
  * docs/OPERATORS.md.
  */
object CurationQueries {

  private val normSql = TA.normTextSql
  private val Projs = Similarity.OracleProjs
  private val prepSql = Similarity.prepareSql
  private def bucketSql: String = Similarity.lshBucketSql

  /** Whitespace token count of the normalized text, empty-safe.
    * Shared with q352's composed pipeline (CorpusAuditQueries). */
  private[operators] def tokCount(norm: Column): Column =
    when(norm === "", lit(0L)).otherwise(size(split(norm, " ")).cast("long"))

  private[operators] val tokCountSql =
    s"CASE WHEN $normSql = '' THEN 0 ELSE len(string_split($normSql, ' ')) END"

  /** Hoeffding audit sizes n = ln(2/δ)/(2e²) at δ = 5%, precomputed per
    * target half-width e — data-independent, shared by both engines. */
  private val HoeffdingN: Map[Long, Long] = {
    val ln2d = math.log(2.0 / 0.05)
    Seq(10000L, 20000L, 50000L).map { em =>
      val e = em / 1e6
      em -> math.ceil(ln2d / (2 * e * e)).toLong
    }.toMap
  }

  def queries: Seq[Entry] = Seq(

    // ----- sampling: deterministic per-stratum hash sampling -------------
    ("q42_stratified_sample", (s: SparkSession, dir: String) => {
      import s.implicits._
      // hash-gate in [0, 65536): en keeps ~10%, other languages ~50% —
      // reproducible across engines/runs/partitionings (no RNG)
      val gate = conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10).cast("long")
      Tables.spread(Tables.t(s, dir, "documents"))
        .filter(gate < when($"lang" === "en", 6554L).otherwise(32768L))
        .select($"doc_id", $"lang")
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, lang FROM documents
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
            < CASE WHEN lang = 'en' THEN 6554 ELSE 32768 END
      ORDER BY doc_id""")),

    // The pretraining-corpus curation family —
    // repetition-based quality signals (the Gopher/C4-style duplicate-token
    // and top-n-gram fractions), concat-and-chunk sequence packing as a
    // distributed two-level prefix sum, domain temperature-mixing weights,
    // and a benchmark-contamination screen via an 8-gram equi-join.
    //
    // Determinism rules as in RelationalQueries: integer/exact arithmetic inside
    // aggregates, IEEE-correctly-rounded ops only (division, sqrt) at the
    // double boundary, total ORDER BY, identical aliases both engines.

    // ----- sequence packing: concat-and-chunk as a 2-level prefix sum ----
    ("q106_sequence_packing", (s: SparkSession, dir: String) => {
      import s.implicits._
      // the packing step of a pretraining pipeline: documents are
      // concatenated in doc_id order and chunked into fixed 512-token
      // context windows. The global token offset is a DISTRIBUTED prefix
      // sum: cumsum within doc_id/2^16 groups (parallel windows) + a
      // running offset over the per-group totals — the output is
      // group-width-invariant, and 2^16 keeps BOTH levels bounded at
      // corpus scale (1e9 docs → 65k-row windows × 15k groups, with the
      // offset window over just those 15k rows; nest a third level the
      // same way if docs outgrow width²). 512 = 2^9 keeps the bin math
      // exact in doubles (floor of an exact power-of-two division).
      val C = 512
      val perDoc = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", tokCount(TA.normText($"text")).as("n_tokens"),
          floor($"doc_id" / 65536).cast("long").as("grp"))
      val wIn = Window.partitionBy($"grp").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withCum = perDoc.withColumn("cum_in_grp", sum($"n_tokens").over(wIn))
      val grpTotals = perDoc.groupBy($"grp").agg(sum($"n_tokens").as("grp_tot"))
      val wG = Window.orderBy($"grp")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offsets = grpTotals
        .withColumn("grp_off", sum($"grp_tot").over(wG) - $"grp_tot")
        .select($"grp", $"grp_off")
      withCum.join(broadcast(offsets), Seq("grp"))
        .select($"doc_id", $"n_tokens",
          ($"grp_off" + $"cum_in_grp" - $"n_tokens").as("start_tok"))
        .select($"doc_id", $"n_tokens", $"start_tok",
          floor($"start_tok" / C).cast("long").as("bin_first"),
          when($"n_tokens" === 0, floor($"start_tok" / C))
            .otherwise(floor(($"start_tok" + $"n_tokens" - 1) / C))
            .cast("long").as("bin_last"))
        .withColumn("n_bins", $"bin_last" - $"bin_first" + 1)
        .orderBy("doc_id")
    }, Some(s"""
      WITH d AS (SELECT doc_id, CAST($tokCountSql AS BIGINT) AS n_tokens
        FROM documents),
      c AS (SELECT doc_id, n_tokens,
          CAST(sum(n_tokens) OVER (ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_tok
        FROM d)
      SELECT doc_id, n_tokens, start_tok,
        CAST(floor(start_tok / 512.0) AS BIGINT) AS bin_first,
        CAST(CASE WHEN n_tokens = 0 THEN floor(start_tok / 512.0)
             ELSE floor((start_tok + n_tokens - 1) / 512.0) END AS BIGINT) AS bin_last,
        CAST(CASE WHEN n_tokens = 0 THEN floor(start_tok / 512.0)
             ELSE floor((start_tok + n_tokens - 1) / 512.0) END
           - floor(start_tok / 512.0) + 1 AS BIGINT) AS n_bins
      FROM c ORDER BY doc_id""")),

    // ----- domain mixing: temperature-weighted sampling ------------------
    ("q107_domain_mixing", (s: SparkSession, dir: String) => {
      import s.implicits._
      // per-source token shares and a temperature-α=0.5 sampling weight.
      // Normalizing by the LARGEST domain's weight (max, order-
      // independent) instead of the sum keeps the output bit-exact across
      // engines: share division and sqrt are IEEE-correctly-rounded; a
      // cross-group float sum would depend on aggregation order.
      val perSrc = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", tokCount(TA.normText($"text")).as("n_tokens"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"))
      // corpus totals as an unbounded window over the POST-aggregate rows
      // (one per source — tiny), so the corpus scans exactly once
      val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      perSrc
        .withColumn("tot_tokens", sum($"n_tokens").over(wAll))
        .withColumn("max_tokens", max($"n_tokens").over(wAll))
        .select($"source", $"n_docs", $"n_tokens",
          ($"n_tokens".cast("double") / $"tot_tokens").as("tok_share"),
          (sqrt($"n_tokens".cast("double") / $"tot_tokens") /
            sqrt($"max_tokens".cast("double") / $"tot_tokens")).as("mix_weight"))
        .orderBy("source")
    }, Some(s"""
      WITH d AS (SELECT source, CAST($tokCountSql AS BIGINT) AS n_tokens
        FROM documents),
      s AS (SELECT source, count(*) AS n_docs,
          CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM d GROUP BY source),
      t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
          CAST(max(n_tokens) AS BIGINT) AS max_tokens FROM s)
      SELECT source, n_docs, n_tokens,
        CAST(n_tokens AS DOUBLE) / tot_tokens AS tok_share,
        sqrt(CAST(n_tokens AS DOUBLE) / tot_tokens)
          / sqrt(CAST(max_tokens AS DOUBLE) / tot_tokens) AS mix_weight
      FROM s CROSS JOIN t ORDER BY source""")),

    // ----- contamination screen: n-gram overlap vs a held-out set --------
    ("q108_contamination", (s: SparkSession, dir: String) => {
      import s.implicits._
      // benchmark-contamination check: every corpus document is screened
      // against a held-out eval slice (doc_id % 97 = 0) by exact word-
      // n-gram overlap. Candidate generation is an equi-join ON THE
      // N-GRAM STRING — the n-gram is its own blocking key, so there is
      // no cross join at any corpus size. No broadcast hint: a real
      // benchmark set is fixed-size and AQE will broadcast it when it
      // fits, but this demo slice grows with the corpus, so the strategy
      // choice is left to the planner. Output: distinct shared n-grams
      // per (corpus, eval) pair and the contaminated fraction of the
      // eval doc. Real screens use 8-13-gram windows; n=3 here because
      // the synthetic corpus has no verbatim 8-gram collisions to
      // demonstrate on — the plan shape is identical for any n.
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
      val eval = ngrams(docs.filter($"doc_id" % 97 === 0))
        .withColumnRenamed("doc_id", "eval_doc_id")
      val evalSizes = eval.groupBy($"eval_doc_id")
        .agg(count(lit(1)).as("n_eval_ngrams"))
      corpus.join(eval, Seq("ngram"))
        .groupBy($"doc_id", $"eval_doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .join(evalSizes, Seq("eval_doc_id"))
        .select($"doc_id", $"eval_doc_id", $"n_shared",
          ($"n_shared".cast("double") / $"n_eval_ngrams").as("contam_frac"))
        .orderBy("doc_id", "eval_doc_id")
    }, Some(s"""
      WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS a
        FROM documents WHERE len(string_split($normSql, ' ')) >= 3),
      pos AS (SELECT doc_id, a, unnest(range(1, len(a) - 1)) AS j FROM base),
      grams AS (SELECT DISTINCT doc_id,
          array_to_string(list_slice(a, CAST(j AS INT), CAST(j + 2 AS INT)), ' ') AS ngram
        FROM pos),
      corpus AS (SELECT * FROM grams WHERE doc_id % 97 <> 0),
      ev AS (SELECT doc_id AS eval_doc_id, ngram FROM grams WHERE doc_id % 97 = 0),
      es AS (SELECT eval_doc_id, count(*) AS n_eval_ngrams FROM ev GROUP BY 1),
      shared AS (SELECT c.doc_id, e.eval_doc_id, count(*) AS n_shared
        FROM corpus c JOIN ev e USING (ngram) GROUP BY 1, 2)
      SELECT doc_id, eval_doc_id, n_shared,
        CAST(n_shared AS DOUBLE) / n_eval_ngrams AS contam_frac
      FROM shared JOIN es USING (eval_doc_id)
      ORDER BY doc_id, eval_doc_id""")),

    // ----- curation funnel: staged filters with survivor counts ----------
    ("q109_curation_funnel", (s: SparkSession, dir: String) => {
      import s.implicits._
      // the end-to-end corpus-cleaning funnel: length floor → repetition
      // ceilings → exact dedup (keep-first among survivors), reported as
      // survivors per stage. One pass computes all per-doc signals; the
      // dedup stage is a keep-first window over the md5 fingerprint OF
      // THE SURVIVORS (funnel semantics — dedup sees only what earlier
      // filters let through). The stage report is a 5-row aggregate of
      // cumulative conjunctions — no per-stage rescans.
      val docs = Tables.spread(Tables.t(s, dir, "documents"))
      val toks = docs
        .select($"doc_id", explode(split(TA.normText($"text"), " ")).as("tok"))
        .filter($"tok" =!= "")
      val tf = toks.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("cnt"))
      val sig = tf.groupBy($"doc_id").agg(
        sum($"cnt").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max($"cnt").as("top_cnt"))
      val flagged = docs.select($"doc_id", md5(TA.normText($"text")).as("fp"))
        .join(sig, Seq("doc_id"), "left")
        .select($"doc_id", $"fp",
          coalesce($"n_tokens", lit(0L)).as("n_tokens"),
          coalesce($"n_distinct", lit(0L)).as("n_distinct"),
          coalesce($"top_cnt", lit(0L)).as("top_cnt"))
        .select($"doc_id", $"fp",
          // thresholds as pure integer inequalities (dup_frac <= 0.7 ↔
          // 10·dup <= 7·n; top_frac <= 0.2 ↔ 5·top <= n): bit-exact on
          // any engine, immune to decimal-vs-double literal semantics
          ($"n_tokens" >= 10).as("p1"),
          ($"n_tokens" >= 10 &&
            ($"n_tokens" - $"n_distinct") * 10 <= $"n_tokens" * 7).as("p2"),
          ($"n_tokens" >= 10 &&
            ($"n_tokens" - $"n_distinct") * 10 <= $"n_tokens" * 7 &&
            $"top_cnt" * 5 <= $"n_tokens").as("p3"))
      val wFp = Window.partitionBy($"fp").orderBy($"doc_id")
      val dedup = flagged.filter($"p3")
        .withColumn("keep", row_number().over(wFp) === 1)
      val counts = flagged.agg(
        count(lit(1)).as("s0_all"),
        sum(when($"p1", 1L).otherwise(0L)).as("s1_len"),
        sum(when($"p2", 1L).otherwise(0L)).as("s2_dupfrac"),
        sum(when($"p3", 1L).otherwise(0L)).as("s3_toptok"))
      val kept = dedup.agg(sum(when($"keep", 1L).otherwise(0L)).as("s4_dedup"))
      counts.crossJoin(kept)
        .select(explode(map(
          lit("s0_all"), $"s0_all", lit("s1_len"), $"s1_len",
          lit("s2_dupfrac"), $"s2_dupfrac", lit("s3_toptok"), $"s3_toptok",
          lit("s4_dedup"), $"s4_dedup")).as(Seq("stage", "n_docs")))
        .orderBy("stage")
    }, Some(s"""
      WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
        FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS cnt FROM toks WHERE tok <> '' GROUP BY 1, 2),
      sig AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
          count(*) AS n_distinct, max(cnt) AS top_cnt FROM tf GROUP BY doc_id),
      flagged AS (SELECT d.doc_id, md5($normSql) AS fp,
          COALESCE(n_tokens, 0) AS n_tokens, COALESCE(n_distinct, 0) AS n_distinct,
          COALESCE(top_cnt, 0) AS top_cnt
        FROM documents d LEFT JOIN sig ON d.doc_id = sig.doc_id),
      p AS (SELECT doc_id, fp,
          n_tokens >= 10 AS p1,
          n_tokens >= 10 AND (n_tokens - n_distinct) * 10 <= n_tokens * 7 AS p2,
          n_tokens >= 10 AND (n_tokens - n_distinct) * 10 <= n_tokens * 7
            AND top_cnt * 5 <= n_tokens AS p3
        FROM flagged),
      dedup AS (SELECT doc_id,
          row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1 AS keep
        FROM p WHERE p3),
      c AS (SELECT count(*) AS s0_all,
          CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS s1_len,
          CAST(sum(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS s2_dupfrac,
          CAST(sum(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS s3_toptok
        FROM p),
      k AS (SELECT CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS s4_dedup
        FROM dedup)
      SELECT stage, n_docs FROM (
        SELECT 's0_all' AS stage, s0_all AS n_docs FROM c
        UNION ALL SELECT 's1_len', s1_len FROM c
        UNION ALL SELECT 's2_dupfrac', s2_dupfrac FROM c
        UNION ALL SELECT 's3_toptok', s3_toptok FROM c
        UNION ALL SELECT 's4_dedup', s4_dedup FROM k)
      ORDER BY stage""")),

    // ----- mixing APPLY: deterministic hash-Bernoulli sampling -----------
    ("q110_mix_sampling_apply", (s: SparkSession, dir: String) => {
      import s.implicits._
      // q107 computes the temperature weights; this applies them — each
      // doc is kept iff md5(doc_id)/2^32 < its source's weight, so the
      // sample is deterministic, seedless, and reproducible on any
      // engine. Two passes by design: pass 1 aggregates the 20-row
      // weight table (broadcast), pass 2 applies it row-wise — the only
      // one-pass alternative is a corpus-wide unpartitioned window.
      // The hash fraction is an exact 2^32 division; the weight chain is
      // the q107-verified sqrt/division form.
      val docs = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"source", tokCount(TA.normText($"text")).as("n_tokens"))
      val perSrc = docs.groupBy($"source").agg(sum($"n_tokens").as("src_tokens"))
      val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val weights = perSrc
        .withColumn("tot_tokens", sum($"src_tokens").over(wAll))
        .withColumn("max_tokens", max($"src_tokens").over(wAll))
        .select($"source",
          (sqrt($"src_tokens".cast("double") / $"tot_tokens") /
            sqrt($"max_tokens".cast("double") / $"tot_tokens")).as("mix_weight"))
      val hashed = docs.join(broadcast(weights), Seq("source"))
        .withColumn("h01",
          conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
            .cast("long").cast("double") / 4294967296.0)
      hashed.groupBy($"source")
        .agg(count(lit(1)).as("n_total"),
          sum(when($"h01" < $"mix_weight", 1L).otherwise(0L)).as("n_kept"),
          sum(when($"h01" < $"mix_weight", $"n_tokens").otherwise(lit(0L))).as("kept_tokens"))
        .orderBy("source")
    }, Some(s"""
      WITH d AS (SELECT doc_id, source, CAST($tokCountSql AS BIGINT) AS n_tokens
        FROM documents),
      s AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
        FROM d GROUP BY source),
      t AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS tot_tokens,
          CAST(max(src_tokens) AS BIGINT) AS max_tokens FROM s),
      w AS (SELECT source,
          sqrt(CAST(src_tokens AS DOUBLE) / tot_tokens)
            / sqrt(CAST(max_tokens AS DOUBLE) / tot_tokens) AS mix_weight
        FROM s CROSS JOIN t),
      h AS (SELECT d.doc_id, d.source, d.n_tokens, w.mix_weight,
          CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            / 4294967296.0 AS h01
        FROM d JOIN w USING (source))
      SELECT source, count(*) AS n_total,
        CAST(sum(CASE WHEN h01 < mix_weight THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN h01 < mix_weight THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
      FROM h GROUP BY source ORDER BY source""")),

    // ----- decontamination APPLY: drop flagged docs ----------------------
    ("q111_decontaminate_apply", (s: SparkSession, dir: String) => {
      import s.implicits._
      // the apply step over q108's screen: a corpus doc is removed when
      // it shares >= 2 distinct n-grams with ANY eval doc (integer
      // threshold — no fraction compare). Output is the full corpus
      // verdict list: every non-eval doc with its eval-hit count and
      // removed flag, so the surviving corpus is `removed = 0`.
      val n = 3
      def ngrams(df: DataFrame): DataFrame = df
        .select($"doc_id", split(TA.normText($"text"), " ").as("a"))
        .filter(size($"a") >= n)
        .select($"doc_id", explode(expr(
          s"transform(sequence(1, size(a) - ${n - 1}), j -> array_join(slice(a, j, $n), ' '))"))
          .as("ngram"))
        .distinct()
      val docs = Tables.spread(Tables.t(s, dir, "documents"))
      val corpus = docs.filter($"doc_id" % 97 =!= 0)
      val evalGrams = ngrams(docs.filter($"doc_id" % 97 === 0))
        .withColumnRenamed("doc_id", "eval_doc_id")
      val hits = ngrams(corpus).join(evalGrams, Seq("ngram"))
        .groupBy($"doc_id", $"eval_doc_id").agg(count(lit(1)).as("n_shared"))
        .filter($"n_shared" >= 2)
        .groupBy($"doc_id").agg(count(lit(1)).as("n_eval_hits"))
      corpus.select($"doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_eval_hits", lit(0L)).as("n_eval_hits"),
          when(coalesce($"n_eval_hits", lit(0L)) > 0, 1L).otherwise(0L).as("removed"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS a
        FROM documents WHERE len(string_split($normSql, ' ')) >= 3),
      pos AS (SELECT doc_id, a, unnest(range(1, len(a) - 1)) AS j FROM base),
      grams AS (SELECT DISTINCT doc_id,
          array_to_string(list_slice(a, CAST(j AS INT), CAST(j + 2 AS INT)), ' ') AS ngram
        FROM pos),
      corpus AS (SELECT * FROM grams WHERE doc_id % 97 <> 0),
      ev AS (SELECT doc_id AS eval_doc_id, ngram FROM grams WHERE doc_id % 97 = 0),
      pairs AS (SELECT c.doc_id, e.eval_doc_id, count(*) AS n_shared
        FROM corpus c JOIN ev e USING (ngram) GROUP BY 1, 2),
      hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_eval_hits
        FROM pairs WHERE n_shared >= 2 GROUP BY doc_id)
      SELECT d.doc_id,
        CAST(COALESCE(h.n_eval_hits, 0) AS BIGINT) AS n_eval_hits,
        CAST(CASE WHEN COALESCE(h.n_eval_hits, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS removed
      FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      WHERE d.doc_id % 97 <> 0
      ORDER BY d.doc_id""")),

    // ----- train/val/test split + contamination-style leakage audit ------
    // Docs are assigned splits by the engine-reproducible md5/2^32 hash
    // (the q110 rule: no seed, no RNG), then a val/test doc counts as
    // LEAKED if it shares at least one word 5-gram with any train doc —
    // the shipping-gate audit a split must pass before the corpus trains
    // anything. Every shuffle keys on the 5-gram string (gram dedup, the
    // train-side distinct, the probe join are co-partitioned); no cross
    // join at any corpus size; the per-doc verdict is a doc_id rollup.
    ("q120_split_leakage", (s: SparkSession, dir: String) => {
      import s.implicits._
      val n = 5
      val d = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", split(TA.normText($"text"), " ").as("a"),
          (conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
            .cast("long").cast("double") / 4294967296.0).as("h01"))
        .filter(size($"a") >= n)
        .select($"doc_id", $"a",
          when($"h01" < 0.8, "train").when($"h01" < 0.9, "val")
            .otherwise("test").as("split"))
      val grams = d.select($"doc_id", $"split", explode(expr(
        s"transform(sequence(1, size(a) - ${n - 1}), j -> array_join(slice(a, j, $n), ' '))"))
        .as("g")).distinct()
      val trainGrams = grams.filter($"split" === "train")
        .select($"g").distinct().withColumn("hit", lit(1))
      grams.filter($"split" =!= "train")
        .join(trainGrams, Seq("g"), "left")
        .groupBy($"doc_id", $"split")
        .agg(max(coalesce($"hit", lit(0))).as("leaked"))
        .groupBy($"split")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum($"leaked").cast("long").as("n_leaked"))
        .orderBy("split")
    }, Some(s"""
      WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS a,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            / 4294967296.0 AS h01
        FROM documents),
      split AS (SELECT doc_id, a,
          CASE WHEN h01 < 0.8 THEN 'train' WHEN h01 < 0.9 THEN 'val' ELSE 'test' END AS split
        FROM d WHERE len(a) >= 5),
      grams AS (SELECT DISTINCT doc_id, split,
          array_to_string(list_slice(a, CAST(j AS INT), CAST(j + 4 AS INT)), ' ') AS g
        FROM (SELECT doc_id, split, a, unnest(range(1, len(a) - 3)) AS j FROM split)),
      train_grams AS (SELECT DISTINCT g FROM grams WHERE split = 'train'),
      flags AS (SELECT gr.doc_id, gr.split, max(CASE WHEN t.g IS NULL THEN 0 ELSE 1 END) AS leaked
        FROM grams gr LEFT JOIN train_grams t ON gr.g = t.g
        WHERE gr.split <> 'train'
        GROUP BY gr.doc_id, gr.split)
      SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(leaked) AS BIGINT) AS n_leaked
      FROM flags GROUP BY split ORDER BY split""")),

    // ----- fixed-size priority sample per source -------------------------
    // Bottom-k (priority) sampling: exactly 5 documents per source, chosen
    // by md5-hash order — the distributed fixed-size-per-group sampler
    // (q42's Bernoulli gate yields a RATE, not a size). The rank<=k filter
    // compiles to WindowGroupLimit, so each map task forwards at most k
    // rows per source into the shuffle regardless of corpus size.
    ("q140_priority_sample", (s: SparkSession, dir: String) => {
      import s.implicits._
      val h = md5($"doc_id".cast("string"))
      val w = Window.partitionBy($"source").orderBy(h, $"doc_id")
      Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", $"doc_id", row_number().over(w).as("pick"))
        .filter($"pick" <= 5)
        .orderBy("source", "pick")
    }, Some("""
      WITH r AS (SELECT source, doc_id,
        row_number() OVER (PARTITION BY source
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pick
        FROM documents)
      SELECT source, doc_id, pick FROM r WHERE pick <= 5 ORDER BY source, pick""")),

    // ----- weighted sampling without replacement (A-ES) ------------------
    // q140's weighted sibling: Efraimidis-Spirakis exponential races —
    // each doc draws u from its md5 (deterministic, seedless, the
    // q110/q120 rule) and competes on -ln(u)/weight, so selection
    // probability is proportional to n_chars. The ln is quantized to
    // integer micro-lns (q119 rule) and the division is integer
    // nano-keys ((micro * 1e6) div weight), so the race order is exact
    // integer comparison in both engines. Per-source top-5 via
    // row_number compiles to WindowGroupLimit: map tasks forward at
    // most 5 candidates per source ahead of the shuffle — the full
    // corpus never sorts.
    ("q157_weighted_sample", (s: SparkSession, dir: String) => {
      import s.implicits._
      val h = conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
        .cast("long")
      val u = (h + 1).cast("double") / lit(4294967296.0)
      val base = Tables.spread(Tables.t(s, dir, "documents"))
        .filter($"n_chars" > 0)
        .select($"source", $"doc_id", $"n_chars",
          floor(-log(u) * 1e6 + 0.5).cast("long").as("micro"))
        .withColumn("key_nano", expr("(micro * 1000000) div n_chars"))
      val w = Window.partitionBy($"source").orderBy($"key_nano", $"doc_id")
      base.select($"source", $"doc_id", $"n_chars", $"key_nano",
          row_number().over(w).as("pick"))
        .filter($"pick" <= 5)
        .orderBy("source", "pick")
    }, Some("""
      WITH b AS (SELECT source, doc_id, n_chars,
          CAST(floor(-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
            / 4294967296.0) * 1000000 + 0.5) AS BIGINT) AS micro
        FROM documents WHERE n_chars > 0),
      k AS (SELECT source, doc_id, n_chars,
          (micro * 1000000) // n_chars AS key_nano FROM b),
      r AS (SELECT source, doc_id, n_chars, key_nano,
          row_number() OVER (PARTITION BY source ORDER BY key_nano, doc_id) AS pick
        FROM k)
      SELECT source, doc_id, n_chars, key_nano, pick FROM r
      WHERE pick <= 5 ORDER BY source, pick""")),

    // ----- per-class balanced downsampling (training-set rebalancing) ---
    // Equalize class sizes by downsampling every class to the MINORITY
    // class count: deterministic per-class bottom-k by md5(vec_id) — a
    // seedless uniform sample any engine reproduces bit-for-bit. The
    // class-count aggregate and its min stay in the DAG (broadcast scalar,
    // no driver collect); the per-class rank is one window sort over the
    // class partition. kept_idsum pins the exact selected membership, not
    // just its size.
    ("q178_class_rebalance", (s: SparkSession, dir: String) => {
      import s.implicits._
      val e = Tables.t(s, dir, "embeddings").select($"vec_id", $"label")
      val counts = e.groupBy($"label").agg(count(lit(1)).as("n_orig"))
      val kmin = counts.agg(min($"n_orig").as("kmin"))
      val ranked = e
        .withColumn("h",
          conv(substring(md5($"vec_id".cast("string")), 1, 8), 16, 10).cast("long"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"label").orderBy($"h", $"vec_id")))
      ranked.crossJoin(broadcast(kmin)).filter($"rn" <= $"kmin")
        .groupBy($"label")
        .agg(count(lit(1)).as("n_kept"), sum($"vec_id").as("kept_idsum"))
        .join(counts, Seq("label"))
        .select($"label".cast("long").as("label"), $"n_orig", $"n_kept", $"kept_idsum")
        .orderBy($"label")
    }, Some("""
      WITH c AS (SELECT label, CAST(count(*) AS BIGINT) AS n_orig
        FROM embeddings GROUP BY 1),
      k AS (SELECT min(n_orig) AS kmin FROM c),
      r AS (SELECT label, vec_id, row_number() OVER (PARTITION BY label
          ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT, vec_id) AS rn
        FROM embeddings),
      kept AS (SELECT label, CAST(count(*) AS BIGINT) AS n_kept,
          CAST(sum(vec_id) AS BIGINT) AS kept_idsum
        FROM r, k WHERE rn <= kmin GROUP BY label)
      SELECT CAST(c.label AS BIGINT) AS label, c.n_orig, kept.n_kept, kept.kept_idsum
      FROM c JOIN kept USING (label) ORDER BY label""")),

    // ----- cluster-aware k-fold split (GroupKFold) audit ----------------
    // The near-dup leakage trap in evaluation splits: hashing DOC ids
    // into folds scatters duplicate-cluster members across folds — every
    // scattered pair is train/test contamination. Hashing the CLUSTER key
    // instead keeps whole clusters in one fold, so its leaky-pair count
    // is STRUCTURALLY zero. Both schemes are audited from one per-
    // (cluster, fold) aggregate — leaky pairs = C(n,2) − Σ_fold C(n_f,2),
    // pure combinatorics, no pair enumeration and no joins — so the
    // audit costs one aggregate even when the pair count would be
    // quadratic. The fold_min/max columns show the price of grouping:
    // slightly less balanced folds, bounded by the largest cluster.
    ("q180_grouped_kfold", (s: SparkSession, dir: String) => {
      import s.implicits._
      val K = 5
      val d = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id",
          md5(array_join(slice(split(TA.normText($"text"), " "), 1, 10), " ")).as("ck"))
        .withColumn("fold_doc",
          conv(substring(md5(concat(lit("fd|"), $"doc_id".cast("string"))), 1, 8), 16, 10)
            .cast("long") % K)
        .withColumn("fold_grp",
          conv(substring(md5(concat(lit("fg|"), $"ck")), 1, 8), 16, 10)
            .cast("long") % K)
      def scheme(foldCol: String, name: String): DataFrame = {
        val perCkFold = d.groupBy($"ck", col(foldCol).as("fold"))
          .agg(count(lit(1)).as("nf"))
        val perCk = perCkFold.groupBy($"ck")
          .agg(sum($"nf").as("n"), sum(expr("nf * (nf - 1) div 2")).as("same_pairs"))
        val pairAgg = perCk.agg(
          sum(expr("n * (n - 1) div 2")).as("dup_pairs"),
          sum(expr("n * (n - 1) div 2 - same_pairs")).as("leaky_pairs"))
        val foldAgg = d.groupBy(col(foldCol)).agg(count(lit(1)).as("nd"))
          .agg(min($"nd").as("fold_min_docs"), max($"nd").as("fold_max_docs"))
        pairAgg.crossJoin(foldAgg)
          .select(lit(name).as("scheme"), $"dup_pairs", $"leaky_pairs",
            $"fold_min_docs", $"fold_max_docs")
      }
      scheme("fold_doc", "doc_hash").unionByName(scheme("fold_grp", "group_hash"))
        .orderBy("scheme")
    }, Some {
      def schemeSql(fold: String, name: String): String = s"""
      ${name}_cf AS (SELECT ck, $fold AS fold, count(*) AS nf FROM f GROUP BY 1, 2),
      ${name}_ck AS (SELECT ck, sum(nf) AS n, sum(nf * (nf - 1) // 2) AS same_pairs
        FROM ${name}_cf GROUP BY 1),
      ${name}_p AS (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS dup_pairs,
          CAST(sum(n * (n - 1) // 2 - same_pairs) AS BIGINT) AS leaky_pairs
        FROM ${name}_ck),
      ${name}_f AS (SELECT CAST(min(nd) AS BIGINT) AS fold_min_docs,
          CAST(max(nd) AS BIGINT) AS fold_max_docs
        FROM (SELECT $fold, count(*) AS nd FROM f GROUP BY 1)),
      ${name}_row AS (SELECT '$name' AS scheme, dup_pairs, leaky_pairs,
          fold_min_docs, fold_max_docs FROM ${name}_p, ${name}_f)"""
      s"""
      WITH d AS (SELECT doc_id,
          md5(array_to_string(list_slice(string_split($normSql, ' '), 1, 10), ' ')) AS ck
        FROM documents),
      f AS (SELECT doc_id, ck,
          ('0x' || substr(md5('fd|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 5 AS fold_doc,
          ('0x' || substr(md5('fg|' || ck), 1, 8))::BIGINT % 5 AS fold_grp
        FROM d),
      ${schemeSql("fold_doc", "doc_hash")},
      ${schemeSql("fold_grp", "group_hash")}
      SELECT * FROM doc_hash_row UNION ALL SELECT * FROM group_hash_row
      ORDER BY scheme"""
    }),

    // ----- dedup-deflated token budget ----------------------------------
    // What a source REALLY contributes to a training mix: raw token
    // counts overstate sources full of duplicates, so weight every doc's
    // tokens by 1/cluster_size (uniform survivor probability) and report
    // the deflated budget next to the raw one. Micro-integer division
    // keeps both engines bit-identical. One aggregate for cluster sizes,
    // one equi-join back, one per-source rollup — the mixing-weight
    // planner (q107) would consume eff_tokens_micro instead of raw
    // counts, closing the dedup → mixing loop.
    ("q181_effective_tokens", (s: SparkSession, dir: String) => {
      import s.implicits._
      val nt = TA.normText($"text")
      val t = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"source",
          md5(array_join(slice(split(nt, " "), 1, 10), " ")).as("ck"),
          when(nt === "", 0L).otherwise(size(split(nt, " "))).cast("long").as("tokens"))
      val cs = t.groupBy($"ck").agg(count(lit(1)).as("csize"))
      t.join(cs, Seq("ck"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"tokens").as("raw_tokens"),
          sum(expr("(1000000 * tokens) div csize")).as("eff_tokens_micro"))
        .select($"source", $"n_docs", $"raw_tokens", $"eff_tokens_micro",
          expr("eff_tokens_micro div raw_tokens").as("deflation_micro"))
        .orderBy("source")
    }, Some(s"""
      WITH t AS (SELECT doc_id, source,
          md5(array_to_string(list_slice(string_split($normSql, ' '), 1, 10), ' ')) AS ck,
          CAST(CASE WHEN $normSql = '' THEN 0
            ELSE len(string_split($normSql, ' ')) END AS BIGINT) AS tokens
        FROM documents),
      cs AS (SELECT ck, CAST(count(*) AS BIGINT) AS csize FROM t GROUP BY 1),
      a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(tokens) AS BIGINT) AS raw_tokens,
          CAST(sum((1000000 * tokens) // csize) AS BIGINT) AS eff_tokens_micro
        FROM t JOIN cs USING (ck) GROUP BY 1)
      SELECT source, n_docs, raw_tokens, eff_tokens_micro,
        eff_tokens_micro // raw_tokens AS deflation_micro
      FROM a ORDER BY source""")),

    // ----- epoch-shuffle decorrelation audit ----------------------------
    // The training-loader order check: a seedless md5 permutation per
    // epoch (order by md5('e<epoch>|<id>')) must DECORRELATE between
    // epochs, or the loader replays the same curriculum every pass.
    // Permutations are per-shard (doc_id div 64 — the unit a real loader
    // shuffles within), so every rank window parallelizes across shards
    // and no global sort exists at any corpus size. The audit statistic
    // is Spearman's footrule Σ|r₀−r₁|, whose expectation for independent
    // permutations is Σ(n_s²−1)/3 ≈ Σn_s²/3 — ratio_micro ≈ 1e6 is the
    // pass signal, ~0 would mean the epochs replay. All integer.
    ("q188_epoch_shuffle", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", expr("doc_id div 64").as("shard"),
          conv(substring(md5(concat(lit("e0|"), $"doc_id".cast("string"))), 1, 8), 16, 10)
            .cast("long").as("h0"),
          conv(substring(md5(concat(lit("e1|"), $"doc_id".cast("string"))), 1, 8), 16, 10)
            .cast("long").as("h1"))
      val r = d
        .withColumn("r0", row_number().over(
          Window.partitionBy($"shard").orderBy($"h0", $"doc_id")))
        .withColumn("r1", row_number().over(
          Window.partitionBy($"shard").orderBy($"h1", $"doc_id")))
      val perShard = r.groupBy($"shard")
        .agg(count(lit(1)).as("ns"),
          sum(abs($"r0" - $"r1")).as("footrule"))
      perShard.agg(
          sum($"ns").as("n_docs"), count(lit(1)).as("n_shards"),
          sum($"footrule").as("footrule_sum"),
          sum($"ns" * $"ns").as("sum_ns2"))
        .select($"n_docs", $"n_shards", $"footrule_sum", $"sum_ns2",
          expr("(3000000 * footrule_sum) div sum_ns2").as("ratio_micro"))
    }, Some("""
      WITH d AS (SELECT doc_id, doc_id // 64 AS shard,
          ('0x' || substr(md5('e0|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h0,
          ('0x' || substr(md5('e1|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h1
        FROM documents),
      r AS (SELECT shard,
          row_number() OVER (PARTITION BY shard ORDER BY h0, doc_id) AS r0,
          row_number() OVER (PARTITION BY shard ORDER BY h1, doc_id) AS r1
        FROM d),
      ps AS (SELECT shard, CAST(count(*) AS BIGINT) AS ns,
          CAST(sum(abs(r0 - r1)) AS BIGINT) AS footrule
        FROM r GROUP BY 1)
      SELECT CAST(sum(ns) AS BIGINT) AS n_docs, CAST(count(*) AS BIGINT) AS n_shards,
        CAST(sum(footrule) AS BIGINT) AS footrule_sum,
        CAST(sum(ns * ns) AS BIGINT) AS sum_ns2,
        CAST((3000000 * CAST(sum(footrule) AS BIGINT)) // CAST(sum(ns * ns) AS BIGINT) AS BIGINT) AS ratio_micro
      FROM ps""")),

    // Data-selection operators — importance
    // reweighting toward a target domain, hashed-feature linear scoring,
    // distribution-matching resampling, and windowed lexical diversity —
    // each with a DuckDB oracle.
    //
    // House rules as elsewhere: md5-derived determinism shared verbatim
    // with the oracle, the micro-ln rule for transcendentals, integer
    // arithmetic near the gate, identical aliases, total ORDER BY.

    // ----- DSIR-style importance reweighting toward a target domain -----
    // Data Selection via Importance Resampling, unigram form: score each
    // doc by its average per-token log-likelihood RATIO between a target
    // domain's token distribution and the corpus distribution, then keep
    // the top-100. The target domain is data-derived (the largest source,
    // ties to the smallest name) so the oracle reproduces it; both
    // distributions are add-one smoothed over the corpus vocabulary so
    // out-of-target tokens score finitely. Per-token factors are integer
    // micro-ln DIFFERENCES (the q127 rule — the shuffle-order-sensitive
    // double sum never appears); the per-doc normalization divides once
    // at the end. Every join keys on the token; the target choice, vocab
    // size, and token totals are in-DAG broadcast scalars (q86 rule);
    // selection is one TakeOrdered. At 100 TB this prices exactly like
    // q127's drift monitor plus a top-k.
    ("q190_importance_reweighting", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"source", explode(split(TA.normText($"text"), " ")).as("tok"))
      val srcCounts = toks.groupBy($"source").agg(count(lit(1)).as("n_src"))
      val target = srcCounts.orderBy(desc("n_src"), $"source").limit(1)
        .select($"source".as("t_src"), $"n_src".as("n_t"))
      val corpus = toks.groupBy($"tok").agg(count(lit(1)).as("f_c"))
      val vocabTot = corpus.agg(count(lit(1)).as("v"), sum($"f_c").as("n_c"))
      val tgtFreq = toks.join(broadcast(target), $"source" === $"t_src")
        .groupBy($"tok").agg(count(lit(1)).as("f_t"))
      val lp = corpus.join(tgtFreq, Seq("tok"), "left")
        .na.fill(0L, Seq("f_t"))
        .crossJoin(broadcast(target.select($"n_t")))
        .crossJoin(broadcast(vocabTot))
        .select($"tok",
          (floor(log(($"f_t" + 1).cast("double") / ($"n_t" + $"v").cast("double")) * 1e6 + 0.5).cast("long")
            - floor(log(($"f_c" + 1).cast("double") / ($"n_c" + $"v").cast("double")) * 1e6 + 0.5).cast("long"))
            .as("dln"))
      val scored = toks.join(lp, Seq("tok"))
        .groupBy($"doc_id", $"source")
        .agg(count(lit(1)).as("n_tokens"), sum($"dln").as("sdln"))
        .select($"doc_id", $"source", $"n_tokens",
          expr("sdln div n_tokens").as("score_micro"))
      val selected = scored.orderBy(desc("score_micro"), $"doc_id").limit(100)
        .select($"doc_id").withColumn("sel", lit(1L))
      scored.join(selected, Seq("doc_id"), "left")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"sel" === 1L, 1L).otherwise(0L)).as("n_selected"),
          sum(when($"sel" === 1L, $"n_tokens").otherwise(0L)).as("sel_tokens"),
          sum(when($"sel" === 1L, $"doc_id").otherwise(0L)).as("sel_idsum"))
        .orderBy($"source")
    }, Some(s"""
      WITH toks AS (SELECT doc_id, source, unnest(string_split($normSql, ' ')) AS tok FROM documents),
      srcc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src FROM toks GROUP BY 1),
      tgt AS (SELECT source AS t_src, n_src AS n_t FROM srcc ORDER BY n_src DESC, source LIMIT 1),
      corpus AS (SELECT tok, CAST(count(*) AS BIGINT) AS f_c FROM toks GROUP BY 1),
      vt AS (SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(f_c) AS BIGINT) AS n_c FROM corpus),
      tf AS (SELECT t.tok, CAST(count(*) AS BIGINT) AS f_t FROM toks t JOIN tgt ON t.source = tgt.t_src GROUP BY 1),
      lp AS (SELECT c.tok,
          CAST(floor(ln(CAST(coalesce(tf.f_t, 0) + 1 AS DOUBLE) / (tgt.n_t + vt.v)) * 1e6 + 0.5) AS BIGINT)
            - CAST(floor(ln(CAST(c.f_c + 1 AS DOUBLE) / (vt.n_c + vt.v)) * 1e6 + 0.5) AS BIGINT) AS dln
        FROM corpus c LEFT JOIN tf ON c.tok = tf.tok CROSS JOIN tgt CROSS JOIN vt),
      scored AS (SELECT t.doc_id, t.source, CAST(count(*) AS BIGINT) AS n_tokens,
          CAST(sum(l.dln) AS BIGINT) // CAST(count(*) AS BIGINT) AS score_micro
        FROM toks t JOIN lp l ON t.tok = l.tok GROUP BY 1, 2),
      sel AS (SELECT doc_id FROM scored ORDER BY score_micro DESC, doc_id LIMIT 100)
      SELECT s.source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN sel.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
        CAST(sum(CASE WHEN sel.doc_id IS NOT NULL THEN s.n_tokens ELSE 0 END) AS BIGINT) AS sel_tokens,
        CAST(sum(CASE WHEN sel.doc_id IS NOT NULL THEN s.doc_id ELSE 0 END) AS BIGINT) AS sel_idsum
      FROM scored s LEFT JOIN sel ON s.doc_id = sel.doc_id
      GROUP BY s.source ORDER BY s.source""")),

    // ----- hashed-feature linear quality scorer (zero-join) -------------
    // The fastText-shaped serving path: hash every token into one of
    // 1024 feature buckets and score with a per-bucket weight — here
    // md5-derived (centered on 0, range ±1000) so both engines
    // regenerate any weight from the bucket id alone; a trained model
    // swaps in a broadcast weight map with the identical plan. The whole
    // scorer is MAP-SIDE: the weight is a pure expression of the token's
    // own hash, so no join, no broadcast, no shuffle before the per-doc
    // aggregate — the cheapest possible classifier shape at 100 TB.
    // Decision = sign of the summed logit.
    ("q191_hashed_linear_score", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"source", explode(split(TA.normText($"text"), " ")).as("tok"))
      val scored = toks
        .withColumn("b", conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long") % 1024)
        .withColumn("w",
          conv(substring(md5(concat(lit("w|"), $"b".cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2001 - 1000)
        .groupBy($"doc_id", $"source")
        .agg(count(lit(1)).as("n_tokens"), sum($"w").as("logit"))
      scored.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"logit" >= 0L, 1L).otherwise(0L)).as("n_kept"),
          sum($"logit").as("logit_sum"),
          sum(when($"logit" >= 0L, $"doc_id").otherwise(0L)).as("kept_idsum"))
        .select($"source", $"n_docs", $"n_kept", $"kept_idsum",
          expr("logit_sum div n_docs").as("mean_logit"))
        .orderBy($"source")
    }, Some(s"""
      WITH toks AS (SELECT doc_id, source, unnest(string_split($normSql, ' ')) AS tok FROM documents),
      tw AS (SELECT doc_id, source,
          ('0x' || substr(md5('w|' || CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000 AS w
        FROM toks),
      scored AS (SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tokens,
          CAST(sum(w) AS BIGINT) AS logit
        FROM tw GROUP BY 1, 2)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN logit >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN logit >= 0 THEN doc_id ELSE 0 END) AS BIGINT) AS kept_idsum,
        CAST(sum(logit) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_logit
      FROM scored GROUP BY source ORDER BY source""")),

    // ----- length-distribution matching resample ------------------------
    // Distribution matching: resample every source so its length-bucket
    // histogram matches the corpus-wide one. Acceptance probability per
    // (source, bucket) is min(1, p_corpus(b) / p_source(b)); the
    // hash-Bernoulli accept clears to ONE integer inequality
    //   u · n · n_sb < 1e6 · n_b · n_s   (u = md5(doc)%1e6)
    // with the min(1,·) absorbed (u < 1e6 always). The three-factor
    // products pass Int64 once n approaches ~1e9 docs, so the gate
    // compares in 128-bit integers (DECIMAL(38,0) / HUGEINT) — exact
    // to n ≈ 1e15 docs. Two bounded
    // histograms, one equi-join back on (source, bucket), seedless and
    // engine-reproducible like q110 — the corpus never sorts, the
    // histograms broadcast.
    ("q192_length_matching", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"source", expr("n_chars div 256").as("b"))
      val sb = d.groupBy($"source", $"b").agg(count(lit(1)).as("n_sb"))
      val cb = d.groupBy($"b").agg(count(lit(1)).as("n_b"))
      val sn = d.groupBy($"source").agg(count(lit(1)).as("n_s"))
      val tot = d.agg(count(lit(1)).as("n"))
      d.withColumn("u",
          conv(substring(md5(concat(lit("r|"), $"doc_id".cast("string"))), 1, 8), 16, 10)
            .cast("long") % 1000000)
        .join(sb, Seq("source", "b"))
        .join(broadcast(cb), Seq("b"))
        .join(broadcast(sn), Seq("source"))
        .crossJoin(broadcast(tot))
        .withColumn("acc",
          when(expr("CAST(u AS DECIMAL(38,0)) * n * n_sb") <
               expr("CAST(1000000 AS DECIMAL(38,0)) * n_b * n_s"), 1L).otherwise(0L))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"acc").as("n_accepted"),
          sum(when($"acc" === 1L, $"doc_id").otherwise(0L)).as("accepted_idsum"))
        .orderBy($"source")
    }, Some("""
      WITH d AS (SELECT doc_id, source, n_chars // 256 AS b FROM documents),
      sb AS (SELECT source, b, CAST(count(*) AS BIGINT) AS n_sb FROM d GROUP BY 1, 2),
      cb AS (SELECT b, CAST(count(*) AS BIGINT) AS n_b FROM d GROUP BY 1),
      sn AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM d GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      acc AS (SELECT d.doc_id, d.source,
          CASE WHEN CAST(('0x' || substr(md5('r|' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 AS HUGEINT)
            * tot.n * sb.n_sb < CAST(1000000 AS HUGEINT) * cb.n_b * sn.n_s THEN 1 ELSE 0 END AS a
        FROM d JOIN sb ON d.source = sb.source AND d.b = sb.b
        JOIN cb ON d.b = cb.b JOIN sn ON d.source = sn.source CROSS JOIN tot)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(a) AS BIGINT) AS n_accepted,
        CAST(sum(CASE WHEN a = 1 THEN doc_id ELSE 0 END) AS BIGINT) AS accepted_idsum
      FROM acc GROUP BY source ORDER BY source""")),

    // ----- semantic diversity cap (per-bucket quota) ---------------------
    // The diversity complement of q186's near-rep dropping: cap every
    // LSH band bucket (the q183 b0 key — a semantic neighborhood proxy)
    // at 20 members, keeping a deterministic md5-ordered quota. The
    // kept set is a `filter(rn <= 20)` DIRECTLY above the window, so it
    // compiles to WindowGroupLimit: each map task pre-prunes every
    // bucket to its top-20 before the shuffle, and at 100 TB the
    // overflow of a boilerplate-heavy neighborhood never leaves the map
    // side. The per-source totals ride a SEPARATE plain aggregate (no
    // window — partial map-side combine to |sources| rows); a capped
    // count folded into the window branch would force every row through
    // the bk shuffle and defeat the group limit. Plan pinned in
    // Round7fSpec (WindowGroupLimit present + totals branch window-free).
    ("q197_diversity_cap", (s: SparkSession, dir: String) => {
      import s.implicits._
      val keyed = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"source",
          graft.functions.WordShingleHash32(TA.normText($"text"), 3).as("hs"))
        .select($"doc_id", $"source",
          md5(concat_ws("|", lit("b0"),
            Dedup.minhashInt($"hs", 0).cast("string"),
            Dedup.minhashInt($"hs", 1).cast("string"))).as("bk"),
          conv(substring(md5(concat(lit("c|"), $"doc_id".cast("string"))), 1, 8), 16, 10)
            .cast("long").as("u"))
      val totals = keyed.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      val kept = keyed
        .withColumn("rn", row_number().over(
          Window.partitionBy($"bk").orderBy($"u", $"doc_id")))
        .filter($"rn" <= 20) // WindowGroupLimit: ≤20 rows/bucket leave each map task
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("kept_idsum"))
      totals.join(kept, Seq("source"), "left")
        .na.fill(0L, Seq("n_kept", "kept_idsum"))
        .select($"source", $"n_docs", $"n_kept",
          ($"n_docs" - $"n_kept").as("n_capped_out"), $"kept_idsum")
        .orderBy($"source")
    }, Some(s"""
      WITH d AS (SELECT doc_id, source, string_split($normSql, ' ') AS arr FROM documents),
      sh AS (SELECT doc_id, source,
          list_distinct(list_transform(range(1, greatest(len(arr) - 2, 1) + 1),
            i -> array_to_string(arr[i:i+2], ' '))) AS shl FROM d),
      hst AS (SELECT doc_id, source,
          list_distinct(list_transform(shl, g -> ('0x' || substr(md5(g), 1, 8))::BIGINT)) AS hs
        FROM sh),
      keyed AS (SELECT doc_id, source,
          md5('b0|' || CAST(${Dedup.minhashSql(0)} AS VARCHAR) || '|'
            || CAST(${Dedup.minhashSql(1)} AS VARCHAR)) AS bk,
          ('0x' || substr(md5('c|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS u
        FROM hst),
      r AS (SELECT doc_id, source,
          row_number() OVER (PARTITION BY bk ORDER BY u, doc_id) AS rn
        FROM keyed)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(count(*) - sum(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_capped_out,
        CAST(sum(CASE WHEN rn <= 20 THEN doc_id ELSE 0 END) AS BIGINT) AS kept_idsum
      FROM r GROUP BY source ORDER BY source""")),

    // ----- k-anonymity re-identification risk ladder ----------------------
    // The privacy audit that gates releasing (or training on) tabular
    // user data: group by the quasi-identifier tuple (nation, market
    // segment, account-balance band) and read off, for each k in
    // {2, 5, 10, 20}, how many rows sit in groups smaller than k — the
    // rows a linker with that background knowledge could single out.
    // Two aggregates total: group sizes, then the SIZE HISTOGRAM; the
    // ladder is computed over the histogram (cardinality = distinct
    // group sizes, trivially bounded), so the k sweep never rescans
    // rows — the shape that makes the audit free at any corpus size.
    // Balance band uses floor() explicitly: c_acctbal is signed, and
    // integer `div` on negatives truncates in Spark but floors in
    // DuckDB — floor() is the portable band.
    ("q206_k_anonymity", (s: SparkSession, dir: String) => {
      import s.implicits._
      val qi = Tables.t(s, dir, "customer")
        .select($"c_nationkey", $"c_mktsegment",
          floor($"c_acctbal" / 1000).cast("long").as("bal_b"))
      val gs = qi.groupBy($"c_nationkey", $"c_mktsegment", $"bal_b")
        .agg(count(lit(1)).as("g"))
      val hist = gs.groupBy($"g").agg(count(lit(1)).as("n_groups"))
      val tot = hist.agg(sum($"g" * $"n_groups").as("n_rows"),
        sum($"n_groups").as("n_groups_total"))
      hist.select(explode(array(Seq(2L, 5L, 10L, 20L).map(lit): _*)).as("k"),
          $"g", $"n_groups")
        .groupBy($"k")
        .agg(sum(when($"g" < $"k", $"n_groups").otherwise(0L)).as("n_groups_small"),
          sum(when($"g" < $"k", $"g" * $"n_groups").otherwise(0L)).as("n_rows_at_risk"))
        .crossJoin(broadcast(tot))
        .select($"k", $"n_groups_total", $"n_groups_small", $"n_rows_at_risk",
          expr("(1000000 * n_rows_at_risk) div n_rows").as("risk_micro"))
        .orderBy("k")
    }, Some("""
      WITH qi AS (SELECT c_nationkey, c_mktsegment,
          CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_b FROM customer),
      gs AS (SELECT CAST(count(*) AS BIGINT) AS g FROM qi
        GROUP BY c_nationkey, c_mktsegment, bal_b),
      hist AS (SELECT g, CAST(count(*) AS BIGINT) AS n_groups FROM gs GROUP BY g),
      tot AS (SELECT CAST(sum(g * n_groups) AS BIGINT) AS n_rows,
          CAST(sum(n_groups) AS BIGINT) AS n_groups_total FROM hist),
      k AS (SELECT unnest([2, 5, 10, 20]) AS k),
      r AS (SELECT k.k,
          CAST(sum(CASE WHEN h.g < k.k THEN h.n_groups ELSE 0 END) AS BIGINT) AS n_groups_small,
          CAST(sum(CASE WHEN h.g < k.k THEN h.g * h.n_groups ELSE 0 END) AS BIGINT) AS n_rows_at_risk
        FROM hist h CROSS JOIN k GROUP BY 1)
      SELECT CAST(r.k AS BIGINT) AS k, t.n_groups_total, r.n_groups_small,
        r.n_rows_at_risk, (1000000 * r.n_rows_at_risk) // t.n_rows AS risk_micro
      FROM r CROSS JOIN tot t ORDER BY k""")),

    // ----- l-diversity audit (the k-anonymity companion) ------------------
    // k-anonymity (q206) bounds group SIZE; l-diversity bounds what a
    // linker LEARNS: a group whose members all share one sensitive value
    // leaks it regardless of size. Quasi-identifiers here are (nation,
    // balance band); the sensitive attribute is the market segment; a
    // group's diversity is its distinct sensitive-value count. Same
    // histogram discipline as q206: one distinct-count aggregate to
    // groups, then the l sweep in {2, 3, 4, 5} runs over the
    // (diversity → group count/row count) histogram, never rescanning
    // rows. `n_rows_exposed` at l=2 counts members of single-segment
    // groups — the rows whose segment the release hands to any linker.
    ("q219_l_diversity", (s: SparkSession, dir: String) => {
      import s.implicits._
      val qi = Tables.t(s, dir, "customer")
        .select($"c_nationkey", floor($"c_acctbal" / 1000).cast("long").as("bal_b"),
          $"c_mktsegment")
      val gs = qi.groupBy($"c_nationkey", $"bal_b")
        .agg(count(lit(1)).as("g"), countDistinct($"c_mktsegment").as("ldiv"))
      val hist = gs.groupBy($"ldiv")
        .agg(count(lit(1)).as("n_groups"), sum($"g").as("n_rows"))
      val tot = hist.agg(sum($"n_rows").as("t_rows"))
      hist.select(explode(array(Seq(2L, 3L, 4L, 5L).map(lit): _*)).as("l"),
          $"ldiv", $"n_groups", $"n_rows")
        .groupBy($"l")
        .agg(sum(when($"ldiv" < $"l", $"n_groups").otherwise(0L)).as("n_groups_below"),
          sum(when($"ldiv" < $"l", $"n_rows").otherwise(0L)).as("n_rows_exposed"))
        .crossJoin(broadcast(tot))
        .select($"l", $"n_groups_below", $"n_rows_exposed",
          expr("(1000000 * n_rows_exposed) div t_rows").as("exposed_micro"))
        .orderBy("l")
    }, Some("""
      WITH qi AS (SELECT c_nationkey,
          CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_b, c_mktsegment
        FROM customer),
      gs AS (SELECT CAST(count(*) AS BIGINT) AS g,
          CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS ldiv
        FROM qi GROUP BY c_nationkey, bal_b),
      hist AS (SELECT ldiv, CAST(count(*) AS BIGINT) AS n_groups,
          CAST(sum(g) AS BIGINT) AS n_rows FROM gs GROUP BY ldiv),
      tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t_rows FROM hist),
      l AS (SELECT unnest([2, 3, 4, 5]) AS l)
      SELECT CAST(l.l AS BIGINT) AS l,
        CAST(sum(CASE WHEN h.ldiv < l.l THEN h.n_groups ELSE 0 END) AS BIGINT) AS n_groups_below,
        CAST(sum(CASE WHEN h.ldiv < l.l THEN h.n_rows ELSE 0 END) AS BIGINT) AS n_rows_exposed,
        (1000000 * CAST(sum(CASE WHEN h.ldiv < l.l THEN h.n_rows ELSE 0 END) AS BIGINT)) // t.t_rows AS exposed_micro
      FROM hist h CROSS JOIN l CROSS JOIN tot t
      GROUP BY l.l, t.t_rows ORDER BY l""")),

    // Sampling design, contrastive-pair hygiene, and
    // declarative data-quality contracts — the eval/ingest governance
    // surface of a corpus pipeline.

    // ----- stratification gain (survey-sampling design effect) ------------
    // Should an eval sample be drawn stratified-by-source or uniformly?
    // The answer is the variance decomposition: proportional-allocation
    // stratified sampling removes the BETWEEN-strata variance, so the
    // gain is 1 − SSW/SST — the R² of source on the metric. Computed
    // exactly from three integer sums per stratum (n, Σx, Σx²; x =
    // n_chars); sums-of-squares use the n·Σx² − (Σx)² form and clear to
    // integers with one floor division (identical both engines). One
    // aggregate over the corpus, |sources| rows after — the cheapest
    // possible answer to a design question usually settled by opinion.
    ("q220_stratification_gain", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.t(s, dir, "documents").select($"source", $"n_chars")
      val per = d.groupBy($"source").agg(count(lit(1)).as("n_s"),
        sum($"n_chars").as("sx"), sum($"n_chars" * $"n_chars").as("sxx"))
        .select($"source", $"n_s", $"sx", $"sxx",
          expr("(n_s * sxx - sx * sx) div n_s").as("ssw_part"),
          expr("(1000000 * sx) div n_s").as("mean_micro"))
      val tot = per.agg(sum($"n_s").as("n"), sum($"sx").as("tsx"),
          sum($"sxx").as("tsxx"), sum($"ssw_part").as("ssw"))
        .select($"ssw", expr("(n * tsxx - tsx * tsx) div n").as("sst"))
        .select($"ssw", $"sst",
          expr("(1000000 * (sst - ssw)) div sst").as("gain_micro"))
      per.crossJoin(broadcast(tot))
        .select($"source", $"n_s".as("n_docs"), $"mean_micro", $"ssw_part",
          $"ssw", $"sst", $"gain_micro")
        .orderBy("source")
    }, Some("""
      WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s,
          CAST(sum(n_chars) AS BIGINT) AS sx,
          CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
        FROM documents GROUP BY source),
      p2 AS (SELECT source, n_s, sx, sxx,
          (n_s * sxx - sx * sx) // n_s AS ssw_part,
          (1000000 * sx) // n_s AS mean_micro
        FROM per),
      tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n, CAST(sum(sx) AS BIGINT) AS tsx,
          CAST(sum(sxx) AS BIGINT) AS tsxx, CAST(sum(ssw_part) AS BIGINT) AS ssw
        FROM p2),
      t2 AS (SELECT ssw, (n * tsxx - tsx * tsx) // n AS sst FROM tot),
      t3 AS (SELECT ssw, sst, (1000000 * (sst - ssw)) // sst AS gain_micro FROM t2)
      SELECT p2.source, p2.n_s AS n_docs, p2.mean_micro, p2.ssw_part,
        t3.ssw, t3.sst, t3.gain_micro
      FROM p2 CROSS JOIN t3 ORDER BY p2.source""")),

    // ----- dedup-aware negative sampling ----------------------------------
    // Contrastive training needs negatives that are actually negative: a
    // sampled "negative" that is a near-duplicate of its anchor is a
    // FALSE negative and poisons the loss. Proposals are md5-uniform
    // over the contiguous id space (5 per anchor, seedless — any retry
    // regenerates the same pairs); the near-dup screen joins both sides'
    // LSH BAND-KEY arrays (the q21 4-band signature, the persisted dedup
    // index at scale) and rejects any proposal sharing a band — the
    // exclusion costs a bounded 4×4 array intersect per proposal, plus
    // two id equi-joins against the signature table. Proposals mix the
    // two production sources: 5 md5-uniform draws per anchor AND, where
    // the anchor has a band-0 bucket partner, one HARD proposal from its
    // own LSH bucket (j = 6, the smallest partner id) — hard negatives
    // mined from the ANN index are exactly the draws most likely to be
    // secret positives, and the screen provably rejects every one of
    // them (band-0 equality holds by construction). Self-draws are
    // counted separately (a sampling artifact, not a dedup catch).
    // Per-anchor accounting pins the kept set by id-sum.
    ("q221_negative_sampling", (s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id",
          graft.functions.WordShingleHash32(TA.normText($"text"), 3).as("hs"))
      val mh = docs.select(($"doc_id" +: (0 until 8).map(k =>
        Dedup.minhashInt($"hs", k).as(s"m$k"))): _*)
      val bk = mh.select($"doc_id", array((0 until 4).map(b =>
          md5(concat_ws("|", col(s"m${2 * b}").cast("string"),
            col(s"m${2 * b + 1}").cast("string")))): _*).as("bands"))
        .localCheckpoint() // joined twice (anchor side + negative side)
      val n = Tables.t(s, dir, "documents").agg(count(lit(1)).as("n"))
      val uniform = bk.select($"doc_id".as("anchor"), $"bands".as("bands_a"))
        .crossJoin(broadcast(n))
        .select($"anchor", $"bands_a",
          explode(array((1 to 5).map(lit): _*)).as("j"), $"n")
        .select($"anchor", $"bands_a", $"j",
          (conv(substring(md5(concat_ws("|", lit("neg"), $"anchor".cast("string"),
            $"j".cast("string"))), 1, 8), 16, 10).cast("long") % $"n").as("neg"))
      val b0 = bk.select($"doc_id", element_at($"bands", 1).as("b0"))
      val hard = b0.toDF("anchor", "k").join(b0.toDF("p", "k"), Seq("k"))
        .filter($"anchor" =!= $"p")
        .groupBy($"anchor").agg(min($"p").as("neg"))
        .join(bk.select($"doc_id".as("anchor"), $"bands".as("bands_a")), Seq("anchor"))
        .select($"anchor", $"bands_a", lit(6).as("j"), $"neg")
      val props = uniform.drop("n").unionByName(hard)
      val scored = props
        .join(bk.select($"doc_id".as("neg"), $"bands".as("bands_b")), Seq("neg"))
        .select($"anchor", $"neg",
          when($"neg" === $"anchor", 1L).otherwise(0L).as("is_self"),
          when($"neg" =!= $"anchor" && arrays_overlap($"bands_a", $"bands_b"), 1L)
            .otherwise(0L).as("is_banddup"))
      scored.groupBy($"anchor")
        .agg(count(lit(1)).as("n_proposed"), sum($"is_self").as("n_self"),
          sum($"is_banddup").as("n_banddup"),
          sum(when($"is_self" === 0 && $"is_banddup" === 0, 1L).otherwise(0L))
            .as("n_kept"),
          sum(when($"is_self" === 0 && $"is_banddup" === 0, $"neg").otherwise(0L))
            .as("kept_negsum"))
        .orderBy("anchor")
    }, Some {
      val mhDefs = (0 until 8).map(k => s"${Dedup.minhashSql(k)} AS m$k")
        .mkString(",\n        ")
      val bandsList = (0 until 4).map(b =>
        s"md5(CAST(m${2 * b} AS VARCHAR) || '|' || CAST(m${2 * b + 1} AS VARCHAR))")
        .mkString("[", ", ", "]")
      s"""
      WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS arr FROM documents),
      sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(arr) - 2, 1) + 1),
        i -> array_to_string(arr[i:i+2], ' '))) AS sh FROM d),
      hst AS (SELECT doc_id, list_distinct(list_transform(sh,
        g -> ('0x' || substr(md5(g), 1, 8))::BIGINT)) AS hs FROM sh),
      mh AS (SELECT doc_id,
        $mhDefs
        FROM hst),
      bk AS (SELECT doc_id, $bandsList AS bands FROM mh),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      uniform AS (SELECT a.doc_id AS anchor, a.bands AS bands_a, j.j,
          ('0x' || substr(md5('neg|' || CAST(a.doc_id AS VARCHAR) || '|' || CAST(j.j AS VARCHAR)), 1, 8))::BIGINT % n.n AS neg
        FROM bk a CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5]) AS j) j CROSS JOIN n),
      hard AS (SELECT x.doc_id AS anchor, bk2.bands AS bands_a, 6 AS j, min(y.doc_id) AS neg
        FROM bk x JOIN bk y ON x.bands[1] = y.bands[1] AND x.doc_id <> y.doc_id
        JOIN bk bk2 ON bk2.doc_id = x.doc_id
        GROUP BY x.doc_id, bk2.bands),
      props AS (SELECT anchor, bands_a, j, neg FROM uniform
        UNION ALL SELECT anchor, bands_a, j, neg FROM hard),
      scored AS (SELECT p.anchor, p.neg,
          CASE WHEN p.neg = p.anchor THEN 1 ELSE 0 END AS is_self,
          CASE WHEN p.neg <> p.anchor
            AND len(list_intersect(p.bands_a, b.bands)) > 0 THEN 1 ELSE 0 END AS is_banddup
        FROM props p JOIN bk b ON b.doc_id = p.neg)
      SELECT anchor, CAST(count(*) AS BIGINT) AS n_proposed,
        CAST(sum(is_self) AS BIGINT) AS n_self,
        CAST(sum(is_banddup) AS BIGINT) AS n_banddup,
        CAST(sum(CASE WHEN is_self = 0 AND is_banddup = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN is_self = 0 AND is_banddup = 0 THEN neg ELSE 0 END) AS BIGINT) AS kept_negsum
      FROM scored GROUP BY anchor ORDER BY anchor"""
    }),

    // ----- declarative data-quality contract suite ------------------------
    // The Deequ/dbt-test family: a table's ingestion contract evaluated
    // as one row per constraint — completeness, uniqueness, referential
    // integrity, ranges, freshness — each an acceptance fraction in
    // micro units against its threshold, `pass` the decision bit a
    // pipeline gate reads. Every metric is one aggregate (uniqueness is
    // distinct/count; the two FK checks are anti-join counts); the suite
    // is a union of 8 tiny results, so the whole contract costs a
    // constant number of scans regardless of how many constraints it
    // carries per scan-shape. The discount constraint FAILS on this
    // corpus by design of the contract (the generator draws discounts
    // uniformly to 0.10, the contract demands ≤ 0.08 for 99%) — a
    // quality gate that can never fail verifies nothing.
    ("q222_quality_contract", (s: SparkSession, dir: String) => {
      import s.implicits._
      val orders = Tables.t(s, dir, "orders")
      val li = Tables.t(s, dir, "lineitem")
      val cust = Tables.t(s, dir, "customer")
      val docs = Tables.t(s, dir, "documents")
      def c(name: String, metric: DataFrame, threshold: Long): DataFrame =
        metric.select(lit(name).as("check_name"), col("m").as("metric_micro"),
          lit(threshold).as("threshold_micro"),
          when(col("m") >= threshold, 1L).otherwise(0L).as("pass"))
      val suite = Seq(
        c("c1_orders_pk_unique", orders.agg(
          expr("(1000000 * count(DISTINCT o_orderkey)) div count(*)").as("m")), 1000000L),
        c("c2_lineitem_fk_orders", li.join(orders.select($"o_orderkey"),
            li("l_orderkey") === $"o_orderkey", "left_anti")
          .agg(count(lit(1)).as("orphans"))
          .crossJoin(li.agg(count(lit(1)).as("t")))
          .select(expr("(1000000 * (t - orphans)) div t").as("m")), 1000000L),
        c("c3_orders_fk_customer", orders.join(cust.select($"c_custkey"),
            orders("o_custkey") === $"c_custkey", "left_anti")
          .agg(count(lit(1)).as("orphans"))
          .crossJoin(orders.agg(count(lit(1)).as("t")))
          .select(expr("(1000000 * (t - orphans)) div t").as("m")), 1000000L),
        c("c4_quantity_in_1_50", li.agg(expr(
          "(1000000 * sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 1 ELSE 0 END)) div count(*)")
          .as("m")), 1000000L),
        c("c5_discount_le_8pct_99", li.agg(expr(
          "(1000000 * sum(CASE WHEN l_discount <= 0.08 THEN 1 ELSE 0 END)) div count(*)")
          .as("m")), 990000L),
        c("c6_totalprice_positive", orders.agg(expr(
          "(1000000 * sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END)) div count(*)")
          .as("m")), 1000000L),
        // CAST tolerates both parquet encodings of o_orderdate (NTZ at
        // some SFs, TIMESTAMP at others — the events-table gotcha)
        c("c7_orders_since_1996", orders.agg(expr(
          "(1000000 * sum(CASE WHEN CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01' THEN 1 ELSE 0 END)) div count(*)")
          .as("m")), 750000L),
        c("c8_docs_nonempty", docs.agg(expr(
          "(1000000 * sum(CASE WHEN n_chars >= 1 THEN 1 ELSE 0 END)) div count(*)")
          .as("m")), 1000000L))
      suite.reduce(_ unionByName _).orderBy("check_name")
    }, Some("""
      SELECT * FROM (
      SELECT 'c1_orders_pk_unique' AS check_name,
        (1000000 * CAST(count(DISTINCT o_orderkey) AS BIGINT)) // CAST(count(*) AS BIGINT) AS metric_micro,
        CAST(1000000 AS BIGINT) AS threshold_micro,
        CAST(CASE WHEN (1000000 * CAST(count(DISTINCT o_orderkey) AS BIGINT)) // CAST(count(*) AS BIGINT) >= 1000000 THEN 1 ELSE 0 END AS BIGINT) AS pass
      FROM orders
      UNION ALL
      SELECT 'c2_lineitem_fk_orders',
        (1000000 * CAST(sum(CASE WHEN o.o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT),
        1000000,
        CASE WHEN (1000000 * CAST(sum(CASE WHEN o.o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT) >= 1000000 THEN 1 ELSE 0 END
      FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o ON o.o_orderkey = l.l_orderkey
      UNION ALL
      SELECT 'c3_orders_fk_customer',
        (1000000 * CAST(sum(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT),
        1000000,
        CASE WHEN (1000000 * CAST(sum(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT) >= 1000000 THEN 1 ELSE 0 END
      FROM orders o2 LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON c.c_custkey = o2.o_custkey
      UNION ALL
      SELECT 'c4_quantity_in_1_50',
        (1000000 * CAST(sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 1 ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT),
        1000000,
        CASE WHEN (1000000 * CAST(sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 1 ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT) >= 1000000 THEN 1 ELSE 0 END
      FROM lineitem
      UNION ALL
      SELECT 'c5_discount_le_8pct_99',
        (1000000 * CAST(sum(CASE WHEN l_discount <= 0.08 THEN 1 ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT),
        990000,
        CASE WHEN (1000000 * CAST(sum(CASE WHEN l_discount <= 0.08 THEN 1 ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT) >= 990000 THEN 1 ELSE 0 END
      FROM lineitem
      UNION ALL
      SELECT 'c6_totalprice_positive',
        (1000000 * CAST(sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT),
        1000000,
        CASE WHEN (1000000 * CAST(sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT) >= 1000000 THEN 1 ELSE 0 END
      FROM orders
      UNION ALL
      SELECT 'c7_orders_since_1996',
        (1000000 * CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01' THEN 1 ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT),
        750000,
        CASE WHEN (1000000 * CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01' THEN 1 ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT) >= 750000 THEN 1 ELSE 0 END
      FROM orders
      UNION ALL
      SELECT 'c8_docs_nonempty',
        (1000000 * CAST(sum(CASE WHEN n_chars >= 1 THEN 1 ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT),
        1000000,
        CASE WHEN (1000000 * CAST(sum(CASE WHEN n_chars >= 1 THEN 1 ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT) >= 1000000 THEN 1 ELSE 0 END
      FROM documents
      ) ORDER BY check_name""")),

    // ----- t-closeness (EMD of sensitive attribute per QI group) ----------
    // Completes the release-audit trio: q206 k-anonymity (group sizes),
    // q219 l-diversity (distinct sensitive values), and now t-closeness —
    // how far each quasi-identifier group's SENSITIVE-value distribution
    // sits from the corpus's, as the Earth Mover's Distance over the
    // ordered value scale. For 1-D ordered buckets EMD is the sum of
    // |ECDF_g − ECDF_corpus| over the bucket grid; normalized by the
    // (k−1)-step maximum it lands in [0,1]. A group can be large (k-anon
    // passes) and diverse (l-div passes) and STILL leak — when its
    // distribution skews hard from the corpus, which is exactly what t
    // measures. All integer: cross-products in DECIMAL(38,0)/HUGEINT
    // (cum·N reaches N² — past Int64 at ~3e9 rows, the q195 rule). QI =
    // (source, lang); sensitive = length quintile (fixed 500-char
    // buckets — no global sort to form them). The grid is |groups|×5;
    // per-group cumulatives ride their own window partitions.
    ("q230_t_closeness", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.t(s, dir, "documents")
        .select($"source", $"lang",
          least(expr("n_chars div 500"), lit(4L)).as("b"))
      val gTot = d.groupBy($"source", $"lang").agg(count(lit(1)).as("n_g"))
      val tot = d.agg(count(lit(1)).as("n"))
      val gb = d.groupBy($"source", $"lang", $"b").agg(count(lit(1)).as("c"))
      val cb = d.groupBy($"b").agg(count(lit(1)).as("c"))
        .withColumn("cum_c", sum($"c").over(
          Window.orderBy($"b").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select($"b", $"cum_c")
      val grid = d.select($"source", $"lang").distinct()
        .crossJoin(s.range(0, 5).select($"id".as("b")))
      val cums = grid.join(gb, Seq("source", "lang", "b"), "left")
        .na.fill(0L, Seq("c"))
        .withColumn("cum_g", sum($"c").over(
          Window.partitionBy($"source", $"lang").orderBy($"b")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      cums.filter($"b" <= 3) // ECDFs agree at the last bucket by construction
        .join(cb, Seq("b"))
        .join(gTot, Seq("source", "lang"))
        .crossJoin(broadcast(tot))
        .groupBy($"source", $"lang")
        .agg(max($"n_g").as("n_docs"),
          sum(abs(expr("CAST(cum_g AS DECIMAL(38,0)) * n") -
                  expr("CAST(cum_c AS DECIMAL(38,0)) * n_g"))).as("emd_scaled"),
          max(expr("CAST(n_g AS DECIMAL(38,0)) * n")).as("den"))
        .select($"source", $"lang", $"n_docs",
          expr("CAST((1000000 * emd_scaled) div (4 * den) AS BIGINT)").as("t_micro"))
        .orderBy(desc("t_micro"), $"source", $"lang")
    }, Some("""
      WITH d AS (SELECT source, lang, least(n_chars // 500, 4) AS b FROM documents),
      gt AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_g FROM d GROUP BY 1, 2),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      gb AS (SELECT source, lang, b, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2, 3),
      cb AS (SELECT b, CAST(sum(count(*)) OVER (ORDER BY b
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_c
        FROM d GROUP BY b),
      grid AS (SELECT g.source, g.lang, CAST(r.range AS BIGINT) AS b
        FROM (SELECT DISTINCT source, lang FROM d) g CROSS JOIN range(0, 5) r),
      cums AS (SELECT grid.source, grid.lang, grid.b,
          CAST(sum(coalesce(gb.c, 0)) OVER (PARTITION BY grid.source, grid.lang
            ORDER BY grid.b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_g
        FROM grid LEFT JOIN gb ON grid.source = gb.source AND grid.lang = gb.lang AND grid.b = gb.b)
      SELECT c.source, c.lang, CAST(max(gt.n_g) AS BIGINT) AS n_docs,
        CAST((1000000 * sum(abs(CAST(c.cum_g AS HUGEINT) * tot.n
            - CAST(cb.cum_c AS HUGEINT) * gt.n_g)))
          // (4 * max(CAST(gt.n_g AS HUGEINT) * tot.n)) AS BIGINT) AS t_micro
      FROM cums c JOIN cb ON c.b = cb.b
      JOIN gt ON c.source = gt.source AND c.lang = gt.lang
      CROSS JOIN tot
      WHERE c.b <= 3
      GROUP BY 1, 2
      ORDER BY t_micro DESC, c.source, c.lang""")),

    // ----- greedy max-coverage document selection -------------------------
    // Submodular selection, the vocabulary-coverage form: five greedy
    // rounds, each picking the document covering the most still-
    // uncovered tokens (ties to the smaller doc_id). The classic
    // (1−1/e) guarantee makes this the standard seed-set chooser for
    // eval anchors and annotation budgets. Each round is one anti-join
    // (uncovered tokens) + one count aggregate + one TakeOrdered(1) —
    // the round count is the fixed k, never data-driven, and the
    // covered set stays a token-keyed DataFrame the next anti-join
    // consumes (the q166 loop discipline: driver composes, data never
    // leaves the DAG). A round with nothing left to cover contributes
    // zero rows on both sides — no special-casing. Coverage units are
    // BIGRAMS: the generator's unigram vocabulary is small enough that
    // one document covers it, and a universe a single pick exhausts
    // exercises nothing — bigrams keep the greedy frontier real.
    ("q241_coverage_selection", (s: SparkSession, dir: String) => {
      import s.implicits._
      val dt = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", split(TA.normText($"text"), " ").as("a"))
        .filter(size($"a") >= 2)
        .select($"doc_id", explode(expr(
          "transform(sequence(1, size(a) - 1), i -> concat(element_at(a, i), '|', element_at(a, i + 1)))"))
          .as("tok"))
        .distinct()
        .localCheckpoint() // k anti-join rounds reuse it
      var covered = dt.select($"tok").filter(lit(false)) // empty token set
      var out: DataFrame = null
      for (round <- 1 to 5) {
        val gains = dt.join(covered, Seq("tok"), "left_anti")
          .groupBy($"doc_id").agg(count(lit(1)).as("gain"))
        val pick = gains.orderBy(desc("gain"), $"doc_id").limit(1)
        covered = covered
          .unionByName(dt.join(pick.select($"doc_id"), Seq("doc_id")).select($"tok"))
          .distinct().localCheckpoint()
        val row = pick.crossJoin(broadcast(covered.agg(count(lit(1)).as("covered_total"))))
          .select(lit(round.toLong).as("round"), $"doc_id", $"gain", $"covered_total")
        out = if (out == null) row else out.unionByName(row)
      }
      out.orderBy($"round")
    }, Some(s"""
      WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS a FROM documents
        WHERE len(string_split($normSql, ' ')) >= 2),
      dt AS (SELECT DISTINCT doc_id, a[i] || '|' || a[i + 1] AS tok
        FROM base, unnest(range(1, len(a))) AS t(i)),
      g1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain FROM dt GROUP BY 1),
      p1 AS (SELECT doc_id, gain FROM g1 ORDER BY gain DESC, doc_id LIMIT 1),
      c1 AS (SELECT DISTINCT tok FROM dt JOIN p1 USING (doc_id)),
      g2 AS (SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS gain FROM dt
        ANTI JOIN c1 USING (tok) GROUP BY 1),
      p2 AS (SELECT doc_id, gain FROM g2 ORDER BY gain DESC, doc_id LIMIT 1),
      c2 AS (SELECT tok FROM c1 UNION SELECT dt.tok FROM dt JOIN p2 USING (doc_id)),
      g3 AS (SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS gain FROM dt
        ANTI JOIN c2 USING (tok) GROUP BY 1),
      p3 AS (SELECT doc_id, gain FROM g3 ORDER BY gain DESC, doc_id LIMIT 1),
      c3 AS (SELECT tok FROM c2 UNION SELECT dt.tok FROM dt JOIN p3 USING (doc_id)),
      g4 AS (SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS gain FROM dt
        ANTI JOIN c3 USING (tok) GROUP BY 1),
      p4 AS (SELECT doc_id, gain FROM g4 ORDER BY gain DESC, doc_id LIMIT 1),
      c4 AS (SELECT tok FROM c3 UNION SELECT dt.tok FROM dt JOIN p4 USING (doc_id)),
      g5 AS (SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS gain FROM dt
        ANTI JOIN c4 USING (tok) GROUP BY 1),
      p5 AS (SELECT doc_id, gain FROM g5 ORDER BY gain DESC, doc_id LIMIT 1),
      c5 AS (SELECT tok FROM c4 UNION SELECT dt.tok FROM dt JOIN p5 USING (doc_id))
      SELECT CAST(1 AS BIGINT) AS round, doc_id, gain,
        (SELECT CAST(count(*) AS BIGINT) FROM c1) AS covered_total FROM p1
      UNION ALL SELECT 2, doc_id, gain,
        (SELECT CAST(count(*) AS BIGINT) FROM c2) FROM p2
      UNION ALL SELECT 3, doc_id, gain,
        (SELECT CAST(count(*) AS BIGINT) FROM c3) FROM p3
      UNION ALL SELECT 4, doc_id, gain,
        (SELECT CAST(count(*) AS BIGINT) FROM c4) FROM p4
      UNION ALL SELECT 5, doc_id, gain,
        (SELECT CAST(count(*) AS BIGINT) FROM c5) FROM p5
      ORDER BY round""")),

    // ----- training-sequence packing audit (concat-and-chunk) -------------
    // The packing shape LM training actually uses: concatenate documents
    // in a deterministic shard order, chunk into fixed 256-token
    // sequences. Sequences, boundary-split documents, and tail waste all
    // fall out of ONE cumulative window per source — a doc spanning a
    // multiple of 256 is split, counted via floor((cum-1)/256) −
    // floor(start/256) without materializing any sequence. Per-source
    // windows are the shard form: at 100 TB each shard packs
    // independently (the window key IS the shard key), so the audit is
    // embarrassingly parallel and never shuffles tokens — only the
    // per-doc length aggregate touches text.
    ("q246_sequence_packing", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"source", TA.normText($"text").as("nt"))
        .select($"doc_id", $"source",
          when($"nt" === "", lit(0L))
            .otherwise(size(split($"nt", " ")).cast("long")).as("len"))
        .filter($"len" > 0)
      val w = Window.partitionBy($"source").orderBy($"doc_id")
      val x = d.withColumn("cum", sum($"len").over(w))
        .withColumn("strt", $"cum" - $"len")
        .withColumn("nb", expr("(cum - 1) div 256 - strt div 256"))
      x.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"len").as("n_tokens"),
          sum(when($"nb" > 0, 1L).otherwise(0L)).as("n_docs_split"),
          sum($"nb").as("n_crossings"))
        .select($"source", $"n_docs", $"n_tokens",
          expr("(n_tokens + 255) div 256").as("n_sequences"),
          $"n_docs_split", $"n_crossings",
          expr("1000000 * n_docs_split div n_docs").as("split_rate_micro"),
          expr("((n_tokens + 255) div 256) * 256 - n_tokens").as("tail_waste"))
        .orderBy($"source")
    }, Some(s"""
      WITH d AS (SELECT doc_id, source,
          CASE WHEN $normSql = '' THEN 0
            ELSE CAST(len(string_split($normSql, ' ')) AS BIGINT) END AS len
        FROM documents),
      f AS (SELECT * FROM d WHERE len > 0),
      c AS (SELECT *, sum(len) OVER (PARTITION BY source ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS cum FROM f),
      x AS (SELECT *, cum - len AS strt,
          (cum - 1) // 256 - strt // 256 AS nb FROM c)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(len) AS BIGINT) AS n_tokens,
        CAST((sum(len) + 255) // 256 AS BIGINT) AS n_sequences,
        CAST(sum(CASE WHEN nb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_split,
        CAST(sum(nb) AS BIGINT) AS n_crossings,
        CAST(1000000 * sum(CASE WHEN nb > 0 THEN 1 ELSE 0 END) // count(*)
          AS BIGINT) AS split_rate_micro,
        CAST(((sum(len) + 255) // 256) * 256 - sum(len) AS BIGINT) AS tail_waste
      FROM x GROUP BY 1 ORDER BY 1""")),

    // ----- capped water-filling token-budget allocation -------------------
    // The budget allocator behind "sample 50% of the corpus with
    // temperature 0.5, but never more than a source has": allocate
    // a_s = min(avail_s, λ·w_s) with w_s = √avail_s (temperature-0.5
    // weights) and λ chosen so Σ a_s equals the budget — water-filling,
    // solved in CLOSED FORM, no iteration: sort sources by saturation
    // level avail/w, prefix sums give every candidate λ, and exactly one
    // rank satisfies r_{k-1} ≤ λ_k ≤ r_k. The corpus-sized work is one
    // token-count aggregate; the solver runs on the |sources| grid
    // (single-partition window, 20 rows at any SF — at 100 TB sources
    // are a catalog, not data). Validity gates and allocations use
    // 128-bit cross-products so corpus-scale token counts can't wrap;
    // the sort key is an IEEE double ratio of exactly-representable
    // longs — correctly rounded, so bit-identical on both engines.
    ("q250_waterfill_budget", (s: SparkSession, dir: String) => {
      import s.implicits._
      val avail = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", TA.normText($"text").as("nt"))
        .select($"source",
          when($"nt" === "", lit(0L))
            .otherwise(size(split($"nt", " ")).cast("long")).as("len"))
        .groupBy($"source").agg(sum($"len").as("avail"))
        .withColumn("w",
          floor(sqrt($"avail".cast("double")) * lit(1e6) + lit(0.5)).cast("long"))
      val tot = avail.agg(sum($"avail").as("ta"), sum($"w").as("tw"))
      val g = avail.crossJoin(broadcast(tot))
        .withColumn("r", $"avail".cast("double") / $"w".cast("double"))
      val ord = Window.orderBy($"r", $"source")
      val ranked = g
        .withColumn("k", row_number().over(ord).cast("long"))
        .withColumn("prevcum", coalesce(
          sum($"avail").over(ord.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .withColumn("prevsw", $"tw" - coalesce(
          sum($"w").over(ord.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .withColumn("lagavail", lag($"avail", 1).over(ord))
        .withColumn("lagw", lag($"w", 1).over(ord))
        .withColumn("lnum", expr("ta div 2") - $"prevcum")
        .withColumn("valid",
          expr("CAST(lnum AS DECIMAL(38,0)) * w <= CAST(avail AS DECIMAL(38,0)) * prevsw") &&
          ($"k" === 1L ||
            expr("CAST(lagavail AS DECIMAL(38,0)) * prevsw <= CAST(lnum AS DECIMAL(38,0)) * lagw")))
        .localCheckpoint() // solver grid reused by the pick join
      val pick = ranked.filter($"valid").orderBy($"k").limit(1)
        .select($"k".as("kstar"), $"lnum".as("plnum"), $"prevsw".as("plden"))
      ranked.crossJoin(broadcast(pick))
        .select($"source", $"avail", $"w".as("w_micro"),
          when($"k" < $"kstar", lit(1L)).otherwise(lit(0L)).as("saturated"),
          when($"k" < $"kstar", $"avail")
            .otherwise(expr("CAST(CAST(plnum AS DECIMAL(38,0)) * w div plden AS BIGINT)"))
            .as("alloc_tokens"))
        .orderBy($"source")
    }, Some(s"""
      WITH lens AS (SELECT source,
          CASE WHEN $normSql = '' THEN 0
            ELSE CAST(len(string_split($normSql, ' ')) AS BIGINT) END AS len
        FROM documents),
      av AS (SELECT source, CAST(sum(len) AS BIGINT) AS avail
        FROM lens GROUP BY 1),
      aw AS (SELECT source, avail,
          CAST(floor(sqrt(CAST(avail AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS w
        FROM av),
      tot AS (SELECT CAST(sum(avail) AS BIGINT) AS ta,
          CAST(sum(w) AS BIGINT) AS tw FROM aw),
      g AS (SELECT a.*, t.ta, t.tw,
          CAST(a.avail AS DOUBLE) / CAST(a.w AS DOUBLE) AS r
        FROM aw a CROSS JOIN tot t),
      rk AS (SELECT *,
          CAST(row_number() OVER (ORDER BY r, source) AS BIGINT) AS k,
          coalesce(sum(avail) OVER (ORDER BY r, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prevcum,
          tw - coalesce(sum(w) OVER (ORDER BY r, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prevsw,
          lag(avail) OVER (ORDER BY r, source) AS lagavail,
          lag(w) OVER (ORDER BY r, source) AS lagw
        FROM g),
      v AS (SELECT *, ta // 2 - prevcum AS lnum,
          (CAST(ta // 2 - prevcum AS HUGEINT) * w <= CAST(avail AS HUGEINT) * prevsw
           AND (k = 1 OR CAST(lagavail AS HUGEINT) * prevsw
                <= CAST(ta // 2 - prevcum AS HUGEINT) * lagw)) AS valid
        FROM rk),
      p AS (SELECT k AS kstar, lnum AS plnum, prevsw AS plden
        FROM v WHERE valid ORDER BY k LIMIT 1)
      SELECT source, avail, w AS w_micro,
        CAST(CASE WHEN k < kstar THEN 1 ELSE 0 END AS BIGINT) AS saturated,
        CASE WHEN k < kstar THEN avail
          ELSE CAST(CAST(plnum AS HUGEINT) * w // plden AS BIGINT) END
          AS alloc_tokens
      FROM v CROSS JOIN p ORDER BY source""")),

    // ----- columnar encoding advisor --------------------------------------
    // The decision layer on top of q237's run statistics: for each
    // candidate column, estimate bytes under PLAIN, DICT (index width
    // from NDV: 1/2/4 bytes), RLE (runs × (width + 4-byte run length)),
    // and DELTA (bit-packed non-negative deltas under the write order —
    // numeric, monotone-friendly columns only), then pick the cheapest
    // — what a format writer (Parquet/ORC encoding chooser) does per
    // column chunk. All four estimates come from ONE melted pass:
    // per-column NDV + lag-window runs + max delta under the explicit
    // (l_orderkey, l_linenumber) write order (the q237 determinism
    // rule: never trust implicit file order). Bit widths via binary
    // string length — integer-exact on both engines. At 100 TB this
    // runs per column chunk inside the writer, metadata-scale output.
    ("q255_encoding_advisor", (s: SparkSession, dir: String) => {
      import s.implicits._
      val li = Tables.t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber",
          $"l_returnflag", $"l_linestatus",
          $"l_quantity".cast("long").as("qty"),
          datediff($"l_shipdate".cast("date"), lit("1970-01-01").cast("date"))
            .cast("long").as("shipday"))
      val melted = li.select($"l_orderkey", $"l_linenumber", expr(
        """stack(4,
           'c1_orderkey', CAST(l_orderkey AS STRING), l_orderkey, CAST(8 AS BIGINT),
           'c2_returnflag', l_returnflag, CAST(NULL AS BIGINT), CAST(1 AS BIGINT),
           'c3_quantity', CAST(qty AS STRING), qty, CAST(8 AS BIGINT),
           'c4_shipday', CAST(shipday AS STRING), shipday, CAST(4 AS BIGINT)
           ) AS (cname, vs, vn, width)"""))
      // (l_orderkey, l_linenumber) is NOT unique in the generator — the
      // q237 determinism rule: the value itself joins the sort key so
      // both engines see the same total order. Run/delta statistics are
      // sequential, so they're computed DISTRIBUTED: bucket partials
      // (the bucket is a prefix of the sort key, so buckets are
      // contiguous runs of the total order) + boundary stitching — a
      // per-cname window would drag the whole column through 4 window
      // partitions; the bucketed form keeps |columns|·|buckets|-way
      // parallelism and only the bucket-summary table (metadata-scale)
      // sees a small window. Same pattern as q106's distributed prefix
      // sum; the single-window form remains the oracle.
      val bWin = Window.partitionBy($"cname", $"bkt")
        .orderBy($"l_orderkey", $"l_linenumber", $"vs")
      val bWinDesc = Window.partitionBy($"cname", $"bkt")
        .orderBy(desc("l_orderkey"), desc("l_linenumber"), desc("vs"))
      val marked = melted.withColumn("bkt", expr("l_orderkey div 256"))
        .withColumn("pv", lag($"vs", 1).over(bWin))
        .withColumn("pn", lag($"vn", 1).over(bWin))
        .withColumn("isrun", when($"pv".isNull || $"pv" =!= $"vs", 1L).otherwise(0L))
        .withColumn("delta", $"vn" - $"pn")
        .withColumn("ra", row_number().over(bWin))
        .withColumn("rd", row_number().over(bWinDesc))
      val summary = marked.groupBy($"cname", $"bkt")
        .agg(count(lit(1)).as("bn"), sum($"isrun").as("runs_l"),
          min($"delta").as("mind_l"), max($"delta").as("maxd_l"),
          max(when($"ra" === 1, $"vs")).as("first_vs"),
          max(when($"ra" === 1, $"vn")).as("first_vn"),
          max(when($"rd" === 1, $"vs")).as("last_vs"),
          max(when($"rd" === 1, $"vn")).as("last_vn"))
        .withColumn("rnb", row_number().over(
          Window.partitionBy($"cname").orderBy($"bkt")))
        .localCheckpoint() // consumed twice: partial totals + boundary join
      val a = summary.select($"cname", $"rnb", $"last_vs", $"last_vn")
      val b = summary.select($"cname", ($"rnb" - 1).as("rnb"),
        $"first_vs".as("nfirst_vs"), $"first_vn".as("nfirst_vn"))
      val bounds = a.join(b, Seq("cname", "rnb"))
        .groupBy($"cname")
        .agg(sum(when($"last_vs" === $"nfirst_vs", 1L).otherwise(0L)).as("bmatches"),
          min($"nfirst_vn" - $"last_vn").as("bmind"),
          max($"nfirst_vn" - $"last_vn").as("bmaxd"))
      val partials = summary.groupBy($"cname")
        .agg(sum($"runs_l").as("runs_p"), min($"mind_l").as("mind_p"),
          max($"maxd_l").as("maxd_p"))
      val ndvs = melted.groupBy($"cname")
        .agg(count(lit(1)).as("n"), countDistinct($"vs").as("ndv"),
          max($"width").as("width"))
      val stats = ndvs.join(partials, Seq("cname"))
        .join(bounds, Seq("cname"), "left")
        .select($"cname", $"n", $"ndv",
          ($"runs_p" - coalesce($"bmatches", lit(0L))).as("runs"), $"width",
          greatest($"maxd_p", $"bmaxd").as("max_delta"),
          least($"mind_p", $"bmind").as("min_delta"))
      val est = stats
        .withColumn("est_plain", $"n" * $"width")
        .withColumn("dict_ix",
          when($"ndv" <= 256, 1L).when($"ndv" <= 65536, 2L).otherwise(4L))
        .withColumn("est_dict", $"n" * $"dict_ix" + $"ndv" * $"width")
        .withColumn("est_rle", $"runs" * ($"width" + 4L))
        .withColumn("est_delta",
          when($"min_delta".isNull || $"min_delta" < 0, lit(null).cast("long"))
            .otherwise(expr("n * length(bin(greatest(max_delta, 1))) div 8 + 8")))
      est.select($"cname", $"n", $"ndv", $"runs",
          $"est_plain", $"est_dict", $"est_rle", $"est_delta",
          expr("""CASE
            WHEN est_delta IS NOT NULL AND est_delta <= est_dict
              AND est_delta <= est_rle AND est_delta <= est_plain THEN 'delta'
            WHEN est_dict <= est_rle AND est_dict <= est_plain THEN 'dict'
            WHEN est_rle <= est_plain THEN 'rle'
            ELSE 'plain' END""").as("choice"))
        .orderBy($"cname")
    }, Some("""
      WITH li AS (SELECT l_orderkey, l_linenumber, l_returnflag,
          CAST(l_quantity AS BIGINT) AS qty,
          CAST(date_diff('day', DATE '1970-01-01',
            CAST(l_shipdate AS DATE)) AS BIGINT) AS shipday
        FROM lineitem),
      melted AS (
        SELECT l_orderkey, l_linenumber, 'c1_orderkey' AS cname,
          CAST(l_orderkey AS VARCHAR) AS vs, l_orderkey AS vn,
          CAST(8 AS BIGINT) AS width FROM li
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'c2_returnflag', l_returnflag,
          CAST(NULL AS BIGINT), CAST(1 AS BIGINT) FROM li
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'c3_quantity',
          CAST(qty AS VARCHAR), qty, CAST(8 AS BIGINT) FROM li
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'c4_shipday',
          CAST(shipday AS VARCHAR), shipday, CAST(4 AS BIGINT) FROM li),
      rd AS (SELECT *,
          lag(vs) OVER (PARTITION BY cname ORDER BY l_orderkey, l_linenumber, vs) AS pv,
          lag(vn) OVER (PARTITION BY cname ORDER BY l_orderkey, l_linenumber, vs) AS pn
        FROM melted),
      rd2 AS (SELECT *,
          CASE WHEN pv IS NULL OR pv <> vs THEN 1 ELSE 0 END AS isrun,
          vn - pn AS delta FROM rd),
      stats AS (SELECT cname, CAST(count(*) AS BIGINT) AS n,
          CAST(count(DISTINCT vs) AS BIGINT) AS ndv,
          CAST(sum(isrun) AS BIGINT) AS runs,
          CAST(max(width) AS BIGINT) AS width,
          CAST(max(delta) AS BIGINT) AS max_delta,
          CAST(min(delta) AS BIGINT) AS min_delta
        FROM rd2 GROUP BY 1),
      est AS (SELECT *, n * width AS est_plain,
          CASE WHEN ndv <= 256 THEN 1 WHEN ndv <= 65536 THEN 2 ELSE 4 END AS dict_ix,
          n * (CASE WHEN ndv <= 256 THEN 1 WHEN ndv <= 65536 THEN 2 ELSE 4 END)
            + ndv * width AS est_dict,
          runs * (width + 4) AS est_rle,
          CASE WHEN min_delta IS NULL OR min_delta < 0 THEN NULL
            ELSE n * len(bin(greatest(max_delta, 1))) // 8 + 8 END AS est_delta
        FROM stats)
      SELECT cname, n, ndv, runs, est_plain,
        CAST(est_dict AS BIGINT) AS est_dict,
        CAST(est_rle AS BIGINT) AS est_rle,
        CAST(est_delta AS BIGINT) AS est_delta,
        CASE
          WHEN est_delta IS NOT NULL AND est_delta <= est_dict
            AND est_delta <= est_rle AND est_delta <= est_plain THEN 'delta'
          WHEN est_dict <= est_rle AND est_dict <= est_plain THEN 'dict'
          WHEN est_rle <= est_plain THEN 'rle'
          ELSE 'plain' END AS choice
      FROM est ORDER BY cname""")),

    // ----- point-in-time feature-leakage audit ----------------------------
    // Feature-store correctness: a model served on orders from
    // 1999-01-01 onward must see customer features computed from data
    // BEFORE that date — recomputing the feature over the full history
    // (the lazy backfill bug) leaks the future into training. The audit
    // computes both versions of "customer total spend" in one pass
    // (conditional aggregation — not two scans), then measures, per
    // market segment, how many served customers get an inflated
    // feature and by how much. Money stays in DECIMAL(12,2) end to
    // end (the ParityQueries money rule); the inflation ratio clears to one
    // integer division in micro. At 100 TB this is one groupBy per
    // entity plus a broadcast-scale rollup — the cheapest possible
    // point-in-time-correctness gate before a backfill ships.
    ("q258_pit_leakage", (s: SparkSession, dir: String) => {
      import s.implicits._
      val cutoff = lit("1999-01-01").cast("date")
      val o = Tables.t(s, dir, "orders")
        .select($"o_custkey", $"o_orderdate".cast("date").as("d"),
          $"o_totalprice".cast(DecimalType(12, 2)).as("price"))
      val feat = o.groupBy($"o_custkey")
        .agg(sum($"price").as("f_full"),
          sum(when($"d" < cutoff, $"price")
            .otherwise(lit(0).cast(DecimalType(12, 2)))).as("f_pit"),
          sum(when($"d" >= cutoff, 1L).otherwise(0L)).as("n_serving"))
        .filter($"n_serving" > 0)
      feat.join(Tables.t(s, dir, "customer")
          .select($"c_custkey", $"c_mktsegment"), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          sum(when($"f_full" > $"f_pit", 1L).otherwise(0L)).as("n_leaky"),
          sum($"f_full").as("spend_full"), sum($"f_pit").as("spend_pit"))
        .select($"c_mktsegment", $"n_customers", $"n_leaky",
          expr("1000000 * n_leaky div n_customers").as("leak_share_micro"),
          expr("CAST(CAST(spend_full * 100 AS DECIMAL(38,0)) AS BIGINT)")
            .as("spend_full_cents"),
          expr("CAST(CAST(spend_pit * 100 AS DECIMAL(38,0)) AS BIGINT)")
            .as("spend_pit_cents"),
          expr("""CAST((1000000 * CAST(spend_full * 100 AS DECIMAL(38,0)))
            div CAST(spend_pit * 100 AS DECIMAL(38,0)) AS BIGINT)""")
            .as("inflation_micro"))
        .orderBy($"c_mktsegment")
    }, Some("""
      WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
          CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
      feat AS (SELECT o_custkey,
          sum(price) AS f_full,
          sum(CASE WHEN d < DATE '1999-01-01' THEN price
            ELSE CAST(0 AS DECIMAL(12,2)) END) AS f_pit,
          sum(CASE WHEN d >= DATE '1999-01-01' THEN 1 ELSE 0 END) AS n_serving
        FROM o GROUP BY 1),
      served AS (SELECT * FROM feat WHERE n_serving > 0)
      SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
        CAST(sum(CASE WHEN f_full > f_pit THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky,
        CAST(1000000 * sum(CASE WHEN f_full > f_pit THEN 1 ELSE 0 END)
          // count(*) AS BIGINT) AS leak_share_micro,
        CAST(CAST(sum(f_full) * 100 AS HUGEINT) AS BIGINT) AS spend_full_cents,
        CAST(CAST(sum(f_pit) * 100 AS HUGEINT) AS BIGINT) AS spend_pit_cents,
        CAST((1000000 * CAST(sum(f_full) * 100 AS HUGEINT))
          // CAST(sum(f_pit) * 100 AS HUGEINT) AS BIGINT) AS inflation_micro
      FROM served JOIN customer ON o_custkey = c_custkey
      GROUP BY 1 ORDER BY 1""")),

    // Intrinsic-dimension estimation for embeddings
    // (TwoNN), serpentine shard balancing, fractional-knapsack budget
    // selection with an optimality certificate, and a predicate-ordering
    // advisor — representation diagnostics plus three planning operators.
    //
    // House rules as elsewhere: integer arithmetic at every gate (squared
    // L2 distances are EXACT integers on the quantized vectors — the q101
    // rule), micro-ln for transcendentals, double ratios only as sort
    // keys or single-row scalars (the q250 rationale). Identical aliases
    // both sides, total ORDER BY.

    // ----- serpentine shard balancing -------------------------------------
    // The shard planner's closed-form workhorse: rank sources by token
    // mass and deal them to 8 shards in serpentine (boustrophedon)
    // order — pass 0 left-to-right, pass 1 right-to-left — which
    // pairs heavy items with light ones and needs NO sequential
    // greedy loop (pure rank arithmetic, unlike LPT). Reported against
    // naive round-robin on the same ranking: per-shard loads for both,
    // plus both balance ratios (max/ideal, micro) riding along as
    // cross-joined scalars. At 100 TB the per-source mass aggregate is
    // the only corpus pass; the dealing is |sources|-bounded
    // arithmetic — this is exactly how training-shard composers
    // balance token mass without a solver.
    ("q280_serpentine_sharding", (s: SparkSession, dir: String) => {
      import s.implicits._
      val mass = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", TA.normText($"text").as("nt"))
        .select($"source",
          when($"nt" === "", lit(0L))
            .otherwise(size(split($"nt", " ")).cast("long")).as("len"))
        .groupBy($"source").agg(sum($"len").as("tokens"))
      val ranked = mass.withColumn("rnk",
          (row_number().over(Window.orderBy(desc("tokens"), $"source")) - 1)
            .cast("long"))
        .withColumn("shard_serp", expr(
          "CASE WHEN (rnk div 8) % 2 = 0 THEN rnk % 8 ELSE 7 - rnk % 8 END"))
        .withColumn("shard_rr", expr("rnk % 8"))
      val serp = ranked.groupBy($"shard_serp".as("shard"))
        .agg(count(lit(1)).as("n_src_serp"), sum($"tokens").as("tokens_serp"))
      val rr = ranked.groupBy($"shard_rr".as("shard"))
        .agg(sum($"tokens").as("tokens_rr"))
      val tot = ranked.agg(sum($"tokens").as("tt"))
      val bal = serp.join(rr, Seq("shard")).crossJoin(broadcast(tot))
      val summary = bal.agg(
        max($"tokens_serp").as("mx_serp"), max($"tokens_rr").as("mx_rr"),
        max($"tt").as("tt2"))
      bal.crossJoin(broadcast(summary))
        .select($"shard", $"n_src_serp", $"tokens_serp", $"tokens_rr",
          expr("1000000 * mx_serp div (tt2 div 8)").as("balance_serp_micro"),
          expr("1000000 * mx_rr div (tt2 div 8)").as("balance_rr_micro"))
        .orderBy($"shard")
    }, Some(s"""
      WITH lens AS (SELECT source,
          CASE WHEN $normSql = '' THEN 0
            ELSE CAST(len(string_split($normSql, ' ')) AS BIGINT) END AS len
        FROM documents),
      mass AS (SELECT source, CAST(sum(len) AS BIGINT) AS tokens
        FROM lens GROUP BY 1),
      ranked AS (SELECT *,
          CAST(row_number() OVER (ORDER BY tokens DESC, source) - 1 AS BIGINT)
            AS rnk FROM mass),
      asg AS (SELECT *,
          CASE WHEN (rnk // 8) % 2 = 0 THEN rnk % 8 ELSE 7 - rnk % 8 END
            AS shard_serp,
          rnk % 8 AS shard_rr FROM ranked),
      serp AS (SELECT shard_serp AS shard, CAST(count(*) AS BIGINT) AS n_src_serp,
          CAST(sum(tokens) AS BIGINT) AS tokens_serp FROM asg GROUP BY 1),
      rr AS (SELECT shard_rr AS shard, CAST(sum(tokens) AS BIGINT) AS tokens_rr
        FROM asg GROUP BY 1),
      tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS tt FROM asg),
      bal AS (SELECT s.shard, s.n_src_serp, s.tokens_serp, r.tokens_rr, t.tt
        FROM serp s JOIN rr r USING (shard) CROSS JOIN tot t),
      summ AS (SELECT max(tokens_serp) AS mx_serp, max(tokens_rr) AS mx_rr,
          max(tt) AS tt2 FROM bal)
      SELECT b.shard, b.n_src_serp, b.tokens_serp, b.tokens_rr,
        1000000 * s.mx_serp // (s.tt2 // 8) AS balance_serp_micro,
        1000000 * s.mx_rr // (s.tt2 // 8) AS balance_rr_micro
      FROM bal b CROSS JOIN summ s ORDER BY b.shard""")),

    // ----- fractional-knapsack budget selection ---------------------------
    // "Spend a 40%-of-corpus token budget where the good documents
    // are": value = count of quality-passing docs per source, cost =
    // tokens; greedy by value density is EXACTLY optimal for the
    // fractional relaxation, so the output doubles as an upper-bound
    // certificate for any integral (whole-source) selection. Density
    // order is the double-ratio sort key (q250 rationale); take-amounts
    // clear to integer micro via one cumulative window over the
    // |sources| grid. Distinct from q250's water-filling: different
    // objective (maximize value, not match temperature weights), same
    // one-corpus-pass + grid-solver scale shape.
    ("q281_knapsack_budget", (s: SparkSession, dir: String) => {
      import s.implicits._
      val src = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", $"n_chars", TA.normText($"text").as("nt"))
        .select($"source", $"n_chars",
          when($"nt" === "", lit(0L))
            .otherwise(size(split($"nt", " ")).cast("long")).as("len"))
        .groupBy($"source").agg(sum($"len").as("cost"),
          sum(when($"n_chars" >= 250, 1L).otherwise(0L)).as("value"))
        .filter($"cost" > 0)
      val tot = src.agg(sum($"cost").as("tc"))
      val g = src.crossJoin(broadcast(tot))
        .withColumn("budget", expr("2 * tc div 5"))
        .withColumn("dens", $"value".cast("double") / $"cost".cast("double"))
      val ord = Window.orderBy(desc("dens"), $"source")
      val cum = g
        .withColumn("prevcost", coalesce(sum($"cost")
          .over(ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("take_micro", expr("""
          CASE WHEN prevcost + cost <= budget THEN 1000000
               WHEN prevcost >= budget THEN 0
               ELSE 1000000 * (budget - prevcost) div cost END"""))
        .withColumn("value_taken_micro", expr("value * take_micro"))
        .withColumn("cost_taken", expr("cost * take_micro div 1000000"))
      cum.select($"source", $"cost", $"value", $"take_micro",
          $"cost_taken", $"value_taken_micro")
        .orderBy($"source")
    }, Some(s"""
      WITH lens AS (SELECT source, n_chars,
          CASE WHEN $normSql = '' THEN 0
            ELSE CAST(len(string_split($normSql, ' ')) AS BIGINT) END AS len
        FROM documents),
      src AS (SELECT source, CAST(sum(len) AS BIGINT) AS cost,
          CAST(sum(CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END) AS BIGINT) AS value
        FROM lens GROUP BY 1 HAVING sum(len) > 0),
      tot AS (SELECT CAST(sum(cost) AS BIGINT) AS tc FROM src),
      g AS (SELECT src.*, t.tc, 2 * t.tc // 5 AS budget,
          CAST(value AS DOUBLE) / CAST(cost AS DOUBLE) AS dens
        FROM src CROSS JOIN tot t),
      cum AS (SELECT *, coalesce(sum(cost) OVER (ORDER BY dens DESC, source
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prevcost
        FROM g),
      takes AS (SELECT *,
          CASE WHEN prevcost + cost <= budget THEN 1000000
               WHEN prevcost >= budget THEN 0
               ELSE 1000000 * (budget - prevcost) // cost END AS take_micro
        FROM cum)
      SELECT source, cost, value, CAST(take_micro AS BIGINT) AS take_micro,
        CAST(cost * take_micro // 1000000 AS BIGINT) AS cost_taken,
        CAST(value * take_micro AS BIGINT) AS value_taken_micro
      FROM takes ORDER BY source""")),

    // ----- predicate-ordering advisor -------------------------------------
    // The cost-based-optimizer move every hand-written cleaning
    // pipeline forgets: with independent filters of equal per-row
    // cost, the expected rows INSPECTED by a filter chain is
    // n·(1 + s₁ + s₁s₂ + s₁s₂s₃) under order π — minimized by running
    // the most selective filter first. Four realistic document gates
    // (length, language, token count, source screen) are measured in
    // ONE conditional-aggregation scan; both chain costs come from the
    // pivoted one-row grid with micro-scaled cumulative products. The
    // advisor's saving (naive-vs-optimal micro ratio) is the number
    // that justifies reordering a 100 TB cleaning pass — where each
    // avoided inspection is real money.
    ("q282_filter_ordering", (s: SparkSession, dir: String) => {
      import s.implicits._
      val flags = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"n_chars", $"lang", $"source", TA.normText($"text").as("nt"))
        .select(
          ($"n_chars" >= 150).cast("long").as("f_len"),
          ($"lang" === "en").cast("long").as("f_lang"),
          (when($"nt" === "", lit(0L))
            .otherwise(size(split($"nt", " ")).cast("long")) >= 30)
            .cast("long").as("f_tok"),
          ($"source" >= "src1").cast("long").as("f_src"))
      val sel = flags.agg(count(lit(1)).as("n"),
        expr("1000000 * sum(f_len) div count(1)").as("s_len"),
        expr("1000000 * sum(f_lang) div count(1)").as("s_lang"),
        expr("1000000 * sum(f_tok) div count(1)").as("s_tok"),
        expr("1000000 * sum(f_src) div count(1)").as("s_src"))
      val grid = sel.select($"n", explode(map(
          lit("f1_len"), $"s_len", lit("f2_lang"), $"s_lang",
          lit("f3_tok"), $"s_tok", lit("f4_src"), $"s_src"))
          .as(Seq("filter", "sel_micro")))
      val ranked = grid.withColumn("rn_opt",
        row_number().over(Window.orderBy($"sel_micro", $"filter")).cast("long"))
      def chainCost(r1: String, r2: String, r3: String) = // micro, per input row
        s"""1000000 + $r1 + $r1 * $r2 div 1000000
           + ($r1 * $r2 div 1000000) * $r3 div 1000000"""
      val pivot = ranked.agg(
        max(when($"rn_opt" === 1, $"sel_micro")).as("o1"),
        max(when($"rn_opt" === 2, $"sel_micro")).as("o2"),
        max(when($"rn_opt" === 3, $"sel_micro")).as("o3"),
        max(when($"filter" === "f1_len", $"sel_micro")).as("n1"),
        max(when($"filter" === "f2_lang", $"sel_micro")).as("n2"),
        max(when($"filter" === "f3_tok", $"sel_micro")).as("n3"))
        .select(expr(chainCost("o1", "o2", "o3")).as("cost_opt_micro"),
          expr(chainCost("n1", "n2", "n3")).as("cost_naive_micro"))
      ranked.crossJoin(broadcast(pivot))
        .select($"filter", $"sel_micro", $"rn_opt",
          $"cost_naive_micro", $"cost_opt_micro",
          expr("1000000 * cost_naive_micro div cost_opt_micro")
            .as("saving_micro"))
        .orderBy($"filter")
    }, Some(s"""
      WITH flags AS (SELECT
          CAST(CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END AS BIGINT) AS f_len,
          CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS f_lang,
          CAST(CASE WHEN (CASE WHEN $normSql = '' THEN 0
            ELSE len(string_split($normSql, ' ')) END) >= 30
            THEN 1 ELSE 0 END AS BIGINT) AS f_tok,
          CAST(CASE WHEN source >= 'src1' THEN 1 ELSE 0 END AS BIGINT) AS f_src
        FROM documents),
      sel AS (SELECT CAST(count(*) AS BIGINT) AS n,
          1000000 * sum(f_len) // count(*) AS s_len,
          1000000 * sum(f_lang) // count(*) AS s_lang,
          1000000 * sum(f_tok) // count(*) AS s_tok,
          1000000 * sum(f_src) // count(*) AS s_src
        FROM flags),
      grid AS (
        SELECT n, 'f1_len' AS filter, CAST(s_len AS BIGINT) AS sel_micro FROM sel
        UNION ALL SELECT n, 'f2_lang', CAST(s_lang AS BIGINT) FROM sel
        UNION ALL SELECT n, 'f3_tok', CAST(s_tok AS BIGINT) FROM sel
        UNION ALL SELECT n, 'f4_src', CAST(s_src AS BIGINT) FROM sel),
      ranked AS (SELECT *, CAST(row_number() OVER (ORDER BY sel_micro, filter)
          AS BIGINT) AS rn_opt FROM grid),
      pv AS (SELECT
          max(CASE WHEN rn_opt = 1 THEN sel_micro END) AS o1,
          max(CASE WHEN rn_opt = 2 THEN sel_micro END) AS o2,
          max(CASE WHEN rn_opt = 3 THEN sel_micro END) AS o3,
          max(CASE WHEN filter = 'f1_len' THEN sel_micro END) AS n1,
          max(CASE WHEN filter = 'f2_lang' THEN sel_micro END) AS n2,
          max(CASE WHEN filter = 'f3_tok' THEN sel_micro END) AS n3
        FROM ranked),
      costs AS (SELECT
          1000000 + o1 + o1 * o2 // 1000000
            + (o1 * o2 // 1000000) * o3 // 1000000 AS cost_opt_micro,
          1000000 + n1 + n1 * n2 // 1000000
            + (n1 * n2 // 1000000) * n3 // 1000000 AS cost_naive_micro
        FROM pv)
      SELECT r.filter, r.sel_micro, r.rn_opt,
        CAST(c.cost_naive_micro AS BIGINT) AS cost_naive_micro,
        CAST(c.cost_opt_micro AS BIGINT) AS cost_opt_micro,
        1000000 * c.cost_naive_micro // c.cost_opt_micro AS saving_micro
      FROM ranked r CROSS JOIN costs c ORDER BY r.filter""")),

    // Differential-privacy budget accounting, Neyman
    // audit allocation, sample-size planning, and successive-halving
    // config selection — the planning/accounting layer a data platform
    // runs BEFORE spending compute or privacy budget.
    //
    // House rules as elsewhere: integer arithmetic at every gate;
    // irrational weights (√ of exact integers) floor to integers
    // map-side; analytic constants (z², ln 2/δ, Laplace scales) are
    // Scala-precomputed micro literals embedded identically in both
    // engines. Identical aliases both sides, total ORDER BY.

    // ----- differential-privacy budget accounting -------------------------
    // Before releasing per-source document counts under ε-DP, the
    // accounting table every privacy review asks for: k queries of
    // sensitivity 1 under basic composition each get ε/k, so Laplace
    // scale b = k/ε — and the question is WHICH releases survive their
    // own noise. Per (ε, source): the true count, the scale, relative
    // expected error ⌊1e6·b/count⌋, and a usable flag (error < 10%).
    // No noise is drawn (that would break determinism AND the point —
    // accounting happens before release); ε⁻¹ ∈ {10, 1} are integer
    // literals. Completes the privacy family: q206/q219/q230 measure
    // re-identification risk, this prices the mitigation. One count
    // aggregate; the grid is |ε|·|sources|.
    ("q283_dp_budget_accounting", (s: SparkSession, dir: String) => {
      import s.implicits._
      val counts = Tables.t(s, dir, "documents")
        .groupBy($"source").agg(count(lit(1)).as("n_docs"))
      val k = counts.agg(count(lit(1)).as("k"))
      val eps = Seq(("eps_0_1", 10L), ("eps_1_0", 1L))
        .toDF("eps_label", "eps_inv")
      counts.crossJoin(broadcast(k)).crossJoin(broadcast(eps))
        .withColumn("b_scale", $"k" * $"eps_inv")
        .select($"eps_label", $"source", $"n_docs", $"b_scale",
          expr("1000000 * b_scale div n_docs").as("rel_err_micro"))
        .withColumn("usable",
          ($"rel_err_micro" < 100000L).cast("long"))
        .orderBy($"eps_label", $"source")
    }, Some("""
      WITH counts AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1),
      k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM counts),
      eps(eps_label, eps_inv) AS (VALUES ('eps_0_1', CAST(10 AS BIGINT)),
        ('eps_1_0', 1)),
      g AS (SELECT e.eps_label, c.source, c.n_docs, k.k * e.eps_inv AS b_scale
        FROM counts c CROSS JOIN k CROSS JOIN eps e)
      SELECT eps_label, source, n_docs, CAST(b_scale AS BIGINT) AS b_scale,
        1000000 * b_scale // n_docs AS rel_err_micro,
        CAST(CASE WHEN 1000000 * b_scale // n_docs < 100000 THEN 1 ELSE 0 END
          AS BIGINT) AS usable
      FROM g ORDER BY eps_label, source""")),

    // ----- Neyman audit allocation ----------------------------------------
    // Allocating a 1000-document audit across sources: proportional
    // allocation ignores within-source variance, Neyman allocation
    // n_h ∝ N_h·σ_h minimizes the stratified estimator's variance. The
    // weight N_h·σ_h = √(N_h·Σx² − (Σx)²) is the √ of an EXACT integer
    // — so it floors to an integer map-side, no distributed double
    // sums, and the design-variance comparison Σ w²/n_h (where w² is
    // again exact) certifies Neyman ≤ proportional on this corpus —
    // the q220 design-effect answer turned into an actual allocation.
    // One moment-aggregate per source; the solver is grid-sized.
    ("q284_neyman_allocation", (s: SparkSession, dir: String) => {
      import s.implicits._
      val m = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", TA.normText($"text").as("nt"))
        .select($"source",
          when($"nt" === "", lit(0L))
            .otherwise(size(split($"nt", " ")).cast("long")).as("x"))
        .groupBy($"source").agg(count(lit(1)).as("nh"), sum($"x").as("sx"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sx2"))
        .withColumn("w2", expr("CAST(nh AS DECIMAL(38,0)) * sx2 - CAST(sx AS DECIMAL(38,0)) * sx"))
        .withColumn("w", floor(sqrt($"w2".cast("double")) + lit(0.5)).cast("long"))
      val tot = m.agg(sum($"w").as("tw"), sum($"nh").as("tn"))
      val alloc = m.crossJoin(broadcast(tot))
        .withColumn("n_neyman", expr("greatest(1000 * w div tw, 1)"))
        .withColumn("n_prop", expr("greatest(1000 * nh div tn, 1)"))
      val vars = alloc.agg(
        sum(expr("w2 div n_neyman")).cast("long").as("var_neyman_scaled"),
        sum(expr("w2 div n_prop")).cast("long").as("var_prop_scaled"))
      alloc.crossJoin(broadcast(vars))
        .select($"source", $"nh", $"w", $"n_neyman", $"n_prop",
          $"var_neyman_scaled", $"var_prop_scaled")
        .orderBy($"source")
    }, Some(s"""
      WITH lens AS (SELECT source,
          CASE WHEN $normSql = '' THEN 0
            ELSE CAST(len(string_split($normSql, ' ')) AS BIGINT) END AS x
        FROM documents),
      m AS (SELECT source, CAST(count(*) AS BIGINT) AS nh,
          CAST(sum(x) AS BIGINT) AS sx, sum(CAST(x AS HUGEINT) * x) AS sx2
        FROM lens GROUP BY 1),
      w AS (SELECT *, CAST(nh AS HUGEINT) * sx2 - CAST(sx AS HUGEINT) * sx AS w2
        FROM m),
      ww AS (SELECT *, CAST(floor(sqrt(CAST(w2 AS DOUBLE)) + 0.5) AS BIGINT) AS w
        FROM w),
      tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw, CAST(sum(nh) AS BIGINT) AS tn
        FROM ww),
      alloc AS (SELECT ww.*, t.tw, t.tn,
          greatest(1000 * ww.w // t.tw, 1) AS n_neyman,
          greatest(1000 * ww.nh // t.tn, 1) AS n_prop
        FROM ww CROSS JOIN tot t),
      vars AS (SELECT CAST(sum(w2 // n_neyman) AS BIGINT) AS var_neyman_scaled,
          CAST(sum(w2 // n_prop) AS BIGINT) AS var_prop_scaled FROM alloc)
      SELECT a.source, a.nh, a.w, CAST(a.n_neyman AS BIGINT) AS n_neyman,
        CAST(a.n_prop AS BIGINT) AS n_prop,
        v.var_neyman_scaled, v.var_prop_scaled
      FROM alloc a CROSS JOIN vars v ORDER BY a.source""")),

    // ----- audit sample-size planner --------------------------------------
    // "How many documents must we hand-audit to pin the duplicate rate
    // within ±e?" — answered two ways per target half-width: the
    // distribution-free Hoeffding bound (data-independent, Scala-
    // precomputed) and the normal-approximation size z²·p(1−p)/e²,
    // which uses the corpus-MEASURED exact-duplicate rate p (q20's
    // fingerprint) and is therefore much tighter when p is small. The
    // ceil clears to (num + den − 1) div den in 128-bit. When p̂ = 0
    // (this corpus has no exact dups) the normal size degenerates to 0,
    // so the rule-of-three floor n ≥ 3/e — the standard zero-
    // observation 95% bound — backstops it; n_required takes the max.
    // The fraction column is the real decision number: below ~1e4
    // micro, auditing is cheap — just do it. One fingerprint
    // aggregate; everything else is a 3-row grid.
    ("q285_audit_sample_planner", (s: SparkSession, dir: String) => {
      import s.implicits._
      val dup = Tables.spread(Tables.t(s, dir, "documents"))
        .select(TA.fingerprintMd5($"text").as("fp"))
        .groupBy($"fp").agg(count(lit(1)).as("c"))
        .agg(sum($"c").as("n"), sum($"c" - 1).as("dups"))
        .select($"n", expr("1000000 * dups div n").as("p_micro"))
      val es = HoeffdingN.toSeq.sortBy(_._1)
        .map { case (em, nh) => (em, nh) }.toDF("e_micro", "n_hoeffding")
      dup.crossJoin(broadcast(es))
        .withColumn("n_normal", expr(
          """CAST((CAST(3841459 AS DECIMAL(38,0)) * p_micro * (1000000 - p_micro)
             + CAST(1000000 AS DECIMAL(38,0)) * e_micro * e_micro - 1)
             div (CAST(1000000 AS DECIMAL(38,0)) * e_micro * e_micro) AS BIGINT)"""))
        .withColumn("n_rule3", expr("(3000000 + e_micro - 1) div e_micro"))
        .withColumn("n_required", greatest($"n_normal", $"n_rule3"))
        .select($"e_micro", $"p_micro", $"n_hoeffding", $"n_normal", $"n_rule3",
          $"n_required",
          expr("1000000 * n_required div n").as("corpus_fraction_micro"))
        .orderBy($"e_micro")
    }, Some {
      val rows = HoeffdingN.toSeq.sortBy(_._1)
        .map { case (em, nh) => s"($em, $nh)" }.mkString(", ")
      s"""
      WITH fp AS (SELECT md5($normSql) AS fp FROM documents),
      g AS (SELECT fp, CAST(count(*) AS BIGINT) AS c FROM fp GROUP BY 1),
      dup AS (SELECT CAST(sum(c) AS BIGINT) AS n,
          CAST(1000000 * sum(c - 1) // sum(c) AS BIGINT) AS p_micro FROM g),
      es(e_micro, n_hoeffding) AS (VALUES $rows),
      nn AS (SELECT e.e_micro, d.p_micro, e.n_hoeffding, d.n,
          CAST((CAST(3841459 AS HUGEINT) * d.p_micro * (1000000 - d.p_micro)
            + CAST(1000000 AS HUGEINT) * e.e_micro * e.e_micro - 1)
            // (CAST(1000000 AS HUGEINT) * e.e_micro * e.e_micro) AS BIGINT)
            AS n_normal,
          (3000000 + e.e_micro - 1) // e.e_micro AS n_rule3
        FROM dup d CROSS JOIN es e)
      SELECT e_micro, p_micro, n_hoeffding, n_normal,
        CAST(n_rule3 AS BIGINT) AS n_rule3,
        CAST(greatest(n_normal, n_rule3) AS BIGINT) AS n_required,
        CAST(1000000 * greatest(n_normal, n_rule3) // n AS BIGINT)
          AS corpus_fraction_micro
      FROM nn ORDER BY e_micro"""
    }),

    // ----- successive-halving config selection ----------------------------
    // Hyperparameter-search infrastructure as a relational program:
    // 8 candidate configs, each round doubles the evaluation sample
    // and keeps the better half by mean reward — the budget-optimal
    // tournament (Jamieson & Talwalkar) that underlies Hyperband.
    // Rewards are md5-deterministic with a per-arm additive bias, so
    // the ground-truth best arm is KNOWN (arm 7) and the operator's
    // output doubles as a correctness check of the tournament itself.
    // Three driver-composed rounds, each one conditional aggregate
    // over (arm × sampled docs) with the survivors as a broadcast
    // list; everything is |arms|-bounded beyond the reward scan.
    ("q286_successive_halving", (s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id",
          (conv(substring(md5(concat(lit("shs|"), $"doc_id".cast("string"))),
            1, 8), 16, 10).cast("long") % 4).as("h"))
        .localCheckpoint() // three rounds sample from it
      val arms = (0L until 8L).map(a => (a, a)).toDF("arm", "bias")
      def rewards(sample: DataFrame, live: DataFrame) = sample
        .crossJoin(broadcast(live))
        .withColumn("r",
          conv(substring(md5(concat(lit("sh|"), $"arm".cast("string"),
            lit("|"), $"doc_id".cast("string"))), 1, 8), 16, 10)
            .cast("long") % 1000 + $"bias" * 20)
        .groupBy($"arm", $"bias")
        .agg(count(lit(1)).as("n_docs"), expr("sum(r) div count(1)").as("mean_r"))
      var live = arms
      var out: DataFrame = null
      val gates = Seq((1L, 4L, 4), (2L, 2L, 2), (3L, 1L, 1))
      for ((round, keepMod, keepN) <- gates) {
        val sample = docs.filter($"h" % keepMod === 0).select($"doc_id")
        val scored = rewards(sample, live)
          .withColumn("rnk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(desc("mean_r"), $"arm")))
          .withColumn("kept", ($"rnk" <= keepN).cast("long"))
          .withColumn("round", lit(round))
        out = if (out == null) scored else out.unionByName(scored)
        live = scored.filter($"kept" === 1).select($"arm", $"bias")
          .localCheckpoint()
      }
      out.select($"round", $"arm", $"n_docs", $"mean_r", $"kept")
        .orderBy($"round", desc("kept"), $"arm")
    }, Some("""
      WITH docs AS (SELECT doc_id,
          ('0x' || substr(md5('shs|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 4 AS h FROM documents),
      arms(arm, bias) AS (VALUES (CAST(0 AS BIGINT), CAST(0 AS BIGINT)), (1, 1),
        (2, 2), (3, 3), (4, 4), (5, 5), (6, 6), (7, 7)),
      r1 AS (SELECT a.arm, a.bias, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(('0x' || substr(md5('sh|' || CAST(a.arm AS VARCHAR) || '|'
            || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 + a.bias * 20)
            // count(*) AS BIGINT) AS mean_r
        FROM docs d CROSS JOIN arms a WHERE d.h % 4 = 0 GROUP BY 1, 2),
      k1 AS (SELECT *, row_number() OVER (ORDER BY mean_r DESC, arm) AS rnk FROM r1),
      s1 AS (SELECT arm, bias FROM k1 WHERE rnk <= 4),
      r2 AS (SELECT a.arm, a.bias, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(('0x' || substr(md5('sh|' || CAST(a.arm AS VARCHAR) || '|'
            || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 + a.bias * 20)
            // count(*) AS BIGINT) AS mean_r
        FROM docs d CROSS JOIN s1 a WHERE d.h % 2 = 0 GROUP BY 1, 2),
      k2 AS (SELECT *, row_number() OVER (ORDER BY mean_r DESC, arm) AS rnk FROM r2),
      s2 AS (SELECT arm, bias FROM k2 WHERE rnk <= 2),
      r3 AS (SELECT a.arm, a.bias, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(('0x' || substr(md5('sh|' || CAST(a.arm AS VARCHAR) || '|'
            || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 + a.bias * 20)
            // count(*) AS BIGINT) AS mean_r
        FROM docs d CROSS JOIN s2 a WHERE d.h % 1 = 0 GROUP BY 1, 2),
      k3 AS (SELECT *, row_number() OVER (ORDER BY mean_r DESC, arm) AS rnk FROM r3),
      allr AS (
        SELECT CAST(1 AS BIGINT) AS round, arm, n_docs, mean_r,
          CAST(CASE WHEN rnk <= 4 THEN 1 ELSE 0 END AS BIGINT) AS kept FROM k1
        UNION ALL
        SELECT 2, arm, n_docs, mean_r,
          CAST(CASE WHEN rnk <= 2 THEN 1 ELSE 0 END AS BIGINT) FROM k2
        UNION ALL
        SELECT 3, arm, n_docs, mean_r,
          CAST(CASE WHEN rnk <= 1 THEN 1 ELSE 0 END AS BIGINT) FROM k3)
      SELECT round, arm, n_docs, mean_r, kept FROM allr
      ORDER BY round, kept DESC, arm""")),

    // Padding-waste batching economics, cross-table
    // money reconciliation, and graded retrieval evaluation (nDCG@10 +
    // MRR) — inference batching, financial data quality, and the IR-eval
    // completion of the ANN family.
    //
    // House rules as elsewhere: integer arithmetic at every gate, money
    // in DECIMAL(12,2) cents, log₂ discounts as Scala-precomputed micro
    // constants shared by both engines. Identical aliases both sides,
    // total ORDER BY.

    // ----- padding-waste batching audit -----------------------------------
    // The OTHER batching economics (q246 is concat-and-chunk; this is
    // pad-to-max): inference and non-packing training pad every
    // sequence in a batch of 32 to the batch max, so waste =
    // Σ(batch_max − len). Compared for arrival-order batches (doc_id)
    // vs length-sorted batches (the standard bucketing trick) — batch
    // ids from rank arithmetic, batch maxes from one window each, and
    // the waste ratio is the number that justifies a sort stage before
    // the GPU. Two |corpus| windows ordered by different keys, then a
    // batch-level rollup; at 100 TB the sort is per shard, exactly as
    // serving systems bucket.
    ("q291_padding_waste", (s: SparkSession, dir: String) => {
      import s.implicits._
      val lens = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", TA.normText($"text").as("nt"))
        .select($"doc_id", when($"nt" === "", lit(0L))
          .otherwise(size(split($"nt", " ")).cast("long")).as("len"))
        .filter($"len" > 0)
      val byArrival = lens.withColumn("bk",
        expr("CAST((row_number() OVER (ORDER BY doc_id) - 1) div 32 AS BIGINT)"))
      val bySorted = lens.withColumn("bk",
        expr("CAST((row_number() OVER (ORDER BY len, doc_id) - 1) div 32 AS BIGINT)"))
      def waste(df: DataFrame, nm: String) = df
        .groupBy($"bk").agg(count(lit(1)).as("bn"), max($"len").as("mx"),
          sum($"len").as("sl"))
        .agg(count(lit(1)).as("n_batches"), sum($"sl").as("tokens"),
          sum($"bn" * $"mx" - $"sl").as("padding"),
          sum($"bn" * $"mx").as("padded_total"))
        .select(lit(nm).as("scheme"), $"n_batches", $"tokens", $"padding",
          expr("1000000 * padding div padded_total").as("waste_micro"))
      waste(byArrival, "a_arrival").unionByName(waste(bySorted, "b_sorted"))
        .orderBy($"scheme")
    }, Some(s"""
      WITH lens AS (SELECT doc_id,
          CASE WHEN $normSql = '' THEN 0
            ELSE CAST(len(string_split($normSql, ' ')) AS BIGINT) END AS len
        FROM documents),
      f AS (SELECT * FROM lens WHERE len > 0),
      ba AS (SELECT len,
          CAST((row_number() OVER (ORDER BY doc_id) - 1) // 32 AS BIGINT) AS bk
        FROM f),
      bs AS (SELECT len,
          CAST((row_number() OVER (ORDER BY len, doc_id) - 1) // 32 AS BIGINT) AS bk
        FROM f),
      wa AS (SELECT 'a_arrival' AS scheme, CAST(count(*) AS BIGINT) AS n_batches,
          CAST(sum(sl) AS BIGINT) AS tokens,
          CAST(sum(bn * mx - sl) AS BIGINT) AS padding,
          CAST(sum(bn * mx) AS BIGINT) AS padded_total
        FROM (SELECT bk, CAST(count(*) AS BIGINT) AS bn, max(len) AS mx,
            CAST(sum(len) AS BIGINT) AS sl FROM ba GROUP BY 1)),
      ws AS (SELECT 'b_sorted', CAST(count(*) AS BIGINT), CAST(sum(sl) AS BIGINT),
          CAST(sum(bn * mx - sl) AS BIGINT), CAST(sum(bn * mx) AS BIGINT)
        FROM (SELECT bk, CAST(count(*) AS BIGINT) AS bn, max(len) AS mx,
            CAST(sum(len) AS BIGINT) AS sl FROM bs GROUP BY 1)),
      u AS (SELECT * FROM wa UNION ALL SELECT * FROM ws)
      SELECT scheme, n_batches, tokens, padding,
        1000000 * padding // padded_total AS waste_micro
      FROM u ORDER BY scheme""")),

    // External clustering evaluation (adjusted Rand +
    // B-cubed of the LSH bucketing against the embeddings' ground-truth
    // labels), exact Shapley-value source valuation via the coverage-game
    // closed form, and Efraimidis–Spirakis weighted reservoir sampling —
    // the metric layer q21/q54's clusterings have never been scored with,
    // the game-theoretically fair upgrade of q227's leave-one-out
    // valuation, and the weight-proportional sampler the battery's
    // Bernoulli/balanced samplers (q178 and friends) cannot express.
    //
    // House rules as elsewhere: integer arithmetic at every gate, micro-ln
    // (floor(ln·1e6 + 0.5)) per transcendental term with the identical
    // expression in both engines, any double op only on final bounded
    // rows. Identical aliases both sides, total ORDER BY.

    // ----- exact Shapley source valuation (coverage-game closed form) -----
    // Leave-one-out valuation (q227) undervalues redundant sources: two sources carrying the same rare
    // vocabulary each get ~zero marginal value. The Shapley value fixes
    // that by averaging the marginal contribution over ALL 2^K source
    // orderings — normally hopeless (2^20 subsets here), but for
    // COVERAGE games it has an exact closed form: each covered unit's
    // value splits equally among the sources covering it, so
    // φ(src) = Σ_{tok ∈ src} 1 / m(tok) with m = #sources containing
    // the token (symmetry + efficiency axioms applied per token).
    // Distributed shape: one distinct (source, token) aggregate over
    // the corpus, a vocab-bounded m(tok) aggregate, and one broadcast
    // equi-join on the token — no subset enumeration, no all-pairs.
    // Per-token credit is the integer 1000000 div m (exact both
    // engines); efficiency holds as Σ_src φ ∈ (1e6·V − K·V, 1e6·V].
    ("q301_shapley_coverage", (s: SparkSession, dir: String) => {
      import s.implicits._
      val st = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source",
          explode(split(TA.normText($"text"), " ")).as("tok"))
        .distinct()
        .localCheckpoint() // reused: m(tok) aggregate + the credit join
      val mt = st.groupBy($"tok").agg(count(lit(1)).as("m"))
      st.join(broadcast(mt), Seq("tok"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when($"m" === 1, 1L).otherwise(0L)).as("n_unique"),
          sum(expr("1000000 div m")).as("shapley_micro"))
        .orderBy($"source")
    }, Some(s"""
      WITH st AS (SELECT DISTINCT source, tok FROM
        (SELECT source, unnest(string_split($normSql, ' ')) AS tok
         FROM documents)),
      mt AS (SELECT tok, CAST(count(*) AS BIGINT) AS m FROM st GROUP BY 1)
      SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        CAST(sum(1000000 // m) AS BIGINT) AS shapley_micro
      FROM st JOIN mt USING (tok) GROUP BY source ORDER BY source""")),

    // ----- weighted reservoir sampling (Efraimidis–Spirakis A-ES) ---------
    // The battery's samplers are uniform (md5-Bernoulli) or
    // stratified-balanced (q178); neither draws documents with
    // probability PROPORTIONAL TO A WEIGHT without replacement — the
    // shape quality-weighted corpus subsampling actually needs. A-ES:
    // draw u ~ U(0,1] per item, keep the k items with largest
    // u^(1/w) — equivalently the k SMALLEST −ln(u)/w, the monotone
    // form used here. Determinism: u = (h+1)/2^32 from md5, and the
    // key is the integer nano-ratio (lnm(2^32) − lnm(h+1)) · 1000
    // div w (separate micro-ln terms per the house rule; ties broken
    // by doc_id). Zero-weight docs are filtered out FIRST: in A-ES a
    // w = 0 item has selection probability 0 (u^(1/w) → 0), and
    // leaving it in would divide by zero — NULL in Spark, an error in
    // DuckDB. k = 40 per lang stratum. Scale shape: the
    // filter(rk ≤ 40) sits DIRECTLY above the window, so it compiles
    // to WindowGroupLimit — each map task forwards at most 40 rows per
    // stratum and the shuffle carries O(k · partitions), not the
    // corpus (Round8abSpec pins the plan).
    ("q302_weighted_reservoir", (s: SparkSession, dir: String) => {
      import s.implicits._
      val keyed = Tables.spread(Tables.t(s, dir, "documents"))
        .filter($"n_chars" > 0)
        .select($"lang", $"doc_id", $"n_chars".as("w"),
          conv(substring(md5(concat(lit("wrs|"), $"doc_id".cast("string"))),
            1, 8), 16, 10).cast("long").as("h"))
        .select($"lang", $"doc_id", $"w",
          expr("""(CAST(floor(ln(CAST(4294967296 AS DOUBLE)) * 1000000 + 0.5)
                     AS BIGINT)
                   - CAST(floor(ln(CAST(h + 1 AS DOUBLE)) * 1000000 + 0.5)
                     AS BIGINT)) * 1000 div w""").as("key_nano"))
      val wl = Window.partitionBy($"lang").orderBy($"key_nano", $"doc_id")
      keyed.withColumn("rk", row_number().over(wl))
        .filter($"rk" <= 40) // WindowGroupLimit: ≤40 rows/stratum per task
        .select($"lang", $"rk".cast("long").as("rk"), $"doc_id", $"w",
          $"key_nano")
        .orderBy($"lang", $"rk")
    }, Some("""
      WITH d AS (SELECT lang, doc_id, n_chars AS w,
          ('0x' || substr(md5('wrs|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            AS h
        FROM documents WHERE n_chars > 0),
      k AS (SELECT lang, doc_id, w,
          (CAST(floor(ln(CAST(4294967296 AS DOUBLE)) * 1000000 + 0.5)
             AS BIGINT)
           - CAST(floor(ln(CAST(h + 1 AS DOUBLE)) * 1000000 + 0.5)
             AS BIGINT)) * 1000 // w AS key_nano
        FROM d),
      r AS (SELECT lang, doc_id, w, key_nano,
          row_number() OVER (PARTITION BY lang ORDER BY key_nano, doc_id)
            AS rk FROM k)
      SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, CAST(w AS BIGINT) AS w,
        key_nano
      FROM r WHERE rk <= 40 ORDER BY lang, rk""")),

    // Wasserstein-1 distribution shift (the
    // magnitude-aware companion to q127's KL and q195's KS), maximal
    // marginal relevance re-ranking (diversified retrieval — the
    // serving-side counterpart of q197's corpus diversity cap), and a
    // consistent-hash ring rebalance audit (how many keys move when a
    // node joins — the sharding-layer read q253-style layout planning
    // never measured).
    //
    // House rules as elsewhere: integer/decimal arithmetic at every gate,
    // doubles only where both engines evaluate the identical IEEE
    // expression (cosines, the MMR combination), identical aliases both
    // sides, total ORDER BY.

    // ----- maximal marginal relevance re-ranking --------------------------
    // q197 diversifies the CORPUS; this diversifies the RESULT LIST:
    // MMR (Carbonell & Goldstein) greedily picks
    // argmax 0.7·rel(d) − 0.3·max_{s∈picked} sim(d, s), trading
    // relevance against redundancy — the standard fix when a nearest-
    // neighbor list returns three near-copies. Per probe: LSH-bucket
    // top-10 candidates (the q299 candidate bound — never all-pairs),
    // a ≤10×10 within-probe pairwise-sim table, and the k=3 greedy
    // unrolled into three rank-1 windows (a production k loops the
    // same step over a localCheckpoint). Every stage after candidate
    // generation is |probes|·100-bounded. Cosines and the 0.7/0.3
    // combination are the identical IEEE expression in both engines;
    // ties break on c_id.
    ("q304_mmr_rerank", (s: SparkSession, dir: String) => {
      import s.implicits._
      val b = Similarity.prepare(
          Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
        .withColumn("bucket", Similarity.lshBucket(col("qvec"), Projs))
        .localCheckpoint() // probe + candidate sides of the bucket join
      val q = b.filter($"id" % 100 === 0)
        .select($"bucket", $"id".as("q_id"), $"qvec".as("q_vec"),
          $"n2".as("q_n2"))
      val c = b.select($"bucket", $"id".as("c_id"), $"qvec".as("c_vec"),
        $"n2".as("c_n2"))
      val wq = Window.partitionBy($"q_id").orderBy(desc("rel"), $"c_id")
      val cands = c.join(broadcast(q), "bucket")
        .filter($"q_id" =!= $"c_id")
        .select($"q_id", $"c_id", $"c_vec", $"c_n2",
          Similarity.cosine(Similarity.dot($"q_vec", $"c_vec"), $"q_n2",
            $"c_n2").as("rel"))
        .withColumn("rn", row_number().over(wq)).filter($"rn" <= 10)
        .drop("rn")
        .localCheckpoint() // reused by every greedy step + the sim table
      val sims = cands.select($"q_id", $"c_id".as("d_id"),
          $"c_vec".as("d_vec"), $"c_n2".as("d_n2"))
        .join(cands.select($"q_id", $"c_id".as("s_id"),
          $"c_vec".as("s_vec"), $"c_n2".as("s_n2")), Seq("q_id"))
        .filter($"d_id" =!= $"s_id")
        .select($"q_id", $"d_id", $"s_id",
          Similarity.cosine(Similarity.dot($"d_vec", $"s_vec"), $"d_n2",
            $"s_n2").as("sim"))
        .localCheckpoint() // reused by greedy steps 2 and 3
      val p1 = cands.withColumn("rn", row_number().over(wq))
        .filter($"rn" === 1)
        .select($"q_id", $"c_id".as("p1"), $"rel".as("mmr1"))
      val w2 = Window.partitionBy($"q_id").orderBy(desc("mmr"), $"c_id")
      val p2 = cands.join(broadcast(p1), Seq("q_id"))
        .filter($"c_id" =!= $"p1")
        .join(sims.select($"q_id", $"d_id".as("c_id"), $"s_id", $"sim"),
          Seq("q_id", "c_id"))
        .filter($"s_id" === $"p1")
        .select($"q_id", $"c_id", $"p1",
          expr("0.7 * rel - 0.3 * sim").as("mmr"))
        .withColumn("rn", row_number().over(w2)).filter($"rn" === 1)
        .select($"q_id", $"p1", $"c_id".as("p2"), $"mmr".as("mmr2"))
      val p3 = cands.join(broadcast(p2.select($"q_id", $"p1", $"p2")),
          Seq("q_id"))
        .filter($"c_id" =!= $"p1" && $"c_id" =!= $"p2")
        .join(sims.select($"q_id", $"d_id".as("c_id"), $"s_id", $"sim"),
          Seq("q_id", "c_id"))
        .filter($"s_id" === $"p1" || $"s_id" === $"p2")
        .groupBy($"q_id", $"c_id").agg(max($"rel").as("rel"),
          max($"sim").as("ms"))
        .select($"q_id", $"c_id", expr("0.7 * rel - 0.3 * ms").as("mmr"))
        .withColumn("rn", row_number().over(w2)).filter($"rn" === 1)
        .select($"q_id", $"c_id".as("p3"), $"mmr".as("mmr3"))
      p1.select($"q_id", lit(1L).as("pick"), $"p1".as("c_id"),
          $"mmr1".as("mmr"))
        .unionByName(p2.select($"q_id", lit(2L).as("pick"),
          $"p2".as("c_id"), $"mmr2".as("mmr")))
        .unionByName(p3.select($"q_id", lit(3L).as("pick"),
          $"p3".as("c_id"), $"mmr3".as("mmr")))
        .orderBy($"q_id", $"pick")
    }, Some(s"""
      WITH $prepSql,
      b AS (SELECT vec_id, qvec, n2, $bucketSql AS bucket FROM n),
      cand0 AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          c.qvec AS c_vec, c.n2 AS c_n2,
          list_dot_product(q.qvec, c.qvec) / sqrt(q.n2 * c.n2) AS rel,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY list_dot_product(q.qvec, c.qvec) / sqrt(q.n2 * c.n2)
              DESC, c.vec_id) AS rn
        FROM b q JOIN b c USING (bucket)
        WHERE q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id),
      cands AS (SELECT q_id, c_id, c_vec, c_n2, rel FROM cand0
        WHERE rn <= 10),
      sims AS (SELECT a.q_id, a.c_id AS d_id, s.c_id AS s_id,
          list_dot_product(a.c_vec, s.c_vec) / sqrt(a.c_n2 * s.c_n2) AS sim
        FROM cands a JOIN cands s ON a.q_id = s.q_id
        WHERE a.c_id <> s.c_id),
      p1 AS (SELECT q_id, c_id AS p1, rel AS mmr1 FROM
        (SELECT q_id, c_id, rel,
           row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, c_id)
             AS rn FROM cands) WHERE rn = 1),
      p2 AS (SELECT q_id, p1, c_id AS p2, mmr AS mmr2 FROM
        (SELECT c.q_id, p1.p1, c.c_id, 0.7 * c.rel - 0.3 * s.sim AS mmr,
           row_number() OVER (PARTITION BY c.q_id
             ORDER BY 0.7 * c.rel - 0.3 * s.sim DESC, c.c_id) AS rn
         FROM cands c JOIN p1 ON c.q_id = p1.q_id AND c.c_id <> p1.p1
         JOIN sims s ON s.q_id = c.q_id AND s.d_id = c.c_id
           AND s.s_id = p1.p1) WHERE rn = 1),
      p3 AS (SELECT q_id, c_id AS p3, mmr AS mmr3 FROM
        (SELECT g.q_id, g.c_id, 0.7 * g.rel - 0.3 * g.ms AS mmr,
           row_number() OVER (PARTITION BY g.q_id
             ORDER BY 0.7 * g.rel - 0.3 * g.ms DESC, g.c_id) AS rn
         FROM (SELECT c.q_id, c.c_id, max(c.rel) AS rel, max(s.sim) AS ms
           FROM cands c JOIN p2 ON c.q_id = p2.q_id
             AND c.c_id <> p2.p1 AND c.c_id <> p2.p2
           JOIN sims s ON s.q_id = c.q_id AND s.d_id = c.c_id
             AND (s.s_id = p2.p1 OR s.s_id = p2.p2)
           GROUP BY 1, 2) g) WHERE rn = 1)
      SELECT q_id, CAST(1 AS BIGINT) AS pick, p1 AS c_id, mmr1 AS mmr
        FROM p1
      UNION ALL SELECT q_id, CAST(2 AS BIGINT), p2, mmr2 FROM p2
      UNION ALL SELECT q_id, CAST(3 AS BIGINT), p3, mmr3 FROM p3
      ORDER BY q_id, pick""")),

    // ----- consistent-hash ring rebalance audit ---------------------------
    // The sharding question behind every "add a node to the fleet"
    // change: how many keys MOVE? A 32-bit md5 ring with 10 nodes ×
    // 8 vnodes, keys assigned to the clockwise-successor marker; the
    // audit adds node10 and measures per-node populations before and
    // after plus the moved-in count. Consistent hashing's defining
    // property — only keys landing on the NEW node's arcs move —
    // falls out as moved_in = 0 for every old node (spec-pinned).
    // Scale shape: the ring is 88 markers — it travels as ONE sorted
    // array in a broadcast row, successor lookup is a map-side
    // array filter (no join blowup, no per-key shuffle), and the two
    // pos→node resolutions are broadcast joins against the marker
    // table. One corpus pass, three tiny aggregates.
    ("q305_consistent_hash_rebalance", (s: SparkSession, dir: String) => {
      import s.implicits._
      val markers = s.range(88).select(
          concat(lit("node"), expr("id div 8").cast("string")).as("node"),
          expr("id div 8").as("i"),
          conv(substring(md5(concat(lit("ring|node"),
            expr("id div 8").cast("string"), lit("|v"),
            expr("id % 8").cast("string"))), 1, 8), 16, 10)
            .cast("long").as("pos"))
        .localCheckpoint() // array collect + two pos→node resolutions
      val arrB = markers.filter($"i" < 10)
        .agg(sort_array(collect_list($"pos")).as("arr_b"))
      val arrA = markers.agg(sort_array(collect_list($"pos")).as("arr_a"))
      val keys = Tables.spread(Tables.t(s, dir, "documents"))
        .select(conv(substring(md5(concat(lit("key|"),
          $"doc_id".cast("string"))), 1, 8), 16, 10).cast("long").as("kpos"))
        .crossJoin(broadcast(arrB)).crossJoin(broadcast(arrA))
        .select($"kpos",
          expr("""coalesce(array_min(filter(arr_b, p -> p >= kpos)),
                  array_min(arr_b))""").as("pos_b"),
          expr("""coalesce(array_min(filter(arr_a, p -> p >= kpos)),
                  array_min(arr_a))""").as("pos_a"))
      val resolved = keys
        .join(broadcast(markers.filter($"i" < 10)
          .select($"pos".as("pos_b"), $"node".as("node_b"))), Seq("pos_b"))
        .join(broadcast(markers
          .select($"pos".as("pos_a"), $"node".as("node_a"))), Seq("pos_a"))
        .localCheckpoint() // three per-node aggregates below
      val tot = resolved.agg(count(lit(1)).as("n"))
      val before = resolved.groupBy($"node_b".as("node"))
        .agg(count(lit(1)).as("n_before"))
      val after = resolved.groupBy($"node_a".as("node"))
        .agg(count(lit(1)).as("n_after"))
      val moved = resolved.filter($"node_b" =!= $"node_a")
        .groupBy($"node_a".as("node")).agg(count(lit(1)).as("moved_in"))
      markers.select($"node").distinct()
        .join(before, Seq("node"), "left")
        .join(after, Seq("node"), "left")
        .join(moved, Seq("node"), "left")
        .na.fill(0L, Seq("n_before", "n_after", "moved_in"))
        .crossJoin(broadcast(tot))
        .select($"node", $"n_before", $"n_after", $"moved_in",
          expr("1000000 * moved_in div n").as("moved_frac_micro"))
        .orderBy($"node")
    }, Some("""
      WITH mk AS (SELECT 'node' || CAST(id // 8 AS VARCHAR) AS node,
          id // 8 AS i,
          ('0x' || substr(md5('ring|node' || CAST(id // 8 AS VARCHAR)
            || '|v' || CAST(id % 8 AS VARCHAR)), 1, 8))::BIGINT AS pos
        FROM (SELECT unnest(range(88)) AS id)),
      arrs AS (SELECT
          (SELECT list_sort(list(pos)) FROM mk WHERE i < 10) AS arr_b,
          (SELECT list_sort(list(pos)) FROM mk) AS arr_a),
      keys AS (SELECT kpos,
          coalesce(list_min(list_filter(arr_b, p -> p >= kpos)),
            list_min(arr_b)) AS pos_b,
          coalesce(list_min(list_filter(arr_a, p -> p >= kpos)),
            list_min(arr_a)) AS pos_a
        FROM (SELECT ('0x' || substr(md5('key|' || CAST(doc_id AS VARCHAR)),
            1, 8))::BIGINT AS kpos FROM documents)
        CROSS JOIN arrs),
      res AS (SELECT k.kpos, mb.node AS node_b, ma.node AS node_a
        FROM keys k
        JOIN mk mb ON mb.pos = k.pos_b AND mb.i < 10
        JOIN mk ma ON ma.pos = k.pos_a),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM res),
      bef AS (SELECT node_b AS node, CAST(count(*) AS BIGINT) AS n_before
        FROM res GROUP BY 1),
      aft AS (SELECT node_a AS node, CAST(count(*) AS BIGINT) AS n_after
        FROM res GROUP BY 1),
      mv AS (SELECT node_a AS node, CAST(count(*) AS BIGINT) AS moved_in
        FROM res WHERE node_b <> node_a GROUP BY 1)
      SELECT g.node, CAST(coalesce(bef.n_before, 0) AS BIGINT) AS n_before,
        CAST(coalesce(aft.n_after, 0) AS BIGINT) AS n_after,
        CAST(coalesce(mv.moved_in, 0) AS BIGINT) AS moved_in,
        CAST(1000000 * coalesce(mv.moved_in, 0) // tot.n AS BIGINT)
          AS moved_frac_micro
      FROM (SELECT DISTINCT node FROM mk) g
      LEFT JOIN bef ON g.node = bef.node
      LEFT JOIN aft ON g.node = aft.node
      LEFT JOIN mv ON g.node = mv.node
      CROSS JOIN tot ORDER BY g.node""")),

    // ----- hash-collision namespace audit ---------------------------------
    // Every md5-truncation in the battery (32-bit buckets, band keys,
    // ring positions) carries a silent birthday bound; this measures it
    // for the document-id namespace at widths 16/20/24/28/32 bits:
    // observed colliding pairs Σ C(cnt,2) per truncated hash vs the
    // birthday expectation C(n,2)/2^w in micro. The widths travel as a
    // 5-row broadcast grid (map-side fanout ×5), collision counting is
    // one hash aggregate per width, and the expectation is closed-form
    // — the "how many bits does this ID space need" table, measured
    // against its own theory.
    ("q311_hash_collision_audit", (s: SparkSession, dir: String) => {
      import s.implicits._
      val h = Tables.spread(Tables.t(s, dir, "documents"))
        .select(conv(substring(md5(concat(lit("ns|"),
          $"doc_id".cast("string"))), 1, 8), 16, 10).cast("long").as("h"))
      val widths = Seq(16L, 20L, 24L, 28L, 32L).map(Tuple1(_)).toDF("w")
      val tot = h.agg(count(lit(1)).as("n"))
      h.crossJoin(broadcast(widths))
        .select($"w", expr("h % CAST(pow(2, w) AS BIGINT)").as("b"))
        .groupBy($"w", $"b").agg(count(lit(1)).as("c"))
        .groupBy($"w").agg(count(lit(1)).as("n_buckets_used"),
          sum(expr("c * (c - 1) div 2")).as("obs_pairs"))
        .crossJoin(broadcast(tot))
        .select($"w", $"n".as("n_ids"), $"n_buckets_used", $"obs_pairs",
          expr("""1000000 * (n * (n - 1) div 2)
                  div CAST(pow(2, w) AS BIGINT)""").as("exp_pairs_micro"))
        .orderBy($"w")
    }, Some("""
      WITH h AS (SELECT ('0x' || substr(md5('ns|' || CAST(doc_id AS VARCHAR)),
          1, 8))::BIGINT AS h FROM documents),
      widths AS (SELECT CAST(w AS BIGINT) AS w
        FROM (SELECT unnest([16, 20, 24, 28, 32]) AS w)),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM h),
      bkt AS (SELECT w, h % CAST(pow(2, w) AS BIGINT) AS b,
          CAST(count(*) AS BIGINT) AS c
        FROM h CROSS JOIN widths GROUP BY 1, 2),
      agg AS (SELECT w, CAST(count(*) AS BIGINT) AS n_buckets_used,
          CAST(sum(c * (c - 1) // 2) AS BIGINT) AS obs_pairs
        FROM bkt GROUP BY 1)
      SELECT a.w, tot.n AS n_ids, a.n_buckets_used, a.obs_pairs,
        1000000 * (tot.n * (tot.n - 1) // 2) // CAST(pow(2, a.w) AS BIGINT)
          AS exp_pairs_micro
      FROM agg a CROSS JOIN tot ORDER BY a.w""")),

    // ----- frequent-items sketch capacity planning ------------------------
    // Misra–Gries / space-saving with k counters guarantees (merge-
    // order independent) that any item with frequency f > N/(k+1)
    // survives the sketch — the contrapositive of the count bound.
    // This turns the guarantee into a capacity plan over the corpus
    // vocabulary: for each counter budget k in a 5-point grid, the
    // guarantee threshold N div (k+1), how many types clear it, and
    // how many of the TRUE top-10 types (frequency desc, token asc —
    // total order) are guaranteed captured. The smallest k whose
    // top10_guaranteed reads 10 is the budget to ship. One tokenize
    // pass → vocab-bounded counts; the top-10 rank is one window over
    // the VOCAB grid (the documented q195-class bound), the k-grid a
    // 5-row broadcast.
    ("q324_sketch_capacity", (s: SparkSession, dir: String) => {
      import s.implicits._
      // distributed vocab rank (r14; was a single-partition window over
      // the whole vocabulary): GridRank range-buckets on f — bit-identical
      // row numbers, bounded per-task state (GridRankSpec)
      val f = graft.ext.GridRank.withRowNumber(
          Tables.spread(Tables.t(s, dir, "documents"))
            .select(explode(split(TA.normText($"text"), " ")).as("tok"))
            .filter($"tok" =!= "")
            .groupBy($"tok").agg(count(lit(1)).as("f")),
          "f", Seq($"tok"), "rn", descending = true)
        .localCheckpoint() // reused per k-grid row
      val tot = f.agg(sum($"f").as("nn"))
      val ks = Seq(8L, 16L, 32L, 64L, 128L).map(Tuple1(_)).toDF("k")
      f.crossJoin(broadcast(ks)).crossJoin(broadcast(tot))
        .groupBy($"k")
        .agg(max(expr("nn div (k + 1)")).as("thr"),
          sum(when(expr("f > nn div (k + 1)"), 1L).otherwise(0L))
            .as("n_guaranteed"),
          sum(when(expr("rn <= 10 AND f > nn div (k + 1)"), 1L)
            .otherwise(0L)).as("top10_guaranteed"))
        .orderBy($"k")
    }, Some(s"""
      WITH f AS (SELECT tok, CAST(count(*) AS BIGINT) AS f,
          CAST(row_number() OVER (ORDER BY count(*) DESC, tok) AS BIGINT)
            AS rn
        FROM (SELECT unnest(string_split($normSql, ' ')) AS tok
              FROM documents)
        WHERE tok <> '' GROUP BY tok),
      tot AS (SELECT CAST(sum(f) AS BIGINT) AS nn FROM f),
      ks AS (SELECT CAST(k AS BIGINT) AS k
        FROM (SELECT unnest([8, 16, 32, 64, 128]) AS k))
      SELECT k, max(nn // (k + 1)) AS thr,
        CAST(sum(CASE WHEN f > nn // (k + 1) THEN 1 ELSE 0 END) AS BIGINT)
          AS n_guaranteed,
        CAST(sum(CASE WHEN rn <= 10 AND f > nn // (k + 1) THEN 1 ELSE 0 END)
          AS BIGINT) AS top10_guaranteed
      FROM f CROSS JOIN ks CROSS JOIN tot
      GROUP BY k ORDER BY k""")),

    // ----- exact cross-source vocabulary overlap matrix -------------------
    // Which sources are mirrors of each other? q194 ESTIMATES this
    // matrix from 8-permutation minhash signatures; this is its exact
    // ground truth — per source-pair Jaccard |A∩B| / |A∪B| — plus the
    // containment |A∩B| / min(|A|,|B|) the signature form cannot give
    // (containment catches the subset-mirror case Jaccard dilutes,
    // and it is the audit that says how far q194's 8 permutations
    // drift). Shape: one distinct (source, token)
    // aggregate, an equi-join on the TOKEN for intersections (each
    // token fans at most |sources|² — bounded by the source roster,
    // not the corpus), a broadcast of the |sources| size table. The
    // output is the |sources|²/2 matrix, total-ordered.
    ("q330_source_overlap", (s: SparkSession, dir: String) => {
      import s.implicits._
      val st = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", explode(split(TA.normText($"text"), " ")).as("tok"))
        .filter($"tok" =!= "").distinct()
        .localCheckpoint() // reused: sizes + the intersection join
      val sz = st.groupBy($"source").agg(count(lit(1)).as("v"))
      val inter = st.toDF("sa", "tok").join(st.toDF("sb", "tok"), Seq("tok"))
        .filter($"sa" < $"sb")
        .groupBy($"sa", $"sb").agg(count(lit(1)).as("n_common"))
      inter
        .join(broadcast(sz.toDF("sa", "va")), Seq("sa"))
        .join(broadcast(sz.toDF("sb", "vb")), Seq("sb"))
        .select($"sa".as("source_a"), $"sb".as("source_b"),
          $"va".as("v_a"), $"vb".as("v_b"), $"n_common",
          expr("1000000 * n_common div (va + vb - n_common)")
            .as("jaccard_micro"),
          expr("1000000 * n_common div least(va, vb)")
            .as("containment_micro"))
        .orderBy($"source_a", $"source_b")
    }, Some(s"""
      WITH st AS (SELECT DISTINCT source, tok FROM
        (SELECT source, unnest(string_split($normSql, ' ')) AS tok
         FROM documents) WHERE tok <> ''),
      sz AS (SELECT source, CAST(count(*) AS BIGINT) AS v
        FROM st GROUP BY 1),
      inter AS (SELECT a.source AS sa, b.source AS sb,
          CAST(count(*) AS BIGINT) AS n_common
        FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2)
      SELECT i.sa AS source_a, i.sb AS source_b,
        za.v AS v_a, zb.v AS v_b, i.n_common,
        1000000 * i.n_common // (za.v + zb.v - i.n_common) AS jaccard_micro,
        1000000 * i.n_common // least(za.v, zb.v) AS containment_micro
      FROM inter i JOIN sz za ON i.sa = za.source
      JOIN sz zb ON i.sb = zb.source
      ORDER BY source_a, source_b"""))
  )
}
