package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{TextAnalysis => TA}
import graft.functions.UnicodeNormFns

/** Text signals: tokenization, quality and language signals, vocabulary
  * and n-gram statistics, language-model scores, BPE, indexes and
  * phrase/retrieval primitives.
  *
  * Section "Text analysis & corpus curation" of
  * docs/OPERATORS.md.
  */
object TextSignalQueries {

  private val normSql = TA.normTextSql

  /** Every 3-gram shingle occurrence (TA.shingles minus the distinct —
    * these operators count FREQUENCY, so within-doc repeats must
    * survive; the clipped-tail rule matches the arr[i:i+2] oracle). */
  private def shingleOccurrences(text: org.apache.spark.sql.Column) =
    graft.functions.Lambda.bind1(split(TA.normText(text), " ")) { a =>
      transform(sequence(lit(1), greatest(size(a) - 2, lit(1))),
        i => concat_ws(" ", try_element_at(a, i), try_element_at(a, i + 1),
          try_element_at(a, i + 2)))
    }

  /** One BPE merge round as a DuckDB CTE block (see q245). The greedy
    * left-to-right merge is gaps-and-islands: runs of consecutive
    * matched positions keep odd ranks only (adjacent matches exist only
    * when pa == pb, e.g. "aaaa" → "aa","aa" not "aa","a","a"). */
  private def bpeRoundSql(r: Int): String = {
    val p = if (r == 1) "s0" else s"s${r - 1}"
    s"""
      pr$r AS (SELECT w, wf, pos, sym,
          lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM $p),
      top$r AS (SELECT sym AS pa, nxt AS pb, CAST(sum(wf) AS BIGINT) AS weight
        FROM pr$r WHERE nxt IS NOT NULL GROUP BY 1, 2
        ORDER BY weight DESC, pa, pb LIMIT 1),
      m$r AS (SELECT b.w, b.wf, b.pos, b.sym, b.nxt, t.pa, t.pb, t.weight,
          CASE WHEN b.sym = t.pa AND b.nxt = t.pb THEN 1 ELSE 0 END AS mat
        FROM pr$r b CROSS JOIN top$r t),
      i$r AS (SELECT *, sum(mat) OVER (PARTITION BY w ORDER BY pos
          ROWS UNBOUNDED PRECEDING) AS mrn FROM m$r),
      j$r AS (SELECT *, CASE WHEN mat = 1 THEN pos - mrn END AS island FROM i$r),
      k$r AS (SELECT *, mrn - min(CASE WHEN mat = 1 THEN mrn END)
          OVER (PARTITION BY w, island) + 1 AS rim FROM j$r),
      l$r AS (SELECT *, (mat = 1 AND rim % 2 = 1) AS keep FROM k$r),
      f$r AS (SELECT *, coalesce(lag(keep) OVER (PARTITION BY w ORDER BY pos),
          FALSE) AS consumed FROM l$r),
      s$r AS (SELECT w, wf,
          CAST(row_number() OVER (PARTITION BY w ORDER BY pos) AS BIGINT) AS pos,
          CASE WHEN keep THEN sym || nxt ELSE sym END AS sym
        FROM f$r WHERE NOT consumed),
      o$r AS (SELECT CAST($r AS BIGINT) AS round, t.pa AS sym_a, t.pb AS sym_b,
          t.weight,
          (SELECT CAST(count(DISTINCT sym) AS BIGINT) FROM s$r) AS vocab_size
        FROM top$r t)"""
  }

  def queries: Seq[Entry] = Seq(

    // ----- text: token counting ------------------------------------------
    ("q16_text_tokens", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.spread(Tables.t(s, dir, "documents")).select(
          $"doc_id",
          TA.wsTokenCount($"text").as("ws_tokens"),
          TA.bpeTokenCount($"text").cast("long").as("bpe_tokens"),
          length($"text").as("n_chars_calc"))
        .orderBy("doc_id")
    }, Some(s"""
      SELECT doc_id,
        len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
        CAST(len(regexp_extract_all(text, '${TA.BpePattern}')) AS BIGINT) AS bpe_tokens,
        length(text) AS n_chars_calc
      FROM documents ORDER BY doc_id""")),

    // ----- text: quality scoring -----------------------------------------
    ("q17_text_quality", (s: SparkSession, dir: String) => {
      import s.implicits._
      val n = length($"text")
      // char-class counts as primitive loops (CharClassCount kernels) —
      // the regex engine per character is scan-path overhead; semantics
      // (incl. multibyte-as-punct) pinned to the regexes in specs
      val alpha = graft.functions.CharClassCounts.alphaCount($"text")
      val punct = graft.functions.CharClassCounts.punctCount($"text")
      val toks = TA.tokens(lower($"text"))
      // stopword hits via the codegen'd join path (score_en), not a
      // per-token interpreted lambda — same counts, corpus-scale shape
      val swHits = col("score_en")
      TA.langScores(Tables.spread(Tables.t(s, dir, "documents")), "doc_id", "text").select(
          $"doc_id",
          n.as("n_chars_calc"),
          (alpha.cast("double") / n).as("alpha_ratio"),
          (punct.cast("double") / n).as("punct_ratio"),
          (swHits.cast("double") / size(toks)).as("stopword_ratio"),
          when(n < 60, "too_short")
            .when(swHits === 0, "no_stopwords")
            .otherwise("ok").as("quality_label"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
        length(text) AS n_chars_calc,
        CAST(len(regexp_extract_all(text, '[a-z]')) AS DOUBLE) / length(text) AS alpha_ratio,
        CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE) / length(text) AS punct_ratio,
        CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
          t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
          / len(string_split_regex(trim(lower(text)), '\s+')) AS stopword_ratio,
        CASE WHEN length(text) < 60 THEN 'too_short'
             WHEN len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               t -> t IN ('the','a','of','and','to','in','is'))) = 0 THEN 'no_stopwords'
             ELSE 'ok' END AS quality_label
      FROM documents ORDER BY doc_id""")),

    // ----- text: language ID (stopword-hit heuristic) --------------------
    ("q18_text_langid", (s: SparkSession, dir: String) => {
      import s.implicits._
      val scored = TA.langScores(Tables.spread(Tables.t(s, dir, "documents")), "doc_id", "text")
      val scores = TA.Stopwords.map { case (l, _) => l -> col(s"score_$l") }
      scored.select(
          ($"doc_id" +: scores.map { case (l, c) => c } :+
            TA.langPredict(scores).as("pred_lang") :+ $"lang"): _*)
        .orderBy("doc_id")
    }, Some {
      val scoreSql = TA.Stopwords.map { case (l, ws) =>
        val inList = ws.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t IN ($inList))) AS score_$l"
      }.mkString(",\n        ")
      val langs = TA.Stopwords.map(_._1).sorted
      val maxExpr = s"greatest(${langs.map("score_" + _).mkString(", ")})"
      val chain = langs.map(l => s"WHEN score_$l = $maxExpr THEN '$l'").mkString(" ")
      s"""
      WITH s AS (SELECT doc_id, lang,
        $scoreSql
        FROM documents)
      SELECT doc_id, ${langs.map("score_" + _).mkString(", ")},
        CASE WHEN $maxExpr = 0 THEN 'und' $chain ELSE 'und' END AS pred_lang, lang
      FROM s ORDER BY doc_id"""
    }),

    // ----- text: fingerprinting (md5 + min-shingle-hash) -----------------
    ("q19_text_fingerprint", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.spread(Tables.t(s, dir, "documents")).select(
          $"doc_id",
          TA.fingerprintMd5($"text").as("fp_md5"),
          TA.minShingleHash($"text", 5).as("min_shingle_hash"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH d AS (SELECT doc_id, $normSql AS norm FROM documents),
      a AS (SELECT doc_id, norm, string_split(norm, ' ') AS arr FROM d)
      SELECT doc_id, md5(norm) AS fp_md5,
        list_min(list_transform(range(1, greatest(len(arr) - 4, 1) + 1),
          i -> md5(array_to_string(arr[i:i+4], ' ')))) AS min_shingle_hash
      FROM a ORDER BY doc_id""")),

    // ----- token statistics: per-language distribution -------------------
    ("q43_token_stats", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.spread(Tables.t(s, dir, "documents"))
        .select($"lang", TA.wsTokenCount($"text").as("ws_tokens"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          min($"ws_tokens").cast("long").as("min_tokens"),
          max($"ws_tokens").cast("long").as("max_tokens"),
          expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY ws_tokens) AS BIGINT)").as("p50_tokens"),
          expr("CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY ws_tokens) AS BIGINT)").as("p90_tokens"))
        .orderBy("lang")
    }, Some("""
      WITH t AS (SELECT lang, len(string_split_regex(trim(text), '\s+')) AS ws_tokens FROM documents)
      SELECT lang, count(*) AS n_docs,
        CAST(min(ws_tokens) AS BIGINT) AS min_tokens,
        CAST(max(ws_tokens) AS BIGINT) AS max_tokens,
        CAST(quantile_disc(ws_tokens, 0.5) AS BIGINT) AS p50_tokens,
        CAST(quantile_disc(ws_tokens, 0.9) AS BIGINT) AS p90_tokens
      FROM t GROUP BY lang ORDER BY lang""")),

    // ----- generator/UDTF surface: lateral explode + re-aggregate --------
    ("q48_explode_tokens", (s: SparkSession, dir: String) => {
      import s.implicits._
      // document-frequency per (lang, token): posexplode is the generator
      // (UDTF-shaped) operator; the re-aggregation counts distinct docs.
      // Filtered to tokens seen in ≥ 25 docs to keep the result small.
      Tables.spread(Tables.t(s, dir, "documents"))
        .select($"lang", $"doc_id", posexplode(TA.tokens(lower($"text"))).as(Seq("pos", "tok")))
        .filter(length($"tok") >= 3)
        .groupBy($"lang", $"tok")
        .agg(countDistinct($"doc_id").as("doc_freq"),
          count(lit(1)).as("n_occurrences"),
          min($"pos").cast("long").as("min_pos"))
        .filter($"doc_freq" >= 25)
        .orderBy("lang", "tok")
    }, Some("""
      WITH t AS (SELECT lang, doc_id, pos - 1 AS pos, tok FROM (
        SELECT lang, doc_id,
          unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok,
          unnest(range(1, len(string_split_regex(trim(lower(text)), '\s+')) + 1)) AS pos
        FROM documents))
      SELECT lang, tok, count(DISTINCT doc_id) AS doc_freq,
        count(*) AS n_occurrences, CAST(min(pos) AS BIGINT) AS min_pos
      FROM t WHERE length(tok) >= 3
      GROUP BY lang, tok HAVING count(DISTINCT doc_id) >= 25
      ORDER BY lang, tok""")),

    // ----- text: TF-IDF term scoring (log-free, engine-exact) -------------
    ("q86_tfidf", (s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.spread(Tables.t(s, dir, "documents"))
      // corpus size as a 1-row scalar aggregate broadcast-cross-joined in
      // (the oracle's CROSS JOIN nd) — inside the DAG, not a driver-side
      // count() job that would scan the corpus once more at any scale
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      val toks = docs
        .select($"doc_id", explode(split(TA.normText($"text"), " ")).as("tok"))
        .filter($"tok" =!= "")
      val tf = toks.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      val df = toks.select($"doc_id", $"tok").distinct()
        .groupBy($"tok").agg(count(lit(1)).as("df"))
      // idf as the exact rational n_docs/df (log() differs across libm;
      // the ranking it induces is identical)
      val scored = tf.join(df, Seq("tok")).crossJoin(broadcast(nd))
        .select($"doc_id", $"tok", $"tf", $"df",
          (($"tf" * $"n_docs").cast("double") / $"df").as("score"))
      val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"tok".asc)
      scored.withColumn("rank", row_number().over(w)).filter($"rank" <= 5)
        .select($"doc_id", $"rank".cast("long").as("rank"), $"tok", $"tf", $"df", $"score")
        .orderBy("doc_id", "rank")
    }, Some(s"""
      WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
        FROM documents),
      tk AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
      df AS (SELECT tok, count(*) AS df
        FROM (SELECT DISTINCT doc_id, tok FROM tk) GROUP BY tok),
      nd AS (SELECT count(*) AS n_docs FROM documents),
      sc AS (SELECT doc_id, tok, tf, df,
          CAST(tf * n_docs AS DOUBLE) / df AS score
        FROM tf JOIN df USING (tok) CROSS JOIN nd),
      r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY score DESC, tok ASC) AS rank FROM sc)
      SELECT doc_id, rank, tok, tf, df, score
      FROM r WHERE rank <= 5 ORDER BY doc_id, rank""")),

    // ----- corpus quality: repetition signals (Gopher/C4 family) ---------
    ("q105_repetition_signals", (s: SparkSession, dir: String) => {
      import s.implicits._
      // duplicate-token fraction, top-token fraction and top-bigram
      // fraction per document: explode → two-phase hash aggregate; the
      // bigram stream is a lead() window partitioned per doc (parallel
      // across docs, no global state). All fractions are single IEEE
      // divisions of exact integer counts — bit-identical on any engine.
      val docs = Tables.spread(Tables.t(s, dir, "documents"))
      val toks = docs
        .select($"doc_id", posexplode(split(TA.normText($"text"), " ")).as(Seq("pos", "tok")))
        .filter($"tok" =!= "")
      val tf = toks.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("cnt"))
      val tokStats = tf.groupBy($"doc_id").agg(
        sum($"cnt").as("n_tokens"),
        count(lit(1)).as("n_distinct_tokens"),
        max($"cnt").as("top_tok_cnt"))
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      val bg = toks
        .withColumn("nxt", lead($"tok", 1).over(w))
        .filter($"nxt".isNotNull)
        .select($"doc_id", concat_ws(" ", $"tok", $"nxt").as("bg"))
        .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("cnt"))
      val bgStats = bg.groupBy($"doc_id").agg(
        sum($"cnt").as("n_bigrams"), max($"cnt").as("top_bg_cnt"))
      tokStats.join(bgStats, Seq("doc_id"), "left")
        .select($"doc_id", $"n_tokens", $"n_distinct_tokens",
          (($"n_tokens" - $"n_distinct_tokens").cast("double") / $"n_tokens")
            .as("dup_token_frac"),
          ($"top_tok_cnt".cast("double") / $"n_tokens").as("top_token_frac"),
          coalesce($"top_bg_cnt".cast("double") / $"n_bigrams", lit(0.0))
            .as("top_bigram_frac"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH t0 AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok,
          generate_subscripts(string_split($normSql, ' '), 1) AS pos
        FROM documents),
      toks AS (SELECT doc_id, pos, tok FROM t0 WHERE tok <> ''),
      tf AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
      ts AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
          count(*) AS n_distinct_tokens, max(cnt) AS top_tok_cnt
        FROM tf GROUP BY doc_id),
      led AS (SELECT doc_id, tok,
          lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM toks),
      bgf AS (SELECT doc_id, tok || ' ' || nxt AS bg, count(*) AS cnt
        FROM led WHERE nxt IS NOT NULL GROUP BY 1, 2),
      bs AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
          max(cnt) AS top_bg_cnt FROM bgf GROUP BY doc_id)
      SELECT doc_id, n_tokens, n_distinct_tokens,
        CAST(n_tokens - n_distinct_tokens AS DOUBLE) / n_tokens AS dup_token_frac,
        CAST(top_tok_cnt AS DOUBLE) / n_tokens AS top_token_frac,
        COALESCE(CAST(top_bg_cnt AS DOUBLE) / n_bigrams, 0.0) AS top_bigram_frac
      FROM ts LEFT JOIN bs USING (doc_id)
      ORDER BY doc_id""")),

    // Additions beyond the reference surface — corpus-QA operators
    // for the training-data pipeline story, each with a DuckDB oracle.

    // ----- tokenizer-coverage QA: top-V vocabulary + per-doc OOV ---------
    ("q114_vocab_oov", (s: SparkSession, dir: String) => {
      import s.implicits._
      TA.vocabOov(Tables.spread(Tables.t(s, dir, "documents")), topV = 16)
        .orderBy("doc_id")
    }, Some(s"""
      WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
        FROM documents),
      vocab AS (SELECT tok FROM (
        SELECT tok, count(*) AS freq FROM toks GROUP BY tok
        ORDER BY freq DESC, tok LIMIT 16))
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
      FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
      GROUP BY t.doc_id ORDER BY t.doc_id""")),

    // ----- unicode canonicalisation: NFC + accent strip ------------------
    // The corpus is ASCII, so the accented/decomposed forms are derived
    // deterministically in-query (translate / an appended combining acute)
    // and each engine normalises with its own kernel: graft's codegen'd
    // java.text.Normalizer expressions vs DuckDB strip_accents /
    // nfc_normalize. Map-only, zero shuffle — scan-rate at any corpus size.
    ("q116_unicode_normalize", (s: SparkSession, dir: String) => {
      import s.implicits._
      val accented = translate($"text", "aeiou", "áéíöü")
      val decomp = concat(substring($"text", 1, 10), lit("á"))
      Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id",
          UnicodeNormFns.stripAccents(accented).as("clean_text"),
          length(UnicodeNormFns.nfcNormalize(decomp)).cast("long").as("nfc_len"),
          length(decomp).cast("long").as("raw_len"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
        strip_accents(translate(text, 'aeiou', 'áéíöü')) AS clean_text,
        CAST(length(nfc_normalize(substring(text, 1, 10) || 'a' || chr(769))) AS BIGINT) AS nfc_len,
        CAST(length(substring(text, 1, 10) || 'a' || chr(769)) AS BIGINT) AS raw_len
      FROM documents ORDER BY doc_id""")),

    // ----- PII redaction: email/phone scrub with match accounting --------
    // PII is injected deterministically from doc_id (the corpus has none),
    // then both engines redact with the same regexes — kept to the
    // Java-regex/RE2 common subset (char classes, bounded repeats; no
    // backrefs or lookaround). Map-only, zero shuffle.
    ("q117_pii_redact", (s: SparkSession, dir: String) => {
      import s.implicits._
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phoneRe = "\\+1-[0-9]{3}-[0-9]{4}"
      Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", concat($"text", lit(" contact user"), $"doc_id",
          lit("@example.com or +1-555-"),
          lpad(($"doc_id" % 10000).cast("string"), 4, "0")).as("t"))
        .select($"doc_id",
          regexp_count($"t", lit(emailRe)).cast("long").as("n_emails"),
          regexp_count($"t", lit(phoneRe)).cast("long").as("n_phones"),
          regexp_replace(regexp_replace($"t", emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>").as("redacted"))
        .orderBy("doc_id")
    }, Some("""
      WITH aug AS (SELECT doc_id,
        text || ' contact user' || doc_id || '@example.com or +1-555-' ||
          lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(t, '\+1-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        regexp_replace(regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
          '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
      FROM aug ORDER BY doc_id""")),

    // ----- context-window chunking with overlap (W=32, S=24) -------------
    // Training-prep chunker: sliding token windows of size W at stride S.
    // Start positions are sequence(1, n, S) minus any window the previous
    // one already covers to end-of-doc (so every token is covered exactly
    // once per pass and no trailing chunk is a subset of its predecessor).
    // Pure per-row explode — map-side, no shuffle; the chunk table is the
    // natural pre-tokenization layout for packing (q106 consumes one).
    ("q118_doc_chunking", (s: SparkSession, dir: String) => {
      import s.implicits._
      val (w, st) = (32, 24)
      Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", split($"text", " ").as("a"))
        .select($"doc_id", $"a", size($"a").as("n"))
        .select($"doc_id", $"a", $"n", explode(expr(
          s"filter(sequence(1, n, $st), j -> j = 1 OR j + ${w - 1} <= n OR j - $st + ${w - 1} < n)"))
          .as("j"))
        .select($"doc_id", $"j".cast("long").as("chunk_start"),
          expr(s"slice(a, j, least($w, n - j + 1))").as("chunk"))
        .select($"doc_id", $"chunk_start",
          size($"chunk").cast("long").as("n_tokens"),
          md5(array_join($"chunk", " ")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_start")
    }, Some("""
      WITH base AS (SELECT doc_id, string_split(text, ' ') AS a,
          len(string_split(text, ' ')) AS n FROM documents),
      starts AS (SELECT doc_id, a, n, unnest(range(1, n + 1, 24)) AS j FROM base),
      keep AS (SELECT * FROM starts WHERE j = 1 OR j + 31 <= n OR j - 24 + 31 < n)
      SELECT doc_id, CAST(j AS BIGINT) AS chunk_start,
        CAST(len(list_slice(a, CAST(j AS INT), CAST(least(j + 31, n) AS INT))) AS BIGINT) AS n_tokens,
        md5(array_to_string(list_slice(a, CAST(j AS INT), CAST(least(j + 31, n) AS INT)), ' ')) AS chunk_hash
      FROM keep ORDER BY doc_id, chunk_start""")),

    // ----- Zipf rank-frequency fit over the token distribution -----------
    // Corpus-health diagnostic: least-squares slope of ln(freq) vs
    // ln(rank) over the top-64 tokens. Token counts are a two-phase hash
    // aggregate; the top-64 is TakeOrderedAndProject; the window runs over
    // a constant-bounded 64 rows. Per the q80 determinism rule, no
    // regr_* builtins (double accumulation order varies): ln values are
    // fixed to integer micro-lns via floor(v*1e6 + 0.5), all sums are
    // integer-exact, and one identical double formula runs on both
    // engines at the end.
    ("q119_zipf_fit", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select(explode(split($"text", " ")).as("tok"))
      val top = toks.groupBy($"tok").agg(count(lit(1)).as("f"))
        .orderBy($"f".desc, $"tok").limit(64)
      top
        .withColumn("r", row_number().over(Window.orderBy($"f".desc, $"tok")))
        .select(
          floor(log($"f".cast("double")) * 1e6 + 0.5).cast("long").as("lf"),
          floor(log($"r".cast("double")) * 1e6 + 0.5).cast("long").as("lr"))
        .agg(count(lit(1)).as("n"), sum($"lr").as("sx"), sum($"lf").as("sy"),
          sum($"lr" * $"lr").as("sxx"), sum($"lr" * $"lf").as("sxy"),
          sum($"lf" * $"lf").as("syy"))
        .select($"n".cast("long").as("n_ranks"),
          round(
            (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
              ($"n" * $"sxx" - $"sx" * $"sx").cast("double")), 6).as("zipf_slope"),
          round(
            (($"n" * $"sxy" - $"sx" * $"sy").cast("double") *
              ($"n" * $"sxy" - $"sx" * $"sy").cast("double")) /
              (($"n" * $"sxx" - $"sx" * $"sx").cast("double") *
                ($"n" * $"syy" - $"sy" * $"sy").cast("double")), 6).as("zipf_r2"))
    }, Some("""
      WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      freq AS (SELECT tok, count(*) AS f FROM toks GROUP BY tok ORDER BY f DESC, tok LIMIT 64),
      ranked AS (SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS r FROM freq),
      fixed AS (SELECT CAST(floor(ln(CAST(f AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS lf,
          CAST(floor(ln(CAST(r AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS lr FROM ranked),
      sums AS (SELECT count(*) AS n, sum(lr) AS sx, sum(lf) AS sy,
          sum(lr * lr) AS sxx, sum(lr * lf) AS sxy, sum(lf * lf) AS syy FROM fixed)
      SELECT CAST(n AS BIGINT) AS n_ranks,
        round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
        round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE) /
          (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS zipf_r2
      FROM sums""")),

    // ----- unigram log-likelihood quality score (perplexity filtering) ---
    // CCNet-style signal: each doc's average negative log-likelihood
    // under the corpus's own unigram distribution — repetitive/templated
    // docs score low, rare-token noise scores high. The corpus total is
    // an in-DAG scalar aggregate broadcast into the frequency table (the
    // q86 rule: no driver-side count job); the token→logprob join keys
    // on the token, co-partitioned with the frequency aggregate. Per the
    // q80/q119 determinism rule the per-token ln is fixed to integer
    // micro-lns before the per-doc sum, so both engines aggregate exact
    // integers and divide once at the end.
    ("q121_unigram_logprob", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", explode(split(TA.normText($"text"), " ")).as("tok"))
      val freq = toks.groupBy($"tok").agg(count(lit(1)).as("f"))
      val tot = toks.agg(count(lit(1)).as("n"))
      val lp = freq.crossJoin(broadcast(tot))
        .select($"tok", floor(log($"f".cast("double") / $"n".cast("double")) * 1e6 + 0.5)
          .cast("long").as("lnp"))
      toks.join(lp, Seq("tok"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum($"lnp").as("s"))
        .select($"doc_id", $"n_tokens".cast("long").as("n_tokens"),
          round(-$"s".cast("double") / ($"n_tokens".cast("double") * 1e6), 6).as("avg_nll"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok FROM documents),
      freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY tok),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
      lp AS (SELECT tok, CAST(floor(ln(CAST(f AS DOUBLE) / n) * 1e6 + 0.5) AS BIGINT) AS lnp
        FROM freq CROSS JOIN tot),
      per AS (SELECT t.doc_id, count(*) AS n_tokens, sum(l.lnp) AS s
        FROM toks t JOIN lp l ON t.tok = l.tok GROUP BY t.doc_id)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        round(-CAST(s AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1e6), 6) AS avg_nll
      FROM per ORDER BY doc_id""")),

    // ----- bigram conditional log-likelihood (order-2 LM scoring) --------
    // q121's order-2 sibling: each doc's average -ln p(tok | prev) under
    // the corpus's own bigram model. The denominator counts prev as a
    // CONTEXT (occurrences followed by anything — i.e. sum over tok of
    // bigram counts), so p is a true conditional distribution and every
    // doc bigram exists in the model by construction (trained on the
    // same corpus — no smoothing term needed). All joins are equi: model
    // assembly keys on the bigram's first token, scoring keys on the
    // bigram string; per the q80/q119 rule the ln is fixed to integer
    // micro-lns before the per-doc sum.
    ("q124_bigram_logprob", (s: SparkSession, dir: String) => {
      import s.implicits._
      val base = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", split(TA.normText($"text"), " ").as("a"))
        .filter(size($"a") >= 2)
      val inst = base.select($"doc_id", explode(expr(
        "transform(sequence(1, size(a) - 1), j -> named_struct(" +
          "'bg', array_join(slice(a, j, 2), ' '), 'prev', element_at(a, j)))")).as("x"))
        .select($"doc_id", $"x.bg".as("bg"), $"x.prev".as("prev"))
      val bfreq = inst.groupBy($"bg").agg(count(lit(1)).as("b"))
      val ufreq = inst.groupBy($"prev").agg(count(lit(1)).as("u"))
      val model = bfreq.join(ufreq, split($"bg", " ")(0) === $"prev")
        .select($"bg", floor(log($"b".cast("double") / $"u".cast("double")) * 1e6 + 0.5)
          .cast("long").as("lnp"))
      inst.join(model, Seq("bg"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum($"lnp").as("s"))
        .select($"doc_id", $"n_bigrams".cast("long").as("n_bigrams"),
          round(-$"s".cast("double") / ($"n_bigrams".cast("double") * 1e6), 6).as("avg_nll2"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS a FROM documents
        WHERE len(string_split($normSql, ' ')) >= 2),
      inst AS (SELECT doc_id,
          array_to_string(list_slice(a, CAST(j AS INT), CAST(j + 1 AS INT)), ' ') AS bg,
          a[CAST(j AS INT)] AS prev
        FROM (SELECT doc_id, a, unnest(range(1, len(a))) AS j FROM base)),
      bfreq AS (SELECT bg, CAST(count(*) AS BIGINT) AS b FROM inst GROUP BY bg),
      ufreq AS (SELECT prev, CAST(count(*) AS BIGINT) AS u FROM inst GROUP BY prev),
      model AS (SELECT bg, CAST(floor(ln(CAST(b AS DOUBLE) / u) * 1e6 + 0.5) AS BIGINT) AS lnp
        FROM bfreq JOIN ufreq ON string_split(bg, ' ')[1] = prev),
      per AS (SELECT i.doc_id, count(*) AS n_bigrams, sum(m.lnp) AS s
        FROM inst i JOIN model m ON i.bg = m.bg GROUP BY i.doc_id)
      SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        round(-CAST(s AS DOUBLE) / (CAST(n_bigrams AS DOUBLE) * 1e6), 6) AS avg_nll2
      FROM per ORDER BY doc_id""")),

    // ----- BPE merge-step statistics -------------------------------------
    // One iteration of byte-pair-encoding vocabulary induction: the
    // corpus-wide frequency of every adjacent character pair, weighted by
    // word frequency. The key scale property is the word-frequency
    // aggregate FIRST — pairs explode over the (bounded) vocabulary, not
    // over the corpus, so a 100 TB corpus costs one token aggregate plus
    // work proportional to |vocab|. Top-32 via TakeOrderedAndProject
    // (no global sort).
    ("q134_bpe_pairs", (s: SparkSession, dir: String) => {
      import s.implicits._
      val wf = Tables.spread(Tables.t(s, dir, "documents"))
        .select(explode(split(TA.normText($"text"), " ")).as("w"))
        .filter(length($"w") >= 2)
        .groupBy($"w").agg(count(lit(1)).as("f"))
      wf.select($"f", explode(expr(
          "transform(sequence(1, length(w) - 1), j -> substring(w, j, 2))")).as("pair"))
        .groupBy($"pair").agg(sum($"f").as("pair_count"))
        .orderBy($"pair_count".desc, $"pair")
        .limit(32)
        .select($"pair", $"pair_count")
    }, Some(s"""
      WITH toks AS (SELECT unnest(string_split($normSql, ' ')) AS w FROM documents),
      wf AS (SELECT w, count(*) AS f FROM toks WHERE len(w) >= 2 GROUP BY w),
      pairs AS (SELECT substr(w, CAST(j AS INT), 2) AS pair, f
        FROM wf, unnest(range(1, len(w))) AS t(j))
      SELECT pair, CAST(sum(f) AS BIGINT) AS pair_count FROM pairs
      GROUP BY pair ORDER BY pair_count DESC, pair LIMIT 32""")),

    // ----- boilerplate prefix clusters -----------------------------------
    // Crawl-dedup heuristic: documents sharing their first five normalized
    // words verbatim are usually template instances (mirrors, generated
    // pages). One hash aggregate keyed on the prefix string — the prefix
    // IS the blocking key, so the operator is a pure groupBy at any
    // corpus size; no pairwise anything.
    ("q137_prefix_clusters", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id",
          array_join(slice(split(TA.normText($"text"), " "), 1, 5), " ").as("prefix5"))
        .groupBy($"prefix5")
        .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("keep_id"))
        .filter($"n_docs" > 1)
        .orderBy("keep_id")
    }, Some(s"""
      SELECT array_to_string(list_slice(string_split($normSql, ' '), 1, 5), ' ') AS prefix5,
        CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS keep_id
      FROM documents GROUP BY prefix5 HAVING count(*) > 1 ORDER BY keep_id""")),

    // ----- count-min sketch (mergeable frequency estimation) -------------
    // The frequency counterpart to the KMV distinct sketch (q53): a
    // 4x1024 count-min sketch over the token stream, built as ONE
    // two-phase hash aggregate on (row, bucket) — the sketch is 4096
    // integers regardless of corpus size, so the reduce side is
    // constant and the merged sketch broadcasts for probing. The audit
    // joins the 16 hottest tokens (exact counts) against the broadcast
    // sketch and reports estimate minus exact — CMS never undercounts,
    // so overshoot >= 0 is a structural invariant the oracle pins
    // per-token. Hashes are md5-derived (row-salted), deterministic
    // cross-engine.
    ("q155_countmin_sketch", (s: SparkSession, dir: String) => {
      import s.implicits._
      def bkt(r: Int, t: Column): Column =
        conv(substring(md5(concat(lit(r.toString), lit("|"), t)), 1, 8), 16, 10)
          .cast("long") % 1024
      val buckets = (0 until 4).map(r => bkt(r, $"t"))
      val tok = Tables.spread(Tables.t(s, dir, "documents"))
        .select(explode(split(TA.normText($"text"), " ")).as("t"))
        .filter(length($"t") > 0)
      val sk = tok.select(posexplode(array(buckets: _*)).as(Seq("r", "b")))
        .groupBy($"r", $"b").agg(count(lit(1)).as("c"))
      val top = tok.groupBy($"t").agg(count(lit(1)).as("exact_n"))
        .orderBy(desc("exact_n"), $"t").limit(16)
      top.select($"t", $"exact_n", posexplode(array(buckets: _*)).as(Seq("r", "b")))
        .join(broadcast(sk), Seq("r", "b"))
        .groupBy($"t", $"exact_n").agg(min($"c").as("cms_est"))
        .select($"t".as("token"), $"exact_n", $"cms_est",
          ($"cms_est" - $"exact_n").as("overshoot"))
        .orderBy(desc("exact_n"), $"token")
    }, Some(s"""
      WITH d AS (SELECT $normSql AS norm FROM documents),
      tok AS (SELECT t FROM (SELECT unnest(string_split(norm, ' ')) AS t FROM d)
        WHERE len(t) > 0),
      hx AS (SELECT t, r,
          ('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || t), 1, 8))::BIGINT % 1024 AS b
        FROM tok, (SELECT unnest(range(4)) AS r) _),
      sk AS (SELECT r, b, CAST(count(*) AS BIGINT) AS c FROM hx GROUP BY 1, 2),
      top AS (SELECT t, CAST(count(*) AS BIGINT) AS exact_n FROM tok
        GROUP BY 1 ORDER BY exact_n DESC, t LIMIT 16),
      pb AS (SELECT top.t, top.exact_n, r,
          ('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || top.t), 1, 8))::BIGINT % 1024 AS b
        FROM top, (SELECT unnest(range(4)) AS r) _)
      SELECT pb.t AS token, pb.exact_n, min(sk.c) AS cms_est,
        min(sk.c) - pb.exact_n AS overshoot
      FROM pb JOIN sk ON sk.r = pb.r AND sk.b = pb.b
      GROUP BY 1, 2 ORDER BY exact_n DESC, token""")),

    // ----- inverted index construction (token -> posting list) ----------
    // The retrieval-side primitive a corpus pipeline feeds: per token,
    // document frequency, total term frequency, and the head of the
    // doc-id-sorted posting list (truncated to 5 — posting heads are
    // what skip-pointer layouts materialize first). One explode + one
    // aggregate keyed on the token: collect_set is partial-aggregable
    // (ObjectHashAggregate), so map tasks emit per-token partial
    // postings and only token-grouped sets cross the shuffle; the
    // top-32-by-df report is TakeOrderedAndProject, never a global
    // sort. At 100 TB the same plan writes the full index
    // bucketBy(token) instead of taking the head.
    ("q156_inverted_index", (s: SparkSession, dir: String) => {
      import s.implicits._
      val tok = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", explode(split(TA.normText($"text"), " ")).as("t"))
        .filter(length($"t") > 0)
      tok.groupBy($"t")
        .agg(countDistinct($"doc_id").as("df"), count(lit(1)).as("tf"),
          array_join(slice(sort_array(collect_set($"doc_id")), 1, 5), ",")
            .as("postings_head"))
        .orderBy(desc("df"), $"t").limit(32)
        .select($"t".as("token"), $"df", $"tf", $"postings_head")
    }, Some(s"""
      WITH d AS (SELECT doc_id, $normSql AS norm FROM documents),
      tok AS (SELECT doc_id, t FROM
        (SELECT doc_id, unnest(string_split(norm, ' ')) AS t FROM d)
        WHERE len(t) > 0)
      SELECT t AS token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
        CAST(count(*) AS BIGINT) AS tf,
        array_to_string(list_sort(list(DISTINCT doc_id))[1:5], ',') AS postings_head
      FROM tok GROUP BY 1 ORDER BY df DESC, token LIMIT 32""")),

    // ----- character-entropy quality signal --------------------------------
    // The compression-proxy quality filter (low character entropy =
    // boilerplate / repetition / key-mashing; used alongside q17's
    // ratio signals and q105's repetition rates): per-doc Shannon
    // entropy over the character distribution, H = ln n − (1/n)·Σ c·ln c,
    // kept integral by the micro-ln convention (q119 rule) and emitted
    // UNNORMALIZED as h_scaled = n·⌊ln n·10⁶⌉ − Σ c·⌊ln c·10⁶⌉ plus the
    // per-char integer division — exact integers end to end. One
    // explode + one two-phase (doc, char) aggregate + one per-doc
    // aggregate, all partitioned by doc id; nothing global. (The corpus
    // is BMP-only, so Spark's code-unit split and DuckDB's codepoint
    // split segment identically — the q23 precedent.)
    ("q169_char_entropy", (s: SparkSession, dir: String) => {
      import s.implicits._
      val lnMicro = (c: Column) =>
        floor(log(c.cast("double")) * 1000000 + 0.5).cast("long")
      val cnt = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", explode(split($"text", "")).as("ch"))
        .filter(length($"ch") > 0)
        .groupBy($"doc_id", $"ch").agg(count(lit(1)).as("c"))
      cnt.groupBy($"doc_id")
        .agg(sum($"c").as("n"), count(lit(1)).as("n_distinct_chars"),
          sum($"c" * lnMicro($"c")).as("sum_c_lnc"))
        // clamped at 0: exact entropy is ≥ 0 but the ±0.5µ ln rounding
        // could dip a degenerate doc below it, and Spark's div truncates
        // where DuckDB's // floors — non-negative operands sidestep that
        .select($"doc_id", $"n", $"n_distinct_chars",
          greatest($"n" * lnMicro($"n") - $"sum_c_lnc", lit(0L)).as("h_scaled"))
        .withColumn("h_micro_per_char", expr("h_scaled div n"))
        .orderBy("doc_id")
    }, Some("""
      WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
      cnt AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
        FROM ch WHERE length(ch) > 0 GROUP BY 1, 2),
      agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS n_distinct_chars,
          CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_c_lnc
        FROM cnt GROUP BY 1),
      h AS (SELECT doc_id, n, n_distinct_chars,
          greatest(n * CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) - sum_c_lnc,
            0) AS h_scaled
        FROM agg)
      SELECT doc_id, n, n_distinct_chars, h_scaled,
        CAST(h_scaled // n AS BIGINT) AS h_micro_per_char
      FROM h ORDER BY doc_id""")),

    // ----- tokenizer fertility (tokens-per-word economics) ---------------
    // The cost model a tokenizer choice sets: BPE-ish tokens per
    // whitespace word ("fertility") and characters per BPE token, per
    // source — the statistics that price a corpus in compute before any
    // training run. Pure map + one aggregate (both token counters are
    // single-pass regex/char kernels); micro-integer ratios at the gate.
    ("q189_tokenizer_fertility", (s: SparkSession, dir: String) => {
      import s.implicits._
      Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", TA.wsTokenCount($"text").cast("long").as("ws"),
          TA.bpeTokenCount($"text").cast("long").as("bpe"),
          length($"text").cast("long").as("chars"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"ws").as("ws_tokens"),
          sum($"bpe").as("bpe_tokens"), sum($"chars").as("n_chars"))
        .select($"source", $"n_docs", $"ws_tokens", $"bpe_tokens", $"n_chars",
          expr("(1000000 * bpe_tokens) div ws_tokens").as("fertility_micro"),
          expr("(1000000 * n_chars) div bpe_tokens").as("chars_per_bpe_micro"))
        .orderBy($"source")
    }, Some(s"""
      WITH t AS (SELECT source,
          CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws,
          CAST(len(regexp_extract_all(text, '${TA.BpePattern}')) AS BIGINT) AS bpe,
          CAST(length(text) AS BIGINT) AS chars
        FROM documents),
      a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(ws) AS BIGINT) AS ws_tokens, CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
          CAST(sum(chars) AS BIGINT) AS n_chars
        FROM t GROUP BY 1)
      SELECT source, n_docs, ws_tokens, bpe_tokens, n_chars,
        (1000000 * bpe_tokens) // ws_tokens AS fertility_micro,
        (1000000 * n_chars) // bpe_tokens AS chars_per_bpe_micro
      FROM a ORDER BY source""")),

    // ----- windowed type-token ratio (lexical diversity) ----------------
    // The vocabulary-richness quality signal raw TTR can't give (it
    // decays with length): TTR per NON-OVERLAPPING 50-token window,
    // full windows only (the q118 subset-free tail rule), averaged per
    // doc in micro units. One explode with positions, one (doc, window)
    // aggregate, one per-doc rollup — every shuffle keys on the doc, so
    // the operator runs at token-scan cost at any corpus size. Docs
    // shorter than one full window drop out (they have no defined
    // windowed TTR).
    ("q193_window_ttr", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", posexplode(split(TA.normText($"text"), " ")))
        .select($"doc_id", expr("pos div 50").as("win"), $"col".as("tok"))
      toks.groupBy($"doc_id", $"win")
        .agg(count(lit(1)).as("n_toks"), countDistinct($"tok").as("n_types"))
        .filter($"n_toks" === 50)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_windows"), sum($"n_types").as("types_sum"))
        .select($"doc_id", $"n_windows", $"types_sum",
          expr("(1000000 * types_sum) div (50 * n_windows)").as("ttr_micro"))
        .orderBy($"doc_id")
    }, Some(s"""
      WITH toks AS (SELECT doc_id, (t.i - 1) // 50 AS win, arr[t.i] AS tok
        FROM (SELECT doc_id, string_split($normSql, ' ') AS arr FROM documents),
          unnest(range(1, len(arr) + 1)) AS t(i)),
      w AS (SELECT doc_id, win, CAST(count(*) AS BIGINT) AS n_toks,
          CAST(count(DISTINCT tok) AS BIGINT) AS n_types
        FROM toks GROUP BY 1, 2)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        CAST(sum(n_types) AS BIGINT) AS types_sum,
        (1000000 * CAST(sum(n_types) AS BIGINT)) // (50 * CAST(count(*) AS BIGINT)) AS ttr_micro
      FROM w WHERE n_toks = 50 GROUP BY doc_id ORDER BY doc_id""")),

    // ----- PMI collocations (bigram pointwise mutual information) -------
    // The association statistic under SGNS embeddings: for the corpus's
    // most frequent bigrams, pmi = ln(p(ab)) − ln(p(a)) − ln(p(b)) as
    // three integer micro-lns (the q127 rule). The bigram and unigram
    // aggregates key on the gram; totals are in-DAG broadcast scalars;
    // the top-50 cut is one TakeOrdered. The f12 ≥ 5 support floor is
    // the standard collocation guard against PMI's low-count bias.
    ("q196_pmi_bigrams", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", split(TA.normText($"text"), " ").as("a"))
        .filter(size($"a") >= 2)
      val bi = toks.select(explode(expr(
          "transform(sequence(1, size(a) - 1), i -> struct(element_at(a, i) AS t1, element_at(a, i + 1) AS t2))"))
          .as("b"))
        .select($"b.t1", $"b.t2")
        .groupBy($"t1", $"t2").agg(count(lit(1)).as("f12"))
      val uni = toks.select(explode($"a").as("t"))
        .groupBy($"t").agg(count(lit(1)).as("f"))
      val nBi = bi.agg(sum($"f12").as("n_bi"))
      val nUni = uni.agg(sum($"f").as("n_uni"))
      bi.filter($"f12" >= 5)
        .join(uni.select($"t".as("t1"), $"f".as("f1")), Seq("t1"))
        .join(uni.select($"t".as("t2"), $"f".as("f2")), Seq("t2"))
        .crossJoin(broadcast(nBi)).crossJoin(broadcast(nUni))
        .select($"t1", $"t2", $"f12",
          (floor(log($"f12".cast("double") / $"n_bi".cast("double")) * 1e6 + 0.5).cast("long")
            - floor(log($"f1".cast("double") / $"n_uni".cast("double")) * 1e6 + 0.5).cast("long")
            - floor(log($"f2".cast("double") / $"n_uni".cast("double")) * 1e6 + 0.5).cast("long"))
            .as("pmi_micro"))
        .orderBy(desc("f12"), $"t1", $"t2")
        .limit(50)
    }, Some(s"""
      WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS a FROM documents
        WHERE len(string_split($normSql, ' ')) >= 2),
      bi AS (SELECT a[i] AS t1, a[i + 1] AS t2, CAST(count(*) AS BIGINT) AS f12
        FROM base, unnest(range(1, len(a))) AS t(i) GROUP BY 1, 2),
      uni AS (SELECT tok AS t, CAST(count(*) AS BIGINT) AS f
        FROM (SELECT unnest(a) AS tok FROM base) GROUP BY 1),
      nb AS (SELECT CAST(sum(f12) AS BIGINT) AS n_bi FROM bi),
      nu AS (SELECT CAST(sum(f) AS BIGINT) AS n_uni FROM uni)
      SELECT b.t1, b.t2, b.f12,
        CAST(floor(ln(CAST(b.f12 AS DOUBLE) / nb.n_bi) * 1e6 + 0.5) AS BIGINT)
          - CAST(floor(ln(CAST(u1.f AS DOUBLE) / nu.n_uni) * 1e6 + 0.5) AS BIGINT)
          - CAST(floor(ln(CAST(u2.f AS DOUBLE) / nu.n_uni) * 1e6 + 0.5) AS BIGINT) AS pmi_micro
      FROM bi b JOIN uni u1 ON b.t1 = u1.t JOIN uni u2 ON b.t2 = u2.t
      CROSS JOIN nb CROSS JOIN nu
      WHERE b.f12 >= 5
      ORDER BY b.f12 DESC, b.t1, b.t2 LIMIT 50""")),

    // Bounded-summary aggregation — distributed top-k with
    // a deterministic error certificate (the Misra-Gries/shard-summary
    // merge every 100 TB "top terms" dashboard actually runs on), and the
    // vocabulary-size coverage curve (the tokenizer-sizing table).

    // ----- pruned top-k merge with deterministic error bound --------------
    // Exact global GROUP BY on a 100 TB token stream is a full shuffle;
    // the production shape keeps only each shard's top-k summary
    // (map-side bounded — WindowGroupLimit) and merges those. The price
    // is bounded, not unknown: a token absent from shard s's summary has
    // true shard count ≤ th_s (the k-th kept count there), so
    //   est(t) ≤ exact(t) ≤ est(t) + Σ_{s ∉ kept(t)} th_s
    //         = est(t) + (Σ_s th_s − Σ_{s ∈ kept(t)} th_s).
    // This operator computes the merged estimate AND that certificate
    // next to the exact count for the global top-10 — the audit that
    // tells an operator whether k=32 was big enough (within_bound is
    // the invariant; ub − est is the useful slack number). The merge
    // stage touches Σ_s k rows, never the corpus; shards with fewer
    // than k distinct items contribute th_s = 0 (their summary is
    // lossless), which keeps the bound tight. Items are 3-gram SHINGLES
    // (the q202 universe, ~16k types at sf0.01) — the word vocabulary
    // of the synthetic corpus is ~31 types, which every shard summary
    // holds losslessly and the certificate would never be exercised.
    ("q214_pruned_topk_merge", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", explode(shingleOccurrences($"text")).as("tok"))
        .localCheckpoint() // summary branch + exact-audit branch
      val local = toks.groupBy($"source", $"tok").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy($"source").orderBy(desc("c"), $"tok")
      val kept = local.withColumn("rn", row_number().over(w)).filter($"rn" <= 32)
      val ths = kept.groupBy($"source")
        .agg(coalesce(min(when($"rn" === 32, $"c")), lit(0L)).as("th"))
      val tsum = ths.agg(sum($"th").as("tsum"))
      val merged = kept.join(broadcast(ths), "source")
        .groupBy($"tok")
        .agg(sum($"c").as("est"), sum($"th").as("th_kept"))
      val exactTop = toks.groupBy($"tok").agg(count(lit(1)).as("exact"))
        .orderBy(desc("exact"), $"tok").limit(10)
      exactTop.join(merged, Seq("tok"), "left")
        .na.fill(0L, Seq("est", "th_kept"))
        .crossJoin(broadcast(tsum))
        .select($"tok", $"exact", $"est",
          ($"est" + $"tsum" - $"th_kept").as("ub"),
          when($"est" <= $"exact" && $"exact" <= $"est" + $"tsum" - $"th_kept", 1L)
            .otherwise(0L).as("within_bound"))
        .orderBy(desc("exact"), $"tok")
    }, Some(s"""
      WITH d AS (SELECT source, string_split($normSql, ' ') AS arr FROM documents),
      toks AS (SELECT source, unnest(list_transform(range(1, greatest(len(arr) - 2, 1) + 1),
        i -> array_to_string(arr[i:i+2], ' '))) AS tok FROM d),
      local_c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY 1, 2),
      ranked AS (SELECT source, tok, c,
          row_number() OVER (PARTITION BY source ORDER BY c DESC, tok) AS rn
        FROM local_c),
      kept AS (SELECT source, tok, c, rn FROM ranked WHERE rn <= 32),
      ths AS (SELECT source,
          CAST(coalesce(min(CASE WHEN rn = 32 THEN c END), 0) AS BIGINT) AS th
        FROM kept GROUP BY 1),
      tsum AS (SELECT CAST(sum(th) AS BIGINT) AS tsum FROM ths),
      merged AS (SELECT k.tok, CAST(sum(k.c) AS BIGINT) AS est,
          CAST(sum(t.th) AS BIGINT) AS th_kept
        FROM kept k JOIN ths t ON t.source = k.source GROUP BY 1),
      exact_top AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact
        FROM toks GROUP BY 1 ORDER BY exact DESC, tok LIMIT 10)
      SELECT e.tok, e.exact, CAST(coalesce(m.est, 0) AS BIGINT) AS est,
        CAST(coalesce(m.est, 0) + ts.tsum - coalesce(m.th_kept, 0) AS BIGINT) AS ub,
        CAST(CASE WHEN coalesce(m.est, 0) <= e.exact
          AND e.exact <= coalesce(m.est, 0) + ts.tsum - coalesce(m.th_kept, 0)
          THEN 1 ELSE 0 END AS BIGINT) AS within_bound
      FROM exact_top e LEFT JOIN merged m ON m.tok = e.tok CROSS JOIN tsum ts
      ORDER BY e.exact DESC, e.tok""")),

    // ----- vocabulary-size coverage curve ---------------------------------
    // The phrase-table/cache-sizing table: what fraction of corpus
    // occurrences the top V types cover, for V in {1k, 2k, 4k, 8k}.
    // q114 audits ONE fixed vocabulary; this emits the CURVE a size
    // decision is read off of (coverage saturates where the Zipf tail
    // begins — q119's fit says where). Types are 3-gram shingles (the
    // only universe in the synthetic corpus rich enough to show a
    // curve; for a real corpus the same query runs over BPE types).
    // Ranking runs over the VOCABULARY (distinct types, orders below
    // the corpus — the value-grid convention), never over token rows;
    // the V sweep is a conditional aggregate over that grid. At
    // 100 TB: one count aggregate + a vocab-sized sort, the same cost
    // class as building the vocabulary at all.
    ("q215_vocab_coverage_curve", (s: SparkSession, dir: String) => {
      import s.implicits._
      val freq = Tables.spread(Tables.t(s, dir, "documents"))
        .select(explode(shingleOccurrences($"text")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("f"))
      // distributed vocab rank (r14; was a single-partition window over
      // the whole vocabulary): GridRank range-buckets on f and produces
      // bit-identical row numbers with bounded per-task state
      val ranked = graft.ext.GridRank.withRowNumber(
        freq, "f", Seq($"tok"), "rnk", descending = true)
      val tot = freq.agg(sum($"f").as("total"), count(lit(1)).as("n_vocab"))
      ranked.select(explode(array(Seq(1000L, 2000L, 4000L, 8000L).map(lit): _*))
          .as("vocab_size"), $"rnk", $"f")
        .groupBy($"vocab_size")
        .agg(sum(when($"rnk" <= $"vocab_size", $"f").otherwise(0L)).as("covered"))
        .crossJoin(broadcast(tot))
        .select($"vocab_size", $"n_vocab", $"total", $"covered",
          expr("(1000000 * covered) div total").as("coverage_micro"))
        .orderBy("vocab_size")
    }, Some(s"""
      WITH d AS (SELECT string_split($normSql, ' ') AS arr FROM documents),
      toks AS (SELECT unnest(list_transform(range(1, greatest(len(arr) - 2, 1) + 1),
        i -> array_to_string(arr[i:i+2], ' '))) AS tok FROM d),
      freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY 1),
      ranked AS (SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS rnk FROM freq),
      tot AS (SELECT CAST(sum(f) AS BIGINT) AS total,
          CAST(count(*) AS BIGINT) AS n_vocab FROM freq),
      v AS (SELECT unnest([1000, 2000, 4000, 8000]) AS vocab_size)
      SELECT CAST(v.vocab_size AS BIGINT) AS vocab_size, t.n_vocab, t.total,
        CAST(sum(CASE WHEN r.rnk <= v.vocab_size THEN r.f ELSE 0 END) AS BIGINT) AS covered,
        (1000000 * CAST(sum(CASE WHEN r.rnk <= v.vocab_size THEN r.f ELSE 0 END) AS BIGINT)) // t.total AS coverage_micro
      FROM ranked r CROSS JOIN v CROSS JOIN tot t
      GROUP BY v.vocab_size, t.n_vocab, t.total ORDER BY vocab_size""")),

    // ----- exact phrase query via positional inverted index ---------------
    // The retrieval primitive BM25 (q182) can't express: EXACT phrase
    // match. The index is the postings table (tok, doc_id, pos) —
    // posexplode of the token array; a phrase query is an equi-join of
    // postings on (doc_id, pos+1 = pos) — each extra phrase word adds
    // one more join, always on the same co-partitioned (doc_id, pos)
    // key. The targets here are the corpus's top-3 bigrams (support
    // floor 5, the q196 guard), selected IN-DAG by a TakeOrdered over
    // the adjacency counts and broadcast into the postings join — so
    // the expensive side scans once whatever the phrase list is. The
    // spec cross-checks the index path against the direct
    // array-adjacency count: same numbers, two plans.
    ("q232_phrase_query", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", split(TA.normText($"text"), " ").as("a"))
        .filter(size($"a") >= 2)
        .localCheckpoint() // feeds both the target miner and the postings
      val post = toks.select($"doc_id", posexplode($"a").as(Seq("pos", "tok")))
      val targets = toks.select(explode(expr(
          "transform(sequence(1, size(a) - 1), i -> struct(element_at(a, i) AS t1, element_at(a, i + 1) AS t2))"))
          .as("b"))
        .groupBy($"b.t1".as("t1"), $"b.t2".as("t2"))
        .agg(count(lit(1)).as("f12")).filter($"f12" >= 5)
        .orderBy(desc("f12"), $"t1", $"t2").limit(3)
      // phrase adjacency as a TRUE equi-join on (doc_id, pos) — a join
      // on doc_id alone with a residual pos filter would hash-match
      // whole documents against themselves (|tokens/doc|² comparisons);
      // keying on the successor position keeps it |tokens|-linear. The
      // broadcast target filters cut each postings side BEFORE the join.
      val tset1 = targets.select($"t1").distinct()
      val tset2 = targets.select($"t2").distinct()
      val lhs = post.toDF("doc_id", "p", "t1")
        .join(broadcast(tset1), Seq("t1"))
        .select($"doc_id", ($"p" + 1).as("pos"), $"t1")
      val rhs = post.toDF("doc_id", "pos", "t2")
        .join(broadcast(tset2), Seq("t2"))
      val hits = lhs.join(rhs, Seq("doc_id", "pos"))
        .join(broadcast(targets.select($"t1", $"t2")), Seq("t1", "t2"))
      hits.groupBy($"t1", $"t2")
        .agg(countDistinct($"doc_id").as("n_docs"), count(lit(1)).as("n_occ"))
        .orderBy(desc("n_occ"), $"t1", $"t2")
    }, Some(s"""
      WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS a FROM documents
        WHERE len(string_split($normSql, ' ')) >= 2),
      post AS (SELECT doc_id, a[i] AS tok, i AS pos
        FROM base, unnest(range(1, len(a) + 1)) AS t(i)),
      targets AS (SELECT a[i] AS t1, a[i + 1] AS t2, CAST(count(*) AS BIGINT) AS f12
        FROM base, unnest(range(1, len(a))) AS t(i)
        GROUP BY 1, 2 HAVING count(*) >= 5
        ORDER BY f12 DESC, t1, t2 LIMIT 3),
      hits AS (SELECT p1.tok AS t1, p2.tok AS t2, p1.doc_id
        FROM post p1 JOIN post p2 ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
        JOIN targets tg ON p1.tok = tg.t1 AND p2.tok = tg.t2)
      SELECT t1, t2, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        CAST(count(*) AS BIGINT) AS n_occ
      FROM hits GROUP BY 1, 2 ORDER BY n_occ DESC, t1, t2""")),

    // ----- TextTiling topic segmentation ----------------------------------
    // Per-document topic-boundary detection (Hearst's TextTiling, the
    // block-comparison form): adjacent 10-token windows compared by
    // vocabulary Jaccard at every full-window boundary; a boundary with
    // sim < 0.1 is a topic shift. Everything keys on (doc_id, win) —
    // window sets are distinct-token aggregates, the adjacency is a
    // TRUE (doc_id, win+1) equi-join (the q232 discipline), and the
    // boundary table reduces per doc. No global state: every shuffle
    // key includes doc_id, so 100 TB of documents segment
    // embarrassingly parallel. Chunking (q118) cuts at fixed offsets;
    // this cuts where the VOCABULARY says to — the difference between
    // packing and understanding.
    ("q236_text_tiling", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", posexplode(split(TA.normText($"text"), " ")).as(Seq("pos", "tok")))
        .withColumn("win", expr("pos div 10"))
      val winsz = toks.groupBy($"doc_id", $"win").agg(count(lit(1)).as("n_pos"))
        .filter($"n_pos" === 10)
      val wt = toks.select($"doc_id", $"win", $"tok").distinct()
        .join(winsz.select($"doc_id", $"win"), Seq("doc_id", "win"))
      val sz = wt.groupBy($"doc_id", $"win").agg(count(lit(1)).as("sz"))
      val inter = wt.toDF("doc_id", "w2", "tok")
        .select($"doc_id", ($"w2" - 1).as("win"), $"tok")
        .join(wt, Seq("doc_id", "win", "tok"))
        .groupBy($"doc_id", $"win").agg(count(lit(1)).as("inter"))
      val bounds = sz.toDF("doc_id", "win", "sz_a")
        .join(sz.toDF("doc_id", "w2", "sz_b")
          .select($"doc_id", ($"w2" - 1).as("win"), $"sz_b"), Seq("doc_id", "win"))
        .join(inter, Seq("doc_id", "win"), "left").na.fill(0L, Seq("inter"))
        .select($"doc_id", $"win",
          expr("(1000000 * inter) div (sz_a + sz_b - inter)").as("sim_micro"))
      bounds.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bounds"),
          expr("sum(sim_micro) div count(1)").as("mean_sim_micro"),
          sum(when($"sim_micro" < 100000, 1L).otherwise(0L)).as("n_shifts"))
        .orderBy($"doc_id")
    }, Some(s"""
      WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS a FROM documents),
      toks AS (SELECT doc_id, a[i] AS tok, (i - 1) // 10 AS win
        FROM base, unnest(range(1, len(a) + 1)) AS t(i)),
      winsz AS (SELECT doc_id, win FROM toks GROUP BY 1, 2 HAVING count(*) = 10),
      wt AS (SELECT DISTINCT t.doc_id, t.win, t.tok FROM toks t
        JOIN winsz w ON t.doc_id = w.doc_id AND t.win = w.win),
      sz AS (SELECT doc_id, win, CAST(count(*) AS BIGINT) AS sz FROM wt GROUP BY 1, 2),
      inter AS (SELECT l.doc_id, l.win, CAST(count(*) AS BIGINT) AS inter
        FROM (SELECT doc_id, win - 1 AS win, tok FROM wt) l
        JOIN wt r ON l.doc_id = r.doc_id AND l.win = r.win AND l.tok = r.tok
        GROUP BY 1, 2),
      bounds AS (SELECT a.doc_id, a.win,
          (1000000 * coalesce(i.inter, 0)) // (a.sz + b.sz - coalesce(i.inter, 0)) AS sim_micro
        FROM sz a JOIN (SELECT doc_id, win - 1 AS win, sz FROM sz) b
          ON a.doc_id = b.doc_id AND a.win = b.win
        LEFT JOIN inter i ON a.doc_id = i.doc_id AND a.win = i.win)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bounds,
        CAST(sum(sim_micro) // count(*) AS BIGINT) AS mean_sim_micro,
        CAST(sum(CASE WHEN sim_micro < 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_shifts
      FROM bounds GROUP BY doc_id ORDER BY doc_id""")),

    // ----- cross-source LM cross-entropy matrix ---------------------------
    // The LM-space complement of q194's set-space source matrix: train
    // an add-one-smoothed unigram model on every source, evaluate every
    // source under every model — H(B‖A) = −Σ_t p_B(t)·ln p̂_A(t), the
    // cross-entropy a CCNet-style perplexity filter would read. The
    // matrix keys on (model, corpus) pairs but the join is TOKEN-wise:
    // B's count rows × |sources| grid, left-joined to A's counts (B
    // tokens unseen by A take the smoothing floor 1/(n_A+V)). Work is
    // |vocab|·|sources|² at worst — vocab-bounded, never corpus² — and
    // the models are count aggregates, so at 100 TB they maintain
    // incrementally. The diagonal is each source's self-entropy; a row
    // whose off-diagonal dips BELOW its diagonal has found a source
    // that compresses it better than itself — the duplication smell.
    ("q240_lm_cross_entropy", (s: SparkSession, dir: String) => {
      import s.implicits._
      val st = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", explode(split(TA.normText($"text"), " ")).as("tok"))
      val cnt = st.groupBy($"source", $"tok").agg(count(lit(1)).as("n"))
        .localCheckpoint() // grid side + model side + totals
      val totals = cnt.groupBy($"source").agg(sum($"n").as("nt"))
      val vocab = cnt.agg(countDistinct($"tok").as("v"))
      val grid = cnt.toDF("src_b", "tok", "n_b")
        .crossJoin(totals.select($"source".as("src_a"), $"nt".as("nt_a")))
        .crossJoin(broadcast(vocab))
      val withModel = grid
        .join(cnt.toDF("src_a", "tok", "n_a"), Seq("src_a", "tok"), "left")
        .na.fill(0L, Seq("n_a"))
        .withColumn("l_a",
          floor(log(($"n_a" + 1).cast("double") / ($"nt_a" + $"v").cast("double"))
            * 1e6 + 0.5).cast("long"))
      withModel.groupBy($"src_a", $"src_b")
        .agg(sum($"n_b" * $"l_a").as("s"), count(lit(1)).as("n_terms"))
        .join(totals.select($"source".as("src_b"), $"nt".as("nt_b")), Seq("src_b"))
        .select($"src_a".as("model_src"), $"src_b".as("eval_src"), $"n_terms",
          expr("(-s) div nt_b").as("ce_micro"))
        .orderBy($"model_src", $"eval_src")
    }, Some(s"""
      WITH st AS (SELECT source, unnest(string_split($normSql, ' ')) AS tok FROM documents),
      cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS n FROM st GROUP BY 1, 2),
      totals AS (SELECT source, CAST(sum(n) AS BIGINT) AS nt FROM cnt GROUP BY 1),
      vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM cnt),
      grid AS (SELECT b.source AS src_b, b.tok, b.n AS n_b,
          ta.source AS src_a, ta.nt AS nt_a, vocab.v
        FROM cnt b CROSS JOIN totals ta CROSS JOIN vocab),
      wm AS (SELECT g.src_a, g.src_b, g.n_b,
          CAST(floor(ln(CAST(coalesce(a.n, 0) + 1 AS DOUBLE)
            / CAST(g.nt_a + g.v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS l_a
        FROM grid g LEFT JOIN cnt a ON g.src_a = a.source AND g.tok = a.tok)
      SELECT wm.src_a AS model_src, wm.src_b AS eval_src,
        CAST(count(*) AS BIGINT) AS n_terms,
        CAST((-sum(wm.n_b * wm.l_a)) // max(tb.nt) AS BIGINT) AS ce_micro
      FROM wm JOIN totals tb ON wm.src_b = tb.source
      GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Tokenizer induction (BPE merges), training-sequence
    // packing, corpus snapshot diff, content-defined chunk dedup,
    // boilerplate-block detection, and capped water-filling budget
    // allocation — the tokenizer/packing/versioning slice of the
    // training-data pipeline.
    //
    // House rules as elsewhere: integer arithmetic at every gate, 128-bit
    // (DECIMAL(38,0)/HUGEINT) cross-products where products of corpus
    // counts appear, identical aliases both sides, total ORDER BY.

    // ----- BPE tokenizer induction: first 3 merges ------------------------
    // Byte-pair-encoding vocabulary induction, the word-count
    // formulation every production tokenizer trainer uses (Sennrich
    // 2016; HF tokenizers): the ONLY corpus-sized pass is the word
    // frequency aggregate — every merge round then works on the melted
    // (word, pos, symbol) table, whose size is Σ|word| over the DISTINCT
    // vocabulary, not the corpus. Each round: pair weights via one lead
    // window + one aggregate, top pair by (weight desc, pair lex), then
    // the greedy left-to-right in-word merge as gaps-and-islands (runs
    // of consecutive matches — only possible when pa == pb — keep odd
    // ranks; the following position is consumed). Round count is the
    // fixed k = 3, driver-composed with a localCheckpoint barrier per
    // round, data never leaves the DAG. At 100 TB the word-count pass
    // maintains incrementally and the merge loop's input is vocabulary-
    // bounded (millions of rows, not corpus-bounded) — this is exactly
    // why tokenizer training is feasible on web-scale corpora.
    ("q245_bpe_merges", (s: SparkSession, dir: String) => {
      import s.implicits._
      val words = Tables.spread(Tables.t(s, dir, "documents"))
        .select(explode(split(TA.normText($"text"), " ")).as("w"))
        .filter(length($"w") > 0)
        .groupBy($"w").agg(count(lit(1)).as("wf"))
      var syms = words
        .select($"w", $"wf", explode(expr("sequence(1, length(w))")).as("pos"))
        .select($"w", $"wf", $"pos".cast("long").as("pos"),
          expr("substring(w, pos, 1)").as("sym"))
        .localCheckpoint()
      val wWin = Window.partitionBy($"w").orderBy($"pos")
      var out: DataFrame = null
      for (round <- 1 to 3) {
        val withNext = syms.withColumn("nxt", lead($"sym", 1).over(wWin))
        val top = withNext.filter($"nxt".isNotNull)
          .groupBy($"sym", $"nxt").agg(sum($"wf").as("weight"))
          .orderBy(desc("weight"), $"sym", $"nxt").limit(1)
          .select($"sym".as("pa"), $"nxt".as("pb"), $"weight")
        val m = withNext.crossJoin(broadcast(top))
          .withColumn("mat",
            ($"sym" === $"pa" && $"nxt" === $"pb").cast("int"))
          .withColumn("mrn", sum($"mat").over(wWin))
        val kept = m
          .withColumn("island", when($"mat" === 1, $"pos" - $"mrn"))
          .withColumn("rim", $"mrn" -
            min(when($"mat" === 1, $"mrn"))
              .over(Window.partitionBy($"w", $"island")) + 1)
          .withColumn("keep", $"mat" === 1 && $"rim" % 2 === 1)
        val merged = kept
          .withColumn("consumed",
            coalesce(lag($"keep", 1).over(wWin), lit(false)))
          .filter(!$"consumed")
          .select($"w", $"wf",
            row_number().over(wWin).cast("long").as("pos"),
            when($"keep", concat($"sym", $"nxt")).otherwise($"sym").as("sym"))
          .localCheckpoint()
        val vocabAfter = merged.agg(countDistinct($"sym").as("vocab_size"))
        val row = top.crossJoin(broadcast(vocabAfter))
          .select(lit(round.toLong).as("round"), $"pa".as("sym_a"),
            $"pb".as("sym_b"), $"weight", $"vocab_size")
        out = if (out == null) row else out.unionByName(row)
        syms = merged
      }
      out.orderBy($"round")
    }, Some(s"""
      WITH words AS (SELECT w, CAST(count(*) AS BIGINT) AS wf FROM
          (SELECT unnest(string_split($normSql, ' ')) AS w FROM documents)
        WHERE len(w) > 0 GROUP BY 1),
      s0 AS (SELECT w, wf, CAST(i AS BIGINT) AS pos,
          substr(w, CAST(i AS INT), 1) AS sym
        FROM words, unnest(range(1, len(w) + 1)) AS t(i)),
      ${bpeRoundSql(1)},
      ${bpeRoundSql(2)},
      ${bpeRoundSql(3)}
      SELECT * FROM o1 UNION ALL SELECT * FROM o2 UNION ALL SELECT * FROM o3
      ORDER BY round""")),

    // ----- boilerplate block detection ------------------------------------
    // The CCNet-style boilerplate screen re-expressed for a corpus with
    // no line structure: non-overlapping 3-token blocks (the block size
    // is a dial; 3 keeps the block space small enough that the
    // generator's vocabulary actually produces cross-document repeats at
    // test SF — on web text it would be a sentence or line hash), a
    // block is boilerplate within a source when it appears in ≥ 2
    // distinct documents, and the audit reports how much of the corpus
    // the repeated blocks occupy plus the most-widespread block. All
    // aggregation is (source, block)-keyed — the classic duplicated-line
    // removal pass runs map-side per doc then one bounded groupBy, so
    // the shape survives 100 TB; the flagged set itself is what a
    // cleaning pass would broadcast back to strip.
    ("q249_boilerplate_blocks", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"source",
          posexplode(split(TA.normText($"text"), " ")).as(Seq("pos", "tok")))
        .filter(length($"tok") > 0)
        .withColumn("blk", expr("pos div 3"))
      val blocks = toks.groupBy($"doc_id", $"source", $"blk")
        .agg(count(lit(1)).as("n"),
          array_join(
            expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
            " ").as("content"))
        .filter($"n" === 3)
      val perContent = blocks.groupBy($"source", $"content")
        .agg(countDistinct($"doc_id").as("n_docs"), count(lit(1)).as("n_occ"))
      val flagged = perContent.filter($"n_docs" >= 2)
      val tops = flagged.withColumn("rn", row_number().over(
          Window.partitionBy($"source")
            .orderBy(desc("n_docs"), desc("n_occ"), $"content")))
        .filter($"rn" === 1).select($"source", $"content".as("top_block"))
      val boil = flagged.groupBy($"source")
        .agg(count(lit(1)).as("n_boiler_distinct"), sum($"n_occ").as("boiler_occ"))
      blocks.groupBy($"source").agg(count(lit(1)).as("n_blocks"))
        .join(boil, Seq("source"), "left")
        .join(tops, Seq("source"), "left")
        .select($"source", $"n_blocks",
          coalesce($"n_boiler_distinct", lit(0L)).as("n_boiler_distinct"),
          coalesce($"boiler_occ", lit(0L)).as("boiler_occ"),
          expr("1000000 * coalesce(boiler_occ, 0) div n_blocks")
            .as("boiler_share_micro"),
          coalesce($"top_block", lit("")).as("top_block"))
        .orderBy($"source")
    }, Some(s"""
      WITH base AS (SELECT doc_id, source, string_split($normSql, ' ') AS a
        FROM documents),
      toks AS (SELECT doc_id, source, CAST(i - 1 AS BIGINT) AS pos, a[i] AS tok,
          (i - 1) // 3 AS blk
        FROM base, unnest(range(1, len(a) + 1)) AS t(i) WHERE len(a[i]) > 0),
      blocks AS (SELECT doc_id, source, blk, CAST(count(*) AS BIGINT) AS n,
          string_agg(tok, ' ' ORDER BY pos) AS content
        FROM toks GROUP BY 1, 2, 3 HAVING count(*) = 3),
      pc AS (SELECT source, content,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
          CAST(count(*) AS BIGINT) AS n_occ
        FROM blocks GROUP BY 1, 2),
      flagged AS (SELECT * FROM pc WHERE n_docs >= 2),
      tops AS (SELECT source, content AS top_block FROM (
          SELECT *, row_number() OVER (PARTITION BY source
            ORDER BY n_docs DESC, n_occ DESC, content) AS rn FROM flagged)
        WHERE rn = 1),
      boil AS (SELECT source, CAST(count(*) AS BIGINT) AS n_boiler_distinct,
          CAST(sum(n_occ) AS BIGINT) AS boiler_occ FROM flagged GROUP BY 1),
      tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_blocks
        FROM blocks GROUP BY 1)
      SELECT t.source, t.n_blocks,
        coalesce(b.n_boiler_distinct, 0) AS n_boiler_distinct,
        coalesce(b.boiler_occ, 0) AS boiler_occ,
        1000000 * coalesce(b.boiler_occ, 0) // t.n_blocks AS boiler_share_micro,
        coalesce(p.top_block, '') AS top_block
      FROM tot t LEFT JOIN boil b ON t.source = b.source
      LEFT JOIN tops p ON t.source = p.source
      ORDER BY t.source""")),

    // ----- broadcast-gazetteer entity matching ----------------------------
    // Dictionary-driven entity tagging — the NER-without-a-model pass
    // every curation pipeline runs (gazetteer/keyword matching against
    // a controlled vocabulary): the dictionary is built from ANOTHER
    // table (the distinct words of part names), broadcast, and matched
    // against the token stream — so the corpus-sized side never
    // shuffles on content, only the per-source aggregate moves. Per
    // source: mention count, distinct entities hit, mention density,
    // and the dominant entity. At 100 TB the gazetteer (thousands to
    // millions of terms) still broadcasts or at worst bucket-joins on
    // the token — the corpus never re-partitions. The plan is pinned
    // to a broadcast join in the batch spec.
    ("q254_gazetteer_match", (s: SparkSession, dir: String) => {
      import s.implicits._
      val gaz = Tables.t(s, dir, "part")
        .select(explode(split(lower($"p_name"), " ")).as("entity"))
        .filter(length($"entity") > 0).distinct()
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", explode(split(TA.normText($"text"), " ")).as("tok"))
        .filter(length($"tok") > 0)
      val tot = toks.groupBy($"source").agg(count(lit(1)).as("n_tokens"))
      val hits = toks.join(broadcast(gaz), $"tok" === $"entity")
        .groupBy($"source", $"entity").agg(count(lit(1)).as("n"))
      val per = hits.groupBy($"source")
        .agg(sum($"n").as("n_mentions"), count(lit(1)).as("n_entities"))
      val top = hits.withColumn("rn", row_number().over(
          Window.partitionBy($"source").orderBy(desc("n"), $"entity")))
        .filter($"rn" === 1).select($"source", $"entity".as("top_entity"))
      tot.join(per, Seq("source"), "left").join(top, Seq("source"), "left")
        .select($"source", $"n_tokens",
          coalesce($"n_mentions", lit(0L)).as("n_mentions"),
          coalesce($"n_entities", lit(0L)).as("n_entities"),
          expr("1000000 * coalesce(n_mentions, 0) div n_tokens")
            .as("density_micro"),
          coalesce($"top_entity", lit("")).as("top_entity"))
        .orderBy($"source")
    }, Some(s"""
      WITH gaz AS (SELECT DISTINCT w AS entity FROM
          (SELECT unnest(string_split(lower(p_name), ' ')) AS w FROM part)
        WHERE len(w) > 0),
      toks AS (SELECT source, tok FROM
          (SELECT source, unnest(string_split($normSql, ' ')) AS tok
           FROM documents) WHERE len(tok) > 0),
      tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens
        FROM toks GROUP BY 1),
      hits AS (SELECT t.source, g.entity, CAST(count(*) AS BIGINT) AS n
        FROM toks t JOIN gaz g ON t.tok = g.entity GROUP BY 1, 2),
      per AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_mentions,
          CAST(count(*) AS BIGINT) AS n_entities FROM hits GROUP BY 1),
      top AS (SELECT source, entity AS top_entity FROM (
          SELECT *, row_number() OVER (PARTITION BY source
            ORDER BY n DESC, entity) AS rn FROM hits) WHERE rn = 1)
      SELECT t.source, t.n_tokens,
        coalesce(p.n_mentions, 0) AS n_mentions,
        coalesce(p.n_entities, 0) AS n_entities,
        1000000 * coalesce(p.n_mentions, 0) // t.n_tokens AS density_micro,
        coalesce(tp.top_entity, '') AS top_entity
      FROM tot t LEFT JOIN per p ON t.source = p.source
      LEFT JOIN top tp ON t.source = tp.source
      ORDER BY t.source""")),

    // ----- token burstiness (variance-to-mean ratio) ----------------------
    // Church & Gale: content words are BURSTY (a document that uses a
    // term uses it repeatedly), function words are Poisson-like. The
    // variance-to-mean ratio over per-document counts — zeros included,
    // via the identity VMR = (D·Σc² − T²)/(D·T) needing only the
    // docs-that-contain counts — separates the two, and is the signal
    // behind df-vs-tf weighting choices (q86/q182). Top-20 corpus
    // terms, ratios in micro, 128-bit products. One token aggregate +
    // one |vocab|-bounded rollup; D rides along as a broadcast scalar.
    ("q274_token_burstiness", (s: SparkSession, dir: String) => {
      import s.implicits._
      val perDoc = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", explode(split(TA.normText($"text"), " ")).as("tok"))
        .filter(length($"tok") > 0)
        .groupBy($"tok", $"doc_id").agg(count(lit(1)).as("c"))
      val d = Tables.t(s, dir, "documents").agg(count(lit(1)).as("nd"))
      val terms = perDoc.groupBy($"tok")
        .agg(sum($"c").as("t"), count(lit(1)).as("docs_with"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("sc2"))
      terms.crossJoin(broadcast(d))
        .withColumn("vmr_micro", expr(
          """CAST(1000000 * (CAST(nd AS DECIMAL(38,0)) * sc2
             - CAST(t AS DECIMAL(38,0)) * t)
             div (CAST(nd AS DECIMAL(38,0)) * t) AS BIGINT)"""))
        .orderBy(desc("t"), $"tok").limit(20)
        .select($"tok", $"t".as("total"), $"docs_with", $"vmr_micro")
        .orderBy(desc("total"), $"tok")
    }, Some(s"""
      WITH pd AS (SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS c FROM
          (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
           FROM documents)
        WHERE len(tok) > 0 GROUP BY 1, 2),
      d AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
      terms AS (SELECT tok, CAST(sum(c) AS BIGINT) AS t,
          CAST(count(*) AS BIGINT) AS docs_with,
          sum(CAST(c AS HUGEINT) * c) AS sc2
        FROM pd GROUP BY 1),
      top AS (SELECT * FROM terms CROSS JOIN d
        ORDER BY t DESC, tok LIMIT 20)
      SELECT tok, t AS total, docs_with,
        CAST(1000000 * (CAST(nd AS HUGEINT) * sc2 - CAST(t AS HUGEINT) * t)
          // (CAST(nd AS HUGEINT) * t) AS BIGINT) AS vmr_micro
      FROM top ORDER BY total DESC, tok""")),

    // ----- postings d-gap varint sizing -----------------------------------
    // The inverted-index storage model (q156 builds postings, this
    // prices them): sorted doc-id postings store DELTAS, and varint
    // bytes per delta depend on gap size — so high-df terms (dense
    // postings, small gaps) compress far better than rare terms. One
    // lag window per token (vocab-bounded partitions), a CASE ladder
    // for varint width, rolled up by df-band: bytes under d-gap varint
    // vs fixed 8-byte ids, the ratio a format/index designer reads
    // before choosing PForDelta vs plain. Companion to q255 (columns)
    // and q237 (runs) — the IR-side member of the storage family.
    ("q278_postings_dgap", (s: SparkSession, dir: String) => {
      import s.implicits._
      val post = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", explode(split(TA.normText($"text"), " ")).as("tok"))
        .filter(length($"tok") > 0)
        .select($"tok", $"doc_id").distinct()
      val w = Window.partitionBy($"tok").orderBy($"doc_id")
      val gaps = post
        .withColumn("prev", lag($"doc_id", 1).over(w))
        .withColumn("gap", coalesce($"doc_id" - $"prev", $"doc_id" + 1))
        .withColumn("vb",
          when($"gap" < 128, 1L).when($"gap" < 16384, 2L)
            .when($"gap" < 2097152, 3L).otherwise(4L))
      val perTok = gaps.groupBy($"tok")
        .agg(count(lit(1)).as("df"), sum($"vb").as("gap_bytes"))
      perTok
        .withColumn("df_band", expr(
          "CASE WHEN df >= 1000 THEN 'a_dense' WHEN df >= 100 THEN 'b_mid' ELSE 'c_rare' END"))
        .groupBy($"df_band")
        .agg(count(lit(1)).as("n_terms"), sum($"df").as("n_postings"),
          sum($"gap_bytes").as("gap_bytes"))
        .select($"df_band", $"n_terms", $"n_postings", $"gap_bytes",
          ($"n_postings" * 8L).as("fixed_bytes"),
          expr("1000000 * gap_bytes div (n_postings * 8)").as("ratio_micro"))
        .orderBy($"df_band")
    }, Some(s"""
      WITH post AS (SELECT DISTINCT tok, doc_id FROM
          (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
           FROM documents) WHERE len(tok) > 0),
      gaps AS (SELECT tok, doc_id,
          coalesce(doc_id - lag(doc_id) OVER (PARTITION BY tok ORDER BY doc_id),
            doc_id + 1) AS gap
        FROM post),
      vb AS (SELECT tok,
          CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
            WHEN gap < 2097152 THEN 3 ELSE 4 END AS vb
        FROM gaps),
      pt AS (SELECT tok, CAST(count(*) AS BIGINT) AS df,
          CAST(sum(vb) AS BIGINT) AS gap_bytes FROM vb GROUP BY 1),
      band AS (SELECT *, CASE WHEN df >= 1000 THEN 'a_dense'
          WHEN df >= 100 THEN 'b_mid' ELSE 'c_rare' END AS df_band FROM pt)
      SELECT df_band, CAST(count(*) AS BIGINT) AS n_terms,
        CAST(sum(df) AS BIGINT) AS n_postings,
        CAST(sum(gap_bytes) AS BIGINT) AS gap_bytes,
        CAST(sum(df) * 8 AS BIGINT) AS fixed_bytes,
        CAST(1000000 * sum(gap_bytes) // (sum(df) * 8) AS BIGINT) AS ratio_micro
      FROM band GROUP BY 1 ORDER BY 1""")),

    // Heaps'-law vocabulary-growth fit (the sizing law
    // q119's Zipf fit is dual to), lagged cross-correlation between two
    // event series (does one stream LEAD the other — the causal-ordering
    // read q287's ACF can't give), and an AMS F2 sketch with its exact
    // audit (the sketched self-join-size estimator behind q165's
    // exact forecaster).
    //
    // House rules as elsewhere: integer/128-bit arithmetic at every gate,
    // micro-ln per transcendental term, the identical final double
    // formula on both engines for fits/ratios, total ORDER BY.

    // ----- Heaps'-law vocabulary growth fit -------------------------------
    // V(N) ≈ K·N^β — how fast vocabulary grows with corpus size, THE
    // input to q215-style vocab sizing and BPE budget decisions (β≈0.5
    // for natural text; this generator's closed vocabulary should read
    // much lower — the diagnostic exists to catch exactly that). The
    // growth curve is measured at 16 doc_id-threshold checkpoints:
    // per-doc token totals and per-doc first-seen vocabulary gains
    // (min first_doc per token) collapse the corpus to |docs| metadata
    // rows ONCE, and the 16 checkpoint sums are a broadcast grid join
    // over that compacted table — no corpus-sized window, no
    // re-tokenization per checkpoint. Checkpoints are GEOMETRIC
    // (doc_id thresholds mxid >> (16−k)) — vocabulary growth lives at
    // the small end, and a linear grid on a closed vocabulary lands
    // every point on the plateau (y-variance exactly 0, the r² 0/0 —
    // found the hard way at sf0.01). The OLS runs over 16 micro-ln
    // points in exact integer sums (the q119 rule: no regr_* builtins),
    // with the identical final double formula on both engines; a
    // zero-variance plateau reads r² = 1 by the no-residual convention.
    ("q306_heaps_fit", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", explode(split(TA.normText($"text"), " ")).as("tok"))
        .localCheckpoint() // reused: per-doc totals + first-occurrence vocab
      val perDoc = toks.groupBy($"doc_id").agg(count(lit(1)).as("nt"))
      val firstSeen = toks.groupBy($"tok").agg(min($"doc_id").as("fd"))
        .groupBy($"fd").agg(count(lit(1)).as("nv"))
      val mx = perDoc.agg(max($"doc_id").as("mxid"))
      val grid = s.range(1, 17).select($"id".as("k"))
        .crossJoin(broadcast(mx))
        .select($"k", expr("shiftright(mxid, CAST(16 - k AS INT))").as("thr"))
      val nk = grid.join(perDoc, $"doc_id" <= $"thr")
        .groupBy($"k").agg(sum($"nt").as("nn"))
      val vk = grid.join(firstSeen, $"fd" <= $"thr")
        .groupBy($"k").agg(sum($"nv").as("vv"))
      nk.join(vk, Seq("k"))
        .select(
          floor(log($"nn".cast("double")) * 1e6 + 0.5).cast("long").as("lx"),
          floor(log($"vv".cast("double")) * 1e6 + 0.5).cast("long").as("ly"))
        .agg(count(lit(1)).as("n"), sum($"lx").as("sx"), sum($"ly").as("sy"),
          sum($"lx" * $"lx").as("sxx"), sum($"lx" * $"ly").as("sxy"),
          sum($"ly" * $"ly").as("syy"))
        .select($"n".cast("long").as("n_points"),
          round((($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            ($"n" * $"sxx" - $"sx" * $"sx").cast("double")), 6)
            .as("heaps_beta"),
          when(expr("n * syy - sy * sy = 0"), lit(1.0))
            .otherwise(round((($"n" * $"sxy" - $"sx" * $"sy").cast("double") *
              ($"n" * $"sxy" - $"sx" * $"sy").cast("double")) /
              (($"n" * $"sxx" - $"sx" * $"sx").cast("double") *
                ($"n" * $"syy" - $"sy" * $"sy").cast("double")), 6))
            .as("heaps_r2"))
    }, Some(s"""
      WITH toks AS (SELECT doc_id,
          unnest(string_split($normSql, ' ')) AS tok FROM documents),
      perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt
        FROM toks GROUP BY 1),
      firstseen AS (SELECT fd, CAST(count(*) AS BIGINT) AS nv FROM
        (SELECT tok, min(doc_id) AS fd FROM toks GROUP BY 1) GROUP BY 1),
      mx AS (SELECT max(doc_id) AS mxid FROM perdoc),
      grid AS (SELECT CAST(k AS BIGINT) AS k, mxid >> (16 - k) AS thr
        FROM (SELECT unnest(range(1, 17)) AS k) CROSS JOIN mx),
      nk AS (SELECT g.k, CAST(sum(p.nt) AS BIGINT) AS nn
        FROM grid g JOIN perdoc p ON p.doc_id <= g.thr GROUP BY 1),
      vk AS (SELECT g.k, CAST(sum(f.nv) AS BIGINT) AS vv
        FROM grid g JOIN firstseen f ON f.fd <= g.thr GROUP BY 1),
      fixed AS (SELECT
          CAST(floor(ln(CAST(nn AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS lx,
          CAST(floor(ln(CAST(vv AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS ly
        FROM nk JOIN vk USING (k)),
      sums AS (SELECT count(*) AS n, sum(lx) AS sx, sum(ly) AS sy,
          sum(lx * lx) AS sxx, sum(lx * ly) AS sxy, sum(ly * ly) AS syy
        FROM fixed)
      SELECT CAST(n AS BIGINT) AS n_points,
        round(CAST(n * sxy - sx * sy AS DOUBLE)
          / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS heaps_beta,
        CASE WHEN n * syy - sy * sy = 0 THEN 1.0
          ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
            * CAST(n * sxy - sx * sy AS DOUBLE)
            / (CAST(n * sxx - sx * sx AS DOUBLE)
               * CAST(n * syy - sy * sy AS DOUBLE)), 6) END AS heaps_r2
      FROM sums""")),

    // An EWMA control chart in exact trailing-window
    // weights (the smoother-memory alarm between q168's median gate and
    // q265's CUSUM), capture–recapture + Chao1 vocabulary-size estimation
    // (how big is the vocabulary you HAVEN'T seen — the sample-based
    // answer q306's growth curve extrapolates), and a context-window
    // truncation-loss table (what fraction of tokens a context limit
    // throws away — the first number a packing policy needs before
    // q246/q291 optimize what's left).
    //
    // House rules as elsewhere: integer arithmetic at every gate (EWMA
    // weights are exact 7^k·8^(15−k) integers, 128-bit where the
    // weighted sums scale), one identical double sqrt on final rows,
    // identical aliases both sides, total ORDER BY.

    // ----- capture–recapture + Chao1 vocabulary estimation ----------------
    // q306 fits HOW FAST vocabulary grows; this estimates WHERE IT
    // ENDS from samples alone: Lincoln–Petersen n1·n2/m over two
    // md5-disjoint document halves (each half a "capture", shared
    // types the "marked recaptures"), and bias-corrected Chao1
    // V_obs + f1(f1−1)/(2(f2+1)) (the bc form: defined even when a
    // closed vocabulary drives f2 to zero), i.e. f1²/(2·f2)
    // from the frequency-1/frequency-2 type counts — the species-
    // richness pair every corpus-coverage claim leans on. Both
    // compare against the TRUE distinct count, with signed micro
    // errors through the double-floor form. Shape: one tokenize pass,
    // two distinct aggregates and a frequency histogram — all
    // hash-partitioned on the token, nothing corpus-squared.
    ("q313_vocab_capture_recapture", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id",
          explode(split(TA.normText($"text"), " ")).as("tok"))
        .withColumn("half",
          conv(substring(md5(concat(lit("cr|"), $"doc_id".cast("string"))),
            1, 8), 16, 10).cast("long") % 2)
        .localCheckpoint() // reused: halves, truth, frequency histogram
      val perTok = toks.groupBy($"tok")
        .agg(max(when($"half" === 0, 1L).otherwise(0L)).as("in1"),
          max(when($"half" === 1, 1L).otherwise(0L)).as("in2"),
          countDistinct($"doc_id").as("df"))
        .localCheckpoint()
      val caps = perTok.agg(sum($"in1").as("n1"), sum($"in2").as("n2"),
        sum($"in1" * $"in2").as("mm"), count(lit(1)).as("v_true"),
        sum(when($"df" === 1, 1L).otherwise(0L)).as("f1"),
        sum(when($"df" === 2, 1L).otherwise(0L)).as("f2"))
      caps.select($"v_true", $"n1", $"n2", $"mm", $"f1", $"f2",
          // mm = 0 (no shared types — tiny/skewed corpora) must yield
          // NULL in BOTH engines: Spark's div would return NULL but
          // DuckDB's // raises, so the guard is explicit.
          expr("CASE WHEN mm = 0 THEN NULL ELSE n1 * n2 div mm END")
            .as("lp_est"),
          expr("v_true + f1 * (f1 - 1) div (2 * (f2 + 1))").as("chao1_est"))
        .select($"v_true", $"n1", $"n2", $"mm", $"f1", $"f2", $"lp_est",
          $"chao1_est",
          expr("""CAST(floor(CAST(lp_est - v_true AS DOUBLE)
              / CAST(v_true AS DOUBLE) * 1000000 + 0.5) AS BIGINT)""")
            .as("lp_err_micro"),
          expr("""CAST(floor(CAST(chao1_est - v_true AS DOUBLE)
              / CAST(v_true AS DOUBLE) * 1000000 + 0.5) AS BIGINT)""")
            .as("chao1_err_micro"))
    }, Some(s"""
      WITH toks AS (SELECT doc_id,
          unnest(string_split($normSql, ' ')) AS tok,
          ('0x' || substr(md5('cr|' || CAST(doc_id AS VARCHAR)), 1, 8))
            ::BIGINT % 2 AS half
        FROM documents),
      pertok AS (SELECT tok,
          CAST(max(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS in1,
          CAST(max(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS in2,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM toks GROUP BY 1),
      caps AS (SELECT CAST(sum(in1) AS BIGINT) AS n1,
          CAST(sum(in2) AS BIGINT) AS n2,
          CAST(sum(in1 * in2) AS BIGINT) AS mm,
          CAST(count(*) AS BIGINT) AS v_true,
          CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
          CAST(sum(CASE WHEN df = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        FROM pertok)
      SELECT v_true, n1, n2, mm, f1, f2,
        CASE WHEN mm = 0 THEN NULL ELSE n1 * n2 // mm END AS lp_est,
        v_true + f1 * (f1 - 1) // (2 * (f2 + 1)) AS chao1_est,
        CAST(floor(CAST(
            (CASE WHEN mm = 0 THEN NULL ELSE n1 * n2 // mm END) - v_true
            AS DOUBLE)
          / CAST(v_true AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
          AS lp_err_micro,
        CAST(floor(CAST(v_true + f1 * (f1 - 1) // (2 * (f2 + 1)) - v_true
            AS DOUBLE)
          / CAST(v_true AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
          AS chao1_err_micro
      FROM caps""")),

    // ----- context-window truncation-loss table ---------------------------
    // Before q246 packs and q291 batches, a pipeline must pick the
    // context length — and the first number that decision needs is
    // what each candidate limit THROWS AWAY. Per window W ∈ {16, 32,
    // 64, 128} tokens: documents over the limit, total vs kept tokens
    // (kept = Σ min(n_toks, W)), and the token-loss fraction in micro.
    // One tokenize-count pass collapses the corpus to |docs| metadata
    // rows; the four windows ride a broadcast grid over that compacted
    // table — the q306 shape, nothing corpus-sized repeated.
    ("q314_truncation_loss", (s: SparkSession, dir: String) => {
      import s.implicits._
      val perDoc = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id",
          explode(split(TA.normText($"text"), " ")).as("tok"))
        .groupBy($"doc_id").agg(count(lit(1)).as("nt"))
      val ws = Seq(16L, 32L, 64L, 128L).map(Tuple1(_)).toDF("w")
      perDoc.crossJoin(broadcast(ws))
        .groupBy($"w")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"nt" > $"w", 1L).otherwise(0L)).as("n_docs_over"),
          sum($"nt").as("tokens_total"),
          sum(least($"nt", $"w")).as("tokens_kept"))
        .select($"w", $"n_docs", $"n_docs_over", $"tokens_total",
          $"tokens_kept",
          expr("1000000 * (tokens_total - tokens_kept) div tokens_total")
            .as("loss_micro"))
        .orderBy($"w")
    }, Some(s"""
      WITH perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM
        (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
         FROM documents) GROUP BY 1),
      ws AS (SELECT CAST(w AS BIGINT) AS w
        FROM (SELECT unnest([16, 32, 64, 128]) AS w))
      SELECT w, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN nt > w THEN 1 ELSE 0 END) AS BIGINT)
          AS n_docs_over,
        CAST(sum(nt) AS BIGINT) AS tokens_total,
        CAST(sum(least(nt, w)) AS BIGINT) AS tokens_kept,
        CAST(1000000 * (CAST(sum(nt) AS BIGINT)
          - CAST(sum(least(nt, w)) AS BIGINT))
          // CAST(sum(nt) AS BIGINT) AS BIGINT) AS loss_micro
      FROM perdoc CROSS JOIN ws GROUP BY w ORDER BY w""")),

    // ----- Good–Turing unseen probability mass per source ------------------
    // Turing's estimator: the chance the NEXT token drawn from a source
    // is a type never seen there is f1/N — singleton types over token
    // count. q313 counts the unseen species; this prices their
    // probability mass, per source, which is the number an active
    // curation loop reads ("which sources still surprise us?").
    // Shape: one tokenize pass → per-(source, type) counts → one
    // per-source aggregate; everything hash-partitioned, the output
    // |sources|-bounded. On a closed shared vocabulary the singleton
    // count comes from each source's OWN draw, so the per-source
    // readings differ — measured, not assumed.
    ("q315_good_turing_mass", (s: SparkSession, dir: String) => {
      import s.implicits._
      val st = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source",
          explode(split(TA.normText($"text"), " ")).as("tok"))
        .groupBy($"source", $"tok").agg(count(lit(1)).as("f"))
      st.groupBy($"source")
        .agg(sum($"f").as("n_tokens"), count(lit(1)).as("n_types"),
          sum(when($"f" === 1, 1L).otherwise(0L)).as("f1"))
        .select($"source", $"n_tokens", $"n_types", $"f1",
          expr("1000000 * f1 div n_tokens").as("unseen_mass_micro"))
        .orderBy($"source")
    }, Some(s"""
      WITH st AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS f FROM
        (SELECT source, unnest(string_split($normSql, ' ')) AS tok
         FROM documents) GROUP BY 1, 2)
      SELECT source, CAST(sum(f) AS BIGINT) AS n_tokens,
        CAST(count(*) AS BIGINT) AS n_types,
        CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        1000000 * CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
          // CAST(sum(f) AS BIGINT) AS unseen_mass_micro
      FROM st GROUP BY source ORDER BY source""")),

    // ----- per-document SMOOTHED bigram perplexity filter -----------------
    // q124 scores documents under the corpus's MLE bigram model — a
    // score that is UNDEFINED for any document the model has not seen
    // (an unseen bigram has p = 0), so it cannot gate NEW data. This
    // is the deployable CCNet-style form: add-one smoothing by the
    // unigram vocabulary V, p(b|a) = (c(a,b)+1)/(c(a,·)+V), makes
    // every score finite, and the left-join floor (coalesce to 0
    // counts) is exactly where a fresh document's unseen bigrams land
    // when the frozen model scores an incoming batch. On the training
    // corpus itself the floor never fires — the incremental shape is
    // the point. Per-doc H = Σ (lnm(ca+V) − lnm(cab+1)) div n_bigrams
    // — micro-ln per factor — plus the keep verdict vs the corpus mean
    // (integer div), which q124 stops short of. Shapes: bigrams via
    // one lag window partitioned by doc; model joins are token-keyed
    // aggregates.
    ("q336_doc_perplexity", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id",
          posexplode(split(TA.normText($"text"), " ")).as(Seq("pos", "tok")))
        .filter($"tok" =!= "")
      val wd = Window.partitionBy($"doc_id").orderBy($"pos")
      val big = toks
        .withColumn("nxt", lead($"tok", 1).over(wd))
        .filter($"nxt".isNotNull)
        .select($"doc_id", $"tok".as("a"), $"nxt".as("b"))
        .localCheckpoint() // reused: model counts + per-doc scoring
      val mAb = big.groupBy($"a", $"b").agg(count(lit(1)).as("cab"))
      val mA = big.groupBy($"a").agg(count(lit(1)).as("ca"))
      val v = toks.agg(countDistinct($"tok").as("v"))
      val scored = big
        .join(mAb, Seq("a", "b"), "left")
        .join(mA, Seq("a"), "left")
        .crossJoin(broadcast(v))
        .select($"doc_id", expr(
          """CAST(floor(ln(CAST(coalesce(ca, 0) + v AS DOUBLE)) * 1000000
               + 0.5) AS BIGINT)
           - CAST(floor(ln(CAST(coalesce(cab, 0) + 1 AS DOUBLE)) * 1000000
               + 0.5) AS BIGINT)""").as("nll"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum($"nll").as("snll"))
        .select($"doc_id", $"n_bigrams",
          expr("snll div n_bigrams").as("h_micro"))
        .localCheckpoint() // reused: corpus mean + verdict
      val mean = scored.agg(
        expr("sum(h_micro) div count(1)").as("h_mean"))
      scored.crossJoin(broadcast(mean))
        .select($"doc_id", $"n_bigrams", $"h_micro",
          ($"h_micro" <= $"h_mean").cast("long").as("below_mean"))
        .orderBy($"doc_id")
    }, Some(s"""
      WITH t0 AS (SELECT doc_id, tok, pos FROM
        (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok,
           generate_subscripts(string_split($normSql, ' '), 1) AS pos
         FROM documents) WHERE tok <> ''),
      big AS (SELECT doc_id, a, b FROM
        (SELECT doc_id, tok AS a, lead(tok, 1) OVER
           (PARTITION BY doc_id ORDER BY pos) AS b FROM t0)
        WHERE b IS NOT NULL),
      mab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cab
        FROM big GROUP BY 1, 2),
      ma AS (SELECT a, CAST(count(*) AS BIGINT) AS ca FROM big GROUP BY 1),
      vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM t0),
      scored AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          CAST(sum(
            CAST(floor(ln(CAST(coalesce(ma.ca, 0) + vv.v AS DOUBLE))
              * 1000000 + 0.5) AS BIGINT)
          - CAST(floor(ln(CAST(coalesce(mab.cab, 0) + 1 AS DOUBLE))
              * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS snll
        FROM big
        LEFT JOIN mab ON big.a = mab.a AND big.b = mab.b
        LEFT JOIN ma ON big.a = ma.a
        CROSS JOIN vv
        GROUP BY doc_id),
      sc2 AS (SELECT doc_id, n_bigrams, snll // n_bigrams AS h_micro
        FROM scored),
      mean AS (SELECT CAST(sum(h_micro) AS BIGINT) // count(*) AS h_mean
        FROM sc2)
      SELECT doc_id, n_bigrams, h_micro,
        CAST(CASE WHEN h_micro <= h_mean THEN 1 ELSE 0 END AS BIGINT)
          AS below_mean
      FROM sc2 CROSS JOIN mean ORDER BY doc_id"""))
  )
}
