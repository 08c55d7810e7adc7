package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Dedup, Similarity, TextAnalysis => TA}

/** Near-duplicate detection and its audits: exact, MinHash/LSH,
  * SimHash, n-gram and prefix-filter joins, clustering and
  * survivorship, linkage weights, threshold sweeps.
  *
  * Section "Deduplication" of
  * docs/OPERATORS.md.
  */
object DedupQueries {

  private val normSql = TA.normTextSql
  private val Projs = Similarity.OracleProjs
  private val prepSql = Similarity.prepareSql
  private def bucketSql: String = Similarity.lshBucketSql
  private val P = Dedup.HashPrime

  // --- generated SQL fragments (shared shape between engines) -----------

  private def simhashOracle: String = {
    val digits = (1 to 8).map(p => Dedup.md5DigitSql("m", p) + s" AS d$p").mkString(",\n        ")
    val sums = (0 until 32).map(j => Dedup.simhashBitSql(j, "//") + s" AS s$j").mkString(",\n        ")
    val packed = (0 until 32).map(j => s"(CASE WHEN s$j >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""
      WITH tk AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
      h AS (SELECT doc_id, md5(tok) AS m FROM tk),
      dg AS (SELECT doc_id,
        $digits
        FROM h),
      s AS (SELECT doc_id,
        $sums
        FROM dg GROUP BY doc_id)
      SELECT doc_id, CAST($packed AS BIGINT) AS simhash FROM s ORDER BY doc_id"""
  }

  /** Shared DuckDB CTE chain producing `verified(id_a, id_b, jaccard)` —
    * the MinHash+LSH pipeline (used by q21 and the dedup-apply q41). */
  private[operators] def minhashPairsCte: String = {
    val mhDefs = (0 until 8).map(s => s"${Dedup.minhashSql(s)} AS m$s")
      .mkString(",\n        ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band_idx, md5(CAST(m${2 * b} AS VARCHAR) || '|' || CAST(m${2 * b + 1} AS VARCHAR)) AS band_key FROM mh")
      .mkString("\n        UNION ALL ")
    s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS arr FROM documents),
      sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(arr) - 2, 1) + 1),
        i -> array_to_string(arr[i:i+2], ' '))) AS sh FROM d),
      hst AS (SELECT doc_id, list_distinct(list_transform(sh,
        g -> ('0x' || substr(md5(g), 1, 8))::BIGINT)) AS hs FROM sh),
      mh AS (SELECT doc_id,
        $mhDefs
        FROM hst),
      bands AS ($bandSelects),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b USING (band_idx, band_key)
        WHERE a.doc_id < b.doc_id),
      verified AS (SELECT id_a, id_b,
        len(list_intersect(ha.hs, hb.hs)) / len(list_distinct(list_concat(ha.hs, hb.hs))) AS jaccard
        FROM cand
        JOIN hst ha ON ha.doc_id = id_a
        JOIN hst hb ON hb.doc_id = id_b)"""
  }

  /** DuckDB CTE chain for the MinHash pipeline ending in
    * `cand(id_a, id_b)` candidate pairs plus the signature table
    * `mh(doc_id, m0..m7)` and hash-set table `hst(doc_id, hs)` —
    * the oracle side of Dedup.minhashLshPairsHashed's shapes (same
    * template as q21's oracle; repeated here because q136/q139
    * consume the intermediate tables, not just the verified pairs). */
  private[operators] def minhashCandCte: String = {
    val mhDefs = (0 until 8).map(s => s"${Dedup.minhashSql(s)} AS m$s")
      .mkString(",\n        ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band_idx, md5(CAST(m${2 * b} AS VARCHAR) || '|' || CAST(m${2 * b + 1} AS VARCHAR)) AS band_key FROM mh")
      .mkString("\n        UNION ALL ")
    s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS arr FROM documents),
      sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(arr) - 2, 1) + 1),
        i -> array_to_string(arr[i:i+2], ' '))) AS sh FROM d),
      hst AS (SELECT doc_id, list_distinct(list_transform(sh,
        g -> ('0x' || substr(md5(g), 1, 8))::BIGINT)) AS hs FROM sh),
      mh AS (SELECT doc_id,
        $mhDefs
        FROM hst),
      bands AS ($bandSelects),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b USING (band_idx, band_key)
        WHERE a.doc_id < b.doc_id)"""
  }

  /** The q21 oracle template verbatim (DedupQueries.minhashPairsCte):
    * ends in `verified(id_a, id_b, jaccard)` plus the intermediate
    * `mh(doc_id, m0..m7)` / `hst` / `d` tables, which q198 consumes. */
  private def minhashVerifiedCte: String = {
    val mhDefs = (0 until 8).map(s => s"${Dedup.minhashSql(s)} AS m$s")
      .mkString(",\n        ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band_idx, md5(CAST(m${2 * b} AS VARCHAR) || '|' || CAST(m${2 * b + 1} AS VARCHAR)) AS band_key FROM mh")
      .mkString("\n        UNION ALL ")
    s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS arr FROM documents),
      sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(arr) - 2, 1) + 1),
        i -> array_to_string(arr[i:i+2], ' '))) AS sh FROM d),
      hst AS (SELECT doc_id, list_distinct(list_transform(sh,
        g -> ('0x' || substr(md5(g), 1, 8))::BIGINT)) AS hs FROM sh),
      mh AS (SELECT doc_id,
        $mhDefs
        FROM hst),
      bands AS ($bandSelects),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b USING (band_idx, band_key)
        WHERE a.doc_id < b.doc_id),
      verified AS (SELECT id_a, id_b,
        len(list_intersect(ha.hs, hb.hs)) / len(list_distinct(list_concat(ha.hs, hb.hs))) AS jaccard
        FROM cand
        JOIN hst ha ON ha.doc_id = id_a
        JOIN hst hb ON hb.doc_id = id_b)"""
  }

  /** The q21 oracle template (DedupQueries.minhashPairsCte construction,
    * shared helpers from ext/Dedup): ends in
    * `verified(id_a, id_b, jaccard)`; `pairs` filters to ≥ 0.5. */
  private def pairsCte: String = {
    val mhDefs = (0 until 8).map(s => s"${Dedup.minhashSql(s)} AS m$s")
      .mkString(",\n        ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band_idx, md5(CAST(m${2 * b} AS VARCHAR) || '|' || CAST(m${2 * b + 1} AS VARCHAR)) AS band_key FROM mh")
      .mkString("\n        UNION ALL ")
    s"""d AS (SELECT doc_id, string_split($normSql, ' ') AS arr FROM documents),
      sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(arr) - 2, 1) + 1),
        i -> array_to_string(arr[i:i+2], ' '))) AS sh FROM d),
      hst AS (SELECT doc_id, list_distinct(list_transform(sh,
        g -> ('0x' || substr(md5(g), 1, 8))::BIGINT)) AS hs FROM sh),
      mh AS (SELECT doc_id,
        $mhDefs
        FROM hst),
      bands AS ($bandSelects),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b USING (band_idx, band_key)
        WHERE a.doc_id < b.doc_id),
      verified AS (SELECT id_a, id_b,
        len(list_intersect(ha.hs, hb.hs)) / len(list_distinct(list_concat(ha.hs, hb.hs))) AS jaccard
        FROM cand
        JOIN hst ha ON ha.doc_id = id_a
        JOIN hst hb ON hb.doc_id = id_b),
      pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5)"""
  }

  /** The q21 pair list as a DataFrame (id_a < id_b). */
  private def lshPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.spread(Tables.t(s, dir, "documents"))
      .select($"doc_id".as("id"),
        graft.functions.WordShingleHash32(TA.normText($"text"), 3).as("hs"))
    Dedup.minhashLshPairsHashed(docs, nBands = 4, threshold = 0.5)
      .select($"id_a", $"id_b")
  }

  /** q335's blocked agreement statistics — ONE row holding the truth
    * agreements (m_*), the per-field per-value C(cnt,2) agree-pair
    * sums (a_*), the total block-pair count and the corpus size. The
    * whole point of the operator is that these come from group-size
    * combinatorics, never a materialized pair join; exposed
    * pre-checkpoint so PlanQualitySpec can assert exactly that on the
    * optimized plan (the query itself checkpoints this one row, which
    * would otherwise hide the DAG behind a LogicalRDD).
    */
  private[graft] def fsLinkageStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.t(s, dir, "customer")
      .select($"c_custkey".as("id"), $"c_nationkey".as("blk"),
        $"c_name".as("f_name"), $"c_mktsegment".as("f_seg"),
        expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("f_bal"))
      .localCheckpoint() // reused: clones, truth compare, block counts
    def corrupt(tag: String, mod: Int) =
      conv(substring(md5(concat(lit(tag), $"id".cast("string"))),
        1, 8), 16, 10).cast("long") % mod === 0
    val clone = c.select(($"id" + 1000000000000L).as("id"), $"blk",
      when(corrupt("fsn|", 4), concat($"f_name", lit("x")))
        .otherwise($"f_name").as("f_name"),
      when(corrupt("fss|", 8), lit("XXX")).otherwise($"f_seg").as("f_seg"),
      when(corrupt("fsb|", 2), $"f_bal" + 1).otherwise($"f_bal").as("f_bal"))
    val corpus = c.unionByName(clone).localCheckpoint()
    val nn = c.agg(count(lit(1)).as("n")) // truth-pair count (1/clone)
    val truth = c.join(clone.select(($"id" - 1000000000000L).as("id"),
        $"f_name".as("g_name"), $"f_seg".as("g_seg"),
        $"f_bal".as("g_bal")), Seq("id"))
      .agg(sum(($"f_name" === $"g_name").cast("long")).as("m_name"),
        sum(($"f_seg" === $"g_seg").cast("long")).as("m_seg"),
        sum(($"f_bal" === $"g_bal").cast("long")).as("m_bal"))
    val tb = corpus.groupBy($"blk").agg(count(lit(1)).as("nb"))
      .agg(sum(expr("nb * (nb - 1) div 2")).as("t_pairs"))
    def agreePairs(fld: String) = corpus
      .groupBy($"blk", col(fld)).agg(count(lit(1)).as("cv"))
      .agg(sum(expr("cv * (cv - 1) div 2")).as(s"a_$fld"))
    agreePairs("f_name").crossJoin(agreePairs("f_seg"))
      .crossJoin(agreePairs("f_bal")).crossJoin(broadcast(tb))
      .crossJoin(broadcast(truth)).crossJoin(broadcast(nn))
  }

  def queries: Seq[Entry] = Seq(

    // ----- dedup: exact (hash-groupBy over a doubled corpus) -------------
    ("q20_dedup_exact", (s: SparkSession, dir: String) => {
      val docs = Tables.t(s, dir, "documents")
      Dedup.exactDedup(docs.unionByName(docs), "doc_id", "text")
        .orderBy("keep_id")
    }, Some("""
      SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
      GROUP BY md5(text) ORDER BY keep_id""")),

    // ----- dedup: MinHash + LSH banding + Jaccard verify -----------------
    ("q21_dedup_minhash", (s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id".as("id"),
          graft.functions.WordShingleHash32(TA.normText($"text"), 3).as("hs"))
      Dedup.minhashLshPairsHashed(docs, nBands = 4, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }, Some(s"""
      $minhashPairsCte
      SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5
      ORDER BY id_a, id_b""")),

    // ----- dedup: 32-bit SimHash -----------------------------------------
    ("q22_dedup_simhash", (s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id".as("id"), TA.tokens($"text").as("tokens"))
      Dedup.simhash32(docs).select($"id".as("doc_id"), $"simhash").orderBy("doc_id")
    }, Some(simhashOracle)),

    // ----- dedup: n-gram Jaccard within (lang, length-bucket) blocks -----
    ("q23_dedup_ngram", (s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.spread(Tables.t(s, dir, "documents")).select(
        $"doc_id".as("id"),
        concat($"lang", lit("_"), expr("n_chars div 100")).as("bucket"),
        TA.charNgramInts($"text", 3).as("grams"))  // already sorted+distinct
      Dedup.ngramJaccardPairs(docs, threshold = 0.55, broadcastGrams = true)
        .orderBy("id_a", "id_b")
    }, Some("""
      WITH d AS (SELECT doc_id, lang || '_' || (n_chars // 100) AS bucket,
        list_distinct(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
          i -> (CAST(ascii(substr(text, i, 1)) AS BIGINT) * 1114112 + ascii(substr(text, i + 1, 1))) * 1114112 + ascii(substr(text, i + 2, 1)))) AS grams
        FROM documents)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        len(list_intersect(a.grams, b.grams)) / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
      FROM d a JOIN d b USING (bucket)
      WHERE a.doc_id < b.doc_id
        AND len(list_intersect(a.grams, b.grams)) / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.55
      ORDER BY id_a, id_b""")),

    // ----- dedup: apply — materialize the deduplicated corpus ------------
    ("q41_dedup_apply", (s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.spread(Tables.t(s, dir, "documents"))
      val shingled = docs.select($"doc_id".as("id"),
        graft.functions.WordShingleHash32(TA.normText($"text"), 3).as("hs"))
      // drop the higher-id member of every near-dup pair, keep the rest
      val dropIds = Dedup.minhashLshPairsHashed(shingled, nBands = 4, threshold = 0.5)
        .select($"id_b".as("doc_id")).distinct()
      docs.join(dropIds, Seq("doc_id"), "left_anti")
        .select($"doc_id", $"lang")
        .orderBy("doc_id")
    }, Some(s"""
      $minhashPairsCte
      SELECT doc_id, lang FROM documents
      WHERE doc_id NOT IN (SELECT id_b FROM verified WHERE jaccard >= 0.5)
      ORDER BY doc_id""")),

    // ----- dedup: connected components over near-dup pairs ---------------
    ("q54_dedup_components", (s: SparkSession, dir: String) => {
      import s.implicits._
      // cluster the q23-style n-gram near-dup pairs into components:
      // transitive closure turns pairwise matches into dedup groups whose
      // id (= min member) is the kept representative
      val docs = Tables.spread(Tables.t(s, dir, "documents")).select(
        $"doc_id".as("id"),
        concat($"lang", lit("_"), expr("n_chars div 100")).as("bucket"),
        TA.charNgramInts($"text", 3).as("grams"))
      val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.55, broadcastGrams = true)
      Dedup.connectedComponentsLocal(pairs)
        .groupBy($"label".as("component"))
        .agg(count(lit(1)).as("n_members"), max($"id").as("max_id"))
        .orderBy("component")
    }, Some("""
      WITH RECURSIVE d AS (SELECT doc_id, lang || '_' || (n_chars // 100) AS bucket,
        list_distinct(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
          i -> (CAST(ascii(substr(text, i, 1)) AS BIGINT) * 1114112 + ascii(substr(text, i + 1, 1))) * 1114112 + ascii(substr(text, i + 2, 1)))) AS grams
        FROM documents),
      pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM d a JOIN d b USING (bucket)
        WHERE a.doc_id < b.doc_id
          AND len(list_intersect(a.grams, b.grams)) / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.55),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      cc(id, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, cc.label FROM edges e JOIN cc ON cc.id = e.dst),
      comp AS (SELECT id, min(label) AS component FROM cc GROUP BY id)
      SELECT component, count(*) AS n_members, max(id) AS max_id
      FROM comp GROUP BY component ORDER BY component""")),

    // ----- dedup: EXACT set-similarity join via prefix filtering -----------
    ("q97_dedup_prefix_filter", (s: SparkSession, dir: String) => {
      import s.implicits._
      // recall-lossless near-dup pairs (vs q23's heuristic bucket
      // blocking): prefix filtering guarantees every pair with
      // Jaccard >= t is produced — see ext.Dedup.prefixFilterPairs
      val docs = Tables.spread(Tables.t(s, dir, "documents")).select(
        $"doc_id".as("id"),
        TA.charNgramInts($"text", 3).as("grams")) // sorted distinct longs
      graft.ext.Dedup.prefixFilterPairs(docs, threshold = 0.9)
        .orderBy("id_a", "id_b")
    }, Some("""
      WITH d AS (SELECT doc_id,
        list_sort(list_distinct(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
          i -> (CAST(ascii(substr(text, i, 1)) AS BIGINT) * 1114112 + ascii(substr(text, i + 1, 1))) * 1114112 + ascii(substr(text, i + 2, 1))))) AS grams
        FROM documents),
      tok AS (SELECT doc_id, unnest(grams) AS tok FROM d),
      f AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok),
      ord AS (SELECT doc_id, tok,
          row_number() OVER (PARTITION BY doc_id ORDER BY df, tok) AS pos,
          count(*) OVER (PARTITION BY doc_id) AS sz
        FROM tok JOIN f USING (tok)),
      pref AS (SELECT doc_id, tok, sz FROM ord
        WHERE pos <= sz - CAST(ceil(0.9 * sz) AS BIGINT) + 1),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
          AND b.sz >= ceil(0.9 * a.sz) AND b.sz * 0.9 <= a.sz),
      verified AS (SELECT id_a, id_b,
          len(list_intersect(da.grams, db.grams)) / len(list_distinct(list_concat(da.grams, db.grams))) AS jaccard
        FROM cand
        JOIN d da ON da.doc_id = id_a
        JOIN d db ON db.doc_id = id_b)
      SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.9
      ORDER BY id_a, id_b""")),

    // ----- memorization risk: cross-doc duplicated-n-gram rate -----------
    ("q115_dupgram_rate", (s: SparkSession, dir: String) => {
      import s.implicits._
      // per document: how many of its distinct word 3-grams occur in at
      // least one OTHER document — the corpus-level duplication signal
      // (within-doc repetition is q105; cross-set contamination is q108).
      // Both shuffles key on the n-gram itself, so the gram-frequency
      // aggregate and the join back are co-partitioned (one exchange,
      // reused) and there is no cross join at any corpus size; the
      // per-doc rollup is the only doc_id shuffle.
      val n = 3
      val grams = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", split(TA.normText($"text"), " ").as("a"))
        .filter(size($"a") >= n)
        .select($"doc_id", explode(expr(
          s"transform(sequence(1, size(a) - ${n - 1}), j -> array_join(slice(a, j, $n), ' '))"))
          .as("ngram"))
        .distinct()
      val freq = grams.groupBy($"ngram").agg(count(lit(1)).as("n_docs_with"))
      grams.join(freq, Seq("ngram"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).cast("long").as("n_grams"),
          sum(when($"n_docs_with" >= 2, 1L).otherwise(0L)).cast("long").as("n_dup_grams"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS a
        FROM documents WHERE len(string_split($normSql, ' ')) >= 3),
      pos AS (SELECT doc_id, a, unnest(range(1, len(a) - 1)) AS j FROM base),
      grams AS (SELECT DISTINCT doc_id,
          array_to_string(list_slice(a, CAST(j AS INT), CAST(j + 2 AS INT)), ' ') AS ngram
        FROM pos),
      freq AS (SELECT ngram, count(*) AS n_docs_with FROM grams GROUP BY ngram)
      SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        CAST(sum(CASE WHEN f.n_docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams
      FROM grams g JOIN freq f ON g.ngram = f.ngram
      GROUP BY g.doc_id ORDER BY g.doc_id""")),

    // ----- sorted-neighborhood near-dup (SNM blocking) -------------------
    // The classic third blocking family next to LSH (q21/q26) and prefix
    // filtering (q97): sort by normalized text, compare each doc only
    // with its w-1 successors. The block key (2-char prefix of the sort
    // key) is what makes it distributed — the window partitions by block
    // and parallelism = |blocks|; lengthen the prefix to widen it at
    // corpus scale (cross-block neighbors are by construction near-misses
    // the other two families still catch). Candidate verdicts are
    // integer-exact: keep iff 2*|intersect| >= |union| (Jaccard >= 0.5
    // without the double division the round-on-double gotcha warns about).
    ("q122_sorted_neighborhood", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", TA.normText($"text").as("nt"))
        .select($"doc_id", $"nt",
          array_distinct(split($"nt", " ")).as("toks"),
          substring($"nt", 1, 2).as("blk"))
      val w = Window.partitionBy($"blk").orderBy($"nt", $"doc_id")
      // both neighbor offsets come out of ONE window pass, then explode —
      // a union of per-offset branches would recompute the scan + block
      // shuffle + window once per offset (observed in the executed plan)
      val nbr = d.select($"doc_id", $"toks",
        lead($"doc_id", 1).over(w).as("n1_id"), lead($"toks", 1).over(w).as("n1_toks"),
        lead($"doc_id", 2).over(w).as("n2_id"), lead($"toks", 2).over(w).as("n2_toks"))
      val pairs = nbr
        .select($"doc_id".as("id_a"), $"toks".as("ta"), explode(array(
          struct($"n1_id".as("id_b"), $"n1_toks".as("tb")),
          struct($"n2_id".as("id_b"), $"n2_toks".as("tb")))).as("nb"))
        .filter($"nb.id_b".isNotNull)
        .select($"id_a", $"nb.id_b".as("id_b"), $"ta", $"nb.tb".as("tb"))
      pairs
        .select($"id_a", $"id_b",
          size(array_intersect($"ta", $"tb")).cast("long").as("n_inter"),
          size(array_union($"ta", $"tb")).cast("long").as("n_union"))
        .filter(lit(2) * $"n_inter" >= $"n_union")
        .orderBy("id_a", "id_b")
    }, Some(s"""
      WITH d AS (SELECT doc_id, $normSql AS nt,
          list_distinct(string_split($normSql, ' ')) AS toks,
          substr($normSql, 1, 2) AS blk
        FROM documents),
      nbr AS (SELECT doc_id, toks,
          lead(doc_id, 1) OVER w AS n1_id, lead(toks, 1) OVER w AS n1_toks,
          lead(doc_id, 2) OVER w AS n2_id, lead(toks, 2) OVER w AS n2_toks
        FROM d WINDOW w AS (PARTITION BY blk ORDER BY nt, doc_id)),
      pairs AS (
        SELECT doc_id AS id_a, n1_id AS id_b, toks AS ta, n1_toks AS tb
          FROM nbr WHERE n1_id IS NOT NULL
        UNION ALL
        SELECT doc_id, n2_id, toks, n2_toks FROM nbr WHERE n2_id IS NOT NULL)
      SELECT id_a, id_b,
        CAST(len(list_intersect(ta, tb)) AS BIGINT) AS n_inter,
        CAST(len(list_distinct(list_concat(ta, tb))) AS BIGINT) AS n_union
      FROM pairs
      WHERE 2 * len(list_intersect(ta, tb)) >= len(list_distinct(list_concat(ta, tb)))
      ORDER BY id_a, id_b""")),

    // ----- streaming exact-dedup under the batch oracle ------------------
    // The streaming form of exact dedup (q20's continuous twin): a real
    // streaming query — file source → watermarked dropDuplicates →
    // aggregate → memory sink — whose result the gate checks against
    // batch count(DISTINCT). See EventStream.distinctUsersByType for the
    // state-bound contract.
    ("q123_stream_dedup", (s: SparkSession, dir: String) => {
      import s.implicits._
      val tmp = graft.TempScratch.symlinkDir("q123", "events.parquet",
        java.nio.file.Paths.get(s"$dir/events.parquet"))
      val stream = graft.streaming.EventStream.streamFromParquetDir(s, tmp.toString)
      val q = graft.streaming.EventStream.distinctUsersByType(stream)
        .writeStream.format("memory").queryName("q123_mem")
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      s.table("q123_mem")
        .select($"event_type", $"n_users")
        .orderBy("event_type")
    }, Some("""
      SELECT event_type, count(DISTINCT user_id) AS n_users
      FROM events GROUP BY 1 ORDER BY event_type""")),

    // ----- temporal novelty: first-seen n-gram attribution ---------------
    // The ingest-order twin of q115's symmetric dup-gram rate: treating
    // doc_id as arrival order, how much of each doc's content is NEW —
    // grams whose first-seen doc is this one. The signal an incremental
    // ingestion pipeline thresholds to drop low-novelty arrivals. min()
    // per gram is a two-phase aggregate; the attribution join keys on
    // the gram string and is co-partitioned with it; the only doc_id
    // shuffle is the final rollup.
    ("q129_temporal_novelty", (s: SparkSession, dir: String) => {
      import s.implicits._
      val n = 5
      val grams = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", split(TA.normText($"text"), " ").as("a"))
        .filter(size($"a") >= n)
        .select($"doc_id", explode(expr(
          s"transform(sequence(1, size(a) - ${n - 1}), j -> array_join(slice(a, j, $n), ' '))"))
          .as("g"))
        .distinct()
      val first = grams.groupBy($"g").agg(min($"doc_id").as("first_doc"))
      grams.join(first, Seq("g"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).cast("long").as("n_grams"),
          sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).cast("long").as("n_novel"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS a FROM documents
        WHERE len(string_split($normSql, ' ')) >= 5),
      grams AS (SELECT DISTINCT doc_id,
          array_to_string(list_slice(a, CAST(j AS INT), CAST(j + 4 AS INT)), ' ') AS g
        FROM (SELECT doc_id, a, unnest(range(1, len(a) - 3)) AS j FROM base)),
      first AS (SELECT g, CAST(min(doc_id) AS BIGINT) AS first_doc FROM grams GROUP BY g)
      SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        CAST(sum(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      FROM grams gr JOIN first f ON gr.g = f.g
      GROUP BY gr.doc_id ORDER BY gr.doc_id""")),

    // ----- paragraph-level exact dedup (CCNet-style) ---------------------
    // Documents are split into fixed 10-word blocks ("paragraphs" — the
    // corpus has no newline structure); a block that occurs verbatim in
    // MORE THAN ONE document is removed everywhere, and the surviving
    // blocks are reassembled in order. Both heavy steps key on the block
    // text itself — the frequency aggregate and the join back are
    // co-partitioned equi-joins, so there is no cross join at any corpus
    // size; the reassembly collect_list is bounded by a single document's
    // block count. The cleaned text is reported as an md5 so row width
    // stays O(1) regardless of document size.
    ("q132_paragraph_dedup", (s: SparkSession, dir: String) => {
      import s.implicits._
      val B = 10
      val blocks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", split(TA.normText($"text"), " ").as("a"))
        .select($"doc_id", $"a", size($"a").as("n"))
        .select($"doc_id", explode(expr(s"sequence(1, n, $B)")).as("j"), $"a")
        .select($"doc_id", $"j", expr(s"array_join(slice(a, j, $B), ' ')").as("blk"))
      val dup = blocks.groupBy($"blk").agg(countDistinct($"doc_id").as("nd"))
      blocks.join(dup, Seq("blk"))
        .groupBy($"doc_id")
        .agg(
          count(lit(1)).as("n_blocks"),
          sum(when($"nd" > 1, 1L).otherwise(0L)).as("n_removed"),
          // collect_list skips the NULLs the `when` produces for removed
          // blocks; array_sort on struct(j, blk) restores document order
          md5(array_join(
            expr("transform(array_sort(collect_list(CASE WHEN nd <= 1 THEN struct(j, blk) END)), s -> s.blk)"),
            " ")).as("clean_hash"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS a FROM documents),
      blks AS (SELECT doc_id, j,
          array_to_string(list_slice(a, CAST(j AS INT), CAST(least(j + 9, len(a)) AS INT)), ' ') AS blk
        FROM base, unnest(range(1, len(a) + 1, 10)) AS t(j)),
      dup AS (SELECT blk, count(DISTINCT doc_id) AS nd FROM blks GROUP BY blk)
      SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
        CAST(sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        md5(coalesce(string_agg(CASE WHEN d.nd <= 1 THEN b.blk END, ' ' ORDER BY b.j), '')) AS clean_hash
      FROM blks b JOIN dup d ON b.blk = d.blk
      GROUP BY b.doc_id ORDER BY doc_id""")),

    // ----- duplicated-span coverage (interval-merge islands) -------------
    // The span-level view of q115: every word 3-gram window that also
    // occurs in another document marks the interval [j, j+2]; per document
    // we report how many token positions the UNION of those intervals
    // covers (overlapping windows are merged via the classic
    // islands-and-gaps running-max, one window pass per document). This is
    // the exact-substring-dedup coverage statistic: q115 counts duplicated
    // grams, this measures how much of each document they blanket.
    ("q133_dup_span_coverage", (s: SparkSession, dir: String) => {
      import s.implicits._
      val base = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", split(TA.normText($"text"), " ").as("a"))
        .select($"doc_id", $"a", size($"a").cast("long").as("n_tokens"))
      val wins = base.filter($"n_tokens" >= 3)
        .select($"doc_id", explode(expr("sequence(1, size(a) - 2)")).as("j"), $"a")
        .select($"doc_id", $"j", ($"j" + 2).as("e"),
          expr("array_join(slice(a, j, 3), ' ')").as("gram"))
      val freq = wins.groupBy($"gram").agg(countDistinct($"doc_id").as("nd"))
      val dupWins = wins.join(freq, Seq("gram")).filter($"nd" > 1)
        .select($"doc_id", $"j", $"e")
      val byDoc = Window.partitionBy($"doc_id").orderBy($"j")
      val prevMax = max($"e").over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
      val islands = dupWins
        .withColumn("ni", when(prevMax.isNull || $"j" > prevMax, 1).otherwise(0))
        .withColumn("iid", sum($"ni").over(byDoc))
        .groupBy($"doc_id", $"iid")
        .agg((max($"e") - min($"j") + 1).as("ilen"))
        .groupBy($"doc_id")
        .agg(sum($"ilen").cast("long").as("covered"))
      base.select($"doc_id", $"n_tokens")
        .join(islands, Seq("doc_id"), "left")
        .select($"doc_id", $"n_tokens",
          coalesce($"covered", lit(0L)).as("covered"),
          (coalesce($"covered", lit(0L)).cast("double") / $"n_tokens").as("dup_coverage"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS a FROM documents),
      docs AS (SELECT doc_id, CAST(len(a) AS BIGINT) AS n_tokens FROM base),
      wins AS (SELECT doc_id, j, j + 2 AS e,
          array_to_string(list_slice(a, CAST(j AS INT), CAST(j + 2 AS INT)), ' ') AS gram
        FROM base, unnest(range(1, len(a) - 1)) AS t(j) WHERE len(a) >= 3),
      freq AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM wins GROUP BY gram),
      dup AS (SELECT w.doc_id, w.j, w.e FROM wins w JOIN freq f ON w.gram = f.gram WHERE f.nd > 1),
      isl AS (SELECT doc_id, j, e, CASE WHEN
          max(e) OVER (PARTITION BY doc_id ORDER BY j ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
          OR j > max(e) OVER (PARTITION BY doc_id ORDER BY j ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          THEN 1 ELSE 0 END AS ni FROM dup),
      isl2 AS (SELECT doc_id, j, e, sum(ni) OVER (PARTITION BY doc_id ORDER BY j) AS iid FROM isl),
      per AS (SELECT doc_id, iid, max(e) - min(j) + 1 AS ilen FROM isl2 GROUP BY doc_id, iid),
      cov AS (SELECT doc_id, CAST(sum(ilen) AS BIGINT) AS covered FROM per GROUP BY doc_id)
      SELECT d.doc_id, d.n_tokens,
        CAST(coalesce(c.covered, 0) AS BIGINT) AS covered,
        CAST(coalesce(c.covered, 0) AS DOUBLE) / d.n_tokens AS dup_coverage
      FROM docs d LEFT JOIN cov c USING (doc_id) ORDER BY doc_id""")),

    // ----- near-dup graph degree distribution ----------------------------
    // Ops view of the q21 dedup graph: how many documents participate in
    // exactly d near-duplicate relationships. A long-tailed degree
    // distribution is the early-warning signal for a template/boilerplate
    // cluster that will blow up transitive dedup (one degree-10k hub =
    // a 10k-document connected component). Pairs come from the same
    // band equi-join pipeline as q21; the degree rollup is two bounded
    // hash aggregates on top.
    ("q136_dedup_degree_dist", (s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id".as("id"),
          graft.functions.WordShingleHash32(TA.normText($"text"), 3).as("hs"))
      Dedup.minhashLshPairsHashed(docs, nBands = 4, threshold = 0.5)
        .select(explode(array($"id_a", $"id_b")).as("id"))
        .groupBy($"id").agg(count(lit(1)).as("degree"))
        .groupBy($"degree").agg(count(lit(1)).as("n_docs"))
        .orderBy("degree")
    }, Some(s"""
      $minhashCandCte,
      verified AS (SELECT id_a, id_b FROM cand
        JOIN hst ha ON ha.doc_id = id_a
        JOIN hst hb ON hb.doc_id = id_b
        WHERE len(list_intersect(ha.hs, hb.hs)) / len(list_distinct(list_concat(ha.hs, hb.hs))) >= 0.5),
      deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
          SELECT id_a AS id FROM verified UNION ALL SELECT id_b AS id FROM verified)
        GROUP BY id)
      SELECT degree, CAST(count(*) AS BIGINT) AS n_docs FROM deg
      GROUP BY degree ORDER BY degree""")),

    // ----- minhash sketch calibration ------------------------------------
    // Sketch-quality audit: for every LSH candidate pair, the Jaccard the
    // 8-component signature ESTIMATES (matching components / 8) next to
    // the exact shingle Jaccard. Systematic est-vs-exact gaps mean the
    // band/seed budget is mis-sized for the corpus before anyone trusts
    // q21's threshold. Same shapes as the q21 pipeline: band equi-join
    // candidates, narrow pair rows, signatures joined back by id.
    ("q139_minhash_calibration", (s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id".as("id"),
          graft.functions.WordShingleHash32(TA.normText($"text"), 3).as("hs"))
      Dedup.minhashCalibration(docs, nBands = 4).orderBy("id_a", "id_b")
    }, Some(s"""
      $minhashCandCte,
      est AS (SELECT id_a, id_b,
          CAST(${(0 until 8).map(i => s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")} AS DOUBLE) / 8 AS est_jaccard
        FROM cand JOIN mh a ON a.doc_id = id_a JOIN mh b ON b.doc_id = id_b)
      SELECT e.id_a, e.id_b, e.est_jaccard,
        len(list_intersect(ha.hs, hb.hs)) / len(list_distinct(list_concat(ha.hs, hb.hs))) AS exact_jaccard
      FROM est e JOIN hst ha ON ha.doc_id = e.id_a JOIN hst hb ON hb.doc_id = e.id_b
      ORDER BY id_a, id_b""")),

    // ----- connected components: large-star/small-star -------------------
    // q54's component summary computed by the O(log n)-round star
    // contraction instead of min-label propagation — the form that
    // survives long transitive near-dup CHAINS, where label propagation
    // needs diameter rounds. Same pair generation and the q54 oracle
    // verbatim: two algorithms, one fixpoint — that equality is the test.
    ("q161_cc_star", (s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.spread(Tables.t(s, dir, "documents")).select(
        $"doc_id".as("id"),
        concat($"lang", lit("_"), expr("n_chars div 100")).as("bucket"),
        TA.charNgramInts($"text", 3).as("grams"))
      val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.55, broadcastGrams = true)
      Dedup.connectedComponentsStar(pairs)
        .groupBy($"label".as("component"))
        .agg(count(lit(1)).as("n_members"), max($"id").as("max_id"))
        .orderBy("component")
    }, Some("""
      WITH RECURSIVE d AS (SELECT doc_id, lang || '_' || (n_chars // 100) AS bucket,
        list_distinct(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
          i -> (CAST(ascii(substr(text, i, 1)) AS BIGINT) * 1114112 + ascii(substr(text, i + 1, 1))) * 1114112 + ascii(substr(text, i + 2, 1)))) AS grams
        FROM documents),
      pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM d a JOIN d b USING (bucket)
        WHERE a.doc_id < b.doc_id
          AND len(list_intersect(a.grams, b.grams)) / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.55),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      cc(id, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, cc.label FROM edges e JOIN cc ON cc.id = e.dst),
      comp AS (SELECT id, min(label) AS component FROM cc GROUP BY id)
      SELECT component, count(*) AS n_members, max(id) AS max_id
      FROM comp GROUP BY component ORDER BY component""")),

    // ----- containment (asymmetric near-dup) ------------------------------
    // Subset duplication detection: a short doc quoted wholesale inside
    // a long one has Jaccard ≈ |A|/|B| (invisible to q21's threshold)
    // but containment |A∩B|/|A| ≈ 1. Candidates come from the same
    // banded-minhash equi-join as q21; the keep filter is the integer
    // inequality 10·|A∩B| ≥ 7·min(|A|,|B|), so no float crosses the
    // gate — the emitted ratios are single divisions of exact integers.
    ("q162_containment", (s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id".as("id"),
          graft.functions.WordShingleHash32(TA.normText($"text"), 3).as("hs"))
      Dedup.minhashLshContainment(docs, nBands = 4, minContainTenths = 7)
        .orderBy("id_a", "id_b")
    }, Some(s"""
      $minhashCandCte,
      j AS (SELECT c.id_a, c.id_b,
          CAST(len(a.hs) AS BIGINT) AS n_a, CAST(len(b.hs) AS BIGINT) AS n_b,
          CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS inter_n
        FROM cand c JOIN hst a ON a.doc_id = c.id_a JOIN hst b ON b.doc_id = c.id_b)
      SELECT id_a, id_b, n_a, n_b, inter_n,
        inter_n / n_a AS cont_a, inter_n / n_b AS cont_b
      FROM j WHERE inter_n * 10 >= least(n_a, n_b) * 7
      ORDER BY id_a, id_b""")),

    // Fingerprint selection, skew-mitigation,
    // profiling-statistics, and curation-policy operators, each with a
    // DuckDB oracle.
    //
    // House rules as elsewhere in the battery: deterministic md5-derived
    // hashes shared verbatim between the Spark plan and the oracle SQL,
    // integer (micro-unit) arithmetic wherever float summation order could
    // diverge between engines, and every aggregate aliased identically on
    // both sides.

    // ----- winnowing fingerprint selection (Schleimer et al. 2003) ------
    // Robust local document fingerprinting: hash every 3-word shingle,
    // slide a w=4 window over consecutive shingle positions, and keep the
    // RIGHTMOST MINIMAL hash of each window. The guarantee: any shared
    // run of >= w+k-1 tokens between two documents shares at least one
    // selected fingerprint, at ~2/(w+1) the storage of full shingling.
    //
    // The rightmost-min selection is one window aggregate: minimizing
    // v = h*M + (M-1-pos) (M = 2^20 > any in-doc position) picks the
    // smallest hash and, among ties, the largest position — both
    // components recovered exactly by div/mod. Everything after the
    // explode is partition-local to the doc (one shuffle on doc_id for
    // the window sort, no joins), so 100 TB costs one pass; the selected
    // fingerprints are the compact join key a downstream plagiarism /
    // near-dup stage would bucket on.
    ("q174_winnowing", (s: SparkSession, dir: String) => {
      import s.implicits._
      val W = 4; val M = 1048576L
      val grams = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", split(TA.normText($"text"), " ").as("a"))
        .filter(size($"a") >= W + 2) // need >= W shingles for one full window
        .select($"doc_id", (size($"a") - 2).cast("long").as("m"),
          explode(expr("sequence(1, size(a) - 2)")).as("j"), $"a")
        .select($"doc_id", $"m", $"j",
          conv(substring(md5(expr("array_join(slice(a, j, 3), ' ')")), 1, 8), 16, 10)
            .cast("long").as("h"))
      val frame = Window.partitionBy($"doc_id").orderBy($"j")
        .rowsBetween(Window.currentRow, W - 1)
      grams
        .withColumn("vmin", min($"h" * M + (lit(M - 1) - $"j")).over(frame))
        .withColumn("cnt", count(lit(1)).over(frame))
        .filter($"cnt" === W) // full windows only
        .select($"doc_id", $"m",
          expr(s"vmin div $M").as("selh"),
          (lit(M - 1) - ($"vmin" % M)).as("selpos"))
        .distinct()
        .groupBy($"doc_id", $"m")
        .agg(count(lit(1)).as("n_fp"), sum($"selh").as("fp_hash_sum"))
        .select($"doc_id", $"m".as("n_grams"), $"n_fp", $"fp_hash_sum",
          expr("(1000000 * n_fp) div m").as("fp_density_micro"))
        .orderBy($"doc_id")
    }, Some(s"""
      WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS a FROM documents),
      g AS (SELECT doc_id, CAST(len(a) - 2 AS BIGINT) AS m, j,
          ('0x' || substr(md5(array_to_string(list_slice(a, CAST(j AS INT), CAST(j + 2 AS INT)), ' ')), 1, 8))::BIGINT AS h
        FROM base, unnest(range(1, len(a) - 1)) AS t(j) WHERE len(a) >= 6),
      wv AS (SELECT doc_id, m,
          min(h * 1048576 + (1048575 - j)) OVER fr AS vmin,
          count(*) OVER fr AS cnt
        FROM g WINDOW fr AS (PARTITION BY doc_id ORDER BY j ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)),
      sel AS (SELECT DISTINCT doc_id, m, vmin // 1048576 AS selh,
          1048575 - (vmin % 1048576) AS selpos
        FROM wv WHERE cnt = 4)
      SELECT doc_id, m AS n_grams, CAST(count(*) AS BIGINT) AS n_fp,
        CAST(sum(selh) AS BIGINT) AS fp_hash_sum,
        CAST((1000000 * count(*)) // m AS BIGINT) AS fp_density_micro
      FROM sel GROUP BY doc_id, m ORDER BY doc_id""")),

    // ----- cross-source duplicate leakage matrix ------------------------
    // Inter-source contamination audit: how many duplicate PAIRS connect
    // each (source_a, source_b) — the full source×source matrix, where
    // q108's screen is one benchmark vs one corpus. Clusters come from
    // the 10-token-prefix blocking key; per-cluster per-source counts are
    // one aggregate, and the pair matrix is a self-join ON THE CLUSTER
    // KEY — cluster-sized groups, never a corpus-scale cross join. The
    // combinatorics stay integer-exact: n_a·n_b across sources,
    // n·(n-1)/2 within one. At 100 TB the cluster-count table is orders
    // of magnitude smaller than the corpus, so the matrix is nearly free
    // once the blocking aggregate is paid.
    ("q175_source_leakage", (s: SparkSession, dir: String) => {
      import s.implicits._
      val cs = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source",
          md5(array_join(slice(split(TA.normText($"text"), " "), 1, 10), " ")).as("ck"))
        .groupBy($"ck", $"source").agg(count(lit(1)).as("n"))
      val a = cs.select($"ck", $"source".as("source_a"), $"n".as("na"))
      val b = cs.select($"ck", $"source".as("source_b"), $"n".as("nb"))
      a.join(b, Seq("ck"))
        .filter($"source_a" < $"source_b" ||
          ($"source_a" === $"source_b" && $"na" > 1))
        .select($"ck", $"source_a", $"source_b",
          when($"source_a" === $"source_b", expr("na * (na - 1) div 2"))
            .otherwise($"na" * $"nb").as("pairs"))
        .groupBy($"source_a", $"source_b")
        .agg(sum($"pairs").as("n_pairs"), countDistinct($"ck").as("n_clusters"))
        .orderBy($"source_a", $"source_b")
    }, Some(s"""
      WITH pk AS (SELECT doc_id, source,
          md5(array_to_string(list_slice(string_split($normSql, ' '), 1, 10), ' ')) AS ck
        FROM documents),
      cs AS (SELECT ck, source, CAST(count(*) AS BIGINT) AS n FROM pk GROUP BY 1, 2)
      SELECT a.source AS source_a, b.source AS source_b,
        CAST(sum(CASE WHEN a.source = b.source THEN a.n * (a.n - 1) // 2
          ELSE a.n * b.n END) AS BIGINT) AS n_pairs,
        CAST(count(DISTINCT a.ck) AS BIGINT) AS n_clusters
      FROM cs a JOIN cs b ON a.ck = b.ck
        AND (a.source < b.source OR (a.source = b.source AND a.n > 1))
      GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ----- dedup survivor selection (canonicalization policy) -----------
    // Dup clusters keep their BEST member, not an arbitrary one: cluster
    // on the 10-token normalized prefix hash (the boilerplate/near-dup
    // blocking key — full-content md5 is the degenerate exact case) and
    // pick the LONGEST member as canonical (ties → lowest doc_id) — the
    // keep-the-richest-variant policy, vs q137's keep-first. One window
    // rank + one aggregate per cluster key — the same shuffle the dedup
    // groupBy already pays, so the policy is free at 100 TB. bytes_saved
    // quantifies what dropping the non-canonical members reclaims; the
    // (cluster_key → canonical_id) mapping is the lookup a rewrite stage
    // applies.
    ("q177_dedup_survivors", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"n_chars",
          md5(array_join(slice(split(TA.normText($"text"), " "), 1, 10), " ")).as("ck"))
      val rn = row_number().over(
        Window.partitionBy($"ck").orderBy(desc("n_chars"), $"doc_id"))
      d.withColumn("rn", rn)
        .groupBy($"ck")
        .agg(count(lit(1)).as("members"),
          sum($"n_chars").as("bytes_total"),
          max(when($"rn" === 1, $"doc_id")).as("canonical_id"),
          max(when($"rn" === 1, $"n_chars")).as("canonical_chars"))
        .filter($"members" > 1)
        .select($"ck".as("cluster_key"), $"canonical_id", $"members",
          $"bytes_total", ($"bytes_total" - $"canonical_chars").as("bytes_saved"))
        .orderBy($"canonical_id")
    }, Some(s"""
      WITH pk AS (SELECT doc_id, n_chars,
          md5(array_to_string(list_slice(string_split($normSql, ' '), 1, 10), ' ')) AS ck
        FROM documents),
      d AS (SELECT doc_id, n_chars, ck,
          row_number() OVER (PARTITION BY ck
            ORDER BY n_chars DESC, doc_id) AS rn
        FROM pk),
      a AS (SELECT ck, CAST(count(*) AS BIGINT) AS members,
          CAST(sum(n_chars) AS BIGINT) AS bytes_total,
          max(CASE WHEN rn = 1 THEN doc_id END) AS canonical_id,
          max(CASE WHEN rn = 1 THEN n_chars END) AS canonical_chars
        FROM d GROUP BY ck)
      SELECT ck AS cluster_key, canonical_id, members, bytes_total,
        bytes_total - canonical_chars AS bytes_saved
      FROM a WHERE members > 1 ORDER BY canonical_id""")),

    // ----- blocking-strategy recall/cost audit --------------------------
    // Candidate-generation engineering: three blockers over the same
    // corpus — 10-token-prefix hash, 64-char length band, and a MinHash
    // LSH band (the q21 pipeline's band 0, same shared permutation
    // template) — and the pair-count breakdown by provenance bitmap:
    // which pairs only ONE blocker finds, which all three agree on. The
    // per-cell counts are exactly the recall-vs-join-cost tradeoff a
    // blocking designer tunes (length banding, notably, buys little
    // unique recall for its quadratic-in-band cost — visible in its
    // exclusive cell). Every blocker is an equi-join on its key; the
    // union dedup is one aggregate on the pair id — no cross joins
    // anywhere, and each doc carries exactly one key per blocker so the
    // per-blocker join emits each pair once.
    ("q179_blocking_recall", (s: SparkSession, dir: String) => {
      import s.implicits._
      val keys = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"n_chars",
          md5(array_join(slice(split(TA.normText($"text"), " "), 1, 10), " ")).as("k_prefix"),
          expr("n_chars div 64").as("k_len"),
          graft.functions.WordShingleHash32(TA.normText($"text"), 3).as("hs"))
        .withColumn("k_band",
          Dedup.bandKey(Seq(Dedup.minhashInt($"hs", 0), Dedup.minhashInt($"hs", 1))))
        .drop("hs").localCheckpoint() // three self-joins read it; hash once
      def bPairs(key: String, fp: Long, fl: Long, fb: Long): DataFrame = {
        val a = keys.select(col(key).as("k"), $"doc_id".as("id_a"))
        val b = keys.select(col(key).as("k"), $"doc_id".as("id_b"))
        a.join(b, Seq("k")).filter($"id_a" < $"id_b")
          .select($"id_a", $"id_b", lit(fp).as("b_prefix"),
            lit(fl).as("b_length"), lit(fb).as("b_band"))
      }
      bPairs("k_prefix", 1, 0, 0)
        .unionByName(bPairs("k_len", 0, 1, 0))
        .unionByName(bPairs("k_band", 0, 0, 1))
        .groupBy($"id_a", $"id_b")
        .agg(max($"b_prefix").as("b_prefix"), max($"b_length").as("b_length"),
          max($"b_band").as("b_band"))
        .groupBy($"b_prefix", $"b_length", $"b_band")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy($"b_prefix", $"b_length", $"b_band")
    }, Some(s"""
      WITH d AS (SELECT doc_id, n_chars, string_split($normSql, ' ') AS arr FROM documents),
      sh AS (SELECT doc_id, n_chars, arr,
          list_distinct(list_transform(range(1, greatest(len(arr) - 2, 1) + 1),
            i -> array_to_string(arr[i:i+2], ' '))) AS shl FROM d),
      hst AS (SELECT doc_id, n_chars, arr,
          list_distinct(list_transform(shl, g -> ('0x' || substr(md5(g), 1, 8))::BIGINT)) AS hs
        FROM sh),
      mh AS (SELECT doc_id, n_chars, arr,
          ${Dedup.minhashSql(0)} AS m0, ${Dedup.minhashSql(1)} AS m1 FROM hst),
      keys AS (SELECT doc_id,
          md5(array_to_string(list_slice(arr, 1, 10), ' ')) AS k_prefix,
          n_chars // 64 AS k_len,
          md5(CAST(m0 AS VARCHAR) || '|' || CAST(m1 AS VARCHAR)) AS k_band
        FROM mh),
      p1 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, 1 AS b_prefix, 0 AS b_length, 0 AS b_band
        FROM keys a JOIN keys b ON a.k_prefix = b.k_prefix AND a.doc_id < b.doc_id),
      p2 AS (SELECT a.doc_id, b.doc_id, 0, 1, 0
        FROM keys a JOIN keys b ON a.k_len = b.k_len AND a.doc_id < b.doc_id),
      p3 AS (SELECT a.doc_id, b.doc_id, 0, 0, 1
        FROM keys a JOIN keys b ON a.k_band = b.k_band AND a.doc_id < b.doc_id),
      u AS (SELECT id_a, id_b, max(b_prefix) AS b_prefix, max(b_length) AS b_length,
          max(b_band) AS b_band
        FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3)
        GROUP BY 1, 2)
      SELECT CAST(b_prefix AS BIGINT) AS b_prefix, CAST(b_length AS BIGINT) AS b_length,
        CAST(b_band AS BIGINT) AS b_band, CAST(count(*) AS BIGINT) AS n_pairs
      FROM u GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // ----- incremental dedup against a reference corpus -----------------
    // The production dedup shape self-dedup (q21/q41) never exercises:
    // a NEW BATCH arrives and must be deduped against everything already
    // ingested, without rescanning old-vs-old pairs. Docs split 20/80
    // (doc_id % 5) into batch/corpus; both sides carry two MinHash LSH
    // band keys (seeds 0..3, the q21 permutation template, band label
    // folded into the key so bands can't cross-match); a batch doc drops
    // iff ANY of its band keys appears in the corpus key set — one
    // semi-join on the key, one distinct. At 100 TB the corpus key set
    // is the persisted index a real pipeline maintains incrementally;
    // the per-batch cost is hashing the batch plus an equi-join whose
    // build side is key-count-sized, never corpus-content-sized, and
    // old-old pairs are structurally never generated. kept_idsum pins
    // exact membership.
    ("q183_incremental_dedup", (s: SparkSession, dir: String) => {
      import s.implicits._
      val mh = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"source",
          graft.functions.WordShingleHash32(TA.normText($"text"), 3).as("hs"))
        .select($"doc_id", $"source",
          Dedup.minhashInt($"hs", 0).as("m0"), Dedup.minhashInt($"hs", 1).as("m1"),
          Dedup.minhashInt($"hs", 2).as("m2"), Dedup.minhashInt($"hs", 3).as("m3"))
      val keys = mh.select($"doc_id", explode(array(
        md5(concat_ws("|", lit("b0"), $"m0".cast("string"), $"m1".cast("string"))),
        md5(concat_ws("|", lit("b1"), $"m2".cast("string"), $"m3".cast("string")))))
        .as("bk"))
      val corpusKeys = keys.filter($"doc_id" % 5 =!= 0).select($"bk").distinct()
      val dropped = keys.filter($"doc_id" % 5 === 0)
        .join(corpusKeys, Seq("bk"), "left_semi")
        .select($"doc_id").distinct().withColumn("isdrop", lit(1L))
      mh.filter($"doc_id" % 5 === 0).select($"doc_id", $"source")
        .join(dropped, Seq("doc_id"), "left")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_batch"),
          sum(when($"isdrop" === 1L, 1L).otherwise(0L)).as("n_dropped"),
          sum(when($"isdrop".isNull, $"doc_id").otherwise(0L)).as("kept_idsum"))
        .select($"source", $"n_batch", $"n_dropped",
          ($"n_batch" - $"n_dropped").as("n_kept"), $"kept_idsum")
        .orderBy($"source")
    }, Some(s"""
      WITH d AS (SELECT doc_id, source, string_split($normSql, ' ') AS arr FROM documents),
      sh AS (SELECT doc_id, source,
          list_distinct(list_transform(range(1, greatest(len(arr) - 2, 1) + 1),
            i -> array_to_string(arr[i:i+2], ' '))) AS shl FROM d),
      hst AS (SELECT doc_id, source,
          list_distinct(list_transform(shl, g -> ('0x' || substr(md5(g), 1, 8))::BIGINT)) AS hs
        FROM sh),
      mh AS (SELECT doc_id, source, ${Dedup.minhashSql(0)} AS m0, ${Dedup.minhashSql(1)} AS m1,
          ${Dedup.minhashSql(2)} AS m2, ${Dedup.minhashSql(3)} AS m3 FROM hst),
      keys AS (
        SELECT doc_id, md5('b0|' || CAST(m0 AS VARCHAR) || '|' || CAST(m1 AS VARCHAR)) AS bk FROM mh
        UNION ALL
        SELECT doc_id, md5('b1|' || CAST(m2 AS VARCHAR) || '|' || CAST(m3 AS VARCHAR)) AS bk FROM mh),
      ck AS (SELECT DISTINCT bk FROM keys WHERE doc_id % 5 <> 0),
      dropped AS (SELECT DISTINCT k.doc_id FROM keys k JOIN ck USING (bk) WHERE k.doc_id % 5 = 0)
      SELECT m.source, CAST(count(*) AS BIGINT) AS n_batch,
        CAST(sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        CAST(count(*) - sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN dr.doc_id IS NULL THEN m.doc_id ELSE 0 END) AS BIGINT) AS kept_idsum
      FROM mh m LEFT JOIN dropped dr ON m.doc_id = dr.doc_id
      WHERE m.doc_id % 5 = 0
      GROUP BY m.source ORDER BY m.source""")),

    // Embedding-space curation (semantic dedup,
    // label-noise auditing), training-loader order auditing, and tokenizer
    // economics — each with a DuckDB oracle.
    //
    // House rules as elsewhere: integer-quantized vector math (the q101
    // rule — every product and sum exact in IEEE double at any aggregation
    // order), md5-derived determinism shared verbatim with the oracle,
    // micro-integer outputs near the gate, identical aliases, total ORDER
    // BY.

    // ----- semantic dedup (SemDeDup-style, cell representative) ---------
    // Embedding-space dedup: partition the space into cells (the q26 LSH
    // sign buckets — a k-means cell assignment plugs into the same
    // shape), elect the minimum-id member of each cell as its
    // representative, and drop every other member whose cosine to the
    // representative clears the threshold. Exactly ONE similarity
    // computation per member (vs q26's within-cell pair join): at 100 TB
    // the work is |corpus| dot products after one bucket shuffle, not
    // |cell|² pairs — the SemDeDup economy. Quantized vectors make every
    // dot exact; cosine is one IEEE expression both engines evaluate
    // bit-identically (house ANN rule). kept_idsum pins the surviving
    // membership exactly.
    ("q186_semantic_dedup", (s: SparkSession, dir: String) => {
      import s.implicits._
      val prepared = Similarity.prepare(
        Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
      val b = prepared.withColumn("bucket", Similarity.lshBucket($"qvec", Projs))
      val rep = b.groupBy($"bucket").agg(min($"id").as("rep_id"))
      val rv = rep.join(b.select($"id".as("rep_id"), $"qvec".as("r_vec"), $"n2".as("r_n2")),
        Seq("rep_id"))
      b.join(rv, Seq("bucket"))
        .withColumn("dropped",
          when($"id" =!= $"rep_id" &&
            Similarity.cosine(Similarity.dot($"qvec", $"r_vec"), $"n2", $"r_n2") >= 0.4,
            1L).otherwise(0L))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_members"), sum($"dropped").as("n_dropped"),
          sum(when($"dropped" === 0L, $"id").otherwise(0L)).as("kept_idsum"))
        .select($"bucket".cast("long").as("bucket"), $"n_members", $"n_dropped",
          $"kept_idsum")
        .orderBy($"bucket")
    }, Some(s"""
      WITH $prepSql,
      b AS (SELECT vec_id, qvec, n2, $bucketSql AS bucket FROM n),
      rep AS (SELECT bucket, min(vec_id) AS rep_id FROM b GROUP BY 1),
      rv AS (SELECT r.bucket, r.rep_id, m.qvec AS r_vec, m.n2 AS r_n2
        FROM rep r JOIN b m ON m.vec_id = r.rep_id),
      d AS (SELECT b.bucket, b.vec_id,
          CASE WHEN b.vec_id <> rv.rep_id
            AND list_dot_product(b.qvec, rv.r_vec) / sqrt(b.n2 * rv.r_n2) >= 0.4
            THEN 1 ELSE 0 END AS dropped
        FROM b JOIN rv ON b.bucket = rv.bucket)
      SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_members,
        CAST(sum(dropped) AS BIGINT) AS n_dropped,
        CAST(sum(CASE WHEN dropped = 0 THEN vec_id ELSE 0 END) AS BIGINT) AS kept_idsum
      FROM d GROUP BY bucket ORDER BY bucket""")),

    // Two additions, both answering design questions a scale
    // probe raised: how to SHARD a corpus so dedup can run shard-locally,
    // and how small a minhash signature can get before the estimate
    // degrades (the persistent-index capacity dial).
    //
    // House rules as elsewhere: shared md5/permutation templates, integer
    // arithmetic near the gate, no negative integer division (Spark
    // truncates, DuckDB floors — clamp first), identical aliases, total
    // ORDER BY.

    // ----- shard-locality audit for distributed dedup --------------------
    // The 100 TB partition-design question, quantified: dedup run
    // SHARD-LOCALLY (each shard deduped independently — embarrassingly
    // parallel, no global shuffle) only finds duplicate pairs whose two
    // members hash to the same shard. This audit takes the q21 verified
    // near-dup pairs as ground truth and measures the intra-shard
    // fraction under two 16-shard policies: 'hash16' (uniform md5 of
    // the doc id — the naive layout; expected intra ≈ 1/16, i.e. the
    // audit PROVES random sharding forfeits ~94% of dup pairs) and
    // 'band' (shard by the doc's first LSH band key — the
    // locality-preserving layout, where band-equal pairs land together
    // by construction and recall is bounded only by pairs caught via
    // the other bands). The pair list is rare-event output (orders
    // smaller than the corpus) and the policy comparison is one explode
    // + aggregate over it, so the audit costs nothing beyond the dedup
    // it audits.
    ("q198_shard_locality", (s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id".as("id"),
          graft.functions.WordShingleHash32(TA.normText($"text"), 3).as("hs"))
      val pairs = Dedup.minhashLshPairsHashed(docs, nBands = 4, threshold = 0.5)
        .select($"id_a", $"id_b")
      val keyed = docs.select($"id",
        (conv(substring(md5(concat(lit("sh|"), $"id".cast("string"))), 1, 8), 16, 10)
          .cast("long") % 16).as("shard_hash"),
        (conv(substring(md5(concat_ws("|",
            Dedup.minhashInt($"hs", 0).cast("string"),
            Dedup.minhashInt($"hs", 1).cast("string"))), 1, 8), 16, 10)
          .cast("long") % 16).as("shard_band"))
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      val j = pairs
        .join(keyed.toDF("id_a", "ha", "ba"), Seq("id_a"))
        .join(keyed.toDF("id_b", "hb", "bb"), Seq("id_b"))
      j.select(explode(array(
          struct(lit("band").as("policy"),
            when($"ba" === $"bb", 1L).otherwise(0L).as("intra")),
          struct(lit("hash16").as("policy"),
            when($"ha" === $"hb", 1L).otherwise(0L).as("intra")))).as("p"))
        .select($"p.policy".as("policy"), $"p.intra".as("intra"))
        .groupBy($"policy")
        .agg(count(lit(1)).as("n_pairs"), sum($"intra").as("n_intra"))
        .crossJoin(broadcast(nd))
        .select($"policy", $"n_docs", $"n_pairs", $"n_intra",
          expr("(1000000 * n_intra) div n_pairs").as("intra_micro"))
        .orderBy($"policy")
    }, Some(s"""
      $minhashVerifiedCte,
      pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
      keyed AS (SELECT doc_id,
          ('0x' || substr(md5('sh|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 16 AS shard_hash,
          ('0x' || substr(md5(CAST(m0 AS VARCHAR) || '|' || CAST(m1 AS VARCHAR)), 1, 8))::BIGINT % 16 AS shard_band
        FROM mh),
      nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM d),
      j AS (SELECT a.shard_hash AS ha, a.shard_band AS ba,
          b.shard_hash AS hb, b.shard_band AS bb
        FROM pairs p JOIN keyed a ON a.doc_id = p.id_a JOIN keyed b ON b.doc_id = p.id_b),
      pol AS (SELECT 'band' AS policy, CASE WHEN ba = bb THEN 1 ELSE 0 END AS intra FROM j
        UNION ALL SELECT 'hash16' AS policy, CASE WHEN ha = hb THEN 1 ELSE 0 END FROM j)
      SELECT policy, nd.n_docs, CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(intra) AS BIGINT) AS n_intra,
        (1000000 * CAST(sum(intra) AS BIGINT)) // CAST(count(*) AS BIGINT) AS intra_micro
      FROM pol CROSS JOIN nd GROUP BY policy, nd.n_docs ORDER BY policy""")),

    // ----- b-bit minhash: the signature-store capacity dial ---------------
    // q194's 8-perm source signatures kept as 64-bit values; at 100 TB
    // the persistent dedup/similarity index stores one signature per
    // document, so bytes-per-perm is the capacity dial. b-bit minhash
    // (Li & König, 2010) keeps only the LOWEST b bits of each perm —
    // 16× smaller at b=4 — and corrects the estimate for accidental
    // low-bit collisions: with collision baseline C = 2^-b,
    //   Ĵ = (match_frac − C) / (1 − C),
    // which at b=4, 8 perms clears to the integer form
    //   est = 1e6 · max(0, 2·matches − 1) / 15
    // (clamped BEFORE the division — Spark's div truncates while
    // DuckDB's // floors, so a negative numerator would silently
    // diverge). Emitted next to the full-width estimate and the exact
    // token-set Jaccard: the three-way comparison IS the sizing table —
    // what resolution each storage tier buys at |sources|² cost, never
    // touching content.
    ("q199_bbit_minhash", (s: SparkSession, dir: String) => {
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
      val fullM = (0 until 8).map(k =>
        when(col(s"a_m$k") === col(s"b_m$k"), 1).otherwise(0)).reduce(_ + _)
      val bbitM = (0 until 8).map(k =>
        when(col(s"a_m$k") % 16 === col(s"b_m$k") % 16, 1).otherwise(0)).reduce(_ + _)
      val pairs = a.join(b, col("a_source") < col("b_source"))
        .select(col("a_source").as("source_a"), col("b_source").as("source_b"),
          col("a_n_toks").as("n_a"), col("b_n_toks").as("n_b"),
          fullM.cast("long").as("full_matches"),
          bbitM.cast("long").as("bbit_matches"))
      val inter = st.toDF("source_a", "tok")
        .join(st.toDF("source_b", "tok"), Seq("tok"))
        .filter($"source_a" < $"source_b")
        .groupBy($"source_a", $"source_b").agg(count(lit(1)).as("inter"))
      pairs.join(inter, Seq("source_a", "source_b"), "left")
        .na.fill(0L, Seq("inter"))
        .select($"source_a", $"source_b", $"full_matches", $"bbit_matches",
          ($"full_matches" * 125000).as("est_full_micro"),
          expr("(1000000 * greatest(0, 2 * bbit_matches - 1)) div 15").as("est_bbit_micro"),
          expr("(1000000 * inter) div (n_a + n_b - inter)").as("exact_micro"))
        .orderBy($"source_a", $"source_b")
    }, Some {
      val mins = (0 until 8).map { k =>
        val (a, b) = Dedup.permConsts(k)
        s"min((h * $a + $b) % $P) AS m$k"
      }.mkString(", ")
      val eqFull = (0 until 8).map(k =>
        s"(CASE WHEN a.m$k = b.m$k THEN 1 ELSE 0 END)").mkString(" + ")
      val eqBbit = (0 until 8).map(k =>
        s"(CASE WHEN a.m$k % 16 = b.m$k % 16 THEN 1 ELSE 0 END)").mkString(" + ")
      s"""
      WITH st AS (SELECT DISTINCT source, tok
        FROM (SELECT source, unnest(string_split($normSql, ' ')) AS tok FROM documents)),
      h AS (SELECT source, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM st),
      sig AS (SELECT source, CAST(count(*) AS BIGINT) AS n_toks, $mins
        FROM h GROUP BY 1),
      pairs AS (SELECT a.source AS source_a, b.source AS source_b,
          a.n_toks AS n_a, b.n_toks AS n_b,
          CAST($eqFull AS BIGINT) AS full_matches,
          CAST($eqBbit AS BIGINT) AS bbit_matches
        FROM sig a JOIN sig b ON a.source < b.source),
      i AS (SELECT x.source AS source_a, y.source AS source_b,
          CAST(count(*) AS BIGINT) AS inter
        FROM st x JOIN st y ON x.tok = y.tok AND x.source < y.source GROUP BY 1, 2)
      SELECT p.source_a, p.source_b, p.full_matches, p.bbit_matches,
        p.full_matches * 125000 AS est_full_micro,
        (1000000 * greatest(0, 2 * p.bbit_matches - 1)) // 15 AS est_bbit_micro,
        (1000000 * CAST(coalesce(i.inter, 0) AS BIGINT))
          // (p.n_a + p.n_b - CAST(coalesce(i.inter, 0) AS BIGINT)) AS exact_micro
      FROM pairs p LEFT JOIN i ON p.source_a = i.source_a AND p.source_b = i.source_b
      ORDER BY 1, 2"""
    }),

    // ----- KMV sketch merge: mergeability, proven relationally -----------
    // The property every distributed sketch lives on: bottom-k of the
    // UNION of per-source bottom-k sketches equals bottom-k of the full
    // set (any of the k globally smallest hashes is necessarily inside
    // its own source's bottom-k). This operator computes the corpus
    // distinct-SHINGLE estimate (the 3-gram universe — 16k+ values at
    // test SF, where the word vocab is too small for k=64) BOTH ways —
    // directly, and by merging the
    // per-source sketches — with the same q53 estimator
    // (k−1)·2⁴⁸ / h_(k); the gate pins them equal. At 100 TB the
    // per-source sketches are the persisted incremental state (64 longs
    // per source per batch) and the merge path touches k·|sources| rows,
    // never the corpus: this query IS the re-estimation a mixing planner
    // runs after every ingest. Both bottom-k cuts are ORDER BY + LIMIT —
    // TakeOrderedAndProject, per-partition top-k then one k-row merge,
    // no single-partition vocabulary sort anywhere.
    ("q202_kmv_merge", (s: SparkSession, dir: String) => {
      import s.implicits._
      val k = 64
      val st = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", explode(TA.shingles($"text", 3)).as("tok"))
        .distinct()
      val h = st.withColumn("h",
        conv(substring(md5($"tok"), 1, 12), 16, 10).cast("long"))
        .localCheckpoint() // consumed by 3 branches (direct, sketch, exact)
      val wS = Window.partitionBy($"source").orderBy($"h", $"tok")
      val sketches = h.withColumn("rn", row_number().over(wS))
        .filter($"rn" <= k).select($"h", $"tok")
      val mergedKth = sketches.distinct().orderBy($"h", $"tok").limit(k)
        .agg(max($"h").as("kh"))
      val directKth = h.select($"h", $"tok").distinct().orderBy($"h", $"tok").limit(k)
        .agg(max($"h").as("kh"))
      val exact = h.select($"tok").distinct().agg(count(lit(1)).as("n_exact"))
      val ns = h.select($"source").distinct().agg(count(lit(1)).as("n_sources"))
      ns.crossJoin(exact)
        .crossJoin(directKth.select(
          (lit((k - 1).toDouble) * lit(math.pow(2, 48)) / $"kh".cast("double"))
            .as("est_direct")))
        .crossJoin(mergedKth.select(
          (lit((k - 1).toDouble) * lit(math.pow(2, 48)) / $"kh".cast("double"))
            .as("est_merged")))
        .select($"n_sources", $"n_exact", $"est_direct", $"est_merged")
    }, Some(s"""
      WITH d AS (SELECT source, string_split($normSql, ' ') AS arr FROM documents),
      st AS (SELECT DISTINCT source, tok
        FROM (SELECT source, unnest(list_transform(range(1, greatest(len(arr) - 2, 1) + 1),
          i -> array_to_string(arr[i:i+2], ' '))) AS tok FROM d)),
      h AS (SELECT source, tok, ('0x' || substr(md5(tok), 1, 12))::BIGINT AS h FROM st),
      sk AS (SELECT h, tok FROM (SELECT h, tok,
          row_number() OVER (PARTITION BY source ORDER BY h, tok) AS rn FROM h)
        WHERE rn <= 64),
      mk AS (SELECT max(h) AS kh FROM (SELECT DISTINCT h, tok FROM sk ORDER BY h, tok LIMIT 64)),
      dk AS (SELECT max(h) AS kh FROM (SELECT DISTINCT h, tok FROM h ORDER BY h, tok LIMIT 64)),
      x AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS n_exact FROM h),
      nsrc AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources FROM h)
      SELECT nsrc.n_sources, x.n_exact,
        63.0 * 281474976710656 / dk.kh AS est_direct,
        63.0 * 281474976710656 / mk.kh AS est_merged
      FROM nsrc CROSS JOIN x CROSS JOIN dk CROSS JOIN mk""")),

    // Operational planning/uncertainty surfaces — the LSH
    // banding-scheme planner (pick (bands, rows) BEFORE committing a 100 TB
    // dedup run), scan-once Poisson-bootstrap confidence intervals, and an
    // IVF index-staleness audit (what an ingest does to a trained index).
    //
    // Determinism house rules throughout: md5-derived randomness, exact
    // integer inputs to every double expression (so both engines compute
    // bit-identical doubles), micro-integer emission via floor(x·1e6 + 0.5),
    // total ORDER BY.

    // ----- LSH banding-scheme planner (S-curve, predicted vs observed) ----
    // The (bands b, rows r) choice decides an LSH dedup run's recall AND
    // cost before it starts; the S-curve p(s) = 1 − (1 − s^r)^b is the
    // planning formula, and this operator checks it against reality on
    // the 8-perm source signatures (q194's mergeable index — the
    // pairwise stage touches |sources|² signature rows, never content).
    // For each scheme that partitions 8 perms — (b=8,r=1), (b=4,r=2),
    // (b=2,r=4) — it emits how many pairs the banding would CATCH
    // (some band fully equal) next to the theoretical expectation
    // Σ p(s_exact) over the same pairs. Powers are expanded as explicit
    // products of integer-derived doubles (no pow(), whose libm varies
    // by engine), so predicted values are bit-identical. The table IS
    // the dial: r up → precision up/recall down, and the observed gap
    // from theory prices the 8-perm signature's variance. Sets are
    // 3-gram SHINGLES (the q202 universe): source-level shingle
    // similarities sit in the S-curve's discriminating low tail
    // (s ≈ 0.01–0.08 at test SF), where the three schemes actually
    // separate — word-token sets here are near-identical (s ≈ 1) and
    // every scheme catches everything.
    ("q211_lsh_banding_planner", (s: SparkSession, dir: String) => {
      import s.implicits._
      val st = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"source", explode(TA.shingles($"text", 3)).as("tok"))
        .distinct()
        .localCheckpoint() // consumed by the signature and the exact branches
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
      val m: Seq[Column] = (0 until 8).map(k =>
        when(col(s"a_m$k") === col(s"b_m$k"), 1L).otherwise(0L))
      val inter = st.toDF("sa", "tok")
        .join(st.toDF("sb", "tok"), Seq("tok"))
        .filter($"sa" < $"sb")
        .groupBy($"sa", $"sb").agg(count(lit(1)).as("inter"))
      val pairs = a.join(b, col("a_source") < col("b_source"))
        .join(inter, col("a_source") === $"sa" && col("b_source") === $"sb", "left")
        .na.fill(0L, Seq("inter"))
      val sCol = $"inter".cast("double") /
        (col("a_n_toks") + col("b_n_toks") - $"inter").cast("double")
      def micro(p: Column): Column = floor(p * 1000000 + lit(0.5)).cast("long")
      // b=8, r=1: catch = any perm equal; p = 1 - (1-s)^8
      val c81 = when(m.reduce(_ + _) >= 1, 1L).otherwise(0L)
      val t1 = lit(1.0) - sCol
      val p81 = micro(lit(1.0) - (((t1 * t1) * (t1 * t1)) * ((t1 * t1) * (t1 * t1))))
      // b=4, r=2: bands (01)(23)(45)(67); p = 1 - (1-s^2)^4
      val c42 = when(greatest(m(0) * m(1), m(2) * m(3), m(4) * m(5), m(6) * m(7)) >= 1,
        1L).otherwise(0L)
      val t2 = lit(1.0) - sCol * sCol
      val p42 = micro(lit(1.0) - ((t2 * t2) * (t2 * t2)))
      // b=2, r=4: bands (0123)(4567); p = 1 - (1-s^4)^2
      val c24 = when(greatest(m(0) * m(1) * m(2) * m(3),
        m(4) * m(5) * m(6) * m(7)) >= 1, 1L).otherwise(0L)
      val t4 = lit(1.0) - (sCol * sCol) * (sCol * sCol)
      val p24 = micro(lit(1.0) - t4 * t4)
      pairs.select(explode(array(
          struct(lit("b2_r4").as("cfg"), c24.as("caught"), p24.as("exp_micro")),
          struct(lit("b4_r2").as("cfg"), c42.as("caught"), p42.as("exp_micro")),
          struct(lit("b8_r1").as("cfg"), c81.as("caught"), p81.as("exp_micro")))).as("x"))
        .select($"x.cfg".as("cfg"), $"x.caught".as("caught"), $"x.exp_micro".as("exp_micro"))
        .groupBy($"cfg")
        .agg(count(lit(1)).as("n_pairs"), sum($"caught").as("n_caught"),
          sum($"exp_micro").as("exp_caught_micro"))
        .orderBy($"cfg")
    }, Some {
      val mins = (0 until 8).map { k =>
        val (a, b) = Dedup.permConsts(k)
        s"min((h * $a + $b) % $P) AS m$k"
      }.mkString(", ")
      val meq = (0 until 8).map(k =>
        s"(CASE WHEN a.m$k = b.m$k THEN 1 ELSE 0 END)")
      s"""
      WITH d AS (SELECT source, string_split($normSql, ' ') AS arr FROM documents),
      st AS (SELECT DISTINCT source, tok
        FROM (SELECT source, unnest(list_transform(range(1, greatest(len(arr) - 2, 1) + 1),
          i -> array_to_string(arr[i:i+2], ' '))) AS tok FROM d)),
      h AS (SELECT source, tok, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM st),
      sig AS (SELECT source, CAST(count(*) AS BIGINT) AS n_toks, $mins
        FROM h GROUP BY 1),
      i AS (SELECT x.source AS sa, y.source AS sb, CAST(count(*) AS BIGINT) AS inter
        FROM st x JOIN st y ON x.tok = y.tok AND x.source < y.source GROUP BY 1, 2),
      pr AS (SELECT ${meq.zipWithIndex.map { case (e, k) => s"$e AS q$k" }.mkString(", ")},
          CAST(coalesce(i.inter, 0) AS DOUBLE)
            / (a.n_toks + b.n_toks - CAST(coalesce(i.inter, 0) AS BIGINT)) AS s
        FROM sig a JOIN sig b ON a.source < b.source
        LEFT JOIN i ON i.sa = a.source AND i.sb = b.source),
      cfgs AS (
        SELECT 'b8_r1' AS cfg,
          CASE WHEN q0 + q1 + q2 + q3 + q4 + q5 + q6 + q7 >= 1 THEN 1 ELSE 0 END AS caught,
          CAST(floor((1 - (((1-s)*(1-s)) * ((1-s)*(1-s))) * (((1-s)*(1-s)) * ((1-s)*(1-s)))) * 1000000 + 0.5) AS BIGINT) AS exp_micro
        FROM pr
        UNION ALL
        SELECT 'b4_r2',
          CASE WHEN greatest(q0*q1, q2*q3, q4*q5, q6*q7) >= 1 THEN 1 ELSE 0 END,
          CAST(floor((1 - ((1-s*s)*(1-s*s)) * ((1-s*s)*(1-s*s))) * 1000000 + 0.5) AS BIGINT)
        FROM pr
        UNION ALL
        SELECT 'b2_r4',
          CASE WHEN greatest(q0*q1*q2*q3, q4*q5*q6*q7) >= 1 THEN 1 ELSE 0 END,
          CAST(floor((1 - (1-(s*s)*(s*s)) * (1-(s*s)*(s*s))) * 1000000 + 0.5) AS BIGINT)
        FROM pr)
      SELECT cfg, CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(caught) AS BIGINT) AS n_caught,
        CAST(sum(exp_micro) AS BIGINT) AS exp_caught_micro
      FROM cfgs GROUP BY cfg ORDER BY cfg"""
    }),

    // ----- Fellegi–Sunter record-linkage weights --------------------------
    // Probabilistic record linkage: candidate pairs from blocking, scored
    // by the sum of per-field agreement weights w_f = −ln(u_f), where
    // u_f = Σ_v n_v²/N² is the corpus-estimated chance-agreement
    // probability of field f (the Fellegi–Sunter u-probability; the
    // m≈1 simplification drops the disagreement term — the standard
    // upper-bound scorer when no labeled matches exist to estimate m).
    // A rare-valued field agreeing is worth more than a common one —
    // that asymmetry is the whole method: the ~100-value cents field
    // outweighs the ~11-value balance bucket, and the weights come from
    // the data, not hand tuning. Blocks are (nation, segment)
    // equi-join keys, so pair generation is block-bounded, never
    // all-pairs; u-weights are three tiny value-frequency aggregates
    // folded to in-DAG broadcast scalars. At 100 TB the blocking key is
    // the dial: tighten it (add fields) until max block size is
    // bounded, exactly the q179 blocking-recall tradeoff.
    ("q231_fs_linkage", (s: SparkSession, dir: String) => {
      import s.implicits._
      val c = Tables.t(s, dir, "customer")
        .select($"c_custkey".as("k"), $"c_nationkey".as("blk1"),
          $"c_mktsegment".as("blk2"),
          expr("CAST(floor(c_acctbal / 1000) AS BIGINT)").as("f1"),
          expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) % 100").as("f2"),
          substring($"c_name", -1, 1).as("f3"))
        .localCheckpoint() // three u-aggregates + pair self-join
      val nTot = c.agg(count(lit(1)).as("n"))
      def uWeight(field: String) =
        c.groupBy(col(field)).agg(count(lit(1)).as("nv"))
          .crossJoin(broadcast(nTot))
          .agg(expr("CAST(-floor(ln(CAST(sum(nv * nv) AS DOUBLE)" +
            " / (CAST(max(n) AS DOUBLE) * max(n))) * 1e6 + 0.5) AS BIGINT)")
            .as(s"w_$field"))
      val a = c.toDF(c.columns.map(x => s"a_$x"): _*)
      val b = c.toDF(c.columns.map(x => s"b_$x"): _*)
      a.join(b, $"a_blk1" === $"b_blk1" && $"a_blk2" === $"b_blk2" &&
          $"a_k" < $"b_k")
        .crossJoin(broadcast(uWeight("f1")))
        .crossJoin(broadcast(uWeight("f2")))
        .crossJoin(broadcast(uWeight("f3")))
        .select($"a_k".as("key_a"), $"b_k".as("key_b"),
          (when($"a_f1" === $"b_f1", $"w_f1").otherwise(0L)
            + when($"a_f2" === $"b_f2", $"w_f2").otherwise(0L)
            + when($"a_f3" === $"b_f3", $"w_f3").otherwise(0L)).as("score_micro"),
          (when($"a_f1" === $"b_f1", 4L).otherwise(0L)
            + when($"a_f2" === $"b_f2", 2L).otherwise(0L)
            + when($"a_f3" === $"b_f3", 1L).otherwise(0L)).as("agree_mask"))
        .orderBy(desc("score_micro"), $"key_a", $"key_b")
        .limit(20)
    }, Some("""
      WITH c AS (SELECT c_custkey AS k, c_nationkey AS blk1, c_mktsegment AS blk2,
          CAST(floor(c_acctbal / 1000) AS BIGINT) AS f1,
          CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) % 100 AS f2,
          substr(c_name, -1, 1) AS f3
        FROM customer),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
      w1 AS (SELECT CAST(-floor(ln(CAST(sum(nv * nv) AS DOUBLE)
          / (CAST(n.n AS DOUBLE) * n.n)) * 1e6 + 0.5) AS BIGINT) AS w_f1
        FROM (SELECT f1, CAST(count(*) AS BIGINT) AS nv FROM c GROUP BY 1) CROSS JOIN n
        GROUP BY n.n),
      w2 AS (SELECT CAST(-floor(ln(CAST(sum(nv * nv) AS DOUBLE)
          / (CAST(n.n AS DOUBLE) * n.n)) * 1e6 + 0.5) AS BIGINT) AS w_f2
        FROM (SELECT f2, CAST(count(*) AS BIGINT) AS nv FROM c GROUP BY 1) CROSS JOIN n
        GROUP BY n.n),
      w3 AS (SELECT CAST(-floor(ln(CAST(sum(nv * nv) AS DOUBLE)
          / (CAST(n.n AS DOUBLE) * n.n)) * 1e6 + 0.5) AS BIGINT) AS w_f3
        FROM (SELECT f3, CAST(count(*) AS BIGINT) AS nv FROM c GROUP BY 1) CROSS JOIN n
        GROUP BY n.n)
      SELECT a.k AS key_a, b.k AS key_b,
        (CASE WHEN a.f1 = b.f1 THEN w1.w_f1 ELSE 0 END
          + CASE WHEN a.f2 = b.f2 THEN w2.w_f2 ELSE 0 END
          + CASE WHEN a.f3 = b.f3 THEN w3.w_f3 ELSE 0 END) AS score_micro,
        (CASE WHEN a.f1 = b.f1 THEN 4 ELSE 0 END
          + CASE WHEN a.f2 = b.f2 THEN 2 ELSE 0 END
          + CASE WHEN a.f3 = b.f3 THEN 1 ELSE 0 END)::BIGINT AS agree_mask
      FROM c a JOIN c b ON a.blk1 = b.blk1 AND a.blk2 = b.blk2 AND a.k < b.k
      CROSS JOIN w1 CROSS JOIN w2 CROSS JOIN w3
      ORDER BY score_micro DESC, key_a, key_b LIMIT 20""")),

    // ----- content-defined chunk dedup (CDC economics) --------------------
    // Rolling-boundary chunking, the storage-dedup primitive (Rabin/gear
    // CDC as in backup systems and chunk-level lakehouse dedupe): a
    // chunk boundary falls AFTER any token whose hash ≡ 0 (mod 8) —
    // boundaries depend only on local content, so an insertion early in
    // a document cannot reshift every later chunk, which is the whole
    // point vs fixed-width chunking. Chunk ids are one cumulative window
    // per doc; chunk fingerprints are md5 over the ordered token run;
    // dedup economics (duplicate ratio, tokens saved) aggregate per
    // source. Every shuffle key carries doc_id or (source, fp) — at
    // 100 TB chunking is map-side per document and the economics
    // aggregate is a standard two-level groupBy on bounded keys.
    ("q248_cdc_chunking", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"source",
          posexplode(split(TA.normText($"text"), " ")).as(Seq("pos", "tok")))
        .filter(length($"tok") > 0)
      val win = Window.partitionBy($"doc_id").orderBy($"pos")
      val wb = toks
        .withColumn("b",
          (conv(substring(md5(concat(lit("cdc|"), $"tok")), 1, 8), 16, 10)
            .cast("long") % 8 === 0).cast("int"))
        .withColumn("chunk", coalesce(
          sum($"b").over(win.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      val chunks = wb.groupBy($"doc_id", $"source", $"chunk")
        .agg(count(lit(1)).as("clen"),
          md5(array_join(
            expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
            " ")).as("fp"))
      chunks.groupBy($"source", $"fp")
        .agg(count(lit(1)).as("cnt"), max($"clen").as("clen"))
        .groupBy($"source")
        .agg(sum($"cnt").as("n_chunks"), count(lit(1)).as("n_distinct"),
          sum(($"cnt" - 1) * $"clen").as("saved_tokens"),
          sum($"cnt" * $"clen").as("tok_total"))
        .select($"source", $"n_chunks", $"n_distinct",
          expr("1000000 * (n_chunks - n_distinct) div n_chunks")
            .as("dup_ratio_micro"),
          $"saved_tokens",
          expr("1000000 * tok_total div n_chunks").as("avg_len_micro"))
        .orderBy($"source")
    }, Some(s"""
      WITH base AS (SELECT doc_id, source, string_split($normSql, ' ') AS a
        FROM documents),
      toks AS (SELECT doc_id, source, CAST(i - 1 AS BIGINT) AS pos, a[i] AS tok
        FROM base, unnest(range(1, len(a) + 1)) AS t(i) WHERE len(a[i]) > 0),
      wb AS (SELECT *, CASE WHEN ('0x' || substr(md5('cdc|' || tok), 1, 8))::BIGINT
            % 8 = 0 THEN 1 ELSE 0 END AS b FROM toks),
      wc AS (SELECT *, coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk FROM wb),
      chunks AS (SELECT doc_id, source, chunk, CAST(count(*) AS BIGINT) AS clen,
          md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
        FROM wc GROUP BY 1, 2, 3),
      pf AS (SELECT source, fp, CAST(count(*) AS BIGINT) AS cnt,
          max(clen) AS clen FROM chunks GROUP BY 1, 2)
      SELECT source, CAST(sum(cnt) AS BIGINT) AS n_chunks,
        CAST(count(*) AS BIGINT) AS n_distinct,
        CAST(1000000 * (sum(cnt) - count(*)) // sum(cnt) AS BIGINT)
          AS dup_ratio_micro,
        CAST(sum((cnt - 1) * clen) AS BIGINT) AS saved_tokens,
        CAST(1000000 * sum(cnt * clen) // sum(cnt) AS BIGINT) AS avg_len_micro
      FROM pf GROUP BY 1 ORDER BY 1""")),

    // Similarity JOIN via deletion neighborhoods
    // (FastSS), a multi-way join-order advisor on top of q165's
    // cardinality-forecast primitive, and a point-in-time feature-leakage
    // audit — fuzzy linkage, planner, and feature-store correctness
    // surface.
    //
    // House rules as elsewhere: integer arithmetic at every gate, 128-bit
    // (DECIMAL(38,0)/HUGEINT) where count products appear, money in
    // DECIMAL(12,2) (the ParityQueries money rule), identical aliases both
    // sides, total ORDER BY.

    // ----- FastSS fuzzy join (edit distance ≤ 1) --------------------------
    // The similarity JOIN the linkage family lacked: match the corpus
    // vocabulary against the part-name dictionary at Levenshtein ≤ 1
    // WITHOUT the O(|U|·|V|) cross product. Candidate generation is the
    // FastSS deletion-neighborhood trick (Bocek et al.): every word
    // emits itself plus its |w| delete-one variants; two words within
    // ED 1 are guaranteed to share a variant, so candidates fall out of
    // ONE equi-join on the variant string. The neighborhood overshoots
    // (delete-at-different-positions can collide at ED 2, e.g. ab/ba),
    // so a native levenshtein verify — codegen'd in both engines —
    // filters candidates; the audit reports survivors AND rejects, the
    // blocking-precision read. Work is Σ|w| variants per side and the
    // join is hash-partitioned on the variant — at 100 TB vocabulary
    // this is the standard spell-linkage shape (variants of a 1M-word
    // dictionary broadcast; the corpus side never crosses itself).
    ("q256_fuzzy_join_fastss", (s: SparkSession, dir: String) => {
      import s.implicits._
      def variants(words: DataFrame, col0: String) = words
        .select(col(col0),
          explode(expr(s"""transform(sequence(0, length($col0)),
            i -> IF(i = 0, $col0,
              concat(substring($col0, 1, i - 1), substring($col0, i + 1))))"""))
            .as("var"))
        .distinct()
      val u = Tables.spread(Tables.t(s, dir, "documents"))
        .select(explode(split(TA.normText($"text"), " ")).as("u"))
        .filter(length($"u") > 0).distinct()
      val v = Tables.t(s, dir, "part")
        .select(explode(split(lower($"p_name"), " ")).as("v"))
        .filter(length($"v") > 0).distinct()
      val cand = variants(u, "u").join(variants(v, "v"), Seq("var"))
        .select($"u", $"v").distinct()
        .withColumn("ed", levenshtein($"u", $"v"))
        .withColumn("status",
          when($"ed" === 0, lit("ed0")).when($"ed" === 1, lit("ed1"))
            .otherwise(lit("rejected")))
      cand.groupBy($"status")
        .agg(count(lit(1)).as("n_pairs"),
          sum(conv(substring(md5(concat($"u", lit("|"), $"v")), 1, 8), 16, 10)
            .cast("long") % 1000000).as("pair_checksum"))
        .orderBy($"status")
    }, Some(s"""
      WITH u AS (SELECT DISTINCT w AS u FROM
          (SELECT unnest(string_split($normSql, ' ')) AS w FROM documents)
        WHERE len(w) > 0),
      v AS (SELECT DISTINCT w AS v FROM
          (SELECT unnest(string_split(lower(p_name), ' ')) AS w FROM part)
        WHERE len(w) > 0),
      uv AS (SELECT DISTINCT u, CASE WHEN i = 0 THEN u
          ELSE substr(u, 1, CAST(i - 1 AS INT)) || substr(u, CAST(i + 1 AS INT)) END AS var
        FROM u, unnest(range(0, len(u) + 1)) AS t(i)),
      vv AS (SELECT DISTINCT v, CASE WHEN i = 0 THEN v
          ELSE substr(v, 1, CAST(i - 1 AS INT)) || substr(v, CAST(i + 1 AS INT)) END AS var
        FROM v, unnest(range(0, len(v) + 1)) AS t(i)),
      cand AS (SELECT DISTINCT a.u, b.v FROM uv a JOIN vv b ON a.var = b.var),
      ed AS (SELECT u, v, levenshtein(u, v) AS ed FROM cand),
      st AS (SELECT u, v,
          CASE WHEN ed = 0 THEN 'ed0' WHEN ed = 1 THEN 'ed1'
            ELSE 'rejected' END AS status FROM ed)
      SELECT status, CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(('0x' || substr(md5(u || '|' || v), 1, 8))::BIGINT % 1000000)
          AS BIGINT) AS pair_checksum
      FROM st GROUP BY 1 ORDER BY 1""")),

    // Similarity-graph quality — transitivity of the
    // near-dup relation, modularity of the blocking scheme against the
    // near-dup graph, and a bond-percolation robustness curve. All three
    // consume the SAME q21 MinHash+LSH pair pipeline (`ext/Dedup`), so
    // the batch is also a composition test of the shared machinery.
    //
    // House rules as elsewhere: integer arithmetic at every gate, 128-bit
    // (DECIMAL(38,0)/HUGEINT) where count products appear, identical
    // aliases both sides, total ORDER BY.

    // ----- transitivity of the near-dup relation --------------------------
    // Near-duplication is used as if it were an equivalence relation
    // (cluster, keep one representative) — but Jaccard ≥ t is NOT
    // transitive, and every open wedge (A~B~C with A≁C) is a document
    // the cluster policy silently over- or under-merges. The audit
    // counts wedges (both-ways adjacency self-joined on the center,
    // a < b kills mirror double-count) and closes them with one
    // semi-join against the edge list — the q160 wedge shape on the
    // similarity graph. Low transitivity is the signal to lower the
    // threshold or switch to containment (q162) before trusting CC
    // clusters. At 100 TB the wedge join is bounded by Σ deg² of the
    // dup graph — tiny relative to the corpus, since dup components
    // are small by construction.
    ("q267_dup_transitivity", (s: SparkSession, dir: String) => {
      import s.implicits._
      val pairs = lshPairs(s, dir).localCheckpoint() // edges + wedge closure
      val adj = pairs.unionByName(
        pairs.select($"id_b".as("id_a"), $"id_a".as("id_b")))
      val wedges = adj.toDF("c", "a").join(adj.toDF("c", "b"), Seq("c"))
        .filter($"a" < $"b")
        .select($"a", $"b")
      val closed = wedges.join(pairs.toDF("a", "b"), Seq("a", "b"), "left_semi")
      val m = pairs.agg(count(lit(1)).as("n_edges"))
      val w = wedges.agg(count(lit(1)).as("n_wedges"))
      val c = closed.agg(count(lit(1)).as("n_closed"))
      m.crossJoin(w).crossJoin(c)
        .select($"n_edges", $"n_wedges", $"n_closed",
          ($"n_wedges" - $"n_closed").as("n_open"),
          expr("CASE WHEN n_wedges = 0 THEN 1000000 " +
            "ELSE 1000000 * n_closed div n_wedges END").as("transitivity_micro"))
    }, Some(s"""
      WITH ${pairsCte},
      adj AS (SELECT id_a AS c, id_b AS n FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
      wedges AS (SELECT x.n AS a, y.n AS b FROM adj x JOIN adj y ON x.c = y.c
        WHERE x.n < y.n),
      closed AS (SELECT w.a, w.b FROM wedges w
        WHERE EXISTS (SELECT 1 FROM pairs p WHERE p.id_a = w.a AND p.id_b = w.b)),
      agg AS (SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
          (SELECT CAST(count(*) AS BIGINT) FROM wedges) AS n_wedges,
          (SELECT CAST(count(*) AS BIGINT) FROM closed) AS n_closed)
      SELECT n_edges, n_wedges, n_closed,
        n_wedges - n_closed AS n_open,
        CASE WHEN n_wedges = 0 THEN 1000000
          ELSE 1000000 * n_closed // n_wedges END AS transitivity_micro
      FROM agg""")),

    // ----- modularity of the blocking scheme ------------------------------
    // Does the (lang, length-band) blocking actually respect the
    // near-dup graph? Newman modularity of the blocking partition:
    // Q = intra/m − Σ_c (d_c/2m)² — positive when blocks capture more
    // edge mass than a degree-preserving random graph would, ~0 when
    // blocking is no better than chance. q179 measures blocking RECALL
    // (pairs caught); modularity is the graph-normalized version that
    // also punishes oversized blocks. Degree sums per block come from
    // one aggregate; the Σd² term is 128-bit. At 100 TB the entire
    // computation lives on the pair list + one doc-to-block projection.
    ("q268_block_modularity", (s: SparkSession, dir: String) => {
      import s.implicits._
      val pairs = lshPairs(s, dir).localCheckpoint()
      val blocks = Tables.t(s, dir, "documents")
        .select($"doc_id", concat($"lang", lit("_"), expr("n_chars div 100"))
          .as("bucket"))
      val withB = pairs
        .join(blocks.select($"doc_id".as("id_a"), $"bucket".as("ba")), Seq("id_a"))
        .join(blocks.select($"doc_id".as("id_b"), $"bucket".as("bb")), Seq("id_b"))
      val m = withB.agg(count(lit(1)).as("m"),
        sum(($"ba" === $"bb").cast("long")).as("intra"))
      val deg = withB.select($"ba".as("bucket")).unionByName(
          withB.select($"bb".as("bucket")))
        .groupBy($"bucket").agg(count(lit(1)).as("d"))
      val sd2 = deg.agg(sum(expr("CAST(d AS DECIMAL(38,0)) * d")).as("sd2"),
        count(lit(1)).as("n_buckets"))
      m.crossJoin(sd2)
        .select($"m".as("n_edges"), $"intra".as("intra_edges"), $"n_buckets",
          (expr("1000000 * intra div m") -
            expr("CAST(1000000 * sd2 div (CAST(4 AS DECIMAL(38,0)) * m * m) AS BIGINT)"))
            .as("q_modularity_micro"))
    }, Some(s"""
      WITH ${pairsCte},
      blocks AS (SELECT doc_id, lang || '_' || (n_chars // 100) AS bucket
        FROM documents),
      wb AS (SELECT p.id_a, p.id_b, ba.bucket AS ba, bb.bucket AS bb
        FROM pairs p JOIN blocks ba ON p.id_a = ba.doc_id
        JOIN blocks bb ON p.id_b = bb.doc_id),
      mm AS (SELECT CAST(count(*) AS BIGINT) AS m,
          CAST(sum(CASE WHEN ba = bb THEN 1 ELSE 0 END) AS BIGINT) AS intra
        FROM wb),
      deg AS (SELECT bucket, CAST(count(*) AS BIGINT) AS d FROM
          (SELECT ba AS bucket FROM wb UNION ALL SELECT bb FROM wb)
        GROUP BY 1),
      s2 AS (SELECT CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sd2,
          CAST(count(*) AS BIGINT) AS n_buckets FROM deg)
      SELECT mm.m AS n_edges, mm.intra AS intra_edges, s2.n_buckets,
        1000000 * mm.intra // mm.m
          - CAST(1000000 * s2.sd2 // (CAST(4 AS HUGEINT) * mm.m * mm.m) AS BIGINT)
          AS q_modularity_micro
      FROM mm CROSS JOIN s2""")),

    // ----- bond-percolation robustness curve ------------------------------
    // How fragile is the near-dup clustering to missed pairs? Sample
    // the edge list at p = 25% / 50% / 100% (md5-Bernoulli on the
    // pair key — deterministic, the q110 rule) and re-run connected
    // components (the q161 large-star/small-star contraction) on each
    // sample: component count, touched nodes, and largest-component
    // size trace how clusters shatter as recall drops — the
    // quantitative answer to "can we afford fewer bands?". Components
    // here are labeled by their MIN member id, so sizes and checksums
    // are order-free. At 100 TB each sample is a filter over the pair
    // list (tiny next to the corpus) and the contraction is the
    // O(log n)-round algorithm the repo already runs at q161.
    ("q269_percolation_curve", (s: SparkSession, dir: String) => {
      import s.implicits._
      val pairs = lshPairs(s, dir)
        .withColumn("h", conv(substring(md5(concat($"id_a".cast("string"),
          lit("|"), $"id_b".cast("string"))), 1, 8), 16, 10).cast("long") % 4)
        .localCheckpoint()
      val levels = Seq(("p25", 1L), ("p50", 2L), ("p100", 4L))
      levels.map { case (nm, keep) =>
        val sample = pairs.filter($"h" < keep).select($"id_a", $"id_b")
        val labels = Dedup.connectedComponentsStar(sample)
        val comp = labels.groupBy($"label").agg(count(lit(1)).as("sz"))
        val stats = comp.agg(count(lit(1)).as("n_components"),
          coalesce(sum($"sz"), lit(0L)).as("n_nodes"),
          coalesce(max($"sz"), lit(0L)).as("largest"))
        sample.agg(count(lit(1)).as("n_edges")).crossJoin(broadcast(stats))
          .select(lit(nm).as("p"), $"n_edges", $"n_nodes", $"n_components",
            $"largest")
      }.reduce(_ unionByName _).orderBy($"p")
    }, Some(s"""
      WITH RECURSIVE ${pairsCte},
      hp AS (SELECT id_a, id_b,
          ('0x' || substr(md5(CAST(id_a AS VARCHAR) || '|' ||
            CAST(id_b AS VARCHAR)), 1, 8))::BIGINT % 4 AS h
        FROM pairs),
      lv AS (SELECT 'p25' AS p, CAST(1 AS BIGINT) AS keep
        UNION ALL SELECT 'p50', 2 UNION ALL SELECT 'p100', 4),
      se AS (SELECT lv.p, hp.id_a, hp.id_b FROM hp JOIN lv ON hp.h < lv.keep),
      edges AS (SELECT p, id_a AS src, id_b AS dst FROM se
        UNION SELECT p, id_b, id_a FROM se),
      cc(p, id, label) AS (
        SELECT DISTINCT p, src, src FROM edges
        UNION
        SELECT e.p, e.src, cc.label FROM edges e
          JOIN cc ON cc.p = e.p AND cc.id = e.dst),
      comp AS (SELECT p, id, min(label) AS label FROM cc GROUP BY 1, 2),
      sizes AS (SELECT p, label, CAST(count(*) AS BIGINT) AS sz
        FROM comp GROUP BY 1, 2),
      stats AS (SELECT p, CAST(count(*) AS BIGINT) AS n_components,
          CAST(sum(sz) AS BIGINT) AS n_nodes, CAST(max(sz) AS BIGINT) AS largest
        FROM sizes GROUP BY 1),
      ne AS (SELECT p, CAST(count(*) AS BIGINT) AS n_edges FROM se GROUP BY 1)
      SELECT ne.p, ne.n_edges, st.n_nodes, st.n_components, st.largest
      FROM ne JOIN stats st USING (p) ORDER BY ne.p""")),

    // Entity-resolution blocking quality (pair
    // completeness × reduction ratio — the two numbers that justify every
    // blocking scheme the dedup family uses), confident-learning label
    // noise estimation (which given labels does the scorer itself
    // contradict), and the exact cross-source vocabulary overlap matrix
    // (which sources mirror each other wholesale — the source-level
    // companion to q162's doc-level containment).
    //
    // House rules as elsewhere: integer arithmetic at every gate, 128-bit
    // where cross-products can pass Int64, identical aliases both sides,
    // total ORDER BY.

    // ----- blocking quality: pair completeness × reduction ratio ----------
    // Every blocking scheme (q21 bands, q122 sorted neighborhood, q132
    // paragraph blocks) trades recall for candidate count; this
    // operator MEASURES the trade on a planted-truth corpus: each
    // document gets a near-duplicate clone (' copydup' appended, id
    // shifted by 1e12 — the q20 union-with-self device, perturbed so
    // the clone's length moves), truth = the n (original, clone)
    // pairs, and the audited scheme is the classic (lang, length div
    // 100) band block. Pair completeness then reads the boundary-
    // straddle failure mode exactly: a truth pair is co-blocked iff
    // its lengths land in the same band, so PC ≈ 1 − shift/band long
    // before any sampling. Reduction ratio (candidates vs all pairs)
    // runs in DECIMAL(38,0)/HUGEINT — C(2n,2)·1e6 passes int64 at
    // ~2e6 docs. Shape: one block-size aggregate + one map-side truth
    // check; nothing pairwise is ever materialized.
    ("q328_blocking_quality", (s: SparkSession, dir: String) => {
      import s.implicits._
      val d = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", $"lang", $"text")
        .localCheckpoint() // reused: corpus union + truth-pair check
      val corpus = d.select($"doc_id", $"lang", length($"text").as("len"))
        .unionByName(d.select(($"doc_id" + 1000000000000L).as("doc_id"),
          $"lang", (length($"text") + 8).as("len")))
      val cand = corpus.groupBy($"lang", expr("len div 100").as("band"))
        .agg(count(lit(1)).as("b"))
        .agg(sum(expr("b * (b - 1) div 2")).as("n_cand_pairs"),
          sum($"b").as("n_docs"))
      val truth = d.select(
          (expr("length(text) div 100") ===
            expr("(length(text) + 8) div 100")).cast("long").as("cob"))
        .agg(count(lit(1)).as("n_truth_pairs"),
          sum($"cob").as("n_coblocked_truth"))
      cand.crossJoin(broadcast(truth))
        .select($"n_docs", $"n_truth_pairs", $"n_coblocked_truth",
          expr("""CASE WHEN n_truth_pairs = 0 THEN NULL
                  ELSE 1000000 * n_coblocked_truth div n_truth_pairs END""")
            .as("pc_micro"),
          $"n_cand_pairs",
          expr("""CAST(1000000 - CAST(1000000 AS DECIMAL(38,0)) * n_cand_pairs
                  div (CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1) div 2)
                  AS BIGINT)""").as("rr_micro"))
    }, Some("""
      WITH d AS (SELECT doc_id, lang, text FROM documents),
      corpus AS (SELECT doc_id, lang, length(text) AS len FROM d
        UNION ALL SELECT doc_id + 1000000000000, lang, length(text) + 8
        FROM d),
      cand AS (SELECT CAST(sum(b * (b - 1) // 2) AS BIGINT) AS n_cand_pairs,
          CAST(sum(b) AS BIGINT) AS n_docs
        FROM (SELECT lang, len // 100 AS band, CAST(count(*) AS BIGINT) AS b
              FROM corpus GROUP BY 1, 2)),
      truth AS (SELECT CAST(count(*) AS BIGINT) AS n_truth_pairs,
          CAST(sum(CASE WHEN length(text) // 100 = (length(text) + 8) // 100
            THEN 1 ELSE 0 END) AS BIGINT) AS n_coblocked_truth
        FROM d)
      SELECT n_docs, n_truth_pairs, n_coblocked_truth,
        CASE WHEN n_truth_pairs = 0 THEN NULL
          ELSE 1000000 * n_coblocked_truth // n_truth_pairs END AS pc_micro,
        n_cand_pairs,
        CAST(1000000 - CAST(1000000 AS HUGEINT) * n_cand_pairs
          // (CAST(n_docs AS HUGEINT) * (n_docs - 1) // 2) AS BIGINT)
          AS rr_micro
      FROM cand CROSS JOIN truth""")),

    // ----- Fellegi–Sunter linkage weights without pair materialization ----
    // Record-linkage scoring needs, per compare field, the agreement
    // probability among true matches (m) and among non-matches (u) —
    // and the naive u estimate enumerates block-pairs, which is
    // exactly what a 100 TB linkage cannot do. Both come from COUNTS:
    // plant a clone per customer with md5-deterministic field
    // corruption (name 1-in-4, segment 1-in-8, balance-cents 1-in-2),
    // block on nationkey (clones co-block by construction); then
    // m_i = truth pairs agreeing on field i / n (a map-side compare),
    // and u_i's numerator Σ_{block, value} C(cnt, 2) − M_i counts
    // agreeing pairs via per-value group sizes — no pair is ever
    // materialized. The field weight is the log-odds
    // lnm(m_micro) − lnm(u_micro) (micro-ln over micro probabilities;
    // NULL-guarded when a field never or always agrees).
    ("q335_fs_linkage_weights", (s: SparkSession, dir: String) => {
      import s.implicits._
      val a = fsLinkageStats(s, dir)
        .localCheckpoint() // one row; reused by the 3-way unpivot
      def fieldRow(name: String, mCol: String, aCol: String) = a.select(
        lit(name).as("field"),
        expr(s"1000000 * $mCol div n").as("m_micro"),
        expr(s"""CASE WHEN t_pairs - n = 0 THEN NULL
                 ELSE 1000000 * ($aCol - $mCol) div (t_pairs - n) END""")
          .as("u_micro"))
        .select($"field", $"m_micro", $"u_micro",
          expr("""CASE WHEN m_micro IS NULL OR u_micro IS NULL
                    OR m_micro = 0 OR u_micro = 0 THEN NULL
                  ELSE CAST(floor(ln(CAST(m_micro AS DOUBLE)) * 1000000 + 0.5)
                      AS BIGINT)
                    - CAST(floor(ln(CAST(u_micro AS DOUBLE)) * 1000000 + 0.5)
                      AS BIGINT) END""").as("weight_micro"))
      fieldRow("balance", "m_bal", "a_f_bal")
        .unionByName(fieldRow("name", "m_name", "a_f_name"))
        .unionByName(fieldRow("segment", "m_seg", "a_f_seg"))
        .orderBy($"field")
    }, Some("""
      WITH c AS (SELECT c_custkey AS id, c_nationkey AS blk,
          c_name AS f_name, c_mktsegment AS f_seg,
          CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS f_bal
        FROM customer),
      clone AS (SELECT c.id + 1000000000000 AS id, c.blk,
          CASE WHEN ('0x' || substr(md5('fsn|' || CAST(c.id AS VARCHAR)), 1, 8))
            ::BIGINT % 4 = 0 THEN c.f_name || 'x' ELSE c.f_name END AS f_name,
          CASE WHEN ('0x' || substr(md5('fss|' || CAST(c.id AS VARCHAR)), 1, 8))
            ::BIGINT % 8 = 0 THEN 'XXX' ELSE c.f_seg END AS f_seg,
          CASE WHEN ('0x' || substr(md5('fsb|' || CAST(c.id AS VARCHAR)), 1, 8))
            ::BIGINT % 2 = 0 THEN c.f_bal + 1 ELSE c.f_bal END AS f_bal
        FROM c),
      corpus AS (SELECT * FROM c UNION ALL SELECT * FROM clone),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
      truth AS (SELECT
          CAST(sum(CASE WHEN c.f_name = g.f_name THEN 1 ELSE 0 END)
            AS BIGINT) AS m_name,
          CAST(sum(CASE WHEN c.f_seg = g.f_seg THEN 1 ELSE 0 END)
            AS BIGINT) AS m_seg,
          CAST(sum(CASE WHEN c.f_bal = g.f_bal THEN 1 ELSE 0 END)
            AS BIGINT) AS m_bal
        FROM c JOIN clone g ON g.id - 1000000000000 = c.id),
      tb AS (SELECT CAST(sum(nb * (nb - 1) // 2) AS BIGINT) AS t_pairs
        FROM (SELECT blk, CAST(count(*) AS BIGINT) AS nb
              FROM corpus GROUP BY 1)),
      an AS (SELECT CAST(sum(cv * (cv - 1) // 2) AS BIGINT) AS a_name
        FROM (SELECT blk, f_name, CAST(count(*) AS BIGINT) AS cv
              FROM corpus GROUP BY 1, 2)),
      ag AS (SELECT CAST(sum(cv * (cv - 1) // 2) AS BIGINT) AS a_seg
        FROM (SELECT blk, f_seg, CAST(count(*) AS BIGINT) AS cv
              FROM corpus GROUP BY 1, 2)),
      ab AS (SELECT CAST(sum(cv * (cv - 1) // 2) AS BIGINT) AS a_bal
        FROM (SELECT blk, f_bal, CAST(count(*) AS BIGINT) AS cv
              FROM corpus GROUP BY 1, 2)),
      j AS (SELECT * FROM truth CROSS JOIN tb CROSS JOIN nn
        CROSS JOIN an CROSS JOIN ag CROSS JOIN ab),
      rows_ AS (
        SELECT 'balance' AS field, 1000000 * m_bal // n AS m_micro,
          CASE WHEN t_pairs - n = 0 THEN NULL
            ELSE 1000000 * (a_bal - m_bal) // (t_pairs - n) END AS u_micro
        FROM j
        UNION ALL SELECT 'name', 1000000 * m_name // n,
          CASE WHEN t_pairs - n = 0 THEN NULL
            ELSE 1000000 * (a_name - m_name) // (t_pairs - n) END FROM j
        UNION ALL SELECT 'segment', 1000000 * m_seg // n,
          CASE WHEN t_pairs - n = 0 THEN NULL
            ELSE 1000000 * (a_seg - m_seg) // (t_pairs - n) END FROM j)
      SELECT field, m_micro, u_micro,
        CASE WHEN m_micro IS NULL OR u_micro IS NULL
          OR m_micro = 0 OR u_micro = 0 THEN NULL
        ELSE CAST(floor(ln(CAST(m_micro AS DOUBLE)) * 1000000 + 0.5)
            AS BIGINT)
          - CAST(floor(ln(CAST(u_micro AS DOUBLE)) * 1000000 + 0.5)
            AS BIGINT) END AS weight_micro
      FROM rows_ ORDER BY field""")),

    // The sliding-distinct KMV audit — q317's exact
    // WAU against the bottom-k estimate that replaces it when the
    // window's distinct set no longer fits (the scale path, with its
    // error measured per window).
    //
    // (This batch's first draft also carried a 2-D skyline and
    // association rules; both duplicated existing operators — q225 and
    // q226 — and were removed in the round-9 dedup audit.)
    //
    // House rules as elsewhere: integer micro arithmetic, md5-derived
    // hashes, identical aliases both sides, total ORDER BY.

    // ----- sliding 7-day distinct users: KMV audit --------------------------
    // q317 computes WAU exactly by fanning distinct (day, user) pairs
    // — the right answer while the per-window distinct set is small.
    // At billions of users the production form is a mergeable bottom-k
    // (KMV) sketch per day, merged across the window; this operator
    // runs BOTH and reports the estimate's signed error per window,
    // which is the number that decides when the exact form must be
    // retired. KMV here is pure relational algebra (the aggregator
    // form is functions.KmvSketch/q53): h = md5-trunc-8 of the user,
    // per end-day the k = 256 smallest distinct hashes via ONE rank
    // window over the fanned pairs; estimate = (k−1)·2³² div h₍ₖ₎,
    // falling back to the distinct-HASH count when the window holds
    // fewer than k hashes (still an estimate, not exact: a 32-bit
    // collision between two users undercounts by one — negligible at
    // these cardinalities, stated for honesty).
    ("q343_sliding_kmv_audit", (s: SparkSession, dir: String) => {
      import s.implicits._
      val du = Tables.t(s, dir, "events")
        .select(datediff(to_date($"ts".cast("timestamp")),
          lit("1970-01-01").cast("date")).cast("long").as("epd"),
          $"user_id")
        .distinct()
        .withColumn("h",
          conv(substring(md5(concat(lit("wau|"), $"user_id".cast("string"))),
            1, 8), 16, 10).cast("long"))
        .localCheckpoint() // reused: range + fanout (exact and sketch lanes)
      val rng = du.agg(min($"epd").as("mn"), max($"epd").as("mx"))
      val offs = (0L to 6L).map(Tuple1(_)).toDF("off")
      val fan = du.crossJoin(broadcast(offs))
        .select(($"epd" + $"off").as("endd"), $"user_id", $"h")
        .crossJoin(broadcast(rng))
        .filter($"endd" - 6 >= $"mn" && $"endd" <= $"mx")
      val exact = fan.groupBy($"endd")
        .agg(countDistinct($"user_id").as("wau_exact"))
      val ranked = fan.select($"endd", $"h").distinct()
        .withColumn("rn", row_number().over(
          Window.partitionBy($"endd").orderBy($"h")))
      val kth = ranked.groupBy($"endd")
        .agg(max($"rn").as("n_hashes"),
          max(when($"rn" === 256, $"h")).as("hk"))
      exact.join(kth, Seq("endd"))
        .select($"endd", $"wau_exact",
          expr("""CASE WHEN n_hashes < 256 THEN n_hashes
                  ELSE 255 * 4294967296 div hk END""").as("wau_est"))
        .select($"endd", $"wau_exact", $"wau_est",
          expr("""CAST(floor(CAST(wau_est - wau_exact AS DOUBLE)
                / CAST(wau_exact AS DOUBLE) * 1000000 + 0.5) AS BIGINT)""")
            .as("err_micro"))
        .orderBy($"endd")
    }, Some("""
      WITH du AS (SELECT DISTINCT
          CAST(date_diff('day', DATE '1970-01-01',
            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS epd,
          user_id
        FROM events),
      duh AS (SELECT epd, user_id,
          ('0x' || substr(md5('wau|' || CAST(user_id AS VARCHAR)), 1, 8))
            ::BIGINT AS h
        FROM du),
      rng AS (SELECT min(epd) AS mn, max(epd) AS mx FROM du),
      offs AS (SELECT CAST(o AS BIGINT) AS off
        FROM (SELECT unnest(range(7)) AS o)),
      fan AS (SELECT duh.epd + offs.off AS endd, duh.user_id, duh.h
        FROM duh CROSS JOIN offs CROSS JOIN rng
        WHERE duh.epd + offs.off - 6 >= rng.mn
          AND duh.epd + offs.off <= rng.mx),
      exact AS (SELECT endd, CAST(count(DISTINCT user_id) AS BIGINT)
          AS wau_exact FROM fan GROUP BY 1),
      ranked AS (SELECT endd, h,
          CAST(row_number() OVER (PARTITION BY endd ORDER BY h) AS BIGINT)
            AS rn
        FROM (SELECT DISTINCT endd, h FROM fan)),
      kth AS (SELECT endd, max(rn) AS n_hashes,
          max(CASE WHEN rn = 256 THEN h END) AS hk
        FROM ranked GROUP BY 1)
      SELECT e.endd, e.wau_exact,
        CASE WHEN k.n_hashes < 256 THEN k.n_hashes
          ELSE 255 * 4294967296 // k.hk END AS wau_est,
        CAST(floor(CAST((CASE WHEN k.n_hashes < 256 THEN k.n_hashes
            ELSE 255 * 4294967296 // k.hk END) - e.wau_exact AS DOUBLE)
          / CAST(e.wau_exact AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
          AS err_micro
      FROM exact e JOIN kth k ON e.endd = k.endd
      ORDER BY e.endd""")),

    ("q416_threshold_sweep_lsh", (s: SparkSession, dir: String) => {
      import s.implicits._
      val hashed = Tables.spread(Tables.t(s, dir, "documents")).select(
        $"doc_id".as("id"),
        graft.functions.WordShingleHash32(TA.normText($"text"), 3).as("hs"))
      val (hs, cand) = Dedup.lshCandidates(hashed, nBands = 4)
      // exact verify on the candidate set only; filter to the smallest
      // cut any consumer needs BEFORE the checkpoint (the q408 ×10 OOM
      // lesson), then one cached pair table feeds all five cuts
      val pairs = cand
        .join(hs.toDF("id_a", "h_a"), Seq("id_a"))
        .join(hs.toDF("id_b", "h_b"), Seq("id_b"))
        .withColumn("inter",
          graft.functions.ArrayJaccard.sortedLongIntersect($"h_a", $"h_b"))
        .select($"id_a", $"id_b", expr(
          "1000000L * inter div (CAST(size(h_a) AS BIGINT) + size(h_b) - inter)")
          .as("j_micro"))
        .filter($"j_micro" >= 500000L)
        .localCheckpoint()
      CorpusAuditQueries.sweep(s, pairs)
    }, Some(s"""
      ${minhashPairsCte},
      lp AS (SELECT id_a, id_b,
          1000000 * len(list_intersect(ha.hs, hb.hs))
            // (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)))
            AS j_micro
        FROM cand JOIN hst ha ON ha.doc_id = id_a
        JOIN hst hb ON hb.doc_id = id_b),
      lpf AS (SELECT * FROM lp WHERE j_micro >= 500000),
      taus AS (SELECT CAST(unnest([500000, 600000, 700000, 800000, 900000])
          AS BIGINT) AS tau_micro),
      h AS (SELECT tau_micro, id_a, id_b FROM lpf, taus WHERE j_micro >= tau_micro),
      np AS (SELECT tau_micro, CAST(count(*) AS BIGINT) AS n_pairs FROM h GROUP BY 1),
      nd AS (SELECT tau_micro, CAST(count(*) AS BIGINT) AS n_docs_flagged
        FROM (SELECT DISTINCT tau_micro, id FROM (
          SELECT tau_micro, id_a AS id FROM h
          UNION ALL SELECT tau_micro, id_b FROM h)) GROUP BY 1)
      SELECT t.tau_micro, coalesce(np.n_pairs, 0) AS n_pairs,
        coalesce(nd.n_docs_flagged, 0) AS n_docs_flagged
      FROM taus t LEFT JOIN np USING (tau_micro) LEFT JOIN nd USING (tau_micro)
      ORDER BY tau_micro"""))
  )
}
