package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Similarity, TextAnalysis => TA}

/** Vector similarity search: brute-force and LSH/IVF top-k, k-means
  * training, product quantization, clustering quality, coresets and
  * recall certification.
  *
  * Section "Similarity search (ANN)" of
  * docs/OPERATORS.md.
  */
object AnnQueries {

  private val normSql = TA.normTextSql
  private val Projs = Similarity.OracleProjs
  private val prepSql = Similarity.prepareSql
  private def bucketSql: String = Similarity.lshBucketSql

  /** One Lloyd-L2 pass: assign each point (id, sv, sn2) to its nearest
    * centroid (ties to the lowest cent_id), then per-dimension rounded
    * mean. Centroid count K is bounded (broadcast), so assignment is a
    * map pass; the mean is one aggregate on (cent, pos). */
  private def lloydL2(pts: DataFrame, init: DataFrame, iters: Int): DataFrame = {
    var cents = init
    for (_ <- 1 to iters) {
      val asg = pts.crossJoin(broadcast(cents))
        .withColumn("d2",
          (col("sn2") + col("cn2") - lit(2) * Similarity.dot(col("sv"), col("cvec")))
            .cast("long"))
      val w = Window.partitionBy(col("id")).orderBy(col("d2"), col("cent_id"))
      val a = asg.withColumn("r", row_number().over(w)).filter(col("r") === 1)
      cents = a.select(col("cent_id"), posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy(col("cent_id"), col("pos"))
        .agg(round(sum(col("v")) / count(lit(1))).as("m"))
        .groupBy(col("cent_id"))
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cent_id"), transform(col("pm"), x => x("m")).as("cvec"))
        .withColumn("cn2", Similarity.dot(col("cvec"), col("cvec")))
        // K-bounded rows, but the PLAN doubles per iteration and every
        // consumer (next pass, encode, LUT) builds its broadcast by
        // re-running the whole training subtree — measured at sf0.1 this
        // re-execution was ~all of q208's cost. Materialize per pass.
        .localCheckpoint()
    }
    cents
  }

  /** Nearest-centroid code per point under the final codebook. */
  private def encode(pts: DataFrame, cents: DataFrame, codeCol: String): DataFrame = {
    val asg = pts.crossJoin(broadcast(cents))
      .withColumn("d2",
        (col("sn2") + col("cn2") - lit(2) * Similarity.dot(col("sv"), col("cvec")))
          .cast("long"))
    val w = Window.partitionBy(col("id")).orderBy(col("d2"), col("cent_id"))
    asg.withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("id"), col("cent_id").as(codeCol))
  }

  /** DuckDB Lloyd-L2 template for one subspace `t` (sv-tables must exist
    * as sv$t(vec_id, sv, sn2)); produces c${t}_$iters. */
  private def lloydSql(t: Int, iters: Int, initMod: Int): String = {
    def iter(i: Int): String = s"""
      a${t}_$i AS (SELECT vec_id, sv, sn2, cent_id FROM (
        SELECT p.vec_id, p.sv, p.sn2, c.cent_id,
          row_number() OVER (PARTITION BY p.vec_id ORDER BY
            CAST(p.sn2 + c.cn2 - 2 * list_dot_product(p.sv, c.cvec) AS BIGINT), c.cent_id) AS r
        FROM sv$t p, c${t}_${i - 1} c) WHERE r = 1),
      m${t}_$i AS (SELECT cent_id, pos, round(sum(v) / count(*)) AS m FROM (
        SELECT cent_id, unnest(sv) AS v, unnest(range(1, len(sv) + 1)) AS pos FROM a${t}_$i)
        GROUP BY cent_id, pos),
      c${t}_$i AS (SELECT cent_id, cvec, list_dot_product(cvec, cvec) AS cn2 FROM (
        SELECT cent_id, list(m ORDER BY pos) AS cvec FROM m${t}_$i GROUP BY cent_id))"""
    s"""c${t}_0 AS (SELECT vec_id AS cent_id, sv AS cvec, sn2 AS cn2
        FROM sv$t WHERE vec_id % $initMod = 0),
      ${(1 to iters).map(iter).mkString(",")}"""
  }

  def queries: Seq[Entry] = Seq(

    // ----- similarity: brute-force cosine top-k --------------------------
    ("q24_ann_bruteforce", (s: SparkSession, dir: String) => {
      import s.implicits._
      val prepared = Similarity.prepare(Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
      Similarity.bruteForceTopK(prepared.filter($"id" % 100 === 0), prepared, k = 5)
        .select($"q_id", $"rank".as("rnk"), $"c_id", $"cos_sim")
        .orderBy("q_id", "rnk")
    }, Some(s"""
      WITH $prepSql,
      q AS (SELECT * FROM n WHERE vec_id % 100 = 0),
      scored AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        list_dot_product(q.qvec, c.qvec) / sqrt(q.n2 * c.n2) AS cos_sim
        FROM n c, q WHERE q.vec_id <> c.vec_id),
      r AS (SELECT q_id, c_id, cos_sim,
        row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk FROM scored)
      SELECT q_id, rnk, c_id, cos_sim FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""")),

    // ----- similarity: LSH-bucketed ANN top-k ----------------------------
    ("q25_ann_lsh", (s: SparkSession, dir: String) => {
      import s.implicits._
      val prepared = Similarity.prepare(Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
      Similarity.lshTopK(prepared, col("id") % 100 === 0, Projs, k = 3)
        .select($"q_id", $"rank".as("rnk"), $"c_id", $"cos_sim")
        .orderBy("q_id", "rnk")
    }, Some(s"""
      WITH $prepSql,
      b AS (SELECT vec_id, qvec, n2, $bucketSql AS bucket FROM n),
      q AS (SELECT * FROM b WHERE vec_id % 100 = 0),
      scored AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        list_dot_product(q.qvec, c.qvec) / sqrt(q.n2 * c.n2) AS cos_sim
        FROM b c JOIN q ON c.bucket = q.bucket AND q.vec_id <> c.vec_id),
      r AS (SELECT q_id, c_id, cos_sim,
        row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk FROM scored)
      SELECT q_id, rnk, c_id, cos_sim FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""")),

    // ----- similarity: embedding-cosine near-dup pairs -------------------
    ("q26_embed_neardup", (s: SparkSession, dir: String) => {
      import s.implicits._
      val prepared = Similarity.prepare(Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
      Similarity.nearDupPairs(prepared, Projs, threshold = 0.4)
        .orderBy("id_a", "id_b")
    }, Some(s"""
      WITH $prepSql,
      b AS (SELECT vec_id, qvec, n2, $bucketSql AS bucket FROM n)
      SELECT a.vec_id AS id_a, c.vec_id AS id_b,
        list_dot_product(a.qvec, c.qvec) / sqrt(a.n2 * c.n2) AS cos_sim
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
      WHERE list_dot_product(a.qvec, c.qvec) / sqrt(a.n2 * c.n2) >= 0.4
      ORDER BY id_a, id_b""")),

    // ----- similarity: IVF-partitioned ANN top-k -------------------------
    ("q33_ann_ivf", (s: SparkSession, dir: String) => {
      import s.implicits._
      val prepared = Similarity.prepare(Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
      Similarity.ivfTopK(prepared, col("id") % 50 === 0, col("id") % 100 === 0, k = 3)
        .select($"q_id", $"rank".as("rnk"), $"c_id", $"cos_sim")
        .orderBy("q_id", "rnk")
    }, Some(s"""
      WITH $prepSql,
      cent AS (SELECT vec_id AS cent_id, qvec AS cent_vec, n2 AS cent_n2
        FROM n WHERE vec_id % 50 = 0),
      scored0 AS (SELECT n.vec_id, n.qvec, n.n2, cent.cent_id,
        list_dot_product(n.qvec, cent.cent_vec) / sqrt(n.n2 * cent.cent_n2) AS cent_cos
        FROM n, cent),
      assigned AS (SELECT vec_id, qvec, n2, cent_id AS cluster_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cent_cos DESC, cent_id) AS r
        FROM scored0) WHERE r = 1),
      q AS (SELECT cluster_id, vec_id AS q_id, qvec AS q_vec, n2 AS q_n2
        FROM assigned WHERE vec_id % 100 = 0),
      scored AS (SELECT q.q_id, c.vec_id AS c_id,
        list_dot_product(q.q_vec, c.qvec) / sqrt(q.q_n2 * c.n2) AS cos_sim
        FROM assigned c JOIN q ON c.cluster_id = q.cluster_id AND q.q_id <> c.vec_id),
      r AS (SELECT q_id, c_id, cos_sim,
        row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk FROM scored)
      SELECT q_id, rnk, c_id, cos_sim FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""")),

    // ----- similarity: multi-probe LSH ANN top-k -------------------------
    ("q34_ann_multiprobe", (s: SparkSession, dir: String) => {
      import s.implicits._
      val prepared = Similarity.prepare(Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
      Similarity.lshTopKMultiProbe(prepared, col("id") % 100 === 0, Projs, k = 3)
        .select($"q_id", $"rank".as("rnk"), $"c_id", $"cos_sim")
        .orderBy("q_id", "rnk")
    }, Some(s"""
      WITH $prepSql,
      b AS (SELECT vec_id, qvec, n2, $bucketSql AS bucket FROM n),
      q0 AS (SELECT * FROM b WHERE vec_id % 100 = 0),
      q AS (SELECT xor(bucket, flip) AS bucket, vec_id AS q_id, qvec AS q_vec, n2 AS q_n2
        FROM q0, unnest([0, 1, 2, 4, 8]) AS t(flip)),
      scored AS (SELECT DISTINCT q.q_id, c.vec_id AS c_id,
        list_dot_product(q.q_vec, c.qvec) / sqrt(q.q_n2 * c.n2) AS cos_sim
        FROM b c JOIN q ON c.bucket = q.bucket AND q.q_id <> c.vec_id),
      r AS (SELECT q_id, c_id, cos_sim,
        row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk FROM scored)
      SELECT q_id, rnk, c_id, cos_sim FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""")),

    // ----- similarity: k-means-trained IVF ANN top-k ---------------------
    ("q47_ann_ivf_kmeans", (s: SparkSession, dir: String) => {
      import s.implicits._
      // cached: every Lloyd pass + the final assignment re-scans it
      val prepared = Similarity.prepare(Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
        .cache()
      Similarity.ivfTopKKmeans(prepared, col("id") % 250 === 0, iters = 2,
        queryPred = col("id") % 100 === 0, k = 3)
        .select($"q_id", $"rank".as("rnk"), $"c_id", $"cos_sim")
        .orderBy("q_id", "rnk")
    }, Some {
      // Lloyd iterations unrolled from the same template the Spark side
      // executes: assign (max cosine, ties to lowest centroid id) →
      // per-dimension ROUNDED mean (centroids stay integer-valued, so
      // every product/sum below is exact and engine-independent).
      def iter(i: Int): String = s"""
      a$i AS (SELECT vec_id, qvec, n2, cent_id AS cluster_id FROM (
        SELECT n.vec_id, n.qvec, n.n2, c.cent_id,
          row_number() OVER (PARTITION BY n.vec_id ORDER BY
            list_dot_product(n.qvec, c.cvec) / sqrt(n.n2 * c.cn2) DESC, c.cent_id) AS r
        FROM n, c${i - 1} c) WHERE r = 1),
      m$i AS (SELECT cluster_id, pos, round(sum(v) / count(*)) AS m FROM (
        SELECT cluster_id, unnest(qvec) AS v, unnest(range(1, len(qvec) + 1)) AS pos FROM a$i)
        GROUP BY cluster_id, pos),
      c$i AS (SELECT cent_id, cvec, list_dot_product(cvec, cvec) AS cn2 FROM (
        SELECT cluster_id AS cent_id, list(m ORDER BY pos) AS cvec FROM m$i GROUP BY cluster_id))"""
      s"""
      WITH $prepSql,
      c0 AS (SELECT vec_id AS cent_id, qvec AS cvec, n2 AS cn2 FROM n WHERE vec_id % 250 = 0),
      ${iter(1)},
      ${iter(2)},
      afin AS (SELECT vec_id, qvec, n2, cent_id AS cluster_id FROM (
        SELECT n.vec_id, n.qvec, n.n2, c.cent_id,
          row_number() OVER (PARTITION BY n.vec_id ORDER BY
            list_dot_product(n.qvec, c.cvec) / sqrt(n.n2 * c.cn2) DESC, c.cent_id) AS r
        FROM n, c2 c) WHERE r = 1),
      q AS (SELECT cluster_id, vec_id AS q_id, qvec AS q_vec, n2 AS q_n2
        FROM afin WHERE vec_id % 100 = 0),
      scored AS (SELECT q.q_id, c.vec_id AS c_id,
        list_dot_product(q.q_vec, c.qvec) / sqrt(q.q_n2 * c.n2) AS cos_sim
        FROM afin c JOIN q ON c.cluster_id = q.cluster_id AND q.q_id <> c.vec_id),
      r AS (SELECT q_id, c_id, cos_sim,
        row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk FROM scored)
      SELECT q_id, rnk, c_id, cos_sim FROM r WHERE rnk <= 3 ORDER BY q_id, rnk"""
    }),

    // ----- distinct-count sketch: KMV estimate vs exact ------------------
    ("q53_kmv_sketch", (s: SparkSession, dir: String) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // KMV with the shared md5-derived 48-bit hash (the engine-portable
      // twin of functions.KmvDistinct): estimate = (k-1) / r_k where r_k
      // is the k-th smallest normalized hash. The estimate stays DOUBLE —
      // one division both engines compute identically — no rounding seam.
      val k = 64
      val d = Tables.t(s, dir, "lineitem")
        .select($"l_returnflag".as("flag"), $"l_partkey").distinct()
        .withColumn("h", conv(substring(
          md5($"l_partkey".cast("string").cast("binary")), 1, 12), 16, 10).cast("long"))
      val w = Window.partitionBy($"flag").orderBy($"h", $"l_partkey")
      val est = d.withColumn("rn", row_number().over(w)).filter($"rn" === k)
        .select($"flag",
          (lit((k - 1).toDouble) * lit(math.pow(2, 48)) / $"h".cast("double"))
            .as("est_distinct"))
      val exact = d.groupBy($"flag").agg(count(lit(1)).as("n_exact"))
      exact.join(est, Seq("flag")).orderBy("flag")
    }, Some("""
      WITH d AS (SELECT DISTINCT l_returnflag AS flag, l_partkey FROM lineitem),
      h AS (SELECT flag, l_partkey,
        ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 12))::BIGINT AS h FROM d),
      r AS (SELECT flag, h,
        row_number() OVER (PARTITION BY flag ORDER BY h, l_partkey) AS rn FROM h),
      e AS (SELECT flag, 63.0 * 281474976710656 / h AS est_distinct FROM r WHERE rn = 64),
      x AS (SELECT flag, count(*) AS n_exact FROM d GROUP BY flag)
      SELECT x.flag, n_exact, est_distinct FROM x JOIN e USING (flag) ORDER BY flag""")),

    // ----- embeddings: int8 quantization profile ---------------------------
    ("q101_embedding_quantize", (s: SparkSession, dir: String) => {
      import s.implicits._
      import graft.functions.Lambda
      // per-vector symmetric int8 quantization (scale = maxabs/127) —
      // the 4× storage cut an ANN index takes at 100 TB. Entirely
      // map-side: higher-order exprs, no explode, no shuffle before the
      // final ORDER BY. Halves round via floor(v + 0.5) — one rule both
      // engines share; integer-valued doubles keep every sum exact.
      // maxabs is bound once per row (Lambda.bind1) — a raw capture
      // would re-evaluate the array_max per element (O(n²)).
      val qvec = transform($"embedding", x => round(x.cast("double") * 10000))
      Tables.spread(Tables.t(s, dir, "embeddings"))
        .select($"vec_id", qvec.as("qv"))
        .select($"vec_id", $"qv",
          array_max(transform($"qv", x => abs(x))).as("maxabs"))
        .select($"vec_id",
          size($"qv").cast("long").as("n_dims"),
          ($"maxabs" / 127.0).as("scale8"),
          Lambda.bind1(greatest($"maxabs", lit(1.0))) { m =>
            aggregate(
              transform($"qv", x => floor(x * 127.0 / m + 0.5)),
              lit(0.0), (acc, q) => acc + q)
          }.as("sum_q8"),
          Lambda.bind1(greatest($"maxabs", lit(1.0))) { m =>
            aggregate(
              transform($"qv", x => abs(floor(x * 127.0 / m + 0.5))),
              lit(0.0), (acc, q) => acc + q)
          }.as("sum_abs_q8"),
          Lambda.bind1(greatest($"maxabs", lit(1.0))) { m =>
            array_max(transform($"qv", x => abs(floor(x * 127.0 / m + 0.5))))
          }.cast("long").as("max_abs_q8"))
        .orderBy("vec_id")
    }, Some("""
      WITH p AS (SELECT vec_id,
          list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000)) AS qv
        FROM embeddings),
      m AS (SELECT vec_id, qv,
          list_aggregate(list_transform(qv, x -> abs(x)), 'max') AS maxabs
        FROM p),
      q AS (SELECT vec_id, qv, maxabs,
          list_transform(qv, x -> floor(x * 127.0 / greatest(maxabs, 1.0) + 0.5)) AS q8
        FROM m)
      SELECT vec_id,
        len(qv) AS n_dims,
        maxabs / 127.0 AS scale8,
        list_aggregate(q8, 'sum') AS sum_q8,
        list_aggregate(list_transform(q8, x -> abs(x)), 'sum') AS sum_abs_q8,
        CAST(list_aggregate(list_transform(q8, x -> abs(x)), 'max') AS BIGINT) AS max_abs_q8
      FROM q ORDER BY vec_id""")),

    // ----- similarity: IVF multi-probe (nprobe=2) ANN top-k --------------
    ("q112_ann_ivf_multiprobe", (s: SparkSession, dir: String) => {
      import s.implicits._
      val prepared = Similarity.prepare(Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
      Similarity.ivfTopKMultiProbe(prepared, col("id") % 50 === 0, nprobe = 2,
        queryPred = col("id") % 100 === 0, k = 3)
        .select($"q_id", $"rank".as("rnk"), $"c_id", $"cos_sim")
        .orderBy("q_id", "rnk")
    }, Some(s"""
      WITH $prepSql,
      cent AS (SELECT vec_id AS cent_id, qvec AS cent_vec, n2 AS cent_n2
        FROM n WHERE vec_id % 50 = 0),
      scored0 AS (SELECT n.vec_id, n.qvec, n.n2, cent.cent_id,
        list_dot_product(n.qvec, cent.cent_vec) / sqrt(n.n2 * cent.cent_n2) AS cent_cos
        FROM n, cent),
      assigned AS (SELECT vec_id, qvec, n2, cent_id AS cluster_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cent_cos DESC, cent_id) AS r
        FROM scored0) WHERE r = 1),
      probes AS (SELECT cent_id AS cluster_id, vec_id AS q_id, qvec AS q_vec, n2 AS q_n2 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cent_cos DESC, cent_id) AS r
        FROM scored0 WHERE vec_id % 100 = 0) WHERE r <= 2),
      scored AS (SELECT p.q_id, c.vec_id AS c_id,
        list_dot_product(p.q_vec, c.qvec) / sqrt(p.q_n2 * c.n2) AS cos_sim
        FROM assigned c JOIN probes p ON c.cluster_id = p.cluster_id AND p.q_id <> c.vec_id),
      r AS (SELECT q_id, c_id, cos_sim,
        row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk FROM scored)
      SELECT q_id, rnk, c_id, cos_sim FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""")),

    // ----- similarity: k-means IVF, multi-probe (nprobe=2) ---------------
    ("q113_ann_ivf_kmeans_multiprobe", (s: SparkSession, dir: String) => {
      import s.implicits._
      val prepared = Similarity.prepare(Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
        .cache()
      Similarity.ivfTopKKmeans(prepared, col("id") % 50 === 0, iters = 2,
        queryPred = col("id") % 100 === 0, k = 3, nprobe = 2)
        .select($"q_id", $"rank".as("rnk"), $"c_id", $"cos_sim")
        .orderBy("q_id", "rnk")
    }, Some {
      // q47's Lloyd template (finer init: ~10 cells) + a probes CTE that
      // ranks each query's trained-centroid scores and keeps the top 2
      def iter(i: Int): String = s"""
      a$i AS (SELECT vec_id, qvec, n2, cent_id AS cluster_id FROM (
        SELECT n.vec_id, n.qvec, n.n2, c.cent_id,
          row_number() OVER (PARTITION BY n.vec_id ORDER BY
            list_dot_product(n.qvec, c.cvec) / sqrt(n.n2 * c.cn2) DESC, c.cent_id) AS r
        FROM n, c${i - 1} c) WHERE r = 1),
      m$i AS (SELECT cluster_id, pos, round(sum(v) / count(*)) AS m FROM (
        SELECT cluster_id, unnest(qvec) AS v, unnest(range(1, len(qvec) + 1)) AS pos FROM a$i)
        GROUP BY cluster_id, pos),
      c$i AS (SELECT cent_id, cvec, list_dot_product(cvec, cvec) AS cn2 FROM (
        SELECT cluster_id AS cent_id, list(m ORDER BY pos) AS cvec FROM m$i GROUP BY cluster_id))"""
      s"""
      WITH $prepSql,
      c0 AS (SELECT vec_id AS cent_id, qvec AS cvec, n2 AS cn2 FROM n WHERE vec_id % 50 = 0),
      ${iter(1)},
      ${iter(2)},
      afin AS (SELECT vec_id, qvec, n2, cent_id AS cluster_id FROM (
        SELECT n.vec_id, n.qvec, n.n2, c.cent_id,
          row_number() OVER (PARTITION BY n.vec_id ORDER BY
            list_dot_product(n.qvec, c.cvec) / sqrt(n.n2 * c.cn2) DESC, c.cent_id) AS r
        FROM n, c2 c) WHERE r = 1),
      probes AS (SELECT cent_id AS cluster_id, vec_id AS q_id, qvec AS q_vec, n2 AS q_n2 FROM (
        SELECT n.vec_id, n.qvec, n.n2, c.cent_id,
          row_number() OVER (PARTITION BY n.vec_id ORDER BY
            list_dot_product(n.qvec, c.cvec) / sqrt(n.n2 * c.cn2) DESC, c.cent_id) AS r
        FROM n, c2 c WHERE n.vec_id % 100 = 0) WHERE r <= 2),
      scored AS (SELECT p.q_id, c.vec_id AS c_id,
        list_dot_product(p.q_vec, c.qvec) / sqrt(p.q_n2 * c.n2) AS cos_sim
        FROM afin c JOIN probes p ON c.cluster_id = p.cluster_id AND p.q_id <> c.vec_id),
      r AS (SELECT q_id, c_id, cos_sim,
        row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk FROM scored)
      SELECT q_id, rnk, c_id, cos_sim FROM r WHERE rnk <= 3 ORDER BY q_id, rnk"""
    }),

    // ----- embedding cluster cohesion (within-label variance) ------------
    // Label-quality metric for the embeddings table: average squared
    // distance to the label centroid, via the exact identity
    // E||x-c||^2 = E||x||^2 - ||c||^2 with ||c||^2 = (sum_d S_d^2)/n^2 —
    // chosen over the direct form because sum_d (S_d/n)^2 is an
    // order-sensitive double sum. Values are quantized to integer-valued
    // doubles (the q101 rule: every sum exact in IEEE double regardless
    // of shuffle order); the only non-integer arithmetic is the final
    // fixed-formula division. One explode + two hash aggregates + a
    // per-label join — no per-vector state, scales to any corpus.
    ("q130_cluster_cohesion", (s: SparkSession, dir: String) => {
      import s.implicits._
      val dims = Tables.spread(Tables.t(s, dir, "embeddings"))
        .select($"vec_id", $"label",
          posexplode($"embedding").as(Seq("j0", "x")))
        .select($"vec_id", $"label", ($"j0" + 1).as("j"),
          round($"x".cast("double") * 10000).as("v"))
      val sd2 = dims.groupBy($"label", $"j").agg(sum($"v").as("sd"))
        .groupBy($"label").agg(sum($"sd" * $"sd").as("sd2"))
      val lab = dims.groupBy($"label")
        .agg(sum($"v" * $"v").as("v2"), (count(lit(1)) / 64).as("n"))
      lab.join(sd2, Seq("label"))
        .select($"label", $"n".cast("long").as("n_vecs"),
          round(($"v2" / $"n" - $"sd2" / ($"n" * $"n")) / 1e8, 4).as("cohesion"))
        .orderBy("label")
    }, Some("""
      WITH q AS (SELECT vec_id, label, j,
          round(CAST(embedding[CAST(j AS INT)] AS DOUBLE) * 10000) AS v
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(j)),
      dims AS (SELECT label, j, sum(v) AS sd FROM q GROUP BY label, j),
      sd2 AS (SELECT label, sum(sd * sd) AS sd2 FROM dims GROUP BY label),
      lab AS (SELECT label, sum(v * v) AS v2, count(*) / 64 AS n FROM q GROUP BY label)
      SELECT l.label, CAST(l.n AS BIGINT) AS n_vecs,
        round((l.v2 / l.n - s.sd2 / (l.n * l.n)) / 1e8, 4) AS cohesion
      FROM lab l JOIN sd2 s ON l.label = s.label ORDER BY l.label""")),

    // ----- embedding cluster separation (pairwise centroid distances) ----
    // q130's companion: squared distance between every pair of label
    // centroids. Centroids are rounded to INTEGER-quantized coordinates
    // first, so the 64-term distance sum is exact in IEEE double in any
    // aggregation order (the raw S_d/n centroids would make it an
    // order-sensitive double sum). The pair join is an equi-join on the
    // dimension index over the |labels| x dims centroid table — bounded
    // regardless of corpus size.
    ("q131_cluster_separation", (s: SparkSession, dir: String) => {
      import s.implicits._
      val cent = Tables.spread(Tables.t(s, dir, "embeddings"))
        .select($"label", posexplode($"embedding").as(Seq("j0", "x")))
        .select($"label", ($"j0" + 1).as("j"),
          round($"x".cast("double") * 10000).as("v"))
        .groupBy($"label", $"j")
        .agg(round(sum($"v") / count(lit(1))).as("c"))
      val a = cent.select($"label".as("la"), $"j", $"c".as("ca"))
      val b = cent.select($"label".as("lb"), $"j", $"c".as("cb"))
      a.join(b, Seq("j")).filter($"la" < $"lb")
        .groupBy($"la", $"lb")
        .agg(sum(($"ca" - $"cb") * ($"ca" - $"cb")).as("d2"))
        .select($"la".as("label_a"), $"lb".as("label_b"),
          round($"d2" / 1e8, 4).as("centroid_dist2"))
        .orderBy("label_a", "label_b")
    }, Some("""
      WITH q AS (SELECT label, j, round(CAST(embedding[CAST(j AS INT)] AS DOUBLE) * 10000) AS v
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(j)),
      cent AS (SELECT label, j, round(sum(v) / count(*)) AS c FROM q GROUP BY label, j),
      pairs AS (SELECT a.label AS la, b.label AS lb,
          sum((a.c - b.c) * (a.c - b.c)) AS d2
        FROM cent a JOIN cent b ON a.j = b.j AND a.label < b.label
        GROUP BY a.label, b.label)
      SELECT la AS label_a, lb AS label_b,
        round(d2 / 1e8, 4) AS centroid_dist2
      FROM pairs ORDER BY label_a, label_b""")),

    // ----- hard-negative mining (label-excluded top-k similarity) --------
    // Contrastive-training data prep: for each query vector, the k most
    // cosine-similar vectors with a DIFFERENT label — similar enough to be
    // confused, labeled differently, i.e. hard negatives. Same integer
    // quantization as q24 (exact dot products), query side broadcast so
    // the candidate scan never shuffles, WindowGroupLimit caps the
    // shuffle at |Q|*k rows.
    ("q135_hard_negatives", (s: SparkSession, dir: String) => {
      import s.implicits._
      val p = Tables.spread(Tables.t(s, dir, "embeddings"))
        .select($"vec_id".as("id"), $"label",
          graft.ext.Similarity.quantize($"embedding").as("qvec"))
        .withColumn("n2", graft.functions.Lambda.bind1(col("qvec"))(a =>
          graft.ext.Similarity.norm2(a)))
      val q = p.filter($"id" % 50 === 0)
        .select($"id".as("q_id"), $"label".as("q_label"),
          $"qvec".as("q_vec"), $"n2".as("q_n2"))
      val c = p.select($"id".as("c_id"), $"label".as("c_label"),
        $"qvec".as("c_vec"), $"n2".as("c_n2"))
      val scored = c.crossJoin(broadcast(q))
        .filter($"q_label" =!= $"c_label")
        .select($"q_id", $"c_id", $"c_label",
          graft.ext.Similarity.cosine(
            graft.ext.Similarity.dot($"q_vec", $"c_vec"),
            $"q_n2", $"c_n2").as("cos_sim"))
      val w = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"c_id")
      scored.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 3)
        .select($"q_id", $"rnk", $"c_id", $"c_label", $"cos_sim")
        .orderBy("q_id", "rnk")
    }, Some("""
      WITH p AS (SELECT vec_id, label,
          list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000)) AS qvec
        FROM embeddings),
      n AS (SELECT vec_id, label, qvec, list_dot_product(qvec, qvec) AS n2 FROM p),
      q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
      scored AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id, c.label AS c_label,
          list_dot_product(q.qvec, c.qvec) / sqrt(q.n2 * c.n2) AS cos_sim
        FROM n c, q WHERE q.label <> c.label),
      r AS (SELECT q_id, c_id, c_label, cos_sim,
        row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk FROM scored)
      SELECT q_id, rnk, c_id, c_label, cos_sim FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""")),

    // ----- kNN-graph construction (mutual-kNN edges) ---------------------
    // The backbone of density-based dedup clustering and diversity
    // mining: EVERY node gets its k=3 nearest neighbors (not just a
    // query subset, which is q25's shape), plus the mutuality flag —
    // mutual-kNN edges are the high-precision subset graph-cluster
    // pipelines keep. Candidate generation is the LSH-bucket self-join
    // — an equi-join on the b-bit signature scoring Θ(N²/2^b) pairs,
    // i.e. all-pairs cut by the constant 2^b (b=4 here): at scale b
    // must GROW with the corpus (more projections, or q34's multi-probe
    // over finer buckets) to hold per-bucket population bounded. Top-3
    // is a windowed rank per node, and mutuality is a self-equi-join of
    // the kNN edge list on the reversed key — every shuffle is keyed.
    ("q158_knn_graph", (s: SparkSession, dir: String) => {
      import s.implicits._
      val prepared = Similarity.prepare(
        Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
      val b = prepared.withColumn("bucket", Similarity.lshBucket(col("qvec"), Projs))
      val q = b.select($"bucket", $"id".as("q_id"), $"qvec".as("q_vec"), $"n2".as("q_n2"))
      val c = b.select($"bucket", $"id".as("c_id"), $"qvec".as("c_vec"), $"n2".as("c_n2"))
      val scored = q.join(c, "bucket").filter($"q_id" =!= $"c_id")
        .select($"q_id", $"c_id",
          Similarity.cosine(Similarity.dot($"q_vec", $"c_vec"), $"q_n2", $"c_n2")
            .as("cos_sim"))
      val w = Window.partitionBy($"q_id").orderBy(desc("cos_sim"), $"c_id")
      val knn = scored.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 3)
      val rev = knn.select($"c_id".as("q_id"), $"q_id".as("c_id"), lit(1).as("m"))
      knn.join(rev, Seq("q_id", "c_id"), "left")
        .select($"q_id", $"rnk", $"c_id", $"cos_sim",
          coalesce($"m", lit(0)).cast("long").as("mutual"))
        .orderBy("q_id", "rnk")
    }, Some(s"""
      WITH $prepSql,
      b AS (SELECT vec_id, qvec, n2, $bucketSql AS bucket FROM n),
      scored AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        list_dot_product(q.qvec, c.qvec) / sqrt(q.n2 * c.n2) AS cos_sim
        FROM b q JOIN b c USING (bucket) WHERE q.vec_id <> c.vec_id),
      r AS (SELECT q_id, c_id, cos_sim,
        row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk
        FROM scored),
      knn AS (SELECT q_id, rnk, c_id, cos_sim FROM r WHERE rnk <= 3)
      SELECT k.q_id, k.rnk, k.c_id, k.cos_sim,
        CAST(CASE WHEN m.q_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS mutual
      FROM knn k LEFT JOIN knn m ON m.q_id = k.c_id AND m.c_id = k.q_id
      ORDER BY k.q_id, k.rnk""")),

    // ----- HyperLogLog distinct sketch (relational register form) --------
    // The register-table rendering of HLL (Flajolet et al. 2007): a
    // 60-bit engine-portable hash (md5 prefix, the q110 rule), 8-bit
    // bucket index, rho = leading-one position of the remaining 52 bits
    // via bin()-string length (exact integers in both engines). The
    // register table is m=256 rows per group — constant reduce-side
    // state at any corpus size, and max(rho) is partial-aggregable, so
    // this two-phase plan IS the mergeable-sketch plan. The raw-HLL
    // harmonic sum stays integer by scaling: S = Σ 2^(53-M_j) over used
    // buckets + 2^53 per empty bucket (≤ 256·2^53 = 2^61, exact), and
    // the estimate is ONE double division of exact integers (q80 rule).
    // Linear-counting correction (the n << m regime this table is in)
    // uses the micro-ln convention (q119 rule). Exact distinct rides
    // along as the audit column. KMV (q53) is the k-th-order-statistic
    // sketch; this is the register one — the pair covers both families.
    ("q164_hll_sketch", (s: SparkSession, dir: String) => {
      import s.implicits._
      // alpha_256 * m^2 * 2^53, one literal shared with the SQL text
      val hllC = 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 * 9007199254740992.0
      val ev = Tables.t(s, dir, "events")
      val b = ev.select($"event_type",
          expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)").as("h"))
        .select($"event_type", expr("shiftright(h, 52)").as("bucket"),
          // bin() emits no leading zeros in either engine, so the
          // leading-one position of the 52-bit remainder is 53 - length
          expr("""CASE WHEN (h & 4503599627370495) = 0 THEN 53
                  ELSE 53 - length(bin(h & 4503599627370495)) END""").as("rho"))
      val regs = b.groupBy($"event_type", $"bucket").agg(max($"rho").as("m"))
      val sk = regs.groupBy($"event_type").agg(
          count(lit(1)).as("n_buckets_used"),
          sum($"m").as("register_sum"),
          (sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), 53 - m) AS BIGINT)")) +
            (lit(256L) - count(lit(1))) * lit(9007199254740992L)).as("s_scaled"))
      val exact = ev.groupBy($"event_type")
        .agg(countDistinct($"user_id").as("exact_distinct"))
      sk.join(exact, Seq("event_type"))
        .select($"event_type", $"n_buckets_used", $"register_sum", $"s_scaled",
          (lit(hllC) / $"s_scaled").as("est_raw"),
          when($"n_buckets_used" < 256,
            (lit(256L) * expr("CAST(floor(ln(256.0 / (256 - n_buckets_used)) * 1000000 + 0.5) AS BIGINT)")))
            .otherwise(lit(-1L)).as("lc_micro"),
          $"exact_distinct")
        .orderBy("event_type")
    }, Some {
      val hllC = 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 * 9007199254740992.0
      s"""
      WITH h AS (SELECT event_type,
          CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM events),
      b AS (SELECT event_type, h >> 52 AS bucket,
          CASE WHEN (h & 4503599627370495) = 0 THEN 53
               ELSE 53 - length(bin(h & 4503599627370495)) END AS rho
        FROM h),
      r AS (SELECT event_type, bucket, max(rho) AS m FROM b GROUP BY 1, 2),
      sk AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets_used,
          CAST(sum(m) AS BIGINT) AS register_sum,
          CAST(sum(CAST(1 AS BIGINT) << (53 - m)) AS BIGINT)
            + (256 - CAST(count(*) AS BIGINT)) * 9007199254740992 AS s_scaled
        FROM r GROUP BY 1),
      x AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events GROUP BY 1)
      SELECT sk.event_type, n_buckets_used, register_sum, s_scaled,
        $hllC / s_scaled AS est_raw,
        CASE WHEN n_buckets_used < 256 THEN
          256 * CAST(floor(ln(256.0 / (256 - n_buckets_used)) * 1000000 + 0.5) AS BIGINT)
        ELSE -1 END AS lc_micro,
        exact_distinct
      FROM sk JOIN x USING (event_type) ORDER BY event_type"""
    }),

    // ----- join-size forecast from per-key frequency vectors -------------
    // The planner primitive behind every join-reorder and broadcast
    // decision: for an equi-join, output cardinality is EXACTLY
    // Σ_k cnt_a(k)·cnt_b(k) — computable from two per-key count
    // aggregates and a key-table join, never touching the row-level
    // join itself. At 100 TB this is the pre-flight that decides
    // whether a self-join is feasible at all (q148 diagnoses shuffle
    // skew; this forecasts the OUTPUT, which can explode even with no
    // skew). Full-outer on the key tables yields matched/unmatched key
    // counts in the same pass; hot_share_ppm (integer div) shows how
    // much of the output one key contributes. All exact integers.
    ("q165_join_size_forecast", (s: SparkSession, dir: String) => {
      import s.implicits._
      def freq(df: DataFrame, key: String) =
        df.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
      def forecast(name: String, fa: DataFrame, fb: DataFrame): DataFrame =
        fa.select($"k", $"c".as("ca")).join(
            fb.select($"k", $"c".as("cb")), Seq("k"), "full_outer")
          .agg(
            sum(when($"ca".isNotNull, 1L).otherwise(0L)).as("keys_left"),
            sum(when($"cb".isNotNull, 1L).otherwise(0L)).as("keys_right"),
            sum(when($"ca".isNotNull && $"cb".isNotNull, 1L).otherwise(0L)).as("keys_matched"),
            coalesce(sum($"ca" * $"cb"), lit(0L)).as("est_rows"),
            coalesce(max($"ca" * $"cb"), lit(0L)).as("hot_key_rows"))
          .select(lit(name).as("join_name"), $"keys_left", $"keys_right",
            $"keys_matched", $"est_rows", $"hot_key_rows",
            expr("CASE WHEN est_rows > 0 THEN (hot_key_rows * 1000000) div est_rows ELSE 0 END")
              .as("hot_share_ppm"))
      val li = Tables.t(s, dir, "lineitem")
      val liPart = freq(li, "l_partkey").localCheckpoint() // reused on both sides of the self-join forecast
      forecast("lineitem_self_partkey", liPart, liPart)
        .unionByName(forecast("orders_lineitem_orderkey",
          freq(Tables.t(s, dir, "orders"), "o_orderkey"), freq(li, "l_orderkey")))
        .unionByName(forecast("customer_orders_custkey",
          freq(Tables.t(s, dir, "customer"), "c_custkey"),
          freq(Tables.t(s, dir, "orders"), "o_custkey")))
        .orderBy("join_name")
    }, Some("""
      WITH lp AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
      lo AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
      oo AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1),
      oc AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1),
      cc AS (SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS c FROM customer GROUP BY 1),
      f AS (
        SELECT 'lineitem_self_partkey' AS join_name, a.c AS ca, b.c AS cb
          FROM lp a FULL OUTER JOIN lp b USING (k)
        UNION ALL
        SELECT 'orders_lineitem_orderkey', a.c, b.c
          FROM oo a FULL OUTER JOIN lo b USING (k)
        UNION ALL
        SELECT 'customer_orders_custkey', a.c, b.c
          FROM cc a FULL OUTER JOIN oc b USING (k))
      SELECT join_name,
        CAST(sum(CASE WHEN ca IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS keys_left,
        CAST(sum(CASE WHEN cb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS keys_right,
        CAST(sum(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS keys_matched,
        COALESCE(CAST(sum(ca * cb) AS BIGINT), 0) AS est_rows,
        COALESCE(CAST(max(ca * cb) AS BIGINT), 0) AS hot_key_rows,
        CAST(CASE WHEN COALESCE(sum(ca * cb), 0) > 0
          THEN (max(ca * cb) * 1000000) // sum(ca * cb) ELSE 0 END AS BIGINT) AS hot_share_ppm
      FROM f GROUP BY join_name ORDER BY join_name""")),

    // ----- embedding dimension-truncation recall audit (MRL) --------------
    // The Matryoshka question: if the index stores only the first 32 of
    // 64 dimensions (half the memory, half the dot-product cost at
    // 100 TB), how much of the exact top-5 survives? Both top-5 sets are
    // brute-force exact over the quantized integer vectors (full = q24's
    // shape, truncated = the same with slice(qvec, 1, 32)), so the
    // overlap is a pure integer per query — no ANN noise in the
    // measurement. The query side broadcasts in both passes; the
    // per-query overlap join is an equi-join on (q_id, c_id).
    ("q167_mrl_truncation", (s: SparkSession, dir: String) => {
      import s.implicits._
      val prepared = Similarity.prepare(
        Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
        .localCheckpoint() // two brute-force passes + truncation read it
      val trunc = prepared.select($"id", slice($"qvec", 1, 32).as("qvec"))
        .withColumn("n2", graft.functions.Lambda.bind1($"qvec")(a => Similarity.norm2(a)))
      val isQuery = col("id") % 100 === 0
      val full = Similarity.bruteForceTopK(prepared.filter(isQuery), prepared, k = 5)
      val half = Similarity.bruteForceTopK(trunc.filter(isQuery), trunc, k = 5)
        .select($"q_id", $"c_id", lit(1).as("hit"))
      full.join(half, Seq("q_id", "c_id"), "left")
        .groupBy($"q_id")
        .agg(sum(coalesce($"hit", lit(0))).cast("long").as("n_overlap"),
          max(when($"rank" === 1, coalesce($"hit", lit(0))).otherwise(0))
            .cast("long").as("top1_kept"))
        .orderBy("q_id")
    }, Some(s"""
      WITH $prepSql,
      t AS (SELECT vec_id, qvec[1:32] AS tvec,
          list_dot_product(qvec[1:32], qvec[1:32]) AS tn2 FROM n),
      qf AS (SELECT * FROM n WHERE vec_id % 100 = 0),
      qt AS (SELECT * FROM t WHERE vec_id % 100 = 0),
      sf AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          list_dot_product(q.qvec, c.qvec) / sqrt(q.n2 * c.n2) AS cos_sim
        FROM n c, qf q WHERE q.vec_id <> c.vec_id),
      st AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          list_dot_product(q.tvec, c.tvec) / sqrt(q.tn2 * c.tn2) AS cos_sim
        FROM t c, qt q WHERE q.vec_id <> c.vec_id),
      rf AS (SELECT q_id, c_id,
          row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk
        FROM sf),
      rt AS (SELECT q_id, c_id,
          row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk
        FROM st),
      ff AS (SELECT q_id, c_id, rnk FROM rf WHERE rnk <= 5),
      tt AS (SELECT q_id, c_id FROM rt WHERE rnk <= 5)
      SELECT ff.q_id,
        CAST(sum(CASE WHEN tt.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
        CAST(max(CASE WHEN ff.rnk = 1 AND tt.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS top1_kept
      FROM ff LEFT JOIN tt ON tt.q_id = ff.q_id AND tt.c_id = ff.c_id
      GROUP BY ff.q_id ORDER BY ff.q_id""")),

    // ----- hybrid retrieval: reciprocal rank fusion -----------------------
    // The modern RAG-retrieval primitive: fuse a keyword ranking and a
    // vector ranking by RRF score Σ 1/(60 + rank), computed over the
    // TRUNCATED top-20 of each list — the form real systems fuse (a
    // full-corpus global rank would be a single-partition sort; top-k
    // per list is TakeOrderedAndProject, so each side collapses
    // map-side before any global step). The keyword query is the
    // corpus's top-3 tokens (in-DAG, deterministic ties), the vector
    // query is doc 0's embedding (vec_id aligns 1:1 with doc_id);
    // fusion is a full-outer equi-join of two ≤20-row lists and the
    // RRF contributions are exact integers: ⌊10⁶/(60+r)⌋.
    ("q173_hybrid_rrf", (s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.spread(Tables.t(s, dir, "documents"))
      val toks = docs
        .select($"doc_id", explode(split(TA.normText($"text"), " ")).as("tok"))
        .filter($"tok" =!= "")
      val qterms = toks.groupBy($"tok").agg(count(lit(1)).as("ct"))
        .orderBy(desc("ct"), $"tok").limit(3).select($"tok")
      val kwTop = toks.join(broadcast(qterms), Seq("tok"))
        .filter($"doc_id" =!= 0)
        .groupBy($"doc_id").agg(count(lit(1)).as("kw_score"))
        .orderBy(desc("kw_score"), $"doc_id").limit(20)
        .withColumn("kw_rank",
          row_number().over(Window.orderBy(desc("kw_score"), $"doc_id")))
      val prepared = Similarity.prepare(
        Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
      val qv = prepared.filter($"id" === 0)
        .select($"qvec".as("q_vec"), $"n2".as("q_n2"))
      val vecTop = prepared.filter($"id" =!= 0).crossJoin(broadcast(qv))
        .select($"id".as("doc_id"),
          Similarity.cosine(Similarity.dot($"qvec", $"q_vec"), $"n2", $"q_n2")
            .as("cos_sim"))
        .orderBy(desc("cos_sim"), $"doc_id").limit(20)
        .withColumn("vec_rank",
          row_number().over(Window.orderBy(desc("cos_sim"), $"doc_id")))
      kwTop.select($"doc_id", $"kw_rank")
        .join(vecTop.select($"doc_id", $"vec_rank"), Seq("doc_id"), "full_outer")
        .select($"doc_id",
          coalesce($"kw_rank", lit(0)).cast("long").as("kw_rank"),
          coalesce($"vec_rank", lit(0)).cast("long").as("vec_rank"),
          (coalesce(expr("1000000 div (60 + kw_rank)"), lit(0)) +
            coalesce(expr("1000000 div (60 + vec_rank)"), lit(0)))
            .cast("long").as("rrf_micro"))
        .orderBy(desc("rrf_micro"), $"doc_id")
    }, Some(s"""
      WITH toks AS (SELECT doc_id, unnest(string_split(${TA.normTextSql}, ' ')) AS tok
        FROM documents),
      tk AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
      qt AS (SELECT tok FROM (SELECT tok, count(*) AS ct FROM tk
        GROUP BY 1 ORDER BY ct DESC, tok LIMIT 3)),
      kw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kw_score
        FROM tk JOIN qt USING (tok) WHERE doc_id <> 0 GROUP BY 1),
      kwt AS (SELECT doc_id, row_number() OVER (ORDER BY kw_score DESC, doc_id) AS kw_rank
        FROM (SELECT * FROM kw ORDER BY kw_score DESC, doc_id LIMIT 20)),
      ${Similarity.prepareSql},
      qv AS (SELECT qvec AS q_vec, n2 AS q_n2 FROM n WHERE vec_id = 0),
      vt AS (SELECT vec_id AS doc_id,
          list_dot_product(qvec, q_vec) / sqrt(n2 * q_n2) AS cos_sim
        FROM n, qv WHERE vec_id <> 0
        ORDER BY cos_sim DESC, vec_id LIMIT 20),
      vtr AS (SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS vec_rank
        FROM vt),
      f AS (SELECT COALESCE(k.doc_id, v.doc_id) AS doc_id, k.kw_rank, v.vec_rank
        FROM kwt k FULL OUTER JOIN vtr v ON v.doc_id = k.doc_id)
      SELECT doc_id,
        CAST(COALESCE(kw_rank, 0) AS BIGINT) AS kw_rank,
        CAST(COALESCE(vec_rank, 0) AS BIGINT) AS vec_rank,
        CAST(COALESCE(1000000 // (60 + kw_rank), 0)
          + COALESCE(1000000 // (60 + vec_rank), 0) AS BIGINT) AS rrf_micro
      FROM f ORDER BY rrf_micro DESC, doc_id""")),

    // Ranked retrieval, incremental dedup against a
    // reference corpus, sketch-based quantiles, and random-projection
    // dimensionality reduction — each with a DuckDB oracle.
    //
    // House rules as elsewhere: md5-derived determinism shared verbatim
    // between the Spark plan and the oracle SQL, micro-integer arithmetic
    // wherever float summation order could diverge, identical aliases on
    // both sides, a total ORDER BY everywhere.

    // ----- BM25 ranked retrieval ---------------------------------------
    // The ranking function TF-IDF (q86) approximates: Okapi BM25 with
    // k1=1.2, b=0.75 and the Lucene idf ln(1 + (N-df+.5)/(df+.5)).
    // Exactness trick: both constants are small rationals, so the whole
    // per-term score clears to ONE integer division —
    //   (2N+2)/(2df+1) is the idf ratio with the halves multiplied out,
    //   and tf·(k1+1) / (tf + k1(1-b+b·dl/avgdl)) with avgdl = S/N
    //   cross-multiplies to 22·tf·S / (10·S·tf + 3·S + 9·dl·N).
    // Only the idf ln is transcendental, handled by the shared micro-ln
    // rule (q127): floor(ln(ratio)·1e6 + 0.5) on identical doubles.
    // The cross-multiplied products (idf_micro·22·f·S and 9·dl·N) exceed
    // Int64 once S·N passes ~1e19, so the gate runs in 128-bit integer
    // arithmetic — DECIMAL(38,0) here, HUGEINT in the oracle — which
    // holds exactly to S,N ≈ 1e15 (beyond 100 TB of tokens).
    // The query terms are the corpus's three RAREST tokens (df asc) —
    // data-derived, so the oracle reproduces them — and broadcast; the
    // per-doc length and the (N, S) corpus scalars ride one in-DAG
    // aggregate each (the q86 rule: no driver-side counts). Shuffles:
    // the tf/df/dl aggregates all hash-partition on doc or token keys —
    // the same passes an inverted-index build (q156) already pays, so
    // at 100 TB BM25 costs nothing beyond the index statistics.
    ("q182_bm25", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select($"doc_id", explode(split(TA.normText($"text"), " ")).as("tok"))
      val tf = toks.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("f"))
      val dl = toks.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
      val sc = dl.agg(count(lit(1)).as("n"), sum($"dl").as("s"))
      val dfre = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
      val qt = dfre.orderBy($"df", $"tok").limit(3)
      tf.join(broadcast(qt), Seq("tok"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(sc))
        .withColumn("idf_micro",
          floor(log((lit(2.0) * $"n" + 2) / (lit(2.0) * $"df" + 1)) * 1e6 + 0.5)
            .cast("long"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_terms"),
          sum(expr("CAST((CAST(idf_micro AS DECIMAL(38,0)) * 22 * f * s) div " +
              "(CAST(10 AS DECIMAL(38,0))*s*f + 3*s + 9*dl*n) AS BIGINT)"))
            .as("score_micro"))
        .orderBy(desc("score_micro"), $"doc_id")
        .limit(20)
    }, Some(s"""
      WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok FROM documents),
      tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
      sc AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS s FROM dl),
      dfre AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      qt AS (SELECT tok, df FROM dfre ORDER BY df, tok LIMIT 3),
      terms AS (SELECT tf.doc_id, tf.f, dl.dl, qt.df, sc.n, sc.s,
          CAST(floor(ln((2.0*sc.n + 2) / (2.0*qt.df + 1)) * 1e6 + 0.5) AS BIGINT) AS idf_micro
        FROM tf JOIN qt USING (tok) JOIN dl USING (doc_id) CROSS JOIN sc)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        CAST(sum((CAST(idf_micro AS HUGEINT) * 22 * f * s)
          // (CAST(10 AS HUGEINT)*s*f + 3*s + 9*dl*n)) AS BIGINT) AS score_micro
      FROM terms GROUP BY doc_id
      ORDER BY score_micro DESC, doc_id LIMIT 20""")),

    // ----- mergeable bottom-k quantile sketch + rank-error audit --------
    // Quantiles at 100 TB without a global sort: a bottom-256-by-md5
    // sample IS a mergeable sketch (the union's bottom-k is the bottom-k
    // of the unioned bottom-ks — the KMV/q140 property), collected here
    // by TakeOrdered (distributed top-k, no single-partition pass over
    // the data). Estimated quantiles read the sorted 256-row sample;
    // the EXACT side — the audit, priced for validation runs, not the
    // scale path — uses the q126 cumulative-count form over grouped
    // values. rank_err_micro is the true rank error of each estimate,
    // |rank(est)/n − p/100|, the quantity sketch error bounds promise
    // (~1/sqrt(k) ≈ 6% here); everything after the two aggregates is
    // arithmetic over single-row scalars, all integer.
    ("q184_quantile_sketch", (s: SparkSession, dir: String) => {
      import s.implicits._
      val vals = Tables.t(s, dir, "lineitem")
        .select(floor($"l_extendedprice" * 100 + 0.5).cast("long").as("cents"),
          conv(substring(md5(concat_ws("|", $"l_orderkey".cast("string"),
            $"l_linenumber".cast("string"))), 1, 8), 16, 10).cast("long").as("h"),
          $"l_orderkey".as("okey"), $"l_linenumber".as("lnum"))
      val samp = vals.orderBy($"h", $"okey", $"lnum").limit(256)
      val srn = samp.withColumn("rn",
        row_number().over(Window.orderBy($"cents", $"h", $"okey", $"lnum")))
      val k = samp.agg(count(lit(1)).as("k"))
      val n = vals.agg(count(lit(1)).as("n"))
      val ps = Seq(25, 50, 75, 90).toDF("p")
      val dwin = graft.ext.GridCumulative.withRunningTotal(
        vals.groupBy($"cents").agg(count(lit(1)).as("c")), "cents", "c", "cum")
      val est = ps.crossJoin(broadcast(k))
        .withColumn("idx", expr("(p * k + 99) div 100"))
        .join(srn, $"rn" === $"idx")
        .select($"p", $"cents".as("est_cents"))
      val exact = ps.crossJoin(broadcast(n))
        .withColumn("r", expr("(p * n + 99) div 100"))
        .join(dwin, $"cum" >= $"r")
        .groupBy($"p").agg(min($"cents").as("exact_cents"))
      est.join(exact, Seq("p"))
        .join(dwin.select($"cents", $"cum"), $"cents" === $"est_cents")
        .crossJoin(broadcast(n))
        .select($"p".cast("long").as("p"), $"est_cents", $"exact_cents",
          $"cum".as("est_rank"),
          abs(expr("(1000000 * cum) div n") - lit(10000) * $"p").as("rank_err_micro"))
        .orderBy($"p")
    }, Some("""
      WITH vals AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
          ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT AS h,
          l_orderkey AS okey, l_linenumber AS lnum
        FROM lineitem),
      samp AS (SELECT cents, h, okey, lnum FROM vals ORDER BY h, okey, lnum LIMIT 256),
      srn AS (SELECT cents, row_number() OVER (ORDER BY cents, h, okey, lnum) AS rn FROM samp),
      k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM samp),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vals),
      ps AS (SELECT p FROM (VALUES (25), (50), (75), (90)) AS t(p)),
      dwin AS (SELECT cents, sum(c) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM (SELECT cents, count(*) AS c FROM vals GROUP BY 1)),
      est AS (SELECT p, cents AS est_cents FROM ps, k, srn WHERE rn = (p * k + 99) // 100),
      exact AS (SELECT p, min(cents) AS exact_cents FROM ps, n, dwin
        WHERE cum >= (p * n + 99) // 100 GROUP BY p)
      SELECT CAST(est.p AS BIGINT) AS p, est.est_cents, exact.exact_cents,
        CAST(d.cum AS BIGINT) AS est_rank,
        CAST(abs((1000000 * d.cum) // n.n - 10000 * est.p) AS BIGINT) AS rank_err_micro
      FROM est JOIN exact ON est.p = exact.p
      JOIN dwin d ON d.cents = est.est_cents CROSS JOIN n
      ORDER BY p""")),

    // ----- random-projection (JL) dimensionality reduction + audit ------
    // Johnson-Lindenstrauss with an Achlioptas ±1 matrix: project the
    // 64-d embeddings to 16-d where the sign s(j,k) comes from one md5
    // bit — the matrix is never materialized or shipped, both engines
    // regenerate any entry from (j,k) alone, and for ±1 entries
    // E[d_proj²] = m·d_orig² exactly. Vectors are micro-quantized first
    // (the q101 floor(x·1000+0.5) rule) so every dot product is integer
    // math with NO float summation order to diverge. The projection is
    // per-row map-side (nested higher-order exprs, no explode, no
    // shuffle) — at 100 TB this is the embedding-compression pass before
    // an ANN build, 4× cheaper distance math downstream. The audit joins
    // the first 20 vectors' 190 pairs (a fixed-size probe set at any
    // corpus size) and reports the distortion ratio 1e6·d_proj²/(m·d_orig²),
    // concentrating around 1e6 as JL promises.
    ("q185_random_projection", (s: SparkSession, dir: String) => {
      import s.implicits._
      val e = Tables.t(s, dir, "embeddings").filter($"vec_id" < 20)
        .select($"vec_id",
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))").as("q"))
        .withColumn("proj", expr("""
          transform(sequence(1, 16), k -> aggregate(sequence(1, 64), CAST(0 AS BIGINT),
            (acc, j) -> acc + element_at(q, j) *
              (CASE WHEN CAST(conv(substring(md5(concat(CAST(j AS STRING), '|', CAST(k AS STRING))), 1, 1), 16, 10) AS INT) % 2 = 0
                THEN 1 ELSE -1 END)))"""))
      val a = e.select($"vec_id".as("id_a"), $"q".as("qa"), $"proj".as("pa"))
      val b = e.select($"vec_id".as("id_b"), $"q".as("qb"), $"proj".as("pb"))
      a.crossJoin(b).filter($"id_a" < $"id_b")
        .withColumn("d_orig_sq",
          expr("aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
        .withColumn("d_proj_sq",
          expr("aggregate(zip_with(pa, pb, (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
        .select($"id_a", $"id_b", $"d_orig_sq", $"d_proj_sq",
          expr("CASE WHEN d_orig_sq = 0 THEN NULL ELSE (1000000 * d_proj_sq) div (16 * d_orig_sq) END")
            .as("ratio_micro"))
        .orderBy($"id_a", $"id_b")
    }, Some("""
      WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
        FROM embeddings WHERE vec_id < 20),
      p AS (SELECT vec_id, q,
          list_transform(range(1, 17), k -> CAST(list_sum(list_transform(range(1, 65),
            j -> q[j] * (CASE WHEN ('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || CAST(k AS VARCHAR)), 1, 1))::INT % 2 = 0
              THEN 1 ELSE -1 END))) AS BIGINT)) AS proj
        FROM e),
      pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.q AS qa, b.q AS qb,
          a.proj AS pa, b.proj AS pb
        FROM p a JOIN p b ON a.vec_id < b.vec_id),
      d AS (SELECT id_a, id_b,
          CAST(list_sum(list_transform(range(1, 65), j -> (qa[j] - qb[j]) * (qa[j] - qb[j]))) AS BIGINT) AS d_orig_sq,
          CAST(list_sum(list_transform(range(1, 17), k -> (pa[k] - pb[k]) * (pa[k] - pb[k]))) AS BIGINT) AS d_proj_sq
        FROM pairs)
      SELECT id_a, id_b, d_orig_sq, d_proj_sq,
        CASE WHEN d_orig_sq = 0 THEN NULL
          ELSE (1000000 * d_proj_sq) // (16 * d_orig_sq) END AS ratio_micro
      FROM d ORDER BY id_a, id_b""")),

    // ----- kNN label-agreement audit (label-noise detection) ------------
    // Confident-learning-style noise screen: for each probe vector, how
    // many of its 5 nearest neighbors (exact cosine over the full set —
    // the q24 baseline; the LSH/IVF paths swap in at scale) share its
    // label? Per-label agreement totals plus the suspect count
    // (agreement ≤ 1 — the mislabeled-candidate queue a human review
    // would drain). The probe set is fixed-size (vec_id < 50) so the
    // audit costs |probes|·N dots at any corpus size with the probe side
    // broadcast — the same plan shape q24 pins. Integer outputs only.
    ("q187_label_noise", (s: SparkSession, dir: String) => {
      import s.implicits._
      val prepared = Similarity.prepare(
        Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
      val labels = Tables.t(s, dir, "embeddings").select($"vec_id", $"label")
      val knn = Similarity.bruteForceTopK(prepared.filter($"id" < 50), prepared, 5)
      val agree = knn
        .join(labels.select($"vec_id".as("q_id"), $"label".as("p_label")), Seq("q_id"))
        .join(labels.select($"vec_id".as("c_id"), $"label".as("c_label")), Seq("c_id"))
        .groupBy($"q_id", $"p_label")
        .agg(sum(when($"p_label" === $"c_label", 1L).otherwise(0L)).as("agree"))
      agree.groupBy($"p_label")
        .agg(count(lit(1)).as("n_probes"), sum($"agree").as("sum_agree"),
          sum(when($"agree" <= 1L, 1L).otherwise(0L)).as("n_suspect"))
        .select($"p_label".cast("long").as("label"), $"n_probes", $"sum_agree",
          $"n_suspect")
        .orderBy($"label")
    }, Some(s"""
      WITH $prepSql,
      lbl AS (SELECT vec_id, label FROM embeddings),
      q AS (SELECT vec_id AS q_id, qvec AS q_vec, n2 AS q_n2 FROM n WHERE vec_id < 50),
      sc AS (SELECT q.q_id, c.vec_id AS c_id,
          row_number() OVER (PARTITION BY q.q_id
            ORDER BY list_dot_product(q.q_vec, c.qvec) / sqrt(q.q_n2 * c.n2) DESC,
              c.vec_id) AS rank
        FROM q JOIN n c ON c.vec_id <> q.q_id),
      ag AS (SELECT k.q_id, lp.label AS p_label,
          CAST(sum(CASE WHEN lp.label = lc.label THEN 1 ELSE 0 END) AS BIGINT) AS agree
        FROM sc k JOIN lbl lp ON lp.vec_id = k.q_id
        JOIN lbl lc ON lc.vec_id = k.c_id
        WHERE k.rank <= 5 GROUP BY 1, 2)
      SELECT CAST(p_label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n_probes,
        CAST(sum(agree) AS BIGINT) AS sum_agree,
        CAST(sum(CASE WHEN agree <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect
      FROM ag GROUP BY 1 ORDER BY 1""")),

    // ----- multi-probe kNN graph (the recall complement to q158) ---------
    // The round-8 KnnDial sweep measured the single-table LSH tradeoff:
    // raising nProj splits candidate volume ÷2^Δ but collapses recall
    // (17.8% → 3.5% at ×10 scale), because a true neighbor differing in
    // ONE sign bit lands one bucket over. Multi-probe recovers exactly
    // those: every node ALSO probes its nProj Hamming-1 buckets, so the
    // candidate join costs (nProj+1)× the single-table volume at the
    // SAME bucketing — a net win whenever the bucket split it enables
    // (2^Δ) exceeds nProj+1. Same bucket equi-join shape as q158 (no
    // broadcast: both sides shuffle on the bucket key, which is the
    // 100 TB-safe form for an every-node query set), distinct on the
    // (q, c) pair because probe buckets overlap, then the identical
    // top-3 + mutual-edge construction.
    ("q200_knn_graph_multiprobe", (s: SparkSession, dir: String) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val prepared = Similarity.prepare(
        Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
      val projs = Similarity.OracleProjs
      val b = prepared.withColumn("bucket", Similarity.lshBucket(col("qvec"), projs))
      val probeList = array((lit(0) +: projs.indices.map(j => lit(1 << j))): _*)
      val q = b.withColumn("__flip", explode(probeList))
        .select(expr("bucket ^ __flip").as("bucket"),
          $"id".as("q_id"), $"qvec".as("q_vec"), $"n2".as("q_n2"))
      val c = b.select($"bucket", $"id".as("c_id"),
        $"qvec".as("c_vec"), $"n2".as("c_n2"))
      val scored = q.join(c, "bucket").filter($"q_id" =!= $"c_id")
        .select($"q_id", $"c_id",
          Similarity.cosine(Similarity.dot($"q_vec", $"c_vec"), $"q_n2", $"c_n2")
            .as("cos_sim"))
        .distinct()
      val w = Window.partitionBy($"q_id").orderBy(desc("cos_sim"), $"c_id")
      val knn = scored.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 3)
      val rev = knn.select($"c_id".as("q_id"), $"q_id".as("c_id"), lit(1).as("m"))
      knn.join(rev, Seq("q_id", "c_id"), "left")
        .select($"q_id", $"rnk", $"c_id", $"cos_sim",
          coalesce($"m", lit(0)).cast("long").as("mutual"))
        .orderBy("q_id", "rnk")
    }, Some(s"""
      WITH ${Similarity.prepareSql},
      b AS (SELECT vec_id, qvec, n2, ${Similarity.lshBucketSql} AS bucket FROM n),
      q AS (SELECT xor(bucket, flip) AS bucket, vec_id AS q_id, qvec AS q_vec, n2 AS q_n2
        FROM b, unnest([0, 1, 2, 4, 8]) AS t(flip)),
      scored AS (SELECT DISTINCT q.q_id, c.vec_id AS c_id,
        list_dot_product(q.q_vec, c.qvec) / sqrt(q.q_n2 * c.n2) AS cos_sim
        FROM b c JOIN q ON c.bucket = q.bucket AND q.q_id <> c.vec_id),
      r AS (SELECT q_id, c_id, cos_sim,
        row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk
        FROM scored),
      knn AS (SELECT q_id, rnk, c_id, cos_sim FROM r WHERE rnk <= 3)
      SELECT k.q_id, k.rnk, k.c_id, k.cos_sim,
        CAST(CASE WHEN m.q_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS mutual
      FROM knn k LEFT JOIN knn m ON m.q_id = k.c_id AND m.c_id = k.q_id
      ORDER BY k.q_id, k.rnk""")),

    // ----- k-center coreset (Gonzalez farthest-point traversal) -----------
    // Diversity-first subset selection: the 2-approximation to the
    // k-center problem picks, k−1 times, the point farthest from the
    // chosen set — the classic coreset seed for clustering / active
    // labeling / eval-set construction. The running min-distance column
    // makes each round ONE broadcast of the single new center + a
    // map-side `least(mind2, d²(p, c_t))` + a TakeOrdered(1) argmax —
    // O(kN) total distance evaluations, never the O(k²N) recompute, no
    // shuffle except the 1-row argmax. Distances are exact integers
    // (quantized vectors: d² = n2a + n2b − 2·dot), so the traversal is
    // engine-deterministic; ties break to the smaller id. The driver
    // holds only the k-row center list (loop CONTROL, the cc_star
    // pattern); per-center assignment + radius is the coverage audit the
    // selection is judged by.
    ("q205_kcenter_coreset", (s: SparkSession, dir: String) => {
      import s.implicits._
      val pts = Similarity.prepare(
        Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
        .localCheckpoint() // scanned once per round + once for assignment
      def d2(n2a: org.apache.spark.sql.Column, n2b: org.apache.spark.sql.Column,
             va: org.apache.spark.sql.Column, vb: org.apache.spark.sql.Column) =
        (n2a + n2b - lit(2) * Similarity.dot(va, vb)).cast("long")
      val c1 = pts.orderBy($"id").limit(1)
      var cents = c1.withColumn("ord", lit(1L)).localCheckpoint()
      var state = pts.crossJoin(broadcast(
          c1.select($"qvec".as("c_vec"), $"n2".as("c_n2"))))
        .select($"id", $"qvec", $"n2",
          d2($"n2", $"c_n2", $"qvec", $"c_vec").as("mind2"))
        .localCheckpoint()
      for (t <- 2 to 4) {
        val far = state.orderBy(desc("mind2"), $"id").limit(1)
          .select($"id", $"qvec", $"n2").localCheckpoint()
        cents = cents.unionByName(far.withColumn("ord", lit(t.toLong)))
          .localCheckpoint()
        state = state.crossJoin(broadcast(
            far.select($"qvec".as("c_vec"), $"n2".as("c_n2"))))
          .select($"id", $"qvec", $"n2",
            least($"mind2", d2($"n2", $"c_n2", $"qvec", $"c_vec")).as("mind2"))
          .localCheckpoint()
      }
      val asg = pts.crossJoin(broadcast(cents.select($"id".as("center_id"),
          $"qvec".as("c_vec"), $"n2".as("c_n2"), $"ord")))
        .select($"id", $"center_id", $"ord",
          d2($"n2", $"c_n2", $"qvec", $"c_vec").as("dd"))
      val w = Window.partitionBy($"id").orderBy($"dd", $"ord")
      asg.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .groupBy($"ord", $"center_id")
        .agg(count(lit(1)).as("n_assigned"), max($"dd").as("radius_d2"),
          sum($"id").as("idsum"))
        .select($"ord", $"center_id", $"n_assigned", $"radius_d2", $"idsum")
        .orderBy("ord")
    }, Some(s"""
      WITH ${Similarity.prepareSql},
      c1 AS (SELECT vec_id, qvec, n2 FROM n ORDER BY vec_id LIMIT 1),
      d1 AS (SELECT n.vec_id, n.qvec, n.n2,
          CAST(n.n2 + c.n2 - 2 * list_dot_product(n.qvec, c.qvec) AS BIGINT) AS mind2
        FROM n CROSS JOIN c1 c),
      c2 AS (SELECT vec_id, qvec, n2 FROM d1 ORDER BY mind2 DESC, vec_id LIMIT 1),
      d2 AS (SELECT d.vec_id, d.qvec, d.n2, least(d.mind2,
          CAST(d.n2 + c.n2 - 2 * list_dot_product(d.qvec, c.qvec) AS BIGINT)) AS mind2
        FROM d1 d CROSS JOIN c2 c),
      c3 AS (SELECT vec_id, qvec, n2 FROM d2 ORDER BY mind2 DESC, vec_id LIMIT 1),
      d3 AS (SELECT d.vec_id, d.qvec, d.n2, least(d.mind2,
          CAST(d.n2 + c.n2 - 2 * list_dot_product(d.qvec, c.qvec) AS BIGINT)) AS mind2
        FROM d2 d CROSS JOIN c3 c),
      c4 AS (SELECT vec_id, qvec, n2 FROM d3 ORDER BY mind2 DESC, vec_id LIMIT 1),
      cents AS (SELECT 1 AS ord, vec_id, qvec, n2 FROM c1
        UNION ALL SELECT 2, vec_id, qvec, n2 FROM c2
        UNION ALL SELECT 3, vec_id, qvec, n2 FROM c3
        UNION ALL SELECT 4, vec_id, qvec, n2 FROM c4),
      asg AS (SELECT p.vec_id, c.ord, c.vec_id AS center_id,
          CAST(p.n2 + c.n2 - 2 * list_dot_product(p.qvec, c.qvec) AS BIGINT) AS dd,
          row_number() OVER (PARTITION BY p.vec_id ORDER BY
            CAST(p.n2 + c.n2 - 2 * list_dot_product(p.qvec, c.qvec) AS BIGINT), c.ord) AS rn
        FROM n p CROSS JOIN cents c)
      SELECT CAST(ord AS BIGINT) AS ord, center_id,
        CAST(count(*) AS BIGINT) AS n_assigned, max(dd) AS radius_d2,
        CAST(sum(vec_id) AS BIGINT) AS idsum
      FROM asg WHERE rn = 1 GROUP BY ord, center_id ORDER BY ord""")),

    // The ANN index-engineering surface — product
    // quantization with asymmetric-distance scoring (the memory-bound form
    // every 100 TB vector index converges on), embedding-space drift
    // monitoring between corpus snapshots, and recall certification of the
    // LSH search against its exact oracle.
    //
    // Numeric house rules: quantized integer-valued vectors (exact dot
    // products), L2 distances cleared to Int64 before any comparison,
    // centroid means per-dimension ROUNDED so codebooks stay integer and
    // engine-identical (the q47 Lloyd convention).

    // ----- product quantization + asymmetric distance (ADC) --------------
    // The representation a 100 TB vector index actually serves from:
    // vectors stored as m=2 sub-space codebook CODES (here 2×~8 centroids
    // → 2 small ints per vector, a ~128× compression of the 64-dim
    // payload), queries scored WITHOUT decoding — each query precomputes
    // a LUT of exact distances to every centroid per subspace (|Q|·K·m
    // rows, broadcastable), and candidate scoring becomes a hash join of
    // the code table against the LUT + a 2-term sum: NO vector math in
    // the corpus-sized loop, which is the whole point of ADC. Codebooks
    // are trained with 2 Lloyd-L2 rounds per subspace from deterministic
    // seeds (per-dim rounded means keep them integer — the q47
    // convention); `in_exact` audits each ADC top-3 hit against the
    // exact-L2 top-3, pricing the compression in recall.
    ("q208_pq_adc", (s: SparkSession, dir: String) => {
      import s.implicits._
      val prepared = Similarity.prepare(
        Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
        .localCheckpoint() // scanned by 2 subspace pipelines + exact oracle
      def sub(lo: Int): DataFrame = prepared
        .select($"id", slice($"qvec", lo, 32).as("sv"))
        .withColumn("sn2", graft.functions.Lambda.bind1($"sv")(a =>
          Similarity.dot(a, a)))
      val sv1 = sub(1).localCheckpoint()
      val sv2 = sub(33).localCheckpoint()
      val c1 = lloydL2(sv1, sv1.filter($"id" % 64 === 0)
        .select($"id".as("cent_id"), $"sv".as("cvec"), $"sn2".as("cn2")), 2)
      val c2 = lloydL2(sv2, sv2.filter($"id" % 64 === 0)
        .select($"id".as("cent_id"), $"sv".as("cvec"), $"sn2".as("cn2")), 2)
      val codes = encode(sv1, c1, "code1")
        .join(encode(sv2, c2, "code2"), "id")
      def lut(sv: DataFrame, cents: DataFrame): DataFrame =
        sv.filter($"id" % 100 === 0)
          .select($"id".as("q_id"), $"sv".as("q_sv"), $"sn2".as("q_sn2"))
          .crossJoin(broadcast(cents))
          .select($"q_id", $"cent_id",
            ($"q_sn2" + $"cn2" - lit(2) * Similarity.dot($"q_sv", $"cvec"))
              .cast("long").as("pd2"))
      val l1 = lut(sv1, c1)
      val l2 = lut(sv2, c2)
      val adc = codes
        .join(broadcast(l1.toDF("q_id", "code1", "pd1")), Seq("code1"))
        .join(broadcast(l2.toDF("q_id", "code2", "pd2")), Seq("q_id", "code2"))
        .filter($"q_id" =!= $"id")
        .select($"q_id", $"id".as("c_id"), ($"pd1" + $"pd2").as("adc_d2"))
      val w = Window.partitionBy($"q_id").orderBy($"adc_d2", $"c_id")
      val top3 = adc.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 3)
      val qf = prepared.filter($"id" % 100 === 0)
        .select($"id".as("q_id"), $"qvec".as("q_vec"), $"n2".as("q_n2"))
      val exact = prepared.crossJoin(broadcast(qf)).filter($"q_id" =!= $"id")
        .select($"q_id", $"id".as("c_id"),
          ($"q_n2" + $"n2" - lit(2) * Similarity.dot($"q_vec", $"qvec"))
            .cast("long").as("ed2"))
      val we = Window.partitionBy($"q_id").orderBy($"ed2", $"c_id")
      val ex3 = exact.withColumn("ernk", row_number().over(we)).filter($"ernk" <= 3)
        .select($"q_id", $"c_id").withColumn("hit", lit(1L))
      top3.join(ex3, Seq("q_id", "c_id"), "left")
        .select($"q_id", $"rnk".cast("long").as("rnk"), $"c_id", $"adc_d2",
          coalesce($"hit", lit(0L)).as("in_exact"))
        .orderBy("q_id", "rnk")
    }, Some(s"""
      WITH ${Similarity.prepareSql},
      sv1 AS (SELECT vec_id, qvec[1:32] AS sv,
        list_dot_product(qvec[1:32], qvec[1:32]) AS sn2 FROM n),
      sv2 AS (SELECT vec_id, qvec[33:64] AS sv,
        list_dot_product(qvec[33:64], qvec[33:64]) AS sn2 FROM n),
      ${lloydSql(1, 2, 64)},
      ${lloydSql(2, 2, 64)},
      codes1 AS (SELECT vec_id, cent_id AS code1 FROM (
        SELECT p.vec_id, c.cent_id,
          row_number() OVER (PARTITION BY p.vec_id ORDER BY
            CAST(p.sn2 + c.cn2 - 2 * list_dot_product(p.sv, c.cvec) AS BIGINT), c.cent_id) AS r
        FROM sv1 p, c1_2 c) WHERE r = 1),
      codes2 AS (SELECT vec_id, cent_id AS code2 FROM (
        SELECT p.vec_id, c.cent_id,
          row_number() OVER (PARTITION BY p.vec_id ORDER BY
            CAST(p.sn2 + c.cn2 - 2 * list_dot_product(p.sv, c.cvec) AS BIGINT), c.cent_id) AS r
        FROM sv2 p, c2_2 c) WHERE r = 1),
      lut1 AS (SELECT q.vec_id AS q_id, c.cent_id,
          CAST(q.sn2 + c.cn2 - 2 * list_dot_product(q.sv, c.cvec) AS BIGINT) AS pd1
        FROM sv1 q CROSS JOIN c1_2 c WHERE q.vec_id % 100 = 0),
      lut2 AS (SELECT q.vec_id AS q_id, c.cent_id,
          CAST(q.sn2 + c.cn2 - 2 * list_dot_product(q.sv, c.cvec) AS BIGINT) AS pd2
        FROM sv2 q CROSS JOIN c2_2 c WHERE q.vec_id % 100 = 0),
      adc AS (SELECT l1.q_id, cd1.vec_id AS c_id, l1.pd1 + l2.pd2 AS adc_d2
        FROM codes1 cd1 JOIN codes2 cd2 ON cd2.vec_id = cd1.vec_id
        JOIN lut1 l1 ON l1.cent_id = cd1.code1
        JOIN lut2 l2 ON l2.cent_id = cd2.code2 AND l2.q_id = l1.q_id
        WHERE l1.q_id <> cd1.vec_id),
      top3 AS (SELECT q_id, c_id, adc_d2,
          row_number() OVER (PARTITION BY q_id ORDER BY adc_d2, c_id) AS rnk
        FROM adc),
      qf AS (SELECT vec_id AS q_id, qvec, n2 FROM n WHERE vec_id % 100 = 0),
      ex3 AS (SELECT q_id, c_id FROM (
        SELECT q.q_id, c.vec_id AS c_id,
          row_number() OVER (PARTITION BY q.q_id ORDER BY
            CAST(q.n2 + c.n2 - 2 * list_dot_product(q.qvec, c.qvec) AS BIGINT), c.vec_id) AS ernk
        FROM n c JOIN qf q ON c.vec_id <> q.q_id) WHERE ernk <= 3)
      SELECT t.q_id, CAST(t.rnk AS BIGINT) AS rnk, t.c_id, t.adc_d2,
        CAST(CASE WHEN e.c_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_exact
      FROM top3 t LEFT JOIN ex3 e ON e.q_id = t.q_id AND e.c_id = t.c_id
      WHERE t.rnk <= 3 ORDER BY t.q_id, t.rnk""")),

    // ----- embedding-space drift between corpus snapshots -----------------
    // q127/q195 watch DISTRIBUTIONS drift; this watches the embedding
    // SPACE: per label, the centroid of the old snapshot (even ids) vs
    // the new (odd ids) — squared centroid displacement in exact integer
    // units plus the population share shift. The monitor an embedding
    // pipeline re-runs per ingest to catch encoder or upstream-content
    // drift before it poisons the ANN index (centroid moves) or the
    // class balance (share moves). Cost: one posexplode aggregate per
    // (label, snapshot, dim) — corpus-linear, output |labels| rows;
    // rounded integer centroids make the drift engine-exact.
    ("q209_embedding_drift", (s: SparkSession, dir: String) => {
      import s.implicits._
      val e = Tables.spread(Tables.t(s, dir, "embeddings"))
        .select($"vec_id", $"label".cast("long").as("label"),
          Similarity.quantize($"embedding").as("qvec"),
          ($"vec_id" % 2).as("snap"))
      val cent = e.select($"label", $"snap", posexplode($"qvec").as(Seq("pos", "v")))
        .groupBy($"label", $"snap", $"pos")
        .agg(round(sum($"v") / count(lit(1))).as("m"))
        .groupBy($"label", $"snap")
        .agg(sort_array(collect_list(struct($"pos", $"m"))).as("pm"))
        .select($"label", $"snap", transform($"pm", x => x("m")).as("cvec"))
      val co = cent.filter($"snap" === 0).select($"label", $"cvec".as("c_old"))
      val cn = cent.filter($"snap" === 1).select($"label", $"cvec".as("c_new"))
      val counts = e.groupBy($"label", $"snap").agg(count(lit(1)).as("n"))
      val no = counts.filter($"snap" === 0).select($"label", $"n".as("n_old"))
      val nn = counts.filter($"snap" === 1).select($"label", $"n".as("n_new"))
      val tots = e.groupBy($"snap").agg(count(lit(1)).as("t"))
      val to = tots.filter($"snap" === 0).select($"t".as("t_old"))
      val tn = tots.filter($"snap" === 1).select($"t".as("t_new"))
      co.join(cn, "label").join(no, "label").join(nn, "label")
        .crossJoin(broadcast(to)).crossJoin(broadcast(tn))
        .select($"label", $"n_old", $"n_new",
          expr("(1000000 * n_old) div t_old").as("share_old_micro"),
          expr("(1000000 * n_new) div t_new").as("share_new_micro"),
          (graft.functions.Lambda.bind1(zip_with($"c_old", $"c_new", (a, b) => a - b))(
            d => Similarity.dot(d, d))).cast("long").as("centroid_d2"))
        .orderBy("label")
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
          list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000)) AS qvec,
          vec_id % 2 AS snap
        FROM embeddings),
      cent AS (SELECT label, snap, list(m ORDER BY pos) AS cvec FROM (
          SELECT label, snap, pos, round(sum(v) / count(*)) AS m FROM (
            SELECT label, snap, unnest(qvec) AS v,
              unnest(range(1, len(qvec) + 1)) AS pos FROM e)
          GROUP BY label, snap, pos)
        GROUP BY label, snap),
      counts AS (SELECT label, snap, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
      tots AS (SELECT snap, CAST(count(*) AS BIGINT) AS t FROM e GROUP BY 1)
      SELECT co.label, no_.n AS n_old, nn_.n AS n_new,
        (1000000 * no_.n) // to_.t AS share_old_micro,
        (1000000 * nn_.n) // tn_.t AS share_new_micro,
        CAST(list_dot_product(co.cvec, co.cvec) + list_dot_product(cn.cvec, cn.cvec)
          - 2 * list_dot_product(co.cvec, cn.cvec) AS BIGINT) AS centroid_d2
      FROM cent co JOIN cent cn ON cn.label = co.label AND co.snap = 0 AND cn.snap = 1
      JOIN counts no_ ON no_.label = co.label AND no_.snap = 0
      JOIN counts nn_ ON nn_.label = co.label AND nn_.snap = 1
      CROSS JOIN (SELECT t FROM tots WHERE snap = 0) to_
      CROSS JOIN (SELECT t FROM tots WHERE snap = 1) tn_
      ORDER BY co.label""")),

    // ----- ANN recall certification (LSH vs exact) ------------------------
    // The number an approximate index must publish before anyone trusts
    // it: per probe query, how many of the exact cosine top-3 the q25
    // LSH search returns (recall@3) and the reciprocal rank at which it
    // surfaces the TRUE nearest neighbor (0 when missed). Both searches
    // are existing operators composed — the exact side runs only on the
    // 1-in-100 probe set (broadcast against the corpus scan, the q24
    // shape), so certification costs a probe-sized fraction of a full
    // brute force; the per-query rows are the audit trail a recall SLO
    // is graded on.
    ("q210_ann_recall_cert", (s: SparkSession, dir: String) => {
      import s.implicits._
      val prepared = Similarity.prepare(
        Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
        .localCheckpoint() // consumed by the LSH and the exact searches
      val lsh = Similarity.lshTopK(prepared, col("id") % 100 === 0,
          Similarity.OracleProjs, k = 3)
        .select($"q_id", $"rank", $"c_id")
      val exact = Similarity.bruteForceTopK(
          prepared.filter($"id" % 100 === 0), prepared, 3)
        .select($"q_id", $"rank".as("erank"), $"c_id")
      val hits = exact.join(lsh.select($"q_id", $"c_id", lit(1L).as("found")),
          Seq("q_id", "c_id"), "left")
        .groupBy($"q_id").agg(sum(coalesce($"found", lit(0L))).as("n_hits"))
      val nn = exact.filter($"erank" === 1).select($"q_id", $"c_id")
      val rr = nn.join(lsh, Seq("q_id", "c_id"), "left")
        .select($"q_id",
          coalesce(expr("1000000 div rank"), lit(0L)).as("rr_micro"))
      hits.join(rr, "q_id")
        .select($"q_id", $"n_hits", $"rr_micro")
        .orderBy("q_id")
    }, Some(s"""
      WITH ${Similarity.prepareSql},
      b AS (SELECT vec_id, qvec, n2, ${Similarity.lshBucketSql} AS bucket FROM n),
      lscored AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          list_dot_product(q.qvec, c.qvec) / sqrt(q.n2 * c.n2) AS cos_sim
        FROM b c JOIN b q ON c.bucket = q.bucket AND q.vec_id <> c.vec_id
        WHERE q.vec_id % 100 = 0),
      lsh AS (SELECT q_id, c_id, rank FROM (SELECT q_id, c_id,
          row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rank
        FROM lscored) WHERE rank <= 3),
      escored AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          list_dot_product(q.qvec, c.qvec) / sqrt(q.n2 * c.n2) AS cos_sim
        FROM n c JOIN n q ON q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id),
      exact AS (SELECT q_id, c_id, erank FROM (SELECT q_id, c_id,
          row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS erank
        FROM escored) WHERE erank <= 3),
      hits AS (SELECT e.q_id,
          CAST(sum(CASE WHEN l.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        FROM exact e LEFT JOIN lsh l ON l.q_id = e.q_id AND l.c_id = e.c_id
        GROUP BY e.q_id),
      rr AS (SELECT e.q_id,
          CAST(coalesce(1000000 // l.rank, 0) AS BIGINT) AS rr_micro
        FROM exact e LEFT JOIN lsh l ON l.q_id = e.q_id AND l.c_id = e.c_id
        WHERE e.erank = 1)
      SELECT h.q_id, h.n_hits, rr.rr_micro
      FROM hits h JOIN rr ON rr.q_id = h.q_id ORDER BY h.q_id""")),

    // ----- IVF index staleness after ingest -------------------------------
    // A trained ANN index degrades as the corpus drifts under it; this
    // is the audit that decides WHEN to retrain. Centroids are k-means
    // trained (2 Lloyd rounds, the q47 template) on the OLD snapshot
    // only (even ids); then the WHOLE corpus — old plus the odd-id
    // "ingest" — is assigned to those frozen cells. Per cell: old/new
    // populations, share of each snapshot, and the mean assignment
    // cosine (micro) per snapshot — new rows fitting systematically
    // worse than old (fit_new < fit_old) or crowding into few cells
    // (share skew) is the retrain signal. Training touches only the old
    // sample; the audit itself is one broadcast-centroid assignment pass
    // + one aggregate — the per-ingest cost is a single corpus map.
    ("q213_ivf_staleness", (s: SparkSession, dir: String) => {
      import s.implicits._
      val prepared = Similarity.prepare(
        Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
        .localCheckpoint() // training scans + the full assignment pass
      // init pred caps the codebook at 20 cells REGARDLESS of corpus
      // size (id < 2000 bounds the seed set): with K fixed, the
      // broadcast assignment pass stays O(N·K) = linear — the ×10 scale
      // probe measured the uncapped form (K ∝ N → N·K ∝ N²) at 4.4×
      // wall, which is the trap this bound removes; production sizes K
      // by sampling the init set the same way
      val cents = Similarity.kmeansCentroids(
        prepared.filter($"id" % 2 === 0), $"id" % 100 === 0 && $"id" < 2000,
        iters = 2)
        .localCheckpoint()
      val scored = prepared.crossJoin(broadcast(cents))
        .select($"id", $"cent_id",
          Similarity.cosine(Similarity.dot($"qvec", $"cent_vec"), $"n2", $"cent_n2")
            .as("cent_cos"))
      val asg = scored.groupBy($"id")
        .agg(max_by(struct($"cent_id", $"cent_cos"),
          struct($"cent_cos", -$"cent_id")).as("best"))
        .select($"id", $"best.cent_id".as("cluster_id"),
          floor($"best.cent_cos" * 1000000 + lit(0.5)).cast("long").as("fit_micro"),
          ($"id" % 2 === 0).as("is_old"))
      val tots = asg.agg(
        sum(when($"is_old", 1L).otherwise(0L)).as("t_old"),
        sum(when(!$"is_old", 1L).otherwise(0L)).as("t_new"))
      asg.groupBy($"cluster_id")
        .agg(sum(when($"is_old", 1L).otherwise(0L)).as("n_old"),
          sum(when(!$"is_old", 1L).otherwise(0L)).as("n_new"),
          sum(when($"is_old", $"fit_micro").otherwise(0L)).as("fso"),
          sum(when(!$"is_old", $"fit_micro").otherwise(0L)).as("fsn"))
        .crossJoin(broadcast(tots))
        .select($"cluster_id", $"n_old", $"n_new",
          expr("(1000000 * n_old) div t_old").as("share_old_micro"),
          expr("(1000000 * n_new) div t_new").as("share_new_micro"),
          when($"n_old" > 0, expr("fso div n_old")).otherwise(0L).as("fit_old_micro"),
          when($"n_new" > 0, expr("fsn div n_new")).otherwise(0L).as("fit_new_micro"))
        .orderBy("cluster_id")
    }, Some {
      def iter(i: Int): String = s"""
      a$i AS (SELECT vec_id, qvec, n2, cent_id AS cluster_id FROM (
        SELECT ne.vec_id, ne.qvec, ne.n2, c.cent_id,
          row_number() OVER (PARTITION BY ne.vec_id ORDER BY
            list_dot_product(ne.qvec, c.cvec) / sqrt(ne.n2 * c.cn2) DESC, c.cent_id) AS r
        FROM ne, c${i - 1} c) WHERE r = 1),
      m$i AS (SELECT cluster_id, pos, round(sum(v) / count(*)) AS m FROM (
        SELECT cluster_id, unnest(qvec) AS v, unnest(range(1, len(qvec) + 1)) AS pos FROM a$i)
        GROUP BY cluster_id, pos),
      c$i AS (SELECT cent_id, cvec, list_dot_product(cvec, cvec) AS cn2 FROM (
        SELECT cluster_id AS cent_id, list(m ORDER BY pos) AS cvec FROM m$i GROUP BY cluster_id))"""
      s"""
      WITH ${Similarity.prepareSql},
      ne AS (SELECT vec_id, qvec, n2 FROM n WHERE vec_id % 2 = 0),
      c0 AS (SELECT vec_id AS cent_id, qvec AS cvec, n2 AS cn2
        FROM ne WHERE vec_id % 100 = 0 AND vec_id < 2000),
      ${iter(1)},
      ${iter(2)},
      asg AS (SELECT vec_id, cluster_id,
          CAST(floor(fit * 1000000 + 0.5) AS BIGINT) AS fit_micro,
          vec_id % 2 = 0 AS is_old
        FROM (SELECT n.vec_id, c.cent_id AS cluster_id,
          list_dot_product(n.qvec, c.cvec) / sqrt(n.n2 * c.cn2) AS fit,
          row_number() OVER (PARTITION BY n.vec_id ORDER BY
            list_dot_product(n.qvec, c.cvec) / sqrt(n.n2 * c.cn2) DESC, c.cent_id) AS r
        FROM n, c2 c) WHERE r = 1),
      tots AS (SELECT CAST(sum(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT) AS t_old,
          CAST(sum(CASE WHEN is_old THEN 0 ELSE 1 END) AS BIGINT) AS t_new FROM asg)
      SELECT cluster_id,
        CAST(sum(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
        CAST(sum(CASE WHEN is_old THEN 0 ELSE 1 END) AS BIGINT) AS n_new,
        (1000000 * CAST(sum(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT)) // t.t_old AS share_old_micro,
        (1000000 * CAST(sum(CASE WHEN is_old THEN 0 ELSE 1 END) AS BIGINT)) // t.t_new AS share_new_micro,
        CASE WHEN sum(CASE WHEN is_old THEN 1 ELSE 0 END) > 0
          THEN CAST(sum(CASE WHEN is_old THEN fit_micro ELSE 0 END) AS BIGINT)
            // CAST(sum(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT) ELSE 0 END AS fit_old_micro,
        CASE WHEN sum(CASE WHEN is_old THEN 0 ELSE 1 END) > 0
          THEN CAST(sum(CASE WHEN is_old THEN 0 ELSE fit_micro END) AS BIGINT)
            // CAST(sum(CASE WHEN is_old THEN 0 ELSE 1 END) AS BIGINT) ELSE 0 END AS fit_new_micro
      FROM asg CROSS JOIN tots t
      GROUP BY cluster_id, t.t_old, t.t_new ORDER BY cluster_id"""
    }),

    // ----- TwoNN intrinsic dimension --------------------------------------
    // Facco et al.'s TwoNN: the intrinsic dimension of an embedding
    // cloud from nothing but each point's two nearest-neighbor
    // distances — ID = 2n / Σ ln(d₂²/d₁²), no density model, no
    // binning. The ratio d₂²/d₁² is scale-free, so the EXACT integer
    // squared distances (n2_q + n2_c − 2·dot on quantized vectors)
    // feed micro-ln directly. Probes are a 1-in-20 md5-stable sample;
    // candidates broadcast-scan as in q24 (the recall-oracle shape);
    // top-2 per probe is a WindowGroupLimit rank. Duplicate-distance
    // probes (d₁ = 0) are excluded, as the estimator requires. ID well
    // below the ambient dimension is the "representation collapse" /
    // compressibility read that decides MRL truncation (q167) and PQ
    // budgets (q208). One candidate scan per probe set — |Q|·N like
    // q24, the honest exact baseline.
    ("q279_twonn_intrinsic_dim", (s: SparkSession, dir: String) => {
      import s.implicits._
      val prepared = Similarity.prepare(
        Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
      val q = prepared.filter($"id" % 20 === 0)
        .select($"id".as("q_id"), $"qvec".as("q_vec"), $"n2".as("q_n2"))
      val c = prepared
        .select($"id".as("c_id"), $"qvec".as("c_vec"), $"n2".as("c_n2"))
      val d2 = c.crossJoin(broadcast(q))
        .filter($"q_id" =!= $"c_id")
        .select($"q_id", $"c_id",
          ($"q_n2" + $"c_n2" - lit(2) * Similarity.dot($"q_vec", $"c_vec"))
            .as("dist2"))
      val top2 = d2
        .withColumn("rnk", row_number().over(
          Window.partitionBy($"q_id").orderBy($"dist2", $"c_id")))
        .filter($"rnk" <= 2)
      val ratios = top2.groupBy($"q_id")
        .agg(max(when($"rnk" === 1, $"dist2")).as("d1"),
          max(when($"rnk" === 2, $"dist2")).as("d2"))
        .filter($"d1" > 0)
        .withColumn("ln_micro",
          floor(log($"d2".cast("double") / $"d1".cast("double")) * 1e6 + 0.5)
            .cast("long"))
      ratios.agg(count(lit(1)).as("n_probes"), sum($"ln_micro").as("sum_ln_micro"))
        .select($"n_probes", $"sum_ln_micro",
          // nullif: a degenerate probe set (all ties, Σln = 0) yields no
          // estimate rather than an engine-divergent division by zero
          expr("2000000 * n_probes * 1000 div nullif(sum_ln_micro, 0)")
            .as("id_milli"))
    }, Some(s"""
      WITH $prepSql,
      q AS (SELECT vec_id AS q_id, qvec AS q_vec, n2 AS q_n2 FROM n
        WHERE vec_id % 20 = 0),
      d2 AS (SELECT q.q_id, c.vec_id AS c_id,
          CAST(q.q_n2 + c.n2 - 2 * list_dot_product(q.q_vec, c.qvec) AS BIGINT)
            AS dist2
        FROM n c, q WHERE q.q_id <> c.vec_id),
      top2 AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY q_id
          ORDER BY dist2, c_id) AS rnk FROM d2) WHERE rnk <= 2),
      ratios AS (SELECT q_id,
          max(CASE WHEN rnk = 1 THEN dist2 END) AS d1,
          max(CASE WHEN rnk = 2 THEN dist2 END) AS d2
        FROM top2 GROUP BY 1),
      lns AS (SELECT q_id,
          CAST(floor(ln(CAST(d2 AS DOUBLE) / CAST(d1 AS DOUBLE)) * 1e6 + 0.5)
            AS BIGINT) AS ln_micro
        FROM ratios WHERE d1 > 0)
      SELECT CAST(count(*) AS BIGINT) AS n_probes,
        CAST(sum(ln_micro) AS BIGINT) AS sum_ln_micro,
        CAST(2000000 * count(*) * 1000 // nullif(sum(ln_micro), 0) AS BIGINT)
          AS id_milli
      FROM lns""")),

    // ----- kNN hubness audit ----------------------------------------------
    // The high-dimensional pathology q158's graph inherits silently:
    // in high dimensions a few "hub" points appear in MANY points'
    // k-NN lists while antihubs appear in none, which biases every
    // kNN-based method downstream (label propagation q203, noise
    // audit q187, CF q275). Measured as the in-degree (k-occurrence)
    // distribution of the directed 3-NN graph — histogram plus the
    // third standardized moment (skewness, THE hubness statistic —
    // Radovanović et al.), computed from exact integer central sums
    // with the one sqrt/pow on the final row. Candidate generation is
    // the same LSH-bucket self-join as q158 (never all-pairs); the
    // histogram and moments are |max in-degree|- and |nodes|-bounded.
    ("q299_knn_hubness", (s: SparkSession, dir: String) => {
      import s.implicits._
      val prepared = Similarity.prepare(
        Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
      val b = prepared.withColumn("bucket",
          Similarity.lshBucket(col("qvec"), Projs))
        .localCheckpoint() // both sides of the bucket self-join
      val q = b.select($"bucket", $"id".as("q_id"), $"qvec".as("q_vec"),
        $"n2".as("q_n2"))
      val c = b.select($"bucket", $"id".as("c_id"), $"qvec".as("c_vec"),
        $"n2".as("c_n2"))
      val scored = q.join(c, "bucket").filter($"q_id" =!= $"c_id")
        .select($"q_id", $"c_id",
          Similarity.cosine(Similarity.dot($"q_vec", $"c_vec"), $"q_n2",
            $"c_n2").as("cos_sim"))
      val w = Window.partitionBy($"q_id").orderBy(desc("cos_sim"), $"c_id")
      val knn = scored.withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 3)
      val indeg = b.select($"id")
        .join(knn.groupBy($"c_id".as("id")).agg(count(lit(1)).as("k_occ")),
          Seq("id"), "left")
        .na.fill(0L, Seq("k_occ"))
      val hist = indeg.groupBy($"k_occ").agg(count(lit(1)).as("n_nodes"))
      val mom = indeg.agg(count(lit(1)).as("n"), sum($"k_occ").as("s1"),
          sum($"k_occ" * $"k_occ").as("s2"),
          sum($"k_occ" * $"k_occ" * $"k_occ").as("s3"))
        // g1 = m3/m2^1.5 = (n²·s3 − 3n·s1·s2 + 2·s1³)/(n·s2 − s1²)^1.5 —
        // the n³ normalizers cancel exactly; integer numerator pieces,
        // one pow on the final single row
        .select(expr("""CAST(floor(
            CAST(n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS DOUBLE)
            / pow(CAST(n * s2 - s1 * s1 AS DOUBLE), 1.5)
            * 1000000 + 0.5) AS BIGINT)""")
          .as("skew_micro"))
      hist.crossJoin(broadcast(mom))
        .select($"k_occ", $"n_nodes", $"skew_micro")
        .orderBy($"k_occ")
    }, Some(s"""
      WITH $prepSql,
      b AS (SELECT vec_id, qvec, n2, $bucketSql AS bucket FROM n),
      scored AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          list_dot_product(q.qvec, c.qvec) / sqrt(q.n2 * c.n2) AS cos_sim
        FROM b q JOIN b c USING (bucket) WHERE q.vec_id <> c.vec_id),
      r AS (SELECT q_id, c_id,
          row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id)
            AS rnk FROM scored),
      occ AS (SELECT b.vec_id AS id,
          CAST(coalesce(k.ko, 0) AS BIGINT) AS k_occ
        FROM b LEFT JOIN (SELECT c_id, CAST(count(*) AS BIGINT) AS ko
          FROM r WHERE rnk <= 3 GROUP BY 1) k ON b.vec_id = k.c_id),
      hist AS (SELECT k_occ, CAST(count(*) AS BIGINT) AS n_nodes
        FROM occ GROUP BY 1),
      mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(k_occ) AS BIGINT) AS s1,
          CAST(sum(k_occ * k_occ) AS BIGINT) AS s2,
          CAST(sum(k_occ * k_occ * k_occ) AS BIGINT) AS s3 FROM occ),
      sk AS (SELECT CAST(floor(
          CAST(n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS DOUBLE)
          / pow(CAST(n * s2 - s1 * s1 AS DOUBLE), 1.5)
          * 1000000 + 0.5) AS BIGINT) AS skew_micro
        FROM mom)
      SELECT h.k_occ, h.n_nodes, sk.skew_micro
      FROM hist h CROSS JOIN sk ORDER BY h.k_occ""")),

    // ----- AMS F2 sketch + exact audit ------------------------------------
    // F2 = Σ_tok f² is the self-join size — the quantity q165 forecasts
    // EXACTLY from per-key counts. The AMS sketch (Alon–Matias–Szegedy)
    // estimates it in constant space: 8 independent ±1-hash counters
    // Z_j = Σ_occurrences s_j(tok), each Z_j² an unbiased F2 estimate.
    // Counters are mergeable sums — map-side combine collapses each
    // partition to 8 cells, so the sketch costs one 8×-fanout pass and
    // shuffles 8 rows — while the exact audit is the full groupBy(tok).
    // Both estimates reported (mean of 8, median via the sorted middle
    // pair) with signed micro relative errors; integer throughout
    // (f ≤ 2^31 keeps Z² in Int64; the 100 TB form lifts Z² to
    // DECIMAL(38,0) as elsewhere).
    ("q308_ams_f2_sketch", (s: SparkSession, dir: String) => {
      import s.implicits._
      val toks = Tables.spread(Tables.t(s, dir, "documents"))
        .select(explode(split(TA.normText($"text"), " ")).as("tok"))
        .localCheckpoint() // reused: exact F2 + the 8-counter sketch pass
      val exact = toks.groupBy($"tok").agg(count(lit(1)).as("f"))
        .agg(sum($"f" * $"f").as("f2_exact"))
      val sk = s.range(8).select($"id".as("j"))
      val counters = toks.crossJoin(broadcast(sk))
        .select($"j",
          (conv(substring(md5(concat($"j".cast("string"), lit("|"), $"tok")),
            1, 8), 16, 10).cast("long") % 2 * 2 - 1).as("sgn"))
        .groupBy($"j").agg(sum($"sgn").as("z"))
        .select($"j", ($"z" * $"z").as("z2"))
        .localCheckpoint() // reused: mean + the sorted-middle median
      val mean = counters.agg(expr("sum(z2) div 8").as("est_mean"))
      val med = counters
        .withColumn("r", row_number().over(Window.orderBy($"z2", $"j")))
        .filter($"r" === 4 || $"r" === 5)
        .agg(expr("sum(z2) div 2").as("est_median"))
      // signed errors go through the double-floor form — integer div
      // truncates in Spark but floors in DuckDB on negatives
      exact.crossJoin(broadcast(mean)).crossJoin(broadcast(med))
        .select($"f2_exact", $"est_mean", $"est_median",
          expr("""CAST(floor(CAST(est_mean - f2_exact AS DOUBLE)
              / CAST(f2_exact AS DOUBLE) * 1000000 + 0.5) AS BIGINT)""")
            .as("err_mean_micro"),
          expr("""CAST(floor(CAST(est_median - f2_exact AS DOUBLE)
              / CAST(f2_exact AS DOUBLE) * 1000000 + 0.5) AS BIGINT)""")
            .as("err_median_micro"))
    }, Some(s"""
      WITH toks AS (SELECT unnest(string_split($normSql, ' ')) AS tok
        FROM documents),
      exact AS (SELECT CAST(sum(f * f) AS BIGINT) AS f2_exact FROM
        (SELECT CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY tok)),
      sk AS (SELECT CAST(j AS BIGINT) AS j
        FROM (SELECT unnest(range(8)) AS j)),
      counters AS (SELECT j, z * z AS z2 FROM
        (SELECT sk.j, CAST(sum(
            ('0x' || substr(md5(CAST(sk.j AS VARCHAR) || '|' || tok), 1, 8))
              ::BIGINT % 2 * 2 - 1) AS BIGINT) AS z
         FROM toks CROSS JOIN sk GROUP BY 1)),
      mean AS (SELECT CAST(sum(z2) // 8 AS BIGINT) AS est_mean
        FROM counters),
      med AS (SELECT CAST(sum(z2) // 2 AS BIGINT) AS est_median FROM
        (SELECT z2, row_number() OVER (ORDER BY z2, j) AS r FROM counters)
        WHERE r = 4 OR r = 5)
      SELECT exact.f2_exact, mean.est_mean, med.est_median,
        CAST(floor(CAST(mean.est_mean - exact.f2_exact AS DOUBLE)
          / CAST(exact.f2_exact AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
          AS err_mean_micro,
        CAST(floor(CAST(med.est_median - exact.f2_exact AS DOUBLE)
          / CAST(exact.f2_exact AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
          AS err_median_micro
      FROM exact CROSS JOIN mean CROSS JOIN med"""))
  )
}
