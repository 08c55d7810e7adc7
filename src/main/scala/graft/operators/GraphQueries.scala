package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.Similarity

/** Graph operators as relational joins: PageRank, HITS, triangles and
  * clustering, k-core, label propagation, random walks, BFS/SSSP,
  * backbone extraction and assortativity.
  *
  * Section "Relational / analytical surface" of
  * docs/OPERATORS.md.
  */
object GraphQueries {

  /** Shared DuckDB CTE chain: the q158 single-probe kNN top-3 graph over
    * the embeddings table, ending in `knn(q_id, c_id, cos_sim)`. */
  private def knnCte: String =
    s"""WITH ${Similarity.prepareSql},
      b AS (SELECT vec_id, qvec, n2, ${Similarity.lshBucketSql} AS bucket FROM n),
      scored AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        list_dot_product(q.qvec, c.qvec) / sqrt(q.n2 * c.n2) AS cos_sim
        FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id),
      r AS (SELECT q_id, c_id, cos_sim,
        row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk
        FROM scored),
      knn AS (SELECT q_id, c_id FROM r WHERE rnk <= 3)"""

  /** The q153 bipartite part–supplier graph: nodes 2·partkey (even) and
    * 2·suppkey+1 (odd), one undirected edge per distinct lineitem pair. */
  private val edgeSql =
    """e0 AS (SELECT DISTINCT l_partkey * 2 AS u, l_suppkey * 2 + 1 AS v
      |        FROM lineitem),
      |      e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0)"""
      .stripMargin

  /** One BFS round as a DuckDB CTE block: expand the current distance
    * table over the edge list, min-combine with what's known. */
  private def bfsRoundSql(r: Int): String = {
    val p = s"d${r - 1}"
    s"""
      x$r AS (SELECT d.seed, e.v AS node, d.dist + 1 AS dist
        FROM $p d JOIN e ON d.node = e.u),
      d$r AS (SELECT seed, node, CAST(min(dist) AS BIGINT) AS dist FROM
        (SELECT * FROM $p UNION ALL SELECT * FROM x$r) GROUP BY 1, 2)"""
  }

  /** One Bellman–Ford relaxation round: dist' = min(dist, dist[u]+w). */
  private def bfRoundSql(r: Int): String = {
    val p = s"t${r - 1}"
    s"""
      y$r AS (SELECT e.v AS node, d.dist + e.w AS dist
        FROM $p d JOIN e ON d.node = e.u),
      t$r AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM
        (SELECT * FROM $p UNION ALL SELECT * FROM y$r) GROUP BY 1)"""
  }

  /** q272's oracle, shared verbatim by q354's staged form (the staged
    * execution is a pure physical re-plan — the answer is defined to
    * be bit-identical, so both gate against the same SQL).
    */
  private val LocalCcOracleSql = """
      WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        FROM lineitem),
      e AS (SELECT DISTINCT a.pk AS a, b.pk AS b
        FROM items a JOIN items b ON a.ok = b.ok WHERE a.pk < b.pk),
      deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM
          (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
      keyed AS (SELECT e.a, e.b, da.deg AS da, db.deg AS db
        FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
      oriented AS (SELECT
          CASE WHEN (da, a) < (db, b) THEN a ELSE b END AS src,
          CASE WHEN (da, a) < (db, b) THEN b ELSE a END AS dst
        FROM keyed),
      wedge AS (SELECT o1.src, o1.dst AS x, o2.dst AS y
        FROM oriented o1 JOIN oriented o2 ON o1.src = o2.src
        WHERE o1.dst < o2.dst),
      tris AS (SELECT w.src, w.x, w.y FROM wedge w
        WHERE EXISTS (SELECT 1 FROM e WHERE e.a = w.x AND e.b = w.y)),
      pern AS (SELECT v, CAST(count(*) AS BIGINT) AS tri FROM
          (SELECT src AS v FROM tris UNION ALL SELECT x FROM tris
           UNION ALL SELECT y FROM tris) GROUP BY 1),
      cc AS (SELECT d.v, d.deg, coalesce(p.tri, 0) AS tri,
          CAST(1000000 * 2 * coalesce(p.tri, 0)
            // (CAST(d.deg AS HUGEINT) * (d.deg - 1)) AS BIGINT) AS cc_micro
        FROM deg d LEFT JOIN pern p ON d.v = p.v WHERE d.deg >= 2)
      SELECT CASE WHEN cc_micro >= 1000000 THEN 9
          ELSE cc_micro // 100000 END AS cc_bucket,
        CAST(count(*) AS BIGINT) AS n_nodes,
        CAST(sum(tri) AS BIGINT) AS tri_sum,
        CAST(sum(deg) AS BIGINT) AS deg_sum
      FROM cc GROUP BY 1 ORDER BY 1"""

  /** q272's shared graph inputs: the deduped co-purchase edge list
    * (checkpointed — degree, orientation and the closure semi-join
    * all reuse it), per-node degrees, and the degree-ordered
    * orientation (each triangle enumerated once, at its
    * minimal-(deg,id) vertex).
    */
  private def ccInputs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val items = Tables.t(s, dir, "lineitem")
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    val e = items.toDF("ok", "a").join(items.toDF("ok", "b"), Seq("ok"))
      .filter($"a" < $"b").select($"a", $"b").distinct()
      .localCheckpoint() // deg + orientation + closure share it
    val deg = e.select($"a".as("v")).unionByName(e.select($"b".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("deg"))
    val keyed = e
      .join(deg.select($"v".as("a"), $"deg".as("da")), Seq("a"))
      .join(deg.select($"v".as("b"), $"deg".as("db")), Seq("b"))
    val oriented = keyed.select(
      when(struct($"da", $"a") < struct($"db", $"b"), $"a").otherwise($"b").as("src"),
      when(struct($"da", $"a") < struct($"db", $"b"), $"b").otherwise($"a").as("dst"))
    (e, deg, oriented)
  }

  /** q272's tail: per-node cc = 2·tri/(d·(d−1)) from the per-node
    * triangle counts, histogrammed into ten micro-buckets.
    */
  private def ccHistogram(s: SparkSession, deg: DataFrame,
      perNode: DataFrame): DataFrame = {
    import s.implicits._
    val cc = deg.join(perNode, Seq("v"), "left")
      .filter($"deg" >= 2)
      .select($"v", $"deg", coalesce($"tri", lit(0L)).as("tri"))
      .withColumn("cc_micro", expr(
        "CAST(1000000 * 2 * tri div (CAST(deg AS DECIMAL(38,0)) * (deg - 1)) AS BIGINT)"))
    cc.groupBy(expr("CASE WHEN cc_micro >= 1000000 THEN 9 " +
        "ELSE cc_micro div 100000 END").as("cc_bucket"))
      .agg(count(lit(1)).as("n_nodes"), sum($"tri").as("tri_sum"),
        sum($"deg").as("deg_sum"))
      .orderBy($"cc_bucket")
  }

  /** The staged (disk-bounded) form of q272: bit-identical result,
    * executed as `slices` SEQUENTIAL sub-jobs. Slice b owns the
    * wedges whose SECOND leg y falls in `pmod(hash(y), slices) = b`:
    * a triangle is enumerated at exactly one oriented wedge
    * (src, x, y), and that wedge lives in exactly one slice, so the
    * per-slice per-node triangle counts are disjoint partial counts
    * that SUM to the global counts. Each slice reduces to ≤ |V| rows
    * and materializes eagerly before the next slice starts, so peak
    * shuffle/spill disk is Σd_out²/slices instead of the whole wedge
    * volume — the same per-task state bound as
    * EvalMetricQueries.adamicAdarStaged (bench/r09_scale100_q272.json is
    * the single-shot ×100 failure baseline). Degrees and the
    * orientation are checkpointed once so slices re-scan, not
    * recompute, them.
    */
  private[graft] def localClusteringStaged(s: SparkSession, dir: String,
      slices: Int): DataFrame = {
    import s.implicits._
    val (e, deg0, oriented0) = ccInputs(s, dir)
    val deg = deg0.localCheckpoint()
    val oriented = oriented0.localCheckpoint()
    // same measured-size broadcast pick as the single-shot form (one
    // count decides for every slice's closure semi-join)
    val closure = AdaptiveJoin.broadcastIfSmall(
      e.select($"a".as("x"), $"b".as("y")))
    // NOT width-pinned (r14, measured): the slice wedge join here is a
    // broadcast probe over the 10-partition orientation checkpoint with
    // NO exchange on the probe side — ~9.5 task-s per slice across 10
    // balanced tasks. Repartitioning the probe leg to 32 was tried and
    // made the slice stages 4.5× more expensive (extra shuffle + wider
    // sort/build overhead for tiny per-task work); reverted. The r13
    // pin rule applies to STARVED CPU-dense stages, not balanced ones.
    val parts = (0 until slices).map { b =>
      val wedge = oriented.toDF("src", "x")
        .join(oriented.filter(pmod(hash($"dst"), lit(slices)) === b)
          .toDF("src", "y"), Seq("src"))
        .filter($"x" < $"y")
      val tris = wedge
        .join(closure, Seq("x", "y"), "left_semi")
        .select($"src", $"x", $"y")
      val pn = tris.select(explode(array($"src", $"x", $"y")).as("v"))
        .groupBy($"v").agg(count(lit(1)).as("tri"))
        .localCheckpoint() // eager: THIS slice's job runs to completion here
      // finished slice's shuffle lineage is now unreferenced; a GC lets
      // the ContextCleaner drop its shuffle files before the next slice
      if (slices > 1) System.gc()
      pn
    }
    val perNode = parts.reduce(_ unionByName _)
      .groupBy($"v").agg(sum($"tri").as("tri"))
    ccHistogram(s, deg, perNode)
  }

  /** The dial for the gated entries: enough slices to prove the
    * sequential-composition machinery end to end at test scale while
    * keeping the sf0.1 bench cost near the single-shot form (the
    * per-slice jobs re-scan only checkpointed inputs).
    */
  val StagedSlices = 4

  def queries: Seq[Entry] = Seq(

    // ----- fixed-iteration PageRank (link analysis) ----------------------
    // Crawl-graph authority for corpus quality weighting: the
    // part<->supplier bipartite graph from lineitem (node ids disjoint by
    // parity), 3 synchronous PageRank iterations at damping 0.85. Ranks
    // live in integer MICRO-units: each edge contributes rank div degree
    // (integer division, per-row deterministic), so every shuffle sums
    // integers and the result is exact in any aggregation order — the
    // q101/q130 quantization rule applied to an iterative algorithm.
    // Edges+degrees are localCheckpointed once (the q47 pattern): each
    // iteration is one co-partitioned equi-join + one two-phase
    // aggregate on the node id, the textbook distributed-PageRank shape
    // that scales to billions of edges.
    ("q153_pagerank", (s: SparkSession, dir: String) => {
      import s.implicits._
      val e0 = Tables.t(s, dir, "lineitem")
        .select(($"l_partkey" * 2).as("u"), ($"l_suppkey" * 2 + 1).as("v"))
        .distinct()
      val e = e0.unionByName(e0.select($"v".as("u"), $"u".as("v")))
      val deg = e.groupBy($"u").agg(count(lit(1)).as("d"))
      val ed = e.join(deg, Seq("u")).localCheckpoint()
      var ranks = deg.select($"u".as("n"), lit(1000000L).as("r"))
      for (_ <- 1 to 3) {
        ranks = ed.as("e").join(ranks.as("rk"), col("e.u") === col("rk.n"))
          .groupBy(col("e.v").as("n"))
          .agg(expr("CAST(150000 + (85 * sum(rk.r div e.d)) div 100 AS BIGINT)").as("r"))
      }
      ranks.select($"n".as("node_id"),
          when($"n" % 2 === 0, "part").otherwise("supplier").as("kind"),
          $"r".as("rank_micro"))
        .orderBy(desc("rank_micro"), $"node_id").limit(32)
    }, Some("""
      WITH e0 AS (SELECT DISTINCT l_partkey * 2 AS u, l_suppkey * 2 + 1 AS v FROM lineitem),
      e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
      deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY u),
      r0 AS (SELECT u AS n, CAST(1000000 AS BIGINT) AS r FROM deg),
      r1 AS (SELECT e.v AS n, CAST(150000 + (85 * sum(r0.r // deg.d)) // 100 AS BIGINT) AS r
        FROM e JOIN deg USING (u) JOIN r0 ON r0.n = e.u GROUP BY e.v),
      r2 AS (SELECT e.v AS n, CAST(150000 + (85 * sum(r1.r // deg.d)) // 100 AS BIGINT) AS r
        FROM e JOIN deg USING (u) JOIN r1 ON r1.n = e.u GROUP BY e.v),
      r3 AS (SELECT e.v AS n, CAST(150000 + (85 * sum(r2.r // deg.d)) // 100 AS BIGINT) AS r
        FROM e JOIN deg USING (u) JOIN r2 ON r2.n = e.u GROUP BY e.v)
      SELECT n AS node_id,
        CASE WHEN n % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
        r AS rank_micro
      FROM r3 ORDER BY rank_micro DESC, node_id LIMIT 32""")),

    // ----- triangle counting (degree-ordered wedge join) -----------------
    // Graph-shape profiling for the co-occurrence graph (q151's edges):
    // triangle and wedge counts give the global clustering coefficient,
    // the standard density diagnostic for item graphs. The Spark side
    // runs the MapReduce-canonical degree-ordered algorithm: each edge
    // is oriented from its lower-(degree, id) endpoint to the higher, so
    // per-node out-degree is O(√m) and the wedge self-join (the only
    // quadratic step) is bounded by Σ d_out² — never the Σ deg² a naive
    // orientation pays on hub nodes. The closing-edge check is an
    // equi-join of the wedge list against the oriented edges. Triangle
    // and wedge counts are orientation-invariant, so the oracle uses the
    // simple a<b<c form; all outputs are exact integers.
    ("q160_triangle_count", (s: SparkSession, dir: String) => {
      import s.implicits._
      val items = Tables.t(s, dir, "lineitem")
        .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
      val e = items.toDF("ok", "a").join(items.toDF("ok", "b"), Seq("ok"))
        .filter($"a" < $"b").select($"a", $"b").distinct()
        .localCheckpoint() // 3 consumers (deg, orientation, count) — one materialization
      val deg = e.select($"a".as("v")).unionByName(e.select($"b".as("v")))
        .groupBy($"v").agg(count(lit(1)).as("deg"))
      // orientation key: lexicographic (deg, id) as a struct — ordered
      // comparison on structs is exact at any id domain (no packed-long
      // overflow trap at large key spaces)
      val keyed = e
        .join(deg.select($"v".as("a"), struct($"deg", $"v".as("id")).as("ka")), "a")
        .join(deg.select($"v".as("b"), struct($"deg", $"v".as("id")).as("kb")), "b")
      val ed = keyed.select(
          when($"ka" < $"kb", $"a").otherwise($"b").as("src"),
          when($"ka" < $"kb", $"b").otherwise($"a").as("dst"),
          when($"ka" < $"kb", $"kb").otherwise($"ka").as("dkey"))
        .localCheckpoint() // consumed by the wedge join twice + closing probe
      val wedges = ed.select($"src", $"dst".as("v"), $"dkey".as("k1"))
        .join(ed.select($"src", $"dst".as("w"), $"dkey".as("k2")), Seq("src"))
        .filter($"k1" < $"k2").select($"v", $"w")
      // the closing probe joins the Σd_out²-bounded wedge stream (the big
      // side) against the |E| oriented edges: broadcast the measured-small
      // edge set so the wedge stream is never shuffled/sorted (guide §3.1)
      val closed = wedges.join(
        AdaptiveJoin.broadcastIfSmall(ed.select($"src".as("v"), $"dst".as("w"))),
        Seq("v", "w"))
      deg.agg(count(lit(1)).as("n_nodes"),
          expr("CAST(sum((deg * (deg - 1)) div 2) AS BIGINT)").as("n_wedges"))
        .crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
        .select($"n_nodes", $"n_edges", $"n_wedges", $"n_triangles")
    }, Some("""
      WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e AS (SELECT DISTINCT a.pk AS a, b.pk AS b
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
      deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM
        (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v),
      tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
        (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        (SELECT CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) FROM deg) AS n_wedges,
        (SELECT n_triangles FROM tri) AS n_triangles""")),

    // ----- k-core decomposition (fixed-round peeling) ---------------------
    // Graph-QA beyond q160's clustering coefficient: the k-core is the
    // maximal subgraph where every node keeps degree ≥ k — the standard
    // "dense kernel vs loose periphery" split for co-occurrence and
    // near-dup graphs (peripheral nodes are the safe-to-prune ones).
    // Peeling is iterative; BOTH engines run exactly 8 rounds, so the
    // per-round survivor counts are equal whether or not the peel has
    // converged — the fixed-round trick that makes an iterative
    // algorithm oracle-comparable. k=80 sits below the co-purchase
    // graph's k-core phase transition (median degree ≈ 115; k≳90
    // collapses the whole graph, the classic random-graph cliff), so
    // the trajectory shows a real cascade settling into a stable
    // nonempty core by round ~5. Spark-side each round is one
    // two-phase degree aggregate + two semi-joins against the kept-node
    // set, with the edge list localCheckpointed per round so lineage
    // stays flat; the oracle unrolls the same 8 rounds as chained CTEs.
    ("q166_kcore_peel", (s: SparkSession, dir: String) => {
      import s.implicits._
      val k = 80
      val items = Tables.t(s, dir, "lineitem")
        .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
      var edges = items.toDF("ok", "a").join(items.toDF("ok", "b"), Seq("ok"))
        .filter($"a" < $"b").select($"a", $"b").distinct().localCheckpoint()
      // peeling is monotone (survivor sets only shrink), so equal
      // (n_nodes, n_edges) across a round proves the fixpoint — the
      // remaining rounds are identities and re-emit the last summary
      // for free. The driver-side counts are loop CONTROL over
      // already-checkpointed blocks (the cc_star checksum pattern);
      // the emitted cells stay in-DAG aggregates (the q86 rule).
      var prevN = -1L
      var prevM = -1L
      var converged = false
      var lastSummary: DataFrame = null
      val summaries = (1 to 8).map { round =>
        if (!converged) {
          val deg = edges.select($"a".as("v")).unionByName(edges.select($"b".as("v")))
            .groupBy($"v").agg(count(lit(1)).as("deg"))
          val keep = deg.filter($"deg" >= k).select($"v").localCheckpoint()
          edges = edges
            .join(keep.select($"v".as("a")), Seq("a"), "left_semi")
            .join(keep.select($"v".as("b")), Seq("b"), "left_semi")
            .select($"a", $"b").localCheckpoint()
          lastSummary = keep.agg(count(lit(1)).as("n_nodes"))
            .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
            .localCheckpoint()
          // loop control reads the checkpointed one-row summary: one
          // cheap local-block read (head) replaces the two full count()
          // jobs per round it used to launch (guide §1.2: fewer passes)
          val row = lastSummary.head()
          val n = row.getLong(0)
          val m = row.getLong(1)
          converged = n == prevN && m == prevM
          prevN = n
          prevM = m
        }
        lastSummary.select(lit(round).as("round"), $"n_nodes", $"n_edges")
      }
      summaries.reduce(_ unionByName _).orderBy("round")
    }, Some {
      val k = 80
      // MATERIALIZED is load-bearing: each round references the prior
      // round's CTEs three times, so default inlining would expand e8
      // into 3^8 copies of the base scan
      val rounds = (1 to 8).map { r =>
        s"""n$r AS MATERIALIZED (SELECT v FROM (SELECT a AS v FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1})
             GROUP BY v HAVING count(*) >= $k),
           e$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e
             JOIN n$r x ON e.a = x.v JOIN n$r y ON e.b = y.v)"""
      }.mkString(",\n")
      val sel = (1 to 8).map { r =>
        s"""SELECT $r AS round, (SELECT CAST(count(*) AS BIGINT) FROM n$r) AS n_nodes,
             (SELECT CAST(count(*) AS BIGINT) FROM e$r) AS n_edges"""
      }.mkString("\nUNION ALL\n")
      s"""
      WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS a, b.pk AS b
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
      $rounds
      $sel
      ORDER BY round"""
    }),

    // The curation-policy surface a labeled/audited corpus
    // needs — semi-supervised label spread, classifier calibration, coreset
    // selection, re-identification risk — plus deterministic random-walk
    // corpus generation for graph-embedding training.
    //
    // House rules as elsewhere: md5-derived determinism, integer arithmetic
    // at every gate (micro units; clamp before `div` — Spark truncates,
    // DuckDB floors), identical aliases both sides, total ORDER BY.

    // ----- label propagation over the kNN graph ---------------------------
    // The semi-supervised curation move: a small audited seed set (here
    // every 5th vector keeps its label; the rest start unlabeled) spread
    // over the mutual-similarity structure, so one human-labeled shard
    // prices the whole corpus. Graph = the q158 kNN top-3 edges,
    // symmetrized; two synchronous rounds of majority vote (ties to the
    // smallest label; a node labeled in round r is frozen for r+1 — the
    // standard LP freeze that makes the fixpoint order-independent).
    // Every round is one co-partitioned equi-join (edges ⋈ labels on the
    // neighbor key) + a count aggregate + a top-1 window — exactly the
    // shape Pregel lowers to, no driver-side state, labels table stays
    // (id, lbl)-narrow. At 100 TB the kNN build is the dominant cost and
    // is already bucketed (q158/q200); the propagation rounds are linear
    // in |E|. `agree` audits the spread against the held-out truth —
    // the number that decides whether the seed budget was enough.
    ("q203_label_propagation", (s: SparkSession, dir: String) => {
      import s.implicits._
      val prepared = Similarity.prepare(
        Tables.spread(Tables.t(s, dir, "embeddings")), "vec_id", "embedding")
      val b = prepared.withColumn("bucket",
        Similarity.lshBucket(col("qvec"), Similarity.OracleProjs))
      val q = b.select($"bucket", $"id".as("q_id"), $"qvec".as("q_vec"), $"n2".as("q_n2"))
      val c = b.select($"bucket", $"id".as("c_id"), $"qvec".as("c_vec"), $"n2".as("c_n2"))
      val scored = q.join(c, "bucket").filter($"q_id" =!= $"c_id")
        .select($"q_id", $"c_id",
          Similarity.cosine(Similarity.dot($"q_vec", $"c_vec"), $"q_n2", $"c_n2")
            .as("cos_sim"))
      val w = Window.partitionBy($"q_id").orderBy(desc("cos_sim"), $"c_id")
      val knn = scored.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 3)
        .select($"q_id", $"c_id")
      val edges = knn.select($"q_id".as("u"), $"c_id".as("v"))
        .unionByName(knn.select($"c_id".as("u"), $"q_id".as("v")))
        .distinct()
        .localCheckpoint() // consumed once per propagation round
      val emb = Tables.t(s, dir, "embeddings")
      val l0 = emb.select($"vec_id".as("id"),
        when($"vec_id" % 5 === 0, $"label".cast("long")).otherwise(lit(-1L)).as("lbl"),
        when($"vec_id" % 5 === 0, 0L).otherwise(lit(-1L)).as("rnd"))
      def propagate(curL: DataFrame, r: Int): DataFrame = {
        val votes = edges
          .join(curL.filter($"lbl" >= 0).select($"id".as("v"), $"lbl".as("nlbl")), "v")
          .groupBy($"u", $"nlbl").agg(count(lit(1)).as("votes"))
        val wv = Window.partitionBy($"u").orderBy(desc("votes"), $"nlbl")
        val pick = votes.withColumn("rn", row_number().over(wv)).filter($"rn" === 1)
          .select($"u".as("id"), $"nlbl")
        curL.join(pick, Seq("id"), "left").select($"id",
          when($"lbl" >= 0, $"lbl").otherwise(coalesce($"nlbl", lit(-1L))).as("lbl"),
          when($"lbl" >= 0, $"rnd")
            .otherwise(when($"nlbl".isNotNull, lit(r.toLong)).otherwise(lit(-1L))).as("rnd"))
      }
      val l2 = propagate(propagate(l0, 1), 2)
      l2.join(emb.select($"vec_id", $"label".cast("long").as("truth")),
          l2("id") === col("vec_id"))
        .select($"vec_id", $"lbl".as("label_pred"), $"rnd".as("round_labeled"),
          when($"lbl" >= 0 && $"lbl" === $"truth", 1L).otherwise(0L).as("agree"))
        .orderBy("vec_id")
    }, Some(s"""
      $knnCte,
      edges AS (SELECT q_id AS u, c_id AS v FROM knn
                UNION SELECT c_id, q_id FROM knn),
      l0 AS (SELECT vec_id AS id,
          CASE WHEN vec_id % 5 = 0 THEN CAST(label AS BIGINT) ELSE -1 END AS lbl,
          CASE WHEN vec_id % 5 = 0 THEN 0 ELSE -1 END AS rnd
        FROM embeddings),
      v1 AS (SELECT e.u, l.lbl AS nlbl, CAST(count(*) AS BIGINT) AS votes
        FROM edges e JOIN l0 l ON l.id = e.v AND l.lbl >= 0 GROUP BY 1, 2),
      p1 AS (SELECT u AS id, nlbl FROM (SELECT u, nlbl,
          row_number() OVER (PARTITION BY u ORDER BY votes DESC, nlbl) AS rn FROM v1)
        WHERE rn = 1),
      l1 AS (SELECT l0.id,
          CASE WHEN l0.lbl >= 0 THEN l0.lbl ELSE coalesce(p1.nlbl, -1) END AS lbl,
          CASE WHEN l0.lbl >= 0 THEN l0.rnd
               WHEN p1.nlbl IS NOT NULL THEN 1 ELSE -1 END AS rnd
        FROM l0 LEFT JOIN p1 USING (id)),
      v2 AS (SELECT e.u, l.lbl AS nlbl, CAST(count(*) AS BIGINT) AS votes
        FROM edges e JOIN l1 l ON l.id = e.v AND l.lbl >= 0 GROUP BY 1, 2),
      p2 AS (SELECT u AS id, nlbl FROM (SELECT u, nlbl,
          row_number() OVER (PARTITION BY u ORDER BY votes DESC, nlbl) AS rn FROM v2)
        WHERE rn = 1),
      l2 AS (SELECT l1.id,
          CASE WHEN l1.lbl >= 0 THEN l1.lbl ELSE coalesce(p2.nlbl, -1) END AS lbl,
          CASE WHEN l1.lbl >= 0 THEN l1.rnd
               WHEN p2.nlbl IS NOT NULL THEN 2 ELSE -1 END AS rnd
        FROM l1 LEFT JOIN p2 USING (id))
      SELECT e.vec_id, l2.lbl AS label_pred, CAST(l2.rnd AS BIGINT) AS round_labeled,
        CAST(CASE WHEN l2.lbl >= 0 AND l2.lbl = CAST(e.label AS BIGINT)
          THEN 1 ELSE 0 END AS BIGINT) AS agree
      FROM l2 JOIN embeddings e ON e.vec_id = l2.id
      ORDER BY e.vec_id""")),

    // ----- deterministic random-walk corpus (graph-embedding input) -------
    // DeepWalk/node2vec training data: one fixed-length walk per node
    // over the item co-occurrence graph (q151/q160's edges), with the
    // next hop chosen by argmin of md5(walk || step || neighbor) — an
    // approximately-uniform choice that is REPRODUCIBLE and resumable
    // (no RNG state; re-running any shard regenerates identical walks,
    // the property a 100 TB corpus build needs for retries and
    // incremental extension). Each step is one co-partitioned equi-join
    // of the frontier against the edge list (partitioned by source) and
    // a top-1 window (rank ≤ 1 → WindowGroupLimit: losers never leave
    // the map side); per-step cost ∝ Σ deg(cur), walks shard by wid.
    // `n_unique` profiles revisit behavior — the walk-quality signal
    // (a hub-trapped walk revisits; a healthy one explores).
    ("q207_random_walks", (s: SparkSession, dir: String) => {
      import s.implicits._
      val items = Tables.t(s, dir, "lineitem")
        .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
      val e0 = items.toDF("ok", "a").join(items.toDF("ok", "b"), Seq("ok"))
        .filter($"a" < $"b").select($"a", $"b").distinct()
      val e = e0.select($"a".as("u"), $"b".as("v"))
        .unionByName(e0.select($"b".as("u"), $"a".as("v")))
        .localCheckpoint() // consumed once per step
      var walk = e.select($"u".as("wid")).distinct().withColumn("cur", $"wid")
      for (t <- 1 to 3) {
        val j = walk.join(e.toDF("cur", "nb"), Seq("cur"))
          .withColumn("h", md5(concat_ws("|", lit("rw"), $"wid".cast("string"),
            lit(t.toString), $"nb".cast("string"))))
        val w = Window.partitionBy($"wid").orderBy($"h", $"nb")
        walk = j.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
          .drop("cur", "h", "rn")
          .withColumnRenamed("nb", s"s$t")
          .withColumn("cur", col(s"s$t"))
      }
      walk.select($"wid", $"s1", $"s2", $"s3",
          size(array_distinct(array($"wid", $"s1", $"s2", $"s3"))).cast("long")
            .as("n_unique"))
        .orderBy("wid")
    }, Some("""
      WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS (SELECT DISTINCT a.pk AS a, b.pk AS b
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
      e AS (SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0),
      w0 AS (SELECT DISTINCT u AS wid FROM e),
      s1 AS (SELECT wid, v AS s1 FROM (SELECT w.wid, e.v,
          row_number() OVER (PARTITION BY w.wid ORDER BY
            md5('rw|' || CAST(w.wid AS VARCHAR) || '|1|' || CAST(e.v AS VARCHAR)), e.v) AS rn
        FROM w0 w JOIN e ON e.u = w.wid) WHERE rn = 1),
      s2 AS (SELECT wid, s1, v AS s2 FROM (SELECT s.wid, s.s1, e.v,
          row_number() OVER (PARTITION BY s.wid ORDER BY
            md5('rw|' || CAST(s.wid AS VARCHAR) || '|2|' || CAST(e.v AS VARCHAR)), e.v) AS rn
        FROM s1 s JOIN e ON e.u = s.s1) WHERE rn = 1),
      s3 AS (SELECT wid, s1, s2, v AS s3 FROM (SELECT s.wid, s.s1, s.s2, e.v,
          row_number() OVER (PARTITION BY s.wid ORDER BY
            md5('rw|' || CAST(s.wid AS VARCHAR) || '|3|' || CAST(e.v AS VARCHAR)), e.v) AS rn
        FROM s2 s JOIN e ON e.u = s.s2) WHERE rn = 1)
      SELECT wid, s1, s2, s3,
        CAST(len(list_distinct([wid, s1, s2, s3])) AS BIGINT) AS n_unique
      FROM s3 ORDER BY wid""")),

    // ----- HITS hubs & authorities ----------------------------------------
    // The bipartite complement of q153's PageRank: on the part→supplier
    // procurement graph, a GOOD HUB (part) is one sourced from good
    // authorities, a GOOD AUTHORITY (supplier) one backing good hubs —
    // the mutual recursion a(v)=Σh(u), h(u)=Σa(v), two rounds. Each
    // half-step is one co-partitioned equi-join + aggregate on the
    // checkpointed edge list (the q153 discipline); normalization
    // divides by the step's max via an in-DAG broadcast scalar, keeping
    // every score an exact integer in [0, 1e6] — no floating
    // renormalization to drift between sides. Converged scores rank
    // supply-chain criticality: the suppliers whose failure hits the
    // most well-connected parts.
    ("q233_hits", (s: SparkSession, dir: String) => {
      import s.implicits._
      val e = Tables.t(s, dir, "lineitem")
        .select($"l_partkey".as("u"), $"l_suppkey".as("v")).distinct()
        .localCheckpoint() // four half-step joins reuse the edge list
      def normalize(df: DataFrame, node: String, sc: String): DataFrame = {
        val mx = df.agg(max(col(sc)).as("mx"))
        df.crossJoin(broadcast(mx))
          .select(col(node), expr(s"(1000000 * $sc) div mx").as(sc))
      }
      val h0 = e.select($"u").distinct().select($"u", lit(1000000L).as("h"))
      def authStep(h: DataFrame) = normalize(
        e.join(h, Seq("u")).groupBy($"v").agg(sum($"h").as("a")), "v", "a")
      def hubStep(a: DataFrame) = normalize(
        e.join(a, Seq("v")).groupBy($"u").agg(sum($"a").as("h")), "u", "h")
      val a1 = authStep(h0); val h1 = hubStep(a1)
      val a2 = authStep(h1); val h2 = hubStep(a2)
      a2.select(lit("authority").as("kind"), $"v".as("node_id"), $"a".as("score_micro"))
        .orderBy(desc("score_micro"), $"node_id").limit(12)
        .unionAll(
          h2.select(lit("hub").as("kind"), $"u".as("node_id"), $"h".as("score_micro"))
            .orderBy(desc("score_micro"), $"node_id").limit(12))
        .orderBy($"kind", desc("score_micro"), $"node_id")
    }, Some("""
      WITH e AS (SELECT DISTINCT l_partkey AS u, l_suppkey AS v FROM lineitem),
      h0 AS (SELECT DISTINCT u, CAST(1000000 AS BIGINT) AS h FROM e),
      a1r AS (SELECT v, CAST(sum(h) AS BIGINT) AS a FROM e JOIN h0 USING (u) GROUP BY v),
      a1 AS (SELECT v, (1000000 * a) // (SELECT max(a) FROM a1r) AS a FROM a1r),
      h1r AS (SELECT u, CAST(sum(a) AS BIGINT) AS h FROM e JOIN a1 USING (v) GROUP BY u),
      h1 AS (SELECT u, (1000000 * h) // (SELECT max(h) FROM h1r) AS h FROM h1r),
      a2r AS (SELECT v, CAST(sum(h) AS BIGINT) AS a FROM e JOIN h1 USING (u) GROUP BY v),
      a2 AS (SELECT v, (1000000 * a) // (SELECT max(a) FROM a2r) AS a FROM a2r),
      h2r AS (SELECT u, CAST(sum(a) AS BIGINT) AS h FROM e JOIN a2 USING (v) GROUP BY u),
      h2 AS (SELECT u, (1000000 * h) // (SELECT max(h) FROM h2r) AS h FROM h2r),
      top AS (
        (SELECT 'authority' AS kind, v AS node_id, a AS score_micro FROM a2
          ORDER BY score_micro DESC, node_id LIMIT 12)
        UNION ALL
        (SELECT 'hub' AS kind, u AS node_id, h AS score_micro FROM h2
          ORDER BY score_micro DESC, node_id LIMIT 12))
      SELECT kind, node_id, score_micro FROM top
      ORDER BY kind, score_micro DESC, node_id""")),

    // Graph traversal (multi-source BFS layers, bounded
    // Bellman–Ford SSSP), inter-annotator agreement (Cohen's kappa),
    // broadcast-gazetteer entity matching, and a columnar encoding
    // advisor — traversal and annotation-quality surface the battery
    // lacked, plus the storage-decision layer on top of q237's run
    // statistics.
    //
    // House rules as elsewhere: integer arithmetic at every gate, 128-bit
    // (DECIMAL(38,0)/HUGEINT) where corpus-count products appear,
    // identical aliases both sides, total ORDER BY.

    // ----- multi-source BFS distance layers -------------------------------
    // The traversal primitive the graph family lacked: breadth-first
    // distance layers from 4 seeds, run as ONE batched computation —
    // the distance table keys on (seed, node), so all four traversals
    // share every edge-list join (the batched-BFS trick that makes
    // landmark-distance and closeness estimation affordable at scale).
    // Each round is the Pregel step as relational algebra: expand the
    // known table over the edge list, min-combine — the table never
    // exceeds |seeds|·|V| rows and the round count is the fixed hop
    // bound k = 4, driver-composed with a localCheckpoint barrier per
    // round. On the bipartite part–supplier graph layer parity is a
    // built-in sanity check: even-id seeds sit at even distance from
    // part nodes only. At 100 TB the edge list shuffles once per round
    // on its join key — the same co-partitioned shape as q153's
    // PageRank, with |seeds| a dial that amortizes it.
    ("q251_multi_source_bfs", (s: SparkSession, dir: String) => {
      import s.implicits._
      val e0 = Tables.t(s, dir, "lineitem")
        .select(($"l_partkey" * 2).as("u"), ($"l_suppkey" * 2 + 1).as("v"))
        .distinct()
      val e = e0.unionByName(e0.select($"v".as("u"), $"u".as("v")))
        .localCheckpoint() // 4 rounds reuse it
      val seeds = e.select($"u").distinct().orderBy($"u").limit(4)
      var dist = seeds.select($"u".as("seed"), $"u".as("node"),
        lit(0L).as("dist")).localCheckpoint()
      for (_ <- 1 to 4) {
        val expand = dist.join(e, dist("node") === e("u"))
          .select(dist("seed"), e("v").as("node"), (dist("dist") + 1L).as("dist"))
        dist = dist.unionByName(expand)
          .groupBy($"seed", $"node").agg(min($"dist").as("dist"))
          .localCheckpoint()
      }
      dist.groupBy($"seed", $"dist")
        .agg(count(lit(1)).as("n_nodes"), sum($"node").as("checksum"))
        .orderBy($"seed", $"dist")
    }, Some(s"""
      WITH $edgeSql,
      seeds AS (SELECT u AS seed FROM (SELECT DISTINCT u FROM e)
        ORDER BY u LIMIT 4),
      d0 AS (SELECT seed, seed AS node, CAST(0 AS BIGINT) AS dist FROM seeds),
      ${bfsRoundSql(1)},
      ${bfsRoundSql(2)},
      ${bfsRoundSql(3)},
      ${bfsRoundSql(4)}
      SELECT seed, dist, CAST(count(*) AS BIGINT) AS n_nodes,
        CAST(sum(node) AS BIGINT) AS checksum
      FROM d4 GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ----- bounded Bellman–Ford single-source shortest paths --------------
    // The weighted companion to q251: min-plus relaxation instead of
    // frontier expansion. Edge weight = the smallest shipment quantity
    // ever moved over a part–supplier pair (an integer, so every path
    // length is exact); 3 relaxation rounds give exact ≤3-hop shortest
    // distances — the bounded-hop form that's the production compromise
    // (full Bellman–Ford is |V| rounds; landmark systems cap hops and
    // document the bound, as here). Same relational Pregel shape as
    // q251: expand + min-combine per round over the once-checkpointed
    // edge list; the distance table is |V|-bounded. Output folds to a
    // distance histogram (÷10 buckets) so the answer is stable however
    // many nodes tie.
    ("q252_sssp_bellman_ford", (s: SparkSession, dir: String) => {
      import s.implicits._
      val e0 = Tables.t(s, dir, "lineitem")
        .groupBy(($"l_partkey" * 2).as("u"), ($"l_suppkey" * 2 + 1).as("v"))
        .agg(min($"l_quantity".cast("long")).as("w"))
      val e = e0.unionByName(e0.select($"v".as("u"), $"u".as("v"), $"w"))
        .localCheckpoint()
      val seed = e.select($"u").distinct().orderBy($"u").limit(1)
      var dist = seed.select($"u".as("node"), lit(0L).as("dist"))
        .localCheckpoint()
      for (_ <- 1 to 3) {
        val relax = dist.join(e, dist("node") === e("u"))
          .select(e("v").as("node"), (dist("dist") + e("w")).as("dist"))
        dist = dist.unionByName(relax)
          .groupBy($"node").agg(min($"dist").as("dist"))
          .localCheckpoint()
      }
      dist.groupBy(expr("dist div 10").as("dist_bucket"))
        .agg(count(lit(1)).as("n_nodes"), sum($"dist").as("dist_sum"),
          min($"dist").as("dist_min"), max($"dist").as("dist_max"))
        .orderBy($"dist_bucket")
    }, Some(s"""
      WITH e0 AS (SELECT l_partkey * 2 AS u, l_suppkey * 2 + 1 AS v,
          CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM lineitem GROUP BY 1, 2),
      e AS (SELECT u, v, w FROM e0 UNION ALL SELECT v AS u, u AS v, w FROM e0),
      seed AS (SELECT u FROM (SELECT DISTINCT u FROM e) ORDER BY u LIMIT 1),
      t0 AS (SELECT u AS node, CAST(0 AS BIGINT) AS dist FROM seed),
      ${bfRoundSql(1)},
      ${bfRoundSql(2)},
      ${bfRoundSql(3)}
      SELECT dist // 10 AS dist_bucket, CAST(count(*) AS BIGINT) AS n_nodes,
        CAST(sum(dist) AS BIGINT) AS dist_sum,
        CAST(min(dist) AS BIGINT) AS dist_min,
        CAST(max(dist) AS BIGINT) AS dist_max
      FROM t3 GROUP BY 1 ORDER BY 1""")),

    // ----- disparity-filter graph backbone --------------------------------
    // Backbone extraction (Serrano et al. 2009): in the weighted
    // part–supplier co-occurrence graph, keep an edge only if its
    // weight is statistically surprising against the null that a
    // node's strength spreads uniformly over its k neighbors:
    // p = (1 − w/s)^(k−1) < α. In micro-ln form the test clears to
    // (k−1)·ln(1 − w/s) < ln(α) — integer comparison, no powers. The
    // filter runs per edge endpoint with node strength/degree joined
    // from one aggregate; an edge survives if EITHER endpoint finds it
    // significant (the standard OR rule). Output: per-α row of edges
    // kept, weight retained, nodes covered — the sparsification curve
    // that turns a 10¹²-edge co-occurrence graph into something a
    // downstream algorithm can hold. All joins key on the node — the
    // co-partitioned q153 shape.
    ("q262_disparity_backbone", (s: SparkSession, dir: String) => {
      import s.implicits._
      val e0 = Tables.t(s, dir, "lineitem")
        .groupBy(($"l_partkey" * 2).as("u"), ($"l_suppkey" * 2 + 1).as("v"))
        .agg(count(lit(1)).as("w"))
      val e = e0.unionByName(e0.select($"v".as("u"), $"u".as("v"), $"w"))
      val nd = e.groupBy($"u").agg(sum($"w").as("s"), count(lit(1)).as("k"))
      val scored = e.join(nd, Seq("u"))
        .filter($"k" > 1) // a degree-1 node judges nothing
        .withColumn("lnp_micro",
          (($"k" - 1) * floor(log(lit(1.0) - $"w".cast("double") / $"s".cast("double"))
            * 1e6 + 0.5).cast("long")))
        .select(least($"u", $"v").as("a"), greatest($"u", $"v").as("b"),
          $"w", $"lnp_micro")
        .groupBy($"a", $"b").agg(max($"w").as("w"), min($"lnp_micro").as("lnp"))
      val alphas = Seq(("alpha_05", -2995732L), ("alpha_01", -4605170L))
      alphas.map { case (nm, lnA) =>
        scored.agg(
          sum(when($"lnp" < lnA, 1L).otherwise(0L)).as("edges_kept"),
          count(lit(1)).as("edges_total"),
          sum(when($"lnp" < lnA, $"w").otherwise(0L)).as("weight_kept"),
          sum($"w").as("weight_total"))
          .select(lit(nm).as("alpha"), $"edges_kept", $"edges_total",
            expr("1000000 * edges_kept div edges_total").as("edge_share_micro"),
            $"weight_kept", $"weight_total",
            expr("1000000 * weight_kept div weight_total").as("weight_share_micro"))
      }.reduce(_ unionByName _).orderBy($"alpha")
    }, Some("""
      WITH e0 AS (SELECT l_partkey * 2 AS u, l_suppkey * 2 + 1 AS v,
          CAST(count(*) AS BIGINT) AS w FROM lineitem GROUP BY 1, 2),
      e AS (SELECT u, v, w FROM e0 UNION ALL SELECT v AS u, u AS v, w FROM e0),
      nd AS (SELECT u, CAST(sum(w) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS k
        FROM e GROUP BY 1),
      sc AS (SELECT e.u, e.v, e.w,
          (nd.k - 1) * CAST(floor(ln(1.0 - CAST(e.w AS DOUBLE) / CAST(nd.s AS DOUBLE))
            * 1e6 + 0.5) AS BIGINT) AS lnp_micro
        FROM e JOIN nd ON e.u = nd.u WHERE nd.k > 1),
      und AS (SELECT least(u, v) AS a, greatest(u, v) AS b,
          CAST(max(w) AS BIGINT) AS w, CAST(min(lnp_micro) AS BIGINT) AS lnp
        FROM sc GROUP BY 1, 2),
      gates AS (SELECT 'alpha_05' AS alpha, CAST(-2995732 AS BIGINT) AS ln_a
        UNION ALL SELECT 'alpha_01', -4605170),
      agg AS (SELECT g.alpha,
          CAST(sum(CASE WHEN u.lnp < g.ln_a THEN 1 ELSE 0 END) AS BIGINT) AS edges_kept,
          CAST(count(*) AS BIGINT) AS edges_total,
          CAST(sum(CASE WHEN u.lnp < g.ln_a THEN u.w ELSE 0 END) AS BIGINT) AS weight_kept,
          CAST(sum(u.w) AS BIGINT) AS weight_total
        FROM und u CROSS JOIN gates g GROUP BY 1)
      SELECT alpha, edges_kept, edges_total,
        1000000 * edges_kept // edges_total AS edge_share_micro,
        weight_kept, weight_total,
        1000000 * weight_kept // weight_total AS weight_share_micro
      FROM agg ORDER BY alpha""")),

    // ----- degree assortativity -------------------------------------------
    // Newman's r: do high-degree nodes attach to high-degree nodes?
    // Positive r (social-network-like) and negative r (hub-and-spoke,
    // typical of bipartite supply graphs) demand different partition
    // and skew strategies, so this one number is a planning input for
    // every other graph operator. Computed as the Pearson correlation
    // of endpoint degrees over the directed edge list: five exact
    // integer aggregates (Σx, Σy, Σxy, Σx², Σy²) in 128-bit; the final
    // sqrt happens on ONE row after converting those exact integers to
    // double — never a distributed double sum.
    ("q271_degree_assortativity", (s: SparkSession, dir: String) => {
      import s.implicits._
      val e0 = Tables.t(s, dir, "lineitem")
        .select(($"l_partkey" * 2).as("u"), ($"l_suppkey" * 2 + 1).as("v"))
        .distinct()
      val e = e0.unionByName(e0.select($"v".as("u"), $"u".as("v")))
      val deg = e.groupBy($"u").agg(count(lit(1)).as("d"))
      val xy = e
        .join(deg.select($"u", $"d".as("x")), Seq("u"))
        .join(deg.select($"u".as("v"), $"d".as("y")), Seq("v"))
      val agg = xy.agg(count(lit(1)).as("n"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sx2"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("sy2"))
      agg.select($"n",
        expr("""CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / sqrt((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
          * 1e6 + 0.5) AS BIGINT)""").as("r_micro"))
    }, Some("""
      WITH e0 AS (SELECT DISTINCT l_partkey * 2 AS u, l_suppkey * 2 + 1 AS v
        FROM lineitem),
      e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
      xy AS (SELECT dx.d AS x, dy.d AS y FROM e
        JOIN deg dx ON e.u = dx.u JOIN deg dy ON e.v = dy.u),
      agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
          sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
          sum(CAST(x AS HUGEINT) * y) AS sxy,
          sum(CAST(x AS HUGEINT) * x) AS sx2,
          sum(CAST(y AS HUGEINT) * y) AS sy2
        FROM xy)
      SELECT n,
        CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / sqrt((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
          * 1e6 + 0.5) AS BIGINT) AS r_micro
      FROM agg""")),

    // ----- local clustering-coefficient distribution ----------------------
    // q160 reports the GLOBAL clustering coefficient; the per-node
    // distribution is what distinguishes a uniformly-clustered graph
    // from one where a few dense pockets carry everything — the read
    // that decides whether community detection is worth running. Same
    // degree-ordered orientation as q160 (each triangle enumerated
    // once, at its minimal-(deg,id) vertex, wedge join bounded by
    // Σd_out²), then each triangle explodes to its three corners for the
    // per-node counts, and local cc = 2·tri/(d·(d−1)) histograms into
    // ten micro-buckets. The co-purchase projection graph, as q160.
    ("q272_local_clustering", (s: SparkSession, dir: String) => {
      import s.implicits._
      val (e, deg, oriented) = ccInputs(s, dir)
      val wedge = oriented.toDF("src", "x").join(oriented.toDF("src", "y"), Seq("src"))
        .filter($"x" < $"y")
      // closure check: broadcast the measured-small edge set so the
      // Σd_out²-bounded wedge stream is never shuffled/sorted (guide §3.1)
      val tris = wedge
        .join(AdaptiveJoin.broadcastIfSmall(e.select($"a".as("x"), $"b".as("y"))),
          Seq("x", "y"), "left_semi")
        .select($"src", $"x", $"y")
      val perNode = tris.select(explode(array($"src", $"x", $"y")).as("v"))
        .groupBy($"v").agg(count(lit(1)).as("tri"))
      ccHistogram(s, deg, perNode)
    }, Some(LocalCcOracleSql)),

    // ----- staged local clustering-coefficient distribution ---------------
    // q272 executed as StagedSlices sequential y-hash-slice jobs, each
    // reduced to per-node partial triangle counts (≤ |V| rows) before
    // the next starts; partials sum to the global counts. Same
    // oracle — bit-identical; see GraphQueries.localClusteringStaged.
    ("q354_local_clustering_staged", (s: SparkSession, dir: String) =>
      localClusteringStaged(s, dir, StagedSlices),
      Some(LocalCcOracleSql))
  )
}
