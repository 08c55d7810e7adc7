package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every variant is shuffle-bounded by a *blocking key*
  * (content hash, LSH band, language+length bucket) so candidate
  * generation is an equi-join on that key — never an all-pairs cross
  * join. Candidate pairs travel as narrow (id, id) rows; heavy shingle
  * arrays are joined back only for the final verify. Hashing is done
  * once per shingle (md5 → 32-bit int), then seeds are applied with
  * exact integer mixing (a·h+b mod p) — O(shingles) digests instead of
  * O(shingles·seeds).
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the minimum id. Output one
    * row per distinct content with its replica count. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** 32-bit integer hash per shingle (first 8 hex digits of md5) —
    * the one digest each shingle ever pays. The 32-bit domain (not 48)
    * lets the per-seed mix below wrap mod p inside exact signed-64
    * arithmetic on every engine. */
  def shingleHashes(shingleSet: Column): Column =
    array_distinct(transform(shingleSet,
      g => conv(substring(md5(g), 1, 8), 16, 10).cast("long")))

  /** Smallest prime above 2^32: the minhash permutation modulus. */
  val HashPrime = 4294967311L

  /** splitmix64 finalizer — derives per-seed permutation constants. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Per-seed permutation constants (a, b): a ∈ [1, 2^30] keeps
    * a·h + b < 2^62 + 2^33 (exact in signed 64-bit, no overflow on any
    * engine) while spanning ~2^30 wraps of p — a genuine independent
    * permutation per seed, not an order-preserving map. */
  def permConsts(seed: Int): (Long, Long) = {
    val a = Math.floorMod(mix(2L * seed + 1), 1L << 30) + 1
    val b = Math.floorMod(mix(2L * seed + 2), HashPrime)
    (a, b)
  }

  /** Permutation min-hash: min over (a_s·h + b_s) mod p. */
  def minhashInt(hs: Column, seed: Int): Column = {
    val (a, b) = permConsts(seed)
    array_min(transform(hs, h => (h * lit(a) + lit(b)) % lit(HashPrime)))
  }

  /** The same permutation rendered as DuckDB SQL over a list column
    * `hs` — oracle side of the shared template. */
  def minhashSql(seed: Int): String = {
    val (a, b) = permConsts(seed)
    s"list_min(list_transform(hs, h -> (h * $a + $b) % $HashPrime))"
  }

  /** LSH band key: hash of adjacent minhashes (decimal string form). */
  def bandKey(mh: Seq[Column]): Column =
    md5(concat_ws("|", mh.map(_.cast("string")): _*))

  /** Exact Jaccard over two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** MinHash+LSH near-duplicate pairs:
    * shingle-hash → 2k minhashes → k band keys → explode → equi-join on
    * narrow (band, id) rows → distinct candidate pairs → join hash sets
    * back → exact Jaccard verify ≥ threshold.
    *
    * `docs` must have columns (id, shingles: array<string>). When the
    * shingle hashes are already computed (the codegen'd
    * functions.WordShingleHash32 kernel), call minhashLshPairsHashed
    * directly.
    */
  def minhashLshPairs(docs: DataFrame, nBands: Int, threshold: Double): DataFrame =
    minhashLshPairsHashed(
      docs.select(col("id"), shingleHashes(col("shingles")).as("hs")),
      nBands, threshold)

  /** The pipeline over pre-hashed docs (id, hs: array<long>).
    *
    * The (id, hs) projection is read three times (band explode + both
    * sides of the verify join-back), so it is materialized ONCE via
    * localCheckpoint — not cache(): a cached plan stays registered in the
    * session's CacheManager for the session lifetime, so per-invocation
    * cache() calls accumulate storage forever, while checkpoint blocks
    * are released by the ContextCleaner as soon as the returned
    * DataFrame is unreferenced (same rationale as ivfTopKKmeans,
    * Similarity.scala). */
  def minhashLshPairsHashed(hashedDocs: DataFrame, nBands: Int,
                            threshold: Double): DataFrame = {
    val (hs, cand) = lshCandidates(hashedDocs, nBands)
    cand
      .join(hs.select(col("id").as("id_a"), col("hs").as("h_a")), Seq("id_a"))
      .join(hs.select(col("id").as("id_b"), col("hs").as("h_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("h_a"), col("h_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The banded-minhash candidate generator shared by all three LSH
    * surfaces (pairs / containment / calibration), so they stay in
    * lock-step with each other and with the one DuckDB candidate-CTE
    * template the oracles render. Returns the localCheckpoint'd
    * (id, hs) projection (read again by every caller's verify
    * join-back) plus the deduped id_a < id_b candidate pairs from the
    * band equi-join. */
  /** The (id, band_idx, band_key) index rows that lshCandidates
    * equi-joins. At ×100 and ×300 docs its pair count grows linearly
    * and its top bucket stays at 19 rows (BENCHNOTES "Round 13 — q411's
    * 1.36 exponent", bench/r13_band_hist_x300.json). */
  private def bandIndex(hs: DataFrame, nBands: Int): DataFrame = {
    val mhs = (0 until nBands * 2).map(s => minhashInt(col("hs"), s))
    val bands = (0 until nBands).map(b =>
      struct(lit(b).as("band_idx"), bandKey(Seq(mhs(2 * b), mhs(2 * b + 1))).as("band_key")))
    hs.select(col("id"), explode(array(bands: _*)).as("band"))
      .select(col("id"), col("band.band_idx"), col("band.band_key"))
  }

  /** Partition count for the prefix-filter candidate/verify chain: the
    * session's shuffle.partitions floor'd by the actual core count.
    *
    * The chain's physical shape is ONE whole-stage pipeline — per-doc
    * prefix window → candidate equi-join on the prefix token (broadcast
    * build) → pair dedup → gram join-back (broadcast) → two-pointer
    * verify — all sitting on a single exchange: the window's
    * hash-by-doc-id shuffle. That exchange carries only narrow
    * (tok, id, sz, df) rows, so AQE's byte-based coalescing
    * (minPartitionSize = 1 MB) collapses it to a handful of partitions,
    * starving a CPU-dense chain whose cost is sorted-array intersects,
    * not bytes: measured at sf0.1, q410's verify ran 132 task-seconds
    * on 5 tasks = 34 s wall on a 32-core box. An explicit
    * `repartition(n, id)` in front of the window pins that one exchange
    * at full width (AQE never coalesces an explicit-N repartition); the
    * keys match the window's required clustering, so the pin REPLACES
    * the planner's exchange rather than adding one — at any scale. */
  private def verifyParallelism(df: DataFrame): Int = {
    val ss = df.sparkSession
    math.max(ss.sparkContext.defaultParallelism,
      ss.sessionState.conf.numShufflePartitions)
  }

  private[graft] def lshCandidates(hashedDocs: DataFrame, nBands: Int): (DataFrame, DataFrame) = {
    val hs = hashedDocs.select(col("id"), col("hs")).localCheckpoint()
    val banded = bandIndex(hs, nBands)
    val cand = banded.select(col("band_idx"), col("band_key"), col("id").as("id_a"))
      .join(banded.select(col("band_idx"), col("band_key"), col("id").as("id_b")),
        Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    (hs, cand)
  }

  /** Asymmetric containment |A∩B|/|A| over LSH candidate pairs — catches
    * subset duplication (a doc quoted wholesale inside a larger one)
    * that symmetric Jaccard misses: a 200-token doc embedded in a
    * 10k-token doc has Jaccard ≈ 0.02 but containment ≈ 1.0. Candidate
    * generation is the same banded-minhash equi-join as
    * minhashLshPairsHashed; the verify emits both directions and the
    * keep filter is an integer inequality (10·|A∩B| ≥ t·min(|A|,|B|))
    * so thresholding never compares floats across engines. */
  def minhashLshContainment(hashedDocs: DataFrame, nBands: Int,
                            minContainTenths: Int): DataFrame = {
    val (hs, cand) = lshCandidates(hashedDocs, nBands)
    cand
      .join(hs.select(col("id").as("id_a"), col("hs").as("h_a")), Seq("id_a"))
      .join(hs.select(col("id").as("id_b"), col("hs").as("h_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(col("h_a")).cast("long").as("n_a"),
        size(col("h_b")).cast("long").as("n_b"),
        size(array_intersect(col("h_a"), col("h_b"))).cast("long").as("inter_n"))
      .filter(col("inter_n") * 10 >= least(col("n_a"), col("n_b")) * minContainTenths)
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"), col("inter_n"),
        (col("inter_n").cast("double") / col("n_a")).as("cont_a"),
        (col("inter_n").cast("double") / col("n_b")).as("cont_b"))
  }

  /** Sketch-calibration audit over the SAME candidate pipeline as
    * minhashLshPairsHashed: for every LSH candidate pair, the Jaccard
    * the 2·nBands-component signature ESTIMATES (matching components /
    * components) next to the exact shingle-set Jaccard. The estimate is
    * an integer count divided once by a power of two, so it is
    * bit-identical on any engine; the shapes are the proven ones — band
    * equi-join candidates, narrow (id, id) pair rows, signatures and
    * hash sets joined back by id from the one localCheckpoint'd scan. */
  def minhashCalibration(hashedDocs: DataFrame, nBands: Int): DataFrame = {
    val k = nBands * 2
    val (hs, cand) = lshCandidates(hashedDocs, nBands)
    val mhs = (0 until k).map(s => minhashInt(col("hs"), s))
    val sig = hs.select(col("id"), array(mhs: _*).as("mh"), col("hs"))
    cand
      .join(sig.select(col("id").as("id_a"), col("mh").as("mh_a"), col("hs").as("h_a")), Seq("id_a"))
      .join(sig.select(col("id").as("id_b"), col("mh").as("mh_b"), col("hs").as("h_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (aggregate(
          zip_with(col("mh_a"), col("mh_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), _ + _).cast("double") / k).as("est_jaccard"),
        jaccard(col("h_a"), col("h_b")).as("exact_jaccard"))
  }

  /** Hex-digit value of md5 at `pos` (1-based), as SQL shared by engines. */
  def md5DigitSql(mExpr: String, pos: Int): String =
    s"(instr('0123456789abcdef', substr($mExpr, $pos, 1)) - 1)"

  /** SimHash bit-vote sum for bit j, referencing a precomputed digit
    * column d{j/4+1}. `divOp` is "div" (Spark) or "//" (DuckDB). */
  def simhashBitSql(j: Int, divOp: String): String = {
    val pos = j / 4 + 1
    val pow = 1 << (j % 4)
    s"sum(CASE WHEN ((d$pos $divOp $pow) % 2) = 1 THEN 1 ELSE -1 END)"
  }

  /** 32-bit SimHash per document — one codegen'd map-only pass
    * (functions.SimHash32), no explode/shuffle. `docs` needs
    * (id, tokens). */
  def simhash32(docs: DataFrame): DataFrame =
    docs.select(col("id"), graft.functions.SimHash32(col("tokens")).as("simhash"))

  /** The exploded/aggregated form of simhash32 — same bits, built from
    * the shared SQL template (md5DigitSql/simhashBitSql). The kernel is
    * validated against this in DedupSpec; it also remains the shape to
    * reach for if single documents ever carry more tokens than one task
    * comfortably hashes. */
  def simhash32Exploded(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("id"), explode(col("tokens")).as("tok"))
      .select(col("id"), md5(col("tok")).as("m"))
      .select(col("id") +: (1 to 8).map(p => expr(md5DigitSql("m", p)).as(s"d$p")): _*)
    val bitSums = (0 until 32).map(j => expr(simhashBitSql(j, "div")).as(s"s$j"))
    val packed = (0 until 32)
      .map(j => when(col(s"s$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    tok.groupBy(col("id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), packed.cast("long").as("simhash"))
  }

  /** Connected components over a near-dup pair list by iterative
    * min-label propagation: every node starts labeled with its own id;
    * each round takes the min of its own and its neighbors' labels;
    * convergence (no label decreased) is the exact fixpoint — the same
    * one a recursive-CTE oracle computes. The cluster id is therefore
    * the minimum doc id of the component, which is exactly the "keep"
    * representative dedup wants.
    *
    * Scale shape: each round is one equi-join edges⋈labels + a
    * min-aggregate — all hash-partitioned on the node id; rounds needed
    * = component diameter. Use this form only when the pair list itself
    * is too large for one task; near-dup pair lists are sparse (orders
    * smaller than the corpus), so `connectedComponentsLocal` — one
    * shuffle of the narrow pair list into a linear-time union-find — is
    * the default. */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .unionByName(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct().cache()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).cache()
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // USING-joins on renamed columns: nbrMin derives from labels, so
      // DataFrame-qualified references (labels("id") === nbrMin(...))
      // would be self-join-ambiguous and can silently degenerate
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dst_label")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("dst_label")).as("nbr_label"))
        .select(col("src").as("id"), col("nbr_label"))
      val updated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("new_label"),
          col("label").as("old_label"))
        .cache()
      converged = updated.filter(col("new_label") < col("old_label")).count() == 0
      val next = updated.select(col("id"), col("new_label").as("label")).cache()
      next.count() // materialize before dropping the plan it reads from
      updated.unpersist()
      labels.unpersist()
      labels = next
      it += 1
    }
    edges.unpersist()
    // hand back a localCheckpoint, not the cached table: the caller
    // should not have to remember to release executor storage (the same
    // hygiene rationale as minhashLshPairsHashed)
    val out = labels.localCheckpoint()
    labels.unpersist()
    out
  }

  /** Connected components via alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC '14) — the O(log n)-round alternative to min-label
    * propagation (`connectedComponents` above, whose round count is the
    * component DIAMETER): each round is two windowed min-aggregates
    * keyed on the node id with no join against a label table, and the
    * edge list strictly contracts toward the component-minimum star.
    * Right for graphs whose components are long chains (transitive
    * near-dup chains produce exactly those); same fixpoint — every node
    * labeled with its component's minimum id — as the other two forms.
    *
    * Edges stay canonically down-pointing (u > v) through both steps;
    * each round localCheckpoints so lineage stays flat across the loop,
    * and convergence is an order-independent (count, hash-sum) edge-set
    * checksum. */
  def connectedComponentsStar(pairs: DataFrame, idA: String = "id_a",
                              idB: String = "id_b", maxIter: Int = 25): DataFrame = {
    def checksum(e: DataFrame): (Long, Long) = {
      // hash folded mod p before the sum: full-range xxhash64 values
      // would overflow the ANSI-mode long sum on any non-trivial set
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")) % 1000000007L)).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var edges = pairs
      .select(greatest(col(idA), col(idB)).as("u"), least(col(idA), col(idB)).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    var state = checksum(edges)
    var it = 0
    var done = false
    while (!done && it < maxIter) {
      // large-star: every neighbor v > u links to m = min(N(u) ∪ {u})
      val bidir = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val ls = bidir
        .withColumn("m", least(min(col("v")).over(Window.partitionBy("u")), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star: u and each smaller neighbor link to min(N⁻(u) ∪ {u})
      val ss = ls.withColumn("m", min(col("v")).over(Window.partitionBy("u")))
      val next = ss.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(ss.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint()
      val nextState = checksum(next)
      done = nextState == state
      state = nextState
      edges = next
      it += 1
    }
    edges.select(col("u").as("id"), col("v").as("label"))
      .unionByName(edges.select(col("v").as("id"), col("v").as("label")))
      .distinct()
  }

  /** Connected components of a (sparse) pair list via union-find in a
    * single task: the pair rows — two longs each — shuffle once to one
    * partition and a path-compressing union-find labels every node with
    * its component's minimum id (union always roots the smaller id, so
    * the result is edge-order independent, hence deterministic). This is
    * an mapPartitions kernel, not a driver collect: the pair list never
    * leaves the cluster. Linear in |pairs|; right whenever the pair list
    * fits one task (millions of pairs), which near-dup pair lists do —
    * they are rare-event output, orders smaller than the corpus that
    * produced them. */
  def connectedComponentsLocal(pairs: DataFrame, idA: String = "id_a",
                               idB: String = "id_b"): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs.select(col(idA).cast("long"), col(idB).cast("long")).as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap[Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        val nodes = scala.collection.mutable.LongMap[Unit]()
        it.foreach { case (a, b) =>
          nodes(a) = (); nodes(b) = ()
          val ra = find(a); val rb = find(b)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        nodes.keysIterator.map(n => (n, find(n)))
      }
      .toDF("id", "label")
  }

  /** Character-n-gram Jaccard near-dup pairs within blocking buckets
    * (equi-join on the bucket key; no cross join). `docs` needs
    * (id, bucket, grams) — grams as SORTED DISTINCT packed ints (see
    * TextAnalysis.charNgramInts + array_sort) so the verify kernel is the
    * two-pointer SortedLongJaccard expression over primitive longs.
    * `broadcastGrams`: when one side's gram table fits in executor memory
    * (it is |docs|·|grams|·8B — a few MB per million short docs), a
    * broadcast join keeps the pair stream pipelined inside one stage with
    * no shuffle; at larger scale leave false for a bucket-partitioned
    * sort-merge join. */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double,
                        broadcastGrams: Boolean = false): DataFrame = {
    val l = docs.select(col("bucket"), col("id").as("id_a"), col("grams").as("g_a"))
    val r0 = docs.select(col("bucket"), col("id").as("id_b"), col("grams").as("g_b"))
    val r = if (broadcastGrams) broadcast(r0) else r0
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.ArrayJaccard.sortedLongJaccard(col("g_a"), col("g_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT set-similarity self-join via prefix filtering (the
    * PPJoin-family candidate rule): two sets with Jaccard ≥ t must share
    * a token within each other's first |x| − ceil(t·|x|) + 1 tokens under
    * one global canonical order (J ≥ t ⇒ |x∩y| ≥ t·|x|, so if all common
    * tokens sat past the prefix at most ceil(t·|x|) − 1 would remain —
    * pigeonhole). Unlike bucket blocking (`ngramJaccardPairs`), no
    * qualifying pair can be missed, at any corpus shape.
    *
    * Canonical order = ascending document frequency (rarest first, ties
    * by token value): prefixes carry the rarest tokens, so the candidate
    * equi-join on prefix tokens collides mostly where real similarity
    * exists. Scale shape: token-frequency count (one narrow agg), a
    * per-doc window to slice prefixes, the candidate self-join on the
    * prefix token (hash-partitioned by token — the frequent tokens that
    * would explode a join never enter a prefix), then the two-pointer
    * SortedLongJaccard verify over the sorted gram arrays.
    *
    * `docs` needs (id, grams) with grams SORTED DISTINCT longs.
    *
    * The (id, grams) table feeds three branches (token explode + both
    * verify sides). Measured at sf0.1, persisting it is a net LOSS —
    * serializing corpus-sized long arrays into the cache costs more than
    * recomputing the gram extraction per branch — so the branches
    * deliberately recompute; revisit only if gram extraction grows
    * disproportionately expensive. */
  def prefixFilterPairs(docs: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // sz travels with the explode (grams are already distinct, so the
    // array size IS the set size — no second window needed)
    val toks = docs.select(col("id"), size(col("grams")).as("sz"),
      explode(col("grams")).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val wOrd = Window.partitionBy(col("id")).orderBy(col("df"), col("tok"))
    val pref = toks.join(freq, Seq("tok"))
      // pin the window exchange at full width — see prefixIndex
      .repartition(verifyParallelism(docs), col("id"))
      .withColumn("pos", row_number().over(wOrd))
      .filter(col("pos") <=
        col("sz") - ceil(lit(threshold) * col("sz")).cast("long") + 1)
      .select(col("id"), col("tok"), col("sz"), col("pos"))
    // two more PPJoin pruning rules applied inside the join condition:
    // length filter — J ≥ t forces t·|x| ≤ |y|; positional filter — a
    // token at positions (i, j) caps the achievable overlap at
    // 1 + min(|x|−i, |y|−j), which must reach the required overlap
    // α = ceil(t/(1+t)·(|x|+|y|))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id")
          && col("b.sz") >= ceil(lit(threshold) * col("a.sz"))
          && col("b.sz") * lit(threshold) <= col("a.sz")
          && lit(1) + least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos"))
            >= ceil(lit(threshold / (1 + threshold)) * (col("a.sz") + col("b.sz"))))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val ga = docs.select(col("id").as("id_a"), col("grams").as("g_a"))
    val gb = docs.select(col("id").as("id_b"), col("grams").as("g_b"))
    cand.join(ga, Seq("id_a")).join(gb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.ArrayJaccard.sortedLongJaccard(col("g_a"), col("g_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** `prefixFilterPairs` in EXACT integer arithmetic: the threshold is a
    * micro value (600000 = 0.6), every PPJoin pruning rule is an exact
    * rational comparison (the ceil of the prefix bound via integer
    * (sz·t + 999999) div 1e6; the positional bound cross-multiplied so
    * no ceil is needed at all: 1+min ≥ t(sa+sb)/(1e6+t) ⟺
    * (1+min)(1e6+t) ≥ t(sa+sb), equivalent on integers), and the output
    * Jaccard is floor-micro — so `j_micro >= tau` is exactly
    * `J >= tau/1e6` and a threshold SWEEP over the result is
    * oracle-replayable with zero float seams. Recall-lossless like the
    * double form: every pair with J ≥ t/1e6 is produced.
    *
    * `docs` needs (id, grams) with grams SORTED DISTINCT longs (the
    * verify is the codegen'd two-pointer SortedLongIntersect — the
    * generic array_intersect verify measured 123 s vs the kernel's
    * on the sf0.1 τ=0.5 sweep). */
  /** The (id, tok, sz, pos) prefix-token index that
    * prefixFilterPairsMicro self-joins. At ×100 and ×300 docs its pair
    * count grows linearly and its top token bucket stays at 11 rows
    * (BENCHNOTES "Round 13 — q411's 1.36 exponent"). */
  private def prefixIndex(docs: DataFrame, thresholdMicro: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = thresholdMicro
    val toks = docs.select(col("id"), size(col("grams")).cast("long").as("sz"),
      explode(col("grams")).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val wOrd = Window.partitionBy(col("id")).orderBy(col("df"), col("tok"))
    toks.join(freq, Seq("tok"))
      // pin the per-doc window's exchange at full width: the candidate
      // join, dedup and two-pointer verify all PIPELINE on top of this
      // one exchange (everything else broadcasts), so AQE's byte-based
      // coalescing of it starves the whole CPU-dense chain — see
      // verifyParallelism. Same hash keys the window requires, so this
      // replaces the planner's exchange rather than adding one.
      .repartition(verifyParallelism(docs), col("id"))
      .withColumn("pos", row_number().over(wOrd).cast("long"))
      .filter(col("pos") <= col("sz") - expr(s"(sz * ${t}L + 999999L) div 1000000L") + 1)
      .select(col("id"), col("tok"), col("sz"), col("pos"))
  }

  def prefixFilterPairsMicro(docs: DataFrame, thresholdMicro: Long): DataFrame = {
    val t = thresholdMicro
    val pref = prefixIndex(docs, t)
    val cand = pref.as("a").join(pref.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id")
          && col("b.sz") * lit(1000000L) >= col("a.sz") * lit(t)
          && col("b.sz") * lit(t) <= col("a.sz") * lit(1000000L)
          && (lit(1L) + least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos")))
            * lit(1000000L + t) >= lit(t) * (col("a.sz") + col("b.sz")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val ga = docs.select(col("id").as("id_a"), col("grams").as("g_a"))
    val gb = docs.select(col("id").as("id_b"), col("grams").as("g_b"))
    cand.join(ga, Seq("id_a")).join(gb, Seq("id_b"))
      .withColumn("inter",
        graft.functions.ArrayJaccard.sortedLongIntersect(col("g_a"), col("g_b")))
      .select(col("id_a"), col("id_b"), expr(
        "1000000L * inter div (CAST(size(g_a) AS BIGINT) + size(g_b) - inter)")
        .as("j_micro"))
      .filter(col("j_micro") >= t)
  }
}
