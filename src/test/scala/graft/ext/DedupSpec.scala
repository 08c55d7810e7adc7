package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("exactDedup keeps min id and counts replicas") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("doc_id", "text")
    val got = Dedup.exactDedup(df, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(got.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("minhashLshPairs finds exact duplicates with jaccard 1.0") {
    spark.catalog.clearCache() // isolate the CacheManager assertion below
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base), (2L, base),                       // exact dup pair
      (3L, "completely different words entirely unrelated content here now"))
      .toDF("id", "text")
      .select($"id", TextAnalysis.shingles($"text", 3).as("shingles"))
    val pairs = Dedup.minhashLshPairs(docs, nBands = 4, threshold = 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
    assert(pairs.head.getDouble(2) == 1.0)
    // the internal materialization must NOT register in the CacheManager:
    // a cache() there would accumulate one storage entry per invocation
    // for the session's lifetime (checkpoint blocks are cleaner-released)
    assert(org.apache.spark.sql.CacheIntrospect.cacheIsEmpty(spark),
      "minhashLshPairs must not leave cached plans behind")
  }

  test("simhash32: identical docs get identical hashes, 32-bit range") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w v"))
      .toDF("id", "text")
      .select($"id", TextAnalysis.tokens($"text").as("tokens"))
    val got = Dedup.simhash32(docs).orderBy("id").as[(Long, Long)].collect()
    assert(got(0)._2 == got(1)._2)
    assert(got.forall(r => r._2 >= 0 && r._2 < (1L << 32)))
  }

  test("simhash32 kernel equals the exploded template form bit-for-bit") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "one"),
      (4L, "dup dup dup dup"))  // multiplicity matters for votes
      .toDF("id", "text")
      .select($"id", TextAnalysis.tokens($"text").as("tokens"))
    val kernel = Dedup.simhash32(docs).orderBy("id").as[(Long, Long)].collect().toSeq
    val exploded = Dedup.simhash32Exploded(docs).orderBy("id").as[(Long, Long)].collect().toSeq
    assert(kernel == exploded)
  }

  test("ngramJaccardPairs respects blocking and threshold") {
    val docs = Seq(
      (1L, "b1", Seq(1L, 2L, 3L, 4L)),
      (2L, "b1", Seq(1L, 2L, 3L, 5L)),   // jaccard 3/5 = 0.6
      (3L, "b2", Seq(1L, 2L, 3L, 4L)))   // same grams but different bucket
      .toDF("id", "bucket", "grams")
    val got = Dedup.ngramJaccardPairs(docs, 0.5).collect()
    assert(got.length == 1)
    assert(got.head.getLong(0) == 1L && got.head.getLong(1) == 2L)
    assert(math.abs(got.head.getDouble(2) - 0.6) < 1e-12)
  }

  test("minhash int mixing is deterministic and order-independent") {
    val a = Seq((1L, Seq("x y z", "p q r"))).toDF("id", "shingles")
    val b = Seq((1L, Seq("p q r", "x y z"))).toDF("id", "shingles")
    def mh(df: org.apache.spark.sql.DataFrame) =
      df.select(Dedup.minhashInt(Dedup.shingleHashes($"shingles"), 3).as("m")).as[Long].head()
    assert(mh(a) == mh(b))
  }

  test("minhash seeds are independent permutations, not order-preserving maps") {
    // An order-preserving mix (a*h+b below the modulus) makes every seed's
    // minhash a function of the single minimum shingle hash: the argmin
    // element is the same for all seeds, and min_s = a_s*min(h)+b_s.
    // With real permutations, different seeds must pick different argmin
    // elements, and the min must NOT be the affine image of min(h).
    val row = spark.sql(
      "SELECT transform(sequence(1, 64), i -> cast(conv(substr(md5(cast(i AS string)), 1, 8), 16, 10) AS bigint)) AS hs")
    val hs = row.selectExpr("hs").as[Seq[Long]].head()
    val minH = hs.min
    val argmins = (0 until 16).map { s =>
      val (a, b) = Dedup.permConsts(s)
      val perm = hs.map(h => (h * a + b) % Dedup.HashPrime)
      val got = row.select(Dedup.minhashInt($"hs", s).as("m")).as[Long].head()
      assert(got == perm.min, s"seed $s: column vs scala mismatch")
      // not the affine image of the global min hash for every seed
      hs.indexOf(hs(perm.indexOf(perm.min)))
    }
    // ≥ half the seeds must select a different argmin element than seed 0
    assert(argmins.distinct.size >= 8,
      s"argmin elements collapse to ${argmins.distinct.size} distinct — permutations are not independent")
    // and at least one seed's min must differ from a*minH+b (wrap occurred)
    val wrapped = (0 until 16).exists { s =>
      val (a, b) = Dedup.permConsts(s)
      val perm = hs.map(h => (h * a + b) % Dedup.HashPrime)
      perm.min != (minH * a + b) % Dedup.HashPrime
    }
    assert(wrapped, "no seed ever wrapped the modulus — mix is order-preserving")
  }

  test("connected components: chains, cliques, and singleton edges") {
    spark.catalog.clearCache() // isolate the CacheManager assertion below
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),   // chain -> component 1
      (10L, 11L),                      // pair -> component 10
      (20L, 21L), (20L, 22L), (21L, 22L)) // clique -> component 20
      .toDF("id_a", "id_b")
    val local = Dedup.connectedComponentsLocal(pairs)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val expected = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    assert(local == expected)
    // the distributed iterative form reaches the same fixpoint
    val iter = Dedup.connectedComponents(pairs)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(iter == expected)
    // the returned labels are a localCheckpoint, not a cached plan the
    // caller must remember to release (same hygiene as minhashLshPairs)
    assert(org.apache.spark.sql.CacheIntrospect.cacheIsEmpty(spark),
      "connectedComponents must not leave cached plans behind")
    // edge-order independence (determinism)
    val shuffled = Dedup.connectedComponentsLocal(
      pairs.orderBy($"id_b".desc)).orderBy("id").as[(Long, Long)].collect().toSeq
    assert(shuffled == expected)
  }

  test("star contraction reaches the union-find fixpoint on chains, cliques, and a seeded random graph") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (20L, 22L), (21L, 22L)).toDF("id_a", "id_b")
    val expected = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    val star = Dedup.connectedComponentsStar(pairs)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(star == expected)
    // a 64-node chain is the case the algorithm exists for: min-label
    // propagation needs diameter (63) rounds, star contraction O(log n) —
    // converging inside 10 iterations here proves the contraction bound
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val starChain = Dedup.connectedComponentsStar(chain, maxIter = 10)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(starChain == (1L to 64L).map(i => (i, 1L)),
      "chain did not contract to its minimum inside 10 rounds")
    // seeded random multigraph: same fixpoint as the single-task union-find
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2)
    val rdf = edges.toDF("id_a", "id_b")
    val uf = Dedup.connectedComponentsLocal(rdf)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val st = Dedup.connectedComponentsStar(rdf)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(st == uf, "star contraction and union-find disagree on the random graph")
  }

  test("minhash permutation constants stay exact in signed-64 arithmetic") {
    val maxH = (1L << 32) - 1
    (0 until 64).foreach { s =>
      val (a, b) = Dedup.permConsts(s)
      assert(a >= 1 && a <= (1L << 30), s"a out of range for seed $s")
      assert(b >= 0 && b < Dedup.HashPrime)
      // a*h+b must not overflow Long for the largest 32-bit hash
      assert(maxH <= Long.MaxValue / a, s"a*h overflows for seed $s")
      assert(maxH * a <= Long.MaxValue - b, s"a*h+b overflows for seed $s")
    }
  }

  test("prefixFilterPairs is exact: equals the all-pairs Jaccard join") {
    import org.apache.spark.sql.functions._
    import graft.{Tables, TestSpark}
    val docs = Tables.t(spark, TestSpark.Sf, "documents").select(
      col("doc_id").as("id"),
      TextAnalysis.charNgramInts(col("text"), 3).as("grams"))
    val t = 0.4 // low threshold -> more pairs -> stronger exactness check
    val got = Dedup.prefixFilterPairs(docs, t)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // ground truth: brute-force all-pairs verify, no filtering at all
    val l = docs.select(col("id").as("id_a"), col("grams").as("g_a"))
    val r = docs.select(col("id").as("id_b"), col("grams").as("g_b"))
    val truth = l.crossJoin(r).filter(col("id_a") < col("id_b"))
      .filter(graft.functions.ArrayJaccard.sortedLongJaccard(col("g_a"), col("g_b")) >= t)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == truth)
    assert(truth.nonEmpty, "test corpus should contain near-dups")
  }
}
