package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def embDf = Seq(
    (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),   // close to 1
    (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),   // orthogonal to 1
    (4L, Seq(-1.0f, 0.0f, 0.0f, 0.0f)))  // opposite of 1
    .toDF("vec_id", "embedding")

  test("cosine: self=1, orthogonal=0, opposite=-1") {
    val p = Similarity.prepare(embDf, "vec_id", "embedding")
    val topk = Similarity.bruteForceTopK(p.filter($"id" === 1), p, 3)
      .orderBy("rank").collect()
    assert(topk.map(_.getLong(2)).toSeq == Seq(2L, 3L, 4L)) // by similarity desc
    assert(math.abs(topk(0).getDouble(3) - (0.9 / math.sqrt(0.81 + 0.01))) < 1e-9)
    assert(topk(1).getDouble(3) == 0.0)
    assert(topk(2).getDouble(3) == -1.0)
  }

  test("quantization makes dot products exact integers") {
    val p = Similarity.prepare(embDf, "vec_id", "embedding")
    val n2 = p.orderBy("id").select("n2").as[Double].collect()
    assert(n2(0) == 1e8) // (1.0*10000)^2
    assert(n2(3) == 1e8)
  }

  test("lshBucket: identical vectors share a bucket, opposite vectors don't") {
    val projs = Similarity.projectionVectors(4, 4)
    val p = Similarity.prepare(embDf, "vec_id", "embedding")
      .withColumn("bucket", Similarity.lshBucket($"qvec", projs))
    val buckets = p.orderBy("id").select("bucket").as[Int].collect()
    assert(buckets.forall(b => b >= 0 && b < 16))
    assert(buckets(0) != buckets(3)) // v and -v flip every sign bit
    assert(buckets(0) == (~buckets(3) & 0xf))
  }

  test("projectionVectors are deterministic") {
    assert(Similarity.projectionVectors(2, 8) == Similarity.projectionVectors(2, 8))
  }

  test("nearDupPairs finds the planted near-duplicate") {
    val projs = Similarity.projectionVectors(4, 4)
    val p = Similarity.prepare(embDf, "vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(p, projs, 0.9).collect()
    assert(pairs.length == 1)
    assert((pairs.head.getLong(0), pairs.head.getLong(1)) == (1L, 2L))
  }

  test("kmeansCentroids separates two synthetic blobs and stays integer-valued") {
    // blob A around (10000, 0, ...), blob B around (0, 10000, ...)
    val vecs = (0L until 10L).map { i =>
      val base = if (i % 2 == 0) Seq(1.0f, 0.01f * i) else Seq(0.01f * i, 1.0f)
      (i, base ++ Seq.fill(6)(0.0f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val p = Similarity.prepare(df, "vec_id", "embedding")
    // init from ids 0 (blob A) and 1 (blob B)
    val cents = Similarity.kmeansCentroids(p, col("id") <= 1, iters = 2).orderBy("cent_id")
    val rows = cents.collect()
    assert(rows.length == 2)
    // centroids stay integer-valued doubles (the exactness invariant)
    rows.foreach { r =>
      r.getSeq[Double](1).foreach(v => assert(v == math.rint(v), s"non-integer centroid $v"))
    }
    // each vector lands with its own blob's centroid
    val assigned = Similarity.ivfAssignWith(p, cents)
      .select(col("id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 10L).foreach { i =>
      assert(assigned(i) == (if (i % 2 == 0) 0L else 1L), s"vector $i misassigned")
    }
  }

  test("ANN quality: multi-probe LSH recall@5 vs brute force on real embeddings") {
    import graft.Tables
    // sf0.01: 500 vectors / 5 queries — the smallest corpus where the
    // recall estimate is stable run-to-run (everything is deterministic,
    // but the sf0.001 slice has too few queries to characterize quality)
    val prepared = Similarity.prepare(
      Tables.spread(Tables.t(spark, "/root/testdata/sf0.01", "embeddings")),
      "vec_id", "embedding")
    val queryPred = col("id") % 100 === 0
    val truth = Similarity.bruteForceTopK(prepared.filter(queryPred), prepared, k = 5)
      .select($"q_id", $"c_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val projs = Similarity.projectionVectors(4, 64)
    val approx = Similarity.lshTopKMultiProbe(prepared, queryPred, projs, k = 5)
      .select($"q_id", $"c_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(truth.nonEmpty)
    val recalls = truth.map { case (q, t) =>
      val hit = approx.getOrElse(q, Set.empty[Long]).intersect(t).size
      hit.toDouble / t.size
    }
    val meanRecall = recalls.sum / recalls.size
    // the quality contract for the approximate path: measured
    // recall@5 is 0.44 on this corpus (deterministic data + seeds ->
    // the number is exactly reproducible); the floor guards against a
    // regression in bucketing/probing, not an aspiration. More
    // hyperplanes/tables buy recall at candidate-set cost — that dial
    // is the operator's parameter, not a fixed property.
    assert(meanRecall >= 0.4, f"mean recall@5 = $meanRecall%.3f")
  }

  test("ANN quality: IVF nprobe=2 recall@3 beats nprobe=1 vs brute force") {
    import graft.Tables
    val prepared = Similarity.prepare(
      Tables.spread(Tables.t(spark, "/root/testdata/sf0.01", "embeddings")),
      "vec_id", "embedding")
    // 50 centroids over ~500 vectors: ~10-vector cells, small enough
    // that some true neighbors land across a cell boundary (with 10 fat
    // cells nprobe=1 is already perfect and the dial has nothing to buy)
    val centroidPred = col("id") % 10 === 0
    val queryPred = col("id") % 100 === 0
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select($"q_id", $"c_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val truth = topSets(Similarity.bruteForceTopK(prepared.filter(queryPred), prepared, k = 3))
    def recall(approx: Map[Long, Set[Long]]): Double = {
      val rs = truth.map { case (q, t) =>
        approx.getOrElse(q, Set.empty[Long]).intersect(t).size.toDouble / t.size }
      rs.sum / rs.size
    }
    val r1 = recall(topSets(Similarity.ivfTopK(prepared, centroidPred, queryPred, k = 3)))
    val r2 = recall(topSets(Similarity.ivfTopKMultiProbe(prepared, centroidPred,
      nprobe = 2, queryPred, k = 3)))
    // probing the 2nd-nearest cell recovers boundary neighbors: the dial
    // must move recall strictly upward on this corpus (deterministic
    // data, so both numbers reproduce exactly)
    assert(r2 > r1, f"nprobe=2 recall $r2%.3f must beat nprobe=1 $r1%.3f")
    assert(r2 >= 0.5, f"nprobe=2 recall@3 = $r2%.3f")
  }

  test("ANN quality: k-means IVF nprobe=2 recall@3 beats nprobe=1 vs brute force") {
    import graft.Tables
    val prepared = Similarity.prepare(
      Tables.spread(Tables.t(spark, "/root/testdata/sf0.01", "embeddings")),
      "vec_id", "embedding").cache()
    val initPred = col("id") % 10 === 0 // ~50 trained cells: boundaries exist
    val queryPred = col("id") % 100 === 0
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select($"q_id", $"c_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val truth = topSets(Similarity.bruteForceTopK(prepared.filter(queryPred), prepared, k = 3))
    def recall(approx: Map[Long, Set[Long]]): Double = {
      val rs = truth.map { case (q, t) =>
        approx.getOrElse(q, Set.empty[Long]).intersect(t).size.toDouble / t.size }
      rs.sum / rs.size
    }
    val r1 = recall(topSets(Similarity.ivfTopKKmeans(prepared, initPred, iters = 1,
      queryPred, k = 3)))
    val r2 = recall(topSets(Similarity.ivfTopKKmeans(prepared, initPred, iters = 1,
      queryPred, k = 3, nprobe = 2)))
    prepared.unpersist()
    assert(r2 > r1, f"trained-IVF nprobe=2 recall $r2%.3f must beat nprobe=1 $r1%.3f")
  }

  test("ivfTopKMultiProbe: probe-1 results equal the nprobe=1 search") {
    // with nprobe=1 the multi-probe form must degenerate to ivfTopK
    // exactly (same cells, same ranking, same ties)
    val prepared = Similarity.prepare(
      graft.Tables.spread(graft.Tables.t(spark, graft.TestSpark.Sf, "embeddings")),
      "vec_id", "embedding")
    val a = Similarity.ivfTopK(prepared, col("id") % 50 === 0, col("id") % 100 === 0, k = 3)
      .orderBy("q_id", "rank").collect().toSeq
    val b = Similarity.ivfTopKMultiProbe(prepared, col("id") % 50 === 0, nprobe = 1,
      col("id") % 100 === 0, k = 3)
      .orderBy("q_id", "rank").collect().toSeq
    assert(a == b)
  }
}
