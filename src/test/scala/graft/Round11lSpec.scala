package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.KmvMd5
import graft.ext.{TextAnalysis => TA}

/** Behavior pins for the portable-KMV battery (q404–q406): the md5
  * hash kernel against Spark's own md5, buffer mergeability as an
  * algebraic law, the pure-integer estimator against a BigInt replay,
  * streaming state against the batch aggregation, and the full q405/
  * q406 sketch algebra against a driver-side buffer replay.
  */
class Round11lSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def q(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.Sf)

  test("hash64 is the first 16 hex chars of md5 (Spark's own md5 agrees)") {
    import spark.implicits._
    val samples = Seq("4217", "", "a", "the quick brown fox", "src17",
      "naïve — ünïcode", "0", "9999999999")
    val sparkHex = samples.toDF("s")
      .select(substring(md5($"s".cast("binary")), 1, 16)).as[String].collect()
    samples.zip(sparkHex).foreach { case (s, hex) =>
      assert(f"${KmvMd5.hash64(s)}%016x" == hex, s"mismatch for '$s'")
    }
  }

  test("buffer kernel: sorted, deduped, capped, and merge = bulk insert") {
    val k = 16
    val rnd = new scala.util.Random(42)
    val xs = Seq.fill(200)(rnd.nextLong())
    val keys = xs.map(_ ^ Long.MinValue)
    val full = keys.foldLeft(Array.empty[Long])((b, h) => KmvMd5.insert(b, h, k))
    // reference: k smallest distinct flipped keys in signed order
    assert(full.toSeq == keys.distinct.sorted.take(k))
    // mergeability: any split merges back to the same buffer
    val (l, r) = keys.splitAt(77)
    val bl = l.foldLeft(Array.empty[Long])((b, h) => KmvMd5.insert(b, h, k))
    val br = r.foldLeft(Array.empty[Long])((b, h) => KmvMd5.insert(b, h, k))
    assert(KmvMd5.merge(bl, br, k).toSeq == full.toSeq)
    // idempotence: re-inserting buffer members is a no-op
    assert(full.foldLeft(full)((b, h) => KmvMd5.insert(b, h, k)).toSeq == full.toSeq)
  }

  test("estimator: exact below k, BigInt integer division at k, ~truth on md5") {
    val k = 64
    val small = (1 to 10).foldLeft(Array.empty[Long])((b, i) =>
      KmvMd5.insert(b, KmvMd5.hash64(s"v$i") ^ Long.MinValue, k))
    assert(KmvMd5.estimate(small, k) == 10L)
    val n = 10000
    val buf = (1 to n).foldLeft(Array.empty[Long])((b, i) =>
      KmvMd5.insert(b, KmvMd5.hash64(s"v$i") ^ Long.MinValue, k))
    val est = KmvMd5.estimate(buf, k)
    val hk = BigInt(java.lang.Long.toUnsignedString(buf(k - 1) ^ Long.MinValue))
    assert(est == ((BigInt(k - 1) << 64) / hk).toLong)
    // md5 is uniform: RSE ≈ 1/sqrt(k−2) ≈ 12.7%; allow 3×
    assert(math.abs(est - n) < n * 0.4, s"estimate $est too far from $n")
  }

  test("q404 streaming sketch state equals the batch aggregation") {
    import spark.implicits._
    // epoch seconds: the memory sink and the batch path return different
    // external timestamp types (Timestamp vs LocalDateTime)
    val streamed = q("q404_stream_kmv_window")
      .select($"day_start".cast("long"), $"n_events", $"users_kmv")
      .as[(Long, Long, Long)].collect()
    val batch = Tables.t(spark, TestSpark.Sf, "events")
      .groupBy(window($"ts", "1 day"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.KmvDistinctMd5.udf(64)($"user_id".cast("string"))
          .as("users_kmv"))
      .select($"window.start".cast("timestamp").cast("long").as("d"),
        $"n_events", $"users_kmv")
      .orderBy("d")
      .as[(Long, Long, Long)].collect()
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.length == 30)
  }

  /** Driver-side per-source buffers from the same shingle stream. */
  private def driverBuffers(k: Int): Map[String, Array[Long]] = {
    import spark.implicits._
    Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", explode(TA.shingles($"text", 3)).as("tok"))
      .filter($"tok" =!= "")
      .as[(String, String)].collect()
      .groupBy(_._1)
      .map { case (src, rows) =>
        src -> rows.map(_._2).foldLeft(Array.empty[Long])((b, t) =>
          KmvMd5.insert(b, KmvMd5.hash64(t) ^ Long.MinValue, k))
      }
  }

  private def bigEst(buf: Array[Long], k: Int): Long = KmvMd5.estimate(buf, k)

  test("q405 pair algebra equals the driver-side buffer replay") {
    val k = 256
    val bufs = driverBuffers(k)
    val got = q("q405_sketch_overlap_matrix").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val pairs = for {
      a <- bufs.keys.toSeq.sorted; b <- bufs.keys.toSeq.sorted if a < b
    } yield (a, b)
    assert(got.keySet == pairs.toSet)
    pairs.foreach { case (a, b) =>
      val u = (bufs(a) ++ bufs(b)).distinct.sorted.take(k)
      val jn = u.count(h => bufs(a).contains(h) && bufs(b).contains(h)).toLong
      val uEst = bigEst(u, k)
      val (gj, gu, gjm, gi) = got((a, b))
      assert(gj == jn, s"($a,$b) j_num")
      assert(gu == uEst, s"($a,$b) union_est")
      assert(gjm == 1000000L * jn / u.length, s"($a,$b) jaccard")
      assert(gi == jn * uEst / u.length, s"($a,$b) inter_est")
    }
  }

  test("q406 novelty curve equals the driver-side prefix-merge replay") {
    val k = 256
    val bufs = driverBuffers(k)
    val ordered = bufs.keys.toSeq.sortBy(_.drop(3).toLong)
    val prefixEsts = ordered.indices.map { i =>
      val merged = ordered.take(i + 1).map(bufs)
        .reduce((x, y) => KmvMd5.merge(x, y, k))
      bigEst(merged, k)
    }
    val got = q("q406_vocab_novelty_curve").collect()
    assert(got.map(_.getString(1)).toSeq == ordered)
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(2) == prefixEsts(i), s"step $i vocab_est")
      val prev = if (i == 0) 0L else prefixEsts(i - 1)
      assert(r.getLong(3) == prefixEsts(i) - prev, s"step $i novelty")
    }
    // the planner's read: the curve is monotone non-decreasing
    assert(prefixEsts.zip(prefixEsts.tail).forall { case (a, b) => a <= b })
  }
}
