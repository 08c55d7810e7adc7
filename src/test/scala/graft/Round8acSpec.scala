package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ext.Similarity
import graft.TestSpark.q

/** Behavior pins for the Round8ac operators (q303–q305): an imperative
  * Wasserstein-1 recompute from raw lengths, the MMR greedy replayed
  * imperatively over the same candidate/sim tables, and the
  * consistent-hashing invariants (only the new node's arcs move keys;
  * populations re-total exactly).
  */
class Round8acSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  // ----- q303 Wasserstein-1 drift ------------------------------------------

  test("q303 equals an imperative earth-mover integral over the value grid") {
    val d = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"n_chars").as[(String, Long)].collect().toSeq
    val n = d.size.toLong
    val grid = d.map(_._2).distinct.sorted
    val gaps = (grid.zip(grid.drop(1)).map { case (a, b) => b - a } :+ 0L)
    val cumC = grid.map(v => d.count(_._2 <= v).toLong)
    val expected = d.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, g) =>
      val ns = g.size.toLong
      val area = grid.indices.map { i =>
        val cumS = g.count(_._2 <= grid(i)).toLong
        (BigInt(cumS) * n - BigInt(cumC(i)) * ns).abs * gaps(i)
      }.sum
      (src, ns, (BigInt(1000000) * area / (BigInt(ns) * n)).toLong)
    }
    val got = q("q303_wasserstein_drift")(spark, TestSpark.Sf)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.forall(_._3 >= 0))
    assert(got.map(_._2).sum == n)
  }

  // ----- q304 MMR re-ranking -------------------------------------------------

  test("q304 equals an imperative greedy replay over the same candidate table") {
    // candidates/sims come from the LSH + cosine kernels pinned elsewhere;
    // THIS spec pins the greedy selection arithmetic on top of them.
    val b = Similarity.prepare(
        Tables.t(spark, TestSpark.Sf, "embeddings"), "vec_id", "embedding")
      .withColumn("bucket",
        Similarity.lshBucket(col("qvec"), Similarity.OracleProjs))
    val qs = b.filter($"id" % 100 === 0)
      .select($"bucket", $"id".as("q_id"), $"qvec".as("q_vec"), $"n2".as("q_n2"))
    val cs = b.select($"bucket", $"id".as("c_id"), $"qvec".as("c_vec"),
      $"n2".as("c_n2"))
    val wq = Window.partitionBy($"q_id").orderBy(desc("rel"), $"c_id")
    val cands = cs.join(qs, "bucket").filter($"q_id" =!= $"c_id")
      .select($"q_id", $"c_id", $"c_vec", $"c_n2",
        Similarity.cosine(Similarity.dot($"q_vec", $"c_vec"), $"q_n2",
          $"c_n2").as("rel"))
      .withColumn("rn", row_number().over(wq)).filter($"rn" <= 10)
    val rels = cands.select($"q_id", $"c_id", $"rel")
      .as[(Long, Long, Double)].collect().toSeq
    val sims = cands.select($"q_id", $"c_id".as("d_id"), $"c_vec", $"c_n2")
      .join(cands.select($"q_id", $"c_id".as("s_id"),
        $"c_vec".as("s_vec"), $"c_n2".as("s_n2")), Seq("q_id"))
      .filter($"d_id" =!= $"s_id")
      .select($"q_id", $"d_id", $"s_id",
        Similarity.cosine(Similarity.dot($"c_vec", $"s_vec"), $"c_n2",
          $"s_n2").as("sim"))
      .as[(Long, Long, Long, Double)].collect()
      .map { case (a, b2, c, s) => (a, b2, c) -> s }.toMap
    val expected = rels.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (qid, g) =>
        val rel = g.map(x => x._2 -> x._3).toMap
        val picked = collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
        var pool = g.map(_._2).sorted
        for (k <- 1 to 3 if pool.nonEmpty) {
          val scoredPool = pool.map { c =>
            val score =
              if (picked.isEmpty) rel(c)
              else 0.7 * rel(c) - 0.3 * picked.map(p => sims((qid, c, p._3))).max
            (c, score)
          }
          val (bestC, bestS) = scoredPool.minBy { case (c, s) => (-s, c) }
          picked += ((qid, k.toLong, bestC, bestS))
          pool = pool.filterNot(_ == bestC)
        }
        picked
    }
    val got = q("q304_mmr_rerank")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(x => (x._1, x._2))
    assert(got == expected)
    // picks are distinct within a probe and pick 1 is the pure-relevance top
    got.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._3).distinct.size == g.size)
    }
  }

  // ----- q305 consistent-hash rebalance --------------------------------------

  test("q305 equals an imperative ring walk; only the new node's arcs move keys") {
    val markers = (0 until 88).map { id =>
      val i = id / 8; val j = id % 8
      (s"node$i", i, h32(s"ring|node$i|v$j"))
    }
    val ringB = markers.filter(_._2 < 10).map(m => m._3 -> m._1).sortBy(_._1)
    val ringA = markers.map(m => m._3 -> m._1).sortBy(_._1)
    def assign(ring: Seq[(Long, String)], k: Long): String =
      ring.find(_._1 >= k).getOrElse(ring.head)._2
    val keys = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id").as[Long].collect().toSeq.map(id => h32(s"key|$id"))
    val n = keys.size.toLong
    val asg = keys.map(k => (assign(ringB, k), assign(ringA, k)))
    val nodes = markers.map(_._1).distinct.sorted
    val expected = nodes.map { nd =>
      val nb = asg.count(_._1 == nd).toLong
      val na = asg.count(_._2 == nd).toLong
      val mv = asg.count(p => p._2 == nd && p._1 != p._2).toLong
      (nd, nb, na, mv, 1000000L * mv / n)
    }
    val got = q("q305_consistent_hash_rebalance")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // consistent hashing's contract: old nodes never GAIN keys
    assert(got.filter(_._1 != "node10").forall(_._4 == 0L))
    val n10 = got.find(_._1 == "node10").get
    assert(n10._2 == 0L && n10._3 == n10._4) // all node10 keys are moved-in
    assert(got.map(_._2).sum == n && got.map(_._3).sum == n)
  }
}
