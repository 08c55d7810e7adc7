package graft

import graft.PlanText.PlanTextOps

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.q

/** Behavior pins for the Round7d operators beyond the oracle gate. */
class Round7dSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def quantized: Array[(Long, IndexedSeq[Double], Int)] = {
    val embs = Tables.t(spark, TestSpark.Sf, "embeddings")
      .select($"vec_id", $"embedding", $"label")
      .as[(Long, Seq[Float], Int)].collect()
    embs.map { case (id, e, l) =>
      (id, e.map(x => math.round(x.toDouble * 10000).toDouble).toIndexedSeq, l)
    }
  }

  private def bucketOf(v: IndexedSeq[Double]): Int =
    graft.ext.Similarity.OracleProjs.zipWithIndex.map { case (p, j) =>
      val d = p.zip(v).map { case (pi, vi) => pi * vi }.sum
      if (d >= 0) 1 << j else 0
    }.sum

  private def cos(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    dot / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
  }

  // ----- q186 semantic dedup -------------------------------------------

  test("q186 matches an imperative SemDeDup over the same cells") {
    val vs = quantized
    val byBucket = vs.groupBy { case (_, v, _) => bucketOf(v) }
    val expected = byBucket.map { case (bkt, members) =>
      val repId = members.map(_._1).min
      val repVec = members.find(_._1 == repId).get._2
      val dropped = members.count { case (id, v, _) =>
        id != repId && cos(v, repVec) >= 0.4
      }
      val keptIdSum = members.collect {
        case (id, v, _) if id == repId || cos(v, repVec) < 0.4 => id
      }.sum
      (bkt.toLong, members.length.toLong, dropped.toLong, keptIdSum)
    }.toSeq.sortBy(_._1)
    val got = q("q186_semantic_dedup")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.map(_._2).sum == vs.length)
  }

  // ----- q187 label-noise audit ----------------------------------------

  test("q187 agrees with an imperative kNN label-agreement computation") {
    val vs = quantized
    val probes = vs.filter(_._1 < 50)
    val perProbe = probes.map { case (qid, qv, ql) =>
      val knn = vs.filter(_._1 != qid)
        .map { case (cid, cv, cl) => (cid, cos(qv, cv), cl) }
        .sortBy { case (cid, c, _) => (-c, cid) }
        .take(5)
      (ql, knn.count(_._3 == ql).toLong)
    }
    val expected = perProbe.groupBy(_._1).map { case (l, g) =>
      (l.toLong, g.length.toLong, g.map(_._2).sum,
        g.count(_._2 <= 1L).toLong)
    }.toSeq.sortBy(_._1)
    val got = q("q187_label_noise")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.map(_._2).sum == probes.length)
  }

  test("q187 probe side is broadcast (candidate scan never shuffles)") {
    val plan = q("q187_label_noise")(spark, TestSpark.Sf)
      .planText
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  // ----- q188 epoch shuffle --------------------------------------------

  test("q188 epochs decorrelate: footrule ratio concentrates at 1e6") {
    val row = q("q188_epoch_shuffle")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().head
    val (nDocs, nShards, _, sumNs2, ratio) = row
    val docCount = Tables.t(spark, TestSpark.Sf, "documents").count()
    assert(nDocs == docCount)
    assert(nShards >= 2)
    assert(sumNs2 >= nDocs) // sum of squares >= sum
    // E[ratio] = 1e6 * (1 - 1/n^2); independent md5 permutations land
    // well inside +-20%
    assert(ratio > 800000L && ratio < 1200000L, s"ratio $ratio")
  }

  test("q188 rank windows are shard-partitioned (no global sort)") {
    val plan = q("q188_epoch_shuffle")(spark, TestSpark.Sf)
      .planText
    // both row_number windows ride ONE shard-hash exchange; the final
    // SinglePartition exchange carries only the per-shard aggregate rows
    assert(plan.contains("hashpartitioning(shard"))
    assert("hashpartitioning\\(shard".r.findAllIn(plan).size == 1,
      "the two rank windows should share one shard exchange")
  }

  // ----- q189 tokenizer fertility --------------------------------------

  test("q189 matches an imperative recount for every source") {
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"text").as[(String, String)].collect()
    val bpe = new scala.util.matching.Regex(graft.ext.TextAnalysis.BpePattern)
    val expected = docs.groupBy(_._1).map { case (src, g) =>
      val ws = g.map(d => d._2.trim.split("\\s+").length.toLong).sum
      val b = g.map(d => bpe.findAllIn(d._2).size.toLong).sum
      val ch = g.map(_._2.length.toLong).sum
      (src, g.length.toLong, ws, b, ch,
        1000000L * b / ws, 1000000L * ch / b)
    }.toSeq.sortBy(_._1)
    val got = q("q189_tokenizer_fertility")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
  }
}
