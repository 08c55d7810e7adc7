package graft

import graft.PlanText.PlanTextOps

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Similarity
import graft.TestSpark.q

/** Behavior pins for the Round8c operators (q208–q210): full imperative
  * recomputations (Lloyd-L2 PQ training, centroid drift, LSH recall)
  * plus plan-shape assertions. */
class Round8cSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val qvecs: Seq[(Long, Array[Double], Double)] =
    Tables.t(spark, TestSpark.Sf, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toSeq
      .map { case (id, e) =>
        val qv = e.map(x => math.round(x.toDouble * 10000).toDouble)
        (id, qv, qv.map(x => x * x).sum)
      }

  private def dot(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => x * y }.sum

  /** round-half-away-from-zero — Spark's round() and DuckDB's round(). */
  private def rnd(x: Double): Double =
    if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)

  // ----- q208 product quantization + ADC ---------------------------------

  test("q208 matches an imperative PQ pipeline; ADC scoring is a LUT hash join") {
    def sub(lo: Int): Seq[(Long, Array[Double], Double)] =
      qvecs.map { case (id, qv, _) =>
        val sv = qv.slice(lo - 1, lo + 31)
        (id, sv, sv.map(x => x * x).sum)
      }
    def d2(sn2: Double, cn2: Double, sv: Array[Double], cv: Array[Double]): Long =
      (sn2 + cn2 - 2 * dot(sv, cv)).toLong
    def lloyd(pts: Seq[(Long, Array[Double], Double)]): Seq[(Long, Array[Double], Double)] = {
      var cents = pts.filter(_._1 % 64 == 0)
      for (_ <- 1 to 2) {
        val asg = pts.map { case (_, sv, sn2) =>
          val c = cents.minBy { case (cid, cv, cn2) => (d2(sn2, cn2, sv, cv), cid) }
          (c._1, sv)
        }
        cents = asg.groupBy(_._1).toSeq.map { case (cid, grp) =>
          val dim = grp.head._2.length
          val cv = (0 until dim).map { i =>
            rnd(grp.map(_._2(i)).sum / grp.size) }.toArray
          (cid, cv, cv.map(x => x * x).sum)
        }.sortBy(_._1)
      }
      cents
    }
    val sv1 = sub(1); val sv2 = sub(33)
    val c1 = lloyd(sv1); val c2 = lloyd(sv2)
    def code(pts: Seq[(Long, Array[Double], Double)],
             cents: Seq[(Long, Array[Double], Double)]): Map[Long, Long] =
      pts.map { case (id, sv, sn2) =>
        id -> cents.minBy { case (cid, cv, cn2) => (d2(sn2, cn2, sv, cv), cid) }._1
      }.toMap
    val code1 = code(sv1, c1); val code2 = code(sv2, c2)
    val qids = qvecs.map(_._1).filter(_ % 100 == 0).sorted
    val sv1m = sv1.map(p => p._1 -> p).toMap
    val sv2m = sv2.map(p => p._1 -> p).toMap
    val c1m = c1.map(c => c._1 -> c).toMap
    val c2m = c2.map(c => c._1 -> c).toMap
    val qm = qvecs.map(p => p._1 -> p).toMap
    val expected = qids.flatMap { q =>
      val (_, q1, q1n) = sv1m(q); val (_, q2, q2n) = sv2m(q)
      val adc = qvecs.filter(_._1 != q).map { case (cid, _, _) =>
        val cc1 = c1m(code1(cid)); val cc2 = c2m(code2(cid))
        (cid, d2(q1n, cc1._3, q1, cc1._2) + d2(q2n, cc2._3, q2, cc2._2))
      }.sortBy { case (cid, d) => (d, cid) }.take(3)
      val (_, qv, qn) = qm(q)
      val ex3 = qvecs.filter(_._1 != q).map { case (cid, cv, cn) =>
        (cid, d2(qn, cn, qv, cv)) }
        .sortBy { case (cid, d) => (d, cid) }.take(3).map(_._1).toSet
      adc.zipWithIndex.map { case ((cid, d), i) =>
        (q, (i + 1).toLong, cid, d, if (ex3(cid)) 1L else 0L) }
    }
    val df = q("q208_pq_adc")
      .apply(spark, TestSpark.Sf)
    val got = df.as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the compression is not free but not useless either: some exact
    // hits survive at this codebook size
    assert(got.map(_._5).sum >= 1L)
    // ADC candidate scoring is a hash join against the broadcast LUT —
    // no per-candidate vector math and no cross product in the scoring path
    val plan = df.planText
    assert(plan.contains("BroadcastHashJoin"))
  }

  // ----- q209 embedding drift --------------------------------------------

  test("q209 matches imperative per-label snapshot centroids") {
    val labels = Tables.t(spark, TestSpark.Sf, "embeddings")
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val bySnap = qvecs.groupBy { case (id, _, _) => (labels(id).toLong, id % 2) }
    def centroid(grp: Seq[(Long, Array[Double], Double)]): Array[Double] = {
      val dim = grp.head._2.length
      (0 until dim).map(i => rnd(grp.map(_._2(i)).sum / grp.size)).toArray
    }
    val to = qvecs.count(_._1 % 2 == 0).toLong
    val tn = qvecs.count(_._1 % 2 == 1).toLong
    val expected = labels.values.map(_.toLong).toSeq.distinct.sorted.map { l =>
      val old = bySnap((l, 0L)); val nw = bySnap((l, 1L))
      val co = centroid(old); val cn = centroid(nw)
      val diff = co.zip(cn).map { case (a, b) => a - b }
      (l, old.size.toLong, nw.size.toLong,
        1000000L * old.size / to, 1000000L * nw.size / tn,
        dot(diff, diff).toLong)
    }
    val got = q("q209_embedding_drift")
      .apply(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the parity split is a placebo ingest: shares stay near 10% each
    assert(got.forall(r => r._4 > 50000 && r._4 < 200000))
  }

  // ----- q210 ANN recall certification -----------------------------------

  test("q210 matches an imperative recall audit; rr is a valid reciprocal rank") {
    val projs = Similarity.OracleProjs.map(_.map(_.toDouble).toArray)
    val bucketed = qvecs.map { case (id, qv, n2) =>
      val b = projs.zipWithIndex.map { case (p, j) =>
        if (dot(qv, p) >= 0) 1 << j else 0 }.sum
      (b, id, qv, n2)
    }
    val byBucket = bucketed.groupBy(_._1)
    val qids = qvecs.map(_._1).filter(_ % 100 == 0).sorted
    val qm = bucketed.map(p => p._2 -> p).toMap
    val expected = qids.map { q =>
      val (b, _, qv, qn) = qm(q)
      val lsh = byBucket(b).filter(_._2 != q)
        .map { case (_, cid, cv, cn) => (cid, dot(qv, cv) / math.sqrt(qn * cn)) }
        .sortBy { case (cid, cos) => (-cos, cid) }.take(3).map(_._1)
      val ex3 = qvecs.filter(_._1 != q)
        .map { case (cid, cv, cn) => (cid, dot(qv, cv) / math.sqrt(qn * cn)) }
        .sortBy { case (cid, cos) => (-cos, cid) }.take(3).map(_._1)
      val hits = ex3.count(lsh.contains).toLong
      val rr = lsh.indexOf(ex3.head) match {
        case -1 => 0L
        case i => 1000000L / (i + 1)
      }
      (q, hits, rr)
    }
    val got = q("q210_ann_recall_cert")
      .apply(spark, TestSpark.Sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.forall(r => Set(0L, 333333L, 500000L, 1000000L)(r._3)))
    assert(got.forall(r => r._2 >= 0L && r._2 <= 3L))
  }
}
