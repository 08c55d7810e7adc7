package graft

import graft.PlanText.PlanTextOps

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Similarity
import graft.TestSpark.q

/** Behavior pins for the Round8b operators (q203–q207): full imperative
  * recomputations in plain Scala (independent of the Spark plans) plus
  * plan-shape assertions, the Round7b–8 pattern. */
class Round8bSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  /** Collected quantized embeddings: (id, qvec, n2) with integer-valued
    * doubles, the exact arithmetic the operators use. */
  private lazy val qvecs: Seq[(Long, Array[Double], Double)] =
    Tables.t(spark, TestSpark.Sf, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toSeq
      .map { case (id, e) =>
        val qv = e.map(x => math.round(x.toDouble * 10000).toDouble)
        (id, qv, qv.map(x => x * x).sum)
      }

  private def dot(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => x * y }.sum

  /** The q158 kNN graph recomputed imperatively: single-probe LSH bucket,
    * per-node top-3 by (cos desc, id), symmetrized. */
  private lazy val knnEdges: Set[(Long, Long)] = {
    val projs = Similarity.OracleProjs.map(_.map(_.toDouble).toArray)
    val bucketed = qvecs.map { case (id, qv, n2) =>
      val b = projs.zipWithIndex.map { case (p, j) =>
        if (dot(qv, p) >= 0) 1 << j else 0 }.sum
      (b, id, qv, n2)
    }
    val knn = bucketed.groupBy(_._1).values.flatMap { grp =>
      grp.flatMap { case (_, id, qv, n2) =>
        grp.filter(_._2 != id)
          .map { case (_, cid, cv, cn2) => (cid, dot(qv, cv) / math.sqrt(n2 * cn2)) }
          .sortBy { case (cid, cos) => (-cos, cid) }.take(3)
          .map { case (cid, _) => (id, cid) }
      }
    }.toSet
    knn ++ knn.map { case (a, b) => (b, a) }
  }

  // ----- q203 label propagation -----------------------------------------

  test("q203 matches an imperative 2-round majority-vote propagation") {
    val truth = Tables.t(spark, TestSpark.Sf, "embeddings")
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    var lbl = truth.map { case (id, l) =>
      id -> (if (id % 5 == 0) l.toLong else -1L) }
    var rnd = truth.keys.map(id => id -> (if (id % 5 == 0) 0L else -1L)).toMap
    for (r <- 1 to 2) {
      val labeled = lbl.filter(_._2 >= 0)
      val picks = knnEdges.toSeq.flatMap { case (u, v) =>
        labeled.get(v).map(l => (u, l)) }
        .groupBy(_._1).map { case (u, ls) =>
          val best = ls.groupBy(_._2).map { case (l, g) => (l, g.size) }
            .toSeq.sortBy { case (l, votes) => (-votes, l) }.head._1
          (u, best)
        }
      val newLbl = lbl.map { case (id, l) =>
        id -> (if (l >= 0) l else picks.getOrElse(id, -1L)) }
      rnd = rnd.map { case (id, r0) =>
        id -> (if (lbl(id) >= 0) r0
               else if (picks.contains(id)) r.toLong else -1L) }
      lbl = newLbl
    }
    val expected = truth.keys.toSeq.sorted.map { id =>
      (id, lbl(id), rnd(id),
        if (lbl(id) >= 0 && lbl(id) == truth(id).toLong) 1L else 0L)
    }
    val df = q("q203_label_propagation")(spark, TestSpark.Sf)
    val got = df.as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // seeds are exactly the id % 5 == 0 nodes and stay frozen at round 0
    assert(got.forall { case (id, _, r, _) => (r == 0L) == (id % 5 == 0) || r != 0L })
    assert(got.filter(_._1 % 5 == 0).forall(_._3 == 0L))
    // the spread reached beyond the seed set
    assert(got.exists(r => r._3 >= 1L))
    // graph build + propagation are equi-joins only
    val plan = df.planText
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  // ----- q204 score calibration -----------------------------------------

  test("q204 matches an imperative reliability table; bins partition the corpus") {
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"lang", $"text").as[(Long, String, String)].collect()
    val scored = docs.map { case (id, lang, text) =>
      val logit = normText(text).split(" ").map { tok =>
        h32(s"w|${h32(tok) % 1024}") % 2001 - 1000 }.sum
      (id, logit, if (lang == "en") 1L else 0L)
    }
    val n = scored.length.toLong
    val grid = scored.groupBy(_._2).map { case (l, g) => (l, g.size.toLong) }
      .toSeq.sortBy(_._1)
    val gridBins = grid.scanLeft((0L, 0L, 0L)) { case ((_, _, cum), (l, nl)) =>
      (l, nl, cum + nl) }.drop(1)
      .map { case (l, nl, cum) =>
        val cumPrev = cum - nl
        (l, ((2 * cumPrev + nl) * 500000) / n,
          math.min(9L, ((2 * cumPrev + nl) * 5) / n))
      }.map { case (l, pv, b) => l -> (pv, b) }.toMap
    val perBin = scored.groupBy(s => gridBins(s._2)._2).toSeq.sortBy(_._1)
      .map { case (b, g) =>
        val nd = g.size.toLong
        val pos = g.map(_._3).sum
        val pred = g.map(s => gridBins(s._2)._1).sum / nd
        val obs = 1000000L * pos / nd
        (b, nd, pos, pred, obs, math.abs(pred - obs))
      }
    val ece = perBin.map { case (_, nd, _, _, _, gap) => nd * gap }.sum / n
    val expected = perBin.map { case (b, nd, pos, pred, obs, gap) =>
      (b, nd, pos, pred, obs, gap, ece) }
    val df = q("q204_score_calibration")(spark, TestSpark.Sf)
    val got = df.as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // bins partition the corpus and predicted midranks are monotone
    assert(got.map(_._2).sum == n)
    assert(got.map(_._4) == got.map(_._4).sorted)
    // the grid joins back by broadcast — no shuffle of the doc table for it
    val plan = df.planText
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  // ----- q205 k-center coreset ------------------------------------------

  test("q205 matches an imperative Gonzalez traversal") {
    def d2(a: (Long, Array[Double], Double), b: (Long, Array[Double], Double)): Long =
      (a._3 + b._3 - 2 * dot(a._2, b._2)).toLong
    val byId = qvecs.sortBy(_._1)
    var cents = Vector(byId.head) // argmin id
    var mind = byId.map(p => (p, d2(p, cents.head))).toVector
    for (_ <- 2 to 4) {
      val far = mind.minBy { case (p, d) => (-d, p._1) }._1
      cents = cents :+ far
      mind = mind.map { case (p, d) => (p, math.min(d, d2(p, far))) }
    }
    val asg = byId.map { p =>
      val (ord, c) = cents.zipWithIndex
        .map { case (c, i) => ((i + 1).toLong, c) }
        .minBy { case (ord, c) => (d2(p, c), ord) }
      (ord, c._1, p._1, d2(p, c))
    }
    val expected = asg.groupBy(a => (a._1, a._2)).toSeq.sortBy(_._1._1)
      .map { case ((ord, cid), g) =>
        (ord, cid, g.size.toLong, g.map(_._4).max, g.map(_._3).sum) }
    val df = q("q205_kcenter_coreset")(spark, TestSpark.Sf)
    val got = df.as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // farthest-point property: each new center was at the previous radius
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L))
    // every distance evaluation is against a broadcast center row — the
    // corpus side never shuffles for a join
    val plan = df.planText
    assert(!plan.contains("SortMergeJoin"))
  }

  // ----- q206 k-anonymity ------------------------------------------------

  test("q206 matches an imperative risk ladder; risk is monotone in k") {
    val rows = Tables.t(spark, TestSpark.Sf, "customer")
      .select($"c_nationkey", $"c_mktsegment", $"c_acctbal")
      .as[(Int, String, Double)].collect()
    val groups = rows.groupBy { case (nk, seg, bal) =>
      (nk, seg, math.floor(bal / 1000).toLong) }.values.map(_.size.toLong).toSeq
    val nRows = groups.sum
    val nGroups = groups.size.toLong
    val expected = Seq(2L, 5L, 10L, 20L).map { k =>
      val small = groups.filter(_ < k)
      (k, nGroups, small.size.toLong, small.sum, 1000000L * small.sum / nRows)
    }
    val got = q("q206_k_anonymity")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.map(_._4) == got.map(_._4).sorted) // rows at risk monotone in k
  }

  // ----- q207 random walks -----------------------------------------------

  test("q207 matches an imperative walk; next-hop selection is map-side top-1") {
    val items = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect().toSeq.distinct
    val pairs: Set[(Long, Long)] = items.groupBy(_._1).values.flatMap { grp =>
      val ps: Seq[Long] = grp.map(_._2).distinct.sorted
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.toSet
    val adj = (pairs.toSeq ++ pairs.toSeq.map { case (a, b) => (b, a) })
      .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).sorted }
    val expected = adj.keys.toSeq.sorted.map { wid =>
      var cur = wid
      val steps = (1 to 3).map { t =>
        cur = adj(cur).minBy(nb => (md5hex(s"rw|$wid|$t|$nb"), nb))
        cur
      }
      (wid, steps(0), steps(1), steps(2),
        (Seq(wid) ++ steps).distinct.size.toLong)
    }
    val df = q("q207_random_walks")(spark, TestSpark.Sf)
    val got = df.as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // walks never die (edges are symmetric, so every node has a neighbor)
    assert(got.forall(_._5 >= 2L))
    // per-step selection is a rank-1 group limit: losers never leave the
    // map side of the window
    val plan = df.planText
    assert(plan.contains("WindowGroupLimit"))
    assert(!plan.contains("CartesianProduct"))
  }
}
