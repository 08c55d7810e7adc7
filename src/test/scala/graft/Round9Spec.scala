package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EvalMetricQueries
import graft.TestSpark.q

/** Behavior pins for the Round-9 batch-1 operator (q321, the
  * Adamic–Adar hub-cap dial) and the dial's defining equality: a cap
  * at or above the maximum center degree reproduces q296's exact
  * result bit-for-bit, because the cap filter is then a no-op on the
  * weight table and everything downstream is the identical plan.
  */
class Round9Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Imperative AA scorer with a center-degree cap; cap = Long.MaxValue
    * is the exact form (mirrors Round8zSpec's q296 recomputation).
    */
  private def aaScores(cap: Long): (Set[(Long, Long)], Seq[(Long, Long, Long, Long)]) = {
    val items = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect().toSet
    val edges = items.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).toSeq.distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
    }.toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    val acc = collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    adj.foreach { case (_, nbrs) =>
      val deg = nbrs.size.toLong
      if (deg >= 2 && deg <= cap) {
        val wm = 1000000000000L /
          math.floor(math.log(deg.toDouble) * 1e6 + 0.5).toLong
        for (i <- nbrs.indices; j <- i + 1 until nbrs.size) {
          val k = (nbrs(i), nbrs(j))
          val (c, a) = acc.getOrElse(k, (0L, 0L))
          acc(k) = (c + 1, a + wm)
        }
      }
    }
    val top = acc.toSeq.filterNot { case (k, _) => edges.contains(k) }
      .map { case ((a, b), (c, aa)) => (a, b, c, aa) }
      .sortBy(r => (-r._4, r._1, r._2)).take(20)
    (edges, top)
  }

  private def maxDeg: Long = {
    val items = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect().toSet
    items.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).toSeq.distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
    }.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).values.map(_.size.toLong).max
  }

  test("q321 cap >= max-degree reproduces q296's exact result bit-for-bit") {
    val d = maxDeg
    assert(d > EvalMetricQueries.AaCap) // the dial genuinely bites at this SF
    val exact = EvalMetricQueries.adamicAdar(spark, TestSpark.Sf, Long.MaxValue)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val atMax = EvalMetricQueries.adamicAdar(spark, TestSpark.Sf, d)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(atMax == exact)
  }

  test("q321 matches an imperative capped AA scorer; scores lower-bound exact") {
    val (edges, expected) = aaScores(EvalMetricQueries.AaCap)
    val got = q("q321_adamic_adar_capped")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.forall(r => !edges.contains((r._1, r._2)) && r._1 < r._2))
    // documented bias direction: dropping hub centers only removes
    // wedge mass, so every retained (pair, score) is a lower bound on
    // the exact AA score of the same pair
    val (_, exactAll) = aaScores(Long.MaxValue)
    val exactMap = exactAll.map(r => (r._1, r._2) -> r._4).toMap
    // (top-20 of exact may not contain every capped pair; recompute the
    // full exact map imperatively for the containment check)
    val itemsFull = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect().toSet
    val fullEdges: Set[(Long, Long)] = itemsFull.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).toSeq.distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
    }.toSet
    val adj = fullEdges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    val full = collection.mutable.Map.empty[(Long, Long), Long]
    adj.foreach { case (_, nbrs) =>
      val deg = nbrs.size.toLong
      if (deg >= 2) {
        val wm = 1000000000000L /
          math.floor(math.log(deg.toDouble) * 1e6 + 0.5).toLong
        for (i <- nbrs.indices; j <- i + 1 until nbrs.size)
          full((nbrs(i), nbrs(j))) = full.getOrElse((nbrs(i), nbrs(j)), 0L) + wm
      }
    }
    assert(got.forall(r => r._4 <= full((r._1, r._2))))
    assert(exactMap.nonEmpty) // the exact top-20 exists for comparison
  }
}
