package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round-9 batch-8 operators (q340–q341): PPR
  * replayed with an imperative 3-round push, and whitening statistics
  * recomputed dim-by-dim (including the exact-zero centering
  * identity).
  */
class Round9hSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  test("q340 equals an imperative 3-round PPR push; seeds dominate") {
    val li = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_partkey", $"l_suppkey").as[(Long, Long)].collect().toSeq
    val e0 = li.map { case (p, s) => (p * 2, s * 2 + 1) }.distinct
    val e = e0 ++ e0.map(_.swap)
    val deg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = deg.keys.toSeq
    val isSeed = nodes.map(n => n -> (n % 2 == 0 && (n / 2) % 97 == 0)).toMap
    assert(isSeed.values.exists(identity)) // the seed rule fires at this SF
    var r = nodes.map(n => n -> (if (isSeed(n)) 1000000L else 0L)).toMap
    for (_ <- 1 to 3) {
      val pushed = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      e.foreach { case (u, v) =>
        if (r.getOrElse(u, 0L) > 0) pushed(v) += r(u) / deg(u)
      }
      r = nodes.map(n => n ->
        ((if (isSeed(n)) 150000L else 0L) + 85 * pushed(n) / 100)).toMap
    }
    val expected = r.toSeq.filter(_._2 > 0)
      .map { case (n, v) =>
        (n, if (n % 2 == 0) "part" else "supplier",
          if (isSeed(n)) 1L else 0L, v)
      }
      .sortBy(x => (-x._4, x._1)).take(32)
    val got = q("q340_personalized_pagerank")(spark, TestSpark.Sf)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == expected)
    // locality: every ranked node is a seed or within 3 hops of one —
    // guaranteed by construction (mass only flows along edges)
    assert(got.nonEmpty)
  }

  test("q341 equals a dim-by-dim replay; centering residual is exactly 0") {
    val vecs = Tables.t(spark, TestSpark.Sf, "embeddings")
      .select($"embedding").as[Seq[Float]].collect().toSeq
      .map(_.map(x => math.round(x.toDouble * 10000)))
    val d = vecs.head.size
    val expected = (1 to d).map { j =>
      val vs = vecs.map(_(j - 1))
      val n = vs.size.toLong; val sv = vs.sum
      val svv = vs.map(v => BigInt(v) * v).sum
      val sigma = math.floor(
        math.sqrt((BigInt(n) * svv - BigInt(sv) * sv).toDouble) / n + 0.5)
        .toLong
      val maxZ =
        if (sigma == 0) None
        else Some(vs.map(v => math.abs(v * n - sv) * 1000 / (n * sigma)).max)
      (j.toLong, n, sv / n, sigma, 0L, maxZ)
    }
    val got = q("q341_whitening_stats")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().toSeq
    assert(got == expected)
    assert(got.forall(_._5 == 0L)) // Σ(v·n − sv) ≡ 0, the centering identity
  }
}
