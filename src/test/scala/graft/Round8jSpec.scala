package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8j operators (q225–q227). q225's pin is
  * the strongest kind: the sort-based window form checked against the
  * naive O(n²) dominance DEFINITION of a skyline. */
class Round8jSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  // ----- q225 skyline -----------------------------------------------------

  test("q225's window form equals the O(n^2) dominance definition") {
    val parts = Tables.t(spark, TestSpark.Sf, "part")
      .select($"p_partkey", $"p_size".cast("long"), $"p_retailprice")
      .as[(Long, Long, Double)].collect().toSeq
      .map { case (k, sz, pr) =>
        (k, math.floor(pr * 100 + 0.5).toLong, sz) }
    // definition: on the skyline iff NO other part is (price <=, size >=)
    // with at least one strict
    val skyline = parts.filter { case (k, p, s) =>
      !parts.exists { case (k2, p2, s2) =>
        k2 != k && p2 <= p && s2 >= s && (p2 < p || s2 > s) }
    }.sortBy(x => (x._2, x._1))
    val expected = skyline.map { case (k, p, s) =>
      val cheaper = parts.filter(_._2 < p)
      (k, p, s, if (cheaper.isEmpty) -1L else cheaper.map(_._3).max)
    }
    val got = q("q225_skyline")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // frontier property: ordered by price, sizes strictly increase
    assert(got.map(_._3).sliding(2).forall {
      case Seq(a, b) => b > a
      case _ => true
    })
  }

  // ----- q226 association rules -------------------------------------------

  test("q226 matches an imperative rule miner; lift is symmetric, confidence is not") {
    val items = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect().toSeq.distinct
    val nb = items.map(_._1).distinct.size.toLong
    val ic = items.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val byOk = items.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toSeq
    val pairCnt = byOk.flatMap { case (_, ps) =>
      for (a <- ps; b <- ps if a != b) yield (a, b)
    }.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 3).toSeq
    val rules = pairCnt.map { case ((a, b), nab) =>
      (a, b, nab, 1000000L * nab / ic(a), 1000000L * nb * nab / (ic(a) * ic(b))) }
      .sortBy { case (a, b, nab, _, lift) => (-lift, -nab, a, b) }.take(20)
    val got = q("q226_association_rules")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == rules)
    // lift(a→b) == lift(b→a) whenever both survive the support floor
    val liftMap = got.map(r => (r._1, r._2) -> r._5).toMap
    assert(liftMap.forall { case ((a, b), l) =>
      liftMap.get((b, a)).forall(_ == l) })
  }

  // ----- q227 LOO source valuation ----------------------------------------

  test("q227 matches an imperative LOO table; deltas reconcile with the mean") {
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"source", $"text").as[(Long, String, String)].collect()
    val scored = docs.map { case (_, src, text) =>
      (src, normText(text).split(" ").map { tok =>
        h32(s"w|${h32(tok) % 1024}") % 2001 - 1000 }.sum)
    }
    val per = scored.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, g) =>
      (src, g.size.toLong, g.map(_._2).sum) }
    val n = per.map(_._2).sum
    val tl = per.map(_._3).sum
    val expected = per.map { case (src, ns, sl) =>
      val all = Math.floorDiv(tl, n)
      val loo = Math.floorDiv(tl - sl, n - ns)
      (src, ns, Math.floorDiv(sl, ns), all, loo, all - loo)
    }
    val got = q("q227_loo_source_value")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // a source scoring above the corpus mean must have a positive delta
    assert(got.forall(r => (r._3 > r._4) == (r._6 > 0) || r._6 == 0))
  }
}
