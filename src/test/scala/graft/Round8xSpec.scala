package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8x operators (q287–q290): imperative
  * recomputation of each result plus the defining invariants (ACF
  * bounded by ±1, the one-step logistic sign matches the raw group
  * means, ESS ≤ n with equality iff weights are constant, cold-start
  * coverage is the complement of the fallback set).
  */
class Round8xSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private def tokCount(t: String): Long = {
    val nt = normText(t)
    if (nt.isEmpty) 0L else nt.split(" ").count(_.nonEmpty).toLong
  }

  // ----- q287 ACF -----------------------------------------------------------

  test("q287 matches an imperative ACF; every lag bounded by +-1e6") {
    val daily = Tables.t(spark, TestSpark.Sf, "events")
      .select(datediff(to_date($"ts".cast("timestamp")),
        lit("1970-01-01").cast("date")).cast("long"),
        floor($"value" + 0.5).cast("long"))
      .as[(Long, Long)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    val n = daily.size.toLong
    val sv = daily.map(_._2).sum
    val cen = daily.map { case (epd, dv) => (epd, n * dv - sv) }.toMap
    val den = cen.values.map(c => BigInt(c) * c).sum
    val expected = (1L to 7L).map { lag =>
      val ps = cen.toSeq.flatMap { case (epd, c1) =>
        cen.get(epd + lag).map(c2 => BigInt(c1) * c2) }
      (lag, ps.size.toLong, (BigInt(1000000) * ps.sum / den).toLong)
    }
    val got = q("q287_acf_daily")(spark, TestSpark.Sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.forall(r => r._3.abs <= 1000000L))
  }

  // ----- q288 one-step logistic ---------------------------------------------

  test("q288 matches an imperative Fisher step; sign matches the group means") {
    val d = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"lang", $"text").as[(String, String)].collect().toSeq
      .map { case (l, t) => (if (l == "en") 1L else 0L, tokCount(t)) }
    val n = d.size.toLong
    val sx = d.map(_._2).sum
    val sxx = d.map(r => BigInt(r._2) * r._2).sum
    val sy = d.map(_._1).sum
    val sxy = d.filter(_._1 == 1L).map(r => BigInt(r._2)).sum
    val det = BigInt(n) * sxx - BigInt(sx) * sx
    val a2 = BigInt(2 * sy - n)
    val b2 = 2 * sxy - sx
    val b0 = (BigInt(2000000000L) * (sxx * a2 - sx * b2) / det).toLong
    val b1 = (BigInt(2000000000L) * (n * b2 - sx * a2) / det).toLong
    val expected = (n, sx, sy, sxx.toLong, sxy.toLong, b0, b1)
    val got = q("q288_logistic_one_step")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().head
    assert(got == expected)
    // slope sign agrees with the raw difference of group mean lengths
    val mPos = d.filter(_._1 == 1L).map(_._2.toDouble).sum / sy
    val mNeg = d.filter(_._1 == 0L).map(_._2.toDouble).sum / (n - sy)
    if (math.abs(mPos - mNeg) > 1e-9)
      assert((b1 > 0) == (mPos > mNeg))
  }

  // ----- q289 ESS -----------------------------------------------------------

  test("q289 matches an imperative Kish ESS; ESS <= n with constant-weight equality") {
    val w = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"text").as[(String, String)].collect().toSeq
      .map { case (s, t) => (s, tokCount(t) + 1L) }
    def ess(g: Seq[Long]): (Long, Long, Long) = {
      val n = g.size.toLong
      val sw = g.sum
      val sw2 = g.map(x => BigInt(x) * x).sum
      val e = (BigInt(sw) * sw / sw2).toLong
      (n, e, (BigInt(1000000) * (BigInt(sw) * sw / sw2) / n).toLong)
    }
    val per = w.groupBy(_._1).toSeq.map { case (src, g) =>
      val (n, e, r) = ess(g.map(_._2)); (src, n, e, r) }
    val (no, eo, ro) = ess(w.map(_._2))
    val expected = (per :+ (("__overall__", no, eo, ro))).sortBy(_._1)
    val got = q("q289_effective_sample_size")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.forall(r => r._3 <= r._2 && r._4 <= 1000000L))
    // constant weights give ESS = n exactly
    val (cn, ce, cr) = ess(Seq(5L, 5L, 5L, 5L))
    assert(ce == cn && cr == 1000000L)
  }

  // ----- q290 cold-start coverage -------------------------------------------

  test("q290 matches an imperative coverage table; bands partition the items") {
    val items = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect().toSet
    val sup = items.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val pairs = items.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).toSeq.distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
    }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nb = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    pairs.foreach { case ((a, b), cab) =>
      val cos = 1000000.0 * cab / math.sqrt(sup(a).toDouble * sup(b).toDouble)
      if (cos >= 50000.0) { nb(a) += 1; nb(b) += 1 }
    }
    val expected = sup.toSeq.map { case (pk, c) =>
      val band = if (c >= 32) "c_head" else if (c >= 25) "b_mid" else "a_tail"
      (band, nb(pk), c)
    }.groupBy(_._1).toSeq.map { case (band, g) =>
      val covered = g.count(_._2 >= 3).toLong
      (band, g.size.toLong, covered, 1000000L * covered / g.size,
        1000000L * g.map(_._2).sum / g.size)
    }.sortBy(_._1)
    val got = q("q290_cf_cold_start")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // bands partition all items
    assert(got.map(_._2).sum == sup.size.toLong)
    assert(got.forall(r => r._3 <= r._2))
  }
}
