package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round-9 batch-11 operators (q349–q351): the
  * median CI replayed from a full sort, the half-life fit replayed
  * cohort-by-cohort with explicit eligibility, and readability
  * recomputed per document with the same deterministic proxies.
  */
class Round9kSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  test("q349 equals a full-sort order-statistic replay; CI brackets median") {
    val vs = Tables.t(spark, TestSpark.Sf, "orders")
      .select($"o_totalprice").as[Double].collect().toSeq
      .map(x => math.floor(x * 100 + 0.5).toLong).sorted
    val n = vs.size.toLong
    val lo = math.max(1L,
      math.floor((n - 1.96 * math.sqrt(n.toDouble)) / 2).toLong)
    val hi = math.min(n,
      math.ceil((n + 1.96 * math.sqrt(n.toDouble)) / 2).toLong + 1)
    val med = vs(((n + 1) / 2 - 1).toInt)
    val expected = (n, lo, hi, med, vs((lo - 1).toInt), vs((hi - 1).toInt))
    val got = q("q349_median_ci")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(got == expected)
    assert(got._5 <= got._4 && got._4 <= got._6) // CI brackets the median
  }

  test("q350 equals an imperative eligibility-honest retention fit") {
    val ud = Tables.t(spark, TestSpark.Sf, "events")
      .select($"user_id", datediff(to_date($"ts".cast("timestamp")),
        lit("1970-01-01").cast("date")).cast("long"))
      .as[(Long, Long)].collect().toSeq.distinct
    val first = ud.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val mx = ud.map(_._2).max
    val active = ud.toSet
    def lnm(x: Long) = math.floor(math.log(x.toDouble) * 1e6 + 0.5).toLong
    val pts = (1L to 14L).flatMap { k =>
      val elig = first.filter { case (_, fd) => fd + k <= mx }
      if (elig.isEmpty) None else {
        val nAct = elig.count { case (u, fd) => active((u, fd + k)) }.toLong
        val r = 1000000L * nAct / elig.size
        if (r > 0) Some((k, lnm(r))) else None
      }
    }
    val m = pts.size.toLong
    val sk = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sky = pts.map(p => p._1 * p._2).sum
    val skk = pts.map(p => p._1 * p._1).sum
    val b =
      if (m * skk - sk * sk == 0) None
      else Some((m * sky - sk * sy) / (m * skk - sk * sk))
    val hl = b.filter(_ < 0).map(bb => 693147180L / (-bb))
    val got = q("q350_retention_halflife")(spark, TestSpark.Sf)
      .as[(Long, Option[Long], Option[Long])].collect().head
    assert(got == ((m, b, hl)))
  }

  test("q351 equals an imperative readability replay") {
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val expected = docs.flatMap { case (id, t) =>
      val w = normText(t).split(" ").count(_.nonEmpty).toLong
      if (w == 0) None else {
        val sen = math.max(1L, "[.!?]+".r.findAllIn(t).size.toLong)
        val syl = math.max(1L,
          "[aeiou]+".r.findAllIn(t.toLowerCase).size.toLong)
        val fl = 206835L - 1015L * (1000L * w / sen) / 1000L -
          84600L * (1000L * syl / w) / 1000L
        Some((id, w, sen, syl, fl, if (fl >= 30000L) 1L else 0L))
      }
    }.sortBy(_._1)
    val got = q("q351_readability")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the gate discriminates on this corpus (both classes non-empty
    // OR all one class — just pin determinism of the verdict column)
    assert(got.forall(r => r._6 == 0L || r._6 == 1L))
  }
}
