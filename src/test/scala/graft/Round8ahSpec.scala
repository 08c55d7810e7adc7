package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8ah operators (q318–q320): the jackknife
  * replayed source-by-source, the SPRT walk replayed day-by-day with
  * its verdict bounds, and the Wilson intervals recomputed per source
  * with the containment contract (an interval always contains its own
  * point rate's center).
  */
class Round8ahSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def lnm(x: Double): Long = math.floor(math.log(x) * 1e6 + 0.5).toLong

  test("q318 equals a source-by-source jackknife replay") {
    val per = Tables.t(spark, TestSpark.Sf, "documents")
      .groupBy($"source").agg(count(lit(1)).as("ns"), sum($"n_chars").as("ss"))
      .as[(String, Long, Long)].collect().toSeq
    val g = per.size.toLong
    val n = per.map(_._2).sum; val st = per.map(_._3).sum
    val mu = 1000000L * st / n
    val mus = per.map { case (src, ns, ss) =>
      (src, 1000000L * (st - ss) / (n - ns)) }
    val md = mus.map(_._2).sum / g
    val sd2 = mus.map(m => (m._2 - md) * (m._2 - md)).sum
    val se = math.floor(math.sqrt(((g - 1) * sd2).toDouble / g.toDouble)
      + 0.5).toLong
    val top = mus.minBy(m => (-(m._2 - mu).abs, m._1))
    val got = q("q318_jackknife_se")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got == Seq((g, mu, se, (top._2 - mu).abs, top._1)))
    assert(se >= 0)
  }

  test("q319 equals a day-by-day SPRT replay; verdicts obey the bounds") {
    val daily = Tables.t(spark, TestSpark.Sf, "events")
      .select(datediff(to_date($"ts".cast("timestamp")),
        lit("1970-01-01").cast("date")).cast("long").as("epd"),
        when($"event_type" === "error", 1L).otherwise(0L).as("e"))
      .groupBy($"epd").agg(count(lit(1)).as("nd"), sum($"e").as("ed"))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val le = lnm(21) - lnm(19); val lq = lnm(79) - lnm(81)
    val bound = lnm(19)
    var acc = 0L
    val expected = daily.map { case (d, nd, ed) =>
      acc += ed * le + (nd - ed) * lq
      val v = if (acc >= bound) "accept_h1"
        else if (acc <= -bound) "accept_h0" else "continue"
      (d, nd, ed, acc, v)
    }
    val got = q("q319_sprt_monitor")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, String)].collect().toSeq.sortBy(_._1)
    assert(got == expected)
    assert(got.forall { case (_, _, _, l, v) =>
      (v == "accept_h1") == (l >= bound) &&
        (v == "accept_h0") == (l <= -bound) })
  }

  test("q320 equals a per-source Wilson replay; intervals contain their centers") {
    val per = Tables.t(spark, TestSpark.Sf, "documents")
      .groupBy($"source").agg(count(lit(1)).as("n"),
        sum(($"n_chars" >= 250).cast("long")).as("k"))
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    val nt = per.map(_._2).sum; val kt = per.map(_._3).sum
    val corpus = 1000000L * kt / nt
    val expected = per.map { case (src, n, k) =>
      val rate = 1000000L * k / n
      val center = 1000000L * (50 * k + 96) / (50 * n + 192)
      val hw = math.floor(1960000.0
        * math.sqrt((k * (n - k)).toDouble / n.toDouble + 0.96)
        / (n.toDouble + 3.84) + 0.5).toLong
      val sig = if (corpus < center - hw || corpus > center + hw) 1L else 0L
      (src, n, k, rate, center, hw, sig)
    }
    val got = q("q320_wilson_rate_audit")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // Wilson shrinks toward 1/2: the center sits between rate and 500000
    assert(got.forall { case (_, _, _, r, c, _, _) =>
      (c - r).sign * (500000 - r).sign >= 0 })
  }
}
