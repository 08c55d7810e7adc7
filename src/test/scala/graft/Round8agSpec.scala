package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8ag operators (q315–q317): the Turing
  * mass recomputed per source, the tank estimator replayed over the
  * same deterministic sample, and the sliding distinct window replayed
  * day-by-day (the non-decomposability of COUNT DISTINCT being exactly
  * why the imperative replay matters).
  */
class Round8agSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  test("q315 equals an imperative per-source Turing estimate") {
    val rows = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"text").as[(String, String)].collect().toSeq
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, g) =>
      val toks = g.flatMap(r => normText(r._2).split(" ").filter(_.nonEmpty))
      val freq = toks.groupBy(identity).view.mapValues(_.size.toLong)
      val n = toks.size.toLong
      val f1 = freq.values.count(_ == 1L).toLong
      (src, n, freq.size.toLong, f1, 1000000L * f1 / n)
    }
    val got = q("q315_good_turing_mass")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.forall(r => r._5 >= 0 && r._5 <= 1000000))
  }

  test("q316 replays the tank estimator over the same md5 sample") {
    val ids = Tables.t(spark, TestSpark.Sf, "orders")
      .select($"o_orderkey").as[Long].collect().toSeq
    val samp = ids.filter(id => h32(s"gt|$id") % 10 == 0)
    val k = samp.size.toLong; val m = samp.max
    val est = m + m / k - 1
    val err = math.floor((est - ids.max).toDouble / ids.max.toDouble
      * 1000000 + 0.5).toLong
    val got = q("q316_german_tank")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((ids.size.toLong, ids.max, k, m, est, err)))
    assert(est >= m) // the estimate never undercuts its own sample max
  }

  test("q317 equals a day-by-day distinct replay over full windows") {
    val du = Tables.t(spark, TestSpark.Sf, "events")
      .select(datediff(to_date($"ts".cast("timestamp")),
        lit("1970-01-01").cast("date")).cast("long").as("epd"), $"user_id")
      .as[(Long, Long)].collect().toSeq.distinct
    val mn = du.map(_._1).min; val mx = du.map(_._1).max
    // Windows whose whole 7-day span has no day-user pairs produce no
    // row in either engine (no grid spine), so the replay only expects
    // windows with at least one contributing pair — a gap in the
    // events day grid must not fail the spec when the engines agree.
    val expected = (mn + 6 to mx).flatMap { end =>
      val w = du.filter(p => p._1 >= end - 6 && p._1 <= end)
        .map(_._2).distinct.size.toLong
      if (w > 0) Some((end, w)) else None
    }
    val got = q("q317_sliding_distinct_users")(spark, TestSpark.Sf)
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == expected)
    // WAU dominates any single day's DAU inside its window
    val dau = du.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong)
    assert(got.forall { case (end, w) =>
      (end - 6 to end).forall(d => w >= dau.getOrElse(d, 0L)) })
  }
}
