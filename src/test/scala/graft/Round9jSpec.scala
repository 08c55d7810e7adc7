package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round-9 batch-10 operators (q346–q348): the
  * runs test replayed day-by-day against the exchangeability law, the
  * session-count identity n_users + #gaps-over checked per threshold,
  * and churn recomputed from explicit daily top-10 sets.
  */
class Round9jSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("q346 equals an imperative runs-test replay") {
    val daily = Tables.t(spark, TestSpark.Sf, "events")
      .select(datediff(to_date($"ts".cast("timestamp")),
        lit("1970-01-01").cast("date")).cast("long").as("epd"),
        ($"event_type" === "error").cast("long").as("e"))
      .as[(Long, Long)].collect().toSeq
      .groupBy(_._1).view.mapValues(g =>
        1000000L * g.map(_._2).sum / g.size).toSeq.sortBy(_._1)
    val vs = daily.map(_._2).sorted
    val med = vs(((vs.size + 1) / 2 - 1))
    val signs = daily.filter(_._2 != med).map(d => d._2 > med)
    val n = signs.size.toLong
    val n1 = signs.count(identity).toLong; val n2 = n - n1
    val runs = 1L + signs.zip(signs.drop(1)).count(p => p._1 != p._2)
    val z =
      if (n1 == 0 || n2 == 0) None
      else Some(math.floor(
        (runs.toDouble - 1 - 2.0 * n1 * n2 / n) * 1000 /
          math.sqrt(2.0 * n1 * n2 * (2 * n1 * n2 - n) /
            (n.toDouble * n * (n - 1))) + 0.5).toLong)
    val rej = z.map(v => if (math.abs(v) >= 1960L) 1L else 0L).getOrElse(0L)
    val got = q("q346_runs_test")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Option[Long], Long)].collect().head
    assert(got == ((n, n1, n2, runs, z, rej)))
    // runs are bounded by the sign counts
    assert(runs >= 1 && runs <= n)
  }

  test("q347 equals the session-count identity per threshold") {
    val evs = Tables.t(spark, TestSpark.Sf, "events")
      .select($"user_id", unix_micros($"ts".cast("timestamp")), $"event_id")
      .as[(Long, Long, Long)].collect().toSeq
    val nu = evs.map(_._1).distinct.size.toLong
    val ne = evs.size.toLong
    val gaps = evs.groupBy(_._1).values.toSeq.flatMap { g =>
      val ts = g.sortBy(e => (e._2, e._3)).map(_._2)
      ts.zip(ts.drop(1)).map(p => p._2 - p._1)
    }
    val ng = gaps.size.toLong
    val expected = Seq(300L, 900L, 1800L, 3600L).map { t =>
      val o = gaps.count(_ > t * 1000000).toLong
      (t, nu + o, 1000000L * o / ng, 1000000L * ne / (nu + o))
    }
    val got = q("q347_session_gap_sensitivity")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // session counts are monotone non-increasing in the gap threshold
    assert(got.sliding(2).forall(w => w.head._2 >= w.last._2))
  }

  test("q348 equals an explicit daily top-10 overlap replay") {
    val rev = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select(datediff(to_date($"l_shipdate"),
        lit("1970-01-01").cast("date")).cast("long"),
        $"l_partkey",
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
      .as[(Long, Long, Long)].collect().toSeq
      .groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._3).sum).toSeq
    val topByDay = rev.groupBy(_._1._1).view.mapValues(g =>
      g.map { case ((_, pk), v) => (pk, v) }
        .sortBy(p => (-p._2, p._1)).take(10).map(_._1).toSet).toMap
    val expected = topByDay.keys.toSeq.sorted.flatMap { d =>
      topByDay.get(d - 1).map { prev =>
        val cur = topByDay(d)
        val c = (cur & prev).size.toLong
        (d, cur.size.toLong, prev.size.toLong, c,
          1000000L - 1000000L * c / math.min(cur.size, prev.size))
      }
    }
    val got = q("q348_topk_churn")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.forall(r => r._5 >= 0L && r._5 <= 1000000L))
  }
}
