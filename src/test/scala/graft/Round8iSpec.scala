package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8i operators (q223–q224): imperative
  * recomputations, plus chi-square null calibration on a synthetic
  * balanced design (the rejection on driver data must coexist with a
  * clean null). */
class Round8iSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ----- q223 forecast backtest ------------------------------------------

  test("q223 matches an imperative backtest; all forecasters score the same days") {
    val raw = Tables.t(spark, TestSpark.Sf, "events")
    val tusCol = raw.schema("ts").dataType.typeName match {
      case "timestamp_ntz" => unix_micros($"ts".cast("timestamp"))
      case _ => unix_micros($"ts")
    }
    val daily = raw.select((tusCol / 86400000000L).cast("long").as("day"))
      .as[Long].collect().toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val d0 = daily.keys.min
    val evalDays = daily.keys.toSeq.sorted.filter { d =>
      d >= d0 + 7 && daily.contains(d - 1) && daily.contains(d - 7) &&
        (1 to 7).forall(o => daily.contains(d - o))
    }
    def mae(f: Long => Long): (Long, Long, Long) = {
      val errs = evalDays.map(d => math.abs(daily(d) - f(d)))
      (evalDays.size.toLong, errs.sum, 1000000L * errs.sum / evalDays.size)
    }
    val expected = Seq(
      ("ma7", mae(d => (1 to 7).map(o => daily(d - o)).sum / 7)),
      ("naive", mae(d => daily(d - 1))),
      ("snaive", mae(d => daily(d - 7))))
      .map { case (n, (ne, sae, m)) => (n, ne, sae, m) }
    val got = q("q223_forecast_backtest")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the comparison is fair: one shared eval window
    assert(got.map(_._2).distinct.size == 1)
  }

  // ----- q224 A/B analysis -----------------------------------------------

  test("q224 matches an imperative chi-square; a balanced design reads null") {
    val ev = Tables.t(spark, TestSpark.Sf, "events")
      .select($"user_id", $"event_type").as[(Long, String)].collect().toSeq
    val conv = ev.groupBy(_._1).view.mapValues(g =>
      if (g.count(_._2 == "purchase") >= 14) 1L else 0L).toMap
    val byV = conv.toSeq.groupBy(_._1 % 2)
    val a = byV(0L).count(_._2 == 1L).toLong
    val b = byV(0L).count(_._2 == 0L).toLong
    val c = byV(1L).count(_._2 == 1L).toLong
    val d = byV(1L).count(_._2 == 0L).toLong
    val n = a + b + c + d
    val chi2 = 1000000L * n * (a * d - b * c) * (a * d - b * c) /
      ((a + b) * (c + d) * (a + c) * (b + d))
    val expected = (n, a, a + b, c, c + d,
      1000000L * a / (a + b), 1000000L * c / (c + d),
      1000000L * c / (c + d) - 1000000L * a / (a + b),
      chi2, if (chi2 >= 3841000L) 1L else 0L)
    val got = q("q224_ab_analysis")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got == Seq(expected))
    // null calibration: a synthetic design where conversion is EXACTLY
    // balanced across the parity split must read chi2 = 0, not reject
    val dir = graft.TempScratch.fresh("graft_q224").toString
    val base = 1700000000L * 1000000L
    val rows = (0L until 40L).flatMap { u =>
      val nPurch = if (u % 4 < 2) 14 else 0 // u%4 is parity-balanced
      (0 until nPurch).map(i => (u * 100 + i, base + i, u, "purchase", 0.0, "{}")) :+
        ((u * 100 + 99, base, u, "view", 0.0, "{}"))
    }
    rows.toDF("event_id", "tus", "user_id", "event_type", "value", "props")
      .select($"event_id", timestamp_micros($"tus").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val nullRead = q("q224_ab_analysis")(spark, dir)
      .select($"chi2_micro", $"significant").as[(Long, Long)].collect().head
    assert(nullRead == ((0L, 0L)))
  }
}
