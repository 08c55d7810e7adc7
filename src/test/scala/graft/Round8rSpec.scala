package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8r operators (q263–q266): imperative
  * recomputation of each result plus the defining invariants (replay
  * match rates near 1/|actions| under uniform logging, DiD algebra,
  * KM monotonicity and its censoring-vs-dropping bias, repair
  * accuracy dominated by singleton-order customers).
  */
class Round8rSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  // ----- q263 bandit replay ------------------------------------------------

  test("q263 matches an imperative replay; match rates sit near 1/|actions|") {
    val ev = Tables.t(spark, TestSpark.Sf, "events")
      .select($"user_id", $"event_type", floor($"value" * 1e6 + 0.5).cast("long"))
      .as[(Long, String, Long)].collect().toSeq
    val actions = ev.map(_._2).distinct.sorted
    // p1 tie-break: desc score then ASC action — replicate exactly
    val p1x = ev.map(_._1).distinct.map { u =>
      u -> actions.sortBy(a => (-h32("p1|" + u + "|" + a), a)).head
    }.toMap
    val p2 = actions.minBy { a =>
      val rs = ev.filter(_._2 == a).map(_._3)
      (-(rs.sum / rs.size), a)
    }
    val n = ev.size.toLong
    def row(nm: String, matched: Seq[(Long, String, Long)]) =
      (nm, n, matched.size.toLong, 1000000L * matched.size / n,
        matched.map(_._3).sum / matched.size)
    val expected = Seq(
      row("logged", ev),
      row("p1_hash", ev.filter(e => p1x(e._1) == e._2)),
      row("p2_best_global", ev.filter(_._2 == p2))).sortBy(_._1)
    val got = q("q263_bandit_replay")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // uniform logging ⇒ any fixed policy matches ≈ 1/|actions| of events
    val k = actions.size.toLong
    got.filter(_._1 != "logged").foreach { r =>
      assert(math.abs(r._4 - 1000000L / k) < 1000000L / k / 2) }
  }

  // ----- q264 difference-in-differences ------------------------------------

  test("q264 matches an imperative DiD; the algebra decomposes exactly") {
    val treated = Tables.t(spark, TestSpark.Sf, "customer")
      .select($"c_custkey", $"c_nationkey" % 2 === 0)
      .as[(Long, Boolean)].collect().toMap
    val o = Tables.t(spark, TestSpark.Sf, "orders")
      .select($"o_custkey", date_format($"o_orderdate", "yyyy-MM-dd"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"))
      .as[(Long, String, Long)].collect().toSeq
      .map(r => (treated(r._1), r._2 >= "1999-01-01", r._3))
    def cell(t: Boolean, p: Boolean) = {
      val rs = o.filter(r => r._1 == t && r._2 == p).map(_._3)
      rs.sum / rs.size
    }
    val (tPre, tPost, cPre, cPost) = (cell(true, false), cell(true, true),
      cell(false, false), cell(false, true))
    val expected = (o.size.toLong, tPre, tPost, cPre, cPost,
      (tPost - tPre) - (cPost - cPre), tPre - cPre)
    val got = q("q264_diff_in_diff")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().head
    assert(got == expected)
    // decomposition: did = (post-gap) − (pre-gap)
    assert(got._6 == (got._3 - got._5) - (got._2 - got._4))
  }

  // ----- q265 Kaplan–Meier -------------------------------------------------

  test("q265 matches an imperative product-limit curve; ln S is nonincreasing") {
    val horizon = java.time.LocalDate.parse("2001-08-01")
    val lives = Tables.t(spark, TestSpark.Sf, "orders")
      .groupBy($"o_custkey")
      .agg(date_format(min($"o_orderdate"), "yyyy-MM-dd").as("f"),
        date_format(max($"o_orderdate"), "yyyy-MM-dd").as("l"))
      .as[(Long, String, String)].collect().toSeq
      .map { case (_, f, l) =>
        val fd = java.time.LocalDate.parse(f); val ld = java.time.LocalDate.parse(l)
        val t = java.time.temporal.ChronoUnit.DAYS.between(fd, ld)
        val death = java.time.temporal.ChronoUnit.DAYS.between(ld, horizon) > 180
        (t, death)
      }
    val total = lives.size.toLong
    val grid = lives.groupBy(_._1).toSeq.sortBy(_._1)
    var before = 0L; var lnS = 0L
    val expected = grid.flatMap { case (t, g) =>
      val d = g.count(_._2).toLong
      val nRisk = total - before
      before += g.size
      if (d > 0 && d < nRisk) {
        lnS += math.floor(math.log(1.0 - d.toDouble / nRisk) * 1e6 + 0.5).toLong
        Some((t, d, nRisk, lnS))
      } else None
    }
    val got = q("q265_kaplan_meier")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // survival in log space never increases, and risk sets shrink
    assert(got.sliding(2).forall { case Seq(a, b) => b._4 <= a._4 && b._3 <= a._3
      case _ => true })
    // censoring matters: dropping censored customers would inflate deaths
    assert(lives.exists(!_._2))
  }

  // ----- q266 FD repair ----------------------------------------------------

  test("q266 matches an imperative majority repair; failures come from tiny groups") {
    val seg = Tables.t(spark, TestSpark.Sf, "customer")
      .select($"c_custkey", $"c_mktsegment").as[(Long, String)].collect().toMap
    val feed = Tables.t(spark, TestSpark.Sf, "orders")
      .select($"o_orderkey", $"o_custkey").as[(Long, Long)].collect().toSeq
      .map { case (ok, ck) =>
        val truth = seg(ck)
        (ck, if (ok % 17 == 3) "CORRUPTED" else truth, truth)
      }
    val repair = feed.groupBy(_._1).view.mapValues { rs =>
      rs.groupBy(_._2).toSeq.minBy { case (sg, g) => (-g.size, sg) }._1
    }.toMap
    val expected = feed.groupBy(_._3).toSeq.map { case (truth, rs) =>
      val dirty = rs.filter(_._2 == "CORRUPTED")
      val ok = dirty.count(r => repair(r._1) == truth).toLong
      (truth, rs.size.toLong, dirty.size.toLong, ok,
        1000000L * ok / dirty.size)
    }.sortBy(_._1)
    val got = q("q266_fd_repair")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // every repair failure is a customer whose CORRUPTED votes reach a
    // majority — possible only in small order groups
    val failures = feed.filter(r => r._2 == "CORRUPTED" && repair(r._1) != r._3)
    failures.foreach { f =>
      val g = feed.filter(_._1 == f._1)
      assert(2 * g.count(_._2 == "CORRUPTED") >= g.size)
    }
  }
}
