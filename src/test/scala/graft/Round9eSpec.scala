package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.StatTestQueries
import graft.TestSpark.q

/** Behavior pins for the Round-9 batch-5 operators (q331–q332): the
  * sampled partition plan replayed rate-by-rate, and the log-rank
  * test recomputed user-by-user with explicit censoring.
  */
class Round9eSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  test("q331 equals an imperative sampled-partitioner replay") {
    val rows = Tables.t(spark, TestSpark.Sf, "orders")
      .select($"o_orderkey", $"o_totalprice").as[(Long, Double)]
      .collect().toSeq
      .map { case (k, x) => (k, math.floor(x * 100 + 0.5).toLong) }
    val n = rows.size.toLong
    def h(k: Long): Long = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rp|$k".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md5.take(8), 16) % 100
    }
    val gridAll = rows.groupBy(_._2).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    val expected = Seq(1L, 5L, 10L, 100L).map { r =>
      val samp = rows.filter(rc => h(rc._1) < r).map(_._2)
      val ns = samp.size.toLong
      val sgrid = samp.groupBy(identity).view.mapValues(_.size.toLong)
        .toSeq.sortBy(_._1)
      var cum = 0L
      val bnds = sgrid.flatMap { case (v, cnt) =>
        val plo = math.min(31L, 32 * cum / ns); cum += cnt
        val phi = math.min(31L, 32 * cum / ns)
        if (phi > plo) Seq(v) ++ Seq.fill((phi - plo - 1).toInt)(v) else Nil
      } // boundary value repeated once per p it serves
      val parts = gridAll.groupBy { case (v, _) =>
        bnds.count(_ <= v) }.view.mapValues(_.map(_._2).sum)
      val maxP = parts.values.max
      (r, ns, parts.size.toLong, maxP, 1000000L * maxP * 32 / n - 1000000L)
    }
    val got = q("q331_sampled_range_partitioner")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the exact-boundary floor: sampling can only match or worsen the
    // worst partition at this corpus (spec-observed, replay-backed)
    val byR = got.map(r => r._1 -> r._5).toMap
    assert(byR(100L) <= byR(1L) && byR(100L) <= byR(5L)
      && byR(100L) <= byR(10L))
    assert(got.forall(_._5 >= 0L))
  }

  test("q332 equals an imperative log-rank replay with explicit censoring") {
    val evs = Tables.t(spark, TestSpark.Sf, "events")
      .select($"user_id", $"event_type",
        unix_micros($"ts".cast("timestamp")))
      .as[(Long, String, Long)].collect().toSeq
    val th = evs.map(_._3).max
    val day = 86400000000L
    val perUser = evs.groupBy(_._1).values.toSeq.flatMap { g =>
      g.filter(_._2 == "signup").map(_._3).minOption.map { t1 =>
        val tp = g.filter(e => e._2 == "purchase" && e._3 > t1)
          .map(_._3).minOption
        val (isEv, d) = tp match {
          case Some(t) => (1L, (t - t1) / day)
          case None => (0L, (th - t1) / day)
        }
        (t1 / day, isEv, d)
      }
    }
    val mid = (perUser.map(_._1).min + perUser.map(_._1).max) / 2
    val withG = perUser.map { case (sd, e, d) =>
      (if (sd <= mid) "early" else "late", e, d) }
    val nE = withG.count(_._1 == "early").toLong
    val nL = withG.count(_._1 == "late").toLong
    val days = withG.map(_._3).distinct.sorted
    var obsA = 0L; var expA = 0L; var v = BigInt(0)
    days.foreach { d =>
      val da = withG.count(r => r._1 == "early" && r._2 == 1L && r._3 == d).toLong
      val db = withG.count(r => r._1 == "late" && r._2 == 1L && r._3 == d).toLong
      val na = withG.count(r => r._1 == "early" && r._3 >= d).toLong
      val nb = withG.count(r => r._1 == "late" && r._3 >= d).toLong
      val dd = da + db; val n = na + nb
      if (dd > 0) {
        obsA += da * 1000000L
        expA += 1000000L * dd * na / n
        if (n > 1)
          v += BigInt(1000000000000L) * dd * (n - dd) * na * nb /
            (BigInt(n) * n * (n - 1))
      }
    }
    val z =
      if (v == 0) None
      else Some(math.floor((obsA - expA).toDouble * 1000 /
        math.sqrt(v.toDouble) + 0.5).toLong)
    val rej = z.map(x => if (math.abs(x) >= 1960L) 1L else 0L).getOrElse(0L)
    val got = q("q332_logrank_test")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Option[Long], Long)].collect().head
    assert(got == ((nE, nL, obsA, expA, v.toLong, z, rej)))
    // both groups are populated by the midpoint split
    assert(nE > 0 && nL > 0)
  }

  test("q332 expected-events term stays exact past the int64 product boundary") {
    // 1000000·dd·na wraps int64 once dd·na > ~9.2e12 (cohorts ~3e6+);
    // the shipped term carries the product in DECIMAL(38,0). Pin the
    // SHIPPED expression (the shared StatTestQueries.ExpEventsSql
    // constant — the exact string the query sums, so an edit to the
    // production SQL re-runs this pin) against a BigInt recompute.
    val (dd, na, n) = (4000000L, 3500000L, 7000000L)
    val got = Seq((dd, na, n)).toDF("dd", "na", "n")
      .select(expr(operators.StatTestQueries.ExpEventsSql).as("e"))
      .head.getLong(0)
    val expected = (BigInt(1000000) * dd * na / n).toLong
    assert(got == expected)
    assert(BigInt(1000000) * dd * na > BigInt(Long.MaxValue))
  }
}
