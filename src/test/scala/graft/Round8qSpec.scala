package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8q operators (q259–q262): imperative
  * recomputation of each result plus the defining invariants (the
  * prefix-sum gain identity vs the naive two-mean form, WoE mass
  * bookkeeping, hold-out encodings excluding exactly the own fold,
  * backbone monotonicity in alpha).
  */
class Round8qSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  // ----- q259 binary segmentation ------------------------------------------

  private def bestSplit(days: Seq[(String, Long)]): Option[(String, Long)] = {
    val n = days.size.toLong
    if (n < 2) return None
    val tot = days.map(_._2).sum
    var cum = 0L
    val cands = days.sortBy(_._1).zipWithIndex.flatMap { case ((d, dv), i) =>
      cum += dv
      val k = i + 1L
      if (k < n) {
        val num = BigInt(n - k) * cum - BigInt(k) * (tot - cum)
        Some((d, (num * num / (BigInt(k) * (n - k) * n)).toLong))
      } else None
    }
    Some(cands.minBy { case (d, g) => (-g, d) })
  }

  test("q259 matches an imperative segmentation; gain identity equals two-mean form") {
    val daily = Tables.t(spark, TestSpark.Sf, "events")
      .select(date_format($"ts".cast("timestamp"), "yyyy-MM-dd"),
        floor($"value" + 0.5).cast("long"))
      .as[(String, Long)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    val root = bestSplit(daily).get
    val leftSeg = daily.filter(_._1 <= root._1)
    val rightSeg = daily.filter(_._1 > root._1)
    val expected = (Seq(("root", root._1, root._2)) ++
      bestSplit(leftSeg).map(s => ("left", s._1, s._2)) ++
      bestSplit(rightSeg).map(s => ("right", s._1, s._2))).sortBy(_._1)
    val got = q("q259_binary_segmentation")(spark, TestSpark.Sf)
      .as[(String, String, Long)].collect().toSeq
    assert(got == expected)
    // the integer gain identity tracks L·R/n·(meanL − meanR)²: recompute
    // the root gain the naive way and check they agree to the floor
    val n = daily.size.toDouble
    val tot = daily.map(_._2).sum.toDouble
    val k = daily.count(_._1 <= root._1).toDouble
    val cumL = daily.filter(_._1 <= root._1).map(_._2).sum.toDouble
    val naive = k * (n - k) / n * math.pow(cumL / k - (tot - cumL) / (n - k), 2)
    assert(math.abs(naive - root._2) <= naive * 1e-9 + 1.0)
  }

  // ----- q260 WoE / IV ------------------------------------------------------

  test("q260 matches an imperative WoE table; good+bad counts conserve") {
    val o = Tables.t(spark, TestSpark.Sf, "orders")
      .select(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"),
        $"o_orderkey", substring($"o_orderpriority", 1, 1) <= "2")
      .as[(Long, Long, Boolean)].collect().toSeq
    val sorted = o.sortBy(r => (r._1, r._2))
    val n = sorted.size
    val base = n / 5; val rem = n % 5
    val withBin = sorted.zipWithIndex.map { case (r, i) =>
      // ntile semantics: first `rem` bins get base+1 rows
      val bin = {
        var acc = 0; var b = 0
        while ({ b += 1; acc += (if (b <= rem) base + 1 else base); i >= acc }) ()
        b.toLong
      }
      (bin, r._3)
    }
    val tg = withBin.count(_._2).toLong
    val tb = withBin.count(!_._2).toLong
    val expected = withBin.groupBy(_._1).toSeq.map { case (bin, rs) =>
      val ng = rs.count(_._2).toLong; val nb = rs.count(!_._2).toLong
      val gs = 1000000L * ng / tg; val bs = 1000000L * nb / tb
      val woe = math.floor(math.log(gs.toDouble / bs) * 1e6 + 0.5).toLong
      (bin, rs.size.toLong, ng, nb, gs, bs, woe,
        (BigInt(gs - bs) * woe / 1000000).toLong)
    }.sortBy(_._1)
    val got = q("q260_woe_iv")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.map(_._3).sum == tg && got.map(_._4).sum == tb)
    // WoE sign tracks the good/bad imbalance per bin
    got.foreach { r => assert((r._7 > 0) == (r._5 > r._6) || r._7 == 0) }
  }

  // ----- q261 K-fold target encoding ---------------------------------------

  test("q261 matches an imperative hold-out encoding; own fold is excluded") {
    val seg = Tables.t(spark, TestSpark.Sf, "customer")
      .select($"c_custkey", $"c_mktsegment").as[(Long, String)].collect().toMap
    val o = Tables.t(spark, TestSpark.Sf, "orders")
      .select($"o_orderkey", $"o_custkey",
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"))
      .as[(Long, Long, Long)].collect().toSeq
      .map(r => (seg(r._2), h32("fold|" + r._1) % 5, r._3))
    val pf = o.groupBy(r => (r._1, r._2)).view
      .mapValues(rs => (rs.map(_._3).sum, rs.size.toLong)).toMap
    val pt = o.groupBy(_._1).view
      .mapValues(rs => (rs.map(_._3).sum, rs.size.toLong)).toMap
    val encs = pf.toSeq.map { case ((sg, f), (s, cnt)) =>
      val (ts, tn) = pt(sg)
      (sg, f, cnt, (ts - s) / (tn - cnt))
    }
    val spread = encs.groupBy(_._1).view
      .mapValues(es => es.map(_._4).max - es.map(_._4).min).toMap
    val expected = encs.map(e => (e._1, e._2, e._3, e._4, spread(e._1)))
      .sortBy(e => (e._1, e._2))
    val got = q("q261_target_encoding")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // hold-out really excludes the fold: each encoding differs from the
    // naive all-folds mean whenever the fold's own mean differs
    val naive = pt.view.mapValues { case (s, n) => s / n }.toMap
    assert(got.exists(r => r._4 != naive(r._1)))
    // spread is an upper bound on any |enc − naive| gap
    got.foreach(r => assert(math.abs(r._4 - naive(r._1)) <= r._5))
  }

  // ----- q262 disparity backbone -------------------------------------------

  test("q262 matches an imperative disparity filter; stricter alpha keeps fewer") {
    val e0 = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_partkey", $"l_suppkey").as[(Long, Long)].collect().toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((p, sp), w) => (p * 2, sp * 2 + 1, w) }
    val e = e0 ++ e0.map(x => (x._2, x._1, x._3))
    val nd = e.groupBy(_._1).view
      .mapValues(es => (es.map(_._3).sum, es.size.toLong)).toMap
    val und = e.flatMap { case (u, v, w) =>
      val (s, k) = nd(u)
      if (k <= 1) None
      else {
        val lnp = (k - 1) *
          math.floor(math.log(1.0 - w.toDouble / s) * 1e6 + 0.5).toLong
        Some(((math.min(u, v), math.max(u, v)), (w, lnp)))
      }
    }.groupBy(_._1).view
      .mapValues(g => (g.map(_._2._1).max, g.map(_._2._2).min)).toSeq
    val expected = Seq(("alpha_01", -4605170L), ("alpha_05", -2995732L))
      .map { case (nm, lnA) =>
        val kept = und.filter(_._2._2 < lnA)
        val (ek, et) = (kept.size.toLong, und.size.toLong)
        val (wk, wt) = (kept.map(_._2._1).sum, und.map(_._2._1).sum)
        (nm, ek, et, 1000000L * ek / et, wk, wt, 1000000L * wk / wt)
      }
    val got = q("q262_disparity_backbone")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // monotone in alpha: alpha_01 (stricter) keeps a subset
    val byA = got.map(r => r._1 -> r._2).toMap
    assert(byA("alpha_01") <= byA("alpha_05"))
  }
}
