package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.q

/** Behavior pins for the Round8k operators (q228–q233): each query's
  * relational form checked against a direct imperative recomputation,
  * plus the algebraic invariants the operators are built on (Benford
  * masses sum to 1, CUSUM closes at zero, HITS normalizes to 1e6).
  */
class Round8kSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  // ----- q228 Benford ------------------------------------------------------

  test("q228 matches an imperative digit histogram; probability masses close") {
    val prices = Tables.t(spark, TestSpark.Sf, "orders")
      .select($"o_totalprice").as[Double].collect()
    val digits = prices.map(p => math.floor(p * 100 + 0.5).toLong.toString.head.asDigit.toLong)
    val hist = digits.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = digits.length.toLong
    val expected = (1L to 9L).map { d =>
      val nd = hist.getOrElse(d, 0L)
      val obs = 1000000L * nd / n
      val exp = math.floor(math.log10((d + 1).toDouble / d) * 1e6 + 0.5).toLong
      (d, nd, obs, exp, math.abs(obs - exp))
    }
    val got = q("q228_benford")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // Benford masses sum to 1 (within the 9-way rounding slack)
    assert(math.abs(got.map(_._4).sum - 1000000L) <= 9)
    // observed masses sum to ≤ 1e6 (floor division loses at most 9 units)
    assert(got.map(_._3).sum <= 1000000L && got.map(_._3).sum >= 1000000L - 9)
  }

  // ----- q229 CUSUM --------------------------------------------------------

  test("q229 matches an imperative CUSUM; the walk closes at zero") {
    val got = q("q229_cusum_changepoint")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val daily = got.map(r => (r._1, r._2)).sortBy(_._1)
    val nd = daily.size.toLong
    val ty = daily.map(_._2).sum
    var s = 0L
    val cusum = daily.map { case (day, y) => s += nd * y - ty; (day, y, s) }
    val mx = cusum.map(c => math.abs(c._3)).max
    val expected = cusum.map { case (day, y, sc) =>
      (day, y, sc, if (math.abs(sc) == mx) 1L else 0L) }
    assert(got == expected)
    // Σ(nd·y − ty) over the full series telescopes to nd·ty − nd·ty = 0
    assert(cusum.last._3 == 0L)
    assert(got.map(_._4).sum >= 1L) // at least one flagged change point
  }

  // ----- q230 t-closeness --------------------------------------------------

  test("q230 matches an imperative EMD; t is bounded in [0, 1e6]") {
    val rows = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"lang", $"n_chars").as[(String, String, Long)].collect()
    val bucket = (nc: Long) => math.min(nc / 500, 4L)
    val all = rows.map(r => bucket(r._3))
    val nTot = BigInt(all.length)
    val cumC = (0L to 4L).map(b => all.count(_ <= b).toLong)
    val expected = rows.groupBy(r => (r._1, r._2)).map { case ((src, lg), grp) =>
      val bs = grp.map(r => bucket(r._3))
      val ng = BigInt(bs.length)
      val emd = (0 to 3).map { b =>
        val cumG = BigInt(bs.count(_ <= b))
        (cumG * nTot - BigInt(cumC(b)) * ng).abs
      }.sum
      val t = (BigInt(1000000) * emd / (4 * ng * nTot)).toLong
      (src, lg, bs.length.toLong, t)
    }.toSeq.sortBy(r => (-r._4, r._1, r._2))
    val got = q("q230_t_closeness")(spark, TestSpark.Sf)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.forall(r => r._4 >= 0L && r._4 <= 1000000L))
  }

  // ----- q231 Fellegi–Sunter -----------------------------------------------

  test("q231 matches an imperative linkage scorer; rarer fields weigh more") {
    val cust = Tables.t(spark, TestSpark.Sf, "customer")
      .select($"c_custkey", $"c_nationkey".cast("long"), $"c_mktsegment",
        $"c_acctbal", $"c_name")
      .as[(Long, Long, String, Double, String)].collect().toSeq
    case class Rec(k: Long, blk: (Long, String), f1: Long, f2: Long, f3: String)
    val recs = cust.map { case (k, nk, seg, bal, name) =>
      Rec(k, (nk, seg), math.floor(bal / 1000).toLong,
        math.floor(bal * 100 + 0.5).toLong % 100, name.takeRight(1))
    }
    val n = recs.size.toDouble
    def w[A](vals: Seq[A]): Long = {
      val s = vals.groupBy(identity).values.map(g => g.size.toLong * g.size).sum
      -math.floor(math.log(s.toDouble / (n * n)) * 1e6 + 0.5).toLong
    }
    val (w1, w2, w3) = (w(recs.map(_.f1)), w(recs.map(_.f2)), w(recs.map(_.f3)))
    // the ~100-value cents field beats the ~11-value bucket and ~10-value digit
    assert(w2 > w1 && w2 > w3)
    val pairs = for {
      (_, members) <- recs.groupBy(_.blk).toSeq
      a <- members; b <- members if a.k < b.k
    } yield {
      val score = (if (a.f1 == b.f1) w1 else 0L) +
        (if (a.f2 == b.f2) w2 else 0L) + (if (a.f3 == b.f3) w3 else 0L)
      val mask = (if (a.f1 == b.f1) 4L else 0L) +
        (if (a.f2 == b.f2) 2L else 0L) + (if (a.f3 == b.f3) 1L else 0L)
      (a.k, b.k, score, mask)
    }
    val expected = pairs.sortBy(p => (-p._3, p._1, p._2)).take(20)
    val got = q("q231_fs_linkage")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
  }

  // ----- q232 phrase query -------------------------------------------------

  test("q232's positional-index path equals the direct adjacency count") {
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .map { case (id, t) => (id, normText(t).split(" ").toSeq) }
      .filter(_._2.size >= 2)
    val bigrams = docs.flatMap { case (id, ts) =>
      ts.sliding(2).map(p => ((p(0), p(1)), id)).toSeq }
    val counts = bigrams.groupBy(_._1).view.mapValues(_.size.toLong)
      .filter(_._2 >= 5).toSeq
    val targets = counts.sortBy { case ((t1, t2), f) => (-f, t1, t2) }.take(3).map(_._1)
    val expected = targets.map { tg =>
      val hits = bigrams.filter(_._1 == tg)
      (tg._1, tg._2, hits.map(_._2).distinct.size.toLong, hits.size.toLong)
    }.sortBy(r => (-r._4, r._1, r._2))
    val got = q("q232_phrase_query")(spark, TestSpark.Sf)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == expected)
  }

  // ----- q233 HITS ---------------------------------------------------------

  test("q233 matches an imperative HITS; every step renormalizes to 1e6") {
    val edges = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_partkey", $"l_suppkey").as[(Long, Long)].collect().toSeq.distinct
    var h: Map[Long, Long] = edges.map(_._1).distinct.map(_ -> 1000000L).toMap
    var a: Map[Long, Long] = Map.empty
    def norm(m: Map[Long, Long]): Map[Long, Long] = {
      val mx = m.values.max
      m.view.mapValues(v => 1000000L * v / mx).toMap
    }
    for (_ <- 1 to 2) {
      a = norm(edges.groupBy(_._2).view.mapValues(
        es => es.map(e => h(e._1)).sum).toMap)
      h = norm(edges.groupBy(_._1).view.mapValues(
        es => es.map(e => a(e._2)).sum).toMap)
    }
    val expected =
      a.toSeq.sortBy(x => (-x._2, x._1)).take(12)
        .map(x => ("authority", x._1, x._2)) ++
      h.toSeq.sortBy(x => (-x._2, x._1)).take(12)
        .map(x => ("hub", x._1, x._2))
    val sortedExpected = expected.sortBy(r => (r._1, -r._3, r._2))
    val got = q("q233_hits")(spark, TestSpark.Sf)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == sortedExpected)
    // normalization pins the per-kind max at exactly 1e6
    assert(got.filter(_._1 == "authority").map(_._3).max == 1000000L)
    assert(got.filter(_._1 == "hub").map(_._3).max == 1000000L)
    assert(got.forall(r => r._3 >= 0L && r._3 <= 1000000L))
  }
}
