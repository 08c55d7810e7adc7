package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Behavior pins for the association / effect-size / reliability
  * battery (q372–q380): definitional Scala replays, bit-exact — the
  * pair-mass queries are replayed as the O(n²) pair enumeration the
  * grid algebra avoids, the coefficient chains in the same IEEE op
  * order as the shared SQL strings. Gate-composition queries (q373/
  * q374/q377) replay their coefficient from the gopherDoc flag table
  * whose per-flag definitions Round11bSpec pins independently.
  */
class Round11eSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def q(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.Sf)

  // ----- q372 ordinal association ------------------------------------------

  test("q372 γ / Somers' D / τ-c equal the O(n²) pair enumeration") {
    import spark.implicits._
    val xs = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_quantity".cast("long"),
        floor($"l_extendedprice" / 10000).cast("long"))
      .as[(Long, Long)].collect().toSeq
    var c = BigInt(0); var d = BigInt(0)
    for (i <- xs.indices; j <- (i + 1) until xs.size) {
      val ((xa, ya), (xb, yb)) = (xs(i), xs(j))
      val s = (xa compare xb) * (ya compare yb)
      if (s > 0) c += 1 else if (s < 0) d += 1
    }
    val n = xs.size.toLong
    val n0 = BigInt(n) * (n - 1) / 2
    val tx = xs.groupBy(_._1).values.map(g => BigInt(g.size) * (g.size - 1) / 2).sum
    val ty = xs.groupBy(_._2).values.map(g => BigInt(g.size) * (g.size - 1) / 2).sum
    val m = math.min(xs.map(_._1).distinct.size, xs.map(_._2).distinct.size).toLong
    val gamma = (c.toDouble - d.toDouble) / (c.toDouble + d.toDouble)
    val dyx = (c.toDouble - d.toDouble) / (n0.toDouble - tx.toDouble)
    val dxy = (c.toDouble - d.toDouble) / (n0.toDouble - ty.toDouble)
    val tauc = 2.0 * m.toDouble * (c.toDouble - d.toDouble) /
      (n.toDouble * n.toDouble * (m.toDouble - 1.0))
    val got = q("q372_ordinal_association").collect().head
    assert(got.getLong(0) == n)
    assert(got.getLong(1) == m)
    assert(got.getDouble(2) == c.toDouble)
    assert(got.getDouble(3) == d.toDouble)
    assert(got.getDouble(4) == gamma)
    assert(got.getDouble(5) == dyx)
    assert(got.getDouble(6) == dxy)
    assert(got.getDouble(7) == tauc)
  }

  // ----- shared gopherDoc flag table (pinned per-flag in Round11bSpec) -----

  private lazy val flags: Seq[(String, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)] = {
    import spark.implicits._
    operators.StatTestQueries.gopherDoc(spark, TestSpark.Sf)
      .select($"source", $"r_wc", $"r_mwl", $"r_alpha", $"r_stop", $"r_rep", $"r_sym")
      .as[(String, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().toSeq
  }

  test("q373 MCC equals the 2×2 replay over the shared flag table") {
    // flags tuple: (source, r_wc, r_mwl, r_alpha, r_stop, r_rep, r_sym)
    val a = flags.count(f => f._3 && f._6).toLong
    val b = flags.count(f => f._3 && !f._6).toLong
    val c = flags.count(f => !f._3 && f._6).toLong
    val d = flags.count(f => !f._3 && !f._6).toLong
    val mcc =
      if ((a + b) * (a + c) == 0 || (b + d) * (c + d) == 0) None
      else Some((a.toDouble * d.toDouble - b.toDouble * c.toDouble) /
        math.sqrt((a.toDouble + b.toDouble) * (a.toDouble + c.toDouble) *
          (b.toDouble + d.toDouble) * (c.toDouble + d.toDouble)))
    val got = q("q373_mcc_gates").collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3)) ==
      ((a, b, c, d)))
    if (mcc.isEmpty) assert(got.isNullAt(4))
    else assert(got.getDouble(4) == mcc.get)
    // the correlation is a correlation: within ±1 when defined
    mcc.foreach(v => assert(v >= -1.0 && v <= 1.0))
  }

  test("q374 Haldane OR and log-CI equal the 2×2 replay") {
    val s01 = flags.filter(f => f._1 == "src0" || f._1 == "src1")
    val a = s01.count(f => f._1 == "src0" && f._6).toLong
    val b = s01.count(f => f._1 == "src0" && !f._6).toLong
    val c = s01.count(f => f._1 == "src1" && f._6).toLong
    val d = s01.count(f => f._1 == "src1" && !f._6).toLong
    val or = ((a.toDouble + 0.5) * (d.toDouble + 0.5)) /
      ((b.toDouble + 0.5) * (c.toDouble + 0.5))
    val se = math.sqrt(1.0 / (a.toDouble + 0.5) + 1.0 / (b.toDouble + 0.5)
      + 1.0 / (c.toDouble + 0.5) + 1.0 / (d.toDouble + 0.5))
    def micro(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    val got = q("q374_odds_ratio").collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3)) ==
      ((a, b, c, d)))
    assert(got.getDouble(4) == or)
    assert(got.getLong(5) == micro(math.log(or)))
    assert(got.getLong(6) == micro(math.exp(math.log(or) - 1.96 * se)))
    assert(got.getLong(7) == micro(math.exp(math.log(or) + 1.96 * se)))
    assert(got.getLong(6) <= micro(or) && micro(or) <= got.getLong(7))
  }

  test("q377 Cronbach α equals the item/total variance replay") {
    val items: Seq[Seq[Long]] = flags.map(f =>
      Seq(f._2, f._3, f._4, f._5, f._6, f._7).map(b => if (b) 1L else 0L))
    val n = items.size.toLong
    val s = (0 until 6).map(i => items.map(_(i)).sum)
    val ts = items.map(_.sum)
    val st = ts.sum; val stt = ts.map(t => t * t).sum
    // same left-assoc term order as the shared chain
    val sumIvar = (0 until 6).map { i =>
      s(i).toDouble / n.toDouble -
        (s(i).toDouble / n.toDouble) * (s(i).toDouble / n.toDouble)
    }.reduceLeft(_ + _)
    val tvar = stt.toDouble / n.toDouble -
      (st.toDouble / n.toDouble) * (st.toDouble / n.toDouble)
    val alpha = 1.2 * (1.0 - sumIvar / tvar)
    val got = q("q377_cronbach_alpha").collect().head
    assert(got.getLong(0) == n)
    assert(got.getDouble(1) == sumIvar)
    assert(got.getDouble(2) == tvar)
    assert(got.getDouble(3) == alpha)
  }

  // ----- q375 Page trend ----------------------------------------------------

  test("q375 Page L equals the per-week rank replay") {
    import spark.implicits._
    val days = Tables.t(spark, TestSpark.Sf, "events")
      .select(to_date($"ts").as("d")).as[java.sql.Date].collect()
      .groupBy(_.toLocalDate.toEpochDay).map { case (epd, g) =>
        (epd, g.length.toLong) }.toSeq
    val byWeek = days.map { case (epd, y) => ((epd - 4) / 7, (epd - 4) % 7, y) }
      .groupBy(_._1).filter(_._2.size == 7)
    val b = byWeek.size.toLong
    var l2 = 0L
    for ((_, rows) <- byWeek; (_, dow, y) <- rows) {
      val vs = rows.map(_._3)
      val r2 = 2 * vs.count(_ < y) + vs.count(_ == y) + 1
      l2 += (dow + 1) * r2
    }
    val z = (l2.toDouble - 224.0 * b.toDouble) /
      (2.0 * math.sqrt(18816.0 * b.toDouble / 144.0))
    val got = q("q375_page_trend").collect().head
    assert(got.getLong(0) == b)
    assert(got.getLong(1) == l2)
    assert(got.getDouble(2) == z)
  }

  // ----- q376 Theil's U -----------------------------------------------------

  test("q376 Theil U equals the micro-nat entropy replay") {
    import spark.implicits._
    val sl = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"lang").as[(String, String)].collect().toSeq
    val n = sl.size.toLong
    def mln(x: Long, d: Long): Long =
      math.floor(math.log(x.toDouble / d.toDouble) * 1e6 + 0.5).toLong
    val hl = -sl.groupBy(_._2).values
      .map(g => g.size.toLong * mln(g.size, n)).sum / n
    val bySrc = sl.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val hc = -sl.groupBy(identity).map { case ((src, _), g) =>
      g.size.toLong * mln(g.size, bySrc(src)) }.sum / n
    val u = (hl - hc).toDouble / hl.toDouble
    val got = q("q376_theils_u").collect().head
    assert(got.getLong(0) == hl)
    assert(got.getLong(1) == hc)
    assert(got.getDouble(2) == u)
    assert(u >= 0.0 && u <= 1.0) // conditioning can't add entropy
  }

  // ----- q378 Jonckheere–Terpstra ------------------------------------------

  test("q378 JT 2J equals the O(n²) ordered-pair enumeration") {
    import spark.implicits._
    val xs = Tables.t(spark, TestSpark.Sf, "documents")
      .select(expr("CAST(substring(source, 4) AS BIGINT)"), $"n_chars")
      .as[(Long, Long)].collect().toSeq
    var j2 = BigInt(0)
    for (i <- xs.indices; j <- xs.indices) {
      val ((sa, va), (sb, vb)) = (xs(i), xs(j))
      if (sa < sb) {
        if (va < vb) j2 += 2 else if (va == vb) j2 += 1
      }
    }
    val n = BigInt(xs.size)
    val sizes = xs.groupBy(_._1).values.map(g => BigInt(g.size)).toSeq
    val ej4 = n * n - sizes.map(s => s * s).sum
    val vnum = n * n * (2 * n + 3) - sizes.map(s => s * s * (2 * s + 3)).sum
    val z = (2.0 * j2.toDouble - ej4.toDouble) /
      (4.0 * math.sqrt(vnum.toDouble / 72.0))
    val got = q("q378_jonckheere").collect().head
    assert(got.getLong(0) == xs.size.toLong)
    assert(got.getLong(1) == sizes.size.toLong)
    assert(got.getDouble(2) == j2.toDouble)
    assert(got.getDouble(3) == ej4.toDouble)
    assert(got.getDouble(4) == z)
  }

  // ----- q379 Durbin–Watson -------------------------------------------------

  test("q379 DW equals the differenced-count replay") {
    import spark.implicits._
    val daily = Tables.t(spark, TestSpark.Sf, "events")
      .select(to_date($"ts").as("d")).as[java.sql.Date].collect()
      .groupBy(_.toLocalDate.toEpochDay).map { case (epd, g) =>
        (epd, g.length.toLong) }.toSeq.sortBy(_._1)
    val n = daily.size.toLong
    val sc = daily.map(_._2).sum
    val scc = daily.map(t => BigInt(t._2) * t._2).sum
    val sd2 = daily.map(_._2).sliding(2).collect {
      case Seq(a, b) => BigInt(b - a) * (b - a) }.sum
    val dw = n.toDouble * sd2.toDouble /
      (n.toDouble * scc.toDouble - sc.toDouble * sc.toDouble)
    val got = q("q379_durbin_watson").collect().head
    assert(got.getLong(0) == n)
    assert(got.getDouble(1) == sd2.toDouble)
    assert(got.getDouble(2) == dw)
    assert(dw > 0.0 && dw < 4.0) // DW range
  }

  // ----- q380 Cohen's d -----------------------------------------------------

  test("q380 Cohen d / Hedges g equal the moment replay") {
    import spark.implicits._
    val xs = Tables.t(spark, TestSpark.Sf, "documents")
      .filter($"source".isin("src0", "src1"))
      .select($"source" === "src0", $"n_chars").as[(Boolean, Long)].collect().toSeq
    val g1 = xs.filter(_._1).map(_._2); val g2v = xs.filterNot(_._1).map(_._2)
    val (n1, n2) = (g1.size.toLong, g2v.size.toLong)
    val (s1, s2) = (g1.sum, g2v.sum)
    val ss1 = g1.map(v => BigInt(v) * v).sum
    val ss2 = g2v.map(v => BigInt(v) * v).sum
    val meanDiff = s1.toDouble / n1.toDouble - s2.toDouble / n2.toDouble
    val d = meanDiff / math.sqrt(
      ((n1.toDouble * ss1.toDouble - s1.toDouble * s1.toDouble) / n1.toDouble
        + (n2.toDouble * ss2.toDouble - s2.toDouble * s2.toDouble) / n2.toDouble)
        / (n1.toDouble + n2.toDouble - 2.0))
    val g = (1.0 - 3.0 / (4.0 * (n1.toDouble + n2.toDouble - 2.0) - 1.0)) * d
    val got = q("q380_cohens_d").collect().head
    assert(got.getLong(0) == n1)
    assert(got.getLong(1) == n2)
    assert(got.getDouble(2) == meanDiff)
    assert(got.getDouble(3) == d)
    assert(got.getDouble(4) == g)
    assert(math.abs(g) < math.abs(d) || d == 0.0) // J < 1 debiases toward 0
  }
}
