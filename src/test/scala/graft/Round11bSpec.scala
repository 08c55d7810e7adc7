package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Behavior pins for the round-11 statistics batteries (q355–q365):
  * every query is replayed imperatively in Scala from the raw rows —
  * definitional pair loops where the query uses grid algebra, the
  * same IEEE expression order where the query emits doubles — so the
  * pins are bit-exact, not tolerance-based. Where the query's whole
  * point is avoiding an O(n²) enumeration (Kendall via the
  * contingency grid, Mann–Whitney via the value grid), the replay IS
  * the O(n²)/full-sort form, proving the algebra, not just the
  * plumbing.
  */
class Round11bSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def q(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.Sf)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private lazy val docs: Seq[(Long, String, String, String, Long)] = {
    import spark.implicits._
    Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .as[(Long, String, String, String, Long)].collect().toSeq
  }

  private val stops = Seq("the", "a", "of", "to", "and")

  test("q355 gopher rules equal a per-document Scala replay") {
    val perDoc = docs.map { case (_, text, _, source, _) =>
      val nt = normText(text)
      val a = if (nt.isEmpty) Array.empty[String] else nt.split(" ")
      val wc = a.length.toLong
      val sumlen = nt.length.toLong - (wc - 1)
      val nAlpha = a.count(_.exists(c => c >= 'a' && c <= 'z')).toLong
      val nStopKinds = stops.count(a.contains).toLong
      val nSym = (text.length - text.replace("#", "").length).toLong +
        (text.length - text.replace("...", "").length) / 3
      val maxw = a.groupBy(identity).values.map(_.length).max.toLong
      (source, wc, Seq(
        wc >= 50 && wc <= 100000,
        sumlen >= 3 * wc && sumlen <= 10 * wc,
        5 * nAlpha >= 4 * wc,
        nStopKinds >= 2,
        10 * maxw <= wc,
        10 * nSym <= wc))
    }.filter(_._2 > 0)
    val expected = perDoc.groupBy(_._1).map { case (src, rows) =>
      val flags = rows.map(_._3)
      src -> (rows.size.toLong +: (0 to 5).map(i =>
        flags.count(_(i)).toLong) :+ flags.count(_.forall(identity)).toLong)
    }
    val got = q("q355_gopher_rules").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val exp = expected(r.getString(0))
      assert((1 to 8).map(r.getLong) == exp, s"source ${r.getString(0)}")
    }
    // the battery must discriminate at test scale: at least one rule
    // has both passers and failers somewhere
    val allDocs = perDoc.map(_._3)
    assert((0 to 5).exists(i =>
      allDocs.exists(_(i)) && allDocs.exists(f => !f(i))))
  }

  /** Full-sort average ranks of a pooled sample — the definitional
    * form the grid algebra must reproduce.
    */
  private def avgRanks(vs: Seq[Long]): Map[Long, Double] = {
    val sorted = vs.sorted.zipWithIndex.map { case (v, i) => (v, i + 1L) }
    sorted.groupBy(_._1).map { case (v, rs) =>
      v -> rs.map(_._2).sum.toDouble / rs.size
    }
  }

  test("q356 Mann–Whitney equals the full-sort definitional replay") {
    val d = docs.filter(t => t._4 == "src0" || t._4 == "src1")
    val xs = d.map(t => (t._4, t._5))
    val ranks = avgRanks(xs.map(_._2))
    val n1 = xs.count(_._1 == "src0").toLong
    val n2 = xs.count(_._1 == "src1").toLong
    val r1 = xs.filter(_._1 == "src0").map(t => ranks(t._2)).sum
    val u1x2 = math.round(2 * r1) - n1 * (n1 + 1) // 2·R1 is integral
    val tsum = xs.map(_._2).groupBy(identity).values
      .map(g => g.size.toLong).map(t => t * t * t - t).sum
    val nn = n1 + n2
    val z = (u1x2 - n1 * n2).toDouble / (2.0 * math.sqrt(
      (n1.toDouble * n2.toDouble / 12.0) *
        ((nn.toDouble + 1.0) - tsum.toDouble / (nn.toDouble * (nn.toDouble - 1.0)))))
    val got = q("q356_mann_whitney").collect().head
    assert(got.getLong(0) == n1 && got.getLong(1) == n2)
    assert(got.getDouble(2) == u1x2.toDouble)
    assert(got.getDouble(3) == tsum.toDouble)
    assert(got.getDouble(4) == z)
  }

  test("q357 Kruskal–Wallis equals the full-sort definitional replay") {
    val ranks = avgRanks(docs.map(_._5))
    val bySrc = docs.groupBy(_._4).toSeq.sortBy(_._1)
    val n = docs.size.toLong
    val terms = bySrc.map { case (_, rows) =>
      val rj2 = math.round(2 * rows.map(t => ranks(t._5)).sum)
      rj2.toDouble * rj2.toDouble / rows.size.toDouble
    }
    val sumterm = terms.foldLeft(0.0)(_ + _) // source-sorted fold order
    val h = 3.0 * sumterm / (n.toDouble * (n.toDouble + 1.0)) -
      3.0 * (n.toDouble + 1.0)
    val tsum = docs.map(_._5).groupBy(identity).values
      .map(g => g.size.toLong).map(t => t * t * t - t).sum
    val hAdj = h / (1.0 - tsum.toDouble /
      (n.toDouble * n.toDouble * n.toDouble - n.toDouble))
    val got = q("q357_kruskal_wallis").collect().head
    assert(got.getLong(0) == bySrc.size.toLong)
    assert(got.getLong(1) == n)
    assert(got.getDouble(2) == h)
    assert(got.getDouble(3) == hAdj)
  }

  test("q358 Kendall τ-b grid algebra equals the O(n²) pair enumeration") {
    val scored = docs.flatMap { case (_, text, _, _, nChars) =>
      val nt = normText(text)
      val a = if (nt.isEmpty) Array.empty[String] else nt.split(" ")
      if (a.isEmpty) None else Some((
        nChars * 2 / 100,
        10 * a.count(stops.contains) / a.length.toLong))
    }
    var c = 0L; var d = 0L; var ta = 0L; var tb = 0L
    for (i <- scored.indices; j <- (i + 1) until scored.size) {
      val (a1, b1) = scored(i); val (a2, b2) = scored(j)
      if (a1 == a2 && b1 == b2) { ta += 1; tb += 1 }
      else if (a1 == a2) ta += 1
      else if (b1 == b2) tb += 1
      else if ((a2 - a1) * (b2 - b1) > 0) c += 1
      else d += 1
    }
    val n = scored.size.toLong
    val n0 = n * (n - 1) / 2
    val tau = (c.toDouble - d.toDouble) /
      math.sqrt((n0.toDouble - ta.toDouble) * (n0.toDouble - tb.toDouble))
    val got = q("q358_kendall_tau").collect().head
    assert(got.getLong(0) == n)
    assert(got.getDouble(1) == c.toDouble)
    assert(got.getDouble(2) == d.toDouble)
    assert(got.getDouble(3) == ta.toDouble)
    assert(got.getDouble(4) == tb.toDouble)
    assert(got.getDouble(5) == tau)
    assert(c > 0 && d > 0, "degenerate grid: no discrimination")
  }

  test("q359 BH-FDR permutation p-values and step-up equal the Scala replay") {
    val seeds = graft.operators.StatTestQueries.FdrSeeds
    val n = docs.size.toLong
    val stot = docs.map(_._5).sum
    val grand = stot.toDouble / n.toDouble
    val obs = docs.groupBy(_._4).map { case (src, rows) =>
      val t = math.abs(rows.map(_._5).sum.toDouble / rows.size.toDouble - grand)
      (src, rows.size.toLong, t)
    }.toSeq.sortBy(_._1)
    // permutation stats per (seed, cell)
    val permT = (1 to seeds).flatMap { seed =>
      docs.groupBy(t => h32(s"${t._1}_$seed") % 20).map { case (cell, rows) =>
        (cell, math.abs(rows.map(_._5).sum.toDouble / rows.size.toDouble - grand))
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val pv = obs.map { case (src, nx, tObs) =>
      val cell = src.drop(3).toLong % 20
      val nGe = permT(cell).count(_ >= tObs).toLong
      (src, nx, tObs, (1 + nGe).toDouble / (seeds + 1).toDouble)
    }
    val ranked = pv.sortBy(t => (t._4, t._1)).zipWithIndex
      .map { case ((src, nx, t, p), i) => (src, nx, t, p, i + 1L) }
    val m = ranked.size.toLong
    val kmax = ranked.map { case (_, _, _, p, k) =>
      if (p <= k.toDouble * 0.1 / m.toDouble) k else 0L
    }.max
    val expected = ranked.map { case (src, nx, t, p, k) =>
      (src, nx, t, p, k, k <= kmax)
    }.sortBy(_._1)
    val got = q("q359_bh_fdr").collect().toSeq.map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getBoolean(5)))
    assert(got == expected)
  }

  test("q360 ERR histogram equals the recursive cascade replay") {
    import spark.implicits._
    val orders = Tables.t(spark, TestSpark.Sf, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
      .as[(Long, Long, Double)].collect().toSeq
    val errs = orders.groupBy(_._1).values.map { os =>
      val top = os.sortBy(t => (-t._3, t._2)).take(10)
      var e = 0.0; var p = 1.0
      top.zipWithIndex.foreach { case ((_, ok, _), i) =>
        val g = h32(ok.toString) % 4
        val rr = g match { case 0 => 0.0; case 1 => 0.125; case 2 => 0.375; case _ => 0.875 }
        e = e + p * rr / (i + 1).toDouble
        p = p * (1.0 - rr)
      }
      e
    }.toSeq
    val expected = errs.groupBy(e => math.floor(e * 20).toLong)
      .map { case (bin, es) => (bin, es.size.toLong, es.min, es.max) }
      .toSeq.sortBy(_._1)
    val got = q("q360_err_ranking").collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got == expected)
  }

  test("q361 Theil–Sen equals the brute-force pairwise replay") {
    import spark.implicits._
    val days = Tables.t(spark, TestSpark.Sf, "events")
      .select(to_date($"ts").as("d")).as[java.sql.Date].collect()
      .groupBy(_.toLocalDate.toEpochDay).map { case (x, g) =>
        (x, g.length.toLong)
      }.toSeq.sortBy(_._1)
    val slopes = (for {
      i <- days.indices; j <- (i + 1) until days.size
    } yield (days(j)._2 - days(i)._2).toDouble /
        (days(j)._1 - days(i)._1).toDouble).sorted
    def med(v: Seq[Double]): Double = {
      val m = v.size
      val mids = Seq((m + 1) / 2, (m + 2) / 2).distinct.map(k => v(k - 1))
      mids.sum / mids.size
    }
    val slope = med(slopes)
    val betas = days.map { case (x, y) => y.toDouble - slope * x.toDouble }.sorted
    val got = q("q361_theilsen_slope").collect().head
    assert(got.getLong(0) == slopes.size.toLong)
    assert(got.getDouble(1) == slope)
    assert(got.getDouble(2) == med(betas))
  }

  test("q362 Fleiss κ equals the per-document rating replay") {
    val xs = docs.map(t => (0 to 4).count(r => t._5 >= 150 + 10 * r).toLong)
    val n = xs.size.toLong
    val sx = xs.sum
    val spp = xs.map(x => x * x + (5 - x) * (5 - x)).sum
    val p1 = sx.toDouble / (5.0 * n.toDouble)
    val pbar = (spp.toDouble - 5.0 * n.toDouble) / (20.0 * n.toDouble)
    val pe = p1 * p1 + (1.0 - p1) * (1.0 - p1)
    val kappa = (pbar - pe) / (1.0 - pe)
    val got = q("q362_fleiss_kappa").collect().head
    assert(got.getLong(0) == n)
    assert(got.getDouble(1) == p1)
    assert(got.getDouble(2) == pbar)
    assert(got.getDouble(3) == kappa)
    // threshold raters genuinely disagree on some docs
    assert(xs.exists(x => x > 0 && x < 5))
  }

  test("q363 Cramér's V equals the full-grid χ² replay (empty cells included)") {
    val ct = docs.groupBy(t => (t._3, t._4)).view.mapValues(_.size.toLong).toMap
    val langs = docs.map(_._3).distinct.sorted
    val srcs = docs.map(_._4).distinct.sorted
    val n = docs.size.toLong
    val rt = langs.map(l => l -> docs.count(_._3 == l).toLong).toMap
    val cl = srcs.map(s => s -> docs.count(_._4 == s).toLong).toMap
    val terms = for (l <- langs; s <- srcs) yield {
      val o = ct.getOrElse((l, s), 0L).toDouble
      val e = (o * n.toDouble - rt(l).toDouble * cl(s).toDouble)
      e * e / (rt(l).toDouble * cl(s).toDouble * n.toDouble)
    }
    val chi2 = terms.foldLeft(0.0)(_ + _) // (lang, source)-sorted fold
    val v = math.sqrt(chi2 / (n.toDouble *
      math.min(langs.size - 1, srcs.size - 1).toDouble))
    val got = q("q363_cramers_v").collect().head
    assert(got.getLong(0) == n)
    assert(got.getLong(1) == (langs.size - 1).toLong * (srcs.size - 1))
    assert(got.getDouble(2) == chi2)
    assert(got.getDouble(3) == v)
    assert(ct.size < langs.size * srcs.size ||
      ct.values.forall(_ > 0)) // replay covered the empty-cell path or grid is full
  }

  test("q364 Welch ANOVA equals the per-group replay in fold order") {
    val groups = docs.groupBy(_._4).toSeq.sortBy(_._1).map { case (src, rows) =>
      val nj = rows.size.toLong
      val sx = rows.map(_._5).sum
      val sxx = rows.map(t => BigInt(t._5) * BigInt(t._5)).sum
      val mj = sx.toDouble / nj.toDouble
      val s2j = (sxx.toDouble - sx.toDouble * sx.toDouble / nj.toDouble) /
        (nj.toDouble - 1.0)
      val wj = nj.toDouble / s2j
      (src, nj, mj, wj)
    }
    val k = groups.size.toLong
    val bigw = groups.map(_._4).foldLeft(0.0)(_ + _)
    val mw = groups.map(g => g._4 * g._3).foldLeft(0.0)(_ + _) / bigw
    val suma = groups.map(g => g._4 * (g._3 - mw) * (g._3 - mw)).foldLeft(0.0)(_ + _)
    val sumb = groups.map(g => (1.0 - g._4 / bigw) * (1.0 - g._4 / bigw) /
      (g._2.toDouble - 1.0)).foldLeft(0.0)(_ + _)
    val f = (suma / (k.toDouble - 1.0)) / (1.0 + 2.0 * (k.toDouble - 2.0) /
      (k.toDouble * k.toDouble - 1.0) * sumb)
    val df2 = (k.toDouble * k.toDouble - 1.0) / (3.0 * sumb)
    val got = q("q364_welch_anova").collect().head
    assert(got.getLong(0) == k)
    assert(got.getDouble(1) == f)
    assert(got.getLong(2) == k - 1)
    assert(got.getDouble(3) == df2)
  }

  test("q365 squared-scatter Davies–Bouldin equals the definitional replay") {
    import spark.implicits._
    val vecs = Tables.t(spark, TestSpark.Sf, "embeddings")
      .select($"vec_id", $"embedding", $"label")
      .as[(Long, Seq[Float], Int)].collect().toSeq
      .map { case (_, e, l) =>
        (l, e.map(x => math.round(x.toDouble * 10000)).toIndexedSeq) }
    val dims = vecs.head._2.size
    val byL = vecs.groupBy(_._1).toSeq.sortBy(_._1)
    val stats = byL.map { case (l, vs) =>
      val nl = vs.size.toLong
      val sx = (0 until dims).map(j => vs.map(_._2(j)).sum)
      val sxx = (0 until dims).map(j =>
        vs.map(v => BigInt(v._2(j)) * BigInt(v._2(j))).sum)
      val s2 = (0 until dims).map(j =>
        sxx(j).toDouble - sx(j).toDouble * sx(j).toDouble / nl.toDouble)
        .foldLeft(0.0)(_ + _) / nl.toDouble
      (l, nl, sx, s2)
    }
    val pairs = for {
      i <- stats.indices; j <- (i + 1) until stats.size
    } yield {
      val (li, ni, sxi, s2i) = stats(i); val (lj, nj, sxj, s2j) = stats(j)
      val m2 = (0 until dims).map { d =>
        val diff = sxi(d).toDouble / ni.toDouble - sxj(d).toDouble / nj.toDouble
        diff * diff
      }.foldLeft(0.0)(_ + _)
      ((li, lj), (s2i + s2j) / m2)
    }
    val rmax = stats.map(_._1).map { l =>
      pairs.collect { case ((a, b), r) if a == l || b == l => r }.max
    }
    val dbSq = rmax.foldLeft(0.0)(_ + _) / stats.size.toDouble
    val got = q("q365_davies_bouldin").collect().head
    assert(got.getLong(0) == stats.size.toLong)
    assert(got.getDouble(1) == dbSq)
  }
}
