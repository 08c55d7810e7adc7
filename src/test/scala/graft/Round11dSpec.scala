package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Behavior pins for the composed-statistics battery (q366–q371):
  * definitional Scala replays, bit-exact (same integer algebra, same
  * IEEE op order in the final double chains). The composition claims
  * are pinned too — q366's flags change with the Dunn critical value,
  * q371 consumes the exact q355 rule definitions.
  */
class Round11dSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def q(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.Sf)

  private lazy val docs: Seq[(Long, String, String, String, Long)] = {
    import spark.implicits._
    Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .as[(Long, String, String, String, Long)].collect().toSeq
  }

  private def avgRanks(vs: Seq[Long]): Map[Long, Double] = {
    val sorted = vs.sorted.zipWithIndex.map { case (v, i) => (v, i + 1L) }
    sorted.groupBy(_._1).map { case (v, rs) =>
      v -> rs.map(_._2).sum.toDouble / rs.size
    }
  }

  test("q366 Dunn z and Bonferroni flags equal the full-sort replay") {
    val ranks = avgRanks(docs.map(_._5))
    val bySrc = docs.groupBy(_._4).toSeq.sortBy(_._1).map { case (src, rows) =>
      (src, rows.size.toLong, math.round(2 * rows.map(t => ranks(t._5)).sum))
    }
    val n = docs.size.toLong
    val tsum = docs.map(_._5).groupBy(identity).values
      .map(g => g.size.toLong).map(t => t * t * t - t).sum
    val sig2base = n.toDouble * (n.toDouble + 1.0) / 12.0 -
      tsum.toDouble / (12.0 * (n.toDouble - 1.0))
    val zcrit = operators.StatTestQueries.DunnZCrit.toDouble
    val expected = (for {
      i <- bySrc.indices; j <- (i + 1) until bySrc.size
    } yield {
      val (sa, na, ra2) = bySrc(i); val (sb, nb, rb2) = bySrc(j)
      val z = (ra2.toDouble / (2.0 * na.toDouble) - rb2.toDouble / (2.0 * nb.toDouble)) /
        math.sqrt(sig2base * (1.0 / na.toDouble + 1.0 / nb.toDouble))
      (sa, sb, z, math.abs(z) >= zcrit)
    }).sortBy(t => (t._1, t._2))
    val got = q("q366_dunn_posthoc").collect().toSeq.map(r =>
      (r.getString(0), r.getString(1), r.getDouble(2), r.getBoolean(3)))
    assert(got == expected)
    assert(got.size == bySrc.size * (bySrc.size - 1) / 2)
  }

  test("q367 Friedman/Kendall-W equals the per-week rank replay") {
    import spark.implicits._
    val days = Tables.t(spark, TestSpark.Sf, "events")
      .select(to_date($"ts").as("d")).as[java.sql.Date].collect()
      .groupBy(_.toLocalDate.toEpochDay).map { case (epd, g) =>
        (epd, g.length.toLong) }.toSeq
    val byWeek = days.map { case (epd, y) =>
      ((epd - 4) / 7, (epd - 4) % 7, y) } // epd >= 4 in the data
      .groupBy(_._1).filter(_._2.size == 7)
    val r2s = byWeek.values.flatMap { ws =>
      val ys = ws.map(_._3)
      ws.map { case (_, dow, y) =>
        val less = ys.count(_ < y).toLong
        val eq = ys.count(_ == y).toLong
        (dow, 2 * less + eq + 1) // 2·avg-rank within the 7-day block
      }
    }.toSeq
    val b = byWeek.size.toLong
    val a4 = r2s.map(t => t._2 * t._2).sum
    val ssq = r2s.groupBy(_._1).values.map(_.map(_._2).sum)
      .map(rsum2 => { val d = rsum2 - 8 * b; d * d }).sum
    val chi2 = 6.0 * ssq.toDouble / (a4 - 448 * b).toDouble
    val got = q("q367_friedman_weekday").collect().head
    assert(got.getLong(0) == b && b >= 2, "needs >= 2 complete weeks")
    assert(got.getLong(1) == 7L)
    assert(got.getDouble(2) == chi2)
    assert(got.getDouble(3) == chi2 / (b.toDouble * 6.0))
  }

  test("q368 Ljung-Box equals the exact-integer ACF replay") {
    import spark.implicits._
    val days = Tables.t(spark, TestSpark.Sf, "events")
      .select(to_date($"ts").as("d")).as[java.sql.Date].collect()
      .groupBy(_.toLocalDate.toEpochDay).map { case (epd, g) =>
        (epd, g.length.toLong) }.toSeq.sortBy(_._1)
    val n = days.size.toLong
    val sv = days.map(_._2).sum
    val c = days.map { case (epd, y) => (epd, n * y - sv) }.toMap
    val den = c.values.map(v => BigInt(v) * BigInt(v)).sum
    val terms = (1L to 7L).map { lag =>
      val num = c.collect { case (epd, v) if c.contains(epd + lag) =>
        BigInt(v) * BigInt(c(epd + lag)) }.sum
      val rho = num.toDouble / den.toDouble
      rho * rho / (n.toDouble - lag.toDouble)
    }
    val qLb = n.toDouble * (n.toDouble + 2.0) * terms.foldLeft(0.0)(_ + _)
    val got = q("q368_ljung_box").collect().head
    assert(got.getLong(0) == n)
    assert(got.getLong(1) == 7L)
    assert(got.getDouble(2) == qLb)
  }

  test("q369 Brown-Forsythe equals the direct median-deviation replay") {
    val groups = docs.groupBy(_._4).toSeq.sortBy(_._1).map { case (src, rows) =>
      val vs = rows.map(_._5).sorted
      val nj = vs.size
      val m2 = vs((nj + 1) / 2 - 1) + vs((nj + 2) / 2 - 1) // 2·median
      val z2s = vs.map(v => math.abs(2 * v - m2))
      (src, nj.toLong, z2s.map(BigInt(_)).sum, z2s.map(z => BigInt(z) * BigInt(z)).sum)
    }
    val n = groups.map(_._2).sum
    val k = groups.size.toLong
    val s1tot = groups.map(_._3).sum
    val gm = s1tot.toDouble / n.toDouble
    val suma = groups.map { case (_, nj, s1, _) =>
      val mj = s1.toDouble / nj.toDouble
      nj.toDouble * (mj - gm) * (mj - gm)
    }.foldLeft(0.0)(_ + _)
    val sumb = groups.map { case (_, nj, s1, q4) =>
      q4.toDouble - s1.toDouble * s1.toDouble / nj.toDouble
    }.foldLeft(0.0)(_ + _)
    val f = (suma / (k.toDouble - 1.0)) / (sumb / (n.toDouble - k.toDouble))
    val got = q("q369_brown_forsythe").collect().head
    assert(got.getLong(0) == n)
    assert(got.getLong(1) == k)
    assert(got.getDouble(2) == f)
    assert(got.getLong(3) == k - 1)
    assert(got.getLong(4) == n - k)
  }

  test("q370 McNemar equals the paired-gate replay") {
    val sw = graft.ext.TextAnalysis.Stopwords
    val langsSorted = sw.map(_._1).sorted
    val (bCt, cCt) = docs.foldLeft((0L, 0L)) { case ((b, c), (_, text, lang, _, nChars)) =>
      val toks = text.toLowerCase.trim.split("\\s+").toSeq
      val scores = sw.map { case (l, ws) => l -> toks.count(ws.contains) }.toMap
      val mx = scores.values.max
      val pred = if (mx == 0) "und"
        else langsSorted.find(l => scores(l) == mx).get
      val ga = nChars >= 150
      val gb = pred == lang
      (b + (if (ga && !gb) 1L else 0L), c + (if (!ga && gb) 1L else 0L))
    }
    val chi2 = (math.abs(bCt.toDouble - cCt.toDouble) - 1.0) *
      (math.abs(bCt.toDouble - cCt.toDouble) - 1.0) /
      (bCt.toDouble + cCt.toDouble)
    val got = q("q370_mcnemar").collect().head
    assert(got.getLong(0) == docs.size.toLong)
    assert(got.getLong(1) == bCt)
    assert(got.getLong(2) == cCt)
    assert(bCt + cCt > 0 && got.getDouble(3) == chi2)
  }

  test("q371 Cochran Q consumes the exact q355 rule definitions") {
    val stops = Seq("the", "a", "of", "to", "and")
    val flags = docs.flatMap { case (_, text, _, _, _) =>
      val nt = text.toLowerCase.replaceAll("[^a-z0-9\\s]", "")
        .replaceAll("\\s+", " ").trim
      val a = if (nt.isEmpty) Array.empty[String] else nt.split(" ")
      if (a.isEmpty) None else {
        val wc = a.length.toLong
        val sumlen = nt.length.toLong - (wc - 1)
        val nAlpha = a.count(_.exists(c => c >= 'a' && c <= 'z')).toLong
        val nStopKinds = stops.count(a.contains).toLong
        val nSym = (text.length - text.replace("#", "").length).toLong +
          (text.length - text.replace("...", "").length) / 3
        val maxw = a.groupBy(identity).values.map(_.length).max.toLong
        Some(Seq(
          wc >= 50 && wc <= 100000,
          sumlen >= 3 * wc && sumlen <= 10 * wc,
          5 * nAlpha >= 4 * wc,
          nStopKinds >= 2,
          10 * maxw <= wc,
          10 * nSym <= wc))
      }
    }
    val t = flags.map(_.count(identity).toLong).sum
    val sr2 = flags.map(f => { val r = f.count(identity).toLong; r * r }).sum
    val sc2 = (0 to 5).map(j => { val c = flags.count(_(j)).toLong; c * c }).sum
    val qc = (5L * (6 * sc2 - t * t)).toDouble / (6 * t - sr2).toDouble
    val got = q("q371_cochran_q").collect().head
    assert(got.getLong(0) == flags.size.toLong)
    assert(got.getLong(1) == 6L)
    assert(got.getDouble(2) == qc)
    assert(got.getLong(3) == 5L)
    // rules genuinely disagree per doc somewhere (Q is about that)
    assert(flags.exists(f => f.exists(identity) && f.exists(!_)))
  }
}
