package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8z operators (q294–q296): imperative
  * recomputation of each result plus the defining invariants
  * (interpolated precision is non-increasing in the recall level,
  * Mann–Kendall outcomes partition the pair set, no predicted link is
  * an existing edge).
  */
class Round8zSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  // ----- q294 11-point interpolated AP -------------------------------------

  test("q294 matches an imperative PR sweep; interpolated precision non-increasing") {
    val labeled = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"n_chars", $"text").as[(Long, Long, String)]
      .collect().toSeq.map { case (_, nc, text) =>
        val score = normText(text).split(" ").filter(_.nonEmpty)
          .map(t => h32("w|" + (h32(t) % 1024)) % 2001 - 1000).sum
        (score, if (nc >= 250) 1L else 0L)
      }
    val np = labeled.map(_._2).sum
    val grid = labeled.groupBy(_._1).view
      .mapValues(g => (g.map(_._2).sum, g.size.toLong)).toSeq
      .sortBy(-_._1) // score descending
    var cp = 0L; var ca = 0L
    val pts = grid.map { case (_, (pg, ng)) =>
      cp += pg; ca += ng
      (1000000L * cp / np, 1000000L * cp / ca) // (recall, prec) micro
    }
    val interp = (0L to 10L).map { i =>
      val lvl = i * 100000L
      (lvl, pts.filter(_._1 >= lvl).map(_._2).max)
    }
    val ap = interp.map(_._2).sum / 11L
    val expected = interp.map { case (l, p) => (l, p, ap) }
    val got = q("q294_average_precision")(spark, TestSpark.Sf)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == expected)
    // interpolated precision can never increase as the recall bar rises
    assert(got.sliding(2).forall(w => w.head._2 >= w.last._2))
    assert(got.forall(r => r._2 >= 0L && r._2 <= 1000000L))
  }

  // ----- q295 Mann–Kendall + Theil–Sen -------------------------------------

  test("q295 matches an imperative trend test; outcomes partition the pairs") {
    val epoch0 = java.time.LocalDate.parse("1992-01-01").toEpochDay
    val daily = Tables.t(spark, TestSpark.Sf, "orders")
      .select($"o_orderdate".cast("date")).as[java.sql.Date]
      .collect().toSeq.map(_.toLocalDate.toEpochDay - epoch0)
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
    val n = daily.size.toLong
    var s = 0L; var conc = 0L; var disc = 0L; var tied = 0L
    val slopes = collection.mutable.ArrayBuffer.empty[Long]
    for (i <- daily.indices; j <- i + 1 until daily.size) {
      val (da, ca) = daily(i); val (db, cb) = daily(j)
      if (cb > ca) { s += 1; conc += 1 }
      else if (cb < ca) { s -= 1; disc += 1 }
      else tied += 1
      slopes += (cb - ca) * 1000000L / (db - da) // trunc toward zero, both engines
    }
    val nPairs = slopes.size.toLong
    val tsum = daily.map(_._2).groupBy(identity).values
      .map { g => val t = g.size.toLong; t * (t - 1) * (2 * t + 5) }.sum
    val var18 = n * (n - 1) * (2 * n + 5) - tsum
    val sAdj = if (s > 0) s - 1 else if (s < 0) s + 1 else 0L
    val z = math.floor(sAdj.toDouble / math.sqrt(var18.toDouble / 18.0) * 1e6 + 0.5).toLong
    val sorted = slopes.sorted
    val sen = (sorted(((nPairs + 1) / 2 - 1).toInt) +
      sorted(((nPairs + 2) / 2 - 1).toInt)) / 2
    val expected = (n, nPairs, s, conc, disc, tied, z, sen)
    val got = q("q295_mann_kendall")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().head
    assert(got == expected)
    assert(got._4 + got._5 + got._6 == got._2) // conc+disc+tied == n_pairs
    assert(math.abs(got._3) <= got._2)
    assert(got._8 >= sorted.head && got._8 <= sorted.last)
  }

  // ----- q296 Adamic–Adar link prediction ----------------------------------

  test("q296 matches an imperative AA scorer; no predicted link is an edge") {
    val items = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect().toSet
    val edges = items.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).toSeq.distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
    }.toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    val acc = collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    adj.foreach { case (_, nbrs) =>
      val deg = nbrs.size.toLong
      if (deg >= 2) {
        val wm = 1000000000000L /
          math.floor(math.log(deg.toDouble) * 1e6 + 0.5).toLong
        for (i <- nbrs.indices; j <- i + 1 until nbrs.size) {
          val k = (nbrs(i), nbrs(j))
          val (c, a) = acc.getOrElse(k, (0L, 0L))
          acc(k) = (c + 1, a + wm)
        }
      }
    }
    val expected = acc.toSeq.filterNot { case (k, _) => edges.contains(k) }
      .map { case ((a, b), (c, aa)) => (a, b, c, aa) }
      .sortBy(r => (-r._4, r._1, r._2)).take(20)
    val got = q("q296_adamic_adar")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.forall(r => !edges.contains((r._1, r._2)) && r._1 < r._2))
    assert(got.forall(r => r._3 >= 1L && r._4 > 0L))
  }
}
