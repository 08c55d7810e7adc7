package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8l operators (q234–q239): imperative
  * recomputation of each statistic plus its defining algebraic
  * invariants (conformal threshold rank, MI symmetry bound, Gini
  * range, RLE totality under the tie-broken order).
  */
class Round8lSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private lazy val docs = Tables.t(spark, TestSpark.Sf, "documents")
    .select($"doc_id", $"source", $"lang", $"n_chars", $"text")
    .as[(Long, String, String, Long, String)].collect().toSeq

  // ----- q234 conformal ----------------------------------------------------

  test("q234 matches an imperative split-conformal recomputation") {
    val scored = docs.map { case (id, src, _, _, text) =>
      val logit = normText(text).split(" ").filter(_.nonEmpty).map { tok =>
        h32("w|" + (h32(tok) % 1024)) % 2001 - 1000
      }.sum
      (id, src, logit, h32("cal|" + id) % 2 == 0)
    }
    val cal = scored.filter(_._4).sortBy(r => (r._3, r._1))
    val k = ((9 * (cal.size + 1) + 9) / 10).toInt
    val thr = cal(k - 1)._3
    val ev = scored.filterNot(_._4)
    def cover(rows: Seq[(Long, String, Long, Boolean)]) = {
      val n = rows.size.toLong
      val c = rows.count(_._3 <= thr).toLong
      (n, c, 1000000L * c / n)
    }
    val perSource = ev.groupBy(_._2).map { case (src, rows) =>
      val (n, c, cv) = cover(rows); (src, n, c, cv, 900000L)
    }.toSeq
    val (an, ac, acv) = cover(ev)
    val expected = (perSource :+ ("ALL", an, ac, acv, 900000L)).sortBy(_._1)
    val got = q("q234_conformal_coverage")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the threshold is a true ≥k-rank calibration quantile
    assert(cal.count(_._3 <= thr) >= k)
  }

  // ----- q235 mutual information -------------------------------------------

  test("q235 matches an imperative MI; NMI is bounded by 1") {
    def mln(x: Long, n: Long): Long =
      math.floor(math.log(x.toDouble / n) * 1e6 + 0.5).toLong
    val lb = (nc: Long) => math.min(nc / 500, 4L).toString
    val pairs = Map(
      "source|lang" -> docs.map(d => (d._2, d._3)),
      "source|lenb" -> docs.map(d => (d._2, lb(d._4))),
      "lang|lenb"   -> docs.map(d => (d._3, lb(d._4))))
    val expected = pairs.map { case (name, ab) =>
      val n = ab.size.toLong
      val cells = ab.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val maA = ab.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val maB = ab.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val sMi = cells.map { case ((a, b), c) =>
        c * (mln(c, n) - mln(maA(a), n) - mln(maB(b), n)) }.sum
      val sA = cells.map { case ((a, _), c) => c * mln(maA(a), n) }.sum
      val sB = cells.map { case ((_, b), c) => c * mln(maB(b), n) }.sum
      val mi = math.floor(sMi.toDouble / n).toLong
      val hA = -sA / n; val hB = -sB / n
      val nmi = math.floor(1000000.0 * mi / math.min(hA, hB)).toLong
      (name, cells.size.toLong, mi, hA, hB, nmi)
    }.toSeq.sortBy(_._1)
    val got = q("q235_mi_metadata")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // MI ≤ min entropy up to micro rounding
    assert(got.forall(r => r._6 <= 1000001L))
  }

  // ----- q236 TextTiling ----------------------------------------------------

  test("q236 matches an imperative block-comparison tiler") {
    val expected = docs.flatMap { case (id, _, _, _, text) =>
      val toks = normText(text).split(" ").filter(_.nonEmpty).toSeq
      val wins = toks.zipWithIndex.groupBy(_._2 / 10)
      val full = wins.filter(_._2.size == 10).view
        .mapValues(_.map(_._1).toSet).toMap
      val sims = full.keys.toSeq.sorted.flatMap { w =>
        full.get(w + 1).map { nb =>
          val a = full(w)
          val inter = (a & nb).size.toLong
          1000000L * inter / (a.size + nb.size - inter)
        }
      }
      if (sims.isEmpty) None
      else Some((id, sims.size.toLong, sims.sum / sims.size,
        sims.count(_ < 100000L).toLong))
    }.sortBy(_._1)
    val got = q("q236_text_tiling")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
  }

  // ----- q237 RLE estimate --------------------------------------------------

  test("q237 matches an imperative run counter under the total order") {
    val li = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_orderkey", $"l_linenumber".cast("long"),
        $"l_partkey".cast("string"), $"l_suppkey".cast("string"), $"l_returnflag")
      .as[(Long, Long, String, String, String)].collect().toSeq
    val cols = Seq(
      ("l_partkey", li.map(r => (r._1, r._2, r._3))),
      ("l_returnflag", li.map(r => (r._1, r._2, r._5))),
      ("l_suppkey", li.map(r => (r._1, r._2, r._4))))
    val expected = cols.map { case (name, rows) =>
      val runs = rows.groupBy(_._1).values.map { grp =>
        val vs = grp.sortBy(r => (r._2, r._3)).map(_._3)
        1L + vs.sliding(2).count { case Seq(a, b) => a != b; case _ => false }
      }.sum
      val n = rows.size.toLong
      val nd = rows.map(_._3).distinct.size.toLong
      (name, n, nd, runs,
        1000000L * (n - runs) / n, 1000000L * (n - nd) / n)
    }
    val got = q("q237_rle_estimate")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // sorted order is a lower bound on runs: gain_sorted ≥ gain_natural
    assert(got.forall(r => r._6 >= r._5))
  }

  // ----- q238 Simpson audit -------------------------------------------------

  test("q238 matches an imperative covariance-sign audit") {
    val cust = Tables.t(spark, TestSpark.Sf, "customer")
      .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
      .as[(Long, String, Double)].collect()
      .map(c => c._1 -> (c._2, math.floor(c._3 * 100 + 0.5).toLong)).toMap
    val rows = Tables.t(spark, TestSpark.Sf, "orders")
      .select($"o_custkey", $"o_totalprice").as[(Long, Double)].collect().toSeq
      .flatMap { case (ck, tp) =>
        cust.get(ck).map { case (seg, x) =>
          (seg, x, math.floor(tp * 100 + 0.5).toLong) }
      }
    def sign(rs: Seq[(String, Long, Long)]): Long = {
      val n = BigInt(rs.size)
      val cov = n * rs.map(r => BigInt(r._2) * r._3).sum -
        rs.map(r => BigInt(r._2)).sum * rs.map(r => BigInt(r._3)).sum
      cov.signum.toLong
    }
    val pooled = sign(rows)
    val expected = rows.groupBy(_._1).toSeq.map { case (seg, rs) =>
      val sg = sign(rs)
      (seg, rs.size.toLong, sg, pooled, if (sg != pooled) 1L else 0L)
    }.sortBy(_._1)
    val got = q("q238_simpson_audit")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
  }

  // ----- q239 Gini ----------------------------------------------------------

  test("q239 matches an imperative Gini; both dims land in [0, 1e6)") {
    def gini(xs: Seq[Long]): (Long, Long, Long) = {
      val sorted = xs.sorted
      val n = sorted.size.toLong
      val tot = sorted.sum
      val ranksum = sorted.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      (n, tot, 1000000L * (2 * ranksum - (n + 1) * tot) / (n * tot))
    }
    val bySource = gini(docs.groupBy(_._2).values.map(_.size.toLong).toSeq)
    val byToken = gini(docs.flatMap(d => normText(d._5).split(" ").filter(_.nonEmpty))
      .groupBy(identity).values.map(_.size.toLong).toSeq)
    val expected = Seq(
      ("source_docs", bySource._1, bySource._2, bySource._3),
      ("token_freq", byToken._1, byToken._2, byToken._3))
    val got = q("q239_gini")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.forall(r => r._4 >= 0L && r._4 < 1000000L))
    // uniform distribution ⇒ exactly zero, by the rank-sum identity
    assert(gini(Seq(7L, 7L, 7L, 7L))._3 == 0L)
  }
}
