package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Behavior pins for the agreement / calibration / stratified-effect
  * battery (q381–q386): definitional Scala replays, bit-exact (exact
  * integer algebra replayed with BigInt, double chains in the shared
  * SQL op order, multi-stratum folds in the same sorted order).
  */
class Round11fSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def q(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.Sf)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(8), 16)

  test("q381 Lin CCC equals the cent-integer moment replay; CCC <= |r|") {
    import spark.implicits._
    val orders = Tables.t(spark, TestSpark.Sf, "orders")
      .select($"o_orderkey", $"o_totalprice").as[(Long, Double)].collect().toMap
    val rev = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_orderkey", $"l_extendedprice").as[(Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t =>
        BigDecimal(t._2).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .*(100).toLongExact).sum).toMap
    val pairs = orders.collect { case (k, x) if rev.contains(k) =>
      (BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .*(100).toLongExact, rev(k))
    }.toSeq
    val n = pairs.size.toLong
    val a = pairs.map(p => BigInt(p._1)).sum
    val b = pairs.map(p => BigInt(p._2)).sum
    val xx = pairs.map(p => BigInt(p._1) * p._1).sum
    val yy = pairs.map(p => BigInt(p._2) * p._2).sum
    val xy = pairs.map(p => BigInt(p._1) * p._2).sum
    val ccc = 2.0 * (n.toDouble * xy.toDouble - a.toDouble * b.toDouble) /
      ((n.toDouble * xx.toDouble - a.toDouble * a.toDouble)
        + (n.toDouble * yy.toDouble - b.toDouble * b.toDouble)
        + (a.toDouble - b.toDouble) * (a.toDouble - b.toDouble))
    val r = (n.toDouble * xy.toDouble - a.toDouble * b.toDouble) /
      math.sqrt((n.toDouble * xx.toDouble - a.toDouble * a.toDouble)
        * (n.toDouble * yy.toDouble - b.toDouble * b.toDouble))
    val got = q("q381_lin_ccc").collect().head
    assert(got.getLong(0) == n)
    assert(got.getDouble(1) == ccc)
    assert(got.getDouble(2) == r)
    assert(math.abs(ccc) <= math.abs(r) + 1e-15) // agreement <= association
  }

  test("q382 Krippendorff α equals the lcm-cleared rational replay") {
    import spark.implicits._
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toSeq
    val units = docs.map { case (id, nc) =>
      val present = (0 to 4).map(r => h32(s"${id}_r$r") % 10 < 6)
      val votes = (0 to 4).map(r => nc >= 150 + 10 * r)
      val m = present.count(identity)
      val x = (0 to 4).count(r => present(r) && votes(r))
      (m.toLong, x.toLong)
    }.filter(_._1 >= 2)
    val nUnits = units.size.toLong
    val n = units.map(_._1).sum
    val n1 = units.map(_._2).sum
    val n0 = n - n1
    val s12 = units.map { case (m, x) => 12 * x * (m - x) / (m - 1) }.sum
    val alpha = 1.0 - (n.toDouble - 1.0) * s12.toDouble /
      (12.0 * n1.toDouble * n0.toDouble)
    val got = q("q382_krippendorff_alpha").collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4)) == ((nUnits, n, n1, n0, s12)))
    assert(got.getDouble(5) == alpha)
  }

  test("q383 Hosmer-Lemeshow equals the out-of-sample stratum replay") {
    import spark.implicits._
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"lang", $"doc_id").as[(String, String, Long)].collect().toSeq
    val strata = docs.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, rows) =>
      val (tr, te) = rows.partition(r => h32(s"${r._3}_hl") % 2 == 0)
      val ntr = tr.size.toLong; val xt = tr.count(_._2 == "en").toLong
      val nte = te.size.toLong; val o = te.count(_._2 == "en").toLong
      (src, ntr, xt, nte, o)
    }
    val ok = strata.filter(t => t._3 > 0 && t._3 < t._2 && t._4 > 0)
    val hl = ok.map { case (_, ntr, xt, nte, o) =>
      val num = (BigInt(o) * ntr - BigInt(nte) * xt).toDouble
      num * num / (nte.toDouble * xt.toDouble * (ntr.toDouble - xt.toDouble))
    }.foldLeft(0.0)(_ + _) // sorted by source already
    val got = q("q383_hosmer_lemeshow").collect().head
    assert(got.getLong(0) == ok.size.toLong)
    assert(got.getLong(1) == (strata.size - ok.size).toLong)
    assert(ok.nonEmpty, "md5 split should leave usable strata at this SF")
    assert(got.getDouble(2) == hl)
  }

  test("q384 GK λ equals the modal-count replay") {
    import spark.implicits._
    val sl = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"lang").as[(String, String)].collect().toSeq
    val n = sl.size.toLong
    val sumModal = sl.groupBy(_._1).values
      .map(g => g.groupBy(_._2).values.map(_.size).max.toLong).sum
    val modalOverall = sl.groupBy(_._2).values.map(_.size).max.toLong
    val lambda = (sumModal - modalOverall).toDouble / (n - modalOverall).toDouble
    val got = q("q384_gk_lambda").collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ==
      ((n, sumModal, modalOverall)))
    assert(got.getDouble(3) == lambda)
    assert(lambda >= 0.0 && lambda <= 1.0)
  }

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "")
      .replaceAll("\\s+", " ").trim

  test("q385 weighted κ equals the |i−j| grid replay") {
    import spark.implicits._
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"text", $"n_chars").as[(String, Long)].collect().toSeq
    val stopRe = ("\\b(" + Seq("the", "a", "of", "to", "and").mkString("|") + ")\\b").r
    val pairs = docs.flatMap { case (text, nc) =>
      val nt = normText(text)
      val wc = if (nt.isEmpty) 0L else nt.count(_ == ' ') + 1L
      if (wc == 0) None
      else {
        val ns = stopRe.findAllIn(nt).length.toLong
        Some((math.min(nc * 2 / 100, 9L), math.min(10 * ns / wc, 9L)))
      }
    }
    val n = pairs.size.toLong
    val wo = pairs.map { case (ra, rb) => BigInt((ra - rb).abs) }.sum
    val rt = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val ct = pairs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    // .toSeq: a for-comprehension over Set keys yields a Set, which
    // would deduplicate equal product terms and undercount the sum
    val we = (for (ra <- rt.keys.toSeq; rb <- ct.keys.toSeq)
      yield BigInt((ra - rb).abs) * rt(ra) * ct(rb)).sum
    val kw = 1.0 - n.toDouble * wo.toDouble / we.toDouble
    val got = q("q385_weighted_kappa").collect().head
    assert(got.getLong(0) == n)
    assert(got.getDouble(1) == wo.toDouble)
    assert(got.getDouble(2) == we.toDouble)
    assert(got.getDouble(3) == kw)
  }

  test("q386 MH pooled OR equals the per-stratum fold replay") {
    import spark.implicits._
    val flags = operators.StatTestQueries.gopherDoc(spark, TestSpark.Sf)
      .select($"source", $"r_mwl", $"r_rep")
      .as[(String, Boolean, Boolean)].collect().toSeq
    val strata = flags.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, rows) =>
      val a = rows.count(r => r._2 && r._3).toLong
      val b = rows.count(r => r._2 && !r._3).toLong
      val c = rows.count(r => !r._2 && r._3).toLong
      val d = rows.count(r => !r._2 && !r._3).toLong
      val nst = (a + b + c + d).toDouble
      (a.toDouble * d.toDouble / nst, b.toDouble * c.toDouble / nst)
    }
    val sad = strata.map(_._1).foldLeft(0.0)(_ + _)
    val sbc = strata.map(_._2).foldLeft(0.0)(_ + _)
    val got = q("q386_mantel_haenszel").collect().head
    assert(got.getLong(0) == strata.size.toLong)
    assert(got.getDouble(1) == sad)
    assert(got.getDouble(2) == sbc)
    if (sbc == 0.0) assert(got.isNullAt(3))
    else assert(got.getDouble(3) == sad / sbc)
  }
}
