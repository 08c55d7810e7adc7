package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8ad operators (q306–q308): imperative
  * recomputation of the Heaps OLS over the geometric checkpoint grid,
  * the cross-correlation moments with the pairwise-overlap invariant,
  * and the AMS counters replayed sign-by-sign against the exact F2.
  */
class Round8adSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private def lnm(x: Double): Long = math.floor(math.log(x) * 1e6 + 0.5).toLong

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def docTokens(): Seq[(Long, Seq[String])] =
    Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .map { case (id, t) => (id, normText(t).split(" ").filter(_.nonEmpty).toSeq) }

  // ----- q306 Heaps fit ------------------------------------------------------

  test("q306 equals an imperative OLS over the geometric checkpoint grid") {
    val docs = docTokens()
    val mxid = docs.map(_._1).max
    val firstSeen = docs.flatMap { case (id, ts) => ts.map(t => (t, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val pts = (1 to 16).map { k =>
      val thr = mxid >> (16 - k)
      val nn = docs.filter(_._1 <= thr).map(_._2.size.toLong).sum
      val vv = firstSeen.values.count(_ <= thr).toLong
      (lnm(nn.toDouble), lnm(vv.toDouble))
    }
    val n = pts.size.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val syy = pts.map(p => p._2 * p._2).sum
    val beta = round6((n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble)
    val r2 =
      if (n * syy - sy * sy == 0) 1.0
      else round6((n * sxy - sx * sy).toDouble * (n * sxy - sx * sy).toDouble /
        ((n * sxx - sx * sx).toDouble * (n * syy - sy * sy).toDouble))
    val got = q("q306_heaps_fit")(spark, TestSpark.Sf)
      .as[(Long, Double, Double)].collect().toSeq
    assert(got == Seq((16L, beta, r2)))
    assert(got.head._2 >= 0.0 && got.head._2 < 1.0) // sublinear vocab growth
  }

  // ----- q307 cross-correlation ----------------------------------------------

  test("q307 equals an imperative CCF; overlap counts follow |lag|") {
    val ev = Tables.t(spark, TestSpark.Sf, "events")
      .select(datediff(to_date($"ts".cast("timestamp")),
        lit("1970-01-01").cast("date")).cast("long").as("epd"),
        $"event_type", floor($"value" + 0.5).cast("long").as("v"))
      .as[(Long, String, Long)].collect().toSeq
    val days = ev.map(_._1).distinct.sorted
    val a = days.map(d => d ->
      ev.count(e => e._1 == d && e._2 == "error").toLong).toMap
    val b = days.map(d => d ->
      ev.filter(e => e._1 == d && e._2 == "purchase").map(_._3).sum).toMap
    val n = days.size.toLong
    val sa = a.values.sum; val sb = b.values.sum
    val ca = days.map(d => d -> (n * a(d) - sa)).toMap
    val cb = days.map(d => d -> (n * b(d) - sb)).toMap
    val da = ca.values.map(c => BigInt(c) * c).sum
    val db = cb.values.map(c => BigInt(c) * c).sum
    val expected = (-3L to 3L).map { l =>
      val pairs = days.filter(d => cb.contains(d + l))
      val num = pairs.map(d => BigInt(ca(d)) * cb(d + l)).sum
      (l, pairs.size.toLong,
        math.floor(num.toDouble / math.sqrt(da.toDouble * db.toDouble)
          * 1000000 + 0.5).toLong)
    }
    val got = q("q307_cross_correlation")(spark, TestSpark.Sf)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == expected)
    // contiguous day grid ⇒ overlap shrinks by exactly |lag|
    assert(got.forall { case (l, np, _) => np == n - math.abs(l) })
    assert(got.forall(_._3.abs <= 1000000L))
  }

  // ----- q308 AMS F2 sketch --------------------------------------------------

  test("q308 counters replay sign-by-sign; estimates aggregate the 8 cells") {
    val toks = docTokens().flatMap(_._2)
    val exact = toks.groupBy(identity).view.mapValues(_.size.toLong)
      .values.map(f => f * f).sum
    val z2 = (0 until 8).map { j =>
      val z = toks.map(t => h32(s"$j|$t") % 2 * 2 - 1).sum
      z * z
    }
    val estMean = z2.sum / 8
    val sortedZ2 = z2.sorted
    val estMedian = (sortedZ2(3) + sortedZ2(4)) / 2
    def errMicro(est: Long) =
      math.floor((est - exact).toDouble / exact.toDouble * 1000000 + 0.5).toLong
    val got = q("q308_ams_f2_sketch")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((exact, estMean, estMedian, errMicro(estMean),
      errMicro(estMedian))))
    assert(exact > 0L && estMean >= 0L && estMedian >= 0L)
  }
}
