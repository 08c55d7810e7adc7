package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round-9 batch-2 operators (q322–q324):
  * the column profile recomputed from collected rows, median/MAD
  * replayed against a sort-based median, and the Misra–Gries
  * guarantee grid checked against its defining theorem.
  */
class Round9bSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  test("q322 equals an imperative per-column profile") {
    val rows = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_extendedprice",
        $"l_returnflag", datediff(to_date($"l_shipdate"),
          lit("1970-01-01").cast("date")).cast("long").as("epd"))
      .as[(Long, Double, Double, String, Long)].collect().toSeq
    val n = rows.size.toLong
    def prof(name: String, vs: Seq[Long]): (String, Long, Long, Long, Long, String, String) =
      (name, n, vs.distinct.size.toLong, 0L, 1000000L,
        vs.min.toString, vs.max.toString)
    val c2 = rows.map(_._2.toLong)
    val c3 = rows.map(r => math.floor(r._3 * 100 + 0.5).toLong)
    val c4 = rows.map(_._4)
    val expected = Seq(
      prof("l_extendedprice_cents", c3),
      prof("l_orderkey", rows.map(_._1)),
      prof("l_quantity_int", c2),
      ("l_returnflag", n, c4.distinct.size.toLong, 0L, 1000000L,
        c4.min, c4.max),
      prof("l_shipdate_epd", rows.map(_._5)))
    val got = q("q322_column_profile")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, String, String)].collect().toSeq
    assert(got == expected)
    assert(got.forall(r => r._5 == 1000000L && r._4 == 0L)) // complete data
  }

  test("q323 equals a sort-based median/MAD replay") {
    val vs = Tables.t(spark, TestSpark.Sf, "orders")
      .select($"o_totalprice").as[Double].collect().toSeq
      .map(x => math.floor(x * 100 + 0.5).toLong)
    val n = vs.size.toLong
    def lowerMedian(xs: Seq[Long]): Long =
      xs.sorted.apply(((n + 1) / 2 - 1).toInt) // rank (n+1) div 2, 1-based
    val med = lowerMedian(vs)
    val devs = vs.map(v => math.abs(v - med))
    val mad = lowerMedian(devs)
    val nOut = devs.count(d => d * 10000 > 3 * 14826 * mad).toLong
    val got = q("q323_mad_outliers")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(got == ((n, med, mad, nOut, 1000000L * nOut / n, devs.max)))
    // the MAD rule must keep the bulk: under 50% can ever be outliers
    assert(nOut * 2 < n)
  }

  test("q324 grid matches the Misra-Gries guarantee theorem exactly") {
    val toks = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"text").as[String].collect().toSeq
      .flatMap(t => normText(t).split(" ").filter(_.nonEmpty))
    val f = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nn = toks.size.toLong
    val top10 = f.toSeq.sortBy { case (t, c) => (-c, t) }.take(10).map(_._1).toSet
    val expected = Seq(8L, 16L, 32L, 64L, 128L).map { k =>
      val thr = nn / (k + 1)
      (k, thr, f.values.count(_ > thr).toLong,
        top10.count(t => f(t) > thr).toLong)
    }
    val got = q("q324_sketch_capacity")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == expected)
    // guarantees are monotone in the counter budget
    assert(got.sliding(2).forall(w => w.head._3 <= w.last._3 &&
      w.head._4 <= w.last._4))
  }
}
