package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pin for the Round-9 batch-9 operator (q343): the KMV
  * audit replayed hash-by-hash against the exact sliding distinct.
  */
class Round9iSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  test("q343 equals a window-by-window KMV replay; small windows are exact") {
    val du = Tables.t(spark, TestSpark.Sf, "events")
      .select(datediff(to_date($"ts".cast("timestamp")),
        lit("1970-01-01").cast("date")).cast("long"), $"user_id")
      .as[(Long, Long)].collect().toSeq.distinct
    val mn = du.map(_._1).min; val mx = du.map(_._1).max
    val expected = (mn + 6 to mx).flatMap { end =>
      val users = du.filter(p => p._1 >= end - 6 && p._1 <= end)
        .map(_._2).distinct
      if (users.isEmpty) None else {
        val exact = users.size.toLong
        val hs = users.map(u => h32(s"wau|$u")).distinct.sorted
        val est =
          if (hs.size < 256) hs.size.toLong
          else 255L * 4294967296L / hs(255)
        val err = math.floor((est - exact).toDouble / exact * 1e6 + 0.5).toLong
        Some((end, exact, est, err))
      }
    }
    val got = q("q343_sliding_kmv_audit")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == expected)
    // while every window fits in the sketch the audit must read exact
    assert(got.forall(r => r._2 >= 256 || (r._3 == r._2 && r._4 == 0L)))
  }
}
