package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pin for the Round-9 batch-7 operator (q338):
  * trimmed/winsorized means recomputed from a full sort.
  */
class Round9gSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  test("q338 equals a full-sort trimmed/winsorized replay") {
    val vs = Tables.t(spark, TestSpark.Sf, "orders")
      .select($"o_totalprice").as[Double].collect().toSeq
      .map(x => math.floor(x * 100 + 0.5).toLong).sorted
    val n = vs.size.toLong
    val lo = (n + 19) / 20; val hi = n - lo
    val interior = vs.slice(lo.toInt, hi.toInt) // ranks lo+1..hi
    val p05 = vs(lo.toInt) // rank lo+1
    val p95 = vs(hi.toInt - 1) // rank hi
    val mean = vs.sum / n
    val trimmed = interior.sum / interior.size
    val wins = (interior.sum + lo * p05 + (n - hi) * p95) / n
    val got = q("q338_trimmed_mean")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(got == ((n, mean, trimmed, wins, p05, p95)))
    // clamping can only pull the mean toward the interior
    assert(p05 <= p95)
  }
}
