package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8af operators (q312–q314): the EWMA
  * replayed with exact integer weights (whose mass identity
  * Σ 7^k·8^(15−k) = 8^16 − 7^16 is asserted), the richness estimators
  * recomputed from raw halves, and the truncation table's monotone
  * loss contract.
  */
class Round8afSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private def docToks(): Seq[(Long, Seq[String])] =
    Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .map { case (id, t) => (id, normText(t).split(" ").filter(_.nonEmpty).toSeq) }

  // ----- q312 EWMA ----------------------------------------------------------

  test("q312 equals an imperative exact-weight EWMA; weight mass checks out") {
    val days = Tables.t(spark, TestSpark.Sf, "events")
      .select(datediff(to_date($"ts".cast("timestamp")),
        lit("1970-01-01").cast("date")).cast("long").as("epd"))
      .groupBy($"epd").agg(count(lit(1)).as("x"))
      .as[(Long, Long)].collect().toMap
    val weights = (0 to 15).map(k =>
      BigInt(7).pow(k) * BigInt(8).pow(15 - k))
    assert(weights.sum == BigInt(8).pow(16) - BigInt(7).pow(16))
    val n = days.size.toLong
    val sx = days.values.sum
    val sxx = days.values.map(x => BigInt(x) * x).sum
    val sigma = math.floor(math.sqrt((n * sxx - BigInt(sx) * sx).toDouble)
      / n.toDouble * 1000000 + 0.5).toLong
    val expected = days.keys.toSeq.sorted.flatMap { t =>
      val lagVals = (0 to 15).map(k => days.get(t - k))
      if (lagVals.forall(_.isDefined)) {
        val wsum = lagVals.zipWithIndex.map { case (v, k) =>
          weights(k) * v.get }.sum
        val z = (BigInt(1000000) * wsum / BigInt(8).pow(16)).toLong
        val x = days(t)
        Some((t, x, z, if ((x * 1000000L - z).abs > 3 * sigma) 1L else 0L))
      } else None
    }
    val got = q("q312_ewma_control_chart")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == expected)
    assert(got.nonEmpty)
  }

  // ----- q313 richness estimators -------------------------------------------

  test("q313 equals an imperative capture-recapture; estimators bound sanely") {
    val docs = docToks()
    val byHalf = docs.map { case (id, ts) => (h32(s"cr|$id") % 2, ts.toSet) }
    val s1 = byHalf.filter(_._1 == 0).flatMap(_._2).toSet
    val s2 = byHalf.filter(_._1 == 1).flatMap(_._2).toSet
    val df = docs.flatMap { case (id, ts) => ts.distinct.map(t => (t, id)) }
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val vTrue = df.size.toLong
    val n1 = s1.size.toLong; val n2 = s2.size.toLong
    val mm = (s1 & s2).size.toLong
    val f1 = df.values.count(_ == 1L).toLong
    val f2 = df.values.count(_ == 2L).toLong
    val lp = n1 * n2 / mm
    val chao1 = vTrue + f1 * (f1 - 1) / (2 * (f2 + 1))
    def err(e: Long) =
      math.floor((e - vTrue).toDouble / vTrue.toDouble * 1000000 + 0.5).toLong
    val got = q("q313_vocab_capture_recapture")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got == Seq((vTrue, n1, n2, mm, f1, f2, lp, chao1, err(lp),
      err(chao1))))
    assert(mm <= math.min(n1, n2) && lp >= math.max(n1, n2))
    assert(chao1 >= vTrue) // richness estimators never undercut observed
  }

  // ----- q314 truncation loss -----------------------------------------------

  test("q314 equals an imperative loss table; loss is monotone in the window") {
    val nts = docToks().map(_._2.size.toLong)
    val tot = nts.sum
    val expected = Seq(16L, 32L, 64L, 128L).map { w =>
      val kept = nts.map(n => math.min(n, w)).sum
      (w, nts.size.toLong, nts.count(_ > w).toLong, tot, kept,
        1000000L * (tot - kept) / tot)
    }
    val got = q("q314_truncation_loss")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.sliding(2).forall(p => p.head._6 >= p.last._6))
  }
}
