package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8p operators (q256–q258): imperative
  * recomputation of each result plus the defining invariants (FastSS
  * neighborhood completeness at ED ≤ 1 and its ED-2 overshoot, the
  * count-product forecast matching the true join size exactly,
  * point-in-time features never exceeding the full-history ones).
  */
class Round8pSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private def deletions(w: String): Set[String] =
    (0 to w.length).map(i => if (i == 0) w
      else w.substring(0, i - 1) + w.substring(i)).toSet

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0 }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  // ----- q256 FastSS fuzzy join --------------------------------------------

  test("q256 matches an imperative FastSS join; neighborhood is complete at ED<=1") {
    val u = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"text").as[String].collect()
      .flatMap(t => normText(t).split(" ")).filter(_.nonEmpty).toSet
    val v = Tables.t(spark, TestSpark.Sf, "part")
      .select($"p_name").as[String].collect()
      .flatMap(_.toLowerCase.split(" ")).filter(_.nonEmpty).toSet
    val cand = for {
      a <- u.toSeq; b <- v.toSeq
      if (deletions(a) & deletions(b)).nonEmpty
    } yield (a, b, lev(a, b))
    val expected = cand
      .map { case (a, b, e) =>
        (if (e == 0) "ed0" else if (e == 1) "ed1" else "rejected", a, b) }
      .groupBy(_._1).toSeq.map { case (st, ps) =>
        (st, ps.size.toLong, ps.map(p => h32(p._2 + "|" + p._3) % 1000000).sum)
      }.sortBy(_._1)
    val got = q("q256_fuzzy_join_fastss")(spark, TestSpark.Sf)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == expected)
    // completeness: EVERY true ED<=1 pair shares a deletion variant —
    // the blocking never loses a match (check against brute force)
    val brute = for { a <- u.toSeq; b <- v.toSeq if lev(a, b) <= 1 } yield (a, b)
    assert(brute.forall { case (a, b) => (deletions(a) & deletions(b)).nonEmpty })
    // overshoot: the neighborhood CAN collide at ED 2 (ab/ba), which is
    // why the verify step exists
    assert((deletions("ab") & deletions("ba")).nonEmpty && lev("ab", "ba") == 2)
  }

  // ----- q257 join-order advisor -------------------------------------------

  test("q257 forecast equals the true join size exactly; chosen plan is minimal") {
    val got = q("q257_join_order_advisor")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq("plan_co_first", "plan_ol_first"))
    // the count-product identity is EXACT for equi-joins: Σ c_A(k)·c_B(k)
    got.foreach { case (_, predicted, actual, _, _) =>
      assert(predicted == actual) }
    // exactly the minimal predicted plan(s) are chosen
    val minp = got.map(_._2).min
    got.foreach { case (_, p, _, _, chosen) =>
      assert(chosen == (if (p == minp) 1L else 0L)) }
    // both plans end at the same final cardinality
    assert(got.map(_._4).distinct.size == 1)
    // imperative cross-check of one side: orders-per-customer products
    val ords = Tables.t(spark, TestSpark.Sf, "orders")
      .select($"o_custkey").as[Long].collect().toSeq
    val custs = Tables.t(spark, TestSpark.Sf, "customer")
      .select($"c_custkey").as[Long].collect().toSeq
    val oc = ords.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val predCO = custs.map(c => oc.getOrElse(c, 0L)).sum
    assert(got.find(_._1 == "plan_co_first").get._2 == predCO)
  }

  // ----- q258 point-in-time leakage ----------------------------------------

  test("q258 matches an imperative PIT audit; pit spend never exceeds full") {
    val cutoff = java.time.LocalDate.parse("1999-01-01")
    val ords = Tables.t(spark, TestSpark.Sf, "orders")
      .select($"o_custkey", date_format($"o_orderdate", "yyyy-MM-dd"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"))
      .as[(Long, String, Long)].collect().toSeq
    val seg = Tables.t(spark, TestSpark.Sf, "customer")
      .select($"c_custkey", $"c_mktsegment").as[(Long, String)].collect().toMap
    val feats = ords.groupBy(_._1).toSeq.flatMap { case (cust, os) =>
      val full = os.map(_._3).sum
      val pit = os.filter(o => java.time.LocalDate.parse(o._2).isBefore(cutoff))
        .map(_._3).sum
      val serving = os.count(o => !java.time.LocalDate.parse(o._2).isBefore(cutoff))
      if (serving > 0) Some((seg(cust), full, pit)) else None
    }
    val expected = feats.groupBy(_._1).toSeq.map { case (sg, fs) =>
      val n = fs.size.toLong
      val leaky = fs.count(f => f._2 > f._3).toLong
      val sf = fs.map(_._2).sum; val sp = fs.map(_._3).sum
      (sg, n, leaky, 1000000L * leaky / n, sf, sp,
        (BigInt(1000000) * sf / sp).toLong)
    }.sortBy(_._1)
    val got = q("q258_pit_leakage")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // a point-in-time feature can only see LESS: pit ≤ full, inflation ≥ 1
    assert(got.forall(r => r._6 <= r._5 && r._7 >= 1000000L))
    assert(got.forall(r => r._4 >= 0L && r._4 <= 1000000L))
  }
}
