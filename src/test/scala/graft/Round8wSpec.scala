package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.q

/** Behavior pins for the Round8w operators (q283–q286): imperative
  * recomputation of each result plus the defining invariants (DP error
  * scales with 1/ε, Neyman variance ≤ proportional, planner sizes
  * monotone in the target width, the tournament finds the known best
  * arm).
  */
class Round8wSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  // ----- q283 DP accounting -------------------------------------------------

  test("q283 matches an imperative accounting; error scales exactly with 1/eps") {
    val counts = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source").as[String].collect().toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
    val k = counts.size.toLong
    val expected = Seq(("eps_0_1", 10L), ("eps_1_0", 1L)).flatMap { case (lbl, inv) =>
      counts.map { case (src, n) =>
        val b = k * inv
        val rel = 1000000L * b / n
        (lbl, src, n, b, rel, if (rel < 100000L) 1L else 0L)
      }
    }.sortBy(r => (r._1, r._2))
    val got = q("q283_dp_budget_accounting")(spark, TestSpark.Sf)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // tightening eps 10x scales the Laplace scale (and error floor) 10x
    val by = got.groupBy(_._1)
    by("eps_0_1").zip(by("eps_1_0")).foreach { case (loose, tight) =>
      assert(loose._4 == 10 * tight._4)
    }
  }

  // ----- q284 Neyman allocation ---------------------------------------------

  test("q284 matches an imperative Neyman table; Neyman variance <= proportional") {
    val xs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"text").as[(String, String)].collect().toSeq
      .map { case (s, t) =>
        (s, normText(t).split(" ").count(_.nonEmpty).toLong) }
    val m = xs.groupBy(_._1).toSeq.map { case (src, g) =>
      val nh = g.size.toLong
      val sx = g.map(_._2).sum
      val sx2 = g.map(r => BigInt(r._2) * r._2).sum
      val w2 = BigInt(nh) * sx2 - BigInt(sx) * sx
      val w = math.floor(math.sqrt(w2.toDouble) + 0.5).toLong
      (src, nh, w, w2)
    }
    val tw = m.map(_._3).sum; val tn = m.map(_._2).sum
    val alloc = m.map { case (src, nh, w, w2) =>
      (src, nh, w, math.max(1000L * w / tw, 1L), math.max(1000L * nh / tn, 1L), w2)
    }
    val vN = alloc.map(a => (a._6 / a._4).toLong).sum
    val vP = alloc.map(a => (a._6 / a._5).toLong).sum
    val expected = alloc.map(a => (a._1, a._2, a._3, a._4, a._5, vN, vP))
      .sortBy(_._1)
    val got = q("q284_neyman_allocation")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the CONTINUOUS Neyman solution minimizes the variance; the
    // integer-floored allocation (with the ≥1 floor) can give a hair
    // back — allow 1% rounding slack on the optimality direction
    assert(vN <= vP + vP / 100)
  }

  // ----- q285 sample planner ------------------------------------------------

  test("q285 matches an imperative planner; sizes shrink as the target widens") {
    val fps = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"text").as[String].collect().toSeq.map(t => md5hex(normText(t)))
    val n = fps.size.toLong
    val dups = fps.groupBy(identity).values.map(g => g.size - 1L).sum
    val p = 1000000L * dups / n
    val ln2d = math.log(2.0 / 0.05)
    val expected = Seq(10000L, 20000L, 50000L).map { em =>
      val nh = math.ceil(ln2d / (2 * (em / 1e6) * (em / 1e6))).toLong
      val den = BigInt(1000000) * em * em
      val nNorm = ((BigInt(3841459) * p * (1000000 - p) + den - 1) / den).toLong
      val r3 = (3000000 + em - 1) / em
      val req = math.max(nNorm, r3)
      (em, p, nh, nNorm, r3, req, 1000000L * req / n)
    }
    val got = q("q285_audit_sample_planner")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // monotone: a wider target never needs more samples
    assert(got.sliding(2).forall {
      case Seq(a, b) => b._3 <= a._3 && b._6 <= a._6; case _ => true })
    // the normal size never exceeds distribution-free Hoeffding
    assert(got.forall(r => r._6 <= math.max(r._3, r._5)))
  }

  // ----- q286 successive halving --------------------------------------------

  test("q286 matches an imperative tournament; the known-best arm survives") {
    val hs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id").as[Long].collect().toSeq
      .map(id => (id, h32("shs|" + id) % 4))
    def meanR(arm: Long, docs: Seq[Long]): Long = {
      val tot = docs.map(d => h32(s"sh|$arm|$d") % 1000 + arm * 20).sum
      tot / docs.size
    }
    var live: Seq[Long] = (0L until 8L).toVector
    var expected = Seq.empty[(Long, Long, Long, Long, Long)]
    for ((round, mod, keepN) <- Seq((1L, 4L, 4), (2L, 2L, 2), (3L, 1L, 1))) {
      val sample = hs.filter(_._2 % mod == 0).map(_._1)
      val scored = live.map(a => (a, sample.size.toLong, meanR(a, sample)))
        .sortBy(r => (-r._3, r._1))
      val kept = scored.take(keepN).map(_._1).toSet
      expected ++= scored.map { case (a, nd, mr) =>
        (round, a, nd, mr, if (kept.contains(a)) 1L else 0L) }
      live = scored.take(keepN).map(_._1)
    }
    val exp = expected.sortBy(r => (r._1, -r._5, r._2))
    val got = q("q286_successive_halving")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == exp)
    // ground truth: the +20/arm bias makes arm 7 the true best, and the
    // tournament's final survivor is exactly arm 7
    assert(got.filter(r => r._1 == 3L && r._5 == 1L).map(_._2) == Seq(7L))
  }
}
