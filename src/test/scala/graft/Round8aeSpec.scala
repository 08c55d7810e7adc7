package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8ae operators (q309–q311): the operating
  * points replayed against an imperative threshold sweep, the Murphy
  * decomposition's floor-bounded identity, and the collision audit
  * replayed hash-by-hash with its monotone-in-width contract.
  */
class Round8aeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  /** The shared hashed-token score + label (q297's form), imperative. */
  private def scoredDocs(): Seq[(Long, Long)] =
    Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"n_chars", $"text").as[(Long, Long, String)]
      .collect().toSeq.map { case (_, nc, text) =>
        val score = normText(text).split(" ").filter(_.nonEmpty)
          .map(t => h32("w|" + (h32(t) % 1024)) % 2001 - 1000).sum
        (score, if (nc >= 250) 1L else 0L)
      }

  // ----- q309 operating points ----------------------------------------------

  test("q309 picks the same operating points as an imperative threshold sweep") {
    val lab = scoredDocs()
    val np = lab.map(_._2).sum; val nn = lab.size - np
    val grid = lab.map(_._1).distinct.sorted.map { thr =>
      val tp = lab.count(x => x._1 >= thr && x._2 == 1L).toLong
      val fp = lab.count(x => x._1 >= thr && x._2 == 0L).toLong
      val p = 1000000L * tp / (tp + fp); val r = 1000000L * tp / np
      val f1 = if (p + r == 0) 0L else 2 * p * r / (p + r)
      val j = 1000000L * tp / np - 1000000L * fp / nn
      (thr, tp, fp, np - tp, p, r, f1, j)
    }
    val bestF = grid.minBy(g => (-g._7, g._1))
    val bestJ = grid.minBy(g => (-g._8, g._1))
    val expected = Seq(
      ("f1", bestF._1, bestF._2, bestF._3, bestF._4, bestF._5, bestF._6,
        bestF._7, bestF._8),
      ("youden", bestJ._1, bestJ._2, bestJ._3, bestJ._4, bestJ._5, bestJ._6,
        bestJ._7, bestJ._8))
    val got = q("q309_operating_point")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq.sortBy(_._1)
    assert(got == expected)
    // the F1 pick dominates every other threshold's F1 (global argmax)
    assert(grid.forall(_._7 <= bestF._7))
  }

  // ----- q310 Brier decomposition -------------------------------------------

  test("q310 components recompute imperatively; the Murphy identity holds to floors") {
    val lab = scoredDocs()
    val mn = lab.map(_._1).min; val mx = lab.map(_._1).max
    val binned = lab.map { case (s, p) =>
      val bin = (s - mn) * 16 / (mx - mn + 1)
      (bin, (2 * bin + 1) * 1000000L / 32, p)
    }
    val n = binned.size.toLong; val sp = binned.map(_._3).sum
    val obar = 1000000L * sp / n
    val brier = binned.map { case (_, f, p) =>
      BigInt(f - p * 1000000L) * (f - p * 1000000L) }.sum /
      (BigInt(n) * 1000000L)
    val byBin = binned.groupBy(b => (b._1, b._2)).toSeq.map { case ((_, f), g) =>
      val nk = g.size.toLong; val pk = g.map(_._3).sum
      (f, nk, 1000000L * pk / nk)
    }
    val rel = byBin.map { case (f, nk, ok) =>
      BigInt(nk) * (f - ok) * (f - ok) }.sum / (BigInt(n) * 1000000L)
    val res = byBin.map { case (_, nk, ok) =>
      BigInt(nk) * (ok - obar) * (ok - obar) }.sum / (BigInt(n) * 1000000L)
    val unc = obar * (1000000L - obar) / 1000000L
    val gap = brier.toLong - (rel.toLong - res.toLong + unc)
    val got = q("q310_brier_decomposition")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((brier.toLong, rel.toLong, res.toLong, unc, gap)))
    assert(math.abs(gap) <= 8) // floor-bounded Murphy identity
    assert(got.head._1 >= 0 && got.head._4 >= 0)
  }

  // ----- q311 collision audit -----------------------------------------------

  test("q311 replays hash-by-hash; collisions shrink monotonically with width") {
    val hs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id").as[Long].collect().toSeq.map(id => h32(s"ns|$id"))
    val n = hs.size.toLong
    val expected = Seq(16L, 20L, 24L, 28L, 32L).map { w =>
      val m = 1L << w
      val byB = hs.groupBy(_ % m).values.map(_.size.toLong)
      (w, n, byB.size.toLong, byB.map(c => c * (c - 1) / 2).sum,
        1000000L * (n * (n - 1) / 2) / m)
    }
    val got = q("q311_hash_collision_audit")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // wider namespace ⇒ no more observed or expected collisions
    assert(got.sliding(2).forall(p => p.head._4 >= p.last._4 &&
      p.head._5 >= p.last._5))
  }
}
