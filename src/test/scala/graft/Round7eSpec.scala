package graft

import graft.PlanText.PlanTextOps

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round7e operators beyond the oracle gate. */
class Round7eSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private def docs: Array[(Long, String, Seq[String], Long)] =
    Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"source", $"text", $"n_chars")
      .as[(Long, String, String, Long)].collect()
      .map { case (id, src, t, nc) => (id, src, normText(t).split(" ").toSeq, nc) }

  // ----- q190 importance reweighting -----------------------------------

  test("q190 matches an imperative DSIR-unigram computation") {
    val ds = docs
    val toks = ds.flatMap { case (id, src, ts, _) => ts.map((id, src, _)) }
    val srcCounts = toks.groupBy(_._2).map { case (s, g) => s -> g.length.toLong }
    val tSrc = srcCounts.toSeq.sortBy { case (s, n) => (-n, s) }.head._1
    val nT = srcCounts(tSrc)
    val corpus = toks.groupBy(_._3).map { case (t, g) => t -> g.length.toLong }
    val v = corpus.size.toLong
    val nC = corpus.values.sum
    val tFreq = toks.filter(_._2 == tSrc).groupBy(_._3)
      .map { case (t, g) => t -> g.length.toLong }
    def mln(x: Double): Long = math.floor(math.log(x) * 1e6 + 0.5).toLong
    val dln = corpus.map { case (t, fc) =>
      t -> (mln((tFreq.getOrElse(t, 0L) + 1).toDouble / (nT + v)) -
        mln((fc + 1).toDouble / (nC + v)))
    }
    val scored = ds.filter(_._3.exists(_.nonEmpty)).map { case (id, src, ts, _) =>
      val s = ts.map(dln).sum
      (id, src, ts.size.toLong, s / ts.size)
    }
    val sel = scored.sortBy { case (id, _, _, sc) => (-sc, id) }.take(100)
      .map(_._1).toSet
    val expected = scored.groupBy(_._2).map { case (src, g) =>
      val s = g.filter(d => sel(d._1))
      (src, g.length.toLong, s.length.toLong, s.map(_._3).sum, s.map(_._1).sum)
    }.toSeq.sortBy(_._1)
    val got = q("q190_importance_reweighting")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.map(_._3).sum == 100L)
  }

  // ----- q191 hashed linear scorer --------------------------------------

  test("q191 matches an imperative hashing-trick scorer; plan is join-free") {
    val expected = docs.map { case (id, src, ts, _) =>
      val logit = ts.map { t =>
        val b = h32(t) % 1024
        h32(s"w|$b") % 2001 - 1000
      }.sum
      (id, src, logit)
    }.groupBy(_._2).map { case (src, g) =>
      val kept = g.filter(_._3 >= 0)
      (src, g.length.toLong, kept.length.toLong, kept.map(_._1).sum,
        g.map(_._3).sum / g.length)
    }.toSeq.sortBy(_._1)
    val df = q("q191_hashed_linear_score")(spark, TestSpark.Sf)
    val got = df.as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the weight is a pure expression of the token hash: no join anywhere
    val plan = df.planText
    assert(!plan.contains("Join"), "scorer must be join-free")
  }

  // ----- q192 length-matching resample ----------------------------------

  test("q192 matches an imperative distribution-matching resample") {
    val ds = docs
    val withB = ds.map { case (id, src, _, nc) => (id, src, nc / 256) }
    val nSb = withB.groupBy(d => (d._2, d._3)).map { case (k, g) => k -> g.length.toLong }
    val nB = withB.groupBy(_._3).map { case (b, g) => b -> g.length.toLong }
    val nS = withB.groupBy(_._2).map { case (s, g) => s -> g.length.toLong }
    val n = withB.length.toLong
    val expected = withB.map { case (id, src, b) =>
      val u = h32(s"r|$id") % 1000000
      val acc = u * n * nSb((src, b)) < 1000000L * nB(b) * nS(src)
      (id, src, acc)
    }.groupBy(_._2).map { case (src, g) =>
      val a = g.filter(_._3)
      (src, g.length.toLong, a.length.toLong, a.map(_._1).sum)
    }.toSeq.sortBy(_._1)
    val got = q("q192_length_matching")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // matching can only downsample over-represented cells: acceptance
    // never exceeds the population anywhere
    assert(got.forall(r => r._3 <= r._2))
  }

  // ----- q193 windowed TTR ----------------------------------------------

  test("q193 matches an imperative windowed type-token ratio") {
    val expected = docs.flatMap { case (id, _, ts, _) =>
      val wins = ts.grouped(50).filter(_.size == 50).toSeq
      if (wins.isEmpty) None
      else {
        val types = wins.map(_.distinct.size.toLong)
        Some((id, wins.size.toLong, types.sum,
          1000000L * types.sum / (50L * wins.size)))
      }
    }.toSeq.sortBy(_._1)
    val got = q("q193_window_ttr")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // TTR is a ratio of types to 50 tokens: bounded by construction
    assert(got.forall(r => r._4 > 0 && r._4 <= 1000000L))
  }
}
