package graft

import graft.PlanText.PlanTextOps

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, TextAnalysis => TA}
import graft.TestSpark.q

/** Behavior pins for the Round7f operators (q194–q197) beyond the
  * oracle gate: imperative recomputations of each statistic plus the
  * plan-shape assertions the scale commentary claims. */
class Round7fSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private def mln(x: Double): Long = math.floor(math.log(x) * 1e6 + 0.5).toLong

  private def docs: Array[(Long, String, Seq[String], Long)] =
    Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"source", $"text", $"n_chars")
      .as[(Long, String, String, Long)].collect()
      .map { case (id, src, t, nc) => (id, src, normText(t).split(" ").toSeq, nc) }

  // ----- q194 source similarity ----------------------------------------

  test("q194 matches an imperative MinHash + exact-Jaccard source matrix") {
    val bySrc: Map[String, Set[String]] = docs
      .flatMap { case (_, src, ts, _) => ts.map((src, _)) }
      .distinct.groupBy(_._1).map { case (s, g) => s -> g.map(_._2).toSet }
    val sigs: Map[String, IndexedSeq[Long]] = bySrc.map { case (s, toks) =>
      s -> (0 until 8).map { k =>
        val (a, b) = Dedup.permConsts(k)
        toks.map(t => (h32(t) * a + b) % Dedup.HashPrime).min
      }
    }
    val srcs = bySrc.keys.toSeq.sorted
    val expected = (for {
      a <- srcs; b <- srcs if a < b
    } yield {
      val (na, nb) = (bySrc(a).size.toLong, bySrc(b).size.toLong)
      val inter = (bySrc(a) intersect bySrc(b)).size.toLong
      val matches = (0 until 8).count(k => sigs(a)(k) == sigs(b)(k)).toLong
      (a, b, na, nb, inter, matches * 125000L,
        1000000L * inter / (na + nb - inter))
    }).sortBy(r => (r._1, r._2))
    val df = q("q194_source_similarity")(spark, TestSpark.Sf)
    val got = df.as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the pairwise stage joins |sources|² signature rows, never content:
    // the sig×sig join is a broadcast nested-loop over the tiny
    // aggregated side (the only non-equi join in the plan)
    val plan = df.planText
    assert(plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  // ----- q195 KS drift --------------------------------------------------

  test("q195 matches an imperative two-sample KS statistic") {
    val ds = docs.map { case (id, src, _, nc) => (id, src, nc) }
    val grid = ds.map(_._3).distinct.sorted
    val n = ds.length.toLong
    val expected = ds.map(_._2).distinct.sorted.map { src =>
      val vs = ds.filter(_._2 == src).map(_._3)
      val nS = vs.length.toLong
      val mx = grid.map { v =>
        val cumS = vs.count(_ <= v).toLong
        val cumC = ds.count(_._3 <= v).toLong
        (BigInt(cumS) * n - BigInt(cumC) * nS).abs
      }.max
      (src, nS, (BigInt(1000000) * mx / (BigInt(nS) * n)).toLong)
    }.toSeq
    val df = q("q195_ks_drift")(spark, TestSpark.Sf)
    val got = df.as[(String, Long, Long)].collect().toSeq
    assert(got == expected)
    // KS is a sup-norm of probability differences: bounded by 1e6
    assert(got.forall(r => r._3 >= 0 && r._3 <= 1000000L))
  }

  // ----- q196 PMI bigrams -----------------------------------------------

  test("q196 matches an imperative PMI over corpus bigrams; top-k is TakeOrdered") {
    val base = docs.map { case (_, _, ts, _) => ts }.filter(_.size >= 2)
    val bi = base.flatMap(ts => ts.sliding(2).map(w => (w(0), w(1))))
      .groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    val uni = base.flatten.groupBy(identity).map { case (t, g) => t -> g.size.toLong }
    val nBi = bi.values.sum
    val nUni = uni.values.sum
    val expected = bi.filter(_._2 >= 5L).toSeq.map { case ((t1, t2), f12) =>
      (t1, t2, f12,
        mln(f12.toDouble / nBi) - mln(uni(t1).toDouble / nUni) - mln(uni(t2).toDouble / nUni))
    }.sortBy { case (t1, t2, f12, _) => (-f12, t1, t2) }.take(50)
    val df = q("q196_pmi_bigrams")(spark, TestSpark.Sf)
    val got = df.as[(String, String, Long, Long)].collect().toSeq
    assert(got == expected)
    // the top-50 cut never globally sorts: partial per-partition top-k
    val plan = df.planText
    assert(plan.contains("TakeOrderedAndProject"))
  }

  // ----- q197 diversity cap ---------------------------------------------

  test("q197 matches an imperative per-bucket quota; kept branch gets WindowGroupLimit") {
    // derive (bk, u) through the same shared Spark helpers the query
    // uses (the q183 pattern), then apply the cap imperatively
    val keyed = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"source",
        graft.functions.WordShingleHash32(TA.normText($"text"), 3).as("hs"))
      .select($"doc_id", $"source",
        md5(concat_ws("|", lit("b0"),
          Dedup.minhashInt($"hs", 0).cast("string"),
          Dedup.minhashInt($"hs", 1).cast("string"))).as("bk"),
        conv(substring(md5(concat(lit("c|"), $"doc_id".cast("string"))), 1, 8), 16, 10)
          .cast("long").as("u"))
      .as[(Long, String, String, Long)].collect()
    val keptIds = keyed.groupBy(_._3).values.flatMap { bucket =>
      bucket.sortBy(d => (d._4, d._1)).take(20).map(_._1)
    }.toSet
    val expected = keyed.groupBy(_._2).map { case (src, g) =>
      val kept = g.filter(d => keptIds(d._1))
      (src, g.length.toLong, kept.length.toLong,
        g.length.toLong - kept.length, kept.map(_._1).sum)
    }.toSeq.sortBy(_._1)
    val df = q("q197_diversity_cap")(spark, TestSpark.Sf)
    val got = df.as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the kept branch's rank-filter compiles to WindowGroupLimit: each
    // map task pre-prunes buckets to ≤20 rows before the bk shuffle
    val plan = df.planText
    assert(plan.contains("WindowGroupLimit"),
      "filter(rn <= 20) directly above the window must compile to WindowGroupLimit")
    // the totals branch must NOT pay the window: exactly one Window
    // operator in the whole plan (the kept branch's)
    val windowExecs = "(?m)^\\s*[+:*-]*\\s*Window\\b".r.findAllIn(plan).size
    assert(windowExecs <= 1, s"totals branch must be window-free, saw $windowExecs Window nodes")
  }
}
