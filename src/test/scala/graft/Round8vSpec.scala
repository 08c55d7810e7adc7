package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8v operators (q279–q282): imperative
  * recomputation of each result plus the defining invariants (TwoNN
  * ratios ≥ 1, serpentine beats round-robin here, fractional knapsack
  * exhausts the budget and is greedy-optimal, the optimal chain cost
  * really is minimal over all 24 permutations).
  */
class Round8vSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private def toks(text: String): Seq[String] =
    normText(text).split(" ").filter(_.nonEmpty).toSeq

  // ----- q279 TwoNN ---------------------------------------------------------

  test("q279 matches an imperative TwoNN; every ratio >= 1 so ID > 0") {
    // mirror Similarity.quantize: round(x * 10000) — integer-valued doubles
    val vecs = Tables.t(spark, TestSpark.Sf, "embeddings")
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))"))
      .as[(Long, Seq[Long])].collect().toSeq
    val probes = vecs.filter(_._1 % 20 == 0)
    val lns = probes.flatMap { case (qid, qv) =>
      val d2 = vecs.filter(_._1 != qid).map { case (cid, cv) =>
        val d = qv.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum
        (d, cid)
      }.sorted.take(2)
      val (d1, d2v) = (d2(0)._1, d2(1)._1)
      if (d1 > 0)
        Some(math.floor(math.log(d2v.toDouble / d1) * 1e6 + 0.5).toLong)
      else None
    }
    val expected = (lns.size.toLong, lns.sum,
      if (lns.sum == 0) None else Some(2000000L * lns.size * 1000 / lns.sum))
    val got = q("q279_twonn_intrinsic_dim")(spark, TestSpark.Sf)
      .as[(Long, Long, Option[Long])].collect().head
    assert(got == expected)
    assert(lns.forall(_ >= 0L)) // d2 >= d1 by construction
    assert(got._3.forall(_ > 0L))
  }

  // ----- q280 serpentine sharding -------------------------------------------

  test("q280 matches an imperative serpentine deal; serpentine never worse than RR") {
    val mass = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"text").as[(String, String)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(d => toks(d._2).size.toLong).sum)
      .toSeq.sortBy { case (src, t) => (-t, src) }
    val asg = mass.zipWithIndex.map { case ((src, t), r) =>
      val serp = if ((r / 8) % 2 == 0) r % 8 else 7 - r % 8
      (serp.toLong, r % 8L, t)
    }
    val serp = asg.groupBy(_._1).view
      .mapValues(g => (g.size.toLong, g.map(_._3).sum)).toMap
    val rr = asg.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val tt = asg.map(_._3).sum
    val bS = 1000000L * serp.values.map(_._2).max / (tt / 8)
    val bR = 1000000L * rr.values.max / (tt / 8)
    val expected = (0L to 7L).map { sh =>
      (sh, serp(sh)._1, serp(sh)._2, rr(sh), bS, bR) }
    val got = q("q280_serpentine_sharding")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(bS <= bR) // the serpentine pairing helps on this mass profile
    assert(bS >= 1000000L) // max load is at least the ideal
  }

  // ----- q281 knapsack ------------------------------------------------------

  test("q281 matches an imperative greedy; budget exhausted, density order optimal") {
    val src = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"n_chars", $"text").as[(String, Long, String)]
      .collect().toSeq.groupBy(_._1).toSeq.map { case (s, ds) =>
        (s, ds.map(d => toks(d._3).size.toLong).sum,
          ds.count(_._2 >= 250).toLong)
      }.filter(_._2 > 0)
    val tc = src.map(_._2).sum
    val budget = 2 * tc / 5
    val ordered = src.sortBy { case (s, c, v) => (-(v.toDouble / c), s) }
    var prev = 0L
    val takes = ordered.map { case (s, c, v) =>
      val take =
        if (prev + c <= budget) 1000000L
        else if (prev >= budget) 0L
        else 1000000L * (budget - prev) / c
      prev += c
      (s, c, v, take, c * take / 1000000L, v * take)
    }
    val expected = takes.sortBy(_._1)
    val got = q("q281_knapsack_budget")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // budget feasibility and near-exhaustion (one floor loss at most)
    val spent = got.map(_._5).sum
    assert(spent <= budget && budget - spent <= got.size)
    // exchange-argument optimality: every fully-taken source has density
    // >= every untaken one
    val taken = got.filter(_._4 == 1000000L).map(r => r._3.toDouble / r._2)
    val untaken = got.filter(_._4 == 0L).map(r => r._3.toDouble / r._2)
    if (taken.nonEmpty && untaken.nonEmpty)
      assert(taken.min >= untaken.max - 1e-12)
  }

  // ----- q282 filter ordering ----------------------------------------------

  test("q282 matches an imperative advisor; optimal order is minimal over all 24") {
    val rows = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"n_chars", $"lang", $"source", $"text")
      .as[(Long, String, String, String)].collect().toSeq
    val n = rows.size.toLong
    val sels = Seq(
      ("f1_len", rows.count(_._1 >= 150).toLong),
      ("f2_lang", rows.count(_._2 == "en").toLong),
      ("f3_tok", rows.count(r => toks(r._4).size >= 30).toLong),
      ("f4_src", rows.count(_._3 >= "src1").toLong))
      .map { case (f, c) => (f, 1000000L * c / n) }
    def cost(o: Seq[Long]): Long =
      1000000L + o(0) + o(0) * o(1) / 1000000L +
        (o(0) * o(1) / 1000000L) * o(2) / 1000000L
    val opt = sels.sortBy(r => (r._2, r._1)).map(_._2)
    val naive = sels.map(_._2)
    val co = cost(opt.take(3)); val cn = cost(naive.take(3))
    val rank = sels.sortBy(r => (r._2, r._1)).zipWithIndex
      .map { case ((f, _), i) => f -> (i + 1L) }.toMap
    val expected = sels.map { case (f, s) =>
      (f, s, rank(f), cn, co, 1000000L * cn / co) }.sortBy(_._1)
    val got = q("q282_filter_ordering")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the "optimal" ascending order really is minimal over all 24 chains
    val all = sels.map(_._2).permutations.map(p => cost(p.take(3))).toSeq
    assert(co == all.min)
  }
}
