package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ext.Dedup
import graft.TestSpark.q

/** Behavior pins for the Round8s operators (q267–q269): an independent
  * imperative MinHash+LSH pipeline recomputes the pair set, then each
  * graph statistic is recomputed from it (wedge closure, Newman
  * modularity, percolation components) — so the three operators and
  * the shared `ext/Dedup` machinery are cross-checked end to end.
  */
class Round8sSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  /** Imperative q21 pipeline: 3-word shingles → h32 → 8 permutation
    * minhashes → 4 band keys → candidates → Jaccard ≥ 0.5. */
  private lazy val pairs: Set[(Long, Long)] = {
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val hs = docs.map { case (id, text) =>
      val words = normText(text).split(" ").filter(_.nonEmpty)
      val n = words.length
      val shingles = (1 to math.max(n - 2, 1))
        .map(i => words.slice(i - 1, math.min(i + 2, n)).mkString(" ")).distinct
      id -> shingles.map(h32).distinct.toSet
    }.toMap
    val mh = hs.view.mapValues { set =>
      (0 until 8).map { s =>
        val (a, b) = Dedup.permConsts(s)
        set.map(h => (h * a + b) % Dedup.HashPrime).min
      }
    }.toMap
    val bands = mh.toSeq.flatMap { case (id, ms) =>
      (0 until 4).map(b => ((b, md5hex(s"${ms(2 * b)}|${ms(2 * b + 1)}")), id))
    }
    val cand = bands.groupBy(_._1).values.flatMap { g =>
      val ids = g.map(_._2).distinct.sorted
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    }.toSet
    cand.filter { case (a, b) =>
      val (sa, sb) = (hs(a), hs(b))
      (sa & sb).size.toDouble / (sa | sb).size >= 0.5
    }
  }

  test("q267 matches an imperative wedge closure over the recomputed pair set") {
    val adj = (pairs.toSeq ++ pairs.toSeq.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val wedges = adj.toSeq.flatMap { case (_, ns) =>
      val s = ns.toSeq.sorted
      for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j))
    }
    val closed = wedges.count(w => pairs.contains(w)).toLong
    val nW = wedges.size.toLong
    val expected = (pairs.size.toLong, nW, closed, nW - closed,
      if (nW == 0) 1000000L else 1000000L * closed / nW)
    val got = q("q267_dup_transitivity")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(got == expected)
    assert(got._5 >= 0L && got._5 <= 1000000L)
  }

  test("q268 matches an imperative Newman modularity; Q is bounded by 1e6") {
    val bucket = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", concat($"lang", lit("_"), expr("n_chars div 100")))
      .as[(Long, String)].collect().toMap
    val m = pairs.size.toLong
    val intra = pairs.count(p => bucket(p._1) == bucket(p._2)).toLong
    val deg = pairs.toSeq.flatMap(p => Seq(bucket(p._1), bucket(p._2)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sd2 = deg.values.map(d => BigInt(d) * d).sum
    val qmod = 1000000L * intra / m -
      (BigInt(1000000) * sd2 / (BigInt(4) * m * m)).toLong
    val expected = (m, intra, deg.size.toLong, qmod)
    val got = q("q268_block_modularity")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().head
    assert(got == expected)
    assert(got._4 <= 1000000L)
    // blocking that catches every edge intra-block scores intra == m
    assert(got._2 <= got._1)
  }

  test("q269 matches an imperative percolation curve; coarser samples only merge") {
    def components(es: Set[(Long, Long)]): Map[Long, Long] = {
      val nodes = es.flatMap(e => Seq(e._1, e._2))
      var label = nodes.map(n => n -> n).toMap
      var changed = true
      while (changed) {
        changed = false
        es.foreach { case (a, b) =>
          val m = math.min(label(a), label(b))
          if (label(a) != m) { label += a -> m; changed = true }
          if (label(b) != m) { label += b -> m; changed = true }
        }
      }
      label
    }
    val expected = Seq(("p100", 4L), ("p25", 1L), ("p50", 2L)).map { case (nm, keep) =>
      val se = pairs.filter(p => h32(s"${p._1}|${p._2}") % 4 < keep)
      val lab = components(se)
      val sizes = lab.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      (nm, se.size.toLong, lab.size.toLong, sizes.size.toLong,
        if (sizes.isEmpty) 0L else sizes.values.max)
    }
    val got = q("q269_percolation_curve")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // monotone: more edges can only grow the touched set and the giant
    val by = got.map(r => r._1 -> r).toMap
    assert(by("p25")._3 <= by("p50")._3 && by("p50")._3 <= by("p100")._3)
    assert(by("p25")._5 <= by("p100")._5)
  }
}
