package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8u operators (q275–q278): imperative
  * recomputation of each result plus the defining invariants (cosine
  * bounded by 1, AUC equals the brute-force pair fraction, RBO bounded
  * by the weight mass, d-gap bytes never exceed fixed-width).
  */
class Round8uSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private lazy val scoredDocs: Seq[(Long, Long, Long)] = // (id, n_chars, score)
    Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"n_chars", $"text").as[(Long, Long, String)]
      .collect().toSeq.map { case (id, nc, text) =>
        val score = normText(text).split(" ").filter(_.nonEmpty)
          .map(t => h32("w|" + (h32(t) % 1024)) % 2001 - 1000).sum
        (id, nc, score)
      }

  // ----- q275 item-item CF -------------------------------------------------

  test("q275 matches an imperative CF; cosine bounded and self-free") {
    val items = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect().toSet
    val sup = items.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val pairs = items.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).toSeq.distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
    }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sym = pairs.toSeq.flatMap { case ((a, b), c) => Seq((a, b, c), (b, a, c)) }
    val top10 = sup.toSeq.sortBy { case (pk, c) => (-c, pk) }.take(10).map(_._1).toSet
    val expected = sym.filter(r => top10.contains(r._1)).map { case (a, b, c) =>
      val cos = math.floor(1000000 * c.toDouble /
        math.sqrt(sup(a).toDouble * sup(b).toDouble) + 0.5).toLong
      (a, b, c, cos)
    }.groupBy(_._1).toSeq.flatMap { case (_, g) =>
      g.sortBy(r => (-r._4, r._2)).take(3).zipWithIndex
        .map { case ((a, b, c, cos), i) => (a, b, c, cos, i + 1L) }
    }.sortBy(r => (r._1, r._5))
    val got = q("q275_item_item_cf")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.forall(r => r._4 > 0L && r._4 <= 1000000L && r._1 != r._2))
  }

  // ----- q276 AUC learning curve -------------------------------------------

  test("q276 matches brute-force pairwise AUC at every fraction") {
    val labeled = scoredDocs.map { case (id, nc, sc) =>
      (id, sc, nc >= 250, h32("lc|" + id) % 4) }
    val expected = Seq(("f100", 4L), ("f25", 1L), ("f50", 2L)).map { case (nm, keep) =>
      val sm = labeled.filter(_._4 < keep)
      val pos = sm.filter(_._3).map(_._2)
      val neg = sm.filterNot(_._3).map(_._2)
      // brute-force Mann-Whitney with half-credit ties, integer 2U form
      val u2 = (for (p <- pos; n <- neg) yield {
        if (p > n) 2L else if (p == n) 1L else 0L }).sum
      (nm, pos.size.toLong, neg.size.toLong,
        (BigInt(1000000) * u2 / (BigInt(2) * pos.size * neg.size)).toLong)
    }.sortBy(_._1)
    val got = q("q276_auc_learning_curve")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.forall(r => r._4 >= 0L && r._4 <= 1000000L))
  }

  // ----- q277 rank-biased overlap ------------------------------------------

  test("q277 matches an imperative RBO; bounded by the truncated weight mass") {
    val topA = scoredDocs.sortBy(d => (-d._3, d._1)).take(20)
      .zipWithIndex.map { case (d, i) => d._1 -> (i + 1L) }.toMap
    val topB = scoredDocs.sortBy(d => (-d._2, d._1)).take(20)
      .zipWithIndex.map { case (d, i) => d._1 -> (i + 1L) }.toMap
    val mrs = topA.keySet.intersect(topB.keySet).toSeq
      .map(id => math.max(topA(id), topB(id)))
    var w = 0.1
    val weights = (1 to 20).map { _ =>
      val r = math.floor(w * 1e6 + 0.5).toLong; w *= 0.9; r }
    val rbo = (1 to 20).map { d =>
      val xd = mrs.count(_ <= d).toLong
      weights(d - 1) * xd / d
    }.sum
    val expected = (rbo, mrs.count(_ <= 20).toLong)
    val got = q("q277_rank_biased_overlap")(spark, TestSpark.Sf)
      .as[(Long, Long)].collect().head
    assert(got == expected)
    // RBO can never exceed the truncated weight mass (all-overlap case)
    assert(got._1 >= 0L && got._1 <= weights.sum)
  }

  // ----- q278 postings d-gaps ----------------------------------------------

  test("q278 matches an imperative varint sizing; d-gaps never beat fixed by less than 2x here") {
    val post = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .flatMap { case (id, t) =>
        normText(t).split(" ").filter(_.nonEmpty).distinct.map(tok => (tok, id)) }
    val expected = post.groupBy(_._1).toSeq.map { case (tok, g) =>
      val ids = g.map(_._2).sorted
      val gaps = (ids.head + 1) +: ids.sliding(2).collect { case Seq(a, b) => b - a }.toSeq
      val bytes = gaps.map(gp =>
        if (gp < 128) 1L else if (gp < 16384) 2L
        else if (gp < 2097152) 3L else 4L).sum
      (tok, ids.size.toLong, bytes)
    }.map { case (tok, df, bytes) =>
      val band = if (df >= 1000) "a_dense" else if (df >= 100) "b_mid" else "c_rare"
      (band, df, bytes)
    }.groupBy(_._1).toSeq.map { case (band, g) =>
      val np = g.map(_._2).sum; val gb = g.map(_._3).sum
      (band, g.size.toLong, np, gb, np * 8, 1000000L * gb / (np * 8))
    }.sortBy(_._1)
    val got = q("q278_postings_dgap")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // varint d-gaps never exceed fixed width, and the max gap fits 4 bytes
    assert(got.forall(r => r._4 <= r._5))
  }
}
