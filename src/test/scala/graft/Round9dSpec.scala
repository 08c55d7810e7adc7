package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.q

/** Behavior pins for the Round-9 batch-4 operators (q328–q330):
  * blocking quality replayed over planted clone pairs, the label-noise
  * estimate recomputed from an imperative re-scoring, and the source
  * overlap matrix rebuilt from per-source vocabulary sets.
  */
class Round9dSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  test("q328 equals an imperative blocking replay; PC reads the straddle rate") {
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"lang", $"text").as[(String, String)].collect().toSeq
    val n = docs.size.toLong
    val corpus = docs.map { case (l, t) => (l, t.length.toLong) } ++
      docs.map { case (l, t) => (l, t.length.toLong + 8) }
    val cand = corpus.groupBy { case (l, len) => (l, len / 100) }
      .values.map(g => g.size.toLong).map(b => b * (b - 1) / 2).sum
    val cob = docs.count { case (_, t) =>
      t.length / 100 == (t.length + 8) / 100 }.toLong
    val nd = 2 * n
    val rr = 1000000L -
      (BigInt(1000000) * cand / (BigInt(nd) * (nd - 1) / 2)).toLong
    val got = q("q328_blocking_quality")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(got == ((nd, n, cob, 1000000L * cob / n, cand, rr)))
    // the straddle failure mode is real but bounded: PC in (90%, 100%]
    assert(got._4 > 900000L && got._4 <= 1000000L)
    assert(got._6 > 0L) // blocking must actually reduce the pair space
  }

  test("q329 equals an imperative confident-learning replay") {
    val rows = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"n_chars", $"text").as[(Long, String)].collect().toSeq
    val scored = rows.map { case (nc, text) =>
      val score = normText(text).split(" ").filter(_.nonEmpty)
        .map(t => h32("w|" + (h32(t) % 1024)) % 2001 - 1000).sum
      (score, if (nc >= 250) 1L else 0L)
    }
    val (pos, neg) = scored.partition(_._2 == 1L)
    val np = pos.size.toLong; val nn = neg.size.toLong
    // integer-div mean, truncation toward zero (the house div rule)
    def idiv(a: Long, b: Long): Long = a / b
    val tPos = idiv(pos.map(_._1).sum, np)
    val tNeg = idiv(neg.map(_._1).sum, nn)
    val p2n = pos.count(_._1 < tNeg).toLong
    val n2p = neg.count(_._1 > tPos).toLong
    val got = q("q329_label_noise")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().head
    assert(got == ((np, nn, tPos, tNeg, p2n, n2p,
      1000000L * p2n / np, 1000000L * n2p / nn)))
    // a mean threshold can never flag the whole class
    assert(p2n < np && n2p < nn)
  }

  test("q330 equals an imperative pairwise vocabulary overlap") {
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"text").as[(String, String)].collect().toSeq
    val vocab = docs.groupBy(_._1).view.mapValues(g =>
      g.flatMap(r => normText(r._2).split(" ").filter(_.nonEmpty)).toSet)
      .toMap
    val srcs = vocab.keys.toSeq.sorted
    val expected = (for {
      i <- srcs.indices; j <- i + 1 until srcs.size
      a = srcs(i); b = srcs(j)
      inter = (vocab(a) & vocab(b)).size.toLong if inter > 0
      va = vocab(a).size.toLong; vb = vocab(b).size.toLong
    } yield (a, b, va, vb, inter,
      1000000L * inter / (va + vb - inter),
      1000000L * inter / math.min(va, vb))).toSeq
    val got = q("q330_source_overlap")(spark, TestSpark.Sf)
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // containment always dominates Jaccard
    assert(got.forall(r => r._7 >= r._6))
  }
}
