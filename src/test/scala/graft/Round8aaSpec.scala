package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8aa operators (q297–q299): imperative
  * recomputation of each result plus the defining invariants (the
  * minimax fit equals a genuine pool-adjacent-violators run and is
  * monotone; NB predictions partition the test set; the hubness
  * histogram masses the whole node set and its edge total matches the
  * kNN graph).
  */
class Round8aaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private def lnm(x: Double): Long = math.floor(math.log(x) * 1e6 + 0.5).toLong

  // ----- q297 isotonic calibration -----------------------------------------

  test("q297 equals a genuine PAVA run; the fit is monotone nondecreasing") {
    val labeled = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"n_chars", $"text").as[(Long, Long, String)]
      .collect().toSeq.map { case (_, nc, text) =>
        val score = normText(text).split(" ").filter(_.nonEmpty)
          .map(t => h32("w|" + (h32(t) % 1024)) % 2001 - 1000).sum
        (score, if (nc >= 250) 1L else 0L)
      }
    val mn = labeled.map(_._1).min; val mx = labeled.map(_._1).max
    val bins = labeled.groupBy { case (s, _) => (s - mn) * 256 / (mx - mn + 1) }
      .view.mapValues(g => (g.size.toLong, g.map(_._2).sum)).toSeq.sortBy(_._1)
    // pool-adjacent-violators on the weighted bin points, exact rationals
    case class Blk(w: Long, p: Long, members: Seq[Long])
    val stack = collection.mutable.ArrayBuffer.empty[Blk]
    bins.foreach { case (bin, (w, p)) =>
      stack += Blk(w, p, Seq(bin))
      while (stack.size >= 2 &&
        stack(stack.size - 2).p * stack.last.w > stack.last.p * stack(stack.size - 2).w) {
        val b = stack.remove(stack.size - 1); val a = stack.remove(stack.size - 1)
        stack += Blk(a.w + b.w, a.p + b.p, a.members ++ b.members)
      }
    }
    val isoOf = stack.flatMap(b =>
      b.members.map(_ -> (1000000L * b.p / b.w))).toMap
    val expected = bins.map { case (bin, (w, p)) =>
      (bin, w, p, 1000000L * p / w, isoOf(bin)) }
    val got = q("q297_isotonic_calibration")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == expected)
    assert(got.sliding(2).forall(w => w.head._5 <= w.last._5)) // monotone
    assert(got.map(_._2).sum == labeled.size.toLong)
  }

  // ----- q298 Naive Bayes ---------------------------------------------------

  test("q298 matches an imperative NB; predictions partition the test docs") {
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"n_chars", $"text").as[(Long, Long, String)]
      .collect().toSeq.map { case (id, nc, text) =>
        (id, if (nc >= 250) "b_long" else "a_short",
          normText(text).split(" ").filter(_.nonEmpty).toSeq)
      }
    val (train, test) = docs.partition(d => h32("nb|" + d._1) % 4 < 3)
    val counts = train.flatMap(d => d._3.map(t => (d._2, t)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val v = counts.keys.map(_._2).toSet.size.toLong
    val classes = train.map(_._2).distinct.sorted
    val totc = classes.map(c =>
      c -> counts.collect { case ((`c`, _), n) => n }.sum).toMap
    val ndc = classes.map(c => c -> train.count(_._2 == c).toLong).toMap
    val ntr = train.size.toLong
    val results = test.map { case (_, truth, toks) =>
      val best = classes.map { c =>
        val prior = lnm(ndc(c).toDouble) - lnm(ntr.toDouble)
        val den = lnm((totc(c) + v).toDouble)
        val sumLl = toks.map(t =>
          counts.get((c, t)).map(n => lnm((n + 1).toDouble)).getOrElse(0L)).sum
        (c, prior - toks.size.toLong * den + sumLl)
      }.minBy { case (c, sc) => (-sc, c) }._1
      (truth, best)
    }
    val expected = results.groupBy(_._1).toSeq.map { case (lb, g) =>
      val correct = g.count(r => r._2 == r._1).toLong
      (lb, g.size.toLong, correct, 1000000L * correct / g.size)
    }.sortBy(_._1)
    val got = q("q298_naive_bayes")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.map(_._2).sum == test.size.toLong)
    assert(got.forall(r => r._3 <= r._2))
  }

  // ----- q299 kNN hubness ---------------------------------------------------

  test("q299 matches an imperative hubness audit; histogram masses all nodes") {
    val vecs = Tables.t(spark, TestSpark.Sf, "embeddings")
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))"))
      .as[(Long, Seq[Long])].collect().toSeq
    val projs = graft.ext.Similarity.OracleProjs
    def bucket(v: Seq[Long]): Int = projs.zipWithIndex.map { case (p, j) =>
      if (v.zip(p).map { case (a, b) => a * b }.sum >= 0) 1 << j else 0 }.sum
    def cos(a: Seq[Long], b: Seq[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => BigInt(x) * y }.sum
      dot.toDouble / math.sqrt(
        a.map(x => BigInt(x) * x).sum.toDouble * b.map(x => BigInt(x) * x).sum.toDouble)
    }
    val byBucket = vecs.groupBy(v => bucket(v._2))
    val indeg = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    var nEdges = 0L
    byBucket.values.foreach { grp =>
      grp.foreach { case (qid, qv) =>
        grp.filter(_._1 != qid)
          .map { case (cid, cv) => (cid, cos(qv, cv)) }
          .sortBy(r => (-r._2, r._1)).take(3)
          .foreach { case (cid, _) => indeg(cid) += 1; nEdges += 1 }
      }
    }
    val occ = vecs.map(v => indeg(v._1))
    val n = occ.size.toLong
    val s1 = occ.sum; val s2 = occ.map(k => k * k).sum
    val s3 = occ.map(k => k * k * k).sum
    val skew = math.floor(
      (n.toDouble * n * s3 - 3.0 * n * s1 * s2 + 2.0 * s1 * s1 * s1)
        / math.pow((n * s2 - s1 * s1).toDouble, 1.5) * 1e6 + 0.5).toLong
    val expected = occ.groupBy(identity).toSeq
      .map { case (k, g) => (k, g.size.toLong, skew) }.sortBy(_._1)
    val got = q("q299_knn_hubness")(spark, TestSpark.Sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.map(_._2).sum == n) // histogram masses every node
    assert(got.map(r => r._1 * r._2).sum == nEdges) // in-edges == kNN edges
  }
}
