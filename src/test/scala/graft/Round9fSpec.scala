package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round-9 batch-6 operators (q334–q336): the
  * lift table replayed from an imperative re-scoring, the FS weights
  * recomputed with explicit (small-n) pair enumeration — the spec CAN
  * afford the quadratic check the operator is designed to avoid — and
  * per-document perplexity recomputed from an imperative bigram model.
  */
class Round9fSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private def lnm(x: Long): Long =
    math.floor(math.log(x.toDouble) * 1e6 + 0.5).toLong

  test("q334 equals an imperative decile replay; gains reach 1e6") {
    val scored = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"n_chars", $"text").as[(Long, String)].collect().toSeq
      .map { case (nc, text) =>
        val score = normText(text).split(" ").filter(_.nonEmpty)
          .map(t => h32("w|" + (h32(t) % 1024)) % 2001 - 1000).sum
        (score, if (nc >= 250) 1L else 0L)
      }
    val n = scored.size.toLong; val np = scored.map(_._2).sum
    val grid = scored.groupBy(_._1).toSeq.sortBy(-_._1)
      .map { case (s, g) => (s, g.size.toLong, g.map(_._2).sum) }
    var above = 0L
    val dec = grid.map { case (_, cnt, p) =>
      val d = above * 10 / n; above += cnt; (d, cnt, p)
    }
    var cum = 0L
    val expected = dec.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (d, g) =>
        val nd = g.map(_._2).sum; val pd = g.map(_._3).sum
        cum += pd
        (d, nd, pd, 1000000L * pd / nd,
          (BigInt(1000000) * pd * n / (BigInt(nd) * np)).toLong,
          1000000L * cum / np)
      }
    val got = q("q334_lift_gains")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.last._6 == 1000000L) // all positives captured by decile 9
    assert(got.map(_._2).sum == n)
  }

  test("q335 equals an explicit pair-enumeration FS replay") {
    val cs = Tables.t(spark, TestSpark.Sf, "customer")
      .select($"c_custkey", $"c_nationkey".cast("long"), $"c_name",
        $"c_mktsegment", expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)"))
      .as[(Long, Long, String, String, Long)].collect().toSeq
    case class R(id: Long, blk: Long, name: String, seg: String, bal: Long)
    val orig = cs.map(c => R(c._1, c._2, c._3, c._4, c._5))
    val clone = orig.map { c =>
      R(c.id + 1000000000000L, c.blk,
        if (h32(s"fsn|${c.id}") % 4 == 0) c.name + "x" else c.name,
        if (h32(s"fss|${c.id}") % 8 == 0) "XXX" else c.seg,
        if (h32(s"fsb|${c.id}") % 2 == 0) c.bal + 1 else c.bal)
    }
    val corpus = orig ++ clone
    val n = orig.size.toLong
    val cloneOf = clone.map(c => (c.id - 1000000000000L) -> c).toMap
    def mOf(f: R => Any): Long =
      orig.count(o => f(o) == f(cloneOf(o.id))).toLong
    // explicit quadratic enumeration per block — the check the
    // operator's count-based form must reproduce
    var tp = 0L
    val agree = collection.mutable.Map("name" -> 0L, "seg" -> 0L, "bal" -> 0L)
    corpus.groupBy(_.blk).values.foreach { g =>
      val v = g.toIndexedSeq
      for (i <- v.indices; j <- i + 1 until v.size) {
        tp += 1
        if (v(i).name == v(j).name) agree("name") += 1
        if (v(i).seg == v(j).seg) agree("seg") += 1
        if (v(i).bal == v(j).bal) agree("bal") += 1
      }
    }
    def row(field: String, m: Long, a: Long) = {
      val mM = 1000000L * m / n
      val uM = if (tp - n == 0) None else Some(1000000L * (a - m) / (tp - n))
      val w = uM.flatMap(u =>
        if (mM == 0 || u == 0) None else Some(lnm(mM) - lnm(u)))
      (field, mM, uM, w)
    }
    val expected = Seq(
      row("balance", mOf(_.bal), agree("bal")),
      row("name", mOf(_.name), agree("name")),
      row("segment", mOf(_.seg), agree("seg")))
    val got = q("q335_fs_linkage_weights")(spark, TestSpark.Sf)
      .as[(String, Long, Option[Long], Option[Long])].collect().toSeq
    assert(got == expected)
    // every field must discriminate: matches agree more than random pairs
    assert(got.forall(r => r._4.forall(_ > 0)))
  }

  test("q336 equals an imperative bigram perplexity replay") {
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .map { case (id, t) => (id, normText(t).split(" ").filter(_.nonEmpty).toSeq) }
    val bigrams = docs.flatMap { case (id, ts) =>
      ts.zip(ts.drop(1)).map(p => (id, p._1, p._2)) }
    val cab = bigrams.groupBy(b => (b._2, b._3)).view.mapValues(_.size.toLong)
    val ca = bigrams.groupBy(_._2).view.mapValues(_.size.toLong)
    val v = docs.flatMap(_._2).distinct.size.toLong
    val perDoc = bigrams.groupBy(_._1).toSeq.sortBy(_._1).map { case (id, bs) =>
      val snll = bs.map(b =>
        lnm(ca(b._2) + v) - lnm(cab((b._2, b._3)) + 1)).sum
      (id, bs.size.toLong, snll / bs.size)
    }
    val hMean = perDoc.map(_._3).sum / perDoc.size
    val expected = perDoc.map { case (id, nb, h) =>
      (id, nb, h, if (h <= hMean) 1L else 0L) }
    val got = q("q336_doc_perplexity")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.exists(_._4 == 1L) && got.exists(_._4 == 0L)) // both tails
  }
}
