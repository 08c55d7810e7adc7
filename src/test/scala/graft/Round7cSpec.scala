package graft

import graft.PlanText.PlanTextOps

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round7c operators beyond the oracle gate. */
class Round7cSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  // ----- q182 BM25 -----------------------------------------------------

  /** Independent BM25 in plain Scala over the same docs, same integer
    * formula: idf_micro = floor(ln((2N+2)/(2df+1))*1e6 + 0.5),
    * score term = (idf*22*f*S) / (10*S*f + 3*S + 9*dl*N) with integer
    * division. Pins the relational formulation, including the rarest-3
    * query-term selection, against an imperative one. */
  test("q182 matches an imperative BM25 over the same corpus") {
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> normText(t).split(" ").toSeq }
    val tf = docs.flatMap { case (id, ts) => ts.map((id, _)) }
      .groupBy(identity).map { case ((id, t), g) => (id, t) -> g.size.toLong }
    val dl = docs.map { case (id, ts) => id -> ts.size.toLong }.toMap
    val n = dl.size.toLong
    val s = dl.values.sum
    val dfm = tf.keys.groupBy(_._2).map { case (t, g) => t -> g.size.toLong }
    val qterms = dfm.toSeq.sortBy { case (t, d) => (d, t) }.take(3)
    val scores = docs.map(_._1).distinct.flatMap { id =>
      val terms = qterms.flatMap { case (t, d) =>
        tf.get((id, t)).map { f =>
          val idf = math.floor(math.log((2.0 * n + 2) / (2.0 * d + 1)) * 1e6 + 0.5).toLong
          (idf * 22 * f * s) / (10 * s * f + 3 * s + 9 * dl(id) * n)
        }
      }
      if (terms.isEmpty) None
      else Some((id, terms.size.toLong, terms.sum))
    }
    val expected = scores.sortBy { case (id, _, sc) => (-sc, id) }.take(20).toSeq
    val got = q("q182_bm25")(spark, TestSpark.Sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expected)
  }

  test("q182 query-term join is broadcast (no shuffle for the 3-term side)") {
    val plan = q("q182_bm25")(spark, TestSpark.Sf)
      .planText
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  // ----- q183 incremental dedup ---------------------------------------

  test("q183 drops exactly the batch docs sharing an LSH band key with the corpus") {
    import graft.ext.{Dedup, TextAnalysis => TA}
    // re-derive the band keys through the same helpers, then check the
    // aggregate against a driver-side set computation
    val mh = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"source",
        graft.functions.WordShingleHash32(TA.normText($"text"), 3).as("hs"))
      .select($"doc_id", $"source",
        Dedup.minhashInt($"hs", 0).cast("string").as("m0"),
        Dedup.minhashInt($"hs", 1).cast("string").as("m1"),
        Dedup.minhashInt($"hs", 2).cast("string").as("m2"),
        Dedup.minhashInt($"hs", 3).cast("string").as("m3"))
      .as[(Long, String, String, String, String, String)].collect()
    val keys = mh.map { case (id, src, m0, m1, m2, m3) =>
      (id, src, Set(s"b0|$m0|$m1", s"b1|$m2|$m3"))
    }
    val corpus = keys.filter(_._1 % 5 != 0).flatMap(_._3).toSet
    val batch = keys.filter(_._1 % 5 == 0)
    val expected = batch.groupBy(_._2).map { case (src, g) =>
      val dropped = g.filter(d => d._3.exists(corpus.contains))
      val kept = g.filterNot(d => d._3.exists(corpus.contains))
      (src, g.size.toLong, dropped.size.toLong, kept.size.toLong,
        kept.map(_._1).sum)
    }.toSeq.sortBy(_._1)
    val got = q("q183_incremental_dedup")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.map(_._2).sum == batch.length)
  }

  // ----- q184 quantile sketch ------------------------------------------

  test("q184 exact quantiles are true order statistics; sketch error bounded") {
    val rows = q("q184_quantile_sketch")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.map(_._1) == Seq(25L, 50L, 75L, 90L))
    // exact side against a plain sort
    val cents = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select(floor($"l_extendedprice" * 100 + 0.5).cast("long"))
      .as[Long].collect().sorted
    val n = cents.length.toLong
    for ((p, _, exact, _, _) <- rows) {
      val r = ((p * n + 99) / 100).toInt
      assert(exact == cents(r - 1), s"p=$p")
    }
    // estimates are monotone in p and within a loose rank-error bound
    // (k=256 -> sigma ~ 3%; 15% is ~5 sigma)
    assert(rows.map(_._2) == rows.map(_._2).sorted)
    assert(rows.forall(_._5 <= 150000L),
      s"rank errors ${rows.map(_._5)} exceed 15%")
  }

  // ----- q185 random projection ----------------------------------------

  test("q185 projection matches an imperative JL transform; ratios concentrate") {
    // independent recompute of the projection for the first pair
    def sign(j: Int, k: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$j|$k".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (Integer.parseInt(hex.substring(0, 1), 16) % 2 == 0) 1L else -1L
    }
    val embs = Tables.t(spark, TestSpark.Sf, "embeddings")
      .filter($"vec_id" < 2).orderBy($"vec_id")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val qv = embs.map { case (_, e) =>
      e.map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toIndexedSeq
    }
    def proj(v: IndexedSeq[Long]): IndexedSeq[Long] =
      (1 to 16).map(k => (1 to 64).map(j => v(j - 1) * sign(j, k)).sum)
    val dOrig = qv(0).zip(qv(1)).map { case (a, b) => (a - b) * (a - b) }.sum
    val dProj = proj(qv(0)).zip(proj(qv(1))).map { case (a, b) => (a - b) * (a - b) }.sum
    val rows = q("q185_random_projection")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Option[Long])].collect().toSeq
    val first = rows.find(r => r._1 == 0L && r._2 == 1L).get
    assert(first._3 == dOrig)
    assert(first._4 == dProj)
    // JL concentration: mean distortion ratio near 1e6
    val ratios = rows.flatMap(_._5)
    assert(ratios.nonEmpty)
    val mean = ratios.sum / ratios.size
    assert(mean > 500000L && mean < 2000000L, s"mean ratio $mean")
  }
}
