package graft

import graft.PlanText.PlanTextOps

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ext.Similarity
import graft.TestSpark.q

/** Behavior pins for the Round8ab operators (q300–q302): imperative
  * recomputation of each statistic plus the defining invariants (the
  * ARI/B³ arithmetic from an independently collected contingency; the
  * Shapley efficiency axiom's floor-bounded total; the weighted sample
  * equals an imperative A-ES run and its top-k compiles to
  * WindowGroupLimit).
  */
class Round8abSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  // ----- q300 clustering evaluation ----------------------------------------

  test("q300 ARI and B-cubed match an imperative recompute of the contingency") {
    // bucket assignment comes from the same kernel the ANN battery pins
    // elsewhere (Similarity.prepare + lshBucket); what THIS spec pins is
    // the evaluation arithmetic built on top of it.
    val e = Tables.t(spark, TestSpark.Sf, "embeddings")
    val pairs = Similarity.prepare(e, "vec_id", "embedding")
      .withColumn("bucket", Similarity.lshBucket(col("qvec"), Similarity.OracleProjs))
      .select($"id", $"bucket")
      .join(e.select($"vec_id".as("id"), $"label".cast("long").as("lbl")), Seq("id"))
      .select($"bucket", $"lbl").as[(Long, Long)].collect().toSeq
    val cells = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = pairs.size.toLong
    val ai = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val bj = cells.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    def c2(x: Long) = x * (x - 1) / 2
    val ix = cells.values.map(c2).sum
    val sa = ai.values.map(c2).sum
    val sb = bj.values.map(c2).sum
    val ari = math.floor(
      (2.0 * c2(n) * ix - 2.0 * sa * sb) /
        (c2(n).toDouble * (sa + sb) - 2.0 * sa * sb) * 1000000 + 0.5).toLong
    val pp = cells.map { case ((b, _), nij) => 1000000L * nij * nij / ai(b) }.sum
    val rr = cells.map { case ((_, l), nij) => 1000000L * nij * nij / bj(l) }.sum
    val p = pp / n; val r = rr / n
    val expected = (n, ai.size.toLong, bj.size.toLong, ari, p, r,
      2 * p * r / (p + r))
    val got = q("q300_clustering_ari")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(expected))
    assert(p >= 0 && p <= 1000000 && r >= 0 && r <= 1000000)
    assert(ari <= 1000000) // ≤ 1 by construction; chance-level ≈ 0 allowed <0
  }

  test("q300 ARI expression stays exact past the int64 product boundary (n ~ 1e6)") {
    // Spark's `div` always returns BIGINT, so the halved C(n,2) must be
    // re-cast to DECIMAL(38,0) before multiplying by ix / (sa+sb) — at
    // n ~ 2e6 the products reach ~2e24 and the un-recast form wraps (or
    // throws under ANSI). Pin the SHIPPED expression (the shared
    // EvalMetricQueries.AriExprSql constant — the exact string the query
    // evaluates, so an edit to the production SQL re-runs this pin)
    // against a BigInt-exact recompute at that scale.
    val ariExpr = operators.EvalMetricQueries.AriExprSql
    val (n, ix, sa, sb) = (2000000L, 987654321098L, 1543219876543L, 1212121212121L)
    val got = Seq((n, ix, sa, sb)).toDF("n", "ix", "sa", "sb")
      .select(expr(ariExpr).as("ari_micro")).head.getLong(0)
    val (bn, bix, bsa, bsb) = (BigInt(n), BigInt(ix), BigInt(sa), BigInt(sb))
    val c2n = bn * (bn - 1) / 2
    val expected = math.floor(
      (2 * c2n * bix - 2 * bsa * bsb).toDouble /
        (c2n * (bsa + bsb) - 2 * bsa * bsb).toDouble * 1000000 + 0.5).toLong
    assert(got == expected)
    // sanity: the products really are past int64 at this scale
    assert(2 * c2n * bix > BigInt(Long.MaxValue))
  }

  // ----- q301 Shapley source valuation -------------------------------------

  test("q301 equals the closed-form recompute; efficiency axiom holds to floor error") {
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"text").as[(String, String)].collect().toSeq
    val st = docs.flatMap { case (src, text) =>
      normText(text).split(" ").filter(_.nonEmpty).map(t => (src, t))
    }.distinct
    val m = st.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val expected = st.groupBy(_._1).view.mapValues { toks =>
      (toks.size.toLong,
        toks.count(t => m(t._2) == 1L).toLong,
        toks.map(t => 1000000L / m(t._2)).sum)
    }.toSeq.map { case (s, (a, b, c)) => (s, a, b, c) }.sortBy(_._1)
    val got = q("q301_shapley_coverage")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // efficiency: the grand total is 1e6·V minus only per-token floor loss
    val v = m.size.toLong
    val total = got.map(_._4).sum
    val maxM = m.values.max
    assert(total <= 1000000L * v && total > 1000000L * v - maxM * v)
  }

  // ----- q302 weighted reservoir sampling ----------------------------------

  test("q302 equals an imperative A-ES run and its top-k is a WindowGroupLimit") {
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"lang", $"doc_id", $"n_chars").as[(String, Long, Long)]
      .collect().toSeq
    def lnm(x: Double) = math.floor(math.log(x) * 1e6 + 0.5).toLong
    val keyed = docs.map { case (lang, id, w) =>
      val h = h32("wrs|" + id)
      (lang, id, w, (lnm(4294967296.0) - lnm((h + 1).toDouble)) * 1000 / w)
    }
    val expected = keyed.groupBy(_._1).toSeq.flatMap { case (lang, g) =>
      g.sortBy(x => (x._4, x._2)).take(40).zipWithIndex.map {
        case ((_, id, w, k), i) => (lang, (i + 1).toLong, id, w, k)
      }
    }.sortBy(x => (x._1, x._2))
    val df = q("q302_weighted_reservoir")(spark, TestSpark.Sf)
    val got = df.as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // per-stratum size is min(40, |stratum|)
    val strata = docs.groupBy(_._1).view.mapValues(_.size).toMap
    val counts = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert(strata.forall { case (l, sz) => counts(l) == math.min(40, sz) })
    // the rank filter prunes map-side: WindowGroupLimit in the physical plan
    val plan = df.planText.split("== Initial Plan ==").head
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$plan")
  }
}
