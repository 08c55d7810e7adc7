package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8m operators (q240–q244): imperative
  * recomputation of each statistic plus the defining invariants
  * (diminishing greedy gains, row-stochastic floors, ρ bounds).
  */
class Round8mSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private lazy val docs = Tables.t(spark, TestSpark.Sf, "documents")
    .select($"doc_id", $"source", $"n_chars", $"text")
    .as[(Long, String, Long, String)].collect().toSeq

  private def toks(text: String): Seq[String] =
    normText(text).split(" ").filter(_.nonEmpty).toSeq

  // ----- q240 LM cross-entropy ---------------------------------------------

  test("q240 matches an imperative smoothed cross-entropy matrix") {
    val bySource = docs.groupBy(_._2).view.mapValues(_.flatMap(d => toks(d._4))).toMap
    val counts = bySource.view.mapValues(ts =>
      ts.groupBy(identity).view.mapValues(_.size.toLong).toMap).toMap
    val totals = counts.view.mapValues(_.values.sum).toMap
    val v = bySource.values.flatten.toSet.size.toLong
    def mln(num: Long, den: Long): Long =
      math.floor(math.log(num.toDouble / den) * 1e6 + 0.5).toLong
    val expected = (for {
      a <- counts.keys.toSeq; b <- counts.keys.toSeq
    } yield {
      val sum = counts(b).map { case (t, nb) =>
        nb * mln(counts(a).getOrElse(t, 0L) + 1, totals(a) + v) }.sum
      (a, b, counts(b).size.toLong, -sum / totals(b))
    }).sortBy(r => (r._1, r._2))
    val got = q("q240_lm_cross_entropy")(spark, TestSpark.Sf)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.forall(_._4 > 0L)) // cross-entropy of a proper LM is positive
  }

  // ----- q241 greedy coverage ----------------------------------------------

  test("q241 matches an imperative greedy; gains weakly decrease (submodular)") {
    val dt = docs.flatMap { case (id, _, _, text) =>
      val ts = toks(text)
      if (ts.size < 2) Nil
      else ts.sliding(2).map(p => (id, p(0) + "|" + p(1))).toSeq.distinct
    }
    val byDoc = dt.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var covered = Set.empty[String]
    val expected = (1 to 5).flatMap { round =>
      val gains = byDoc.view.mapValues(s => (s -- covered).size.toLong)
        .filter(_._2 > 0).toSeq
      if (gains.isEmpty) None
      else {
        val (doc, gain) = gains.minBy { case (d, g) => (-g, d) }
        covered ++= byDoc(doc)
        Some((round.toLong, doc, gain, covered.size.toLong))
      }
    }
    val got = q("q241_coverage_selection")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // submodularity: marginal gains weakly decrease round over round
    assert(got.map(_._3).sliding(2).forall {
      case Seq(a, b) => b <= a
      case _ => true
    })
  }

  // ----- q242 quantile normalization ---------------------------------------

  test("q242 matches an imperative inverse-ECDF lookup") {
    val all = docs.map(_._3).sorted
    val n = all.size.toLong
    def corpusAt(idx: Long): Long = all((idx - 1).toInt) // exact order statistic
    val expected = docs.groupBy(_._2).toSeq.map { case (src, grp) =>
      val vs = grp.sortBy(d => (d._3, d._1)).map(_._3)
      val ns = vs.size.toLong
      val norm = vs.zipWithIndex.map { case (_, i) =>
        corpusAt(((2L * (i + 1) - 1) * n + 2 * ns - 1) / (2 * ns)) }
      (src, ns, vs.sum / ns, norm.sum / ns)
    }.sortBy(_._1)
    val got = q("q242_quantile_norm")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the mapped values are corpus values: means stay inside its range
    assert(got.forall(r => r._4 >= all.head && r._4 <= all.last))
  }

  // ----- q243 Markov chain --------------------------------------------------

  test("q243 matches an imperative chain; rows and pi are sub-stochastic floors") {
    val raw = Tables.t(spark, TestSpark.Sf, "events")
    val ev = raw.select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts".cast("timestamp")))
      .as[(Long, Long, String, Long)].collect().toSeq
    val trans = ev.groupBy(_._1).values.flatMap { grp =>
      grp.sortBy(e => (e._4, e._2)).map(_._3).sliding(2).collect {
        case Seq(a, b) => (a, b) }
    }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rowTot = trans.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val p = trans.map { case ((f, t), c) => (f, t, c, 1000000L * c / rowTot(f)) }
    val states = p.map(_._1).toSeq.distinct
    val k = states.size.toLong
    var pi: Map[String, Long] = states.map(_ -> 1000000L / k).toMap
    for (_ <- 1 to 2)
      pi = p.groupBy(_._2).view.mapValues(rs =>
        rs.map(r => pi.getOrElse(r._1, 0L) * r._4).sum / 1000000L).toMap
    val expected = (p.map(r => (r._1, r._2, r._3, r._4)).toSeq ++
      pi.toSeq.map { case (st, v) => ("pi2", st, 0L, v) })
      .sortBy(r => (r._1, r._2))
    val got = q("q243_markov_transitions")(spark, TestSpark.Sf)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == expected)
    // each transition row floors to ≤ 1e6 total probability mass
    val rows = got.filter(_._1 != "pi2").groupBy(_._1).view.mapValues(_.map(_._4).sum)
    assert(rows.values.forall(s => s <= 1000000L && s > 1000000L - 100))
    val piSum = got.filter(_._1 == "pi2").map(_._4).sum
    assert(piSum <= 1000000L && piSum > 900000L)
  }

  // ----- q244 Spearman ------------------------------------------------------

  test("q244 matches an imperative rank correlation; |rho| is bounded") {
    val scored = docs.map { case (id, _, len, text) =>
      val logit = toks(text).map(t => h32("w|" + (h32(t) % 1024)) % 2001 - 1000).sum
      (id, len, logit)
    }
    val r1 = scored.sortBy(d => (d._3, d._1)).zipWithIndex
      .map { case (d, i) => d._1 -> (i + 1L) }.toMap
    val r2 = scored.sortBy(d => (d._2, d._1)).zipWithIndex
      .map { case (d, i) => d._1 -> (i + 1L) }.toMap
    val n = BigInt(scored.size)
    val sd2 = scored.map(d => BigInt(r1(d._1) - r2(d._1)).pow(2)).sum
    val rho = 1000000L - (BigInt(6000000) * sd2 / (n * (n * n - 1))).toLong
    val expected = Seq(("hash_logit", "n_chars", scored.size.toLong, sd2.toLong, rho))
    val got = q("q244_spearman_scorers")(spark, TestSpark.Sf)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(math.abs(got.head._5) <= 1000000L)
  }
}
