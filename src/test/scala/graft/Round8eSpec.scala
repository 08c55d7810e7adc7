package graft

import graft.PlanText.PlanTextOps

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8e operators (q214–q215): imperative
  * recomputations of the pruned-top-k certificate and the coverage
  * curve, plus plan-shape assertions. */
class Round8eSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  /** Every shingle occurrence with the clipped-tail rule. */
  private def shingleOcc(t: String): Seq[String] = {
    val ws = normText(t).split(" ").toSeq
    (1 to math.max(ws.size - 2, 1)).map(i => ws.slice(i - 1, i + 2).mkString(" "))
  }

  private lazy val docs: Seq[(String, String)] =
    Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"text").as[(String, String)].collect().toSeq

  // ----- q214 pruned top-k merge ----------------------------------------

  test("q214 matches an imperative certificate; the bound always holds") {
    val occ = docs.flatMap { case (src, t) => shingleOcc(t).map((src, _)) }
    val local = occ.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bySrc = local.groupBy(_._1._1)
    val keptAndTh = bySrc.map { case (src, m) =>
      val ranked = m.toSeq.map { case ((_, tok), c) => (tok, c) }
        .sortBy { case (tok, c) => (-c, tok) }
      val kept = ranked.take(32)
      val th = if (ranked.size >= 32) kept.last._2 else 0L
      src -> (kept.toMap, th)
    }
    val tsum = keptAndTh.values.map(_._2).sum
    val exact = occ.map(_._2).groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy { case (tok, c) => (-c, tok) }.take(10)
    val expected = exact.map { case (tok, ex) =>
      val est = keptAndTh.values.map { case (kept, _) => kept.getOrElse(tok, 0L) }.sum
      val thKept = keptAndTh.values
        .collect { case (kept, th) if kept.contains(tok) => th }.sum
      val ub = est + tsum - thKept
      (tok, ex, est, ub, if (est <= ex && ex <= ub) 1L else 0L)
    }
    val df = q("q214_pruned_topk_merge")(spark, TestSpark.Sf)
    val got = df.as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the certificate is an invariant, not an observation
    assert(got.forall(_._5 == 1L))
    assert(got.forall(r => r._3 <= r._2 && r._2 <= r._4))
    // shard summaries are map-side group limits; the exact audit is a
    // TakeOrdered, not a global sort
    val plan = df.planText
    assert(plan.contains("WindowGroupLimit"))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  // ----- q215 vocab coverage curve --------------------------------------

  test("q215 matches an imperative curve; coverage is monotone in vocab size") {
    val freq = docs.flatMap(d => shingleOcc(d._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case (tok, f) => (tok, f) }
      .sortBy { case (tok, f) => (-f, tok) }
    val total = freq.map(_._2).sum
    val nVocab = freq.size.toLong
    val expected = Seq(1000L, 2000L, 4000L, 8000L).map { v =>
      val covered = freq.take(v.toInt).map(_._2).sum
      (v, nVocab, total, covered, 1000000L * covered / total)
    }
    val got = q("q215_vocab_coverage_curve")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.map(_._5) == got.map(_._5).sorted)
    assert(got.last._5 <= 1000000L)
  }
}
