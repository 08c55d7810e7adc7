package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8y operators (q291–q293): imperative
  * recomputation of each result plus the defining invariants (sorted
  * bucketing never increases padding, reconciliation drift is
  * conserved, nDCG bounded by 1 and MRR by the top-1 hit count).
  */
class Round8ySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private def tokCount(t: String): Long = {
    val nt = normText(t)
    if (nt.isEmpty) 0L else nt.split(" ").count(_.nonEmpty).toLong
  }

  // ----- q291 padding waste -------------------------------------------------

  test("q291 matches an imperative batcher; sorting never increases padding") {
    val lens = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .map { case (id, t) => (id, tokCount(t)) }.filter(_._2 > 0)
    def scheme(nm: String, ordered: Seq[Long]) = {
      val batches = ordered.grouped(32).toSeq
      val tokens = ordered.sum
      val padded = batches.map(b => b.size.toLong * b.max).sum
      (nm, batches.size.toLong, tokens, padded - tokens,
        1000000L * (padded - tokens) / padded)
    }
    val expected = Seq(
      scheme("a_arrival", lens.sortBy(_._1).map(_._2)),
      scheme("b_sorted", lens.sortBy(r => (r._2, r._1)).map(_._2)))
    val got = q("q291_padding_waste")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    val by = got.map(r => r._1 -> r._4).toMap
    assert(by("b_sorted") <= by("a_arrival"))
  }

  // ----- q292 money reconciliation ------------------------------------------

  test("q292 matches an imperative reconciliation; drift conserves across statuses") {
    val body = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_orderkey", expr(
        """CAST(floor(CAST(l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l_discount AS DECIMAL(4,2)))
           * (1 + CAST(l_tax AS DECIMAL(4,2))) * 100 + 0.5) AS BIGINT)"""))
      .as[(Long, Long)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val orders = Tables.t(spark, TestSpark.Sf, "orders")
      .select($"o_orderkey", $"o_orderstatus",
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"))
      .as[(Long, String, Long)].collect().toSeq
    val expected = orders.groupBy(_._2).toSeq.map { case (st, g) =>
      val rows = g.map { case (ok, _, head) => (head, body.getOrElse(ok, 0L)) }
      val mism = rows.count(r => r._1 != r._2).toLong
      (st, g.size.toLong, mism, 1000000L * mism / g.size,
        rows.map(r => math.abs(r._1 - r._2)).sum,
        rows.count(_._2 == 0L).toLong)
    }.sortBy(_._1)
    val got = q("q292_money_reconciliation")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.map(_._2).sum == orders.size.toLong) // statuses partition orders
  }

  // ----- q293 nDCG / MRR ----------------------------------------------------

  test("q293 matches an imperative graded eval; nDCG and MRR are bounded") {
    val vecs = Tables.t(spark, TestSpark.Sf, "embeddings")
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))"))
      .as[(Long, Seq[Long])].collect().toSeq
    val projs = graft.ext.Similarity.OracleProjs
    def bucket(v: Seq[Long]): Int = projs.zipWithIndex.map { case (p, j) =>
      val d = v.zip(p).map { case (a, b) => a * b }.sum
      if (d >= 0) 1 << j else 0
    }.sum
    def cos(a: Seq[Long], b: Seq[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => (BigInt(x) * y) }.sum
      val na = a.map(x => BigInt(x) * x).sum
      val nb = b.map(x => BigInt(x) * x).sum
      dot.toDouble / math.sqrt(na.toDouble * nb.toDouble)
    }
    val probes = vecs.filter(_._1 % 100 == 0)
    val lg2 = (1 to 10).map(i =>
      math.floor(math.log(i + 1) / math.log(2) * 1e6 + 0.5).toLong)
    val idcg = lg2.zipWithIndex
      .map { case (l, i) => (11L - (i + 1)) * 1000000000000L / l }.sum
    var sumDcg = BigInt(0); var sumRr = 0L; var top1 = 0L
    probes.foreach { case (qid, qv) =>
      val exact = vecs.filter(_._1 != qid)
        .map { case (cid, cv) => (cid, cos(qv, cv)) }
        .sortBy(r => (-r._2, r._1)).take(10).map(_._1)
      val exRank = exact.zipWithIndex.map { case (c, i) => c -> (i + 1L) }.toMap
      val qb = bucket(qv)
      val retrieved = vecs.filter(c => c._1 != qid && bucket(c._2) == qb)
        .map { case (cid, cv) => (cid, cos(qv, cv)) }
        .sortBy(r => (-r._2, r._1)).take(10).map(_._1)
      retrieved.zipWithIndex.foreach { case (cid, i) =>
        val rel = exRank.get(cid).map(11L - _).getOrElse(0L)
        sumDcg += rel * 1000000000000L / lg2(i)
      }
      exact.headOption.foreach { t1 =>
        val pos = retrieved.indexOf(t1)
        if (pos >= 0) { top1 += 1; sumRr += 1000000L / (pos + 1) }
      }
    }
    val n = probes.size.toLong
    val expected = (n,
      (BigInt(1000000) * sumDcg / (BigInt(idcg) * n)).toLong,
      sumRr / n, top1)
    val got = q("q293_ndcg_mrr")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().head
    assert(got == expected)
    assert(got._2 >= 0L && got._2 <= 1000000L)
    assert(got._3 <= 1000000L && got._4 <= got._1)
  }
}
