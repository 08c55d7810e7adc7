package graft

import org.scalatest.funsuite.AnyFunSuite

/** Behavior pins for the pipeline-planning battery (q395–q397):
  * exact replays for the conformal and waterfill operators; for the
  * LSH planner, an independent Scala replay of the pair algebra and
  * the s-curve mass math over the same candidate set.
  */
class Round11iSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def q(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.Sf)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(8), 16)

  test("q395 conformal coverage equals the order-statistic replay") {
    import spark.implicits._
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"n_chars".cast("long")).as[(Long, Long)].collect().toSeq
    val (cal, test) = docs.partition(d => h32(s"${d._1}_cf") % 2 == 0)
    val sortedCal = cal.map(_._2).sorted
    val got = q("q395_conformal_coverage").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(90L, 95L))
    got.foreach { row =>
      val pct = row.getLong(0)
      val nCal = cal.size.toLong
      val k = ((nCal + 1) * pct + 99) / 100
      val qhat = sortedCal((k - 1).toInt)
      val covered = test.count(_._2 <= qhat).toLong
      assert(row.getLong(1) == nCal)
      assert(row.getLong(2) == test.size.toLong)
      assert(row.getLong(3) == k)
      assert(row.getLong(4) == qhat)
      assert(row.getLong(5) == covered)
      assert(row.getLong(6) == covered * 1000000L / test.size)
      // the conformal guarantee direction: stricter alpha, larger qhat
    }
    assert(got(1).getLong(4) >= got(0).getLong(4))
  }

  test("q396 LSH planner equals the s-curve mass replay over the candidate set") {
    import spark.implicits._
    // candidate pairs + hash sets through the shared helpers; the pair
    // algebra (exact integer Jaccard buckets) replayed in Scala sets
    val docs = Tables.spread(Tables.t(spark, TestSpark.Sf, "documents"))
      .select($"doc_id".as("id"),
        graft.functions.WordShingleHash32(
          graft.ext.TextAnalysis.normText($"text"), 3).as("hs"))
    val (hs, cand) = graft.ext.Dedup.lshCandidates(docs, 4)
    val sets = hs.select($"id", $"hs").as[(Long, Seq[Long])].collect()
      .map(t => t._1 -> t._2.toSet).toMap
    val pairs = cand.select($"id_a", $"id_b").as[(Long, Long)].collect().toSeq
    val hist = pairs.flatMap { case (a, b) =>
      val (sa, sb) = (sets(a), sets(b))
      val inter = (sa intersect sb).size.toLong
      val uni = (sa union sb).size.toLong
      if (uni == 0) None else Some(math.min(19L, 20L * inter / uni))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def pMicro(b: Long, r: Long, bkt: Long): Long = {
      val s = (2.0 * bkt + 1.0) / 40.0
      math.floor((1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble))
        * 1000000 + 0.5).toLong
    }
    val exp = (0 to 7).map { i =>
      val r = 1L << i; val b = 128L / r
      val fp = hist.collect { case (k, n) if k < 10 => n * pMicro(b, r, k) }.sum
      val fn = hist.collect { case (k, n) if k >= 10 =>
        n * (1000000L - pMicro(b, r, k)) }.sum
      (b, r, fp, fn, fp + fn)
    }
    val bestKey = exp.map(e => (e._5, e._1)).min
    val got = q("q396_lsh_planner").collect()
    assert(got.length == 8)
    got.zip(exp.sortBy(_._2)).foreach { case (row, e) =>
      assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
        row.getLong(4)) == e)
      assert(row.getLong(5) ==
        (if ((e._5, e._1) == bestKey) 1L else 0L))
    }
    assert(got.map(_.getLong(5)).sum == 1L, "exactly one winning plan")
  }

  test("q397 waterfill allocation equals the greedy fold replay") {
    import spark.implicits._
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"lang", $"n_chars".cast("long"))
      .as[(String, String, Long)].collect().toSeq
    val src = docs.groupBy(_._1).toSeq.map { case (s0, rows) =>
      val supply = rows.map(_._3 / 4).sum
      val q = rows.count(_._2 == "en").toLong * 1000000L / rows.size
      (s0, q, supply)
    }.sortBy(t => (-t._2, t._1))
    val budget = src.map(_._3).sum * 2 / 5
    var cum = 0L
    val exp = src.map { case (s0, q0, sup) =>
      cum += sup
      val alloc = math.max(0L, math.min(sup, budget - (cum - sup)))
      (s0, q0, sup, budget, alloc, if (alloc == sup) 1L else 0L)
    }
    val got = q("q397_token_budget_allocation").collect()
    assert(got.length == exp.length)
    got.zip(exp).foreach { case (row, e) =>
      assert((row.getString(0), row.getLong(1), row.getLong(2), row.getLong(3),
        row.getLong(4), row.getLong(5)) == e)
    }
    // the waterfill identity: allocations exactly exhaust the budget
    // (supply exceeds the 40% budget by construction)
    assert(exp.map(_._5).sum == budget)
  }
}
