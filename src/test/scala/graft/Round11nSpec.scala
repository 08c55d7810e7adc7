package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, TextAnalysis => TA}

/** Behavior pins for the threshold-sweep scale paths (q410/q411):
  * brute-force all-pairs replays of both curves, plus the two
  * set-containment laws the batteries rest on (blocked ⊆ exact,
  * LSH ⊆ exact).
  */
class Round11nSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def q(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.Sf)

  private val Taus = Seq(500000L, 600000L, 700000L, 800000L, 900000L)

  /** All-pairs micro-Jaccard curve over per-doc distinct-long sets. */
  private def bruteCurve(sets: Seq[(Long, Set[Long])]): Map[Long, (Long, Long)] = {
    val pairs = for {
      (ia, ga) <- sets; (ib, gb) <- sets if ia < ib
      inter = ga.intersect(gb).size.toLong
      uni = ga.size + gb.size - inter
      j = 1000000L * inter / uni if j >= 500000L
    } yield (ia, ib, j)
    Taus.map { t =>
      val hits = pairs.filter(_._3 >= t)
      t -> (hits.size.toLong,
        hits.flatMap(p => Seq(p._1, p._2)).distinct.size.toLong)
    }.toMap
  }

  test("q410 equals the brute-force all-pairs curve; dominates blocked q408") {
    import spark.implicits._
    val sets = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", TA.charNgramInts($"text", 3))
      .as[(Long, Seq[Long])].collect().toSeq.map { case (i, g) => (i, g.toSet) }
    val brute = bruteCurve(sets)
    val got410 = q("q410_threshold_curve_exact").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got410 == brute, "prefix-filtered sweep must equal the enumeration")
    val got408 = q("q408_dedup_threshold_curve").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Taus.foreach { t =>
      assert(got408(t) <= got410(t)._1,
        s"bucket blocking found pairs the lossless sweep missed at tau=$t")
    }
  }

  test("q411 exact side equals the brute-force curve; LSH never exceeds it") {
    import spark.implicits._
    val sets = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id",
        graft.functions.WordShingleHash32(TA.normText($"text"), 3))
      .as[(Long, Seq[Long])].collect().toSeq.map { case (i, g) => (i, g.toSet) }
    val brute = bruteCurve(sets)
    val got = q("q411_lsh_recall_curve").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(got.map(_._1).toSeq == Taus)
    got.foreach { case (t, nExact, nLsh, recall) =>
      assert(nExact == brute(t)._1, s"tau=$t exact count")
      assert(nLsh <= nExact, s"tau=$t LSH found a pair outside the exact set")
      assert(recall == (if (nExact == 0) None
        else Some(1000000L * nLsh / nExact)), s"tau=$t recall")
    }
  }

  test("prefixFilterPairsMicro: integer pruning loses nothing vs the double form") {
    import spark.implicits._
    val docs = Tables.t(spark, TestSpark.Sf, "documents").select(
      $"doc_id".as("id"), TA.charNgramInts($"text", 3).as("grams"))
    val micro = Dedup.prefixFilterPairsMicro(docs, 700000L)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val dbl = Dedup.prefixFilterPairs(docs, 0.7)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(micro == dbl)
  }
}
