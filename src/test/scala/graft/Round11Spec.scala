package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.operators.{EvalMetricQueries, GraphQueries}

/** Behavior pins for the round-11 staged execution forms: slicing is a
  * pure physical re-plan, so EVERY slice count must reproduce the
  * single-shot result bit for bit — including slices=1 (degenerate
  * staging) and a slice count that doesn't divide the key space
  * evenly. A drift here would mean the slice key leaked into the
  * semantics (e.g. a wedge group straddling two slices).
  */
class Round11Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("q353 staged AA is bit-identical to single-shot q321 for slices in {1, 3, 4}") {
    val single = rows(SparkEntry.queries("q321_adamic_adar_capped")(spark, TestSpark.Sf))
    assert(single.nonEmpty)
    for (b <- Seq(1, 3, 4)) {
      val staged = rows(EvalMetricQueries.adamicAdarStaged(
        spark, TestSpark.Sf, EvalMetricQueries.AaCap, b))
      assert(staged == single, s"staged AA diverged at slices=$b")
    }
  }

  test("q354 staged local clustering is bit-identical to single-shot q272 for slices in {1, 3, 4}") {
    val single = rows(SparkEntry.queries("q272_local_clustering")(spark, TestSpark.Sf))
    assert(single.nonEmpty)
    for (b <- Seq(1, 3, 4)) {
      val staged = rows(GraphQueries.localClusteringStaged(spark, TestSpark.Sf, b))
      assert(staged == single, s"staged clustering diverged at slices=$b")
    }
  }

  test("the gated entries run the shipped dial and share the single-shot oracles") {
    assert(GraphQueries.StagedSlices > 1) // staging actually engaged
    assert(SparkEntry.oracleSql("q353_adamic_adar_staged") ==
      SparkEntry.oracleSql("q321_adamic_adar_capped"))
    assert(SparkEntry.oracleSql("q354_local_clustering_staged") ==
      SparkEntry.oracleSql("q272_local_clustering"))
  }
}
