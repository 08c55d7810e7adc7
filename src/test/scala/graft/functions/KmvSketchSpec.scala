package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class KmvSketchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("estimate within 15% on 10k distinct values (k=256)") {
    val agg = KmvDistinct(256)
    val buf = (1 to 10000).foldLeft(agg.zero)((b, i) => agg.reduce(b, s"value_$i"))
    val est = agg.finish(buf)
    assert(math.abs(est - 10000.0) / 10000.0 < 0.15, s"estimate $est")
  }

  test("exact below k; duplicates don't inflate") {
    val agg = KmvDistinct(64)
    val buf = (1 to 40).foldLeft(agg.zero)((b, i) => agg.reduce(b, s"v${i % 20}"))
    assert(agg.finish(buf) == 20L)
  }

  test("merge is associative-equivalent to single-pass") {
    val agg = KmvDistinct(128)
    val items = (1 to 5000).map(i => s"item_$i")
    val single = items.foldLeft(agg.zero)(agg.reduce)
    val (l, r) = items.splitAt(2000)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(agg.finish(single) == agg.finish(merged))
    assert(single.toSeq == merged.toSeq)
  }

  test("works as a DataFrame UDAF with map-side combine") {
    val df = (1 to 5000).map(i => (i % 5, s"u${i % 997}")).toDF("g", "v")
    val got = df.groupBy($"g").agg(KmvDistinct.udf(256)($"v").as("est"))
      .orderBy("g").select("est").as[Long].collect()
    // each group sees all 997 distinct values
    got.foreach(est => assert(math.abs(est - 997.0) / 997.0 < 0.2, s"est $est"))
  }
}
