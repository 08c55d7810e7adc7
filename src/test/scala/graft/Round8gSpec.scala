package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8g operators (q218–q219): imperative
  * recomputations of keyframe selection and the l-diversity ladder. */
class Round8gSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ----- q218 keyframe selection ----------------------------------------

  test("q218 matches an imperative shot detector; the first frame is always kept") {
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .filter($"doc_id" < 200 && octet_length($"text") === length($"text"))
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val expected = docs.sortBy(_._1).map { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val chunks = math.max(1, (bytes.length + 63) / 64)
      val widths = (0 until chunks).map { i =>
        val b0 = if (i * 64 < bytes.length) bytes(i * 64) & 0xff else 0
        32L + b0 % 64
      }
      val isKf = widths.zipWithIndex.map { case (w, i) =>
        i == 0 || math.abs(w - widths(i - 1)) >= 16 }
      val kfIdx = isKf.zipWithIndex.collect { case (true, i) => i.toLong }
      (id, chunks.toLong, kfIdx.size.toLong, kfIdx.sum, kfIdx.min, kfIdx.max)
    }
    val df = q("q218_keyframe_selection")(spark, TestSpark.Sf)
    val got = df.as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the first frame of every clip is a keyframe, so the selection is
    // never empty and always starts at 0
    assert(got.forall(r => r._3 >= 1L && r._5 == 0L))
    // selection keeps a strict subset where any near-duplicate run exists
    assert(got.map(_._3).sum < got.map(_._2).sum)
  }

  // ----- q219 l-diversity ------------------------------------------------

  test("q219 matches an imperative diversity ladder; exposure is monotone in l") {
    val rows = Tables.t(spark, TestSpark.Sf, "customer")
      .select($"c_nationkey", $"c_acctbal", $"c_mktsegment")
      .as[(Int, Double, String)].collect().toSeq
    val groups = rows.groupBy(r => (r._1, math.floor(r._2 / 1000).toLong)).values
      .map(g => (g.size.toLong, g.map(_._3).distinct.size.toLong)).toSeq
    val tRows = groups.map(_._1).sum
    val expected = Seq(2L, 3L, 4L, 5L).map { l =>
      val below = groups.filter(_._2 < l)
      (l, below.size.toLong, below.map(_._1).sum,
        1000000L * below.map(_._1).sum / tRows)
    }
    val got = q("q219_l_diversity")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.map(_._3) == got.map(_._3).sorted)
    // l=2 exposure = members of single-segment groups, recomputed directly
    val singles = groups.filter(_._2 == 1L).map(_._1).sum
    assert(got.head._3 == singles)
  }
}
