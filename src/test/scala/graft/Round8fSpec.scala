package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8f operators (q216–q217): imperative
  * recomputations plus structural invariants (reconciliation closes,
  * histogram buckets partition and tile the domain). */
class Round8fSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  // ----- q216 late-data reconciliation ----------------------------------

  test("q216 matches an imperative reconciliation; every window closes to truth") {
    val raw = Tables.t(spark, TestSpark.Sf, "events")
    val tusCol = raw.schema("ts").dataType.typeName match {
      case "timestamp_ntz" => unix_micros($"ts".cast("timestamp"))
      case _ => unix_micros($"ts")
    }
    val ev = raw.select($"event_id", tusCol.as("tus"), $"value")
      .as[(Long, Long, Double)].collect().toSeq
    val rows = ev.map { case (id, tus, v) =>
      val delay = if (h32(s"d|$id") % 10 == 0) h32(s"dd|$id") % 1800 else 0L
      val w = tus / 3600000000L
      val vm = math.floor(v * 1000000 + 0.5).toLong
      val inEmitted = tus + delay * 1000000L <= (w + 1) * 3600000000L + 600000000L
      (w, vm, inEmitted)
    }
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (w, grp) =>
      val (e, l) = grp.partition(_._3)
      (w, e.size.toLong, l.size.toLong, e.map(_._2).sum, l.map(_._2).sum,
        grp.size.toLong, grp.map(_._2).sum, 1L)
    }
    val got = q("q216_late_data_reconciliation")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the delay model actually exercises the correction path…
    assert(got.map(_._3).sum > 0L)
    // …and the merge closes to the direct recompute everywhere
    assert(got.forall(_._8 == 1L))
  }

  // ----- q217 equi-depth histogram --------------------------------------

  test("q217 matches an imperative histogram; buckets tile and partition") {
    val li = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_quantity".cast("long"), $"l_extendedprice")
      .as[(Long, Double)].collect().toSeq
    val cols = Seq(
      "l_quantity" -> li.map(_._1),
      "price_cents" -> li.map(r => math.floor(r._2 * 100 + 0.5).toLong))
    val expected = cols.flatMap { case (name, vs) =>
      val n = vs.size.toLong
      val grid = vs.groupBy(identity).view.mapValues(_.size.toLong)
        .toSeq.sortBy(_._1)
      val cum = grid.scanLeft(0L) { case (c, (_, cnt)) => c + cnt }
      val bucketed = grid.zip(cum).map { case ((v, cnt), cumPrev) =>
        (math.min(7L, cumPrev * 8 / n), v, cnt) }
      bucketed.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, grp) =>
        (name, b, grp.map(_._3).sum, grp.size.toLong,
          grp.map(_._2).min, grp.map(_._2).max) }
    }
    val got = q("q217_equidepth_histogram")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    for ((name, vs) <- cols) {
      val rows = got.filter(_._1 == name)
      // buckets partition the rows and tile the domain in order
      assert(rows.map(_._3).sum == vs.size.toLong)
      assert(rows.map(_._2) == (0L to 7L))
      assert(rows.sliding(2).forall {
        case Seq(a, b) => b._5 > a._6
        case _ => true
      })
    }
    // a continuous column splits near-evenly; the discrete one deviates
    // exactly at its heavy values
    val price = got.filter(_._1 == "price_cents").map(_._3)
    val n8 = li.size / 8
    assert(price.forall(m => math.abs(m - n8) <= n8 / 10))
  }
}
