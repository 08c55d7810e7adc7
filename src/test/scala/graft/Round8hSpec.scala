package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ext.Dedup
import graft.TestSpark.q

/** Behavior pins for the Round8h operators (q220–q222): imperative
  * recomputations of the variance decomposition, the negative-sampling
  * screen, and the contract suite. */
class Round8hSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  // ----- q220 stratification gain ----------------------------------------

  test("q220 matches an imperative variance decomposition; gain is a fraction") {
    val rows = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"n_chars").as[(String, Long)].collect().toSeq
    val per = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, g) =>
      val n = g.size.toLong; val sx = g.map(_._2).sum
      val sxx = g.map(r => r._2 * r._2).sum
      (src, n, 1000000L * sx / n, (n * sxx - sx * sx) / n, sx, sxx)
    }
    val n = rows.size.toLong
    val tsx = rows.map(_._2).sum
    val tsxx = rows.map(r => r._2 * r._2).sum
    val ssw = per.map(_._4).sum
    val sst = (n * tsxx - tsx * tsx) / n
    val gain = 1000000L * (sst - ssw) / sst
    val expected = per.map { case (src, ns, mean, sswp, _, _) =>
      (src, ns, mean, sswp, ssw, sst, gain) }
    val got = q("q220_stratification_gain")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(gain > 0L && gain < 1000000L)
  }

  // ----- q221 negative sampling ------------------------------------------

  test("q221 matches an imperative screen; every in-bucket hard proposal is rejected") {
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq.sortBy(_._1)
    def shingles(t: String): Seq[String] = {
      val ws = normText(t).split(" ").toSeq
      if (ws.size < 3) Seq(ws.mkString(" ")) else ws.sliding(3).map(_.mkString(" ")).toSeq
    }
    val bands = docs.map { case (id, t) =>
      val hs = shingles(t).distinct.map(h32).distinct
      val mh = (0 until 8).map { k =>
        val (a, b) = Dedup.permConsts(k)
        hs.map(h => (h * a + b) % Dedup.HashPrime).min
      }
      id -> (0 until 4).map(b => md5hex(s"${mh(2 * b)}|${mh(2 * b + 1)}")).toVector
    }.toMap
    val nDocs = docs.size.toLong
    val byB0 = bands.toSeq.groupBy(_._2.head)
    val expected = docs.map(_._1).map { anchor =>
      val uniform = (1 to 5).map(j => h32(s"neg|$anchor|$j") % nDocs)
      val partner = byB0(bands(anchor).head).map(_._1).filter(_ != anchor)
        .sorted.headOption
      val props = uniform ++ partner.toSeq
      val scored = props.map { neg =>
        val self = neg == anchor
        val dup = !self && bands(anchor).intersect(bands(neg)).nonEmpty
        (neg, self, dup)
      }
      val kept = scored.filter(p => !p._2 && !p._3)
      (anchor, props.size.toLong, scored.count(_._2).toLong,
        scored.count(_._3).toLong, kept.size.toLong, kept.map(_._1).sum)
    }
    val got = q("q221_negative_sampling")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the hard-proposal path exists on this corpus and is always caught:
    // anchors with 6 proposals have at least one band-dup rejection
    val withHard = got.filter(_._2 == 6L)
    assert(withHard.nonEmpty)
    assert(withHard.forall(_._4 >= 1L))
  }

  // ----- q222 quality contract -------------------------------------------

  test("q222 matches an imperative contract run; exactly the discount gate fails") {
    val li = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_discount")
      .as[(Long, Double, Double)].collect().toSeq
    val orders = Tables.t(spark, TestSpark.Sf, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        unix_micros($"o_orderdate".cast("timestamp")).as("od"))
      .as[(Long, Long, Double, Long)].collect().toSeq
    val cust = Tables.t(spark, TestSpark.Sf, "customer")
      .select($"c_custkey").as[Long].collect().toSet
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"n_chars").as[Long].collect().toSeq
    val okeys = orders.map(_._1).toSet
    val t96 = java.time.Instant.parse("1996-01-01T00:00:00Z").toEpochMilli * 1000L
    def frac(num: Long, den: Long) = 1000000L * num / den
    val metrics = Seq(
      ("c1_orders_pk_unique", frac(okeys.size.toLong, orders.size.toLong), 1000000L),
      ("c2_lineitem_fk_orders",
        frac(li.count(r => okeys(r._1)).toLong, li.size.toLong), 1000000L),
      ("c3_orders_fk_customer",
        frac(orders.count(o => cust(o._2)).toLong, orders.size.toLong), 1000000L),
      ("c4_quantity_in_1_50",
        frac(li.count(r => r._2 >= 1 && r._2 <= 50).toLong, li.size.toLong), 1000000L),
      ("c5_discount_le_8pct_99",
        frac(li.count(_._3 <= 0.08).toLong, li.size.toLong), 990000L),
      ("c6_totalprice_positive",
        frac(orders.count(_._3 > 0).toLong, orders.size.toLong), 1000000L),
      ("c7_orders_since_1996",
        frac(orders.count(_._4 >= t96).toLong, orders.size.toLong), 750000L),
      ("c8_docs_nonempty",
        frac(docs.count(_ >= 1L).toLong, docs.size.toLong), 1000000L))
    val expected = metrics.map { case (n, m, th) =>
      (n, m, th, if (m >= th) 1L else 0L) }
    val got = q("q222_quality_contract")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // a gate that cannot fail verifies nothing — this one can, and does,
    // exactly where the contract is stricter than the generator
    assert(got.filter(_._4 == 0L).map(_._1) == Seq("c5_discount_le_8pct_99"))
  }
}
