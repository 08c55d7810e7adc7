package graft

import graft.PlanText.PlanTextOps

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Dedup
import graft.TestSpark.q

/** Behavior pins for the Round8d operators (q211–q213): imperative
  * recomputations of the banding S-curve, the Poisson bootstrap, and the
  * stale-index audit, plus plan/shape assertions. */
class Round8dSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  // ----- q211 banding planner --------------------------------------------

  test("q211 matches an imperative S-curve audit; catch counts are monotone in b") {
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"text").as[(String, String)].collect()
    def shingles(t: String): Seq[String] = {
      val ws = normText(t).split(" ").toSeq
      if (ws.size < 3) Seq(ws.mkString(" ")) else ws.sliding(3).map(_.mkString(" ")).toSeq
    }
    val bySrc = docs.groupBy(_._1).view
      .mapValues(_.flatMap(d => shingles(d._2)).toSet).toMap
    val sigs = bySrc.map { case (src, toks) =>
      val hs = toks.map(h32)
      val mh = (0 until 8).map { k =>
        val (a, b) = Dedup.permConsts(k)
        hs.map(h => (h * a + b) % Dedup.HashPrime).min
      }
      src -> (toks, mh)
    }
    val srcs = sigs.keys.toSeq.sorted
    def micro(p: Double): Long = math.floor(p * 1000000 + 0.5).toLong
    var agg = Map("b2_r4" -> (0L, 0L), "b4_r2" -> (0L, 0L), "b8_r1" -> (0L, 0L))
    var nPairs = 0L
    for (i <- srcs.indices; j <- (i + 1) until srcs.size) {
      nPairs += 1
      val (ta, ma) = sigs(srcs(i)); val (tb, mb) = sigs(srcs(j))
      val s = ta.intersect(tb).size.toDouble / ta.union(tb).size
      val m = (0 until 8).map(k => ma(k) == mb(k))
      val caught = Map(
        "b8_r1" -> m.exists(identity),
        "b4_r2" -> (0 until 4).exists(b => m(2 * b) && m(2 * b + 1)),
        "b2_r4" -> Seq(m.take(4), m.drop(4)).exists(_.forall(identity)))
      def sq(x: Double) = x * x
      val exp = Map(
        "b8_r1" -> micro(1 - sq(sq(1 - s)) * sq(sq(1 - s))),
        "b4_r2" -> micro(1 - sq(sq(1 - s * s))),
        "b2_r4" -> micro(1 - sq(1 - sq(s) * sq(s))))
      agg = agg.map { case (cfg, (c, e)) =>
        cfg -> (c + (if (caught(cfg)) 1L else 0L), e + exp(cfg)) }
    }
    val expected = agg.toSeq.sortBy(_._1).map { case (cfg, (c, e)) =>
      (cfg, nPairs, c, e) }
    val got = q("q211_lsh_banding_planner")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // more rows per band = stricter: catches and expectations both fall
    val byCfg = got.map(r => r._1 -> (r._3, r._4)).toMap
    assert(byCfg("b2_r4")._1 <= byCfg("b4_r2")._1)
    assert(byCfg("b4_r2")._1 <= byCfg("b8_r1")._1)
    assert(byCfg("b2_r4")._2 <= byCfg("b4_r2")._2)
    assert(byCfg("b4_r2")._2 <= byCfg("b8_r1")._2)
  }

  // ----- q212 Poisson bootstrap ------------------------------------------

  test("q212 matches an imperative Poisson bootstrap; weights are Poisson(1)-shaped") {
    val ts = Seq(367879441L, 735758882L, 919698603L, 981011843L,
      996340153L, 999405815L, 999916759L, 999989751L)
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect()
    val n = docs.length.toLong
    val fullMean = 1000000L * docs.map(_._2).sum / n
    val expected = (0L to 7L).map { rep =>
      val ws = docs.map { case (id, nc) =>
        val u = h32(s"bs|$id|$rep") % 1000000000L
        (ts.count(u >= _).toLong, nc)
      }
      val nEff = ws.map(_._1).sum
      (rep, nEff, 1000000L * ws.map(w => w._1 * w._2).sum / nEff, fullMean)
    }
    val got = q("q212_poisson_bootstrap")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // Poisson(1): each replicate's effective mass stays near n
    assert(got.forall(r => r._2 > n * 7 / 10 && r._2 < n * 13 / 10))
    // the replicate spread brackets a plausible CI around the point
    // estimate (weak: no replicate is wildly off)
    assert(got.forall(r => math.abs(r._3 - fullMean) < fullMean / 2))
  }

  // ----- q213 IVF staleness ----------------------------------------------

  test("q213 matches an imperative stale-index audit; shares sum to one per snapshot") {
    val qvecs = Tables.t(spark, TestSpark.Sf, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toSeq
      .map { case (id, e) =>
        val qv = e.map(x => math.round(x.toDouble * 10000).toDouble)
        (id, qv, qv.map(x => x * x).sum)
      }
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    def rnd(x: Double): Double =
      if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)
    def cos(qv: Array[Double], n2: Double, cv: Array[Double], cn2: Double): Double =
      dot(qv, cv) / math.sqrt(n2 * cn2)
    val old = qvecs.filter(_._1 % 2 == 0)
    var cents = old.filter(p => p._1 % 100 == 0 && p._1 < 2000)
      .map { case (id, v, n2) => (id, v, n2) }
    for (_ <- 1 to 2) {
      val asg = old.map { case (_, v, n2) =>
        val c = cents.maxBy { case (cid, cv, cn2) => (cos(v, n2, cv, cn2), -cid) }
        (c._1, v)
      }
      cents = asg.groupBy(_._1).toSeq.map { case (cid, grp) =>
        val dim = grp.head._2.length
        val cv = (0 until dim).map(i => rnd(grp.map(_._2(i)).sum / grp.size)).toArray
        (cid, cv, cv.map(x => x * x).sum)
      }.sortBy(_._1)
    }
    val asg = qvecs.map { case (id, v, n2) =>
      val c = cents.maxBy { case (cid, cv, cn2) => (cos(v, n2, cv, cn2), -cid) }
      (c._1, id, math.floor(cos(v, n2, c._2, c._3) * 1000000 + 0.5).toLong,
        id % 2 == 0)
    }
    val tOld = asg.count(_._4).toLong; val tNew = asg.count(!_._4).toLong
    val expected = asg.groupBy(_._1).toSeq.sortBy(_._1).map { case (cid, grp) =>
      val (o, nw) = grp.partition(_._4)
      (cid, o.size.toLong, nw.size.toLong,
        1000000L * o.size / tOld, 1000000L * nw.size / tNew,
        if (o.nonEmpty) o.map(_._3).sum / o.size else 0L,
        if (nw.nonEmpty) nw.map(_._3).sum / nw.size else 0L)
    }
    val df = q("q213_ivf_staleness")(spark, TestSpark.Sf)
    val got = df.as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // shares are complete partitions of each snapshot (mod rounding)
    assert(math.abs(got.map(_._4).sum - 1000000L) <= got.size)
    assert(math.abs(got.map(_._5).sum - 1000000L) <= got.size)
    // assignment is a broadcast-centroid pass — no shuffle join of the
    // corpus against the centroid table
    val plan = df.planText
    assert(!plan.contains("SortMergeJoin"))
  }
}
