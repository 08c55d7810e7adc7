package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8t operators (q270–q274): imperative
  * recomputation of each result plus the defining invariants (seasonal
  * means absorb variance, assortativity bounded and negative on a
  * bipartite supply graph, per-node triangles consistent with the
  * global count, the chi-square identity, burstiness ≥ the Poisson
  * floor).
  */
class Round8tSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  // ----- q270 STL-lite ------------------------------------------------------

  test("q270 matches an imperative decomposition; seasonal means absorb SS") {
    val daily = Tables.t(spark, TestSpark.Sf, "events")
      .select(datediff(to_date($"ts".cast("timestamp")),
        lit("1970-01-01").cast("date")).cast("long"),
        floor($"value" + 0.5).cast("long"))
      .as[(Long, Long)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    val n = daily.size
    val full = (3 until n - 3).map { i =>
      val win = daily.slice(i - 3, i + 4).map(_._2).sum
      val (epd, dv) = daily(i)
      (epd % 7, dv - win / 7)
    }
    val seas = full.groupBy(_._1).view
      .mapValues(g => (g.size.toLong, g.map(_._2).sum / g.size)).toMap
    val ssD = full.map(r => BigInt(r._2) * r._2).sum.toLong
    val ssR = full.map(r => BigInt(r._2 - seas(r._1)._2) * (r._2 - seas(r._1)._2))
      .sum.toLong
    val expected = seas.toSeq.map { case (dow, (nd, su)) => (dow, nd, su, ssD, ssR) }
      .sortBy(_._1)
    val got = q("q270_stl_lite")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // subtracting group means can only reduce a sum of squares
    assert(got.head._5 <= got.head._4)
  }

  // ----- q271 assortativity -------------------------------------------------

  test("q271 matches an imperative Pearson r; bipartite supply graph is disassortative") {
    val e0 = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_partkey" * 2, $"l_suppkey" * 2 + 1).as[(Long, Long)]
      .collect().toSet
    val e = e0.toSeq ++ e0.toSeq.map(_.swap)
    val deg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val xy = e.map { case (u, v) => (deg(u), deg(v)) }
    val nn = BigInt(xy.size)
    val sx = xy.map(p => BigInt(p._1)).sum
    val sy = xy.map(p => BigInt(p._2)).sum
    val sxy = xy.map(p => BigInt(p._1) * p._2).sum
    val sx2 = xy.map(p => BigInt(p._1) * p._1).sum
    val sy2 = xy.map(p => BigInt(p._2) * p._2).sum
    val r = (nn.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
      math.sqrt((nn.toDouble * sx2.toDouble - sx.toDouble * sx.toDouble) *
        (nn.toDouble * sy2.toDouble - sy.toDouble * sy.toDouble))
    val expected = (xy.size.toLong, math.floor(r * 1e6 + 0.5).toLong)
    val got = q("q271_degree_assortativity")(spark, TestSpark.Sf)
      .as[(Long, Long)].collect().head
    assert(got == expected)
    assert(got._2 >= -1000000L && got._2 <= 1000000L)
    // every part joins to high-degree suppliers and vice versa: r < 0
    assert(got._2 < 0L)
  }

  // ----- q272 local clustering ----------------------------------------------

  test("q272 matches an imperative per-node clustering histogram; 3·triangles conserve") {
    val items = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect().toSet
    val e = items.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).toSeq.distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
    }.toSet
    val adj = (e.toSeq ++ e.toSeq.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    val triPerNode = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    e.foreach { case (a, b) =>
      // count each triangle once via its (a, b) edge with c > b
      (adj(a) & adj(b)).filter(c => c > b).foreach { c =>
        triPerNode(a) += 1; triPerNode(b) += 1; triPerNode(c) += 1
      }
    }
    val expected = deg.toSeq.filter(_._2 >= 2).map { case (v, d) =>
      val t = triPerNode(v)
      val cc = (BigInt(1000000) * 2 * t / (BigInt(d) * (d - 1))).toLong
      if (cc >= 1000000L) 9L else cc / 100000L
    }.groupBy(identity).toSeq.map { case (b, g) =>
      val nodes = deg.toSeq.filter(_._2 >= 2).filter { case (v, d) =>
        val cc = (BigInt(1000000) * 2 * triPerNode(v) / (BigInt(d) * (d - 1))).toLong
        (if (cc >= 1000000L) 9L else cc / 100000L) == b
      }
      (b, g.size.toLong, nodes.map(n => triPerNode(n._1)).sum,
        nodes.map(_._2).sum)
    }.sortBy(_._1)
    val got = q("q272_local_clustering")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // Σ per-node triangle incidences = 3 × the global triangle count
    assert(got.map(_._3).sum % 3 == 0)
  }

  // ----- q273 hash uniformity -----------------------------------------------

  test("q273 matches an imperative chi-square; identity equals the direct sum") {
    def chi(keys: Seq[String]): (Long, Long, Long) = {
      val buckets = keys.map(k => h32("u|" + k) % 64)
      val cells = buckets.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = keys.size.toLong
      val so2 = cells.values.map(o => BigInt(o) * o).sum
      val chi2 = (BigInt(1000000) * (BigInt(64) * so2 - BigInt(n) * n) / n).toLong
      // direct definition over ALL 64 cells (empties included)
      val direct = (0L until 64L).map { b =>
        val o = cells.getOrElse(b, 0L).toDouble
        val exp = n.toDouble / 64
        (o - exp) * (o - exp) / exp
      }.sum
      assert(math.abs(direct * 1e6 - chi2.toDouble) < 2.0)
      (n, cells.size.toLong, chi2)
    }
    val ids = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id").as[Long].collect().toSeq.map(_.toString)
    val oks = Tables.t(spark, TestSpark.Sf, "orders")
      .select($"o_orderkey").distinct().as[Long].collect().toSeq.map(_.toString)
    val expected = Seq("doc_id" -> chi(ids), "o_orderkey" -> chi(oks))
      .map { case (kt, (n, k, c)) =>
        (kt, n, k, c, 82529000L, if (c < 82529000L) 1L else 0L) }
      .sortBy(_._1)
    val got = q("q273_hash_uniformity")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the statistic is a scaled sum of squares: nonnegative, and the
    // flag is exactly the chi2-vs-critical comparison
    assert(got.forall(r => r._4 >= 0L && (r._6 == 1L) == (r._4 < r._5)))
  }

  // ----- q274 burstiness ----------------------------------------------------

  test("q274 matches an imperative VMR; zeros-included identity holds") {
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val nd = docs.size.toLong
    val perDoc = docs.flatMap { case (id, t) =>
      normText(t).split(" ").filter(_.nonEmpty).map(tok => (tok, id)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((tok, id), c) => (tok, id, c) }
    val terms = perDoc.groupBy(_._1).view.mapValues { g =>
      (g.map(_._3).sum, g.size.toLong, g.map(r => BigInt(r._3) * r._3).sum)
    }.toSeq
    val top = terms.sortBy { case (tok, (t, _, _)) => (-t, tok) }.take(20)
    val expected = top.map { case (tok, (t, dw, sc2)) =>
      val vmr = (BigInt(1000000) * (BigInt(nd) * sc2 - BigInt(t) * t) /
        (BigInt(nd) * t)).toLong
      (tok, t, dw, vmr)
    }.sortBy(r => (-r._2, r._1))
    val got = q("q274_token_burstiness")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // VMR identity cross-check on the top term, zeros enumerated
    val (tok0, t0, _, vmr0) = got.head
    val counts = docs.map { case (_, t) =>
      normText(t).split(" ").count(_ == tok0).toLong }
    val mean = t0.toDouble / nd
    val varz = counts.map(c => (c - mean) * (c - mean)).sum / nd
    assert(math.abs(varz / mean * 1e6 - vmr0.toDouble) < 2.0)
  }
}
