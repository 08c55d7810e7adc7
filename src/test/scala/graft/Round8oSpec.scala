package graft

import graft.PlanText.PlanTextOps

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark.q

/** Behavior pins for the Round8o operators (q251–q255): imperative
  * recomputation of each result plus the defining invariants (BFS
  * layer parity on a bipartite graph, SSSP triangle inequality vs hop
  * distance, kappa ≤ raw agreement, broadcast plan shape for the
  * gazetteer join, advisor picks the true minimum).
  */
class Round8oSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private def toks(text: String): Seq[String] =
    normText(text).split(" ").filter(_.nonEmpty).toSeq

  private lazy val edges: Seq[(Long, Long, Long)] = {
    val pairs = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_partkey", $"l_suppkey", $"l_quantity".cast("long"))
      .as[(Long, Long, Long)].collect().toSeq
      .groupBy(p => (p._1 * 2, p._2 * 2 + 1)).toSeq
      .map { case ((u, v), g) => (u, v, g.map(_._3).min) }
    pairs ++ pairs.map(p => (p._2, p._1, p._3))
  }

  // ----- q251 multi-source BFS ---------------------------------------------

  test("q251 matches an imperative BFS; bipartite layer parity holds") {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seeds = edges.map(_._1).distinct.sorted.take(4)
    val expected = seeds.flatMap { seed =>
      var dist = Map(seed -> 0L)
      for (r <- 1 to 4) {
        val frontier = dist.filter(_._2 == r - 1).keys
        frontier.flatMap(n => adj.getOrElse(n, Nil)).foreach { v =>
          if (!dist.contains(v)) dist += v -> r.toLong
        }
      }
      dist.groupBy(_._2).toSeq.map { case (d, m) =>
        (seed, d, m.size.toLong, m.keys.sum)
      }
    }.sortBy(r => (r._1, r._2))
    val got = q("q251_multi_source_bfs")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // bipartite parity: an even seed reaches even nodes at even dist only
    // (checksum of a layer of even nodes is even; odd layers hold odd ids)
    got.foreach { case (seed, d, n, ck) =>
      if (seed % 2 == 0 && d % 2 == 0) assert(ck % 2 == 0 || n % 2 == 0)
    }
    // layer 0 is exactly the seed itself
    assert(got.filter(_._2 == 0L).forall(r => r._3 == 1L && r._4 == r._1))
  }

  // ----- q252 bounded Bellman–Ford -----------------------------------------

  test("q252 matches an imperative 3-round relaxation; dist bounded by 50/hop") {
    val seed = edges.map(_._1).distinct.min
    var dist = Map(seed -> 0L)
    for (_ <- 1 to 3) {
      val relax = edges.flatMap { case (u, v, w) =>
        dist.get(u).map(d => v -> (d + w)) }
      dist = (dist.toSeq ++ relax).groupBy(_._1).view
        .mapValues(_.map(_._2).min).toMap
    }
    val expected = dist.values.groupBy(_ / 10).toSeq.map { case (b, ds) =>
      (b, ds.size.toLong, ds.sum, ds.min, ds.max)
    }.sortBy(_._1)
    val got = q("q252_sssp_bellman_ford")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // quantity is 1..50, three hops max: every distance ≤ 150
    assert(got.forall(_._5 <= 150L))
  }

  // ----- q253 Cohen's kappa ------------------------------------------------

  test("q253 matches an imperative kappa; kappa ≤ raw agreement, > 0 here") {
    val rows = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toSeq
    val ab = rows.map { case (id, nc) =>
      val sig = nc >= 250
      val a = sig != (h32("annA|" + id) % 10 == 0)
      val b = sig != (h32("annB|" + id) % 5 == 0)
      (a, b)
    }
    val n = ab.size.toLong
    val n11 = ab.count(p => p._1 && p._2).toLong
    val n10 = ab.count(p => p._1 && !p._2).toLong
    val n01 = ab.count(p => !p._1 && p._2).toLong
    val n00 = ab.count(p => !p._1 && !p._2).toLong
    val po = 1000000L * (n11 + n00) / n
    val pe = (1000000L * (BigInt(n11 + n10) * (n11 + n01) +
      BigInt(n01 + n00) * (n10 + n00)) / (BigInt(n) * n)).toLong
    val kappa = 1000000L * (po - pe) / (1000000L - pe)
    val got = q("q253_cohens_kappa")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().head
    assert(got == ((n, n11, n10, n01, n00, po, pe, kappa)))
    assert(kappa <= po)      // chance correction only subtracts
    assert(kappa > 0L)       // the shared signal dominates the flip noise
  }

  // ----- q254 gazetteer match ----------------------------------------------

  test("q254 matches an imperative dictionary tagger and broadcasts the gazetteer") {
    val gaz = Tables.t(spark, TestSpark.Sf, "part")
      .select($"p_name").as[String].collect()
      .flatMap(_.toLowerCase.split(" ")).filter(_.nonEmpty).toSet
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"text").as[(String, String)].collect().toSeq
    val expected = docs.groupBy(_._1).toSeq.map { case (src, ds) =>
      val ts = ds.flatMap(d => toks(d._2))
      val hits = ts.filter(gaz.contains)
      val byEnt = hits.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val top = if (byEnt.isEmpty) ""
        else byEnt.toSeq.minBy { case (e, c) => (-c, e) }._1
      (src, ts.size.toLong, hits.size.toLong, byEnt.size.toLong,
        1000000L * hits.size / ts.size, top)
    }.sortBy(_._1)
    val df = q("q254_gazetteer_match")(spark, TestSpark.Sf)
    val got = df.as[(String, Long, Long, Long, Long, String)].collect().toSeq
    assert(got == expected)
    // the dictionary side must broadcast — the corpus never re-partitions
    val plan = df.planText
    assert(plan.contains("BroadcastHashJoin"))
  }

  // ----- q255 encoding advisor ---------------------------------------------

  test("q255 matches an imperative cost model; the choice is the true minimum") {
    val li = Tables.t(spark, TestSpark.Sf, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_returnflag",
        $"l_quantity".cast("long"),
        datediff($"l_shipdate".cast("date"), lit("1970-01-01").cast("date")).cast("long"))
      .as[(Long, Int, String, Long, Long)].collect().toSeq
    val cols: Seq[(String, Long, Seq[(Long, Int, String, Option[Long])])] = Seq(
      ("c1_orderkey", 8L, li.map(r => (r._1, r._2, r._1.toString, Some(r._1)))),
      ("c2_returnflag", 1L, li.map(r => (r._1, r._2, r._3, None))),
      ("c3_quantity", 8L, li.map(r => (r._1, r._2, r._4.toString, Some(r._4)))),
      ("c4_shipday", 4L, li.map(r => (r._1, r._2, r._5.toString, Some(r._5)))))
    val expected = cols.map { case (cname, width, rows) =>
      val sorted = rows.sortBy(r => (r._1, r._2, r._3))
      val n = sorted.size.toLong
      val ndv = sorted.map(_._3).distinct.size.toLong
      val runs = sorted.map(_._3).foldLeft((0L, Option.empty[String])) {
        case ((acc, prev), v) => (if (prev.contains(v)) acc else acc + 1, Some(v))
      }._1
      val deltas = sorted.map(_._4).sliding(2).collect {
        case Seq(Some(a), Some(b)) => b - a }.toSeq
      val estPlain = n * width
      val dictIx = if (ndv <= 256) 1L else if (ndv <= 65536) 2L else 4L
      val estDict = n * dictIx + ndv * width
      val estRle = runs * (width + 4)
      val estDelta =
        if (rows.head._4.isEmpty || deltas.exists(_ < 0)) None
        else Some(n * java.lang.Long.toBinaryString(math.max(deltas.max, 1)).length / 8 + 8)
      val choice =
        if (estDelta.exists(d => d <= estDict && d <= estRle && d <= estPlain)) "delta"
        else if (estDict <= estRle && estDict <= estPlain) "dict"
        else if (estRle <= estPlain) "rle"
        else "plain"
      (cname, n, ndv, runs, estPlain, estDict, estRle, estDelta, choice)
    }
    val got = q("q255_encoding_advisor")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long, Long, Option[Long], String)]
      .collect().toSeq
    assert(got == expected)
    // the advisor's pick really is the cheapest estimate per column
    got.foreach { case (_, _, _, _, p, d, r, del, choice) =>
      val all = Seq("plain" -> Some(p), "dict" -> Some(d), "rle" -> Some(r),
        "delta" -> del).collect { case (k, Some(v)) => k -> v }
      assert(all.find(_._1 == choice).get._2 == all.map(_._2).min)
    }
  }
}
