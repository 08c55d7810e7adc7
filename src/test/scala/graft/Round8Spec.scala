package graft

import graft.PlanText.PlanTextOps

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, TextAnalysis => TA}
import graft.TestSpark.q

/** Behavior pins for the Round8 operators (q198–q199) beyond the
  * oracle gate. */
class Round8Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  // ----- q200 multi-probe kNN graph -------------------------------------

  test("q200 dominates q158's single-bucket top-3; bucket join is an equi-join") {
    val single = q("q158_knn_graph")
      .apply(spark, TestSpark.Sf)
      .select($"q_id", $"rnk", $"cos_sim")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).min).toMap
    val df = q("q200_knn_graph_multiprobe")(spark, TestSpark.Sf)
    val multi = df.select($"q_id", $"rnk", $"cos_sim")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).min).toMap
    // a superset of candidates can only raise (or keep) the weakest of
    // the top-3 — per node, multi-probe's 3rd-best >= single-bucket's
    assert(single.keySet.subsetOf(multi.keySet))
    assert(single.forall { case (id, worst) => multi(id) >= worst - 1e-12 })
    // scale shape: candidates come from a bucket equi-join, never a
    // cross product, and the every-node query side is not broadcast
    val plan = df.planText
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  // ----- q198 shard locality --------------------------------------------

  test("q198 matches an imperative shard audit over the q21 pair list") {
    // ground truth pairs and per-doc minhashes through the same shared
    // helpers the query uses (the q183 pattern), shards recomputed
    // imperatively from the raw md5s
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id".as("id"),
        graft.functions.WordShingleHash32(TA.normText($"text"), 3).as("hs"))
    val pairs = Dedup.minhashLshPairsHashed(docs, nBands = 4, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    val mh = docs.select($"id",
        Dedup.minhashInt($"hs", 0).as("m0"), Dedup.minhashInt($"hs", 1).as("m1"))
      .as[(Long, Long, Long)].collect()
    val shardHash = mh.map { case (id, _, _) => id -> h32(s"sh|$id") % 16 }.toMap
    val shardBand = mh.map { case (id, m0, m1) => id -> h32(s"$m0|$m1") % 16 }.toMap
    val nDocs = mh.length.toLong
    val nPairs = pairs.length.toLong
    val intraHash = pairs.count { case (a, b) => shardHash(a) == shardHash(b) }.toLong
    val intraBand = pairs.count { case (a, b) => shardBand(a) == shardBand(b) }.toLong
    val expected = Seq(
      ("band", nDocs, nPairs, intraBand, 1000000L * intraBand / nPairs),
      ("hash16", nDocs, nPairs, intraHash, 1000000L * intraHash / nPairs))
    val df = q("q198_shard_locality")(spark, TestSpark.Sf)
    val got = df.as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // locality ordering: the band shard keeps at least as many pairs
    // intra-shard as uniform hashing (it is equality on band 0's key)
    assert(intraBand >= intraHash)
    // all joins are equi-joins on id/band keys — no cross product
    val plan = df.planText
    assert(!plan.contains("CartesianProduct"))
  }

  // ----- q201 watermark lateness ----------------------------------------

  test("q201 ladder discriminates on a disordered stream; driver data reads fully ordered") {
    // the driver's generator emits a time-ordered stream — the honest
    // profile there is all-on-time at every horizon
    val onDriver = q("q201_watermark_lateness")(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(onDriver.map(_._1) == Seq(0L, 1L, 10L, 60L, 600L, 3600L))
    assert(onDriver.forall(r => r._3 == 0L && r._4 == 1000000L))
    // synthetic disorder: one user, 4 events; arrival order (event_id)
    // vs event time gives lateness 0, 0, 120 s, 5 s
    val dir = graft.TempScratch.fresh("graft_q201").toString
    val base = 1700000000L * 1000000L // epoch micros
    Seq(
      (1L, base + 0L, 7L, "a", 0.0, "{}"),
      (2L, base + 200L * 1000000L, 7L, "a", 0.0, "{}"),
      (3L, base + 80L * 1000000L, 7L, "a", 0.0, "{}"),   // 120 s late
      (4L, base + 195L * 1000000L, 7L, "a", 0.0, "{}"))  // 5 s late
      .toDF("event_id", "tus", "user_id", "event_type", "value", "props")
      .select($"event_id", timestamp_micros($"tus").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val got = q("q201_watermark_lateness")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val expected = Seq(
      (0L, 2L, 2L, 500000L),     // the two on-time events
      (1L, 2L, 2L, 500000L),
      (10L, 3L, 1L, 750000L),    // horizon 10 s admits the 5 s-late one
      (60L, 3L, 1L, 750000L),
      (600L, 4L, 0L, 1000000L),  // 600 s admits the 120 s-late one
      (3600L, 4L, 0L, 1000000L))
    assert(got == expected)
  }

  // ----- q202 KMV merge ---------------------------------------------------

  test("q202 matches an imperative KMV; merged == direct; bottom-k is TakeOrdered") {
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"text").as[(String, String)].collect()
    def shingles(t: String): Seq[String] = {
      val ws = normText(t).split(" ").toSeq
      if (ws.size < 3) Seq(ws.mkString(" "))
      else ws.sliding(3).map(_.mkString(" ")).toSeq
    }
    val st = docs.flatMap { case (src, t) => shingles(t).map((src, _)) }.distinct
    val h48 = st.map { case (src, g) =>
      (src, g, java.lang.Long.parseLong(md5hex(g).take(12), 16)) }
    val k = 64
    val direct = h48.map(x => (x._3, x._2)).distinct.sortBy(identity).take(k)
    val merged = h48.groupBy(_._1).values
      .flatMap(_.map(x => (x._3, x._2)).distinct.sortBy(identity).take(k))
      .toSeq.distinct.sortBy(identity).take(k)
    assert(direct.toSeq == merged.toSeq) // the mergeability identity, imperatively
    val est = 63.0 * math.pow(2, 48) / direct.last._1
    val expected = (20L, st.map(_._2).distinct.size.toLong, est, est)
    val df = q("q202_kmv_merge")(spark, TestSpark.Sf)
    val got = df.as[(Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(expected))
    // both bottom-k cuts are partial top-k merges, not global sorts
    val plan = df.planText
    assert(plan.contains("TakeOrderedAndProject"))
  }

  // ----- q199 b-bit minhash ---------------------------------------------

  test("q199 matches an imperative b-bit estimator; estimates bracket exact") {
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"text").as[(String, String)].collect()
      .map { case (src, t) => (src, normText(t).split(" ").toSeq) }
    val bySrc = docs.flatMap { case (src, ts) => ts.map((src, _)) }
      .distinct.groupBy(_._1).map { case (s, g) => s -> g.map(_._2).toSet }
    val sigs = bySrc.map { case (s, toks) =>
      s -> (0 until 8).map { k =>
        val (a, b) = Dedup.permConsts(k)
        toks.map(t => (h32(t) * a + b) % Dedup.HashPrime).min
      }
    }
    val srcs = bySrc.keys.toSeq.sorted
    val expected = (for {
      a <- srcs; b <- srcs if a < b
    } yield {
      val (na, nb) = (bySrc(a).size.toLong, bySrc(b).size.toLong)
      val inter = (bySrc(a) intersect bySrc(b)).size.toLong
      val full = (0 until 8).count(k => sigs(a)(k) == sigs(b)(k)).toLong
      val bbit = (0 until 8).count(k => sigs(a)(k) % 16 == sigs(b)(k) % 16).toLong
      (a, b, full, bbit, full * 125000L,
        1000000L * math.max(0L, 2 * bbit - 1) / 15L,
        1000000L * inter / (na + nb - inter))
    }).sortBy(r => (r._1, r._2))
    val got = q("q199_bbit_minhash")(spark, TestSpark.Sf)
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // a low-bit collision can only ADD matches: bbit_matches >= full_matches
    assert(got.forall(r => r._4 >= r._3))
    // the corrected estimator deflates the collision inflation: at full
    // agreement both estimators read 1.0
    assert(got.filter(_._3 == 8).forall(r => r._5 == 1000000L && r._6 == 1000000L))
  }
}
