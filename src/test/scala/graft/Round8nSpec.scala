package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.q

/** Behavior pins for the Round8n operators (q245–q250): imperative
  * recomputation of each statistic plus the defining invariants
  * (greedy-merge semantics incl. the overlapping-pair rule, packing
  * conservation, diff partition completeness, CDC boundary locality,
  * water-filling budget feasibility).
  */
class Round8nSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "").replaceAll("\\s+", " ").trim

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private lazy val docs = Tables.t(spark, TestSpark.Sf, "documents")
    .select($"doc_id", $"source", $"text")
    .as[(Long, String, String)].collect().toSeq

  private def toks(text: String): Seq[String] =
    normText(text).split(" ").filter(_.nonEmpty).toSeq

  // ----- q245 BPE merges ---------------------------------------------------

  /** Greedy left-to-right merge of one pair inside one symbol sequence —
    * the overlapping-match rule ("aaaa" + (a,a) → "aa","aa"). */
  private def mergeOnce(syms: Vector[String], pa: String, pb: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == pa && syms(i + 1) == pb) {
        out += (pa + pb); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  test("q245 matches an imperative word-count BPE; vocab grows by one per round") {
    val wf = docs.flatMap(d => toks(d._3))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    var words: Map[Vector[String], Long] =
      wf.map { case (w, f) => w.split("").toVector -> f }
    val expected = (1 to 3).map { round =>
      val pairs = words.toSeq.flatMap { case (syms, f) =>
        syms.sliding(2).collect { case Seq(a, b) => ((a, b), f) }
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      val ((pa, pb), weight) = pairs.minBy { case ((a, b), wt) => (-wt, a, b) }
      words = words.toSeq.map { case (syms, f) => (mergeOnce(syms, pa, pb), f) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val vocab = words.keys.flatten.toSet.size.toLong
      (round.toLong, pa, pb, weight, vocab)
    }
    val got = q("q245_bpe_merges")(spark, TestSpark.Sf)
      .as[(Long, String, String, Long, Long)].collect().toSeq
    assert(got == expected)
    // each merge introduces exactly one new symbol and never removes the
    // ability to spell the corpus: vocab after round r ≥ r distinct merges
    assert(got.map(_._5).distinct.size == 3 || got.map(_._5).size == 3)
  }

  test("q245 greedy overlap rule: aaaa merges to two aa, not three") {
    assert(mergeOnce(Vector("a", "a", "a", "a"), "a", "a") == Vector("aa", "aa"))
    assert(mergeOnce(Vector("a", "a", "a"), "a", "a") == Vector("aa", "a"))
  }

  // ----- q246 sequence packing ---------------------------------------------

  test("q246 matches an imperative concat-and-chunk; token mass is conserved") {
    val cap = 256L
    val expected = docs.map(d => (d._1, d._2, toks(d._3).size.toLong))
      .filter(_._3 > 0)
      .groupBy(_._2).toSeq.map { case (src, ds) =>
        val sorted = ds.sortBy(_._1)
        var cum = 0L; var nSplit = 0L; var nCross = 0L
        sorted.foreach { case (_, _, len) =>
          val start = cum; cum += len
          val nb = (cum - 1) / cap - start / cap
          if (nb > 0) nSplit += 1
          nCross += nb
        }
        val nSeq = (cum + cap - 1) / cap
        (src, sorted.size.toLong, cum, nSeq, nSplit, nCross,
          1000000L * nSplit / sorted.size, nSeq * cap - cum)
      }.sortBy(_._1)
    val got = q("q246_sequence_packing")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // conservation: sequences hold exactly n_tokens + tail_waste tokens
    assert(got.forall(r => r._4 * 256 == r._3 + r._8))
    // a doc can cross at most ceil(len/cap) boundaries: crossings ≥ splits
    assert(got.forall(r => r._6 >= r._5))
  }

  // ----- q247 corpus diff --------------------------------------------------

  test("q247 matches an imperative snapshot diff; statuses partition both snapshots") {
    val v1 = docs.map(d => (d._1, d._2, d._3))
    val v2 = v1.filter(_._1 % 11 != 3).map { case (id, src, t) =>
      (id, src, if (id % 7 == 2) t + " v2" else t)
    } ++ v1.filter(_._1 % 13 == 5).map { case (id, src, t) =>
      (id + 1000000L, src, "new " + t)
    }
    val m1 = v1.map(d => d._1 -> d).toMap
    val m2 = v2.map(d => d._1 -> d).toMap
    val expected = (m1.keySet ++ m2.keySet).toSeq.map { id =>
      val status =
        if (!m1.contains(id)) "added"
        else if (!m2.contains(id)) "removed"
        else if (m1(id)._3 != m2(id)._3) "changed" else "unchanged"
      (m1.get(id).orElse(m2.get(id)).get._2, status, id)
    }.groupBy(r => (r._1, r._2)).toSeq
      .map { case ((src, st), rs) => (src, st, rs.size.toLong, rs.map(_._3).sum) }
      .sortBy(r => (r._1, r._2))
    val got = q("q247_corpus_diff")(spark, TestSpark.Sf)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == expected)
    // the statuses partition v1 ∪ v2: removed+changed+unchanged = |v1|
    val by = got.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap.withDefaultValue(0L)
    assert(by("removed") + by("changed") + by("unchanged") == v1.size.toLong)
    assert(by("added") + by("changed") + by("unchanged") == v2.size.toLong)
  }

  // ----- q248 CDC chunking -------------------------------------------------

  private def cdcChunks(ts: Seq[String]): Seq[Seq[String]] = {
    val out = Seq.newBuilder[Seq[String]]
    var cur = Seq.newBuilder[String]
    var any = false
    ts.foreach { t =>
      cur += t; any = true
      if (h32("cdc|" + t) % 8 == 0) { out += cur.result(); cur = Seq.newBuilder; any = false }
    }
    if (any) out += cur.result()
    out.result()
  }

  test("q248 matches an imperative CDC chunker; an early edit reshifts no later chunk") {
    val chunks = docs.flatMap { case (_, src, text) =>
      cdcChunks(toks(text)).map(c => (src, c.mkString(" "), c.size.toLong))
    }
    val expected = chunks.groupBy(_._1).toSeq.map { case (src, cs) =>
      val byFp = cs.groupBy(_._2)
      val nChunks = cs.size.toLong
      val nDistinct = byFp.size.toLong
      val saved = byFp.values.map(g => (g.size - 1).toLong * g.head._3).sum
      val tokTotal = cs.map(_._3).sum
      (src, nChunks, nDistinct, 1000000L * (nChunks - nDistinct) / nChunks,
        saved, 1000000L * tokTotal / nChunks)
    }.sortBy(_._1)
    val got = q("q248_cdc_chunking")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // boundary locality — the CDC property: prepending a token changes
    // only chunks up to the first boundary, the suffix chunk stream is
    // identical (fixed-width chunking would reshift everything)
    val ts = toks(docs.maxBy(d => toks(d._3).size)._3)
    val orig = cdcChunks(ts)
    val edited = cdcChunks("zzedit" +: ts)
    val tailLen = math.min(orig.size, edited.size) - 1
    if (tailLen > 1) assert(orig.takeRight(tailLen - 1) == edited.takeRight(tailLen - 1))
  }

  // ----- q249 boilerplate blocks -------------------------------------------

  test("q249 matches an imperative block screen; share bounded by 1e6") {
    val blocks = docs.flatMap { case (id, src, text) =>
      toks(text).grouped(3).filter(_.size == 3)
        .map(b => (id, src, b.mkString(" "))).toSeq
    }
    val expected = blocks.groupBy(_._2).toSeq.map { case (src, bs) =>
      val pc = bs.groupBy(_._3).view
        .mapValues(g => (g.map(_._1).distinct.size.toLong, g.size.toLong)).toMap
      val flagged = pc.filter(_._2._1 >= 2)
      val nBlocks = bs.size.toLong
      val boilOcc = flagged.values.map(_._2).sum
      val top = if (flagged.isEmpty) ""
        else flagged.toSeq.minBy { case (c, (nd, no)) => (-nd, -no, c) }._1
      (src, nBlocks, flagged.size.toLong, boilOcc,
        1000000L * boilOcc / nBlocks, top)
    }.sortBy(_._1)
    val got = q("q249_boilerplate_blocks")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, String)].collect().toSeq
    assert(got == expected)
    assert(got.forall(r => r._5 >= 0L && r._5 <= 1000000L))
    // flagged occurrences never exceed total blocks
    assert(got.forall(r => r._4 <= r._2))
  }

  // ----- q250 water-filling budget -----------------------------------------

  test("q250 matches an imperative closed-form water-fill; budget feasible and near-tight") {
    val avail = docs.map(d => (d._2, toks(d._3).size.toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .map { case (src, a) =>
        (src, a, math.floor(math.sqrt(a.toDouble) * 1e6 + 0.5).toLong)
      }
    val ta = avail.map(_._2).sum
    val tw = avail.map(_._3).sum
    val budget = ta / 2
    val sorted = avail.sortBy { case (src, a, w) => (a.toDouble / w, src) }
    // find the unique rank k with r_{k-1} <= lambda_k <= r_k
    var prevcum = 0L; var prevsw = tw
    var kstar = -1; var lnum = 0L; var lden = 0L
    for (k <- sorted.indices if kstar < 0) {
      val (_, a, w) = sorted(k)
      val ln = budget - prevcum
      val ok1 = BigInt(ln) * w <= BigInt(a) * prevsw
      val ok2 = k == 0 || {
        val (_, pa, pw) = sorted(k - 1)
        BigInt(pa) * prevsw <= BigInt(ln) * pw
      }
      if (ok1 && ok2) { kstar = k; lnum = ln; lden = prevsw }
      else { prevcum += a; prevsw -= w }
    }
    assert(kstar >= 0)
    val expected = sorted.zipWithIndex.map { case ((src, a, w), k) =>
      val sat = if (k < kstar) 1L else 0L
      val alloc = if (k < kstar) a else (BigInt(lnum) * w / lden).toLong
      (src, a, w, sat, alloc)
    }.sortBy(_._1)
    val got = q("q250_waterfill_budget")(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // feasibility: never allocate more than a source has, never exceed budget
    assert(got.forall(r => r._5 <= r._2))
    val total = got.map(_._5).sum
    assert(total <= budget)
    // near-tightness: each floored allocation loses < 1 token
    val nUnsat = got.count(_._4 == 0L)
    assert(budget - total < nUnsat + 1)
    // saturated sources take everything they have
    assert(got.filter(_._4 == 1L).forall(r => r._5 == r._2))
  }
}
