package graft

import org.scalatest.funsuite.AnyFunSuite

/** Behavior pins for the privacy battery (q387–q389) and the
  * LM-smoothing estimators (q390–q391): definitional Scala replays in
  * exact BigInt/Long algebra, doubles only where the queries go
  * double (q389's reported max TVD).
  */
class Round11gSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def q(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.Sf)

  /** (nat, seg, band) replay of custQi's money-cast band. */
  private def qiRows(): Seq[(Long, String, Long)] = {
    import spark.implicits._
    Tables.t(spark, TestSpark.Sf, "customer")
      .select($"c_nationkey".cast("long"), $"c_mktsegment", $"c_acctbal")
      .as[(Long, String, Double)].collect().toSeq
      .map { case (nat, seg, bal) =>
        val cents = BigDecimal(bal).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .*(100).toLongExact
        (nat, seg, (cents + 100000L) / 100000L)
      }
  }

  test("q387 k-anonymity ladder equals the three-rung counting replay") {
    val rows = qiRows()
    def rung(classes: Iterable[Long]): (Long, Long, Long, Long) = (
      classes.size.toLong, classes.min,
      classes.filter(_ < 5).sum, classes.count(_ == 1).toLong)
    val l1 = rung(rows.groupBy(_._1).values.map(_.size.toLong))
    val l2 = rung(rows.groupBy(r => (r._1, r._2)).values.map(_.size.toLong))
    val l3 = rung(rows.groupBy(r => (r._1, r._2, r._3)).values.map(_.size.toLong))
    val got = q("q387_k_anonymity").collect()
    assert(got.length == 3)
    Seq(l1, l2, l3).zip(got).zipWithIndex.foreach { case ((exp, row), i) =>
      assert(row.getLong(0) == i + 1L)
      assert((row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4)) == exp,
        s"rung ${i + 1}")
    }
    // monotone: refining the QI can only shrink classes
    assert(got(0).getLong(2) >= got(1).getLong(2))
    assert(got(1).getLong(2) >= got(2).getLong(2))
  }

  test("q388 l-diversity histogram equals the distinct-segment replay") {
    val perClass = qiRows().groupBy(r => (r._1, r._3)).values
      .map(_.map(_._2).distinct.size.toLong).toSeq
    val hist = perClass.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = q("q388_l_diversity").collect()
    assert(got.map(r => r.getLong(0) -> r.getLong(1)).toMap == hist)
    got.foreach { r =>
      assert(r.getLong(2) == perClass.min)
      assert(r.getLong(3) == perClass.count(_ < 3).toLong)
    }
  }

  test("q389 t-closeness equals the cross-multiplied TVD replay") {
    val rows = qiRows()
    val n = rows.size.toLong
    val segs = rows.map(_._2).distinct
    val global = segs.map(s => s -> rows.count(_._2 == s).toLong).toMap
    val classes = rows.groupBy(r => (r._1, r._3))
    val per = classes.values.map { g =>
      val nc = g.size.toLong
      val sdev = segs.map { s =>
        val ncs = g.count(_._2 == s).toLong
        (BigInt(ncs) * n - BigInt(global(s)) * nc).abs
      }.sum
      val exceed = sdev * 5 > BigInt(nc) * n * 2
      val tvd = sdev.toDouble / (2.0 * nc.toDouble * n.toDouble)
      (exceed, tvd)
    }.toSeq
    val got = q("q389_t_closeness").collect().head
    assert(got.getLong(0) == classes.size.toLong)
    assert(got.getLong(1) == per.count(_._1).toLong)
    assert(got.getDouble(2) == per.map(_._2).max)
    assert(got.getDouble(2) >= 0.0 && got.getDouble(2) <= 1.0)
  }

  private def normText(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9\\s]", "")
      .replaceAll("\\s+", " ").trim

  private def docTokens(): Seq[(Long, Seq[String])] = {
    import spark.implicits._
    Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      .map { case (id, t) =>
        (id, normText(t).split(" ").filter(_.nonEmpty).toSeq)
      }
  }

  test("q390 Good-Turing equals the count-of-counts replay") {
    val toks = docTokens().flatMap(_._2)
    val counts = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val coc = counts.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nTotal = toks.size.toLong
    val got = q("q390_good_turing").collect()
    val expRows = coc.keys.toSeq.sorted.take(10)
    assert(got.map(_.getLong(0)).toSeq == expRows)
    got.foreach { row =>
      val r = row.getLong(0); val nr = coc(r)
      val nrNext = coc.getOrElse(r + 1, 0L)
      assert(row.getLong(1) == nr)
      assert(row.getLong(2) == nrNext)
      assert(row.getLong(3) == (r + 1) * nrNext * 1000000L / nr)
      if (r == 1) assert(row.getLong(4) == nr * 1000000L / nTotal)
      else assert(row.isNullAt(4))
    }
    // GT discounts dense low counts: r* < r wherever the curve decays
    // (the synthetic word pool has no hapaxes at tiny SF — guard r=1)
    got.find(_.getLong(0) == 1L).foreach { r1 =>
      assert(r1.getLong(3) < 1000000L || coc.getOrElse(2L, 0L) >= coc(1L))
    }
  }

  test("q391 Kneser-Ney equals the cleared-rational replay; mass <= 1") {
    val bigrams = docTokens().flatMap(_._2.sliding(2).collect {
      case Seq(a, b) => (a, b)
    })
    val cab = bigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ca = cab.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val ta = cab.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val cont = cab.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val bb = cab.size.toLong
    val top = cab.toSeq.map { case ((a, b), c) => (a, b, c) }
      .sortBy { case (a, b, c) => (-c, a, b) }.take(20)
    val got = q("q391_kneser_ney").collect()
    assert(got.length == top.length)
    got.zip(top).foreach { case (row, (a, b, c)) =>
      assert((row.getString(0), row.getString(1), row.getLong(2)) == ((a, b, c)))
      assert(row.getLong(3) == ca(a))
      assert(row.getLong(4) == ta(a))
      assert(row.getLong(5) == cont(b))
      val num = (BigInt(4 * c - 3) * bb + BigInt(3) * ta(a) * cont(b)) * 1000000
      val den = BigInt(ca(a)) * bb * 4
      assert(BigInt(row.getLong(6)) == num / den)
    }
    // interpolated KN: observed-continuation mass of a context stays < 1,
    // in exact rationals (the gap is the unseen-continuation mass)
    val a0 = top.head._1
    val massNum = cab.collect { case ((a, b), c) if a == a0 =>
      BigInt(4 * c - 3) * bb + BigInt(3) * ta(a0) * cont(b)
    }.sum
    assert(massNum <= BigInt(ca(a0)) * bb * 4)
  }
}
