package graft

import org.scalatest.funsuite.AnyFunSuite

/** Behavior pins for the dataset-construction / forensic battery
  * (q392–q394): exact BigInt/Long replays, doubles only in q394's
  * chi-square chain (replayed in the same digit order).
  */
class Round11hSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def q(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.Sf)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("q392 stratified split equals the md5-rank replay; counts exact") {
    import spark.implicits._
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"lang", $"doc_id").as[(String, String, Long)].collect().toSeq
    val exp = docs.groupBy(d => (d._1, d._2)).toSeq.sortBy(_._1).map {
      case ((src, lang), rows) =>
        val ranked = rows.sortBy(r => (md5hex(s"${r._3}_sp"), r._3))
        val n = ranked.size.toLong
        val nTrain = 7 * n / 10
        val (tr, te) = ranked.splitAt(nTrain.toInt)
        (src, lang, n, nTrain, n - nTrain,
          tr.map(_._3).sum, te.map(_._3).sum)
    }
    val got = q("q392_stratified_split").collect()
    assert(got.length == exp.length)
    got.zip(exp).foreach { case (row, e) =>
      assert((row.getString(0), row.getString(1), row.getLong(2), row.getLong(3),
        row.getLong(4), row.getLong(5), row.getLong(6)) == e)
      // exact-count property: train is EXACTLY floor(0.7 n), never binomial
      assert(row.getLong(3) == 7 * row.getLong(2) / 10)
    }
  }

  test("q393 quantile normalization equals the grid-lookup replay") {
    import spark.implicits._
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
      .select($"source", $"n_chars".cast("long")).as[(String, Long)].collect().toSeq
    val n = docs.size.toLong
    val pooledGrid = docs.groupBy(_._2).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    val cums = pooledGrid.scanLeft(0L)(_ + _._2).tail
    val vs = pooledGrid.map(_._1)
    val exp = docs.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, rows) =>
      val nS = rows.size.toLong
      val grid = rows.groupBy(_._2).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
      val cumS = grid.scanLeft(0L)(_ + _._2).tail
      val targets = grid.zip(cumS).map { case ((v, c), cum) =>
        val p = math.max(1L, (BigInt(cum) * n / nS).toLong)
        val idx = cums.count(_ < p) // first index with cum >= p
        (v, c, vs(idx))
      }
      (src, nS, targets.map { case (v, c, t) => (t - v).abs * c }.sum,
        targets.map(_._3).distinct.size.toLong)
    }
    val got = q("q393_quantile_normalization").collect()
    assert(got.length == exp.length)
    got.zip(exp).foreach { case (row, e) =>
      assert((row.getString(0), row.getLong(1), row.getLong(2), row.getLong(3)) == e)
    }
  }

  test("q394 Benford audit equals the ppm-cleared replay") {
    import spark.implicits._
    val cents = Tables.t(spark, TestSpark.Sf, "orders")
      .select($"o_totalprice").as[Double].collect().toSeq
      .map(x => BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .*(100).toLongExact)
      .filter(_ > 0)
    val nTotal = cents.size.toLong
    val obs = cents.map(c => c.toString.head.asDigit.toLong)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def lnm(x: Double): Long = math.floor(math.log(x) * 1000000 + 0.5).toLong
    val rows = (1L to 9L).map { d =>
      val pPpm = (lnm(d + 1.0) - lnm(d.toDouble)) * 1000000L / lnm(10.0)
      val eMilli = nTotal * pPpm / 1000L
      val nD = obs.getOrElse(d, 0L)
      val term = (1000.0 * nD - eMilli) * (1000.0 * nD - eMilli) /
        (1000.0 * eMilli.toDouble)
      (d, nD, pPpm, eMilli, term)
    }
    val chi2 = rows.map(_._5).foldLeft(0.0)(_ + _) // digit order
    val got = q("q394_benford_audit").collect()
    assert(got.length == 9)
    got.zip(rows).foreach { case (row, e) =>
      assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) ==
        ((e._1, e._2, e._3, e._4)))
      assert(row.getDouble(4) == chi2)
    }
    // proportions are a distribution: Σ p_ppm ≈ 1e6 (floor slack ≤ 9)
    val sp = rows.map(_._3).sum
    assert(sp <= 1000000L && sp >= 1000000L - 9L)
  }
}
