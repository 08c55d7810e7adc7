package graft

import org.scalatest.funsuite.AnyFunSuite

/** Behavior pins for the embedding-infrastructure battery
  * (q401–q403): BigInt replays of the quantized-moment algebra, the
  * PR double chain in dim order, and per-element quantization errors
  * replayed off the raw floats.
  */
class Round11kSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def q(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.Sf)

  private def qvecs(): Seq[Seq[Long]] = {
    import spark.implicits._
    Tables.t(spark, TestSpark.Sf, "embeddings")
      .select($"embedding").as[Seq[Float]].collect().toSeq
      .map(_.map(x => math.round(x.toDouble * 10000)))
  }

  test("q401 isotropy indices equal the cleared-moment replay") {
    val vs = qvecs()
    val n = vs.size.toLong
    val d = vs.head.size
    val sv = (0 until d).map(j => vs.map(_(j)).sum)
    val svv = (0 until d).map(j => vs.map(v => BigInt(v(j)) * v(j)).sum)
    val cvar = (0 until d).map(j => BigInt(n) * svv(j) - BigInt(sv(j)) * sv(j))
    val s2 = sv.map(x => BigInt(x) * x).sum
    val svtot = svv.sum
    val cv1 = cvar.sum
    val cv2 = cvar.map(_.toDouble).map(x => x * x).foldLeft(0.0)(_ + _) // dim order
    val got = q("q401_embedding_isotropy").collect().head
    assert(got.getLong(0) == n)
    assert(got.getLong(1) == d.toLong)
    assert(got.getLong(2) == (s2 * 1000000 / (BigInt(n) * svtot)).toLong)
    assert(got.getLong(3) ==
      math.floor(cv1.toDouble * cv1.toDouble / cv2 * 1000000 + 0.5).toLong)
    assert(got.getLong(4) == (cvar.max * 1000000 / cv1).toLong)
    // sanity: effective dimensionality is between 1 and d
    assert(got.getLong(3) >= 1000000L && got.getLong(3) <= d * 1000000L)
  }

  test("q402 bucket balance equals the occupancy replay; cost >= uniform") {
    val vs = qvecs()
    val projs = graft.ext.Similarity.OracleProjs
    val buckets = vs.map { v =>
      projs.zipWithIndex.map { case (p, j) =>
        val dot = p.zip(v).map { case (a, b) => a.toLong * b }.sum
        if (dot >= 0) 1L << j else 0L
      }.sum
    }
    val occ = buckets.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = vs.size.toLong
    val nb = 1L << projs.size
    val sumOcc2 = occ.values.map(o => BigInt(o) * o).sum
    val got = q("q402_lsh_bucket_balance").collect().head
    assert(got.getLong(0) == n)
    assert(got.getLong(1) == nb)
    assert(got.getLong(2) == occ.size.toLong)
    assert(got.getLong(3) == occ.values.max)
    assert(got.getLong(4) == sumOcc2.toLong)
    assert(got.getLong(5) == occ.values.max * nb * 1000000L / n)
    assert(got.getLong(6) == (sumOcc2 * nb * 1000000 / (BigInt(n) * n)).toLong)
    // Cauchy-Schwarz: bucketed cost is never below the uniform ideal
    assert(got.getLong(6) >= 1000000L)
  }

  test("q403 quantization error equals the per-element replay; error shrinks with scale") {
    import spark.implicits._
    val xs = Tables.t(spark, TestSpark.Sf, "embeddings")
      .select($"embedding").as[Seq[Float]].collect().toSeq
      .flatMap(_.map(_.toDouble))
    val got = q("q403_quantization_error").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(127L, 1023L, 10000L))
    got.foreach { row =>
      val s = row.getLong(0).toDouble
      val errs = xs.map(x =>
        math.floor(math.abs(math.round(x * s).toDouble / s - x) * 1e9 + 0.5).toLong)
      assert(row.getLong(1) == xs.size.toLong)
      assert(row.getLong(2) == errs.sum / xs.size)
      assert(row.getLong(3) == errs.max)
    }
    // finer scale, smaller error
    assert(got(2).getLong(2) <= got(1).getLong(2))
    assert(got(1).getLong(2) <= got(0).getLong(2))
  }
}
