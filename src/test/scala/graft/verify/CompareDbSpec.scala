package graft.verify

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class CompareDbSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("countCompare covers the three outcome shapes (compare.go:102-132)") {
    val a = Seq(1, 2, 3).toDF("x")
    val b = Seq(1, 2).toDF("x")
    val report = CompareDb.countCompare(spark, Seq(
      ("equal", a, Some(a)),
      ("unequal", a, Some(b)),
      ("missing", a, None))).collect()
    val byName = report.map(r => r.getString(0) -> r).toMap
    assert(byName("equal").getString(4) == "YES")
    assert(byName("unequal").getString(4) == "NO")
    assert(byName("missing").getString(3) == "NO" && byName("missing").getLong(2) == -1L)
    assert(CompareDb.failedOnly(CompareDb.countCompare(spark, Seq(
      ("equal", a, Some(a)), ("unequal", a, Some(b))))).count() == 1)
  }
}
