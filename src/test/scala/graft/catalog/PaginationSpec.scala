package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class PaginationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("identifiers and string literals escape their own quote characters") {
    import Pagination.{AnsiDialect, MySqlDialect}
    assert(AnsiDialect.quote("Mixed\"T") == "\"Mixed\"\"T\"")
    assert(AnsiDialect.quote("a`b") == "\"a`b\"")
    assert(MySqlDialect.quote("or`der") == "`or``der`")
    assert(AnsiDialect.string("it's a \\") == "'it''s a \\'")
    assert(MySqlDialect.string("it's a \\") == "'it''s a \\\\'")
    assert(Pagination.dialectFor("jdbc:mysql://h/db") == MySqlDialect)
    assert(Pagination.dialectFor("jdbc:derby:memory:x") == AnsiDialect)
  }

  test("keyset predicates: tagged, one per page, leading-column bounds on composite keys") {
    val tag = Pagination.SqlTag
    assert(Pagination.keysetPredicates(Seq("id"), Seq(Seq("10"), Seq("20"))).toSeq == Seq(
      s"$tag NOT (id >= 10)", s"$tag id >= 10 AND NOT (id >= 20)", s"$tag id >= 20"))
    val ge = "a > 1 OR (a = 1 AND (b > 'x' OR (b = 'x' AND (c >= 2))))"
    assert(Pagination.keysetPredicates(Seq("a", "b", "c"), Seq(Seq("1", "'x'", "2"))).toSeq == Seq(
      s"$tag a <= 1 AND NOT ($ge)", s"$tag a >= 1 AND ($ge)"))
  }

  test("deferredJoinPage returns exactly rows [offset, offset+n) in PK order") {
    val df = (1 to 57).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val page = Pagination.deferredJoinPage(df, Seq("id"), 20, 10)
      .orderBy("id").select("id").as[Long].collect()
    assert(page.toSeq == (21L to 30L))
    // final partial page
    val tail = Pagination.deferredJoinPage(df, Seq("id"), 50, 10)
      .orderBy("id").select("id").as[Long].collect()
    assert(tail.toSeq == (51L to 57L))
  }
}
