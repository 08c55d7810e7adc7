package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, lower}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class ExclusionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The exclusion as a Spark Column predicate, a conjunction of NOT LIKE
    * over lower(name): the SQL semantics `compiledKeep` must agree with. */
  private def filterExcluded(df: DataFrame, nameCol: String, patterns: Seq[String]): DataFrame =
    df.filter(patterns.foldLeft(lit(true))((acc, p) =>
      // Locale.ROOT: the default locale would fold 'LOGIN*' to 'logın*'
      // under tr_TR and silently stop matching
      acc && !lower(col(nameCol)).like(Exclusion.toLikePattern(p).toLowerCase(java.util.Locale.ROOT))))

  test("wildcard rewrite * → % (root.go:237-239)") {
    assert(Exclusion.toLikePattern("*_cswysk") == "%_cswysk")
    assert(Exclusion.toLikePattern("log*") == "log%")
    assert(Exclusion.toLikePattern("exact") == "exact")
  }

  test("filterExcluded drops matching names, keeps the rest (example.yml:23-26)") {
    val df = Seq("log1", "log2", "audit_cswysk", "keepme", "logical")
      .toDF("table_name")
    val kept = filterExcluded(df, "table_name", Seq("log1", "log2", "*_cswysk"))
      .as[String].collect().toSet
    assert(kept == Set("keepme", "logical"))
    // empty pattern list keeps everything
    assert(filterExcluded(df, "table_name", Nil).count() == 5)
    // the work list's matcher keeps the same names
    val names = Seq("log1", "log2", "audit_cswysk", "keepme", "logical")
    assert(names.filter(Exclusion.compiledKeep(Seq("log1", "log2", "*_cswysk"))) ==
      Seq("keepme", "logical"))
    assert(names.filter(Exclusion.compiledKeep(Nil)) == names)
  }

  test("exclusion is case-insensitive, like MySQL *_ci NOT LIKE (root.go:227-246)") {
    // `exclude: LOG*` skips `log1` under MySQL's default ci collation
    val df = Seq("log1", "LOG2", "Logical", "keepme").toDF("table_name")
    val kept = filterExcluded(df, "table_name", Seq("LOG*"))
      .as[String].collect().toSet
    assert(kept == Set("keepme"))
    val keep = Exclusion.compiledKeep(Seq("LOG*"))
    assert(Seq("log1", "LOG2", "Logical", "keepme").filter(keep) == Seq("keepme"))
  }

  test("compiledKeep parity: driver predicate == Column.like over generated names") {
    // property-style sweep: every (name, pattern-set) pair must agree
    // between the compiled driver-side predicate and the Spark Column
    // predicate (same LIKE semantics incl. `_` single-char wildcard)
    val names = Seq("log1", "log22", "logical", "audit_cswysk", "a_cswysk",
      "keepme", "x", "", "log", "mylog", "l_g1", "t%strange", "dot.name")
    val patternSets = Seq(
      Seq("log*"), Seq("*_cswysk"), Seq("log1", "log2", "*_cswysk"),
      Seq("l_g*"), Seq("*"), Seq("exact"), Nil, Seq("*log*"), Seq("x"))
    for (pats <- patternSets) {
      val keep = Exclusion.compiledKeep(pats)
      val driverKept = names.filter(keep).toSet
      val sparkKept = filterExcluded(names.toDF("table_name"), "table_name", pats)
        .as[String].collect().toSet
      assert(driverKept == sparkKept, s"patterns=$pats")
    }
  }

  test("compiledKeep runs zero Spark jobs") {
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    val keep = Exclusion.compiledKeep(Seq("log*", "*_tmp"))
    val kept = (1 to 10000).map(i => s"table$i").filter(keep)
    assert(kept.size == 10000)
    assert(Seq("log_x", "y_tmp", "keep_me").filter(keep) == Seq("keep_me"))
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(after == before, "work-list filtering must not submit Spark jobs")
  }
}
