package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ext.{TextAnalysis => TA}
import graft.functions.GopherTextStats
import graft.operators.StatTestQueries

/** The fused GopherTextStats kernel must be BIT-EQUAL to the expression
  * chain it replaces (normText → split → length/regexp_count/
  * array_contains/array_sort-fold/replace-difference) — on the real
  * corpus and on the adversarial edge strings the scaladoc's semantics
  * argument leans on. The chain below IS the round-11 gopherDoc body,
  * kept verbatim here as the reference implementation.
  */
class GopherTextStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Stops = StatTestQueries.GopherStops

  /** The pre-kernel gopherDoc statistics chain (round-11 form). */
  private def exprChain(dfText: org.apache.spark.sql.DataFrame) = dfText
    .withColumn("nt", TA.normText($"text"))
    .withColumn("a", split($"nt", " "))
    .withColumn("wc",
      when($"nt" === "", 0L).otherwise(size($"a").cast("long")))
    .filter($"wc" > 0)
    .withColumn("sumlen", (length($"nt") - ($"wc" - 1)).cast("long"))
    .withColumn("n_alpha",
      $"wc" - expr("regexp_count(nt, '\\\\b[0-9]+\\\\b')").cast("long"))
    .withColumn("n_stopkinds",
      Stops.map(w => array_contains($"a", w).cast("long")).reduce(_ + _))
    .withColumn("n_sym",
      (length($"text") - length(expr("replace(text, '#', '')"))).cast("long") +
        ((length($"text") - length(expr("replace(text, '...', '')"))) / 3)
          .cast("long"))
    .withColumn("maxw", expr(
      """aggregate(array_sort(a),
           named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
           (acc, x) -> named_struct(
             'prev', x,
             'run', CASE WHEN acc.prev IS NOT NULL AND x = acc.prev THEN acc.run + 1 ELSE CAST(1 AS BIGINT) END,
             'best', greatest(acc.best, CASE WHEN acc.prev IS NOT NULL AND x = acc.prev THEN acc.run + 1 ELSE CAST(1 AS BIGINT) END)),
           acc -> acc.best)"""))
    .select($"id", $"wc", $"sumlen", $"n_alpha", $"n_stopkinds", $"maxw", $"n_sym")

  private def fused(dfText: org.apache.spark.sql.DataFrame) = dfText
    .withColumn("g", GopherTextStats($"text", Stops))
    .select($"id",
      $"g".getItem(0).as("wc"),
      $"g".getItem(1).as("sumlen"),
      ($"g".getItem(0) - $"g".getItem(2)).as("n_alpha"),
      $"g".getItem(3).as("n_stopkinds"),
      $"g".getItem(4).as("maxw"),
      $"g".getItem(5).as("n_sym"))
    .filter($"wc" > 0)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Long]] =
    df.collect().toSeq.map(r => (0 until 7).map(r.getLong)).sortBy(_.head)

  private def compare(df: org.apache.spark.sql.DataFrame): Unit =
    assert(rows(fused(df)) == rows(exprChain(df)))

  test("kernel equals the expression chain on the whole documents table") {
    compare(Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id".as("id"), $"text"))
  }

  test("kernel equals the expression chain on adversarial edge strings") {
    val cases = Seq(
      "",                         // empty → dropped by wc > 0 on both sides
      "   \t\n ",                 // whitespace only → dropped
      "the of the of the",        // stop KINDS (2), not occurrences (5)
      "123 456 abc123 12a 1",     // pure-digit vs mixed tokens for n_alpha
      "x x x y x",                // maxw = multiplicity across the doc, 4
      "a.b a b ab",               // punctuation fusing: ab twice → maxw 2
      "# ## #.#",                 // '#' counting independent of tokens
      "... .... ..... ......",    // non-overlapping left-to-right '...' count
      "a...b ...# #...",          // symbols adjacent to kept chars
      "to\u000Band\fof\rthe\ta",  // every \s class member as separator
      "THE The tHe",              // case folding + multiplicity 3
      "café thé the",             // non-ASCII letters drop (thé → th)
      "\u212A 273",               // Kelvin sign lowercases into [a-z]
      "İstanbul istanbul",        // 1:2 Unicode lowering (must match lower())
      "9876543210 0123456789",    // all-digit tokens, n_alpha = 0
      "  leading and trailing  ",
      "!!! the ***")              // vanishing neighbors around a stopword
    compare(cases.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text"))
  }

  test("q355/q371 still oracle-shaped after kernel adoption (smoke)") {
    val r = SparkEntry.queries("q355_gopher_rules")(spark, TestSpark.Sf).collect()
    assert(r.nonEmpty && r.forall(!_.isNullAt(1)))
    val c = SparkEntry.queries("q371_cochran_q")(spark, TestSpark.Sf).collect()
    assert(c.nonEmpty)
  }
}
