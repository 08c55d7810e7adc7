package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ext.{TextAnalysis => TA}
import graft.functions.WordStopStats
import graft.operators.StatTestQueries

/** The fused WordStopStats kernel must be BIT-EQUAL to the regex chain
  * it replaces (normText → length-difference word count → \b-anchored
  * stopword-alternation regexp_count) — on the real corpus and on the
  * adversarial edge strings the proof sketch in the scaladoc leans on.
  */
class WordStopStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Stops = StatTestQueries.GopherStops

  private def regexChain(dfText: org.apache.spark.sql.DataFrame) = dfText
    .withColumn("nt", TA.normText($"text"))
    .withColumn("wc",
      when($"nt" === "", 0L)
        .otherwise((length($"nt") -
          length(expr("replace(nt, ' ', '')")) + 1).cast("long")))
    .withColumn("ns", expr(
      s"regexp_count(nt, '\\\\b(${Stops.mkString("|")})\\\\b')").cast("long"))
    .select($"id", $"wc", $"ns")

  private def fused(dfText: org.apache.spark.sql.DataFrame) = dfText
    .withColumn("st", WordStopStats($"text", Stops))
    .select($"id", $"st".getItem(0).as("wc"), $"st".getItem(1).as("ns"))

  private def compare(df: org.apache.spark.sql.DataFrame): Unit = {
    val want = regexChain(df).as[(Long, Long, Long)].collect().sortBy(_._1)
    val got = fused(df).as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == want.toSeq)
  }

  test("kernel equals the regex chain on the whole documents table") {
    compare(Tables.t(spark, TestSpark.Sf, "documents")
      .select($"doc_id".as("id"), $"text"))
  }

  test("kernel equals the regex chain on adversarial edge strings") {
    val cases = Seq(
      "",                       // empty → wc 0
      "   \t\n ",               // whitespace only
      "the",                    // lone stopword
      "THE The tHe",            // case folding
      "a",                      // single-char stopword
      "a1 1a 1 a",              // digit adjacency kills \b inside tokens
      "don't stop the, music!", // punctuation fused into tokens: dont
      "a.b of",                 // a.b → one token 'ab', not stopword 'a'
      "... !!! ???",            // tokens that vanish entirely
      "!!! the ***",            // vanishing neighbors around a stopword
      "to\u000Band\fof\rthe\ta", // every \s class member as separator
      "theandofto and",         // long token sharing stopword prefixes
      "café thé the", // non-ASCII letters drop (thé → th)
      "K of",              // Kelvin sign lowercases into [a-z]
      "to to to to",            // repeated stopwords count with multiplicity
      "andy ofa tot he",        // near-stopwords must not match
      "  leading and trailing  ")
    compare(cases.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text"))
  }

  test("q385/q358 still agree with their oracle inputs after kernel adoption (smoke)") {
    // cheap end-to-end: both queries still produce one well-formed row
    val k = SparkEntry.queries("q385_weighted_kappa")(spark, TestSpark.Sf).collect()
    assert(k.length == 1 && !k.head.isNullAt(0))
    val t = SparkEntry.queries("q358_kendall_tau")(spark, TestSpark.Sf).collect()
    assert(t.length == 1 && !t.head.isNullAt(0))
  }
}
