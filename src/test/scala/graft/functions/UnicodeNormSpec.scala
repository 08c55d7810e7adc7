package graft.functions

import java.text.Normalizer

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class UnicodeNormSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // composed / decomposed / mixed / mark-free inputs (escapes keep the
  // decomposed forms unambiguous in source)
  private val samples = Seq(
    "café niño",            // composed á-family
    "café niño",          // decomposed, same text
    "mühleisen ß stays",    // u + diaeresis, sharp s passes through
    "plain ascii only",
    "",
    "́leading mark",             // orphan combining mark
    "mixed é́ stacked"     // stacked marks
  )

  test("nfc kernel matches java.text.Normalizer NFC, eval and codegen") {
    val df = samples.toDF("s")
    val got = df.select($"s", UnicodeNormFns.nfcNormalize($"s").as("n")).collect()
    got.foreach { r =>
      val expect = Normalizer.normalize(r.getString(0), Normalizer.Form.NFC)
      assert(r.getString(1) == expect, s"NFC mismatch on ${r.getString(0)}")
    }
    // interpreted kernel must agree with what ran through codegen above
    samples.foreach { s =>
      import org.apache.spark.unsafe.types.UTF8String
      assert(UnicodeNorm.nfc(UTF8String.fromString(s)).toString ==
        Normalizer.normalize(s, Normalizer.Form.NFC))
    }
  }

  test("strip_accents = NFD minus Mn marks; composed and decomposed agree") {
    val df = samples.toDF("s")
    val got = df.select($"s", UnicodeNormFns.stripAccents($"s").as("n")).collect()
    got.foreach { r =>
      val nfd = Normalizer.normalize(r.getString(0), Normalizer.Form.NFD)
      val expect = nfd.filter(c => Character.getType(c) != Character.NON_SPACING_MARK)
      assert(r.getString(1) == expect, s"strip mismatch on ${r.getString(0)}")
    }
    // composed vs decomposed spellings of the same word strip identically
    val both = Seq("café", "café").toDF("s")
      .select(UnicodeNormFns.stripAccents($"s")).collect().map(_.getString(0))
    assert(both.distinct.toSeq == Seq("cafe"))
  }

  test("property: nfc and strip_accents are idempotent; strip output is mark-free") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    import org.apache.spark.unsafe.types.UTF8String
    // strings mixing ascii, composed/decomposed accents, and raw marks
    val frag = Gen.oneOf("a", "é", "é", "ñ", "ñ", "ß", " ", "́", "0", "的")
    val strs = Gen.listOf(frag).map(_.mkString)
    val prop = Prop.forAll(strs) { s =>
      val u = UTF8String.fromString(s)
      val nfc1 = UnicodeNorm.nfc(u)
      val strip1 = UnicodeNorm.stripAccents(u)
      UnicodeNorm.nfc(nfc1) == nfc1 &&
        UnicodeNorm.stripAccents(strip1) == strip1 &&
        strip1.toString.forall(c =>
          Character.getType(c) != Character.NON_SPACING_MARK)
    }
    val res = check(Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("null propagates; ascii fast path returns the input unchanged") {
    val r = Seq[(Integer, String)]((1, null), (2, "ascii")).toDF("id", "s")
      .select(UnicodeNormFns.nfcNormalize($"s").as("n"),
        UnicodeNormFns.stripAccents($"s").as("p"))
      .collect()
    assert(r.exists(x => x.isNullAt(0) && x.isNullAt(1)))
    assert(r.exists(x => !x.isNullAt(0) && x.getString(0) == "ascii" && x.getString(1) == "ascii"))
  }
}
