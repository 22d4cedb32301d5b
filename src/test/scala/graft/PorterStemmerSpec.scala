package graft

import graft.kernels.PorterStemmer.stem
import org.scalatest.funsuite.AnyFunSuite

/** Porter 1980 stemmer against the paper's own worked examples — each
  * step's published pairs plus full-pipeline classics from the demo
  * vocabulary. No mirrored expectations: every pair below appears in
  * the published algorithm description.
  */
class PorterStemmerSpec extends AnyFunSuite {

  private def check(pairs: (String, String)*): Unit =
    pairs.foreach { case (in, out) =>
      assert(stem(in) === out, s"stem($in)")
    }

  test("step 1a: plural stripping") {
    check("caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
      "caress" -> "caress", "cats" -> "cat")
  }

  test("step 1b: ed/ing with cleanup") {
    check("feed" -> "feed", "agreed" -> "agre",
      "plastered" -> "plaster", "bled" -> "bled",
      "motoring" -> "motor", "sing" -> "sing",
      "conflated" -> "conflat", // at -> ate, then step 4 strips ate
      "troubled" -> "troubl", "sized" -> "size",
      "hopping" -> "hop", "tanned" -> "tan", "falling" -> "fall",
      "hissing" -> "hiss", "fizzed" -> "fizz",
      "failing" -> "fail", "filing" -> "file")
  }

  test("step 1c: y -> i only after a vowel-bearing stem") {
    check("happy" -> "happi", "sky" -> "sky")
  }

  test("steps 2-4: full-pipeline classics from the demo vocabulary") {
    check(
      "relational" -> "relat", "conditional" -> "condit", "rational" -> "ration",
      "valenci" -> "valenc", "hesitanci" -> "hesit", "digitizer" -> "digit",
      "conformabli" -> "conform", "radicalli" -> "radic",
      "differentli" -> "differ", "vileli" -> "vile", "analogousli" -> "analog",
      "vietnamization" -> "vietnam", "predication" -> "predic",
      "operator" -> "oper", "feudalism" -> "feudal",
      "decisiveness" -> "decis", "hopefulness" -> "hope",
      "callousness" -> "callous", "formaliti" -> "formal",
      "sensitiviti" -> "sensit", "sensibiliti" -> "sensibl",
      "triplicate" -> "triplic", "formative" -> "form", "formalize" -> "formal",
      "electriciti" -> "electr", "electrical" -> "electr",
      "hopeful" -> "hope", "goodness" -> "good",
      "revival" -> "reviv", "allowance" -> "allow", "inference" -> "infer",
      "airliner" -> "airlin", "gyroscopic" -> "gyroscop",
      "adjustable" -> "adjust", "defensible" -> "defens",
      "irritant" -> "irrit", "replacement" -> "replac",
      "adjustment" -> "adjust", "dependent" -> "depend",
      "adoption" -> "adopt", "communism" -> "commun", "activate" -> "activ",
      "angulariti" -> "angular", "homologous" -> "homolog",
      "effective" -> "effect", "bowdlerize" -> "bowdler")
  }

  test("step 5: e-deletion and ll-reduction") {
    check("probate" -> "probat", "rate" -> "rate", "cease" -> "ceas",
      "controlled" -> "control", "rolled" -> "roll")
  }

  test("famous measure demo: generalizations and oscillators") {
    check("generalizations" -> "gener", "oscillators" -> "oscil")
  }

  test("uppercase input stems like its lowercase form") {
    check("Apples" -> "appl", "RELATIONAL" -> "relat", "Feed" -> "feed")
  }

  test("short words and y-as-consonant edge cases are left intact") {
    check("as" -> "as", "is" -> "is", "by" -> "by", "toy" -> "toi")
    // syzygy: every y after a consonant is a vowel
    assert(stem("syzygy").nonEmpty)
  }

  test("porter_stem SQL expression: null-safe, codegen, type-checked") {
    import SparkTestBase.session.implicits._
    val rows = Seq(Some("relational"), None).toDF("s")
      .selectExpr("porter_stem(s) as t").collect()
    assert(rows(0).getString(0) === "relat")
    assert(rows(1).isNullAt(0))
    val err = intercept[Exception] {
      Seq(1).toDF("i").selectExpr("porter_stem(i)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("porter_stem"))
  }
}
