package graft

import org.scalacheck.Gen

/** The native simhash64 expression must be bit-identical to the
  * composed-builtins formulation it replaced (md5 hex digits → per-bit
  * majority over distinct words) — that equality is what keeps the
  * DuckDB oracle valid.
  */
class SimHash64Spec extends SparkTestBase {

  private def builtinFp(spark: org.apache.spark.sql.SparkSession, texts: Seq[String]) = {
    import spark.implicits._
    val bits = (1 to 64).map { j =>
      val nib = (j - 1) / 4 + 1
      val p = 1 << (3 - ((j - 1) % 4))
      s"case when size(filter(hs, h -> (cast(conv(substring(h, $nib, 1), 16, 10) as int) div $p) % 2 = 1)) * 2 > size(hs) then '1' else '0' end"
    }.mkString("concat(", ", ", ") as fp")
    texts.toDF("text")
      .selectExpr("transform(array_distinct(split(text, ' ')), w -> md5(cast(w as binary))) as hs")
      .selectExpr(bits)
      .collect().map(_.getString(0)).toSeq
  }

  private def nativeFp(spark: org.apache.spark.sql.SparkSession, texts: Seq[String]) = {
    import spark.implicits._
    texts.toDF("text").selectExpr("simhash64(text) as fp")
      .collect().map(_.getString(0)).toSeq
  }

  test("native expression matches the composed-builtins fingerprint") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a a a repeated words a a",
      "single",
      "", // empty text: one empty token
      "double  space and   triple tokens", // empty tokens preserved
      "unicode näïve 日本語 مرحبا tokens")
    assert(nativeFp(spark, texts) === builtinFp(spark, texts))
  }

  test("property: random word soups agree") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "", "x", "longer-token", "ü")
    val textGen = Gen.listOfN(12, word).map(_.mkString(" "))
    val texts = (1 to 40).flatMap(i => textGen.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong)))
    assert(nativeFp(spark, texts) === builtinFp(spark, texts))
  }

  test("null input yields null, wrong type fails analysis") {
    import spark.implicits._
    val r = Seq[Option[String]](None).toDF("text")
      .selectExpr("simhash64(text) as fp").collect().head
    assert(r.isNullAt(0))
    val e = intercept[Exception] {
      Seq(1).toDF("n").selectExpr("simhash64(n)").collect()
    }
    assert(e.getMessage.contains("simhash64"))
  }
}
