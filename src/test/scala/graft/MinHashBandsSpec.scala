package graft

/** The native minhash_bands expression must produce byte-identical band
  * keys to the composed-builtins formulation it replaced — that equality
  * is what keeps the DuckDB LSH oracles valid.
  */
class MinHashBandsSpec extends SparkTestBase {
  import spark.implicits._

  private def builtinBands(texts: Seq[String]): Seq[Seq[String]] = {
    val sigs = (1 to 8).map(i =>
      s"array_min(transform(sh, s -> md5(cast(concat(s, '#$i') as binary)))) as h$i")
    val bands = (0 until 4).map(b => s"concat(h${2 * b + 1}, h${2 * b + 2})")
      .mkString("array(", ", ", ") as bands")
    texts.toDF("text")
      .selectExpr(
        """case when size(split(text, ' ')) >= 3
          |  then transform(sequence(1, size(split(text, ' ')) - 2),
          |       i -> concat_ws(' ', slice(split(text, ' '), i, 3)))
          |  else array(text) end as sh""".stripMargin)
      .selectExpr(sigs: _*)
      .selectExpr(bands)
      .collect().map(_.getSeq[String](0).toSeq).toSeq
  }

  private def nativeBands(texts: Seq[String]): Seq[Seq[String]] = {
    texts.toDF("text").selectExpr("minhash_bands(text) as bands")
      .collect().map(_.getSeq[String](0).toSeq).toSeq
  }

  test("native expression matches the composed-builtins band keys") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "short one", // <3 words: whole text is the single shingle
      "x",
      "",
      "repeat repeat repeat repeat repeat",
      "double  space tokens preserved  here too",
      "unicode näïve 日本語 مرحبا tokens in shingles")
    assert(nativeBands(texts) === builtinBands(texts))
  }

  test("null in, null out") {
    val r = Seq[Option[String]](None).toDF("text")
      .selectExpr("minhash_bands(text) as bands").collect().head
    assert(r.isNullAt(0))
  }
}
