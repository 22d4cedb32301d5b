package graft

import graft.kernels.UnicodeKernel
import org.apache.spark.sql.functions._

/** Corpus-operator semantics on hand-built micro-corpora (the oracle gate
  * covers the generated tables; these pin the contracts on adversarial
  * shapes: full-doc drop, short docs, chunk boundary math, NFC edges).
  */
class CorpusOpsSpec extends SparkTestBase {

  import spark.implicits._

  /** Writes a tiny documents.parquet and returns its directory. */
  private def corpus(docs: Seq[(Long, String)]): String = {
    val dir = tmpDir("corpus")
    docs
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val eight = "w1 w2 w3 w4 w5 w6 w7 w8" // one full segment

  test("paraDedup drops cross-doc segments everywhere, keeps unique ones") {
    // doc 0 and 1 share their first 8-word segment; tails are unique.
    val dir = corpus(Seq(
      0L -> s"$eight a b c d e f g h",
      1L -> s"$eight p q r s t u v x",
      2L -> "solo text only four words"))
    val out = ops.CorpusOps.paraDedup(spark, dir)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) === ((0L, "a b c d e f g h", 1L, 1L)))
    assert(out(1) === ((1L, "p q r s t u v x", 1L, 1L)))
    assert(out(2) === ((2L, "solo text only four words", 1L, 0L)))
  }

  test("paraDedup keeps a fully-boilerplate doc as an empty row, not a lost row") {
    val dir = corpus(Seq(0L -> eight, 1L -> eight))
    val out = ops.CorpusOps.paraDedup(spark, dir)
      .orderBy("doc_id").collect()
    assert(out.length === 2)
    out.foreach { r =>
      assert(r.getString(1) === "")
      assert(r.getLong(2) === 0L && r.getLong(3) === 1L)
    }
  }

  test("ngramDupRate: shared run counted per occurrence, short docs emit (0,0)") {
    val dir = corpus(Seq(
      0L -> s"$eight tail0 tail1",          // 10 words -> 3 shingles, 1 dup
      1L -> s"lead0 lead1 $eight",          // 10 words -> 3 shingles, 1 dup
      2L -> "too short for shingles"))      // 4 words  -> 0 shingles
    val out = ops.CorpusOps.ngramDupRate(spark, dir)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out(0) === ((0L, 3L, 1L)))
    assert(out(1) === ((1L, 3L, 1L)))
    assert(out(2) === ((2L, 0L, 0L)))
  }

  test("chunkWindows: 32/24 boundary math, trailing short chunk kept") {
    // 33 words -> starts at 0 and 24; second chunk has 9 words.
    val text = (1 to 33).map(i => s"t$i").mkString(" ")
    val dir = corpus(Seq(0L -> text))
    val out = ops.CorpusOps.chunkWindows(spark, dir)
      .orderBy("chunk_idx").collect()
    assert(out.length === 2)
    assert(out(0).getLong(3) === 32L)
    assert(out(1).getLong(3) === 9L)
    assert(out(1).getString(2) === (25 to 33).map(i => s"t$i").mkString(" "))
    // exactly 24 words -> one chunk (start 24 would be past the end)
    val dir2 = corpus(Seq(0L -> (1 to 24).map(i => s"u$i").mkString(" ")))
    assert(ops.CorpusOps.chunkWindows(spark, dir2).count() === 1L)
  }

  test("vocabTopk orders by count desc then word asc") {
    val dir = corpus(Seq(0L -> "b b b a a c", 1L -> "a c d"))
    val out = ops.CorpusOps.vocabTopk(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.take(3).toSeq === Seq(("a", 3L), ("b", 3L), ("c", 2L)))
  }

  test("UnicodeKernel.nfc recomposes and fast-paths already-NFC text") {
    val decomposed = "caf" + "e" + new String(Character.toChars(0x0301))
    val composed = "caf" + new String(Character.toChars(0xE9))
    assert(UnicodeKernel.nfc(decomposed) === composed)
    // already-NFC input returns the SAME instance (no allocation)
    val ascii = "plain ascii text"
    assert(UnicodeKernel.nfc(ascii) eq ascii)
    assert(UnicodeKernel.nfc(composed) eq composed)
  }

  test("redirect chains terminate at the corpus edge, not only at id%4==3") {
    // max id 5 is not ≡3 (mod 4): doc 4's chain must stop at 5
    val dir = corpus((0L to 5L).map(d => d -> s"doc $d"))
    val out = ops.LinkOps.redirectResolve(spark, dir)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (0L, 3L, 3L), (1L, 3L, 2L), (2L, 3L, 1L),
      (3L, 3L, 0L), (4L, 5L, 1L), (5L, 5L, 0L)))
  }

  test("nfc SQL expression: null-safe, type-checked, codegen-evaluated") {
    val acute = new String(Character.toChars(0x0301))
    val rows = Seq(Some("e" + acute), None).toDF("s")
      .selectExpr("nfc(s) as n").collect()
    assert(rows(0).getString(0) === new String(Character.toChars(0xE9)))
    assert(rows(1).isNullAt(0))
    val err = intercept[Exception] {
      Seq(1).toDF("i").selectExpr("nfc(i)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("nfc"))
  }
}
