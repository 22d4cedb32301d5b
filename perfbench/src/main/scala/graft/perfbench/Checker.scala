package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Output checks against the generator's per-url expectation.
  *
  * The expectation has one row per generated url: `url, kind, err, text,
  * expr_text` (see [[Recipes.Doc]]). A url fails when a surface is
  * missing it, returns it more than once, or disagrees on text bytes,
  * `doc_kind` or error class; a url the generator never planned fails
  * too. A planned error row with its planned class is correct.
  *
  * Each check first compares an order-free digest (the sum of a per-row
  * `xxhash64` over url, kind, error class and text) with the
  * expectation's, in one scan; only when they differ does it join url by
  * url to name the failing docs.
  */
object Checker {

  /** Cap on failing urls brought back to the driver; the count is exact. */
  final val SampleCap = 1000

  final case class Failures(count: Long, sample: Seq[String])

  final val NoFailures = Failures(0, Nil)

  /** Digest summand of a typed-path row. */
  def typedHash(kind: Column, errClass: Column, text: Column): Column =
    xxhash64(col("url"), kind, coalesce(errClass, lit("-")), text).cast(DecimalType(38, 0))

  /** Digest summand of an expression-path row. */
  def exprHash(text: Column): Column =
    xxhash64(col("url"), text, text.isNull).cast(DecimalType(38, 0))

  def errClass(error: Column): Column = substring_index(error, ":", 1)

  def bigInt(d: java.math.BigDecimal): BigInt =
    if (d == null) BigInt(0) else BigInt(d.toBigInteger)

  private def failures(expect: DataFrame, got: DataFrame, bad: Column): Failures = {
    val j = expect.join(got, Seq("url"), "full_outer")
      .filter(col("n").isNull || col("n") =!= 1 || col("kind").isNull || bad)
      .select("url").cache()
    try Failures(j.count(), j.limit(SampleCap).collect().map(_.getString(0)).toSeq)
    finally { j.unpersist(); () }
  }

  /** The committed table of `ExtractJob` (typed path) against `digest`;
    * `expect` is built only when the digest differs.
    */
  def tableQuick(out: DataFrame, digest: BigInt, expect: => DataFrame): Failures = {
    val d = out.agg(sum(typedHash(col("doc_kind"), errClass(col("error")), col("text"))))
      .head().getDecimal(0)
    if (bigInt(d) == digest) NoFailures else table(out, expect)
  }

  /** As [[tableQuick]], for the expression path (`extractText`); also
    * returns its null-text row count.
    */
  def expressionQuick(out: DataFrame, digest: BigInt, expect: => DataFrame): (Failures, Long) = {
    val r = out.agg(sum(exprHash(col("text"))), count(when(col("text").isNull, 1))).head()
    if (bigInt(r.getDecimal(0)) == digest) (NoFailures, r.getLong(1)) else expression(out, expect)
  }

  /** The committed table of `ExtractJob` (typed path), url by url. */
  def table(out: DataFrame, expect: DataFrame): Failures = {
    val got = out.groupBy("url").agg(count(lit(1)).as("n"),
      first("doc_kind").as("g_kind"), first("text").as("g_text"),
      first(errClass(col("error"))).as("g_err"))
    failures(expect, got,
      !(col("g_kind") <=> col("kind")) || !(col("g_err") <=> col("err")) ||
        !(col("g_text") <=> col("text")))
  }

  /** The expression path, url by url; also returns its null-text row count. */
  def expression(out: DataFrame, expect: DataFrame): (Failures, Long) = {
    val got = out.groupBy("url").agg(count(lit(1)).as("n"), first("text").as("g_text"))
    val nulls = out.filter(col("text").isNull).count()
    (failures(expect, got, !(col("g_text") <=> col("expr_text"))), nulls)
  }
}
