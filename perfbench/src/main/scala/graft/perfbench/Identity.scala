package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.perfbench.Recipes.{Doc, Workload}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Corpus identity: a stamp of rows, html bytes, kind and error-class
  * mix and the sum of `xxhash64(url, html)` over all rows, so a timing is
  * tied to the exact bytes it was measured on.
  *
  * Two checks guard every run before anything is timed:
  *  - the canary slice (the first [[CanaryRows]] rows of seed 0, which is
  *    also the set-up warm-up input) must stamp exactly as recorded in
  *    `perfbench/stamps.json`: any change to a recipe moves it;
  *  - the run's own corpus (any seed) must carry the recorded row count,
  *    kind mix and error mix, read back from the table the job scans.
  */
object Identity {

  final val CanaryRows = 2000
  final val StampsFile = "perfbench/stamps.json"

  final case class Stamp(rows: Long, htmlBytes: Long, kinds: Map[String, Long],
      errors: Map[String, Long], xxhash64Sum: BigInt) {
    def plan: (Long, Map[String, Long], Map[String, Long]) = (rows, kinds, errors)
    def json: String =
      s"""{"rows":$rows,"html_bytes":$htmlBytes,"kinds":${counts(kinds)},""" +
        s""""errors":${counts(errors)},"xxhash64_sum":"$xxhash64Sum"}"""
  }

  private def counts(m: Map[String, Long]): String =
    m.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  /** Spark's `xxhash64(url, html)` (seed 42, columns chained). */
  def rowHash(url: String, html: Array[Byte]): Long = {
    val h = XXH64.hashUTF8String(UTF8String.fromString(url), 42L)
    if (html == null) h else XXH64.hashUnsafeBytes(html, Platform.BYTE_ARRAY_OFFSET, html.length, h)
  }

  def of(docs: Seq[Doc]): Stamp = Stamp(
    docs.size.toLong,
    docs.map(d => if (d.row.html == null) 0L else d.row.html.length.toLong).sum,
    docs.groupBy(_.kind).map { case (k, v) => k -> v.size.toLong },
    docs.filter(_.err != null).groupBy(_.err).map { case (k, v) => k -> v.size.toLong },
    docs.map(d => BigInt(rowHash(d.row.url, d.row.html))).sum)

  /** Stamp of the pages table as the job reads it back, with the kind
    * and error mix the generator planned for it.
    */
  def ofTable(pages: DataFrame, kinds: Map[String, Long], errors: Map[String, Long]): Stamp = {
    val r = pages.agg(count(lit(1)), sum(coalesce(length(col("html")), lit(0)).cast("long")),
      sum(xxhash64(col("url"), col("html")).cast(DecimalType(38, 0)))).head()
    Stamp(r.getLong(0), r.getLong(1), kinds, errors, BigInt(r.getDecimal(2).toBigInteger))
  }

  def canary(w: Workload): Seq[Doc] = {
    val g = new Recipes.Generator(w, 0L)
    (0 until CanaryRows).map(i => g.doc(i.toLong))
  }

  final case class Recorded(canary: Stamp, plan: (Long, Map[String, Long], Map[String, Long]))

  private def countsOf(n: JsonNode, k: String): Map[String, Long] =
    n.get(k).fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap

  /** The recorded stamps of `w`, read from [[StampsFile]]. */
  def recorded(w: Workload, file: String = StampsFile): Recorded = {
    val root = new ObjectMapper().readTree(Files.readString(Paths.get(file)))
    val n = Option(root.get(w.name)).getOrElse(
      throw new IllegalStateException(s"$file has no stamp for workload ${w.name}"))
    val (c, p) = (n.get("canary"), n.get("plan"))
    Recorded(
      Stamp(c.get("rows").asLong, c.get("html_bytes").asLong, countsOf(c, "kinds"),
        countsOf(c, "errors"), BigInt(c.get("xxhash64_sum").asText)),
      (p.get("rows").asLong, countsOf(p, "kinds"), countsOf(p, "errors")))
  }

  /** The recorded-stamps entry for `w`, as written to [[StampsFile]]. */
  def recordJson(w: Workload): String = {
    val (kinds, errors) = w.plan(w.docs)
    s""""${w.name}":{"canary":${of(canary(w)).json},""" +
      s""""plan":{"rows":${w.docs},"kinds":${counts(kinds)},"errors":${counts(errors)}}}"""
  }

  /** Why the canary slice may not be timed, if it may not. */
  def canaryMismatch(rec: Recorded, canary: Stamp): Option[String] =
    if (canary == rec.canary) None
    else Some(s"canary slice stamps as ${canary.json}, recorded ${rec.canary.json}")

  /** Why a run's corpus may not be timed, if it may not. */
  def planMismatch(rec: Recorded, corpus: Stamp): Option[String] =
    if (corpus.plan == rec.plan) None
    else Some(s"corpus plan ${corpus.plan} differs from the recorded ${rec.plan}")
}
