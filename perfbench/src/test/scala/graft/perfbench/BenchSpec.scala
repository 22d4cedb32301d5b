package graft.perfbench

import graft.pipeline.{ExtractJob, ParquetFormat}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own gates: the output check, the identity check and
  * the simulated kill. Run with `sbt test` from `perfbench/`.
  */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var work: Path = _

  override def beforeAll(): Unit = {
    work = Files.createDirectories(Paths.get(sys.props("java.io.tmpdir")))
      .resolve(s"bench-spec-${System.nanoTime()}")
    spark = JobBench.session(2, work)
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    JobBench.deleteTree(work)
  }

  /** A small corpus of `w` written as the pages table, with its expectation. */
  private def corpus(w: Recipes.Workload, name: String): (String, DataFrame, JobBench.Generated) = {
    val pages = work.resolve(name).resolve("pages").toString
    val gen = JobBench.generate(spark, w, seed = 5L, pages)
    (pages, JobBench.expectView(JobBench.generated(spark, w, 5L)).cache(), gen)
  }

  private def job(w: Recipes.Workload, pages: String, out: String): ExtractJob.Result =
    ExtractJob.run(spark, spark.read.parquet(pages), out, s"$out/_ledger", JobBench.conf(w, 2))

  test("one altered expected value fails exactly one doc") {
    val w = Recipes.PdfLarge.copy(docs = 300)
    val (pages, expect, gen) = corpus(w, "alter-expect")
    val out = work.resolve("alter-expect/out").toString
    job(w, pages, out)
    val table = ParquetFormat.read(spark, out)
    assert(Checker.tableQuick(table, gen.typedDigest, expect) == Checker.NoFailures)
    assert(Checker.table(table, expect).count == 0)

    val victim = expect.filter(col("kind") === "html").orderBy("url").head().getString(0)
    val altered = expect.withColumn("text",
      when(col("url") === victim, concat(col("text"), lit("x"))).otherwise(col("text")))
    val f = Checker.table(table, altered)
    assert(f.count == 1 && f.sample == Seq(victim))
    // the digest path finds it too (the altered digest differs)
    val alteredDigest = Checker.bigInt(altered.agg(sum(
      Checker.typedHash(col("kind"), col("err"), col("text")))).head().getDecimal(0))
    assert(Checker.tableQuick(table, alteredDigest, altered).sample == Seq(victim))
  }

  test("one altered corpus byte fails the identity check") {
    val w = Recipes.CrawlResume
    val rec = Identity.recorded(w, "stamps.json")
    val canary = Identity.canary(w)
    assert(Identity.canaryMismatch(rec, Identity.of(canary)).isEmpty)
    // Spark's xxhash64(url, html) is the hash the generator stamps with
    val viaSpark = Identity.ofTable(JobBench.pagesOf(spark, canary), Map.empty, Map.empty)
    assert(viaSpark.xxhash64Sum == rec.canary.xxhash64Sum && viaSpark.rows == rec.canary.rows)

    val i = canary.indexWhere(_.kind == "html")
    val html = canary(i).row.html.clone()
    html(html.length / 2) = (html(html.length / 2) ^ 1).toByte
    val altered = canary.updated(i, canary(i).copy(row = canary(i).row.copy(html = html)))
    assert(Identity.canaryMismatch(rec, Identity.of(altered)).nonEmpty)
  }

  test("the truncated part file left by the kill never surfaces as a duplicate url") {
    val w = Recipes.CrawlResume.copy(docs = 400)
    val (pages, expect, _) = corpus(w, "kill")
    val out = work.resolve("kill/out").toString
    job(w, pages, out)
    val (killed, killedDocs) = JobBench.kill(out, s"$out/_ledger")
    val truncated = Paths.get(out, killed.head, JobBench.KilledPart)
    assert(killed.nonEmpty && killedDocs > 0 && Files.exists(truncated))

    val resumed = job(w, pages, out)
    assert(resumed.daysProcessed.map(d => s"p_day=${d.day}").sorted == killed.sorted)
    assert(!Files.exists(truncated))
    val table = ParquetFormat.read(spark, out)
    assert(table.count() == w.docs && table.select("url").distinct().count() == w.docs)
    assert(Checker.table(table, expect).count == 0)
  }
}
