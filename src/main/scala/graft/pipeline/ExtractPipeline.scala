package graft.pipeline

import graft.kernels.ExtractKernel
import graft.model.{ExtractedDoc, PageRow}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Spark wiring of the extraction kernel (SURVEY.md §7.1 `pipeline`).
  *
  * Plan shape. [[ExtractJob]] runs the kernel narrow on scan splits, and
  * its one exchange is the write's rebalance on the day column
  * ([[TableFormat.overwritePartitions]]):
  * {{{
  *   scan(pages) └─ mapPartitions(kernel) └─ rebalance(p_day) └─ write partitionBy(p_day)
  * }}}
  * Called on their own ([[extract]] / [[extractText]]: `graft.Bench`'s
  * scaling pass, the `q_extract_*` queries), the transforms can key
  * their output by url: by `xxhash64(url)` or by (host, salt), after the
  * kernel (`postShuffle`, the default: the exchange carries extracted
  * text, typically 5-10x smaller than the html) or before it (carries
  * the raw html, and buys row-level balance into the kernel for sources
  * with pathological per-split skew).
  *
  * The reference processed pages serially per request (api.py:217-228);
  * here every executor core runs the kernel on its partition's rows.
  */
object ExtractPipeline {

  /** Job configuration. [[ExtractJob]] uses only `maxBytes`: it ignores
    * `repartition`, `hostSalt` and `postShuffle`, which shape the url
    * exchange of the standalone transforms.
    * @param repartition  target partitions for the url-hash exchange;
    *                     0 = keep scan partitioning (narrow, no shuffle).
    * @param maxBytes     poison-pill cap: larger blobs become error rows
    *                     (bounds kernel memory; SURVEY §4.3 spill row).
    * @param hostSalt     0/1 = partition by url hash (uniform — the
    *                     default; unique urls carry no skew). >1 =
    *                     partition by (host, salt) instead: rows stay
    *                     host-grouped (per-host downstream state /
    *                     politeness) but a giant host spreads over
    *                     `hostSalt` buckets instead of hot-spotting one
    *                     reducer (SURVEY §4.3 skew salting).
    * @param postShuffle  place the url exchange AFTER the kernel (shuffles
    *                     extracted text instead of raw html). Only
    *                     meaningful with repartition > 0.
    */
  final case class Conf(repartition: Int = 0, maxBytes: Int = 64 << 20,
      hostSalt: Int = 0, postShuffle: Boolean = true)

  /** Task-side counters of a standalone [[extract]]. [[ExtractJob]] no
    * longer uses them: it observes its per-day stats in the write stage.
    * They stay only for the benchmark harness's `extractDoc(row, maxBytes,
    * null)` call and PipelineSpec's counter check. A retried shuffle map
    * stage re-applies its accumulator updates, so they can over-count.
    */
  final class Metrics(spark: SparkSession) extends Serializable {
    val docsOk: LongAccumulator = spark.sparkContext.longAccumulator("graft.docs_ok")
    val docsFailed: LongAccumulator = spark.sparkContext.longAccumulator("graft.docs_failed")
    val pagesOut: LongAccumulator = spark.sparkContext.longAccumulator("graft.pages_out")
    val bytesIn: LongAccumulator = spark.sparkContext.longAccumulator("graft.bytes_in")
  }

  /** Extract one document (all pages) with the size cap applied. */
  def extractDoc(row: PageRow, maxBytes: Int, m: Metrics): ExtractedDoc = {
    if (m != null) m.bytesIn.add(if (row.html == null) 0L else row.html.length.toLong)
    val r = ExtractKernel.extract(row.html, row.text, maxBytes)
    if (m != null) {
      if (r.error == null) m.docsOk.add(1L) else m.docsFailed.add(1L)
      m.pagesOut.add(r.pageCount.toLong)
    }
    ExtractedDoc(row.url, row.warc_ts, r.kind, r.pageCount, r.text, r.spans,
      r.text.codePointCount(0, r.text.length), row.lang, r.error)
  }

  /** The explicit url-hash exchange, applicable to any plan with a `url`
    * column (raw pages pre-kernel or extracted docs post-kernel).
    */
  private def keyedBy[T](ds: Dataset[T], conf: Conf): Dataset[T] =
    if (conf.repartition > 0 && conf.hostSalt > 1)
      // host-grouped with skew salt: tuple-hash of (host, salt bucket)
      ds.repartition(conf.repartition,
        regexp_extract(col("url"), "^https?://([^/]+)", 1),
        pmod(xxhash64(col("url")), lit(conf.hostSalt)))
    else if (conf.repartition > 0)
      // explicit url-hash exchange (north rule): aligns output
      // partitioning with the natural key and spreads host runs
      ds.repartition(conf.repartition, xxhash64(col("url")))
    else ds

  /** pages(url, warc_ts, html, text, lang) → Dataset[ExtractedDoc]. */
  def extract(spark: SparkSession, pages: DataFrame, conf: Conf = Conf(),
      metrics: Metrics = null): Dataset[ExtractedDoc] = {
    import spark.implicits._
    val maxBytes = conf.maxBytes
    val input = if (conf.postShuffle) pages else keyedBy(pages.toDF(), conf)
    val docs = input
      .select("url", "warc_ts", "html", "text", "lang")
      .as[PageRow]
      .mapPartitions { it => it.map(r => extractDoc(r, maxBytes, metrics)) }
    if (conf.postShuffle) keyedBy(docs, conf) else docs
  }

  /** Expression-only fast path: text extraction as a codegen'd projection
    * (`extract_main_text`), no Dataset encoder round-trip. How it compares
    * with the typed path is measured, not assumed: see `functions.expr_s`
    * against `pipeline.extract_s` in the benchmark's traced run
    * (`perfbench/baseline.json`). Emits (url, warc_ts, lang, text,
    * n_chars) only: consumers needing spans, page counts, or the error
    * string use [[extract]]. text=null is the single failure shape here —
    * oversized blobs, failed PDFs, and kernel faults (the expression runs
    * the same per-row catch as the typed path) all map to null.
    * Crawl-provided `text` surfaces ONLY for rows with no html bytes (the
    * passthrough branch), never as a fallback for failed extraction —
    * same branch the typed path takes.
    */
  def extractText(spark: SparkSession, pages: DataFrame, conf: Conf = Conf()): DataFrame = {
    graft.functions.ExtractMainText.register(spark) // idempotent
    val htmlLen = coalesce(length(col("html")), lit(0))
    val input = if (conf.postShuffle) pages else keyedBy(pages, conf)
    val out = input
      .select(
        col("url"), col("warc_ts"), col("lang"),
        when(htmlLen === 0, when(col("text") =!= "", col("text")))
          .otherwise(when(htmlLen <= conf.maxBytes,
            call_function("extract_main_text", col("html"))))
          .as("text"))
      .withColumn("n_chars", coalesce(length(col("text")), lit(0)))
    if (conf.postShuffle) keyedBy(out, conf) else out
  }

  /** Relational page→doc rollup for the general case where pages of one
    * document arrive as separate rows (reference multi-page combined JSON,
    * api.py:261-269). Order-correct via sort_array on page_no — never
    * relies on collect_list arrival order (SURVEY §7.4 hard part #5).
    */
  def rollupPages(pages: DataFrame): DataFrame = {
    pages
      .groupBy(col("url"))
      .agg(
        count(lit(1)).cast("int").as("page_count"),
        array_join(
          transform(
            sort_array(collect_list(struct(col("page_no"), col("text")))),
            p => p.getField("text")),
          "\n").as("text"),
        min(col("warc_ts")).as("warc_ts"))
  }
}
