package graft

import graft.gen.PagesGen
import graft.model.PageRow
import graft.ops._
import graft.pipeline.ExtractPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry entry: a query's Spark plan and the DuckDB SQL that gates
  * it. `oracle` runs on the same parquet tables; its column names and types
  * match the Spark side (the compare sorts columns by name and hashes values).
  */
final case class Gated(run: (SparkSession, String) => DataFrame, oracle: String)

/** Driver contract (SURVEY.md §7): every operator family registers one
  * [[Gated]] entry per query.
  *  - ExtractionOps: the real HTML/PDF kernel end-to-end (round-trip
  *    oracle: extract(wrap(text)) == text, byte-identical)
  *  - RelationalOps: pipeline-stage analogs over TPC-H-ish tables
  *  - TextOps / DedupOps / SimilarityOps / MultimodalOps: training-data
  *    pipeline operators over documents/embeddings
  */
object SparkEntry {

  /** Flagship: full extraction pipeline (chrome-wrapped synthetic corpus,
    * HTML + multi-page PDF + passthrough mix, url-hash repartition) on
    * sf0.001-sized input; driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val corpus = PagesGen.corpus(2000, seed = 42L)
    val pages = corpus.map(_.row).toDS()
    ExtractPipeline
      .extract(spark, pages.toDF(), ExtractPipeline.Conf(repartition = 32))
      .toDF()
  }

  /** The operator families of SURVEY.md §2, each listed once. */
  def families: Seq[Map[String, Gated]] = Seq(
    ExtractionOps.registry, RelationalOps.registry, TextOps.registry, DedupOps.registry,
    SimilarityOps.registry, MultimodalOps.registry, ScalarOps.registry, FormOps.registry,
    AggOps.registry, SketchOps.registry, SampleOps.registry, LinkOps.registry,
    RankOps.registry, CorpusOps.registry, QualityOps.registry, ArticleOps.registry,
    graft.streaming.StreamingOps.registry)

  /** Every query by name; the family names are disjoint (RegistrySpec). */
  def registry: Map[String, Gated] = families.reduce(_ ++ _)

  /** The Spark side of [[registry]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, g) => n -> g.run }

  /** The DuckDB side of [[registry]], under the same names. */
  def oracleSql: Map[String, String] = registry.map { case (n, g) => n -> g.oracle }
}
