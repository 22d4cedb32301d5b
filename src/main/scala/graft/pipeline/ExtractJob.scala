package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoder, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Resumable day-partitioned extraction batch job (SURVEY §7.3).
  *
  * {{{
  *   committed = ledger.committed            -- driver-side, tiny
  *   todo      = pages WHERE p_day NOT IN committed   -- partition prune:
  *               the filter sits on a derived day column, so with a
  *               day-partitioned source (Iceberg/parquet partition dirs)
  *               Catalyst prunes whole partitions before any html byte
  *               is read; the resume scan never touches `html` of
  *               committed days.
  *   extracted = ExtractPipeline.extract(todo)   -- narrow on scan splits
  *   rebalance(p_day) → observe(day stats) → write partitionBy(p_day)
  *               -- the job's one exchange (TableFormat's write
  *               distribution): one file per day. Dynamic overwrite: a
  *               killed job's half-written day is rewritten atomically on
  *               retry (idempotent per partition = effectively
  *               exactly-once per url). The day stats are observed on the
  *               rows the write stage consumes; no job runs after it
  *   observed day stats → ledger.commit     -- commit point AFTER data
  * }}}
  */
object ExtractJob {

  final case class DayStats(day: String, rows: Long, chars: Long, errors: Long) {
    private[pipeline] def +(o: DayStats): DayStats =
      DayStats(day, rows + o.rows, chars + o.chars, errors + o.errors)
  }

  /** (p_day, n_chars, has error) rows → their [[DayStats]], sorted by day. */
  private object DayStatsAgg
      extends Aggregator[(String, Long, Boolean), Map[String, DayStats], Seq[DayStats]] {
    override def zero: Map[String, DayStats] = Map.empty
    override def reduce(b: Map[String, DayStats], x: (String, Long, Boolean)): Map[String, DayStats] =
      add(b, DayStats(x._1, 1L, x._2, if (x._3) 1L else 0L))
    override def merge(a: Map[String, DayStats], b: Map[String, DayStats]): Map[String, DayStats] =
      b.values.foldLeft(a)(add)
    override def finish(b: Map[String, DayStats]): Seq[DayStats] = b.values.toSeq.sortBy(_.day)
    override def bufferEncoder: Encoder[Map[String, DayStats]] =
      ExpressionEncoder[Map[String, DayStats]]()
    override def outputEncoder: Encoder[Seq[DayStats]] = ExpressionEncoder[Seq[DayStats]]()
    private def add(b: Map[String, DayStats], s: DayStats): Map[String, DayStats] =
      b.updated(s.day, b.get(s.day).fold(s)(_ + s))
  }

  final case class Result(
      daysProcessed: Seq[DayStats],
      daysSkipped: Int,
      docsOk: Long,
      docsFailed: Long,
      wallMs: Long)

  def run(
      spark: SparkSession,
      pages: DataFrame,
      outDir: String,
      ledgerDir: String,
      conf: ExtractPipeline.Conf = ExtractPipeline.Conf(),
      format: TableFormat = ParquetFormat): Result = {
    val t0 = System.nanoTime()
    val committed = Ledger.committed(ledgerDir)
    val committedDays = committed.keySet.map(_.stripPrefix("p_day="))

    val withDay = pages.withColumn("p_day", date_format(col("warc_ts"), "yyyy-MM-dd"))
    val todo =
      if (committedDays.isEmpty) withDay
      else withDay.filter(!col("p_day").isin(committedDays.toSeq: _*))

    // no url exchange: a directory table cannot prune by url hash
    val extracted = ExtractPipeline
      .extract(spark, todo.drop("p_day"), conf.copy(repartition = 0))
      .withColumn("p_day", date_format(col("warc_ts"), "yyyy-MM-dd"))

    // idempotent partition replace through the TableFormat seam: only the
    // days present in `extracted` are rewritten; committed days untouched
    // (Iceberg impl: writeTo(t).overwritePartitions() — same contract).
    // The per-day lineage/metrics are observed on exactly the rows written,
    // in the write's own stage, so only days this run wrote are committed
    val observed = Observation("graft.day_stats")
    val dayStats = udaf(DayStatsAgg, ExpressionEncoder[(String, Long, Boolean)]())
    format.overwritePartitions(extracted, outDir, "p_day", Some(observed ->
      dayStats(col("p_day"), col("n_chars").cast("long"), col("error").isNotNull).as("days")))
    val stats = observed.get("days").asInstanceOf[scala.collection.Seq[Row]].toSeq
      .map(r => DayStats(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    val wallMs = (System.nanoTime() - t0) / 1000000
    val now = System.currentTimeMillis()
    // one RUN = one snapshot (the Iceberg-commit analog): compute the
    // next id once — per-entry auto-assign would rescan the ledger per
    // commit (O(n²) across a backfill) and tie ids to commit order
    // within the run, which carries no meaning
    val snap = Ledger.currentSnapshot(ledgerDir) + 1L
    stats.foreach { s =>
      Ledger.commit(ledgerDir,
        Ledger.Entry(s"p_day=${s.day}", s.rows, s.chars, s.errors, wallMs, now, snap))
    }
    val failed = stats.map(_.errors).sum
    Result(stats, committedDays.size, stats.map(_.rows).sum - failed, failed, wallMs)
  }
}
