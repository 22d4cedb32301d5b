package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  *   rebalance(p_day) → write partitionBy(p_day)  -- the job's one
  *               exchange (TableFormat's write distribution): one file
  *               per day. Dynamic overwrite: a killed job's half-written
  *               day is rewritten atomically on retry (idempotent per
  *               partition = effectively exactly-once per url)
  *   per-day metrics agg → ledger.commit     -- commit point AFTER data
  * }}}
  */
object ExtractJob {

  final case class DayStats(day: String, rows: Long, chars: Long, errors: Long)

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
    val metrics = new ExtractPipeline.Metrics(spark)
    val extracted = ExtractPipeline
      .extract(spark, todo.drop("p_day"), conf.copy(repartition = 0), metrics)
      .withColumn("p_day", date_format(col("warc_ts"), "yyyy-MM-dd"))

    // idempotent partition replace through the TableFormat seam: only the
    // days present in `extracted` are rewritten; committed days untouched
    // (Iceberg impl: writeTo(t).overwritePartitions() — same contract)
    format.overwritePartitions(extracted, outDir, "p_day")

    // per-partition lineage/metrics from the WRITTEN data (cheap column
    // scan — parquet column pruning reads only p_day/n_chars/error)
    // partition-dir type inference reads p_day back as DATE — normalize
    val stats = format.read(spark, outDir)
      .withColumn("p_day", col("p_day").cast("string"))
      .filter(!col("p_day").isin(committedDays.toSeq: _*))
      .groupBy(col("p_day"))
      .agg(
        count(lit(1)).as("rows"),
        sum(col("n_chars")).as("chars"),
        sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("errors"))
      .collect()
      .map(r => DayStats(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_.day)

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
    Result(stats.toSeq, committedDays.size, metrics.docsOk.value,
      metrics.docsFailed.value, wallMs)
  }
}
