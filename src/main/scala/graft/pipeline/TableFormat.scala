package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Table-format seam (SURVEY §7.3): the storage contract ExtractJob and
  * the MERGE sink write through, so swapping parquet-on-dirs for Iceberg
  * is one object, not a job rewrite.
  *
  * Iceberg mapping (not linkable in this container — no Iceberg runtime
  * on the classpath, so the parquet impl is the one wired in):
  *  - overwritePartitions → `df.writeTo(t).overwritePartitions()` with
  *                          `write.distribution-mode=hash`
  *  - read               → `spark.table(t)` (snapshot isolation for free)
  *  - merge              → `MERGE INTO t USING u ON t.url = u.url WHEN
  *                          MATCHED THEN UPDATE SET * WHEN NOT MATCHED
  *                          THEN INSERT *`
  * The parquet impl reproduces the same SEMANTICS (idempotent partition
  * replace; keyed upsert) with dynamic partition overwrite + a
  * copy-on-write merge, which is also what Iceberg's COW mode compiles
  * to under the hood.
  */
trait TableFormat {

  /** Idempotent partition replace: exactly the `partitionCol` values
    * present in `df` are rewritten; other partitions are untouched.
    * Write distribution: rows are clustered by `partitionCol` first
    * (Iceberg's `hash` mode), so each value is one file whatever `df`'s
    * partitioning; one above the advisory shuffle size splits into a few.
    * `observed` (an [[Observation]] and its named aggregate) is placed
    * after that clustering, in the stage that writes the files: a result
    * stage, where Spark merges one accumulator update per partition, so
    * the aggregate stays exact when a task or the stage is retried. Below
    * the clustering it would sit in a shuffle map stage, whose retries
    * re-apply their updates.
    */
  def overwritePartitions(df: DataFrame, table: String, partitionCol: String,
      observed: Option[(Observation, Column)] = None): Unit

  def read(spark: SparkSession, table: String): DataFrame

  /** MERGE keyed by `key` (api.py:458-474 edited-result sink): matched
    * rows take the update's columns, unmatched updates insert. Partition
    * column must be present in both sides.
    */
  def merge(spark: SparkSession, table: String, updates: DataFrame,
      key: String, partitionCol: String): Unit

  /** Incremental snapshot-diff read — rows belonging to partitions
    * committed AFTER `sinceSnapshot` (the Iceberg
    * `spark.read.option("start-snapshot-id", N).table(t)` analog; a
    * caller records `Ledger.currentSnapshot` after a run and later reads
    * only what newer runs added). Writes here are partition-granular
    * (overwrite/merge rewrite whole partitions), so the diff unit is the
    * partition: a rewritten partition re-appears in full — a superset of
    * the row-level append diff, and exactly what a downstream
    * re-derivation must reprocess.
    */
  def readSince(spark: SparkSession, table: String, ledgerDir: String,
      sinceSnapshot: Long): DataFrame

  /** Time-travel read — the table as of `snapshot` (the Iceberg
    * `VERSION AS OF` analog): rows of partitions committed AT OR BEFORE
    * it. Writes are partition-granular, so a partition REWRITTEN by a
    * later commit is no longer reconstructable and is honestly excluded
    * (Iceberg keeps old files until expire_snapshots; the parquet impl's
    * retention is "until rewritten"). Completes the read/readSince/
    * readAt triple.
    */
  def readAt(spark: SparkSession, table: String, ledgerDir: String,
      snapshot: Long): DataFrame

  /** Small-file compaction (the Iceberg `CALL system.rewrite_data_files`
    * analog). A resumable crawl writes a partition per commit unit;
    * thousands of commits leave thousands of sub-target files whose
    * open/footer cost dominates the next scan — the canonical 100 TB
    * table-maintenance problem. Rewrites each partition holding more
    * files than `ceil(bytes/targetBytes)` into exactly that many;
    * contents unchanged, idempotent (a second call is a no-op).
    */
  def compact(spark: SparkSession, table: String, partitionCol: String,
      targetBytes: Long): TableFormat.CompactStats

  /** Orphan-file cleanup (the Iceberg `CALL system.remove_orphan_files`
    * analog). In a directory table the committed content is exactly
    * what the reader scans; the orphans are what it NEVER scans —
    * underscore/dot-prefixed paths Spark's FileIndex skips: `_temporary`
    * job attempt trees left by killed writers, `.crc` sidecars,
    * `_SUCCESS` markers. A killed 100 TB job can leave a full copy of
    * its output invisible under `_temporary`; without vacuum that space
    * is never reclaimed. Only entries older than `graceMs` are removed
    * so an IN-FLIGHT writer's live `_temporary` tree survives (the same
    * `older_than` guard the Iceberg procedure takes). Idempotent.
    */
  def vacuum(table: String, graceMs: Long): TableFormat.VacuumStats
}

object TableFormat {
  /** Rewrite report: partitions touched, data files before/after. */
  final case class CompactStats(
      partitionsRewritten: Long, filesBefore: Long, filesAfter: Long)

  /** Cleanup report. */
  final case class VacuumStats(filesDeleted: Long, bytesFreed: Long)
}

/** Parquet-directory implementation.
  *
  * Every table write (`overwritePartitions`, so `merge` too, and
  * `compact`'s rewrite) sets local file modes in the JVM, through
  * [[JvmModeLocalFileSystem]]: without libhadoop, which Spark does not
  * ship, Hadoop's `RawLocalFileSystem` forks a `chmod` process per
  * directory, data file and `.crc` sidecar. Other schemes are untouched.
  * `graft.Verify`'s per-query dumps write with the same options.
  */
object ParquetFormat extends TableFormat {

  /** Spark copies write options into the Hadoop conf of the committer and
    * of the tasks; with the cache off, the class applies even when a
    * plain `file://` file system is already cached in this JVM.
    */
  private[graft] val writeOptions = Map(
    "fs.file.impl" -> classOf[JvmModeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Clustered by an AQE rebalance: small partitions coalesce to about a
    * task per core, one above the advisory size splits; with AQE off it
    * is a plain hash exchange on the column, still one file per value.
    */
  override def overwritePartitions(df: DataFrame, table: String,
      partitionCol: String, observed: Option[(Observation, Column)]): Unit = {
    val clustered = df.hint("rebalance", col(partitionCol))
    observed.fold(clustered) { case (o, agg) => clustered.observe(o, agg) }.write
      .options(writeOptions)
      .partitionBy(partitionCol)
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .parquet(table)
  }

  /** mergeSchema stands in for Iceberg's tracked table schema: after an
    * add-column merge, partitions written before the evolution lack the
    * column and must still read (as nulls) — default inference samples
    * ONE footer and would resolve the schema by file order luck.
    */
  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.option("mergeSchema", true).parquet(table)

  /** Partition-granular diff from the ledger's snapshot ids. */
  override def readSince(spark: SparkSession, table: String, ledgerDir: String,
      sinceSnapshot: Long): DataFrame =
    committedWhere(spark, table, ledgerDir)(_ > sinceSnapshot)

  /** Partition-granular time travel. The ledger holds ONE entry per
    * partition (latest commit wins), so a partition rewritten after
    * `snapshot` has entry.snapshot > snapshot and is excluded — "until
    * rewritten" retention, stated in the trait doc.
    */
  override def readAt(spark: SparkSession, table: String, ledgerDir: String,
      snapshot: Long): DataFrame =
    committedWhere(spark, table, ledgerDir)(_ <= snapshot)

  /** Rows of the partitions whose ledger snapshot passes `keep`. The scan
    * stays partition-pruned (the isin filter sits on the partition
    * column), so a consumer reads only those partitions' files.
    */
  private def committedWhere(spark: SparkSession, table: String, ledgerDir: String)(
      keep: Long => Boolean): DataFrame = {
    val parts = Ledger.committed(ledgerDir).values
      .filter(e => keep(e.snapshot)).map(_.partition).toSeq
    val base = read(spark, table)
    if (parts.isEmpty) return base.filter(lit(false))
    val byCol = parts.map { p =>
      val i = p.indexOf('=')
      require(i > 0, s"ledger partition '$p' is not col=value")
      (p.substring(0, i), p.substring(i + 1))
    }.groupBy(_._1)
    // a row belongs if it falls in ANY kept partition — OR across
    // partition columns (a ledger can carry entries keyed by different
    // columns when merge() was called with different partitionCol
    // values); AND would return the intersection
    val pred = byCol.map { case (c, vs) =>
      col(c).cast("string").isin(vs.map(_._2): _*)
    }.reduce(_ || _)
    base.filter(pred)
  }

  /** Per-partition bin-pack: the partition list is driver-side (same
    * metadata scale as the ledger), each rewrite is a distributed job
    * over one partition's files, and the localCheckpoint breaks lineage
    * so the overwrite can legally target the directory it just read —
    * the same pattern merge() uses. Partitions already at or below their
    * desired file count are not read at all.
    */
  override def compact(spark: SparkSession, table: String, partitionCol: String,
      targetBytes: Long): TableFormat.CompactStats = {
    require(targetBytes > 0, "targetBytes must be positive")
    def dataFiles(d: java.io.File): Array[java.io.File] = {
      val fs = d.listFiles()
      if (fs == null) Array.empty
      else fs.filter(f => f.isFile && f.getName.endsWith(".parquet"))
    }
    val root = new java.io.File(table)
    val parts = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith(s"$partitionCol="))
      .sortBy(_.getName)
    var rewritten = 0L
    var before = 0L
    var after = 0L
    parts.foreach { pdir =>
      val files = dataFiles(pdir)
      val bytes = files.map(_.length()).sum
      // stays a Long until after the merge-only guard: a huge partition
      // with a tiny target must not overflow toInt into a negative
      // repartition count (when rewriting, desired < files.length ≤ 2^31)
      val desired = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
      before += files.length
      if (files.length > desired) {
        val df = spark.read.parquet(pdir.getPath)
          .repartition(desired.toInt)
          .localCheckpoint(true)
        df.write.options(writeOptions).mode(SaveMode.Overwrite).parquet(pdir.getPath)
        rewritten += 1
        after += dataFiles(pdir).length
      } else after += files.length
    }
    TableFormat.CompactStats(rewritten, before, after)
  }

  /** Walks the table tree; a path is orphaned iff SOME element under the
    * table root starts with `_` or `.` (Spark's FileIndex skip rule —
    * everything below such an element is invisible to reads, including
    * normally-named part files inside `_temporary`). Deletion is
    * file-by-file with the age guard on each file; emptied invisible
    * directories are pruned bottom-up.
    */
  override def vacuum(table: String, graceMs: Long): TableFormat.VacuumStats = {
    val cutoff = System.currentTimeMillis() - graceMs
    var files = 0L
    var bytes = 0L
    // parity with Spark's shouldFilterOutPathName, minus what other
    // tools still read: `_col=value` partition dirs are NOT hidden
    // (a partition column may legally start with '_'), and Parquet
    // summary files are kept even though Spark skips them
    def hidden(name: String): Boolean =
      (name.startsWith("_") && !name.contains("=") &&
        name != "_metadata" && name != "_common_metadata") ||
        name.startsWith(".")
    def sweep(dir: java.io.File, underHidden: Boolean): Unit = {
      val entries = dir.listFiles()
      if (entries == null) return
      entries.foreach { e =>
        val h = underHidden || hidden(e.getName)
        if (e.isDirectory) {
          sweep(e, h)
          // prune an invisible dir once empty — no age guard here: the
          // grace applied to every file inside, and deleting those files
          // refreshes the dir's own mtime anyway; an empty invisible dir
          // is never read and a writer recreates it for free
          if (h) {
            val left = e.listFiles()
            if (left == null || left.isEmpty) e.delete()
          }
        } else if (h && e.lastModified() < cutoff) {
          val len = e.length()
          if (e.delete()) { files += 1; bytes += len }
        }
      }
    }
    val root = new java.io.File(table)
    if (root.isDirectory) sweep(root, underHidden = false)
    TableFormat.VacuumStats(files, bytes)
  }

  /** Copy-on-write merge, partition-scoped: the rewritten set is the
    * partitions the updates name PLUS the partitions currently holding a
    * matched key (a key-and-partition-column-only scan — column-pruned,
    * the same metadata-sized lookup Iceberg answers from manifests), so
    * an update that MOVES a key to a new partition relocates the single
    * row instead of leaving a stale duplicate behind. At 10^12 rows the
    * data rewritten stays proportional to the touched partitions, never
    * the table. The localCheckpoint breaks the read lineage so the
    * dynamic overwrite can legally target the path it just read; a
    * touched partition that ends up empty has its directory removed
    * (dynamic overwrite cannot delete a partition it writes no rows to).
    */
  override def merge(spark: SparkSession, table: String, updates: DataFrame,
      key: String, partitionCol: String): Unit = {
    if (!new java.io.File(table).exists()) {
      overwritePartitions(updates, table, partitionCol)
      return
    }
    val updParts = updates.select(col(partitionCol).cast("string"))
      .distinct().collect().map(_.getString(0)).toSeq
    val matchedParts = read(spark, table)
      .select(col(key), col(partitionCol).cast("string").as(partitionCol))
      .join(updates.select(col(key)).distinct(), Seq(key), "left_semi")
      .select(col(partitionCol)).distinct().collect().map(_.getString(0)).toSeq
    val affected = (updParts ++ matchedParts).distinct
    val current0 = read(spark, table)
      .withColumn(partitionCol, col(partitionCol).cast("string"))
      .filter(col(partitionCol).isin(affected: _*))
    // schema evolution (Iceberg MERGE semantics): output = UNION of both
    // schemas. A column only in updates (add-column evolution) back-fills
    // null on existing rows; a column MISSING from updates is preserved
    // from the table (and nulls on inserted rows) instead of being
    // silently dropped from every rewritten partition.
    val curCols = current0.columns.toSeq
    val updCols = updates.columns.toSeq
    val cols = curCols ++ updCols.filterNot(curCols.contains)
    val current = updCols.filterNot(curCols.contains).foldLeft(current0)((d, c) =>
      d.withColumn(c, lit(null).cast(updates.schema(c).dataType)))
    val updAligned = curCols.filterNot(updCols.contains).foldLeft(updates)((d, c) =>
      d.withColumn(c, lit(null).cast(current0.schema(c).dataType)))
    val u = cols.foldLeft(updAligned)((d, c) =>
      if (c == key) d else d.withColumnRenamed(c, s"__u_$c"))
    val merged = current.join(u, Seq(key), "full_outer")
      .select(col(key) +: cols.filterNot(_ == key).map(c =>
        coalesce(col(s"__u_$c"), col(c)).as(c)): _*)
      .withColumn(partitionCol, col(partitionCol).cast("string"))
      .localCheckpoint(true)
    overwritePartitions(merged, table, partitionCol)
    // relocation can empty an affected partition; drop its directory
    val remaining = merged.select(col(partitionCol)).distinct()
      .collect().map(_.getString(0)).toSet
    affected.filterNot(remaining).foreach { pv =>
      val dir = new java.io.File(s"$table/$partitionCol=$pv")
      if (dir.isDirectory) {
        dir.listFiles().foreach(_.delete())
        dir.delete()
      }
    }
  }
}
