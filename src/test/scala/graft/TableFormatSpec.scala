package graft

import java.nio.file.{Files, LinkOption, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.gen.PagesGen
import graft.pipeline.{ExtractJob, JvmModeLocalFileSystem, ParquetFormat}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** The TableFormat seam: idempotent partition replace and the keyed
  * copy-on-write MERGE writer (the api.py:458-474 edited-result sink as
  * a real table write, not a query-shaped view). The merge must touch
  * only the partitions the updates name. Its writes set file modes in the
  * JVM: the same files and modes as a plain Spark write, no forked process.
  */
class TableFormatSpec extends SparkTestBase {

  import spark.implicits._

  private def base = Seq(
    ("u1", "2025-01-01", "alpha"),
    ("u2", "2025-01-01", "beta"),
    ("u3", "2025-01-02", "gamma"),
    ("u4", "2025-01-03", "delta")
  ).toDF("url", "p_day", "text")

  test("overwritePartitions replaces exactly the named partitions") {
    val t = tmpDir("tf_base") + "/t"
    ParquetFormat.overwritePartitions(base, t, "p_day")
    // rewrite day 1 with one row; days 2/3 must survive
    val day1 = Seq(("u9", "2025-01-01", "nine")).toDF("url", "p_day", "text")
    ParquetFormat.overwritePartitions(day1, t, "p_day")
    val got = ParquetFormat.read(spark, t)
      .select($"url", $"p_day".cast("string"), $"text").as[(String, String, String)]
      .collect().sortBy(_._1)
    assert(got.toSeq === Seq(("u3", "2025-01-02", "gamma"),
      ("u4", "2025-01-03", "delta"), ("u9", "2025-01-01", "nine")))
  }

  test("overwritePartitions writes one file per partition value from a scattered input") {
    val t = tmpDir("tf_cluster") + "/t"
    // 8 input partitions, each holding rows of all three days
    val rows = (0 until 240).map(i => (s"u$i", s"2025-01-0${i % 3 + 1}", s"text $i"))
      .toDF("url", "p_day", "text").repartition(8)
    assert(rows.rdd.getNumPartitions == 8)
    ParquetFormat.overwritePartitions(rows, t, "p_day")
    val files = new java.io.File(t).listFiles().filter(_.getName.startsWith("p_day="))
      .map(d => d.getName -> d.listFiles().count(_.getName.startsWith("part-"))).toMap
    assert(files == (1 to 3).map(d => s"p_day=2025-01-0$d" -> 1).toMap, files)
    assert(ParquetFormat.read(spark, t).count() == 240)
  }

  test("merge schema evolution: new column back-fills null, missing column preserved") {
    val t = tmpDir("tf_evolve") + "/t"
    ParquetFormat.overwritePartitions(base, t, "p_day")
    // updates ADD a column (score) and OMIT one (text): add-column
    // evolution must back-fill null on untouched rows; the omitted
    // column must keep its table values instead of being dropped
    val updates = Seq(
      ("u1", "2025-01-01", 7L) // matched: score set, text preserved
    ).toDF("url", "p_day", "score")
    ParquetFormat.merge(spark, t, updates, "url", "p_day")
    val got = ParquetFormat.read(spark, t)
      .select($"url", $"text", $"score")
      .collect().map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1)
    assert(got.toSeq === Seq(
      ("u1", "alpha", 7L), // text survived the narrower update
      ("u2", "beta", -1L), // same partition rewritten: score null
      ("u3", "gamma", -1L), // untouched partition: null via parquet union
      ("u4", "delta", -1L)))
  }

  test("merge updates matched keys, inserts new ones, leaves other partitions alone") {
    val t = tmpDir("tf_merge") + "/t"
    ParquetFormat.overwritePartitions(base, t, "p_day")
    val updates = Seq(
      ("u2", "2025-01-01", "beta-EDITED"), // matched: update
      ("u7", "2025-01-01", "new-row") // unmatched: insert
    ).toDF("url", "p_day", "text")
    ParquetFormat.merge(spark, t, updates, "url", "p_day")
    val got = ParquetFormat.read(spark, t)
      .select($"url", $"p_day".cast("string"), $"text").as[(String, String, String)]
      .collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      ("u1", "2025-01-01", "alpha"),
      ("u2", "2025-01-01", "beta-EDITED"),
      ("u3", "2025-01-02", "gamma"),
      ("u4", "2025-01-03", "delta"),
      ("u7", "2025-01-01", "new-row")))
  }

  test("merge relocates a key whose partition value changed (no stale twin)") {
    val t = tmpDir("tf_move") + "/t"
    ParquetFormat.overwritePartitions(base, t, "p_day")
    // u3 moves from 2025-01-02 to 2025-01-05; 01-02 had only u3 → dir must go
    val updates = Seq(("u3", "2025-01-05", "gamma-moved")).toDF("url", "p_day", "text")
    ParquetFormat.merge(spark, t, updates, "url", "p_day")
    val got = ParquetFormat.read(spark, t)
      .select($"url", $"p_day".cast("string"), $"text").as[(String, String, String)]
      .collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      ("u1", "2025-01-01", "alpha"),
      ("u2", "2025-01-01", "beta"),
      ("u3", "2025-01-05", "gamma-moved"),
      ("u4", "2025-01-03", "delta")))
    assert(!new java.io.File(s"$t/p_day=2025-01-02").exists())
  }

  test("merge into an empty table is a plain write") {
    val t = tmpDir("tf_empty") + "/t"
    ParquetFormat.merge(spark, t, base, "url", "p_day")
    assert(ParquetFormat.read(spark, t).count() === 4)
  }

  test("merge is idempotent (re-applying the same updates is a no-op)") {
    val t = tmpDir("tf_idem") + "/t"
    ParquetFormat.overwritePartitions(base, t, "p_day")
    val updates = Seq(("u2", "2025-01-01", "edit")).toDF("url", "p_day", "text")
    ParquetFormat.merge(spark, t, updates, "url", "p_day")
    val once = ParquetFormat.read(spark, t).orderBy("url")
      .select($"url", $"text").as[(String, String)].collect().toSeq
    ParquetFormat.merge(spark, t, updates, "url", "p_day")
    val twice = ParquetFormat.read(spark, t).orderBy("url")
      .select($"url", $"text").as[(String, String)].collect().toSeq
    assert(once === twice)
  }

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS))

  /** Every path under `root` (itself as "") with its POSIX mode; the
    * task and job ids in part-file names are masked.
    */
  private def layout(root: String): Set[(String, String)] = {
    val r = Paths.get(root)
    val walk = Files.walk(r)
    try walk.iterator().asScala.map { p =>
      r.relativize(p).toString.replaceAll("part-\\d+-[0-9a-f-]+", "part-*") -> mode(p)
    }.toSet
    finally walk.close()
  }

  /** `body`'s result and the commands of the processes the JVM started
    * while it ran.
    */
  private def processStarts[A](body: => A): (A, Seq[String]) = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val a = try body finally rec.stop()
      val f = Files.createTempFile("graft-forks", ".jfr")
      try {
        rec.dump(f)
        (a, RecordingFile.readAllEvents(f).asScala.map(_.getString("command")).toSeq)
      } finally Files.delete(f)
    } finally rec.close()
  }

  /** The table write with Spark's default file system: one file per day,
    * dynamic overwrite (which commits through a staging dir, so no
    * `_SUCCESS` is left at the root).
    */
  private def plainWrite(df: DataFrame, table: String): Unit =
    df.coalesce(1).write.partitionBy("p_day").option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite).parquet(table)

  test("setPermission sets explicit modes in the JVM; a sticky bit keeps Hadoop's path") {
    val fs = new JvmModeLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    val root = Paths.get(tmpDir("tf_modes"))
    val file = Files.createFile(root.resolve("f"))
    val dir = Files.createDirectory(root.resolve("d"))
    val sticky = Files.createDirectory(root.resolve("s"))
    def set(p: java.nio.file.Path, bits: Int): Unit =
      fs.setPermission(new Path(p.toUri), new FsPermission(bits.toShort))
    set(file, Integer.parseInt("640", 8))
    set(dir, Integer.parseInt("700", 8))
    set(sticky, Integer.parseInt("1777", 8))
    assert(mode(file) == "rw-r-----")
    assert(mode(dir) == "rwx------")
    val unixMode = Files.getAttribute(sticky, "unix:mode").asInstanceOf[Int]
    assert((unixMode & Integer.parseInt("7777", 8)) == Integer.parseInt("1777", 8),
      Integer.toOctalString(unixMode))
  }

  test("overwritePartitions, merge and compact leave a plain Spark write's files and modes") {
    val dir = tmpDir("tf_parity")
    // overwritePartitions: one file per day, as the coalesced plain write
    ParquetFormat.overwritePartitions(base, s"$dir/ow", "p_day")
    plainWrite(base, s"$dir/ow_plain")
    assert(layout(s"$dir/ow") == layout(s"$dir/ow_plain"))
    assert(layout(s"$dir/ow").exists(_._1.endsWith(".parquet.crc")))

    // merge: rewrites day 1 in place, the other days keep their files
    val updates = Seq(("u2", "2025-01-01", "edit")).toDF("url", "p_day", "text")
    ParquetFormat.merge(spark, s"$dir/ow", updates, "url", "p_day")
    val merged = ParquetFormat.read(spark, s"$dir/ow")
      .withColumn("p_day", col("p_day").cast("string"))
    plainWrite(merged.localCheckpoint(true), s"$dir/merge_plain")
    assert(layout(s"$dir/ow") == layout(s"$dir/merge_plain"))

    // compact: four files per day, each day rewritten into one; the
    // control does the same rewrite with a plain write
    val scattered = (0 until 40).map(i => (s"u$i", s"2025-01-0${i % 2 + 1}", s"t$i"))
      .toDF("url", "p_day", "text").repartition(4)
    Seq("cp", "cp_plain").foreach { t =>
      scattered.write.partitionBy("p_day").parquet(s"$dir/$t")
    }
    assert(ParquetFormat.compact(spark, s"$dir/cp", "p_day", 1L << 30).partitionsRewritten == 2)
    new java.io.File(s"$dir/cp_plain").listFiles().filter(_.getName.startsWith("p_day="))
      .foreach { d =>
        spark.read.parquet(d.getPath).repartition(1).localCheckpoint(true)
          .write.mode(SaveMode.Overwrite).parquet(d.getPath)
      }
    assert(layout(s"$dir/cp") == layout(s"$dir/cp_plain"))
  }

  test("ExtractJob.run starts no process; a plain partitioned write does") {
    val pages = PagesGen.corpus(120, seed = 31L).map(_.row).toDS().toDF().cache()
    assert(pages.count() == 120)
    val dir = tmpDir("tf_forks")
    val (_, plain) = processStarts {
      pages.withColumn("p_day", date_format(col("warc_ts"), "yyyy-MM-dd"))
        .write.partitionBy("p_day").parquet(s"$dir/plain")
    }
    if (plain.isEmpty)
      cancel("a plain local write started no process (native Hadoop present): nothing to compare")
    val (r, job) = processStarts(ExtractJob.run(spark, pages, s"$dir/out", s"$dir/ledger"))
    assert(r.daysProcessed.size > 1)
    assert(job.isEmpty, job.mkString("\n"))
    pages.unpersist()
  }
}
