package graft

import graft.model.PageRow
import graft.pipeline.{ExtractJob, Ledger, ParquetFormat}
import java.sql.Timestamp

/** Incremental snapshot-diff read (r2 verdict item 10): record the
  * ledger snapshot after a run, append, and read only the delta — the
  * Iceberg `start-snapshot-id` analog over the parquet TableFormat.
  */
class SnapshotDiffSpec extends SparkTestBase {
  import spark.implicits._

  private def page(url: String, dayMs: Long): PageRow =
    PageRow(url, new Timestamp(dayMs), Array.emptyByteArray, s"text of $url", "en")

  private val Day1 = 1736208000000L // 2025-01-07
  private val Day2 = Day1 + 86400000L
  private val Day3 = Day2 + 86400000L

  test("readSince returns exactly the partitions committed after the snapshot") {
    val out = tmpDir("snapdiff_out")
    val ledger = tmpDir("snapdiff_ledger")
    val first = Seq(page("u://a1", Day1), page("u://a2", Day1), page("u://b1", Day2))
    ExtractJob.run(spark, first.toDS().toDF(), out, ledger)
    val s1 = Ledger.currentSnapshot(ledger)
    assert(s1 >= 1L)

    // nothing new since s1
    assert(ParquetFormat.readSince(spark, out, ledger, s1).count() === 0L)
    // everything since 0
    assert(ParquetFormat.readSince(spark, out, ledger, 0L).count() === 3L)

    // append a third day; committed days are resume-skipped as before
    val second = first :+ page("u://c1", Day3)
    val r2 = ExtractJob.run(spark, second.toDS().toDF(), out, ledger)
    assert(r2.daysSkipped === 2)

    val delta = ParquetFormat.readSince(spark, out, ledger, s1)
    assert(delta.select("url").collect().map(_.getString(0)).toSet === Set("u://c1"))
    // full read unchanged: all four docs present
    assert(ParquetFormat.read(spark, out).count() === 4L)
    // and the snapshot advanced
    assert(Ledger.currentSnapshot(ledger) > s1)
  }

  test("readAt returns the table as of a snapshot; later partitions excluded") {
    val out = tmpDir("snapat_out")
    val ledger = tmpDir("snapat_ledger")
    val first = Seq(page("u://a1", Day1), page("u://a2", Day1), page("u://b1", Day2))
    ExtractJob.run(spark, first.toDS().toDF(), out, ledger)
    val s1 = Ledger.currentSnapshot(ledger)

    ExtractJob.run(spark, (first :+ page("u://c1", Day3)).toDS().toDF(), out, ledger)

    // as of s1: only the first two days; as of now: everything; as of 0: nothing
    val atS1 = ParquetFormat.readAt(spark, out, ledger, s1)
      .select("url").collect().map(_.getString(0)).toSet
    assert(atS1 === Set("u://a1", "u://a2", "u://b1"))
    assert(ParquetFormat.readAt(spark, out, ledger,
      Ledger.currentSnapshot(ledger)).count() === 4L)
    assert(ParquetFormat.readAt(spark, out, ledger, 0L).count() === 0L)
    // readAt(s) ∪ readSince(s) == read: the triple partitions the table
    assert(ParquetFormat.readSince(spark, out, ledger, s1).count() +
      ParquetFormat.readAt(spark, out, ledger, s1).count() ===
      ParquetFormat.read(spark, out).count())
  }

  test("pre-snapshot ledger entries parse as snapshot 1 (readSince(0) still sees them)") {
    val ledger = tmpDir("snapdiff_legacy")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ledger))
    // a round-2-era entry: no snapshot field at all
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$ledger/p_day%3D2025-01-01.json"),
      """{"partition":"p_day=2025-01-01","rows":3,"chars":9,"errors":0,"wall_ms":1,"committed_at_ms":2}""")
    val e = Ledger.committed(ledger)("p_day=2025-01-01")
    assert(e.snapshot === 1L)
    assert(Ledger.currentSnapshot(ledger) === 1L)
  }

  test("pre-snapshot ledger entries without counters read them as 0") {
    val ledger = tmpDir("snapdiff_bare")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ledger))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$ledger/p_day%3D2025-01-02.json"),
      """{"partition":"p_day=2025-01-02","rows":4}""")
    assert(Ledger.committed(ledger) ===
      Map("p_day=2025-01-02" -> Ledger.Entry("p_day=2025-01-02", 4, 0, 0, 0, 0, 1)))
  }

  test("a partition with control, quote and backslash characters survives commit and read") {
    val ledger = tmpDir("snapdiff_escape")
    val part = "k=a\u0001b\"c\\d"
    val e = Ledger.Entry(part, 1, 2, 3, 4, 5, 6)
    Ledger.commit(ledger, e)
    assert(Ledger.committed(ledger) === Map(part -> e))
  }

  test("readSince ORs across different partition columns") {
    val out = tmpDir("snapdiff_or_out")
    val ledger = tmpDir("snapdiff_or_ledger")
    import org.apache.spark.sql.SaveMode
    Seq((1L, "2025-01-01", "en"), (2L, "2025-01-02", "fr"))
      .toDF("id", "p_day", "lang")
      .write.partitionBy("p_day").mode(SaveMode.Overwrite).parquet(out)
    // two newer entries keyed by DIFFERENT partition columns: the diff
    // must be the union of both partitions, not their intersection
    Ledger.commit(ledger, Ledger.Entry("p_day=2025-01-01", 1, 1, 0, 0, 0, 5))
    Ledger.commit(ledger, Ledger.Entry("lang=fr", 1, 1, 0, 0, 0, 6))
    val got = ParquetFormat.readSince(spark, out, ledger, 4L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 2L))
  }

  test("snapshot ids are monotonic and survive the ledger round-trip") {
    val ledger = tmpDir("snapdiff_mono")
    Ledger.commit(ledger, Ledger.Entry("p_day=2025-01-01", 1, 1, 0, 0, 0))
    Ledger.commit(ledger, Ledger.Entry("p_day=2025-01-02", 1, 1, 0, 0, 0))
    val m = Ledger.committed(ledger)
    assert(m("p_day=2025-01-01").snapshot === 1L)
    assert(m("p_day=2025-01-02").snapshot === 2L)
    // a re-commit of the same partition takes a NEW snapshot id (the
    // partition was rewritten — it must reappear in incremental reads)
    Ledger.commit(ledger, Ledger.Entry("p_day=2025-01-01", 2, 2, 0, 0, 0))
    assert(Ledger.committed(ledger)("p_day=2025-01-01").snapshot === 3L)
    assert(Ledger.currentSnapshot(ledger) === 3L)
  }
}
