package graft

import graft.pipeline.ParquetFormat
import org.apache.spark.sql.functions._

/** The TableFormat seam: idempotent partition replace and the keyed
  * copy-on-write MERGE writer (the api.py:458-474 edited-result sink as
  * a real table write, not a query-shaped view). The merge must touch
  * only the partitions the updates name.
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
}
