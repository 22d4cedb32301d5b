package graft
import graft.pipeline.ParquetFormat
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. The dumps write
  * with `ParquetFormat.writeOptions`, so they set file modes without
  * forking a `chmod` per directory, part file and `.crc` sidecar. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(s"local[$cpus]", "graft-verify", shufflePartitions = Some(cpus.toInt),
      ui = Some(false), logLevel = Some("WARN"))
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (NOT used by the driver): comma-separated
    // exact query names; unset = run everything.
    val only = sys.env.get("GRAFT_VERIFY_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // a failed query does not stop the run (the rest still dump, and
    // oracle_sql.json is still written), but it does fail it at the end
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.options(ParquetFormat.writeOptions)
          .mode("overwrite").parquet(s"$outDir/$name.parquet")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // DRIVER CONTRACT (round-1 postmortem): the driver keys its oracle
    // lookup by the parquet dump's *filename* ("q_foo.parquet"), while the
    // natural key here is the bare query name ("q_foo"). Round 1 emitted
    // only bare keys -> 0/73 key overlap -> every query recorded
    // err:"no_oracle". Emit every oracle under BOTH keys so either join works.
    val json = new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(
      SparkEntry.oracleSql.flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }.asJava)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Loud orphan check: every dump dir in outDir must have an oracle
    // entry under its filename key. A registry entry always carries its
    // oracle, so an orphan is a stale dump left in a reused outDir — it
    // would silently zero the correctness record, so fail the run.
    val dumped = new java.io.File(outDir).listFiles()
      .filter(f => f.isDirectory && f.getName.endsWith(".parquet")).map(_.getName)
    val orphans = dumped.filterNot(d =>
      SparkEntry.oracleSql.contains(d.stripSuffix(".parquet")))
    if (orphans.nonEmpty && only.isEmpty) {
      System.err.println(s"[verify] FATAL: dumps without oracle entry: ${orphans.mkString(", ")}")
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] FATAL: failed queries: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
