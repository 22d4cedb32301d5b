package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Atomic manifest ledger: commit semantics for checkpointed resume
  * (SURVEY.md §7.3). No Iceberg runtime jar is available offline, so the
  * snapshot-commit semantics are realized as partitioned Parquet plus a
  * `_ledger/` directory of per-partition commit files written via
  * temp-file + atomic rename AFTER the partition's output is fully
  * written — the same move-after-success contract as the reference's
  * archive step (api.py:63-82, background task api.py:455).
  *
  * The ledger rows double as per-partition lineage + metrics (north rule):
  * each carries row/char/error counts and wall time.
  *
  * Driver-side plain-JVM I/O; the partition key space is small (days), so
  * this never becomes a scaling bottleneck at 10^12 rows.
  */
object Ledger {

  final case class Entry(
      partition: String, // e.g. "p_day=2025-01-07"
      rows: Long,
      chars: Long,
      errors: Long,
      wallMs: Long,
      committedAtMs: Long,
      snapshot: Long = 0L) // monotonically increasing commit id; 0 = auto-assign

  private def enc(partition: String): String =
    java.net.URLEncoder.encode(partition, "UTF-8")

  private def ledgerPath(dir: String): Path = Paths.get(dir)

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  def committed(dir: String): Map[String, Entry] = {
    val p = ledgerPath(dir)
    if (!Files.isDirectory(p)) Map.empty
    else
      Files.list(p).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".json"))
        .flatMap(f => parse(new String(Files.readAllBytes(f), UTF_8)))
        .map(e => e.partition -> e)
        .toMap
  }

  /** Highest snapshot id committed so far (0 = empty ledger) — the
    * Iceberg `currentSnapshot().snapshotId()` analog, the value a caller
    * records to later ask for "rows since" via TableFormat.readSince.
    *
    * Snapshot assignment is a read-max-then-write and therefore a
    * SINGLE-DRIVER commit point (like the rest of this driver-side
    * ledger): two uncoordinated committers could mint the same id and an
    * incremental reader would then skip one of them. Concurrent writers
    * need the real table format's conditional commit (Iceberg CAS on the
    * metadata pointer) — exactly the seam TableFormat exists to swap in.
    */
  def currentSnapshot(dir: String): Long =
    committed(dir).values.map(_.snapshot).maxOption.getOrElse(0L)

  def commit(dir: String, e0: Entry): Unit = {
    val p = ledgerPath(dir)
    Files.createDirectories(p)
    // snapshot 0 = auto-assign the next id (single-driver commit point,
    // like Iceberg's sequence numbers)
    val e = if (e0.snapshot != 0L) e0
      else e0.copy(snapshot = currentSnapshot(dir) + 1L)
    val json = Json.createObjectNode().put("partition", e.partition).put("rows", e.rows)
      .put("chars", e.chars).put("errors", e.errors).put("wall_ms", e.wallMs)
      .put("committed_at_ms", e.committedAtMs).put("snapshot", e.snapshot)
    val tmp = p.resolve(s".tmp-${enc(e.partition)}-${Thread.currentThread().getId}")
    Files.write(tmp, Json.writeValueAsBytes(json))
    // atomic rename = the commit point (move-after-success)
    Files.move(tmp, p.resolve(s"${enc(e.partition)}.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def drop(dir: String, partition: String): Unit = {
    val f = ledgerPath(dir).resolve(s"${enc(partition)}.json")
    Files.deleteIfExists(f)
    ()
  }

  /** One ledger file back to its entry; None when it is not a ledger
    * object (no string `partition` or integral `rows`).
    */
  private[pipeline] def parse(json: String): Option[Entry] =
    try {
      val n = Json.readTree(json)
      def num(k: String): Option[Long] =
        Option(n.get(k)).filter(_.isIntegralNumber).map(_.asLong)
      for {
        p <- Option(n.get("partition")).filter(_.isTextual).map(_.asText)
        r <- num("rows")
      } yield Entry(p, r, num("chars").getOrElse(0L), num("errors").getOrElse(0L),
        num("wall_ms").getOrElse(0L), num("committed_at_ms").getOrElse(0L),
        // entries written before snapshot ids existed parse as snapshot 1,
        // not 0: readSince(0) ("everything") must still include them
        num("snapshot").getOrElse(1L))
    } catch { case NonFatal(_) => None }
}
