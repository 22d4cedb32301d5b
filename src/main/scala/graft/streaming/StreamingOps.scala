package graft.streaming

import graft.Gated
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming variant of the pipeline (SURVEY §2.9): the
  * reference's infinite poll worker (endpoint_upload.py:1282-1301, 5 s
  * interval) becomes `readStream` over the pages table processed with
  * `Trigger.AvailableNow` — same kernel, same plan, incremental source.
  * The batch-with-resume ledger (ExtractJob) stays the primary shape; this
  * is the streaming entry for continuously-landing crawl data.
  */
object StreamingOps {

  /** Stage one micro-batch increment: write `df` as a single parquet
    * file `name.parquet` under `destDir` (scratch under `stageRoot`),
    * and pin its mtime — the file source picks oldest-mtime first. One
    * shared implementation for every streaming probe; directory streams
    * are CLOSED (a leaked `Files.list` handle per staged file adds up
    * across a full-registry run).
    */
  private def stageSliceFile(df: DataFrame, stageRoot: Path,
      destDir: Path, name: String, mtimeMs: Long): Unit = {
    val tmp = stageRoot.resolve(s"tmp_$name")
    df.coalesce(1).write.parquet(tmp.toString)
    def withList[T](d: Path)(f: java.util.stream.Stream[Path] => T): T = {
      val st = Files.list(d)
      try f(st) finally st.close()
    }
    val part = withList(tmp)(_.filter(_.toString.endsWith(".parquet")).findFirst().get())
    val dest = destDir.resolve(s"$name.parquet")
    Files.move(part, dest)
    withList(tmp)(_.forEach(Files.deleteIfExists(_)))
    Files.deleteIfExists(tmp)
    Files.setLastModifiedTime(dest, java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
  }

  /** Recursive temp-tree delete for the scratch a probe creates: a
    * streaming replay's staging and checkpoints, `extractJobLedger`'s
    * table and ledger (deleteIfExists on a non-empty directory is
    * a silent no-op — the checkpoint/table trees would otherwise pile up
    * in the JVM tmpdir across full-registry runs).
    */
  private[graft] def rmTree(p: Path): Unit = {
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(Files.deleteIfExists(_))
      finally st.close()
    }
  }

  /** One staged replay of finite tables as file streams — the harness
    * behind every oracle-gated `q_stream_*` run. All of a run's files
    * (staged slices, sink checkpoints, scratch tables) live under one
    * scratch dir that [[replay]] deletes when the run ends.
    */
  private final class Replay(spark: SparkSession, val scratch: Path) {

    /** Stage `slices` under `scratch/name`, one parquet file per slice
      * with increasing mtimes, and open them as a file stream that takes
      * ONE file per trigger (oldest mtime first): micro-batch k sees
      * exactly slice k. The stream schema is the slices' own.
      */
    def source(name: String, slices: Seq[DataFrame]): DataFrame = {
      val dir = Files.createDirectory(scratch.resolve(name))
      val base = System.currentTimeMillis() - 3600 * 1000L
      slices.zipWithIndex.foreach { case (df, i) =>
        stageSliceFile(df, scratch, dir, f"$name-$i%03d", base + i * 10000L)
      }
      spark.readStream.schema(slices.head.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir.toString)
    }

    /** Drive `ds` into a memory sink with `Trigger.AvailableNow` until
      * its staged input is drained. The rows come back detached
      * (`localCheckpoint`) and the sink's view is dropped, so nothing of
      * the run stays registered or on the driver heap; the finished query
      * is returned for its progress metrics.
      */
    def run(ds: Dataset[_], outputMode: String): (DataFrame, StreamingQuery) = {
      val name = s"stream_${System.nanoTime()}"
      val q = ds.writeStream.format("memory").queryName(name)
        .outputMode(outputMode)
        .option("checkpointLocation", scratch.resolve(s"ckpt_$name").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination()
        (spark.table(name).localCheckpoint(true), q)
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
      }
    }
  }

  private def replay(spark: SparkSession)(body: Replay => DataFrame): DataFrame = {
    val scratch = Files.createTempDirectory("stream_replay")
    try body(new Replay(spark, scratch)) finally rmTree(scratch)
  }

  /** Min and max of `df`'s `ts_us` column. */
  private def tsBounds(df: DataFrame): (Long, Long) = {
    val r = df.agg(min(col("ts_us")), max(col("ts_us"))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** `df` cut into `n` STRICT time slices on `ts_us` (every row of slice
    * k+1 is ≥ every row of slice k), plus the max `ts_us` that sentinel
    * slices are placed after.
    */
  private def timeSlices(df: DataFrame, n: Int): (Seq[DataFrame], Long) = {
    val (minUs, maxUs) = tsBounds(df)
    val spanUs = math.max(1L, (maxUs - minUs) / n + 1)
    val slices = (0 until n).map { i =>
      val lo = minUs + i * spanUs
      val hi = if (i == n - 1) Long.MaxValue else lo + spanUs
      df.filter(col("ts_us") >= lo && col("ts_us") < hi)
    }
    (slices, maxUs)
  }

  /** File-source stream of pages (Iceberg-snapshot stand-in: each new file
    * under `dir` is an increment).
    */
  def pagesStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(Encoders.product[graft.model.PageRow].schema)
      .option("maxFilesPerTrigger", "4") // bounded micro-batches
      .parquet(dir)

  // ------------------------------------------- custom state: streaming dedup

  final case class PageKeyed(host: String, url: String, fp: String)
  final case class FirstSeen(host: String, url: String, fp: String)

  /** Streaming first-seen dedup with explicit state
    * (`flatMapGroupsWithState`): keyed by host, state = set of content
    * fingerprints already emitted for that host; duplicates within and
    * across micro-batches are suppressed.
    *
    * `stateTtl` (e.g. Some("1 hour")) enables ProcessingTimeTimeout
    * eviction of idle hosts — the knob that bounds total state to the
    * active-host working set when the key space is the whole crawl's host
    * list. NOTE a TTL forces the engine to keep firing empty micro-batches
    * to evaluate timeouts, so it belongs with a real processing-time
    * trigger in a long-lived job; for AvailableNow / test runs pass None
    * (NoTimeout) or the query never drains.
    */
  def firstSeenByHost(spark: SparkSession, pages: DataFrame,
      stateTtl: Option[String] = None): Dataset[FirstSeen] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val keyed = pages
      .selectExpr(
        "regexp_extract(url, '^[a-z]+://([^/]+)', 1) as host",
        "url",
        "md5(coalesce(cast(html as string), text, '')) as fp")
      .as[PageKeyed]
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    keyed
      .groupByKey(_.host)
      .flatMapGroupsWithState[Set[String], FirstSeen](
        OutputMode.Append, timeoutConf) {
        (host: String, rows: Iterator[PageKeyed], state: GroupState[Set[String]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var seen = state.getOption.getOrElse(Set.empty[String])
            val out = Seq.newBuilder[FirstSeen]
            rows.foreach { r =>
              if (!seen.contains(r.fp)) {
                seen += r.fp
                out += FirstSeen(host, r.url, r.fp)
              }
            }
            state.update(seen)
            stateTtl.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
      }
  }

  /** Built-in watermarked url dedup — the Catalyst-native alternative to
    * [[firstSeenByHost]] when the dedup key is the row key itself:
    * re-crawls of a url arriving within the watermark horizon are
    * suppressed, and per-key state evicts automatically once the
    * watermark passes (bounded state without a custom TTL). Custom state
    * remains the tool when the key (host) and the dedup criterion
    * (content fingerprint set) differ.
    */
  def dedupUrlWithinWatermark(pages: DataFrame, delay: String = "1 hour"): DataFrame =
    pages
      .withWatermark("warc_ts", delay)
      .dropDuplicatesWithinWatermark("url")

  /** Event-time tumbling-window rollup with a watermark: docs per hour per
    * kind — the monitoring aggregation a crawl pipeline runs beside the
    * extraction sink. Late pages beyond 2 hours are dropped by watermark.
    */
  def hourlyDocCounts(extracted: DataFrame): DataFrame =
    extracted
      .withWatermark("warc_ts", "2 hours")
      .groupBy(window(col("warc_ts"), "1 hour"), col("doc_kind"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("window.start").as("window_start"), col("doc_kind"),
        col("n_docs"), col("sum_chars"))

  /** ORACLE-GATED streaming run (not a batch analog): a real
    * `readStream → event-time window agg → memory sink` query driven to
    * completion with `Trigger.AvailableNow` (complete output mode, so
    * every window is finalized when the source drains), whose RESULT the
    * driver's DuckDB compare then grades like any batch query. Proves the
    * incremental engine computes the same answer as the batch plan on the
    * same input — the Iceberg-snapshot tailing story end-to-end.
    */
  def streamHourlyEvents(spark: SparkSession, dir: String): DataFrame = replay(spark) { rp =>
    // the testdata table is a single read-only FILE; the file-stream
    // source monitors a DIRECTORY (each new file = one increment), so
    // stage the table as one slice — the same landing-dir shape a
    // continuously-written crawl table has
    val agg = rp.source("events", Seq(spark.read.parquet(s"$dir/events.parquet")))
      .groupBy(window(col("ts").cast("timestamp"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
    rp.run(agg, "complete")._1
      .selectExpr("unix_micros(window.start) as window_us", "event_type", "n", "sum_value")
  }

  val streamHourlyEventsSql: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS window_us, event_type,
      |  CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY date_trunc('hour', ts), event_type""".stripMargin

  // -------------------------------------- oracle-gated streaming sessions

  final case class EventIn(user_id: Long, event_id: Long, ts_us: Long,
      ets: java.sql.Timestamp)
  final case class SessRow(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long)
  final case class SessState(start_us: Long, last_us: Long, n: Long)

  private val SessGapUs = 1800L * 1000000L // 30 min, same rule as q_sessionize

  /** ORACLE-GATED streaming sessionization: a real multi-micro-batch
    * `flatMapGroupsWithState` run with EventTimeTimeout. The events table
    * is staged as STRICT time slices (file k+1's events all ≥ file k's max
    * ts) picked up oldest-first one file per trigger, so the 0-delay
    * watermark after batch k lower-bounds everything still in flight —
    * which makes timeout-closed sessions exactly match batch
    * gaps-and-islands semantics. A sentinel increment (user_id −1, far
    * future) advances the final watermark past every open session's gap,
    * flushing them — the standard "advance the watermark to drain state"
    * move for a finite replay of an infinite stream. Emission is
    * per-SESSION (Append mode): a session row leaves the operator exactly
    * once, when a later event opens the next session or when its
    * event-time timeout fires.
    */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame = replay(spark) { rp =>
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("cast(user_id as long) as user_id",
        "cast(event_id as long) as event_id",
        "unix_micros(cast(ts as timestamp)) as ts_us",
        "cast(ts as timestamp) as ets")
    val (slices, maxUs) = timeSlices(ev, 4)
    // watermark-advancing sentinel, filtered back out of the result
    val sentinel = spark.range(1).selectExpr("-1L as user_id", "-1L as event_id",
      s"${maxUs + 30L * 86400 * 1000000} as ts_us",
      s"timestamp_micros(${maxUs + 30L * 86400 * 1000000}) as ets")
    val sessions = rp.source("events", slices :+ sentinel)
      .withWatermark("ets", "0 seconds")
      .as[EventIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[EventIn], st: GroupState[SessState]) =>
          if (st.hasTimedOut) {
            val s = st.get
            st.remove()
            Iterator.single(SessRow(uid, s.start_us, s.last_us, s.n))
          } else {
            val evs = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
            val out = Seq.newBuilder[SessRow]
            var cur = st.getOption.orNull
            evs.foreach { e =>
              if (cur == null) cur = SessState(e.ts_us, e.ts_us, 1L)
              else if (e.ts_us - cur.last_us > SessGapUs) {
                out += SessRow(uid, cur.start_us, cur.last_us, cur.n)
                cur = SessState(e.ts_us, e.ts_us, 1L)
              } else cur = SessState(cur.start_us, e.ts_us, cur.n + 1L)
            }
            st.update(cur)
            // +1 ms covers the micro→milli flooring of the event clock
            st.setTimeoutTimestamp(cur.last_us / 1000 + SessGapUs / 1000 + 1)
            out.result().iterator
          }
      }
    rp.run(sessions, "append")._1.filter(col("user_id") >= 0)
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
  }

  val streamSessionizeSql: String =
    """WITH g AS (SELECT user_id, ts, event_id,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |m AS (SELECT user_id, ts, event_id,
      |    CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
      |      THEN 1 ELSE 0 END AS is_new
      |  FROM g),
      |s AS (SELECT user_id, ts,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess
      |  FROM m)
      |SELECT CAST(user_id AS BIGINT) AS user_id,
      |  epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM s GROUP BY user_id, sess""".stripMargin

  // --------------------------------- oracle-gated streaming politeness

  final case class FetchIn(host_id: Long, event_id: Long, ts_us: Long,
      ets: java.sql.Timestamp)
  final case class SlotRow(host_id: Long, event_id: Long, slot: Long,
      sched_us: Long)
  /** n = requests admitted so far; m = running max of (ts_us - slot*D),
    * which closes the politeness recurrence (see below).
    */
  final case class HostState(n: Long, m: Long)

  private val PoliteDelayUs = 2000000L // 2 s per-host crawl delay

  /** ORACLE-GATED streaming politeness scheduler: fetch requests stream
    * in; each host's requests are admitted in event-time order with at
    * least `PoliteDelayUs` between scheduled fetches — sched(i) =
    * max(ts_i, sched(i-1) + D). That recurrence looks stateful-only,
    * but closes: sched(i) = i*D + max_{j≤i}(ts_j − j*D), so the
    * per-host state is just (count, running max) — constant size, the
    * shape a real frontier keeps per host forever — and the DuckDB
    * oracle is a plain running-max window, no recursion. Multi-micro-
    * batch by strict time-sliced staging (one file per trigger, as
    * [[streamSessionize]]); no timeout/sentinel needed since every
    * request emits its schedule immediately.
    */
  def streamHostSlots(spark: SparkSession, dir: String): DataFrame = replay(spark) { rp =>
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("cast(user_id % 8 as long) as host_id",
        "cast(event_id as long) as event_id",
        "unix_micros(cast(ts as timestamp)) as ts_us",
        "cast(ts as timestamp) as ets")
    val slots = rp.source("events", timeSlices(ev, 4)._1)
      .as[FetchIn]
      .groupByKey(_.host_id)
      .flatMapGroupsWithState[HostState, SlotRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (h: Long, rows: Iterator[FetchIn], st: GroupState[HostState]) =>
          val evs = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
          var s = st.getOption.getOrElse(HostState(0L, Long.MinValue))
          val out = evs.map { e =>
            val m2 = math.max(s.m, e.ts_us - s.n * PoliteDelayUs)
            val r = SlotRow(h, e.event_id, s.n, s.n * PoliteDelayUs + m2)
            s = HostState(s.n + 1, m2)
            r
          }
          st.update(s)
          out.iterator
      }
    rp.run(slots, "append")._1
      .select(col("host_id"), col("event_id"), col("slot"), col("sched_us"))
  }

  val streamHostSlotsSql: String =
    s"""WITH e AS (SELECT CAST(user_id % 8 AS BIGINT) AS host_id,
      |    CAST(event_id AS BIGINT) AS event_id, epoch_us(ts) AS ts_us,
      |    row_number() OVER (PARTITION BY user_id % 8 ORDER BY ts, event_id) - 1 AS rk
      |  FROM events)
      |SELECT host_id, event_id, CAST(rk AS BIGINT) AS slot,
      |  CAST(rk * $PoliteDelayUs + max(ts_us - rk * $PoliteDelayUs)
      |         OVER (PARTITION BY host_id ORDER BY rk
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS sched_us
      |FROM e""".stripMargin

  /** ORACLE-GATED streaming dedup: a real multi-micro-batch
    * `dropDuplicates` run — the frontier's "have I seen this key"
    * stage as a stream. The events table is staged as 4 strict time
    * slices picked up one file per trigger, so duplicate keys arrive
    * across DIFFERENT micro-batches and only cross-batch state can
    * drop them; the memory sink (Append) then holds exactly one row
    * per key over the whole run. Only the KEY columns are projected —
    * which physical row survives a within-batch tie is engine's
    * choice, the key set is not — so the DuckDB compare grades the
    * deduped set exactly. Unbounded key state is the honest choice for
    * a finite replay (the watermark-evicting variant,
    * [[dedupUrlWithinWatermark]], is spec-covered: eviction would
    * re-admit late duplicates here and break exactness).
    */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = replay(spark) { rp =>
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("cast(user_id as long) as user_id", "event_type",
        "unix_micros(cast(ts as timestamp)) as ts_us")
    val deduped = rp.source("events", timeSlices(ev, 4)._1)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    rp.run(deduped, "append")._1
  }

  val streamDedupSql: String =
    """SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id, event_type
      |FROM events""".stripMargin

  /** ORACLE-GATED dedup-state EVICTION — the other half of the bounded-
    * state contract [[streamDedup]] leaves untested: with
    * `dropDuplicatesWithinWatermark` a key's state lives only inside
    * the watermark horizon, so a re-occurrence far enough past it is
    * RE-ADMITTED (emitted twice) — that is the price of state that
    * doesn't grow with the stream's history, made visible as data.
    * Keys (doc_id % 200) stream in four one-minute slices; every 7th
    * key repeats INSIDE its slice (must be suppressed — state alive),
    * and every 5th key of slice 0 repeats three slices later, two full
    * slices beyond the 10 s delay horizon (must be re-admitted even
    * under the one-trigger watermark lag the late-drop probe measured —
    * eviction is due by batch 2's end, the replant arrives in batch 3).
    * The result counts emissions per key: 2 for the replanted keys, 1
    * everywhere else; a sink that suppresses forever (unbounded state)
    * or re-admits in-horizon duplicates both fail the hash.
    */
  def streamDedupEvict(spark: SparkSession, dir: String): DataFrame = replay(spark) { rp =>
    import spark.implicits._
    val t0 = 1700000000000000L // fixed epoch base, microseconds
    val spanUs = 60000000L // one-minute slices
    val keys = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id % 200 as long) as k").distinct()
      .as[Long].collect().sorted
    val slices = (0 until 4).map { i =>
      val onTime = keys.filter(_ / 50 == i).flatMap { k =>
        val ts = t0 + i * spanUs + (k % 50) * 1000000L
        // in-horizon duplicate (1 s later, same slice): suppressed
        if (k % 7 == 1) Seq((k, ts), (k, ts + 1000000L)) else Seq((k, ts))
      }
      val replants =
        if (i == 3) keys.filter(k => k < 50 && k % 5 == 0)
          .map(k => (k, t0 + 3 * spanUs + (k % 50) * 1000000L))
        else Array.empty[(Long, Long)]
      (onTime ++ replants).toSeq.toDF("user_id", "ts_us")
        .selectExpr("user_id", "timestamp_micros(ts_us) as ts")
    }
    val deduped = rp.source("evict", slices)
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("user_id")
    rp.run(deduped, "append")._1
      .groupBy("user_id")
      .agg(count(lit(1)).cast("long").as("n_emitted"))
  }

  val streamDedupEvictSql: String =
    """SELECT CAST(k AS BIGINT) AS user_id,
      |  CAST(CASE WHEN k < 50 AND k % 5 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_emitted
      |FROM (SELECT DISTINCT doc_id % 200 AS k FROM documents)""".stripMargin

  // ------------------------------------ streaming MERGE sink (foreachBatch)

  /** ORACLE-GATED streaming upsert sink — the exactly-once leg every
    * continuously-landing table needs: five staged increments replay
    * through a REAL file-source stream one file per trigger, and
    * `foreachBatch` MERGEs each micro-batch into a standing
    * day-partitioned table (TableFormat.merge, the copy-on-write
    * Iceberg `MERGE INTO` analog the batch path already ships). Batch k
    * carries the docs with (doc_id + k) % 3 == 0 stamped version k, so
    * almost every doc is upserted TWICE and the final table must hold
    * exactly its LAST version — an append-duplicating or
    * first-write-wins sink fails the hash, not just a row count. The
    * oracle computes the closed-form last version per doc
    * (d%3=0 → k=3, d%3=1 → k=2, d%3=2 → k=4).
    *
    * 100 TB shape: foreachBatch + key-scoped MERGE is the standard
    * Structured Streaming upsert sink; the merge rewrites only the
    * partitions an increment touches, and micro-batch order is the file
    * source's mtime order — the same commit serialization a real
    * snapshot log provides.
    */
  def streamUpsert(spark: SparkSession, dir: String): DataFrame = replay(spark) { rp =>
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id", "text")
    val tableDir = rp.scratch.resolve("table").toString
    val src = rp.source("batch", (0 until 5).map { k =>
      docs.filter(s"(doc_id + $k) % 3 = 0")
        .selectExpr("doc_id", s"cast($k as long) as version",
          s"concat('v', $k, ':', text) as text_v",
          "cast(doc_id % 4 as string) as day")
    })
    src.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", rp.scratch.resolve("ckpt").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        graft.pipeline.ParquetFormat.merge(spark, tableDir, b, "doc_id", "day")
      }
      .start()
      .awaitTermination()
    graft.pipeline.ParquetFormat.read(spark, tableDir)
      .selectExpr("cast(doc_id as long) as doc_id",
        "cast(version as long) as version", "text_v",
        "cast(day as string) as day")
      .localCheckpoint(true) // detach from the scratch table before cleanup
  }

  val streamUpsertSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 2 ELSE 4 END AS BIGINT) AS version,
      |  'v' || (CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 2 ELSE 4 END) || ':' || text AS text_v,
      |  CAST(doc_id % 4 AS VARCHAR) AS day
      |FROM documents""".stripMargin

  // ------------------------------------ stream-stream interval join

  /** ORACLE-GATED stream-stream inner join — the last core Structured
    * Streaming surface (after windowed aggs, flatMapGroupsWithState,
    * dropDuplicates and the foreachBatch MERGE sink): two REAL
    * file-source streams (views and clicks, time-sliced into 2 files
    * each, one file per trigger per side) join on user within a
    * 30-minute event-time interval — the crawl-ops shape "pair each
    * fetch REQUEST with its RESPONSE arriving within the timeout".
    *
    * Exactness argument (why the oracle's batch join matches): both
    * sides carry a 1-hour watermark and the slices are time-ordered, so
    * a row's join partners live either in the same slice or the next
    * one — at the moment slice k+1 is processed the global watermark
    * (min over both inputs, computed from slice k) still covers the
    * last 30 minutes of slice k, hence no candidate's state is evicted
    * before its partners arrive and the inner join emits EXACTLY the
    * batch result. The same two knobs are the 100 TB state bound: the
    * interval condition lets the engine drop a row's state once the
    * watermark passes its join window, so state is the watermark-delay
    * working set, never the stream's history.
    */
  def streamJoin(spark: SparkSession, dir: String): DataFrame = replay(spark) { rp =>
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("cast(user_id as long) as user_id", "event_type",
        "cast(ts as timestamp) as ts",
        "unix_micros(cast(ts as timestamp)) as ts_us")
    // 2 real slices per side (was 4): the exactness argument above only
    // needs adjacent-slice coverage (>= 2 time-ordered slices); every
    // extra slice costs two more AvailableNow micro-batch floors, and
    // the two-sided joins are the bench loop's ceiling (r4 verdict ask).
    val (slices, _) = timeSlices(ev, 2)
    def side(kind: String, uid: String, tsc: String): DataFrame =
      rp.source(kind, slices.map(_.filter(s"event_type = '$kind'").select("user_id", "ts")))
        .withColumnRenamed("user_id", uid).withColumnRenamed("ts", tsc)
        .withWatermark(tsc, "1 hour")
    val joined = side("view", "user_id", "v_ts")
      .join(side("click", "c_user", "c_ts"),
        expr("user_id = c_user AND c_ts >= v_ts AND " +
          "c_ts <= v_ts + interval 30 minutes"))
      .selectExpr("user_id", "unix_micros(v_ts) as view_us",
        "unix_micros(c_ts) as click_us")
    rp.run(joined, "append")._1
  }

  val streamJoinSql: String =
    """SELECT CAST(a.user_id AS BIGINT) AS user_id,
      |  epoch_us(a.ts) AS view_us, epoch_us(b.ts) AS click_us
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND a.event_type = 'view' AND b.event_type = 'click'
      | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin

  /** ORACLE-GATED stream-stream LEFT OUTER interval join — the state
    * semantics [[streamJoin]]'s inner join never exercises: an unmatched
    * left row emits its null-padded result only when the watermark
    * closes its join window and the state operator EVICTS it. A leak
    * (row emitted while still open → possible duplicate on a late
    * match) or an over-eager eviction (match missed) both break the
    * per-row hash against the batch LEFT JOIN oracle.
    *
    * Same slicing and watermark argument as the inner join, plus THREE
    * far-future sentinel slices per side (distinct negative user ids and
    * non-overlapping times, so sentinels never match anything): the
    * null-padded emissions fire in the batch AFTER the watermark passes
    * a view's window, and the watermark itself is planned one trigger
    * behind (the measured lag `streamLate` pins) — three extra triggers
    * guarantee every real view's state is evicted and emitted before
    * AvailableNow terminates. Sentinels are filtered from the output;
    * `click_us` is coalesced to −1 on both engines so the hash compare
    * never sees an engine-specific NULL repr.
    *
    * 100 TB shape: identical to the inner join — state is the
    * watermark-delay working set per side; the outer padding adds no
    * state, only an eviction-time emission.
    */
  def streamLeftJoin(spark: SparkSession, dir: String): DataFrame = replay(spark) { rp =>
    import spark.implicits._
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("cast(user_id as long) as user_id", "event_type",
        "cast(ts as timestamp) as ts",
        "unix_micros(cast(ts as timestamp)) as ts_us")
    // 2 real slices per side (was 4) — same adjacent-slice exactness
    // argument as streamJoin; the outer join additionally waits for the
    // sentinel-driven watermark pass before emitting unmatched rows,
    // which the sentinel slices (unchanged) still provide.
    val (slices, maxUs) = timeSlices(ev, 2)
    // sentinel slices: push the watermark far past every real window,
    // one extra trigger at a time (eviction emission lags the data);
    // view sentinels are users -1..-3, click sentinels -101..-103
    def side(kind: String, sentinelUid: Long, uid: String, tsc: String): DataFrame = {
      val sentinels = (0 until 3).map { s =>
        val t = new java.sql.Timestamp((maxUs + (s + 4).toLong * 7200L * 1000000L) / 1000L)
        Seq((sentinelUid - s, t)).toDF("user_id", "ts")
      }
      val real = slices.map(_.filter(s"event_type = '$kind'").select("user_id", "ts"))
      rp.source(kind, real ++ sentinels)
        .withColumnRenamed("user_id", uid).withColumnRenamed("ts", tsc)
        .withWatermark(tsc, "1 hour")
    }
    val joined = side("view", -1L, "user_id", "v_ts")
      .join(side("click", -101L, "c_user", "c_ts"),
        expr("user_id = c_user AND c_ts >= v_ts AND " +
          "c_ts <= v_ts + interval 30 minutes"),
        "leftOuter")
      .selectExpr("user_id", "unix_micros(v_ts) as view_us",
        "coalesce(unix_micros(c_ts), -1L) as click_us")
    rp.run(joined, "append")._1.where("user_id >= 0")
  }

  val streamLeftJoinSql: String =
    """SELECT CAST(a.user_id AS BIGINT) AS user_id,
      |  epoch_us(a.ts) AS view_us,
      |  CAST(coalesce(epoch_us(b.ts), -1) AS BIGINT) AS click_us
      |FROM (SELECT * FROM events WHERE event_type = 'view') a
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') b
      |  ON a.user_id = b.user_id
      | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin

  // ------------------------------------ watermark late-data drop accounting

  /** ORACLE-GATED watermark DROP semantics — the one streaming contract
    * the other oracle-gated runs never exercise (their slices arrive in
    * order, so nothing is ever late). Here the events table is staged
    * as one file per tumbling window, in window order, and every file
    * k ≥ 4 ALSO carries duplicate copies of window k−4's
    * `user_id % 10 == 7` rows at their ORIGINAL event times — rows
    * FOUR windows late. VERSION-BEHAVIOR PIN (Spark 4.1, measured):
    * the late-row filter inside micro-batch k evaluates against the
    * watermark PLANNED ONE TRIGGER EARLIER than the one the batch's
    * progress line reports — a row exactly one watermark-update late
    * still merges into its window's open state before eviction, so
    * plants must be ≥ 2 windows late to be dropped at all. Four, not
    * two: the extra two windows of slack mean a future Spark planning
    * change that lags the effective watermark by one MORE trigger
    * degrades to unused slack instead of leaking plants into open
    * state (a red row on the per-window hash). The per-window counts must then equal the plain batch
    * counts over the ORIGINAL table: an engine that leaks late rows
    * inflates a window (hash fail), one that over-drops starves one. A
    * far-future sentinel row finalizes the last real windows (append
    * mode only emits below the watermark); its own window stays open
    * and is excluded on both sides. A require() guards that the
    * engine's drop METRIC engaged at all; its magnitude is
    * partitioning-dependent (it counts dropped partial-agg rows), so
    * the exact planted-copy exclusion is what the hash compare pins.
    *
    * 100 TB shape: state is one (window, count) row per open window —
    * watermark-bounded; the planted copies ride the same key-partitioned
    * exchange as on-time rows and die at the state operator's gate.
    */
  def streamLate(spark: SparkSession, dir: String): DataFrame = replay(spark) { rp =>
    import spark.implicits._
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("cast(user_id as long) as user_id",
        "cast(ts as timestamp) as ts",
        "unix_micros(cast(ts as timestamp)) as ts_us")
    val (minUs, maxUs) = tsBounds(ev)
    // whole-second tumbling span, ~8 windows over the table (Spark's
    // window() aligns to the epoch, so the oracle's ts_us div span is
    // exact only for whole-second spans); 8, not 4, so plants four
    // windows late still fire from several distinct slices
    val spanUs = (((maxUs - minUs) / 8 + 1) / 1000000L + 1L) * 1000000L
    val widxs = ev.selectExpr(s"ts_us div ${spanUs}L as widx")
      .distinct().orderBy("widx").as[Long].collect()
    val slices = widxs.indices.map { k =>
      val onTime = ev.filter(s"ts_us div ${spanUs}L = ${widxs(k)}L").select("user_id", "ts")
      if (k >= 4)
        onTime.unionByName(
          ev.filter(s"ts_us div ${spanUs}L = ${widxs(k - 4)}L and user_id % 10 = 7")
            .select("user_id", "ts"))
      else onTime
    }
    // sentinel: advances the final watermark past every real window
    val sentinel = Seq((-1L, new java.sql.Timestamp((maxUs + 10 * spanUs) / 1000L)))
      .toDF("user_id", "ts")
    val agg = rp.source("late", slices :+ sentinel)
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), s"${spanUs / 1000000L} seconds"))
      .agg(count(lit(1)).as("n"))
    val (out, q) = rp.run(agg, "append")
    // observability guard, not an oracle column: the engine must have
    // REPORTED watermark drops (the metric counts dropped partial-agg
    // rows, so its magnitude is partitioning-dependent — the exact
    // planted-copy count is what the per-window hash compare pins)
    val dropped = q.recentProgress.iterator.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    require(widxs.length < 5 || dropped > 0,
      "late plants present but numRowsDroppedByWatermark stayed 0 — watermark drop path never engaged")
    out.selectExpr(s"unix_micros(window.start) div ${spanUs}L as widx", "n")
  }

  val streamLateSql: String =
    """WITH p AS (SELECT epoch_us(ts::TIMESTAMP) AS ts_us FROM events),
      |b AS (SELECT ts_us, (SELECT ((max(ts_us) - min(ts_us)) // 8 + 1) // 1000000 + 1 FROM p) * 1000000 AS span
      |  FROM p)
      |SELECT CAST(ts_us // span AS BIGINT) AS widx, CAST(count(*) AS BIGINT) AS n
      |FROM b GROUP BY 1""".stripMargin

  def registry: Map[String, Gated] = Map(
    "q_stream_join" -> Gated(streamJoin(_, _), streamJoinSql),
    "q_stream_left_join" -> Gated(streamLeftJoin(_, _), streamLeftJoinSql),
    "q_stream_late" -> Gated(streamLate(_, _), streamLateSql),
    "q_stream_upsert" -> Gated(streamUpsert(_, _), streamUpsertSql),
    "q_stream_dedup" -> Gated(streamDedup(_, _), streamDedupSql),
    "q_stream_dedup_evict" -> Gated(streamDedupEvict(_, _), streamDedupEvictSql),
    "q_stream_host_slots" -> Gated(streamHostSlots(_, _), streamHostSlotsSql),
    "q_stream_hourly" -> Gated(streamHourlyEvents(_, _), streamHourlyEventsSql),
    "q_stream_sessionize" -> Gated(streamSessionize(_, _), streamSessionizeSql))
}
