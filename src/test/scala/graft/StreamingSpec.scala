package graft

import graft.gen.PagesGen
import graft.pipeline.ExtractPipeline
import graft.streaming.StreamingOps
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("streaming extraction (AvailableNow) matches the batch pipeline") {
    val corpus = PagesGen.corpus(120, seed = 42L)
    val srcDir = tmpDir("graft-stream-src")
    // land the corpus as multiple files (multiple micro-batches)
    corpus.map(_.row).toDS().repartition(6).write.mode("overwrite").parquet(srcDir)

    val stream = StreamingOps.pagesStream(spark, srcDir)
    assert(stream.isStreaming)
    val extracted = ExtractPipeline.extract(spark, stream).toDF()
    val q = extracted.writeStream
      .format("memory")
      .queryName("ext_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val got = spark.table("ext_stream")
      .select("url", "text", "error").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got.size == corpus.size)
    corpus.foreach { gp =>
      val (text, err) = got(gp.row.url)
      assert(err == null && text == gp.expected, gp.row.url)
    }
  }

  test("dropDuplicatesWithinWatermark suppresses url re-crawls across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[graft.model.PageRow]
    def row(url: String, tsSec: Long) =
      graft.model.PageRow(url, new java.sql.Timestamp(tsSec * 1000), null, "t", "en")
    ms.addData(row("http://a.com/1", 100), row("http://a.com/2", 110))
    val q = StreamingOps.dedupUrlWithinWatermark(ms.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("wm_dedup").outputMode("append").start()
    q.processAllAvailable()
    // same urls again within the watermark horizon → suppressed; one new
    ms.addData(row("http://a.com/1", 120), row("http://a.com/3", 130))
    q.processAllAvailable()
    val urls = spark.table("wm_dedup").select("url").collect().map(_.getString(0))
    q.stop()
    assert(urls.sorted.toSeq == Seq("http://a.com/1", "http://a.com/2", "http://a.com/3"))
  }

  test("stateful first-seen dedup (flatMapGroupsWithState) across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[graft.model.PageRow]
    def row(url: String, text: String) =
      graft.model.PageRow(url, new java.sql.Timestamp(0), null, text, "en")
    // batch 1: two distinct texts on one host, one on another
    ms.addData(
      row("http://a.com/1", "alpha"), row("http://a.com/2", "beta"),
      row("http://b.com/1", "alpha"))
    val deduped = StreamingOps.firstSeenByHost(spark, ms.toDF())
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    assert(spark.table("dedup_stream").count() == 3) // b.com/1 distinct per host
    // batch 2: duplicate of a.com's alpha (suppressed by state), one new
    ms.addData(row("http://a.com/3", "alpha"), row("http://a.com/4", "gamma"))
    q.processAllAvailable()
    val urls = spark.table("dedup_stream").select("url").collect().map(_.getString(0)).toSet
    q.stop()
    assert(urls == Set("http://a.com/1", "http://a.com/2", "http://b.com/1", "http://a.com/4"))
  }

  test("streaming windowed rollup with watermark") {
    val corpus = PagesGen.corpus(150, seed = 7L)
    val srcDir = tmpDir("graft-stream-win")
    corpus.map(_.row).toDS().repartition(3).write.mode("overwrite").parquet(srcDir)

    val counts = StreamingOps.hourlyDocCounts(
      ExtractPipeline.extract(spark, StreamingOps.pagesStream(spark, srcDir)).toDF())
    val q = counts.writeStream
      .format("memory")
      .queryName("win_stream")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val total = spark.table("win_stream").agg(org.apache.spark.sql.functions.sum("n_docs"))
      .collect().head.getLong(0)
    assert(total == corpus.size)
    // batch equivalence of the same aggregation
    val batch = ExtractPipeline.extract(spark, corpus.map(_.row).toDS().toDF()).toDF()
    val batchCounts = batch
      .groupBy(org.apache.spark.sql.functions.window($"warc_ts", "1 hour"), $"doc_kind")
      .count().count()
    assert(spark.table("win_stream").count() == batchCounts)
  }

  test("streaming sessionize (event-time timeout) matches batch gaps-and-islands") {
    val out = StreamingOps.streamSessionize(spark, "/root/testdata/sf0.001")
      .selectExpr("user_id", "start_us", "end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    // batch reference: same 30-min rule, per-session bounds
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .selectExpr("cast(user_id as long) as user_id",
        "cast(event_id as long) as event_id",
        "unix_micros(cast(ts as timestamp)) as ts_us")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).toSeq.flatMap { case (uid, evs) =>
        val sorted = evs.sortBy(e => (e._3, e._2))
        val sess = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        sorted.foreach { case (_, _, ts) =>
          if (sess.nonEmpty && ts - sess.last._3 <= 1800L * 1000000L) {
            val (u, s, _, n) = sess.last
            sess(sess.length - 1) = (u, s, ts, n + 1)
          } else sess += ((uid, ts, ts, 1L))
        }
        sess
      }.toSet
    assert(out === batch)
    assert(out.nonEmpty)
  }

  test("oracle-gated streaming runs leave no query, view or live result behind") {
    def streamViews = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("stream_")).map(_.name).toSeq
    val runs = StreamingOps.registry.toSeq.sortBy(_._1).map { case (name, Gated(fn, _)) =>
      val out = fn(spark, "/root/testdata/sf0.001")
      val n = out.count()
      assert(n > 0, name)
      assert(spark.streams.active.isEmpty, name)
      assert(streamViews === Seq.empty, name)
      (name, out, n)
    }
    // every result is detached: later runs' clean-up does not change it
    runs.foreach { case (name, out, n) => assert(out.count() === n, name) }
  }

  test("streaming ingestion commits batch partitions exactly-once across restart") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.lit
    val corpus = PagesGen.corpus(100, seed = 7L)
    val srcDir = tmpDir("scommit-src")
    val table = tmpDir("scommit-table") + "/t"
    val ledgerDir = tmpDir("scommit-ledger")
    val ckpt = tmpDir("scommit-ckpt")
    val (first, second) = corpus.splitAt(50)

    // the standard exactly-once sink shape: deterministic batch id as
    // the partition value, idempotent partition overwrite, ledger row
    // per commit — a redelivered batch rewrites its own partition
    def commitBatch(df: DataFrame, id: Long): Unit = {
      val part = df.withColumn("batch", lit(id.toString))
      graft.pipeline.ParquetFormat.overwritePartitions(part, table, "batch")
      graft.pipeline.Ledger.commit(ledgerDir, graft.pipeline.Ledger.Entry(
        partition = s"batch=$id", rows = df.count(), chars = 0L, errors = 0L,
        wallMs = 0L, committedAtMs = System.currentTimeMillis()))
    }
    def runOnce(): Unit = {
      val ext = ExtractPipeline.extract(spark, StreamingOps.pagesStream(spark, srcDir)).toDF()
      val q = ext.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(commitBatch _)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }

    first.map(_.row).toDS().repartition(2).write.mode("append").parquet(srcDir)
    runOnce()
    assert(graft.pipeline.ParquetFormat.read(spark, table).count() === 50L)
    val batchesAfterFirst = graft.pipeline.Ledger.committed(ledgerDir).size

    // second increment + RESTART from the same checkpoint: committed
    // batches are not redone, new files become new batch partitions
    second.map(_.row).toDS().repartition(2).write.mode("append").parquet(srcDir)
    runOnce()
    val rows = graft.pipeline.ParquetFormat.read(spark, table)
      .select("url", "text").collect().map(r => r.getString(0) -> r.getString(1))
    assert(rows.length === 100, "exactly one row per url after restart")
    assert(rows.map(_._1).distinct.length === 100)
    val expected = corpus.map(gp => gp.row.url -> gp.expected).toMap
    rows.foreach { case (u, t) => assert(t === expected(u), u) }
    val ledger = graft.pipeline.Ledger.committed(ledgerDir)
    assert(ledger.size > batchesAfterFirst, "new batches were committed")
    assert(ledger.values.map(_.rows).sum === 100L)

    // duplicate delivery of an already-committed batch is absorbed
    val someBatch = ledger.keys.head.stripPrefix("batch=").toLong
    val redelivered = graft.pipeline.ParquetFormat.read(spark, table)
      .filter(s"batch = '$someBatch'").drop("batch").localCheckpoint(true)
    commitBatch(redelivered, someBatch)
    assert(graft.pipeline.ParquetFormat.read(spark, table).count() === 100L)
  }
}
