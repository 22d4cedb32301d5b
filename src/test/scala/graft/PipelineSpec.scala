package graft

import graft.gen.PagesGen
import graft.model.{ExtractedDoc, PageRow}
import graft.pipeline.{ExtractJob, ExtractPipeline, Ledger, ParquetFormat}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

class PipelineSpec extends SparkTestBase with TimeLimits {
  import spark.implicits._

  // a blocked Observation.get is interrupted, so a hang fails the test
  private implicit val signaler: Signaler = ThreadSignaler

  private def corpusDf(n: Int) =
    PagesGen.corpus(n, seed = 42L).map(_.row).toDS().toDF()

  test("extract pipeline: byte-identical text for every corpus url") {
    val corpus = PagesGen.corpus(300, seed = 42L)
    val metrics = new ExtractPipeline.Metrics(spark)
    val out = ExtractPipeline
      .extract(spark, corpus.map(_.row).toDS().toDF(),
        ExtractPipeline.Conf(repartition = 8), metrics)
      .collect()
      .map(d => d.url -> d).toMap
    assert(out.size == corpus.size)
    corpus.foreach { gp =>
      val d = out(gp.row.url)
      assert(d.error == null, s"${gp.row.url}: ${d.error}")
      assert(d.text == gp.expected, s"${gp.kind} ${gp.row.url}")
      assert(d.n_chars == d.text.codePointCount(0, d.text.length))
      // span invariants over the merged doc
      var last = 0
      d.spans.foreach { s =>
        assert(s.begin >= last && s.end <= d.text.length && s.begin <= s.end)
        last = s.end
      }
    }
    assert(metrics.docsOk.value == corpus.size)
    assert(metrics.docsFailed.value == 0)
  }

  /** Runs the typed path, `extractText` (`extract_main_text` under the
    * crawl-text rule) and the raw `extract_main_text` / `extract_doc`
    * calls over the same rows and checks that they agree row by row, on
    * text and on `n_chars` (code points; 0 where a SQL surface's text is
    * null). Returns the typed docs by url.
    */
  private def surfacesAgree(rows: Seq[PageRow]): Map[String, ExtractedDoc] = {
    val df = rows.toDS().toDF()
    val conf = ExtractPipeline.Conf(repartition = 4)
    val typed = ExtractPipeline.extract(spark, df, conf).collect().map(d => d.url -> d).toMap
    val fast = ExtractPipeline.extractText(spark, df, conf).collect()
      .map(r => r.getAs[String]("url") -> (r.getAs[String]("text"), r.getAs[Int]("n_chars"))).toMap
    val sql = df.selectExpr("url", "length(html) = 0 as no_bytes",
      "extract_main_text(html) as t", "extract_doc(html) as d").collect()
    assert(typed.size == rows.size && fast.size == rows.size && sql.length == rows.size)
    sql.foreach { r =>
      val (url, noBytes) = (r.getString(0), r.getBoolean(1))
      val (mainText, doc, t) = (r.getString(2), r.getStruct(3), typed(url))
      val expected = if (t.error != null || t.doc_kind == "empty") null else t.text
      val chars = if (expected == null) 0 else t.n_chars
      assert(t.n_chars == t.text.codePointCount(0, t.text.length), s"$url: typed n_chars")
      assert(doc.getString(0) == mainText, s"$url: extract_doc.text vs extract_main_text")
      assert(fast(url) == (expected, chars), s"$url: extractText vs typed ${t.doc_kind}/${t.error}")
      if (!noBytes) {
        assert(mainText == expected, s"$url: extract_main_text vs typed")
        assert(doc.getInt(1) == chars, s"$url: extract_doc.n_chars vs typed")
      }
      assert(doc.getString(2) == (if (noBytes) "passthrough" else t.doc_kind), s"$url: kind")
    }
    typed
  }

  test("expression fast path matches the typed pipeline's text per url (null = failure shape)") {
    val corpus = PagesGen.corpus(300, seed = 42L)
    val df = corpus.map(_.row).toDS().toDF()
    val fast = ExtractPipeline.extractText(spark, df, ExtractPipeline.Conf(repartition = 4))
      .collect().map(r => r.getAs[String]("url") -> Option(r.getAs[String]("text"))).toMap
    assert(fast.size == corpus.size)
    corpus.foreach { gp =>
      // exact shape: empty rows → null, everything else → the golden text
      val expected = if (gp.kind == "empty") None else Some(gp.expected)
      assert(fast(gp.row.url) == expected, s"${gp.kind} ${gp.row.url}")
    }
    // differential over the generator's seed space plus hostile rows: the
    // typed path, extract_main_text and extract_doc agree on every row
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(4),
      Prop.forAll(Gen.choose(Long.MinValue, Long.MaxValue)) { seed =>
        surfacesAgree(PagesGen.corpus(40, seed).map(_.row) ++ HostileDocs.rows); true
      })
    assert(res.passed, res.toString)
  }

  test("fast path does NOT surface crawl text for failed (non-empty-html) extraction") {
    // a failed PDF with crawl-provided text must stay null on the fast
    // path (the typed path marks it error='pdf_empty'), and a no-html row
    // must surface the crawl text (passthrough branch)
    val rows = Seq(
      PageRow("https://x.example/badpdf", new java.sql.Timestamp(0),
        "%PDF-1.4 no streams here".getBytes, "crawl text A", "en"),
      PageRow("https://x.example/pass", new java.sql.Timestamp(0),
        Array.emptyByteArray, "crawl text B", "en"))
    val out = ExtractPipeline.extractText(spark, rows.toDS().toDF())
      .collect().map(r => r.getAs[String]("url") -> Option(r.getAs[String]("text"))).toMap
    assert(out("https://x.example/badpdf").isEmpty)
    assert(out("https://x.example/pass").contains("crawl text B"))
  }

  test("host salt spreads a giant host over multiple partitions, result unchanged") {
    // one pathological host owning every row (the skew case salting exists for)
    val rows = (0 until 200).map { i =>
      val gp = PagesGen.genPage(i.toLong, seed = 9L, hosts = 1)
      gp.row.copy(url = s"https://giant.example/p/$i")
    }
    val df = rows.toDS().toDF()
    val salted = ExtractPipeline.extract(spark, df,
      ExtractPipeline.Conf(repartition = 8, hostSalt = 4))
    val nParts = salted.mapPartitions(it => Iterator.single(if (it.hasNext) 1 else 0))
      .collect().sum
    assert(nParts >= 2, s"giant host stayed on $nParts partition(s)")
    // salting only moves rows; extraction output is identical
    val a = salted.collect().map(d => d.url -> d.text).toMap
    val b = ExtractPipeline.extract(spark, df, ExtractPipeline.Conf(repartition = 8))
      .collect().map(d => d.url -> d.text).toMap
    assert(a == b)
  }

  test("poison pill: oversized + garbage rows isolate as error rows") {
    val rows = Seq(
      PageRow("u://big", new java.sql.Timestamp(0), Array.fill[Byte](2048)('x'), "", "en"),
      PageRow("u://garbage-pdf", new java.sql.Timestamp(0), "%PDF-1.4 garbage".getBytes, "", "en"))
    val out = ExtractPipeline
      .extract(spark, rows.toDS().toDF(), ExtractPipeline.Conf(maxBytes = 1024))
      .collect().map(d => d.url -> d).toMap
    assert(out("u://big").error.startsWith("too_large:"))
    assert(out("u://garbage-pdf").error != null) // no streams found
    assert(out.values.forall(_.text == ""))

    // hostile bytes: error rows with the typed path's kinds on every surface
    val typed = surfacesAgree(HostileDocs.rows)
    def at(name: String) = typed(s"hostile://$name")
    assert(at("truncated-gzip").doc_kind == "html" && at("truncated-gzip").error == "gzip_corrupt")
    assert(at("truncated-zstd").doc_kind == "html" && at("truncated-zstd").error == "zstd_corrupt")
    // a header claiming more content than its frame holds is corrupt
    assert(at("overclaim-zstd").doc_kind == "html" && at("overclaim-zstd").error == "zstd_corrupt")
    // a coded body that decodes to nothing is empty: crawl text stands in
    // only when no bytes were stored
    Seq("empty-gzip", "empty-zstd").foreach { n =>
      assert(at(n).doc_kind == "empty" && at(n).text == "" && at(n).error == null, n)
    }
    assert(at("no-bytes").doc_kind == "passthrough" && at("no-bytes").text == HostileDocs.CrawlText)
    // two members or frames, an FNAME header and a frame with no content
    // size decode like one plain member or frame
    Seq("two-member-gzip", "fname-gzip", "two-frame-zstd", "unsized-zstd").foreach { n =>
      assert(at(n).doc_kind == "html" && at(n).error == null, n)
      assert(at(n).text == "hostile main content body here", n)
    }
    // the transport sniff matches a zstd frame's magic only, so a body
    // that starts with a skippable frame is read as html: its raw bytes
    // surface as text and the frame after it is never decoded
    val skippable = at("skippable-zstd")
    assert(skippable.doc_kind == "html" && skippable.error == null)
    assert(skippable.text.startsWith("P*M") && !skippable.text.contains("hostile main content"))
    Seq("garbage-pdf", "cyclic-kids").foreach { n =>
      assert(at(n).doc_kind == "pdf" && at(n).error != null && at(n).text == "", n)
    }
    // deep-kids: the page-tree walk keeps its own stack, so the chain's leaf extracts
    val deep = at("deep-kids")
    assert(deep.doc_kind == "pdf" && deep.text == HostileDocs.DeepLeafText && deep.error == null)
    assert(at("deep-divs").doc_kind == "html" && at("deep-divs").text == HostileDocs.DeepDivText)
    // non-BMP text: n_chars counts code points, not UTF-16 units
    val astral = at("astral")
    assert(astral.text == HostileDocs.AstralText && astral.error == null)
    assert(astral.n_chars == astral.text.length - 3, astral.n_chars)
  }

  test("extract job: day-partitioned write + ledger commit + resume skips committed days") {
    val outDir = tmpDir("graft-out")
    val ledgerDir = tmpDir("graft-ledger")
    val pages = corpusDf(200).cache()
    // the write clusters by day, whatever the url-exchange settings say
    def onePartFilePerDay(): Unit = {
      val files = new java.io.File(outDir).listFiles().filter(_.getName.startsWith("p_day="))
        .map(d => d.getName -> d.listFiles().count(_.getName.startsWith("part-"))).toMap
      assert(files.nonEmpty && files.values.forall(_ == 1), files)
    }

    val r1 = ExtractJob.run(spark, pages, outDir, ledgerDir,
      ExtractPipeline.Conf(repartition = 4))
    assert(r1.daysProcessed.nonEmpty)
    onePartFilePerDay()
    assert(r1.docsOk + r1.docsFailed == 200)
    val full = spark.read.parquet(outDir).orderBy("url").collect()
    assert(full.length == 200)

    val committed1 = Ledger.committed(ledgerDir)
    assert(committed1.size == r1.daysProcessed.size)
    assert(committed1.values.map(_.rows).sum == 200)

    // rerun with everything committed: nothing recomputed, and the write
    // of no rows still completes its observation instead of blocking
    val r2 = failAfter(120.seconds) {
      ExtractJob.run(spark, pages, outDir, ledgerDir, ExtractPipeline.Conf(repartition = 4))
    }
    assert(r2.daysProcessed.isEmpty)
    assert(r2.docsOk == 0 && r2.docsFailed == 0) // kernel never ran

    // kill-and-restart: drop half the ledger, delete those day dirs
    val days = committed1.keys.toSeq.sorted
    val dropped = days.take(days.size / 2)
    dropped.foreach { d =>
      Ledger.drop(ledgerDir, d)
      val dir = new java.io.File(s"$outDir/$d")
      if (dir.isDirectory) dir.listFiles().foreach(_.delete())
      dir.delete()
    }
    val r3 = ExtractJob.run(spark, pages, outDir, ledgerDir,
      ExtractPipeline.Conf(repartition = 4))
    assert(r3.daysProcessed.map(s => s"p_day=${s.day}").toSet == dropped.toSet)
    onePartFilePerDay()
    // only uncommitted days were recomputed
    val droppedRows = committed1.filter(e => dropped.contains(e._1)).values.map(_.rows).sum
    assert(r3.docsOk + r3.docsFailed == droppedRows)

    // final table identical to an uninterrupted run
    val after = spark.read.parquet(outDir).orderBy("url").collect()
    assert(after.length == 200)
    assert(after.map(_.getAs[String]("url")).sameElements(full.map(_.getAs[String]("url"))))
    assert(after.map(_.getAs[String]("text")).sameElements(full.map(_.getAs[String]("text"))))
    pages.unpersist()
  }

  /** Per day (rows, chars, errors) of the written table: the read-back
    * query the job ran before it observed its write.
    */
  private def writtenStats(outDir: String): Map[String, (Long, Long, Long)] =
    ParquetFormat.read(spark, outDir)
      .withColumn("p_day", col("p_day").cast("string"))
      .groupBy(col("p_day"))
      .agg(
        count(lit(1)).as("rows"),
        sum(col("n_chars")).as("chars"),
        sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("errors"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

  private def ledgerStats(ledgerDir: String): Map[String, (Long, Long, Long)] =
    Ledger.committed(ledgerDir).values
      .map(e => e.partition.stripPrefix("p_day=") -> ((e.rows, e.chars, e.errors))).toMap

  private def pagesWithErrors(seed: Long) =
    (PagesGen.corpus(160, seed).map(_.row) ++ HostileDocs.rows).toDS().toDF()

  test("extract job: the ledger equals the written table day by day, and only days the run wrote") {
    val outDir = tmpDir("graft-out")
    val ledgerDir = tmpDir("graft-ledger")
    // a killed earlier run left a day directory behind with no ledger
    // entry, for a day this run's input does not have
    val stale = new java.sql.Timestamp(java.sql.Date.valueOf("1999-01-01").getTime)
    ExtractJob.run(spark, PagesGen.corpus(5, seed = 8L).map(_.row.copy(warc_ts = stale)).toDS().toDF(),
      outDir, ledgerDir)
    Ledger.drop(ledgerDir, "p_day=1999-01-01")

    val pages = pagesWithErrors(seed = 17L)
    val r = ExtractJob.run(spark, pages, outDir, ledgerDir)
    val written = writtenStats(outDir) - "1999-01-01"
    assert(written.values.map(_._3).sum > 0, "the hostile rows must give error rows")
    assert(ledgerStats(ledgerDir) == written)
    assert(r.daysProcessed.map(s => s.day -> ((s.rows, s.chars, s.errors))).toMap == written)
    assert(r.daysProcessed.map(_.day) == written.keys.toSeq.sorted)
    assert(r.docsFailed == written.values.map(_._3).sum)
    assert(r.docsOk + r.docsFailed == pages.count())
  }

  test("extract job: a write task that fails once and is retried leaves the stats exact") {
    val pages = pagesWithErrors(seed = 23L).cache()
    def job(failOnce: Boolean) = {
      val outDir = tmpDir("graft-out")
      val ledgerDir = tmpDir("graft-ledger")
      val key = "spark.sql.sources.commitProtocolClass"
      val before = spark.conf.getOption(key)
      if (failOnce) {
        FailOnceCommitProtocol.arm()
        spark.conf.set(key, classOf[FailOnceCommitProtocol].getName)
      }
      val r = try ExtractJob.run(spark, pages, outDir, ledgerDir)
        finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      (r, ledgerStats(ledgerDir), writtenStats(outDir))
    }
    val (clean, cleanLedger, _) = job(failOnce = false)
    val (retried, retriedLedger, retriedTable) = job(failOnce = true)
    assert(FailOnceCommitProtocol.fired, "no write task failed")
    assert(retriedLedger == retriedTable)
    assert(retriedLedger == cleanLedger)
    assert(retried.daysProcessed == clean.daysProcessed)
    assert((retried.docsOk, retried.docsFailed) == ((clean.docsOk, clean.docsFailed)))
    assert(retried.docsFailed > 0)
    pages.unpersist()
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).limit(5).count() > 0)
  }

  test("multimodal: binary plumbing with stubbed decoder") {
    import graft.ops.MultimodalOps
    val media = Seq(
      MultimodalOps.MediaRow(1L, Array[Byte](1, 2, 3, 4)),
      MultimodalOps.MediaRow(2L, Array.emptyByteArray)).toDS()
    val out = MultimodalOps.decodeAll(spark, media).collect().map(m => m.media_id -> m).toMap
    assert(out(1L).byte_len == 4 && out(1L).features.sum == 4f)
    assert(out(2L).byte_len == 0)
  }
}
