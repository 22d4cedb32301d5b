package graft.ops

import graft.Gated
import graft.gen.PagesGen
import graft.pipeline.ExtractPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked queries that run the REAL extraction kernel end-to-end
  * (SURVEY §7.5): documents.text is wrapped into HTML/PDF payloads with
  * full boilerplate chrome (DocPages), the kernel extracts main text, and
  * because wrapping is exactly invertible the DuckDB oracle is a plain
  * projection of `documents` — byte-identical text is what makes the hash
  * compare pass.
  */
object ExtractionOps {

  private def extracted(spark: SparkSession, pages: org.apache.spark.sql.Dataset[graft.model.PageRow]): DataFrame =
    ExtractPipeline.extract(spark, pages.toDF())
      .selectExpr(
        "cast(substring_index(url, '/', -1) as long) as doc_id",
        "doc_kind", "text as extracted_text", "page_count", "spans")

  /** HTML page (single content paragraph) → main text. */
  def extractHtml(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, DocPages.htmlSingle(spark, dir))
      .select(col("doc_id"), col("extracted_text"))

  val extractHtmlSql: String =
    "SELECT CAST(doc_id AS BIGINT) AS doc_id, text AS extracted_text FROM documents"

  /** Content-hash-gated incremental re-extraction — the recompute-
    * avoidance leg of a standing 10^12-document corpus: a fresh crawl
    * of every url joins the STANDING extracted table on the raw-byte
    * digest recorded at last extraction, byte-identical captures carry
    * their extracted text forward untouched, and the extraction kernel
    * runs ONLY on the changed slice (here every 4th url gained a
    * sentence). [[graft.pipeline.Ledger]] already skips committed DAYS;
    * this is the finer per-document gate a recrawl needs — at typical
    * crawl churn (a few % of pages change between visits) it cuts
    * kernel compute by ~the churn ratio.
    *
    * The oracle knows which slice changed in closed form, so a gate
    * that re-extracts nothing (stale text for changed docs) or
    * re-extracts everything with a broken carry-forward fails the hash.
    * Shuffle shape: one equi-join on doc_id between the crawl and the
    * standing table; the kernel slice is a narrow map after a filter.
    */
  def incrementalExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ts0 = new java.sql.Timestamp(1735689600000L)
    def md5hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map(x => f"${x & 0xff}%02x").mkString
    // standing table: last crawl's raw digest + the text extracted then
    val standing = DocPages.docs(spark, dir).map { d =>
      (d.doc_id, md5hex(DocPages.html(d.text, d)), d.text)
    }.toDF("doc_id", "digest_old", "text_old")
    // fresh crawl: every 4th page gained a sentence, the rest re-serve
    // byte-identical content
    val crawl = DocPages.docs(spark, dir).map { d =>
      val t2 = if (d.doc_id % 4 == 1) d.text + " updated content" else d.text
      val raw = DocPages.html(t2, d)
      (d.doc_id, raw, md5hex(raw), d.lang)
    }.toDF("doc_id", "raw", "digest_new", "lang")
    val j = crawl.join(standing, Seq("doc_id"))
    val reused = j.filter("digest_new = digest_old")
      .selectExpr("doc_id", "'reused' as action", "text_old as extracted_text")
    val changedPages = j.filter("digest_new <> digest_old")
      .select(col("doc_id"), col("raw"), col("lang"))
      .map(r => graft.model.PageRow(s"doc://i/${r.getLong(0)}", ts0,
        r.getAs[Array[Byte]](1), "", r.getString(2)))
    val reextracted = extracted(spark, changedPages)
      .selectExpr("doc_id", "'reextracted' as action", "extracted_text")
    reused.unionByName(reextracted)
  }

  val incrementalExtractSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CASE WHEN doc_id % 4 = 1 THEN 'reextracted' ELSE 'reused' END AS action,
      |  CASE WHEN doc_id % 4 = 1 THEN text || ' updated content' ELSE text END AS extracted_text
      |FROM documents""".stripMargin

  /** ORACLE-GATED resumable-batch lineage — the full [[graft.pipeline.ExtractJob]]
    * surface (day-partition pruning → extract → dynamic partition
    * overwrite → per-day metrics → ledger commit) driven twice and
    * graded by its LEDGER, the artifact a production restart trusts.
    * Pages spread over four days; run 1 lands days 1–2, run 2 sees the
    * whole table and must SKIP the committed days (a `require` pins
    * daysSkipped == 2) and commit only days 3–4 under the NEXT snapshot
    * id. The emitted rows are the ledger entries themselves: per-day
    * row/char/error lineage plus the snapshot stamp — an engine that
    * re-extracts committed days flips their snapshot to 2 (hash fail),
    * one that drops work starves a day's rows, and a broken metrics agg
    * breaks chars (the oracle recomputes them as exact text lengths,
    * valid because extraction is byte-invertible on this corpus).
    */
  def extractJobLedger(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dayMs = 86400000L
    val baseMs = 1735689600000L // 2025-01-01T00:00:00Z
    val pages = DocPages.docs(spark, dir).map { d =>
      graft.model.PageRow(s"doc://h/${d.doc_id}",
        new java.sql.Timestamp(baseMs + (d.doc_id % 4) * dayMs), DocPages.html(d.text, d), "", d.lang)
    }.toDF()
    val out = java.nio.file.Files.createTempDirectory("ej_out")
    val led = java.nio.file.Files.createTempDirectory("ej_led")
    try {
      graft.pipeline.ExtractJob.run(spark,
        pages.filter(col("warc_ts") < lit("2025-01-03")), out.toString, led.toString)
      val r2 = graft.pipeline.ExtractJob.run(spark, pages, out.toString, led.toString)
      require(r2.daysSkipped == 2,
        s"resume must skip the 2 committed days, skipped ${r2.daysSkipped}")
      graft.pipeline.Ledger.committed(led.toString).values.toSeq
        .map(e => (e.partition.stripPrefix("p_day="), e.rows, e.chars, e.errors, e.snapshot))
        .toDF("day", "rows", "chars", "errors", "snapshot")
        .localCheckpoint(true) // detach from the temp dirs before cleanup
    } finally {
      graft.streaming.StreamingOps.rmTree(out); graft.streaming.StreamingOps.rmTree(led)
    }
  }

  val extractJobLedgerSql: String =
    """SELECT '2025-01-0' || (doc_id % 4 + 1) AS day,
      |  CAST(count(*) AS BIGINT) AS rows,
      |  CAST(sum(len(text)) AS BIGINT) AS chars,
      |  CAST(0 AS BIGINT) AS errors,
      |  CAST(CASE WHEN doc_id % 4 < 2 THEN 1 ELSE 2 END AS BIGINT) AS snapshot
      |FROM documents GROUP BY 1, 5""".stripMargin

  /** HTML page with the text split into 40-word paragraphs; extraction
    * re-joins blocks with '\n'. The oracle reproduces the chunking in SQL
    * (keep the grouping formula in sync with DocPages.chunkWords).
    */
  def extractHtmlChunked(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, DocPages.htmlChunked(spark, dir))
      .select(col("doc_id"), col("extracted_text"))

  val extractHtmlChunkedSql: String =
    """WITH w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws FROM documents),
      |t AS (SELECT doc_id, generate_subscripts(ws, 1) AS ord, unnest(ws) AS word FROM w),
      |c AS (SELECT doc_id, (ord - 1) // 40 AS g, string_agg(word, ' ' ORDER BY ord) AS chunk
      |  FROM t GROUP BY doc_id, (ord - 1) // 40)
      |SELECT doc_id, string_agg(chunk, chr(10) ORDER BY g) AS extracted_text
      |FROM c GROUP BY doc_id""".stripMargin

  /** PDF (uncompressed content stream) → text via the PDF kernel. */
  def extractPdf(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, DocPages.pdfSingle(spark, dir, compress = false))
      .select(col("doc_id"), col("extracted_text"))

  /** PDF with FlateDecode-compressed content stream. */
  def extractPdfFlate(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, DocPages.pdfSingle(spark, dir, compress = true))
      .select(col("doc_id"), col("extracted_text"))

  val extractPdfSql: String =
    "SELECT CAST(doc_id AS BIGINT) AS doc_id, text AS extracted_text FROM documents"

  /** PDF content streams through declared filter chains (PNG/TIFF
    * predictor Flate, ASCIIHex→Flate, RunLength); identity oracle — a
    * silent predictor failure would corrupt every 4th-row document.
    */
  def extractPdfFilters(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, DocPages.pdfFiltered(spark, dir))
      .select(col("doc_id"), col("extracted_text"))

  /** WARC ingestion end-to-end: docs are packed into WARC/1.0 files
    * (warcinfo + request + response/resource records; plain, chunked and
    * gzip-content-encoded HTTP bodies; odd files as per-member .warc.gz),
    * the WARC kernel explodes files back into pages with zero shuffle,
    * and the HTML kernel extracts — identity oracle, so a dropped or
    * mis-bodied record of ANY mode fails the hash.
    */
  def extractWarc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pages = DocPages.warcFiles(spark, dir).flatMap { case (_, bytes) =>
      graft.kernels.WarcKernel.split(bytes)
        // payload-bearing record types only: revisit records (now
        // surfaced by the reader for the dedup path) carry no body and
        // must not become empty pages here
        .filter(p => p.error == null && p.url != null && p.recType != "revisit")
        .map(p => graft.model.PageRow(p.url, p.ts, p.body, "", "en"))
    }
    extracted(spark, pages).select(col("doc_id"), col("extracted_text"))
  }

  /** Resource record (payload = text) + its revisit record, shared by
    * the revisit, CDX-offset and gz-member queries.
    */
  private def docRecords(d: Long, text: String): Seq[Array[Byte]] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val url = s"http://host${d % 20}.example/p$d.html"
    val digest = "md5:" + java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes(utf8)).map(b => f"${b & 0xff}%02x").mkString
    Seq(
      PagesGen.warcRecord(Seq("WARC-Type" -> "resource", "WARC-Target-URI" -> url,
        "WARC-Date" -> "2024-01-01T00:00:00Z"), text.getBytes(utf8)),
      PagesGen.warcRecord(Seq("WARC-Type" -> "revisit", "WARC-Target-URI" -> s"$url?recrawl",
        "WARC-Date" -> "2024-02-01T00:00:00Z", "WARC-Refers-To-Target-URI" -> s"<$url>",
        "WARC-Payload-Digest" -> digest), Array.emptyByteArray))
  }

  /** The records joined by CRLFCRLF, with none after the last: the
    * `q_warc_cdx_offsets` oracle pins these extents.
    */
  private def twoRecordArchive(d: Long, text: String): Array[Byte] =
    docRecords(d, text).reduce(_ ++ PagesGen.WarcSep ++ _)

  /** Per-member `.warc.gz` (the real Common Crawl layout: one gzip
    * member per record, trailing CRLFCRLF inside the member).
    */
  private def twoMemberGzArchive(d: Long, text: String): Array[Byte] =
    PagesGen.warcArchive(docRecords(d, text), gzipMembers = true)

  /** WARC revisit records — Common Crawl's digest-dedup at the archive
    * layer: a re-crawl whose payload matched an earlier capture ships a
    * headers-only `revisit` record pointing at the canonical capture
    * via WARC-Refers-To-Target-URI + WARC-Payload-Digest. The reader
    * must surface BOTH records — the resource byte-identically
    * (identity oracle leg) and the revisit's pointer and digest, which
    * the oracle recomputes independently (DuckDB md5).
    */
  def warcRevisit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id", "text")
      .as[(Long, String)]
      .mapPartitions(_.map { case (d, text) =>
        val pages = graft.kernels.WarcKernel.split(twoRecordArchive(d, text)).toVector
        val resource = pages.find(_.recType == "resource")
        val revisit = pages.find(_.recType == "revisit")
        (d,
          resource.map(p => new String(p.body,
            java.nio.charset.StandardCharsets.UTF_8)).getOrElse(""),
          revisit.map(_.refersTo).getOrElse(""),
          revisit.map(_.payloadDigest).getOrElse(""))
      })
      .toDF("doc_id", "resp_text", "rev_refers", "rev_digest")
  }

  /** CDX-style record extents: the reader reports each record's
    * (offset, length) in the archive — what a wayback-style lookup
    * serves so a client can range-read ONE record from a 1 GB warc.
    * The oracle reconstructs both headers' exact byte lengths from the
    * same string arithmetic the builder uses, so an off-by-one anywhere
    * in the record framing fails the hash.
    */
  def warcCdxOffsets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id", "text")
      .as[(Long, String)]
      .flatMap { case (d, text) =>
        graft.kernels.WarcKernel.split(twoRecordArchive(d, text))
          .map(p => (d, p.recType, p.offset, p.recLen))
      }
      .toDF("doc_id", "rec_type", "offset", "rec_len")
  }

  val warcCdxOffsetsSql: String =
    """WITH b AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
      |    'http://host' || (doc_id % 20) || '.example/p' || doc_id || '.html' AS url,
      |    chr(13) || chr(10) AS crlf
      |  FROM documents),
      |h0 AS (SELECT doc_id, url, crlf, text,
      |    -- BYTE length (UTF-8), not character count: Content-Length and
      |    -- the kernel's extents are octets, and len() diverges from
      |    -- octet_length() on any non-ASCII doc text
      |    octet_length(encode(text)) AS tb FROM b),
      |h AS (SELECT doc_id,
      |    octet_length(encode('WARC/1.0' || crlf || 'WARC-Type: resource' || crlf ||
      |        'WARC-Target-URI: ' || url || crlf ||
      |        'WARC-Date: 2024-01-01T00:00:00Z' || crlf ||
      |        'Content-Length: ' || tb || crlf || crlf)) + tb AS len1,
      |    octet_length(encode('WARC/1.0' || crlf || 'WARC-Type: revisit' || crlf ||
      |        'WARC-Target-URI: ' || url || '?recrawl' || crlf ||
      |        'WARC-Date: 2024-02-01T00:00:00Z' || crlf ||
      |        'WARC-Refers-To-Target-URI: <' || url || '>' || crlf ||
      |        'WARC-Payload-Digest: md5:' || md5(text) || crlf ||
      |        'Content-Length: 0' || crlf || crlf)) AS len2
      |  FROM h0)
      |SELECT doc_id, 'resource' AS rec_type,
      |  CAST(0 AS BIGINT) AS offset, CAST(len1 AS BIGINT) AS rec_len FROM h
      |UNION ALL
      |SELECT doc_id, 'revisit' AS rec_type,
      |  CAST(len1 + 4 AS BIGINT) AS offset, CAST(len2 AS BIGINT) AS rec_len FROM h""".stripMargin

  /** Compressed-member CDX extents under the oracle gate: each doc packs
    * into a per-member `.warc.gz` (resource + revisit, one gzip member
    * each), the reader reports every record's COMPRESSED `(gzOffset,
    * gzLen)`, and the query then does exactly what a wayback-style
    * client does — range-reads that byte slice out of the archive,
    * gunzips it ALONE, and parses the single record back. The oracle
    * pins the recovered payload (resource → original text, revisit →
    * its refers-to URL) plus an extents invariant (members tile the
    * archive exactly: start at 0, contiguous, end at file length), so a
    * wrong offset or length anywhere fails the hash. DuckDB cannot
    * recompute gzip lengths — the range-read roundtrip is what puts the
    * extents themselves under the gate.
    */
  def warcGzMembers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id", "text")
      .as[(Long, String)]
      .flatMap { case (d, text) =>
        // resolved inside the task: java Charset is not Serializable
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        val archive = twoMemberGzArchive(d, text)
        val pages = graft.kernels.WarcKernel.split(archive).toVector
        val extents = pages.map(p => (p.gzOffset, p.gzLen))
        val tiles = extents.size == 2 &&
          extents(0)._1 == 0L &&
          extents(0)._1 + extents(0)._2 == extents(1)._1 &&
          extents(1)._1 + extents(1)._2 == archive.length.toLong
        pages.zipWithIndex.map { case (p, i) =>
          val slice = java.util.Arrays.copyOfRange(
            archive, p.gzOffset.toInt, (p.gzOffset + p.gzLen).toInt)
          val again = graft.kernels.WarcKernel.split(slice).toVector
          val ok = tiles && again.size == 1 && again.head.error == null &&
            again.head.recType == p.recType
          val rangeText = again.headOption.map { q =>
            if (q.recType == "revisit") q.refersTo else new String(q.body, utf8)
          }.getOrElse("")
          (d, p.recType, i.toLong, rangeText, ok)
        }
      }
      .toDF("doc_id", "rec_type", "member_ord", "range_text", "range_read_ok")
  }

  val warcGzMembersSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id, 'resource' AS rec_type,
      |  CAST(0 AS BIGINT) AS member_ord, text AS range_text,
      |  true AS range_read_ok
      |FROM documents
      |UNION ALL
      |SELECT CAST(doc_id AS BIGINT), 'revisit', CAST(1 AS BIGINT),
      |  'http://host' || (doc_id % 20) || '.example/p' || doc_id || '.html',
      |  true
      |FROM documents""".stripMargin

  val warcRevisitSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  text AS resp_text,
      |  'http://host' || (doc_id % 20) || '.example/p' || doc_id || '.html' AS rev_refers,
      |  'md5:' || md5(text) AS rev_digest
      |FROM documents""".stripMargin

  /** Encrypted PDFs (RC4-40/RC4-128/AES-128/AES-256 by doc_id%4) with an
    * empty user password: the kernel validates /U, derives per-object
    * keys and decrypts transparently; identity oracle — any handshake or
    * crypto slip corrupts every row of its mode class.
    */
  def extractPdfEncrypted(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, DocPages.pdfEncrypted(spark, dir))
      .select(col("doc_id"), col("extracted_text"))

  /** Multi-page PDF → one combined document: the kernel emits one page
    * per PDF page object, ExtractKernel.extract '\n'-joins them in page
    * order and reports page_count — the reference's `{page_count, pages:[...]}`
    * rollup (api.py:261-269) under the DuckDB oracle end-to-end.
    */
  def extractPdfMultipage(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, DocPages.pdfMulti(spark, dir))
      .select(col("doc_id"), col("page_count"), col("extracted_text"))

  val extractPdfMultipageSql: String =
    """WITH w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws FROM documents),
      |t AS (SELECT doc_id, generate_subscripts(ws, 1) AS ord, unnest(ws) AS word FROM w),
      |c AS (SELECT doc_id, (ord - 1) // 40 AS g, string_agg(word, ' ' ORDER BY ord) AS chunk
      |  FROM t GROUP BY doc_id, (ord - 1) // 40)
      |SELECT doc_id, CAST(count(*) AS INT) AS page_count,
      |  string_agg(chunk, chr(10) ORDER BY g) AS extracted_text
      |FROM c GROUP BY doc_id""".stripMargin

  /** Multi-page PDF with REVERSED object file order: identical oracle to
    * the multipage query — green only if page order comes from the page
    * tree, not the stream scan.
    */
  def extractPdfScrambled(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, DocPages.pdfScrambled(spark, dir))
      .select(col("doc_id"), col("page_count"), col("extracted_text"))

  /** WinAnsi font-encoding round trip: 0x80-0x9F glyph bytes (euro,
    * em-dash, oe ligature) must decode through the font's /Encoding
    * table; identity-plus-prefix oracle like the Arabic wrap.
    */
  def extractPdfWinAnsi(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, DocPages.pdfWinAnsi(spark, dir))
      .select(col("doc_id"), col("extracted_text"))

  val extractPdfWinAnsiSql: String =
    "SELECT CAST(doc_id AS BIGINT) AS doc_id, '\u20ac \u2014 \u00ab\u0153uvre\u00bb ' || text AS extracted_text FROM documents"

  /** Type0/Identity-H + ToUnicode CMap round trip at corpus level: every
    * character travels as a 2-byte CID and returns byte-identically
    * (Arabic prefix included) — the modern Unicode-PDF path under the
    * DuckDB oracle.
    */
  def extractPdfCid(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, DocPages.pdfCid(spark, dir))
      .select(col("doc_id"), col("extracted_text"))

  val extractPdfCidSql: String =
    "SELECT CAST(doc_id AS BIGINT) AS doc_id, 'نص ' || text AS extracted_text FROM documents"

  /** windows-1252 page bytes with meta-declared charset (both the
    * `<meta charset>` and `http-equiv` + ISO-8859-1-label forms): the
    * kernel must sniff + decode through the WHATWG label table before
    * extraction; identity-plus-prefix oracle like the WinAnsi PDF wrap.
    */
  def extractWin1252(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, DocPages.htmlWin1252(spark, dir))
      .select(col("doc_id"), col("extracted_text"))

  val extractWin1252Sql: String =
    "SELECT CAST(doc_id AS BIGINT) AS doc_id, '€ — «œuvre» ™ ' || text AS extracted_text FROM documents"

  /** BOM-prefixed UTF-16 page bytes (LE/BE by parity) with a decoy
    * `<meta charset="utf-8">` inside: the BOM must outrank the
    * declaration; identity-plus-prefix oracle.
    */
  def extractUtf16(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, DocPages.htmlUtf16(spark, dir))
      .select(col("doc_id"), col("extracted_text"))

  val extractUtf16Sql: String =
    "SELECT CAST(doc_id AS BIGINT) AS doc_id, 'Ωμέγα — ' || text AS extracted_text FROM documents"

  /** gzip transport bodies (html inside on even ids, PDF inside on odd):
    * transparent gunzip before content sniffing; identity oracle with
    * the recovered kind under compare.
    */
  def extractGzip(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, DocPages.gzipped(spark, dir))
      .select(col("doc_id"), col("doc_kind"), col("extracted_text"))

  val extractGzipSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CASE CAST(doc_id % 2 AS INT) WHEN 0 THEN 'html' ELSE 'pdf' END AS doc_kind,
      |  text AS extracted_text FROM documents""".stripMargin

  /** zstd transport variant — same payload routing as [[extractGzip]],
    * zstd frame outside; oracle is the identical projection.
    */
  def extractZstd(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, DocPages.zstded(spark, dir))
      .select(col("doc_id"), col("doc_kind"), col("extracted_text"))

  /** Empty-html rows take the crawl-text passthrough branch. */
  def extractPassthrough(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, DocPages.passthrough(spark, dir))
      .select(col("doc_id"), col("doc_kind"), col("extracted_text"))

  val extractPassthroughSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id, 'passthrough' AS doc_kind,
      |  text AS extracted_text FROM documents""".stripMargin

  /** Content-sniffing dispatch: doc_id%3 routes html/pdf/passthrough; all
    * three branches must recover the identical text.
    */
  def extractMixed(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, DocPages.mixed(spark, dir))
      .select(col("doc_id"), col("doc_kind"), col("extracted_text"))

  val extractMixedSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'html' WHEN 1 THEN 'pdf' ELSE 'passthrough' END AS doc_kind,
      |  text AS extracted_text FROM documents""".stripMargin

  /** Span invariants surfaced relationally: span count and total span
    * chars (blocks exclude the '\n' separators).
    */
  def extractSpans(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, DocPages.htmlChunked(spark, dir))
      .selectExpr(
        "doc_id",
        "cast(size(spans) as long) as n_spans",
        // blocks join with '\n', so total span chars = text minus separators
        "cast(length(extracted_text) - (size(spans) - 1) as long) as span_chars")

  val extractSpansSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  (len(string_split(text, ' ')) + 39) // 40 AS n_spans,
      |  CAST(length(text) AS BIGINT) - ((len(string_split(text, ' ')) + 39) // 40 - 1) AS span_chars
      |FROM documents""".stripMargin

  /** Same HTML extraction, but through the SQL-callable native Catalyst
    * expression (graft.functions.ExtractMainText) instead of the
    * mapPartitions kernel — proves the FunctionRegistry/extensions path
    * produces byte-identical text.
    */
  def extractSqlExpr(spark: SparkSession, dir: String): DataFrame = {
    DocPages.htmlSingle(spark, dir).toDF()
      .selectExpr(
        "cast(substring_index(url, '/', -1) as long) as doc_id",
        "extract_main_text(html) as extracted_text")
  }

  /** The expression-only fast path (ExtractPipeline.extractText — no
    * Dataset encoder) over the same wrapped corpus; identity oracle.
    */
  def extractFastpath(spark: SparkSession, dir: String): DataFrame =
    ExtractPipeline.extractText(spark, DocPages.htmlSingle(spark, dir).toDF())
      .selectExpr(
        "cast(substring_index(url, '/', -1) as long) as doc_id",
        "text as extracted_text")

  /** Arabic/RTL round trip through the real kernel (UTF-8 multi-byte in
    * the html binary column end-to-end); identity-plus-prefix oracle.
    */
  def extractArabic(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, DocPages.htmlArabic(spark, dir))
      .select(col("doc_id"), col("extracted_text"))

  val extractArabicSql: String =
    "SELECT CAST(doc_id AS BIGINT) AS doc_id, 'نص تجريبي — ' || text AS extracted_text FROM documents"

  /** Struct-returning `extract_doc` expression over the mixed wrap: one
    * codegen'd call yields text + n_chars + sniffed kind for all three
    * dispatch branches; crawl text fills the passthrough branch.
    */
  def extractDocStruct(spark: SparkSession, dir: String): DataFrame = {
    DocPages.mixed(spark, dir).toDF()
      .selectExpr(
        "cast(substring_index(url, '/', -1) as long) as doc_id",
        "extract_doc(html) as d", "text as crawl_text")
      .selectExpr("doc_id",
        "coalesce(d.text, case when crawl_text <> '' then crawl_text end) as extracted_text",
        "d.kind as kind")
  }

  val extractDocStructSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id, text AS extracted_text,
      |  CASE CAST(doc_id AS BIGINT) % 3 WHEN 0 THEN 'html' WHEN 1 THEN 'pdf'
      |    ELSE 'passthrough' END AS kind
      |FROM documents""".stripMargin

  /** Structured table harvest ([[graft.kernels.TableKernel]]): top-level
    * table cells as (row, col, text, header) records from deterministic
    * table-bearing pages — header row, entity + whitespace collapse in
    * cells, and a nested layout table the kernel must skip are all
    * load-bearing for the arithmetic oracle. Narrow per-row kernel
    * flatMap; at crawl scale the page never shuffles.
    */
  def htmlTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as d").as[Long]
      .flatMap { d =>
        graft.kernels.TableKernel.extract(graft.gen.MetaGen.tableHtml(d))
          .map(c => (d, c.row.toLong, c.col.toLong, c.text, c.header))
      }
      .toDF("doc_id", "row_idx", "col_idx", "cell", "is_header")
  }

  val htmlTableSql: String =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |                  2 + doc_id % 2 AS c, 2 + doc_id % 3 AS r
      |           FROM documents),
      |rw AS (SELECT doc_id, c, unnest(range(0, r + 1)) AS ri FROM d),
      |cl AS (SELECT doc_id, ri, unnest(range(0, c)) AS ci FROM rw)
      |SELECT doc_id, CAST(ri AS BIGINT) AS row_idx, CAST(ci AS BIGINT) AS col_idx,
      |  CASE WHEN ri = 0 THEN 'h' || ci
      |       WHEN ri = 1 AND ci = 0 THEN 'x & y' || doc_id
      |       ELSE 'v' || doc_id || '_' || ri || '_' || ci END AS cell,
      |  ri = 0 AS is_header
      |FROM cl""".stripMargin

  /** WET writer round-trip: each partition's documents serialize into
    * ONE multi-record WARC `conversion` buffer (WarcKernel
    * .writeConversion — the Common Crawl extracted-text layout) and
    * parse back through the SAME reader the ingest path uses; the
    * oracle is the identity projection, so any header/length/payload
    * byte drift fails the hash. In-row kernel work, zero shuffle: the
    * refinery's output stage is as distributable as its input stage.
    */
  def wetRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id", "text")
      .as[(Long, String)]
      .mapPartitions { it =>
        it.grouped(512).flatMap { batch =>
          val bytes = graft.kernels.WarcKernel.writeConversion(
            batch.iterator.map { case (d, t) =>
              (s"http://host${d % 50}.example/p$d",
                new java.sql.Timestamp(1736208000000L + d * 1000L), t)
            })
          val pages = graft.kernels.WarcKernel.split(bytes).toVector
          require(pages.size == batch.size && pages.forall(_.error == null),
            s"wet round-trip lost records: ${batch.size} in, ${pages.size} out")
          batch.zip(pages).map { case ((d, _), p) =>
            (d, p.url, new String(p.body, java.nio.charset.StandardCharsets.UTF_8),
              p.recType)
          }
        }
      }
      .toDF("doc_id", "url", "text", "rec_type")
  }

  val wetRoundtripSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  'http://host' || (doc_id % 50) || '.example/p' || doc_id AS url,
      |  text, 'conversion' AS rec_type
      |FROM documents""".stripMargin

  /** Failure-mode census: a crawl-shaped corpus where 3 of 5 row classes
    * are degenerate (corrupt gzip transport, truncated PDF object graph,
    * empty body) — every one must come back as a TAGGED ERROR ROW (or an
    * honest 'empty' kind), never a task failure, and the per-(kind,
    * error) counts are pinned by an arithmetic oracle. This puts the
    * poison-pill/honest-error contract under the driver's hash gate,
    * not just under specs.
    */
  def extractErrorCensus(spark: SparkSession, dir: String): DataFrame =
    ExtractPipeline.extract(spark, DocPages.errorMix(spark, dir).toDF())
      .toDF()
      .selectExpr("doc_kind", "coalesce(error, 'ok') as error")
      .groupBy("doc_kind", "error")
      .agg(count(lit(1)).cast("long").as("n"))

  val extractErrorCensusSql: String =
    """WITH c AS (SELECT doc_id % 5 AS cls FROM documents)
      |SELECT CASE cls WHEN 0 THEN 'html' WHEN 1 THEN 'html' WHEN 2 THEN 'pdf'
      |                WHEN 3 THEN 'empty' ELSE 'passthrough' END AS doc_kind,
      |  CASE cls WHEN 1 THEN 'gzip_corrupt' WHEN 2 THEN 'pdf_empty'
      |           ELSE 'ok' END AS error,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM c GROUP BY 1, 2""".stripMargin

  /** The whole crawl-to-corpus pass in ONE oracle-checked plan: real
    * HTML bytes → the real extraction kernel → length gate → exact
    * dedup keep-rule, certifying the STAGES COMPOSE under the
    * byte-identity contract (the oracle computes gates/dedup from the
    * original text directly, so one mis-extracted byte flips a
    * fingerprint and fails the hash compare — gate parity is only as
    * good as the extraction it stands on).
    *
    * Scale shape: the extracted text never rides a shuffle — the dedup
    * exchange carries (fp, doc_id, n_words) only, and the keep-rule
    * joins back on the 32-hex fp.
    */
  def crawlToCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = extracted(spark, DocPages.htmlSingle(spark, dir))
      .selectExpr(
        "doc_id",
        "cast(size(split(extracted_text, ' ')) as long) as n_words",
        "md5(cast(extracted_text as binary)) as fp")
      .localCheckpoint(true)
    val canon = base.where("n_words >= 25")
      .groupBy("fp").agg(min("doc_id").as("canonical_id"))
    base.join(canon, Seq("fp"), "left").selectExpr(
      "doc_id",
      "n_words",
      """case when n_words < 25 then 'short'
        |     when doc_id = canonical_id then 'keep'
        |     else 'dup' end as action""".stripMargin,
      "cast(coalesce(canonical_id, doc_id) as long) as canonical_id")
  }

  val crawlToCorpusSql: String =
    """WITH b AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    md5(text) AS fp
      |  FROM documents),
      |c AS (SELECT fp, min(doc_id) AS canonical_id
      |      FROM b WHERE n_words >= 25 GROUP BY fp)
      |SELECT b.doc_id, b.n_words,
      |  CASE WHEN b.n_words < 25 THEN 'short'
      |       WHEN b.doc_id = c.canonical_id THEN 'keep'
      |       ELSE 'dup' END AS action,
      |  CAST(coalesce(c.canonical_id, b.doc_id) AS BIGINT) AS canonical_id
      |FROM b LEFT JOIN c USING (fp)""".stripMargin

  /** THE COMPOSED CORPUS-BUILD PIPELINE under one gate (r4 ask #6):
    * fetch gate → extract → exact dedup → near dedup → quality gate →
    * temperature mix → shard assignment, chained in a single query so
    * stage-BOUNDARY drift (schema, ordering, survivor sets) fails the
    * hash — each leg is already green standalone; this gates their
    * composition.
    *
    * Legs (every one the standalone query's exact mechanism):
    *  1. fetch gate: the REAL robots/meta compliance verdict
    *     ([[graft.kernels.LinkKernel]] over the link fixtures — the
    *     `q_robots_gate` rotation: every 7th url is non-indexable and
    *     never reaches the fetcher);
    *  2. extract: TWO captures per admitted url (a recrawl) through the
    *     REAL extraction kernel — capture 1 re-serves byte-identical
    *     content (doc_id%3=0), appends ' rev2' (%3=1, same 10-token
    *     prefix), or prepends new leading content (%3=2, genuinely new);
    *  3. exact dedup on md5 of the EXTRACTED bytes, min-(doc_id,capture)
    *     keeper via partial-agg'd min_by (kills the %3=0 re-serves);
    *  4. near dedup on the first-10-token prefix key (kills the %3=1
    *     revisions; the %3=2 captures shift the prefix and survive);
    *  5. quality gate: 20 ≤ n_tokens ≤ 2000 (map-side filter);
    *  6. temperature mix: α=1/2 quotas per source×length-band component,
    *     largest-remainder rounding to exactly B=1000 (`q_mix_temperature`);
    *  7. shard assignment: 512-token prefix-sum packing WITHIN each
    *     component (`q_token_shards`' two-phase scan degenerates to a
    *     component-partitioned window here — every component packs in
    *     parallel, no global ordered window).
    *
    * 100 TB shape: gate+extract are narrow kernel maps; the two dedups
    * are partial-agg'd groupBys on 16-byte digests; the mix windows run
    * over the COMPONENT table; the packing window partitions by
    * component. The only corpus-wide exchanges are the two digest
    * groupBys and the component join — nothing sorts globally.
    */
  def corpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ts0 = new java.sql.Timestamp(1735689600000L)
    // leg 1: fetch gate (real compliance kernel)
    val admitted = DocPages.docs(spark, dir).filter { d =>
      graft.kernels.LinkKernel.extract(
        graft.gen.LinkGen.pageHtml(d.doc_id), graft.gen.LinkGen.pageUrl(d.doc_id)).indexable
    }
    // leg 2: two captures per url through the real extractor; capture
    // rides the url's trailing id as doc_id*2+capture
    val pages = admitted.flatMap { d =>
      Seq(0L, 1L).map { cap =>
        val body =
          if (cap == 0L) d.text
          else (d.doc_id % 3) match {
            case 0 => d.text
            case 1 => d.text + " rev2"
            case _ => "zz " + d.text
          }
        graft.model.PageRow(s"doc://pp/${d.doc_id * 2 + cap}", ts0, DocPages.html(body, d), "", d.lang)
      }
    }
    val meta = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id", "source")
    val ext = extracted(spark, pages)
      .selectExpr("doc_id div 2 as doc_id", "doc_id % 2 as capture", "extracted_text")
      .join(meta, Seq("doc_id")) // url-keyed metadata join, standard shape
      .selectExpr("doc_id", "capture", "source",
        "md5(cast(extracted_text as binary)) as fp",
        "md5(cast(array_join(slice(split(extracted_text, ' '), 1, 10), ' ') as binary)) as nk",
        "cast(size(split(extracted_text, ' ')) as long) as n_tokens",
        "doc_id * 2 + capture as k")
    // legs 3+4: exact then near dedup, min-key keeper, partial-agg'd
    def keepMin(df: DataFrame, key: String): DataFrame =
      df.groupBy(col(key))
        .agg(min_by(struct(df.columns.map(col): _*), col("k")).as("r"))
        .select(col("r.*"))
    val deduped = keepMin(keepMin(ext, "fp"), "nk")
    // leg 5: quality gate
    val survivors = deduped.where("n_tokens between 20 and 2000")
      .selectExpr("doc_id", "capture", "source", "n_tokens",
        "concat(source, '#', cast(least(n_tokens div 40, 5) as string)) as component")
      .localCheckpoint(true) // feeds both the mix stats and the packing
    // leg 6: temperature quotas over the component table
    val b = 1000L
    val quotas = survivors.groupBy("component")
      .agg(count(lit(1)).cast("long").as("n_docs"))
      .selectExpr("component", "n_docs",
        "cast(floor(sqrt(cast(n_docs as double) * 1000000.0D)) as bigint) as w")
      .withColumn("tw", sum("w").over(Window.partitionBy()))
      .selectExpr("component", "n_docs", "w",
        s"($b * w) div tw as base", s"($b * w) % tw as rem")
      .withColumn("deficit", lit(b) - sum("base").over(Window.partitionBy()))
      .withColumn("rk", row_number().over(
        Window.partitionBy().orderBy(desc("rem"), asc("component"))))
      .selectExpr("component",
        "cast(base + (case when rk <= deficit then 1 else 0 end) as long) as quota")
    // leg 7: 512-token shard packing within each component
    survivors
      .withColumn("pre", coalesce(
        sum("n_tokens").over(
          Window.partitionBy("component").orderBy("doc_id", "capture")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(broadcast(quotas), Seq("component"))
      .selectExpr("doc_id", "capture", "source", "component", "n_tokens",
        "quota", "cast(pre div 512 as long) as shard_id")
  }

  val corpusPipelineSql: String =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source, text
      |  FROM documents WHERE doc_id % 7 <> 0),
      |caps AS (
      |  SELECT doc_id, source, 0::BIGINT AS capture, text AS et FROM d
      |  UNION ALL
      |  SELECT doc_id, source, 1::BIGINT,
      |    CASE doc_id % 3 WHEN 0 THEN text WHEN 1 THEN text || ' rev2'
      |         ELSE 'zz ' || text END
      |  FROM d),
      |ex AS (SELECT doc_id, capture, source,
      |    md5(et) AS fp,
      |    md5(array_to_string(list_slice(string_split(et, ' '), 1, 10), ' ')) AS nk,
      |    CAST(len(string_split(et, ' ')) AS BIGINT) AS n_tokens,
      |    doc_id * 2 + capture AS k
      |  FROM caps),
      |e1 AS (SELECT * FROM (SELECT *, min(k) OVER (PARTITION BY fp) AS k1 FROM ex)
      |  WHERE k = k1),
      |e2 AS (SELECT * FROM (SELECT *, min(k) OVER (PARTITION BY nk) AS k2 FROM e1)
      |  WHERE k = k2),
      |surv AS (SELECT doc_id, capture, source, n_tokens,
      |    source || '#' || least(n_tokens // 40, 5) AS component
      |  FROM e2 WHERE n_tokens BETWEEN 20 AND 2000),
      |cstat AS (SELECT component, CAST(count(*) AS BIGINT) AS n_docs FROM surv GROUP BY 1),
      |wt AS (SELECT component, n_docs,
      |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE) * 1000000.0)) AS BIGINT) AS w
      |  FROM cstat),
      |q AS (SELECT component, n_docs, w,
      |    (1000 * w) // sum(w) OVER () AS base,
      |    (1000 * w) % sum(w) OVER () AS rem
      |  FROM wt),
      |quot AS (SELECT component,
      |    CAST(base + (CASE WHEN row_number() OVER (ORDER BY rem DESC, component)
      |        <= 1000 - sum(base) OVER () THEN 1 ELSE 0 END) AS BIGINT) AS quota
      |  FROM q)
      |SELECT s.doc_id, s.capture, s.source, s.component, s.n_tokens, quot.quota,
      |  CAST(coalesce(sum(s.n_tokens) OVER (PARTITION BY s.component
      |      ORDER BY s.doc_id, s.capture ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    0) // 512 AS BIGINT) AS shard_id
      |FROM surv s JOIN quot USING (component)""".stripMargin

  def registry: Map[String, Gated] = Map(
    "q_corpus_pipeline" -> Gated(corpusPipeline(_, _), corpusPipelineSql),
    "q_crawl_to_corpus" -> Gated(crawlToCorpus(_, _), crawlToCorpusSql),
    "q_extract_error_census" -> Gated(extractErrorCensus(_, _), extractErrorCensusSql),
    "q_extract_doc_struct" -> Gated(extractDocStruct(_, _), extractDocStructSql),
    "q_extract_arabic" -> Gated(extractArabic(_, _), extractArabicSql),
    "q_extract_fastpath" -> Gated(extractFastpath(_, _), extractHtmlSql),
    "q_extract_sql_expr" -> Gated(extractSqlExpr(_, _), extractHtmlSql),
    "q_extract_html" -> Gated(extractHtml(_, _), extractHtmlSql),
    "q_incremental_extract" -> Gated(incrementalExtract(_, _), incrementalExtractSql),
    "q_extract_job_ledger" -> Gated(extractJobLedger(_, _), extractJobLedgerSql),
    "q_extract_html_chunked" -> Gated(extractHtmlChunked(_, _), extractHtmlChunkedSql),
    "q_extract_pdf" -> Gated(extractPdf(_, _), extractPdfSql),
    "q_extract_pdf_flate" -> Gated(extractPdfFlate(_, _), extractPdfSql),
    "q_extract_pdf_filters" -> Gated(extractPdfFilters(_, _), extractPdfSql),
    "q_extract_pdf_encrypted" -> Gated(extractPdfEncrypted(_, _), extractPdfSql),
    "q_extract_warc" -> Gated(extractWarc(_, _), extractHtmlSql),
    "q_warc_revisit" -> Gated(warcRevisit(_, _), warcRevisitSql),
    "q_warc_cdx_offsets" -> Gated(warcCdxOffsets(_, _), warcCdxOffsetsSql),
    "q_warc_gz_members" -> Gated(warcGzMembers(_, _), warcGzMembersSql),
    "q_extract_pdf_multipage" -> Gated(extractPdfMultipage(_, _), extractPdfMultipageSql),
    "q_extract_pdf_scrambled" -> Gated(extractPdfScrambled(_, _), extractPdfMultipageSql),
    "q_extract_pdf_winansi" -> Gated(extractPdfWinAnsi(_, _), extractPdfWinAnsiSql),
    "q_extract_pdf_cid" -> Gated(extractPdfCid(_, _), extractPdfCidSql),
    "q_extract_passthrough" -> Gated(extractPassthrough(_, _), extractPassthroughSql),
    "q_extract_mixed" -> Gated(extractMixed(_, _), extractMixedSql),
    "q_extract_spans" -> Gated(extractSpans(_, _), extractSpansSql),
    "q_extract_win1252" -> Gated(extractWin1252(_, _), extractWin1252Sql),
    "q_extract_utf16" -> Gated(extractUtf16(_, _), extractUtf16Sql),
    "q_extract_gzip" -> Gated(extractGzip(_, _), extractGzipSql),
    "q_extract_zstd" -> Gated(extractZstd(_, _), extractGzipSql),
    "q_html_table" -> Gated(htmlTable(_, _), htmlTableSql),
    "q_wet_roundtrip" -> Gated(wetRoundtrip(_, _), wetRoundtripSql))
}
