package graft.ops

import graft.gen.PagesGen
import graft.model.PageRow
import org.apache.spark.sql.{Dataset, SparkSession}
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

/** Adapters that turn the driver's `documents` oracle table into
  * north-rule-shaped `pages` rows (url, warc_ts, html, text, lang) with
  * deterministic HTML/PDF payloads, so the extraction kernel itself is
  * verifiable by the DuckDB oracle: wrapping is exactly invertible, so
  * `extract(wrap(text)) == text` byte-for-byte and the oracle is a plain
  * projection of `documents` (SURVEY §7.5 correctness contract).
  */
object DocPages {

  private val Ts0 = new Timestamp(1735689600000L) // 2025-01-01T00:00:00Z

  final case class Doc(doc_id: Long, text: String, lang: String)

  def docs(spark: SparkSession, dir: String): Dataset[Doc] = {
    import spark.implicits._
    // Small-SF parquet arrives as ONE split, which would run the wrap
    // kernels (fixture-side PDF/WARC/crypto builders, some ms/doc)
    // single-threaded; spread them across the cluster first. The
    // extraction pipeline repartitions by url-hash downstream anyway,
    // so this adds parallelism, not an extra exchange in the plan that
    // matters.
    val df = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id", "text", "lang")
    val par = spark.sparkContext.defaultParallelism
    (if (df.rdd.getNumPartitions < par) df.repartition(par) else df).as[Doc]
  }

  /** Chunk words into groups of `n`, preserving single-space joins.
    * Mirror of the oracle's `(ord-1)//n` grouping — keep in sync with
    * the SQL in SparkEntry.oracleSql.
    */
  def chunkWords(text: String, n: Int): Seq[String] =
    text.split(' ').grouped(n).map(_.mkString(" ")).toSeq

  /** One row per document: url `doc://<tag>/<doc_id>`, the fixed crawl
    * time, the `(payload, crawl text)` that `wrap` makes of it, its lang.
    */
  private def rows(spark: SparkSession, dir: String, tag: String)(
      wrap: Doc => (Array[Byte], String)): Dataset[PageRow] = {
    import spark.implicits._
    docs(spark, dir).map { d =>
      val (payload, text) = wrap(d)
      PageRow(s"doc://$tag/${d.doc_id}", Ts0, payload, text, d.lang)
    }
  }

  /** The text as one `<p>` inside full boilerplate chrome, UTF-8. */
  private[ops] def html(text: String, d: Doc): Array[Byte] =
    PagesGen.htmlPage(Seq(text), None, d.doc_id).getBytes(UTF_8)

  /** One `<p>` holding the whole text inside full boilerplate chrome. */
  def htmlSingle(spark: SparkSession, dir: String): Dataset[PageRow] =
    rows(spark, dir, "h")(d => (html(d.text, d), ""))

  /** 40-word paragraphs inside chrome; expected text = chunks \n-joined. */
  def htmlChunked(spark: SparkSession, dir: String, n: Int = 40): Dataset[PageRow] =
    rows(spark, dir, "c")(d =>
      (PagesGen.htmlPage(chunkWords(d.text, n), None, d.doc_id).getBytes(UTF_8), ""))

  /** Single-page single-line PDF (whole text in one Tj). */
  def pdfSingle(spark: SparkSession, dir: String, compress: Boolean): Dataset[PageRow] =
    rows(spark, dir, "p")(d => (PagesGen.pdfBytes(Seq(Seq(d.text)), compress), ""))

  /** Multi-page PDF: every 40-word chunk becomes its OWN page (one Tj
    * line per page), so the PDF kernel must emit one page per page
    * object and ExtractKernel.extract must rejoin them '\n'-joined in
    * page-tree order — the reference's combined `{page_count,
    * pages:[...]}` document (api.py:261-269; golden
    * outputs/2025-03-20/w_f_abbasia.json has page_count 2). Compression
    * alternates per doc so both stream branches run.
    */
  def pdfMulti(spark: SparkSession, dir: String, n: Int = 40): Dataset[PageRow] =
    rows(spark, dir, "pm")(d => (PagesGen.pdfBytes(chunkWords(d.text, n).map(Seq(_)),
      compress = d.doc_id % 2 == 1), ""))

  /** Object-order-scrambled multi-page PDF: same pages as [[pdfMulti]]
    * but with file order REVERSED (catalog last, final page's content
    * first) — only the /Root→/Pages→/Kids page-tree walk can recover
    * document order, so the oracle failing would mean the kernel fell
    * back to file-order scanning.
    */
  def pdfScrambled(spark: SparkSession, dir: String, n: Int = 40): Dataset[PageRow] =
    rows(spark, dir, "ps")(d => (PagesGen.pdfBytesAdv(chunkWords(d.text, n).map(Seq(_)),
      compress = d.doc_id % 2 == 1, winAnsi = false, scramble = true), ""))

  /** Filter-chain PDF: content streams travel through PNG-predictor
    * Flate (doc_id%6=0), TIFF-predictor Flate (1), an ASCIIHex→Flate
    * chain (2), an ASCII85→Flate chain (3), RunLengthDecode (4) or
    * LZWDecode (5) — byte-identical recovery requires the
    * declared-filter pipeline incl. /DecodeParms predictors.
    */
  def pdfFiltered(spark: SparkSession, dir: String): Dataset[PageRow] =
    rows(spark, dir, "pf")(d => (PagesGen.pdfBytesFiltered(Seq(Seq(d.text)),
      Seq("png", "tiff", "ahx", "a85", "rl", "lzw")((d.doc_id % 6).toInt)), ""))

  /** Assemble docs into WARC files of ≤8 records each (doc_id/8 buckets,
    * in-file order by doc_id): each file carries warcinfo + request +
    * response/resource records, HTTP bodies cycling plain/chunked/gzip
    * content-encoding, and odd file ids are .warc.gz (per-record gzip
    * members). Returns `(file_id, warc_bytes)` — the shape a 100 TB
    * crawl ingest reads (one row per archive segment, exploded by the
    * WARC kernel with no shuffle).
    */
  def warcFiles(spark: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    docs(spark, dir).groupByKey(_.doc_id / 8).mapGroups { (gid, it) =>
      val entries = it.toSeq.sortBy(_.doc_id).map(d => (s"doc://w/${d.doc_id}", Ts0, html(d.text, d)))
      (gid, PagesGen.warcBytes(entries, gzipMembers = gid % 2 == 1))
    }
  }

  /** Standard-security encrypted PDFs with an empty user password —
    * doc_id%4 cycles RC4-40 (V1/R2), RC4-128 (V2/R3), AES-128 (V4/R4
    * /AESV2) and AES-256 (V5/R6 /AESV3). Recovery requires the /Encrypt
    * handshake (empty-password validation against /U, per-object key
    * derivation, decrypt-then-Flate) to be byte-exact.
    */
  def pdfEncrypted(spark: SparkSession, dir: String): Dataset[PageRow] =
    rows(spark, dir, "pe")(d => (PagesGen.pdfBytesEncrypted(Seq(Seq(d.text)),
      Seq("rc4-40", "rc4-128", "aes128", "aes256")((d.doc_id % 4).toInt), seed = d.doc_id), ""))

  /** WinAnsi-encoded PDF: the text is prefixed with glyphs that live at
    * 0x80-0x9F in windows-1252 (euro, em-dash, oe) where Latin-1 has
    * control characters — byte-identical recovery REQUIRES the font
    * /Encoding table to be honored.
    */
  val WinAnsiPrefix = "€ — «œuvre» "
  def pdfWinAnsi(spark: SparkSession, dir: String): Dataset[PageRow] =
    rows(spark, dir, "pw")(d => (PagesGen.pdfBytesAdv(Seq(Seq(WinAnsiPrefix + d.text)),
      compress = false, winAnsi = true, scramble = false), ""))

  /** Type0/Identity-H wrap: the whole text as 2-byte CID codes with a
    * generated ToUnicode CMap — recoverable ONLY through the CMap path.
    * An Arabic marker rides along so multi-byte UTF-16 mapping is
    * exercised, not just ASCII.
    */
  def pdfCid(spark: SparkSession, dir: String): Dataset[PageRow] =
    rows(spark, dir, "pc")(d => (PagesGen.pdfBytesCid(Seq(Seq("نص " + d.text))), ""))

  /** Arabic/RTL byte-fidelity wrap: prefixes Arabic text + typographic
    * punctuation before the chrome wrap — the kernel must return it
    * byte-identically (input_hint invariant; the reference demands exact
    * Arabic preservation, convert_to_json.py:489-497, prompt.py:169).
    */
  def htmlArabic(spark: SparkSession, dir: String): Dataset[PageRow] =
    rows(spark, dir, "a")(d => (html("نص تجريبي — " + d.text, d), ""))

  /** Legacy-encoding wrap: the page BYTES are windows-1252 (glyphs at
    * 0x80-0x9F where Latin-1 has control chars), declared via `<meta
    * charset>` on even doc_ids and the `http-equiv="Content-Type"` form
    * with the ISO-8859-1 label — which the WHATWG label table folds into
    * windows-1252 — on odd ones. Byte-identical recovery REQUIRES the
    * charset sniff; a UTF-8-only decoder mojibakes every prefix glyph.
    */
  val Win1252Prefix = "€ — «œuvre» ™ "
  def htmlWin1252(spark: SparkSession, dir: String): Dataset[PageRow] =
    rows(spark, dir, "w1252") { d =>
      val decl =
        if (d.doc_id % 2 == 0) "<meta charset=\"windows-1252\">"
        else "<meta http-equiv=\"Content-Type\" content=\"text/html; charset=iso-8859-1\">"
      val page = PagesGen.htmlPage(Seq(Win1252Prefix + d.text), None, d.doc_id)
        .replace("<meta charset=\"utf-8\">", decl)
      (page.getBytes(java.nio.charset.Charset.forName("windows-1252")), "")
    }

  /** UTF-16 wrap: page bytes are BOM-prefixed UTF-16 (LE on even
    * doc_ids, BE on odd) — the BOM outranks every declaration in the
    * sniff order, and the unchanged `<meta charset="utf-8">` chrome
    * inside is a decoy the decoder must ignore.
    */
  val Utf16Prefix = "Ωμέγα — "
  def htmlUtf16(spark: SparkSession, dir: String): Dataset[PageRow] =
    rows(spark, dir, "u16") { d =>
      val page = PagesGen.htmlPage(Seq(Utf16Prefix + d.text), None, d.doc_id)
      val bytes =
        if (d.doc_id % 2 == 0)
          Array[Byte](0xFF.toByte, 0xFE.toByte) ++
            page.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
        else
          Array[Byte](0xFE.toByte, 0xFF.toByte) ++
            page.getBytes(java.nio.charset.StandardCharsets.UTF_16BE)
      (bytes, "")
    }

  /** The transport payload of [[gzipped]] and [[zstded]]: html chrome on
    * even doc_ids, a PDF on odd ones (Flate on doc_id%4 = 1).
    */
  private def transportInner(d: Doc): Array[Byte] =
    if (d.doc_id % 2 == 0) html(d.text, d)
    else PagesGen.pdfBytes(Seq(Seq(d.text)), compress = d.doc_id % 4 == 1)

  /** gzip transport wrap: the stored payload is the raw COMPRESSED
    * response body (common in crawl tables) — html chrome inside on even
    * doc_ids, a PDF inside on odd ones, so the kernel must gunzip before
    * content sniffing to recover either.
    */
  def gzipped(spark: SparkSession, dir: String): Dataset[PageRow] =
    rows(spark, dir, "gz")(d => (PagesGen.gzip(transportInner(d)), ""))

  /** zstd-compressed transport variant of [[gzipped]] — same inner
    * payload routing (html on even doc_ids, PDF on odd), zstd frame
    * outside. Exercises the second transport codec real crawl archives
    * use (zstd-jni ships with Spark).
    */
  def zstded(spark: SparkSession, dir: String): Dataset[PageRow] =
    rows(spark, dir, "zst")(d => (com.github.luben.zstd.Zstd.compress(transportInner(d), 3), ""))

  /** Empty html → crawl-text passthrough branch. */
  def passthrough(spark: SparkSession, dir: String): Dataset[PageRow] =
    rows(spark, dir, "t")(d => (Array.emptyByteArray, d.text))

  /** Failure-mode census corpus — real crawls are full of rows that
    * must become ERROR ROWS, never task failures: doc_id%5 cycles
    * good-HTML / corrupt-gzip / degenerate-PDF / empty / passthrough.
    */
  def errorMix(spark: SparkSession, dir: String): Dataset[PageRow] =
    rows(spark, dir, "e") { d =>
      d.doc_id % 5 match {
        case 0 => (html(d.text, d), "")
        // valid gzip magic, garbage stream -> gzip_corrupt
        case 1 => (Array[Byte](0x1f, 0x8b.toByte, 1, 2, 3, 4, 5, 6), "")
        // PDF magic, truncated object graph -> pdf_empty
        case 2 => ("%PDF-1.4\n1 0 obj\n<< /Type /Catalog".getBytes(UTF_8), "")
        case 3 => (Array.emptyByteArray, "") // nothing at all -> 'empty' kind, no error
        case _ => (Array.emptyByteArray, d.text)
      }
    }

  /** Content-sniffing dispatch exercise: doc_id%3 ∈ {html, pdf, passthrough}. */
  def mixed(spark: SparkSession, dir: String): Dataset[PageRow] =
    rows(spark, dir, "m") { d =>
      d.doc_id % 3 match {
        case 0 => (html(d.text, d), "")
        case 1 => (PagesGen.pdfBytes(Seq(Seq(d.text)), compress = d.doc_id % 2 == 1), "")
        case _ => (Array.emptyByteArray, d.text)
      }
    }
}
