package graft.perfbench

import graft.model.PageRow
import java.nio.charset.Charset
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_16LE, UTF_8}
import java.sql.Timestamp

/** Seeded corpus recipes of the benchmark workloads.
  *
  * The recipes live here, not in `graft.gen.PagesGen`, so an edit of the
  * program's own generator cannot move the benchmark's inputs. Every row
  * is a pure function of (workload, seed, row index). Kinds and planned
  * error classes are drawn from a fixed slot table, shuffled per block of
  * `block` rows, so each seed yields exactly the same kind and error mix;
  * only the bytes differ between seeds.
  *
  * Each generated [[Doc]] carries what the extraction must produce for
  * its url: the `doc_kind`, the planned error class (null = must succeed)
  * and the text of the typed path.
  */
object Recipes {

  /** Expected outcome of one url. `err` is the error class: the part of
    * the typed path's `error` string before the first ':'.
    */
  final case class Doc(row: PageRow, kind: String, err: String, text: String) {
    /** What `extract_main_text` (via `ExtractPipeline.extractText`) must
      * return: null for every error row and for a row with no bytes and
      * no crawl text.
      */
    def exprText: String = if (err != null || kind == "empty") null else text
  }

  /** One workload's recipe.
    * @param slots    slot name → rows per block (see [[slotOutcome]])
    * @param skew     host skew exponent: host = hosts * u^skew
    * @param maxBytes the job's poison-pill cap (`Main --max-bytes`)
    * @param hostSalt the job's host salt (`Main --host-salt`)
    */
  final case class Workload(name: String, docs: Int, days: Int, hosts: Int, skew: Int,
      slots: Seq[(String, Int)], maxBytes: Int = 64 << 20, hostSalt: Int = 0) {
    val block: Int = slots.map(_._2).sum
    require(docs % block == 0, s"$name: docs must be a multiple of the $block-row block")
    private[perfbench] val table: Array[String] =
      slots.flatMap { case (s, n) => Seq.fill(n)(s) }.toArray

    /** Planned rows per doc_kind and per error class for `n` rows. */
    def plan(n: Int): (Map[String, Long], Map[String, Long]) = {
      require(n % block == 0)
      val outcomes = table.toSeq.map(slotOutcome)
      val blocks = (n / block).toLong
      (outcomes.groupBy(_._1).map { case (k, v) => k -> v.size * blocks },
        outcomes.filter(_._2 != null).groupBy(_._2).map { case (k, v) => k -> v.size * blocks })
    }
  }

  val PdfLarge: Workload = Workload("pdf-large", docs = 10000, days = 30, hosts = 200, skew = 3,
    slots = Seq("pdf-multi" -> 90, "html-long" -> 10))

  val CrawlResume: Workload = Workload("crawl-resume", docs = 16000, days = 60, hosts = 400,
    skew = 6,
    slots = Seq("html-coded" -> 176, "pdf-coded" -> 12, "passthrough" -> 3, "empty" -> 3,
      "err-gzip" -> 1, "err-zstd" -> 1, "err-large" -> 2, "err-pdf-unsupported" -> 1,
      "err-pdf-empty" -> 1),
    maxBytes = 64 << 10, hostSalt = 8)

  val All: Seq[Workload] = Seq(PdfLarge, CrawlResume)

  def byName(name: String): Workload =
    All.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '$name' (${All.map(_.name).mkString(", ")})"))

  /** (doc_kind, error class) every slot must come out as. */
  def slotOutcome(slot: String): (String, String) = slot match {
    case "html-long" | "html-coded"          => ("html", null)
    case "pdf-multi" | "pdf-coded"           => ("pdf", null)
    case "passthrough"                       => ("passthrough", null)
    case "empty"                             => ("empty", null)
    case "err-gzip"                          => ("html", "gzip_corrupt")
    case "err-zstd"                          => ("html", "zstd_corrupt")
    case "err-large"                         => ("html", "too_large")
    case "err-pdf-unsupported"               => ("pdf", "pdf_unsupported")
    case "err-pdf-empty"                     => ("pdf", "pdf_empty")
    case other => throw new IllegalArgumentException(s"slot $other")
  }

  // ------------------------------------------------------------ randomness

  /** splitmix64 finaliser. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def u01(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  private def below(h: Long, n: Int): Int = ((h >>> 1) % n).toInt

  // ------------------------------------------------------------ vocabulary

  private val Words: Array[String] = Array(
    "spark", "join", "filter", "window", "stream", "batch", "merge", "sort",
    "table", "column", "vector", "query", "group", "order", "value", "hash",
    "scan", "data", "line", "page", "text", "block", "token", "parse",
    "crawl", "shard", "byte", "fetch", "index", "cache", "score", "prune",
    "node", "tree", "span", "chunk", "frame", "field", "count", "shuffle",
    "ledger", "commit", "resume", "archive", "header", "record", "offset", "codec")

  private val ArabicWords: Array[String] = Array(
    "بيانات", "نص", "صفحة", "جدول", "تحليل", "فهرس", "مستند", "سطر")

  /** Words outside ASCII that windows-1252 encodes in one byte each. */
  private val LatinWords: Array[String] = Array(
    "café", "naïve", "über", "señor", "façade", "déjà", "crème", "piñata",
    "garçon", "Ångström", "—", "€", "“quoted”", "…", "Müller", "jalapeño")

  private def sentence(h: Long, n: Int, vocab: Array[String]): String = {
    val sb = new java.lang.StringBuilder(n * 7)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(vocab(below(mix(h + i), vocab.length)))
      i += 1
    }
    sb.toString
  }

  private def english(h: Long, n: Int): String = sentence(h, n, Words)

  /** Mostly English with one windows-1252 word in four. */
  private def latin(h: Long, n: Int): String = {
    val sb = new java.lang.StringBuilder(n * 7)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      val hi = mix(h + i)
      val vocab = if (below(hi >>> 7, 4) == 0) LatinWords else Words
      sb.append(vocab(below(hi, vocab.length)))
      i += 1
    }
    sb.toString
  }

  private def escapeHtml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  // ----------------------------------------------------------------- HTML

  /** Crawl-page chrome (header, nav, cookie banner, sidebar link list,
    * promo link, related links, footer, comment) around a `<main>` block;
    * the extractor must keep exactly the main block's paragraphs.
    * `charsetDecl` is the meta charset label, or null for none.
    */
  private def page(mainInner: String, h: Long, charsetDecl: String): String = {
    val nav = (0 until 6).map(k => s"""<a href="/s/$k">${english(h + 40 + k, 1)}</a>""").mkString(" ")
    val side = (0 until 8).map(k => s"""<li><a href="/t/$k">${english(h + 100 + 3 * k, 2)}</a></li>""")
      .mkString("\n")
    val b = new java.lang.StringBuilder(1536 + mainInner.length)
    b.append("<!doctype html>\n<html>\n<head>\n")
    b.append("<title>").append(english(h + 1, 3)).append("</title>\n")
    if (charsetDecl != null) b.append("<meta charset=\"").append(charsetDecl).append("\">\n")
    b.append("<style>.x{color:red}</style>\n")
    b.append("<script>var t = 1 < 2 && \"</div>\";</script>\n")
    b.append("</head>\n<body>\n")
    b.append("<header><h1>").append(english(h + 2, 2)).append("</h1><nav>").append(nav)
      .append("</nav></header>\n")
    b.append("<div class=\"cookie-banner\">").append(english(h + 3, 12))
      .append(" <a href=\"/accept\">OK</a></div>\n")
    b.append("<div class=\"breadcrumb\"><a href=\"/\">home</a> &gt; <a href=\"/c\">")
      .append(english(h + 4, 1)).append("</a></div>\n")
    b.append("<aside class=\"sidebar\"><ul>").append(side).append("</ul></aside>\n")
    b.append("<p><a href=\"/promo\">").append(english(h + 5, 4)).append("</a></p>\n")
    b.append("<main class=\"content\">\n").append(mainInner).append("</main>\n")
    b.append("<div class=\"related\"><ul><li><a href=\"/r/1\">").append(english(h + 6, 3))
      .append("</a></li></ul></div>\n")
    b.append("<footer>").append(english(h + 7, 8))
      .append(" &copy; 2025 <a href=\"/legal\">legal</a></footer>\n")
    b.append("<!-- comment with <p>fake</p> markup -->\n</body>\n</html>\n")
    b.toString
  }

  /** One HTML document: (page source, expected main text). Layouts:
    * standard (optional heading + paragraphs), list (lead paragraph +
    * items of at least ten words) and entity-rich paragraphs.
    * `para` draws the words of one paragraph.
    */
  private def htmlDoc(h: Long, nParaMax: Int, wordsMax: Int, para: (Long, Int, Int) => String,
      charsetDecl: String): (String, String) = {
    val layout = u01(mix(h + 60))
    if (layout < 0.70) {
      val nPara = 1 + below(mix(h + 61), nParaMax)
      val paras = (0 until nPara).map(p => para(h + 200 + 37 * p, 5 + below(mix(h + 62 + p), wordsMax), p))
      val heading = if (u01(mix(h + 63)) < 0.5) Some(english(h + 64, 4)) else None
      val inner = heading.map(t => s"<h2>${escapeHtml(t)}</h2>\n").getOrElse("") +
        paras.map(p => s"<p>${escapeHtml(p)}</p>\n").mkString
      (page(inner, h, charsetDecl), (heading.toSeq ++ paras).mkString("\n"))
    } else if (layout < 0.85) {
      val lead = para(h + 65, 12, 0)
      val items = (0 until 3 + below(mix(h + 66), 5)).map(k =>
        para(h + 300 + 13 * k, 10 + below(mix(h + 67 + k), 6), 1))
      val inner = s"<p>${escapeHtml(lead)}</p>\n<ul>\n" +
        items.map(it => s"<li>${escapeHtml(it)}</li>\n").mkString + "</ul>\n"
      (page(inner, h, charsetDecl), (lead +: items).mkString("\n"))
    } else {
      val paras = (0 until 1 + below(mix(h + 68), 3)).map { p =>
        val a = english(h + 400 + 29 * p, 8)
        val b = english(h + 500 + 29 * p, 8)
        (s"$a &mdash; $b &hellip; &copy; &#8364;", s"$a — $b … © €")
      }
      (page(paras.map(p => s"<p>${p._1}</p>\n").mkString, h, charsetDecl),
        paras.map(_._2).mkString("\n"))
    }
  }

  // ------------------------------------------------------------------ PDF

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val chunk = new Array[Byte](8192)
    while (!d.finished()) out.write(chunk, 0, d.deflate(chunk))
    d.end()
    out.toByteArray
  }

  private def padRows(raw: Array[Byte], cols: Int): Array[Byte] =
    if (raw.length % cols == 0) raw
    else raw ++ Array.fill[Byte](cols - raw.length % cols)(' '.toByte)

  /** PNG row filters, tag cycling None/Sub/Up/Average/Paeth per row. */
  private def pngPredict(raw: Array[Byte], cols: Int): Array[Byte] = {
    val rows = raw.length / cols
    val out = new Array[Byte](rows * (cols + 1))
    for (r <- 0 until rows) {
      val tag = r % 5
      out(r * (cols + 1)) = tag.toByte
      for (i <- 0 until cols) {
        def at(row: Int, col: Int): Int =
          if (row < 0 || col < 0) 0 else raw(row * cols + col) & 0xff
        val (a, b, c) = (at(r, i - 1), at(r - 1, i), at(r - 1, i - 1))
        val pred = tag match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case _ =>
            val p = a + b - c
            val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        out(r * (cols + 1) + 1 + i) = ((at(r, i) - pred) & 0xff).toByte
      }
    }
    out
  }

  /** TIFF predictor 2 (8-bit): each byte minus its left neighbour. */
  private def tiffPredict(raw: Array[Byte], cols: Int): Array[Byte] =
    Array.tabulate(raw.length)(i =>
      if (i % cols == 0) raw(i) else ((raw(i) - raw(i - 1)) & 0xff).toByte)

  private def ascii85(data: Array[Byte]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(data.length * 5 / 4 + 8)
    var i = 0
    while (i < data.length) {
      val n = math.min(4, data.length - i)
      var v = 0L
      for (k <- 0 until 4) v = (v << 8) | (if (k < n) data(i + k) & 0xffL else 0L)
      if (n == 4 && v == 0L) sb.append('z')
      else {
        val cs = new Array[Char](5)
        for (j <- 4 to 0 by -1) { cs(j) = ('!' + (v % 85).toInt).toChar; v /= 85 }
        sb.append(cs, 0, n + 1)
      }
      if (i % 64 == 60) sb.append('\n')
      i += 4
    }
    sb.append("~>").toString.getBytes(UTF_8)
  }

  private def asciiHex(data: Array[Byte]): Array[Byte] =
    (data.grouped(32).map(_.map(b => f"${b & 0xff}%02X").mkString).mkString("\n") + ">")
      .getBytes(UTF_8)

  /** RunLengthDecode encoding: repeats of 3+ as (257-n, byte), literals
    * of up to 128 bytes, EOD 128.
    */
  private def runLength(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 16)
    def runAt(i: Int): Int = {
      var r = 1
      while (i + r < data.length && data(i + r) == data(i) && r < 128) r += 1
      r
    }
    var i = 0
    while (i < data.length) {
      val r = runAt(i)
      if (r >= 3) { out.write(257 - r); out.write(data(i).toInt); i += r }
      else {
        var j = i + 1
        while (j < data.length && j - i < 128 && runAt(j) < 3) j += 1
        out.write(j - i - 1); out.write(data, i, j - i); i = j
      }
    }
    out.write(128)
    out.toByteArray
  }

  private def escapePdf(s: String): String =
    s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

  private val Win1252: Charset = Charset.forName("windows-1252")

  /** PDF with one content stream per page. `mode` picks how the content
    * streams travel: raw, flate, png / tiff (Flate + predictor), a85 / ahx
    * (ASCII85 / ASCIIHex over Flate), rl (RunLength), objstm (catalog,
    * page tree and pages inside a Flate /ObjStm), winansi (WinAnsiEncoding
    * font, windows-1252 string bytes), unsupported (a filter the parser
    * does not decode) or empty (pages that draw no text).
    */
  def pdf(pages: Seq[Seq[String]], mode: String): Array[Byte] = {
    val enc = if (mode == "winansi") " /Encoding /WinAnsiEncoding" else ""
    val font = s"/Font << /F1 << /Type /Font /Subtype /Type1 /BaseFont /Helvetica$enc >> >>"
    val kids = pages.indices.map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    val dicts = scala.collection.mutable.ArrayBuffer(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> s"<< /Type /Pages /Kids [$kids] /Count ${pages.length} >>")
    val streams = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Array[Byte])]
    pages.zipWithIndex.foreach { case (lines, i) =>
      val pageObj = 3 + 2 * i
      dicts += pageObj -> (s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Contents ${pageObj + 1} 0 R /Resources << $font >> >>")
      val cs = new java.lang.StringBuilder(256)
      if (mode == "empty") cs.append("0 0 m 612 792 l S\n")
      else {
        cs.append("BT /F1 12 Tf 72 720 Td 14 TL\n")
        lines.zipWithIndex.foreach { case (line, j) =>
          if (j > 0) cs.append("T*\n")
          cs.append('(').append(escapePdf(line)).append(") Tj\n")
        }
        cs.append("ET\n")
      }
      val raw = cs.toString.getBytes(if (mode == "winansi") Win1252 else ISO_8859_1)
      val (payload, filter) = mode match {
        case "raw" | "empty" => (raw, "")
        case "flate" | "objstm" | "winansi" => (deflate(raw), " /Filter /FlateDecode")
        case "png" =>
          (deflate(pngPredict(padRows(raw, 16), 16)),
            " /Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 16 >>")
        case "tiff" =>
          (deflate(tiffPredict(padRows(raw, 16), 16)),
            " /Filter /FlateDecode /DecodeParms << /Predictor 2 /Columns 16 >>")
        case "a85" => (ascii85(deflate(raw)), " /Filter [/ASCII85Decode /FlateDecode]")
        case "ahx" => (asciiHex(deflate(raw)), " /Filter [/ASCIIHexDecode /FlateDecode]")
        case "rl" => (runLength(raw), " /Filter /RunLengthDecode")
        case "unsupported" => (raw, " /Filter /JBIG2Decode")
        case other => throw new IllegalArgumentException(s"pdf mode $other")
      }
      streams += ((pageObj + 1, s"<< /Length ${payload.length}$filter >>", payload))
    }
    val out = new java.io.ByteArrayOutputStream(1024)
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    w("%PDF-1.5\n")
    if (mode == "objstm") {
      val bodies = dicts.map(_._2 + "\n")
      val offsets = bodies.scanLeft(0)(_ + _.length).init
      val header = dicts.map(_._1).zip(offsets).map { case (n, o) => s"$n $o" }.mkString(" ") + "\n"
      val packed = deflate((header + bodies.mkString).getBytes(ISO_8859_1))
      val stmObj = 3 + 2 * pages.length
      w(s"$stmObj 0 obj << /Type /ObjStm /N ${dicts.length} /First ${header.length} " +
        s"/Length ${packed.length} /Filter /FlateDecode >> stream\n")
      out.write(packed)
      w("\nendstream endobj\n")
    } else dicts.foreach { case (n, d) => w(s"$n 0 obj $d endobj\n") }
    streams.foreach { case (n, d, payload) =>
      w(s"$n 0 obj $d stream\n"); out.write(payload); w("\nendstream endobj\n")
    }
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    out.toByteArray
  }

  private val PdfModes = Array("flate", "png", "tiff", "a85", "ahx", "rl", "objstm", "winansi")

  // ------------------------------------------------------------ transport

  def gzip(raw: Array[Byte]): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(buf)
    gz.write(raw); gz.finish()
    buf.toByteArray
  }

  def zstd(raw: Array[Byte]): Array[Byte] = com.github.luben.zstd.Zstd.compress(raw, 3)

  // --------------------------------------------------------------- rows

  private val Epoch = 1735689600000L // 2025-01-01T00:00:00Z

  /** Row generator of one (workload, seed). Not thread-safe: it caches
    * the current block's slot permutation; use one per partition.
    */
  final class Generator(val w: Workload, val seed: Long) {
    private val base = mix(seed ^ (w.name.hashCode.toLong << 32))
    private var permBlock = -1L
    private var perm: Array[Int] = Array.emptyIntArray

    private def slotOf(i: Long): String = {
      val b = i / w.block
      if (b != permBlock) {
        val hb = mix(base ^ (b * 0x632BE59BD9B4E019L))
        perm = (0 until w.block).sortBy(k => mix(hb + k)).toArray
        permBlock = b
      }
      w.table(perm((i % w.block).toInt))
    }

    def doc(i: Long): Doc = {
      val h = mix(base ^ (i * 0x9E3779B97F4A7C15L + 1))
      val u = u01(mix(h + 1))
      val host = math.min(w.hosts - 1, (w.hosts * math.pow(u, w.skew)).toInt)
      val url = s"https://host-$host.example/${w.name}/$i"
      val ts = new Timestamp(Epoch + Math.floorMod(mix(h + 2), w.days * 86400000L))
      val slot = slotOf(i)
      val (kind, err) = slotOutcome(slot)
      def row(bytes: Array[Byte], text: String = "", lang: String = "en") =
        PageRow(url, ts, bytes, text, lang)
      def ok(bytes: Array[Byte], text: String, lang: String = "en") =
        Doc(row(bytes, lang = lang), kind, null, text)
      def failed(bytes: Array[Byte]) = Doc(row(bytes), kind, err, "")
      def pdfPages(nPages: Int, vocab: (Long, Int) => String): Seq[Seq[String]] =
        (0 until nPages).map(p => (0 until 2 + below(mix(h + 30 + p), 6)).map(l =>
          vocab(h + 1000 + 97 * p + 7 * l, 3 + below(mix(h + 50 + 7 * p + l), 8))))
      slot match {
        case "html-long" =>
          val nPara = 12 + below(mix(h + 3), 19)
          val paras = (0 until nPara).map(p => english(h + 200 + 37 * p, 20 + below(mix(h + 4 + p), 41)))
          val src = page(paras.map(p => s"<p>$p</p>\n").mkString, h, "utf-8")
          ok(src.getBytes(UTF_8), paras.mkString("\n"))
        case "pdf-multi" =>
          val mode = PdfModes(below(mix(h + 4), PdfModes.length))
          val pages = pdfPages(2 + below(mix(h + 3), 7), if (mode == "winansi") latin else english)
          ok(pdf(pages, mode), pages.flatten.mkString("\n"))
        case "pdf-coded" =>
          val pages = pdfPages(1 + below(mix(h + 3), 3), english)
          val bytes = pdf(pages, "flate")
          ok(if (u01(mix(h + 4)) < 0.5) gzip(bytes) else zstd(bytes), pages.flatten.mkString("\n"))
        case "html-coded" =>
          // character encoding of the body, then transport coding
          val cu = u01(mix(h + 3))
          val (decl, charset, bom) =
            if (cu < 0.50) ("utf-8", UTF_8, Array.emptyByteArray)
            else if (cu < 0.65) ("windows-1252", Win1252, Array.emptyByteArray)
            else if (cu < 0.75) ("iso-8859-1", Win1252, Array.emptyByteArray)
            else if (cu < 0.85) ("utf-8", UTF_8, Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte))
            else if (cu < 0.95) (null, Win1252, Array.emptyByteArray) // undeclared legacy page
            else ("utf-8", UTF_16LE, Array[Byte](0xFF.toByte, 0xFE.toByte))
          // plain UTF-8 pages: one in ten Arabic (every other paragraph);
          // legacy-charset and BOM pages carry windows-1252 words
          val arabic = charset == UTF_8 && bom.isEmpty && u01(mix(h + 6)) < 0.1
          val para: (Long, Int, Int) => String =
            if (charset == UTF_8 && bom.isEmpty)
              (s, n, p) => sentence(s, n, if (arabic && p % 2 == 0) ArabicWords else Words)
            else (s, n, _) => latin(s, n)
          val (src, text) = htmlDoc(h, 6, 56, para, decl)
          val body = bom ++ src.getBytes(charset)
          val tu = u01(mix(h + 5))
          ok(if (tu < 0.35) gzip(body) else if (tu < 0.70) zstd(body) else body, text,
            if (arabic) "ar" else "en")
        case "passthrough" =>
          val t = english(h + 11, 12)
          Doc(row(Array.emptyByteArray, t), kind, null, t)
        case "empty" =>
          Doc(row(Array.emptyByteArray), kind, null, "")
        case "err-gzip" =>
          val z = gzip(page(s"<p>${english(h + 12, 40)}</p>\n", h, "utf-8").getBytes(UTF_8))
          failed(java.util.Arrays.copyOf(z, z.length * 3 / 5))
        case "err-zstd" =>
          val z = zstd(page(s"<p>${english(h + 12, 40)}</p>\n", h, "utf-8").getBytes(UTF_8))
          failed(java.util.Arrays.copyOf(z, z.length * 3 / 5))
        case "err-large" =>
          val paras = (0 until 1000).map(p => english(h + 13 + 11 * p, 8 + below(mix(h + p), 8)))
          val src = page(paras.map(p => s"<p>$p</p>\n").mkString, h, "utf-8")
          failed(src.getBytes(UTF_8))
        case "err-pdf-unsupported" => failed(pdf(pdfPages(1, english), "unsupported"))
        case "err-pdf-empty" => failed(pdf(pdfPages(1, english), "empty"))
      }
    }
  }
}
