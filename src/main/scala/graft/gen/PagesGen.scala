package graft.gen

import graft.model.PageRow
import java.nio.charset.Charset
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.sql.Timestamp

/** Deterministic synthetic page corpus (FIXTURES.md §1).
  *
  * All randomness derives from splitmix64 over (seed, row index) so
  * generation is order-free and reproducible on any partitioning — no wall
  * clock, no shared RNG state (SURVEY §7.4 hard part #3).
  *
  * Produces Common-Crawl-shaped rows `(url, warc_ts, html, text, lang)`
  * plus the expected extracted main text (the golden the kernel must
  * reproduce byte-identically).
  */
object PagesGen {

  /** Bump whenever generated output changes — Bench's cache dir embeds
    * it so stale corpora are never silently re-timed.
    */
  final val CorpusVersion = "v2"

  // ------------------------------------------------------------- randomness

  /** splitmix64 — public-domain PRNG step (Steele et al.). */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def u01(h: Long): Double = ((h >>> 11).toDouble) / (1L << 53).toDouble

  // ------------------------------------------------------------- vocabulary

  private val Words: Array[String] = Array(
    "spark", "join", "filter", "window", "stream", "batch", "merge", "sort",
    "table", "column", "vector", "query", "group", "order", "value", "hash",
    "scan", "data", "line", "page", "text", "block", "token", "parse",
    "crawl", "shard", "byte", "fetch", "index", "cache", "score", "prune",
    "node", "tree", "span", "chunk", "frame", "field", "count", "shuffle")

  private val ArabicWords: Array[String] = Array(
    "بيانات", "نص", "صفحة", "جدول", "تحليل", "فهرس", "مستند", "سطر")

  private def word(h: Long, arabic: Boolean): String =
    if (arabic) ArabicWords(((h >>> 17) % ArabicWords.length).toInt.abs)
    else Words(((h >>> 17) % Words.length).toInt.abs)

  def sentence(seed: Long, nWords: Int, arabic: Boolean = false): String = {
    val sb = new java.lang.StringBuilder(nWords * 6)
    var i = 0
    while (i < nWords) {
      if (i > 0) sb.append(' ')
      sb.append(word(mix(seed + i), arabic))
      i += 1
    }
    sb.toString
  }

  // ----------------------------------------------------------- HTML escapes

  def escapeHtml(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 16)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case c   => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  // ---------------------------------------------------------- HTML template

  /** Boilerplate chrome (nav bars, link lists, cookie banner, footer — high
    * link density / negative-hint classes) wrapping a positive-hint main
    * block. The extractor must strip every chrome element (boilerplate-strip
    * monotonicity property, SURVEY §5.2).
    */
  def htmlPageRaw(mainInner: String, seed: Long): String = {
    val h = mix(seed)
    val navLinks = (0 until 6).map { k =>
      s"""<a href="/s/$k">${word(mix(h + k), arabic = false)}</a>"""
    }.mkString(" ")
    val sideLinks = (0 until 8).map { k =>
      s"""<li><a href="/t/$k">${sentence(h + 100 + k, 2)}</a></li>"""
    }.mkString("\n")
    val body = new StringBuilder(1024)
    body ++= "<!doctype html>\n<html>\n<head>\n"
    body ++= s"<title>${sentence(h + 1, 3)}</title>\n"
    body ++= "<meta charset=\"utf-8\">\n<style>.x{color:red}</style>\n"
    body ++= "<script>var t = 1 < 2 && \"</div>\";</script>\n"
    body ++= "</head>\n<body>\n"
    body ++= s"<header><h1>${sentence(h + 2, 2)}</h1><nav>$navLinks</nav></header>\n"
    body ++= s"""<div class="cookie-banner">${sentence(h + 3, 12)} <a href="/accept">OK</a></div>\n"""
    body ++= s"""<div class="breadcrumb"><a href="/">home</a> &gt; <a href="/c">${word(h + 4, arabic = false)}</a></div>\n"""
    body ++= s"""<aside class="sidebar"><ul>$sideLinks</ul></aside>\n"""
    body ++= s"""<p><a href="/promo">${sentence(h + 5, 4)}</a></p>\n"""
    body ++= "<main class=\"content\">\n"
    body ++= mainInner
    body ++= "</main>\n"
    body ++= s"""<div class="related"><ul><li><a href="/r/1">${sentence(h + 6, 3)}</a></li></ul></div>\n"""
    body ++= s"<footer>${sentence(h + 7, 8)} &copy; 2025 <a href=\"/legal\">legal</a></footer>\n"
    body ++= "<!-- comment with <p>fake</p> markup -->\n"
    body ++= "</body>\n</html>\n"
    body.toString
  }

  def htmlPage(paragraphs: Seq[String], heading: Option[String], seed: Long): String = {
    val inner = new StringBuilder(512)
    heading.foreach(t => inner ++= s"<h2>${escapeHtml(t)}</h2>\n")
    paragraphs.foreach(p => inner ++= s"<p>${escapeHtml(p)}</p>\n")
    htmlPageRaw(inner.toString, seed)
  }

  /** Expected main text for [[htmlPage]]: heading + paragraphs, '\n'-joined. */
  def htmlExpected(paragraphs: Seq[String], heading: Option[String]): String =
    (heading.toSeq ++ paragraphs).mkString("\n")

  /** List-main layout variant: lead paragraph + `<ul>` of ≥10-word items
    * (each li a kept block of kind "li"); expected = lead + items.
    */
  def htmlListPage(lead: String, items: Seq[String], seed: Long): (String, String) = {
    val inner = new StringBuilder(512)
    inner ++= s"<p>${escapeHtml(lead)}</p>\n<ul>\n"
    items.foreach(it => inner ++= s"<li>${escapeHtml(it)}</li>\n")
    inner ++= "</ul>\n"
    (htmlPageRaw(inner.toString, seed), (lead +: items).mkString("\n"))
  }

  /** Entity-rich paragraph: the source HTML carries named + numeric
    * entities that must decode byte-exactly (mdash/hellip/copy/euro).
    */
  def entityPara(seed: Long): (String, String) = {
    val a = sentence(seed, 8)
    val b = sentence(seed + 99, 8)
    (escapeHtml(a) + " &mdash; " + escapeHtml(b) + " &hellip; &copy; &#8364;",
      a + " — " + b + " … © €")
  }

  // ------------------------------------------------------------ PDF builder

  /** Escape a PDF literal string. */
  private def escapePdf(s: String): String =
    s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02X").mkString

  private def pdfObj(n: Int, body: String): Array[Byte] = s"$n 0 obj $body endobj\n".getBytes(UTF_8)

  /** Stream object; `keys` follow /Length in its dictionary. */
  private def pdfStream(n: Int, keys: String, payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(payload.length + 96)
    out.write(s"$n 0 obj << /Length ${payload.length}$keys >> stream\n".getBytes(UTF_8))
    out.write(payload)
    out.write("\nendstream endobj\n".getBytes(UTF_8))
    out.toByteArray
  }

  /** Font resource `/F1`: Type1 Helvetica, `enc` appended to its dictionary. */
  private def helvetica(enc: String): (String, String) =
    "1" -> s"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica$enc >>"

  /** The one PDF object writer behind every `pdfBytes*` fixture (no
    * xref): catalog (obj 1), page tree (obj 2), then for page i a page
    * object (3 + 2i) whose font resource is `/F<font._1> <font._2>`, and
    * its content stream (4 + 2i). Lines are shown with Tj at descending
    * y (14pt leading over a 12pt font so the y-cluster rule separates
    * lines), `show` turning each line into its string operand; the
    * stream text is written in `charset` (chars it cannot encode must not
    * appear in generated corpora) and `encode(objNum, raw)` gives the
    * stored bytes plus the stream-dictionary keys that decode them.
    * `extra` objects follow the pages (numbered from 3 + 2 * pages),
    * `trailerKeys` follow /Root, and `scramble` REVERSES object file
    * order (catalog last) so only a page-tree walk recovers page order.
    */
  private def pdfWrite(pageLines: Seq[Seq[String]],
      font: (String, String) = helvetica(""),
      show: String => String = line => s"(${escapePdf(line)})",
      charset: Charset = ISO_8859_1,
      encode: (Int, Array[Byte]) => (Array[Byte], String) = (_, raw) => (raw, ""),
      extra: Seq[Array[Byte]] = Nil, trailerKeys: String = "",
      version: String = "1.4", scramble: Boolean = false): Array[Byte] = {
    val (fontId, fontDict) = font
    val kids = pageLines.indices.map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    val pages = pageLines.zipWithIndex.flatMap { case (lines, i) =>
      val contObj = 4 + 2 * i
      val cs = new java.lang.StringBuilder(256)
      cs.append(s"BT /F$fontId 12 Tf 72 720 Td 14 TL\n")
      lines.zipWithIndex.foreach { case (line, j) =>
        if (j > 0) cs.append("T*\n")
        cs.append(show(line)).append(" Tj\n")
      }
      cs.append("ET\n")
      val (payload, keys) = encode(contObj, cs.toString.getBytes(charset))
      Seq(pdfObj(contObj - 1, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          s"/Contents $contObj 0 R /Resources << /Font << /F$fontId $fontDict >> >> >>"),
        pdfStream(contObj, keys, payload))
    }
    val objs = Seq(pdfObj(1, "<< /Type /Catalog /Pages 2 0 R >>"),
      pdfObj(2, s"<< /Type /Pages /Kids [$kids] /Count ${pageLines.length} >>")) ++ pages ++ extra
    val out = new java.io.ByteArrayOutputStream(1024)
    out.write(s"%PDF-$version\n".getBytes(UTF_8))
    (if (scramble) objs.reverse else objs).foreach(out.write)
    out.write(s"trailer << /Root 1 0 R$trailerKeys >>\n%%EOF\n".getBytes(UTF_8))
    out.toByteArray
  }

  /** Minimal PDF: one content stream per page. `compress` exercises
    * FlateDecode.
    */
  def pdfBytes(pageLines: Seq[Seq[String]], compress: Boolean): Array[Byte] =
    pdfBytesAdv(pageLines, compress, winAnsi = false, scramble = false)

  /** PDF generator with the round-2 realism knobs: `winAnsi` declares
    * /Encoding /WinAnsiEncoding on the font and encodes string bytes via
    * windows-1252 (so 0x80-0x9F carries real glyphs the kernel must map);
    * `scramble` REVERSES object file order (catalog last, page-2 content
    * first) so only a page-tree walk recovers document order.
    */
  def pdfBytesAdv(pageLines: Seq[Seq[String]], compress: Boolean,
      winAnsi: Boolean, scramble: Boolean): Array[Byte] =
    pdfWrite(pageLines,
      font = helvetica(if (winAnsi) " /Encoding /WinAnsiEncoding" else ""),
      charset = if (winAnsi) Charset.forName("windows-1252") else ISO_8859_1,
      encode = (_, raw) => if (compress) (deflate(raw), " /Filter /FlateDecode") else (raw, ""),
      scramble = scramble)

  /** Single-page PDF carrying a document-information dictionary:
    * /Title as a LITERAL string (escaped parens load-bearing), /Author
    * as a UTF-16BE hex string with BOM when `utf16Author` (the common
    * real-world form for non-ASCII authors), /CreationDate `D:` form.
    * Trailer carries /Info alongside /Root.
    */
  def pdfBytesInfo(pageLines: Seq[Seq[String]], title: String, author: String,
      creation: String, utf16Author: Boolean): Array[Byte] = {
    val authorPdf =
      if (utf16Author) s"<FEFF${hex(author.getBytes(java.nio.charset.StandardCharsets.UTF_16BE))}>"
      else s"(${escapePdf(author)})"
    pdfWrite(Seq(pageLines.headOption.getOrElse(Seq.empty)),
      extra = Seq(pdfObj(5, s"<< /Title (${escapePdf(title)}) /Author $authorPdf " +
        s"/CreationDate (D:$creation) /Producer (graft) >>")),
      trailerKeys = " /Info 5 0 R")
  }

  /** PDF whose content streams travel through realistic filter chains:
    * `mode` is "png" (FlateDecode + PNG predictors 10-15 via
    * /DecodeParms — every row tag 0-4 exercised), "tiff" (FlateDecode +
    * TIFF predictor 2), "ahx" (/Filter [/ASCIIHexDecode /FlateDecode]
    * chain), "a85" (/Filter [/ASCII85Decode /FlateDecode] chain) or
    * "rl" (RunLengthDecode with literal AND repeat runs) or "lzw"
    * (TIFF-style LZW, default EarlyChange=1).
    * Rows are space-padded to the predictor column width — harmless
    * between content-stream tokens.
    */
  def pdfBytesFiltered(pageLines: Seq[Seq[String]], mode: String): Array[Byte] = {
    val cols = 16
    val encode: Array[Byte] => (Array[Byte], String) = mode match {
      case "png"  => raw => (deflate(pngFilter(padTo(raw, cols), cols, bpp = 1)),
        s" /Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns $cols >>")
      case "tiff" => raw => (deflate(tiffPredict(padTo(raw, cols), cols)),
        s" /Filter /FlateDecode /DecodeParms << /Predictor 2 /Columns $cols >>")
      case "ahx"  => raw => (asciiHexEncode(deflate(raw)), " /Filter [/ASCIIHexDecode /FlateDecode]")
      case "a85"  => raw => (ascii85Encode(deflate(raw)), " /Filter [/ASCII85Decode /FlateDecode]")
      case "rl"   => raw => (runLengthEncode(raw), " /Filter /RunLengthDecode")
      case "lzw"  => raw => (lzwEncode(raw), " /Filter /LZWDecode")
      case other  => throw new IllegalArgumentException(s"mode $other")
    }
    pdfWrite(pageLines, encode = (_, raw) => encode(raw))
  }

  private[graft] def padTo(raw: Array[Byte], cols: Int): Array[Byte] = {
    val rem = raw.length % cols
    if (rem == 0) raw else raw ++ Array.fill[Byte](cols - rem)(' '.toByte)
  }

  /** zlib stream (raw deflate when `nowrap`) at the default level. */
  private[graft] def deflate(raw: Array[Byte], nowrap: Boolean = false): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, nowrap)
    d.setInput(raw); d.finish()
    val buf = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val chunk = new Array[Byte](8192)
    while (!d.finished()) buf.write(chunk, 0, d.deflate(chunk))
    d.end()
    buf.toByteArray
  }

  /** One gzip member; JDK gzip writes MTIME=0, so the bytes are reproducible. */
  private[graft] def gzip(raw: Array[Byte]): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(buf)
    gz.write(raw); gz.finish()
    buf.toByteArray
  }

  /** PNG row filters over `raw` rows of `rowLen` bytes with `bpp` bytes
    * per pixel: each row is prefixed by its tag, which cycles 0..4 (None,
    * Sub, Up, Average, Paeth) so every filter is exercised. The inverse
    * of [[graft.kernels.PngFilters.unfilter]].
    */
  private[graft] def pngFilter(raw: Array[Byte], rowLen: Int, bpp: Int): Array[Byte] = {
    val nRows = raw.length / rowLen
    val out = new Array[Byte](nRows * (rowLen + 1))
    var r = 0
    while (r < nRows) {
      val tag = r % 5
      val row = r * rowLen
      out(r * (rowLen + 1)) = tag.toByte
      var i = 0
      while (i < rowLen) {
        val left = if (i >= bpp) raw(row + i - bpp) & 0xff else 0
        val up = if (r > 0) raw(row - rowLen + i) & 0xff else 0
        val upLeft = if (r > 0 && i >= bpp) raw(row - rowLen + i - bpp) & 0xff else 0
        val pred = tag match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case _ =>
            val p = left + up - upLeft
            val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - upLeft)
            if (pa <= pb && pa <= pc) left else if (pb <= pc) up else upLeft
        }
        out(r * (rowLen + 1) + 1 + i) = (((raw(row + i) & 0xff) - pred) & 0xff).toByte
        i += 1
      }
      r += 1
    }
    out
  }

  /** TIFF predictor 2: per row, byte minus left neighbor (8-bit). */
  private[graft] def tiffPredict(raw: Array[Byte], cols: Int): Array[Byte] = {
    val out = raw.clone()
    var r = 0
    while (r * cols < out.length) {
      var i = cols - 1
      while (i >= 1) {
        out(r * cols + i) = ((raw(r * cols + i) - raw(r * cols + i - 1)) & 0xff).toByte
        i -= 1
      }
      r += 1
    }
    out
  }

  /** ASCII85 (btoa/Adobe) encode with `z` shorthand for zero groups and
    * the `~>` terminator.
    */
  private[graft] def ascii85Encode(data: Array[Byte]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(data.length * 5 / 4 + 8)
    var i = 0
    while (i + 4 <= data.length) {
      var v = 0L
      var k = 0
      while (k < 4) { v = (v << 8) | (data(i + k) & 0xffL); k += 1 }
      if (v == 0L) sb.append('z')
      else {
        val cs = new Array[Char](5)
        var j = 4
        while (j >= 0) { cs(j) = ('!' + (v % 85).toInt).toChar; v /= 85; j -= 1 }
        sb.append(cs)
      }
      if (sb.length % 64 < 5) sb.append('\n')
      i += 4
    }
    val rem = data.length - i
    if (rem > 0) {
      var v = 0L
      var k = 0
      while (k < 4) { v = (v << 8) | (if (k < rem) data(i + k) & 0xffL else 0L); k += 1 }
      val cs = new Array[Char](5)
      var j = 4
      while (j >= 0) { cs(j) = ('!' + (v % 85).toInt).toChar; v /= 85; j -= 1 }
      sb.append(cs, 0, rem + 1)
    }
    sb.append("~>")
    sb.toString.getBytes(UTF_8)
  }

  private def asciiHexEncode(data: Array[Byte]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(data.length * 2 + data.length / 32 + 2)
    var i = 0
    while (i < data.length) {
      sb.append(f"${data(i) & 0xff}%02X")
      if (i % 32 == 31) sb.append('\n')
      i += 1
    }
    sb.append('>')
    sb.toString.getBytes(UTF_8)
  }

  /** TIFF-style LZW encoder (PDF 7.4.4 inverse): MSB-first 9→12-bit
    * codes, EarlyChange=1 (width grows when the DECODER's next code + 1
    * reaches 2^width — the decoder's table lags this encoder's by one
    * entry), ClearTable up front and before the table would overflow,
    * EOD terminator.
    */
  private[graft] def lzwEncode(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length)
    var bitBuf = 0L
    var bitCnt = 0
    var width = 9
    def emit(code: Int): Unit = {
      bitBuf = (bitBuf << width) | code
      bitCnt += width
      while (bitCnt >= 8) { out.write(((bitBuf >>> (bitCnt - 8)) & 0xff).toInt); bitCnt -= 8 }
    }
    var dict = scala.collection.mutable.HashMap.empty[String, Int]
    var next = 258
    def codeOf(s: String): Int = if (s.length == 1) s.charAt(0).toInt else dict(s)
    emit(256) // ClearTable leader (spec-recommended)
    var cur = ""
    var i = 0
    while (i < raw.length) {
      val c = (raw(i) & 0xff).toChar
      val ext = cur + c
      if (cur.isEmpty || ext.length == 1 || dict.contains(ext)) cur = ext
      else {
        emit(codeOf(cur))
        if (next < 4093) {
          dict(ext) = next
          next += 1
          // decoder adds this entry one code later: its next is ours - 1
          if (width < 12 && (next - 1) + 1 >= (1 << width)) width += 1
        } else { emit(256); dict = scala.collection.mutable.HashMap.empty; next = 258; width = 9 }
        cur = c.toString
      }
      i += 1
    }
    if (cur.nonEmpty) emit(codeOf(cur))
    emit(257) // EOD
    if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xff).toInt) // zero-pad tail
    out.toByteArray
  }

  /** RunLengthDecode encoder: repeat runs (>=3 identical bytes) as
    * (257-n, byte), literals chunked to <=128, EOD marker 128.
    */
  private def runLengthEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 16)
    var i = 0
    while (i < data.length) {
      var run = 1
      while (i + run < data.length && data(i + run) == data(i) && run < 128) run += 1
      if (run >= 3) {
        out.write(257 - run); out.write(data(i)); i += run
      } else {
        // literal: extend until a >=3 repeat starts or 128 bytes
        var j = i + 1
        var ok = true
        while (ok && j < data.length && j - i < 128) {
          var r2 = 1
          while (j + r2 < data.length && data(j + r2) == data(j) && r2 < 3) r2 += 1
          if (r2 >= 3) ok = false else j += 1
        }
        out.write(j - i - 1)
        out.write(data, i, j - i)
        i = j
      }
    }
    out.write(128)
    out.toByteArray
  }

  /** Composite-font (Type0/Identity-H) PDF: text is shown as 2-byte CID
    * hex strings and the per-file ToUnicode CMap (built from the page's
    * distinct characters, first-occurrence code assignment) is the ONLY
    * way back to text — the modern Unicode-PDF shape every mainstream
    * producer emits.
    */
  def pdfBytesCid(pageLines: Seq[Seq[String]]): Array[Byte] = {
    val codes = scala.collection.mutable.LinkedHashMap.empty[Char, Int]
    pageLines.foreach(_.foreach(_.foreach { c =>
      if (!codes.contains(c)) codes(c) = codes.size + 1
    }))
    val bf = codes.map { case (c, code) => f"<$code%04X> <${c.toInt}%04X>" }.mkString("\n")
    val cmap = s"beginbfchar\n$bf\nendbfchar"
    val fontObj = 3 + 2 * pageLines.length
    pdfWrite(pageLines, font = "C" -> s"$fontObj 0 R",
      show = _.map(c => f"${codes(c)}%04X").mkString("<", "", ">"),
      extra = Seq(
        pdfObj(fontObj, "<< /Type /Font /Subtype /Type0 /BaseFont /Synth " +
          s"/Encoding /Identity-H /ToUnicode ${fontObj + 1} 0 R >>"),
        pdfStream(fontObj + 1, "", cmap.getBytes(UTF_8))))
  }

  /** Encrypted PDF via the standard security handler with an EMPTY user
    * password (the permission-restricted-but-readable shape that dominates
    * encrypted files in web crawls). `mode` is "rc4-40" (V1/R2),
    * "rc4-128" (V2/R3), "aes128" (V4/R4 /AESV2) or "aes256" (V5/R6
    * /AESV3). All salts/IVs derive from splitmix64 over `seed` so the
    * bytes are deterministic. `userPw` non-empty produces a genuinely
    * password-protected file (extractor must count it unsupported).
    */
  def pdfBytesEncrypted(pageLines: Seq[Seq[String]], mode: String,
      seed: Long, userPw: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    import graft.kernels.PdfCrypto
    def rnd(tag: Long, n: Int): Array[Byte] = {
      val out = new Array[Byte](n)
      var i = 0
      while (i < n) {
        val h = mix(seed ^ (tag * 0x100000001B3L) ^ (i / 8).toLong)
        out(i) = ((h >>> ((i % 8) * 8)) & 0xff).toByte
        i += 1
      }
      out
    }
    val id0 = rnd(1, 16)
    val p = -44
    val empty = Array.emptyByteArray
    val (dec, encDict) = mode match {
      case "rc4-40" | "rc4-128" | "aes128" =>
        val (v, r, bits) = mode match {
          case "rc4-40"  => (1, 2, 40)
          case "rc4-128" => (2, 3, 128)
          case _         => (4, 4, 128)
        }
        val o = PdfCrypto.computeO(empty, userPw, r, bits)
        val key = PdfCrypto.fileKey(userPw, o, p, id0, r, bits, encryptMetadata = true)
        val u = PdfCrypto.computeU(key, id0, r)
        val cf =
          if (v == 4) " /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen /Length 16 >> >> /StmF /StdCF /StrF /StdCF"
          else ""
        (PdfCrypto.Decryptor(aes = v == 4, key, r),
          s"<< /Filter /Standard /V $v /R $r /Length $bits /P $p /O <${hex(o)}> /U <${hex(u)}>$cf >>")
      case "aes256" =>
        val fileKey = rnd(2, 32)
        val vSalt = rnd(3, 8); val kSalt = rnd(4, 8)
        val u = PdfCrypto.hash2B(userPw, vSalt, empty) ++ vSalt ++ kSalt
        val ue = PdfCrypto.aesNoPad(encrypt = true,
          PdfCrypto.hash2B(userPw, kSalt, empty), fileKey)
        val oV = rnd(5, 8); val oK = rnd(6, 8)
        val o = PdfCrypto.hash2B(empty, oV, u) ++ oV ++ oK
        val oe = PdfCrypto.aesNoPad(encrypt = true,
          PdfCrypto.hash2B(empty, oK, u), fileKey)
        // single 16-byte block: CBC with zero IV == ECB, the /Perms op
        val permsBlock = Array(p, p >> 8, p >> 16, p >> 24, 0xff, 0xff,
          0xff, 0xff, 'T', 'a', 'd', 'b').map(_.toByte) ++ rnd(7, 4)
        val perms = PdfCrypto.aesNoPad(encrypt = true, fileKey, permsBlock)
        (PdfCrypto.Decryptor(aes = true, fileKey, 6),
          s"<< /Filter /Standard /V 5 /R 6 /Length 256 /P $p /O <${hex(o)}> /U <${hex(u)}>" +
            s" /OE <${hex(oe)}> /UE <${hex(ue)}> /Perms <${hex(perms)}>" +
            " /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32 >> >> /StmF /StdCF /StrF /StdCF >>")
      case other => throw new IllegalArgumentException(s"mode $other")
    }
    val encObj = 3 + 2 * pageLines.length
    pdfWrite(pageLines,
      encode = (n, raw) => (dec.encrypt(n, 0, raw, rnd(100 + n, 16)), ""),
      extra = Seq(pdfObj(encObj, encDict)),
      trailerKeys = s" /Encrypt $encObj 0 R /ID [<${hex(id0)}> <${hex(id0)}>]",
      version = "1.6")
  }

  // ------------------------------------------------------------ WARC builder

  /** The CRLFCRLF that closes a WARC record in an archive. */
  private[graft] val WarcSep: Array[Byte] = "\r\n\r\n".getBytes(UTF_8)

  /** One WARC/1.0 record: version line, `headers`, Content-Length and the
    * blank line, then `block` — without the closing [[WarcSep]].
    */
  private[graft] def warcRecord(headers: Seq[(String, String)], block: Array[Byte]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(256)
    sb.append("WARC/1.0\r\n")
    headers.foreach { case (k, v) => sb.append(k).append(": ").append(v).append("\r\n") }
    sb.append("Content-Length: ").append(block.length).append("\r\n\r\n")
    sb.toString.getBytes(UTF_8) ++ block
  }

  /** Records each closed by [[WarcSep]]; `gzipMembers` puts every closed
    * record in its own gzip member (the .warc.gz layout).
    */
  private[graft] def warcArchive(records: Seq[Array[Byte]], gzipMembers: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(4096)
    records.foreach { r =>
      val closed = r ++ WarcSep
      out.write(if (gzipMembers) gzip(closed) else closed)
    }
    out.toByteArray
  }

  /** Deterministic WARC/1.0 file wrapping `(url, ts, payload)` entries
    * the way Common Crawl does: a warcinfo record, then per entry a
    * request record followed by its response record. The HTTP response
    * cycles realism modes by entry index: plain Content-Length, chunked
    * transfer encoding, gzip content-encoding, deflate content-encoding
    * (zlib-wrapped and raw variants); every 5th entry is
    * instead stored as a raw `resource` record. `gzipMembers` emits each
    * record as its own gzip member (the .warc.gz layout).
    */
  def warcBytes(entries: Seq[(String, Timestamp, Array[Byte])],
      gzipMembers: Boolean): Array[Byte] = {
    def iso(ts: Timestamp): String =
      java.time.format.DateTimeFormatter.ISO_INSTANT.format(
        java.time.Instant.ofEpochMilli(ts.getTime))
    val records = scala.collection.mutable.ArrayBuffer(warcRecord(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> "<urn:uuid:00000000-0000-0000-0000-000000000000>",
      "WARC-Date" -> "2025-01-01T00:00:00Z",
      "Content-Type" -> "application/warc-fields"),
      "software: graft-testgen\r\n".getBytes(UTF_8)))
    entries.zipWithIndex.foreach { case ((url, ts, payload), i) =>
      val req = ("GET " + url + " HTTP/1.1\r\nHost: example\r\n\r\n").getBytes(UTF_8)
      records += warcRecord(Seq(
        "WARC-Type" -> "request",
        "WARC-Record-ID" -> f"<urn:uuid:11111111-0000-0000-0000-${i}%012d>",
        "WARC-Target-URI" -> url,
        "WARC-Date" -> iso(ts),
        "Content-Type" -> "application/http; msgtype=request"), req)
      if (i % 5 == 4) {
        records += warcRecord(Seq(
          "WARC-Type" -> "resource",
          "WARC-Record-ID" -> f"<urn:uuid:22222222-0000-0000-0000-${i}%012d>",
          "WARC-Target-URI" -> s"<$url>", // angle-bracketed URI form
          "WARC-Date" -> iso(ts),
          "Content-Type" -> "text/html"), payload)
      } else {
        val http = new java.io.ByteArrayOutputStream(payload.length + 256)
        def w(s: String): Unit = http.write(s.getBytes(UTF_8))
        w("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n")
        (i % 4) match {
          case 1 => // chunked: uneven chunk sizes incl. a final partial
            w("Transfer-Encoding: chunked\r\n\r\n")
            var off = 0
            var n = 0
            while (off < payload.length) {
              val sz = math.min(payload.length - off, if (n % 2 == 0) 700 else 123)
              w(f"$sz%x;ext=1\r\n")
              http.write(payload, off, sz)
              w("\r\n")
              off += sz; n += 1
            }
            w("0\r\n\r\n")
          case 2 => // gzip content-encoding
            val gz = gzip(payload)
            w(s"Content-Encoding: gzip\r\nContent-Length: ${gz.length}\r\n\r\n")
            http.write(gz)
          case 3 => // deflate content-encoding: zlib-wrapped on even
            // entries, RAW deflate on odd (the real-server misbehavior
            // browsers tolerate)
            val z = deflate(payload, nowrap = (i / 4) % 2 == 1)
            w(s"Content-Encoding: deflate\r\nContent-Length: ${z.length}\r\n\r\n")
            http.write(z)
          case _ =>
            w(s"Content-Length: ${payload.length}\r\n\r\n")
            http.write(payload)
        }
        records += warcRecord(Seq(
          "WARC-Type" -> "response",
          "WARC-Record-ID" -> f"<urn:uuid:33333333-0000-0000-0000-${i}%012d>",
          "WARC-Target-URI" -> url,
          "WARC-Date" -> iso(ts),
          "Content-Type" -> "application/http; msgtype=response"), http.toByteArray)
      }
    }
    warcArchive(records.toSeq, gzipMembers)
  }

  // -------------------------------------------------------- corpus assembly

  final case class GenPage(row: PageRow, expected: String, kind: String)

  private val Epoch = 1735689600000L // 2025-01-01T00:00:00Z

  /** Zipf-ish host skew: cubing the uniform pushes mass onto low host ids
    * so salting is actually exercised (SURVEY §7.4 hard part #4).
    */
  def hostOf(h: Long, hosts: Int): Int = {
    val u = u01(h)
    math.min(hosts - 1, (hosts * u * u * u).toInt)
  }

  /** Generate row `i` of the corpus. Mix (FIXTURES.md): ~90% HTML, ~8% PDF
    * (half Flate-compressed, some multi-page), ~2% degenerate (empty html →
    * `text` passthrough).
    */
  def genPage(i: Long, seed: Long, hosts: Int = 50): GenPage = {
    val h0 = mix(seed ^ (i * 0x9E3779B97F4A7C15L + 1))
    val host = hostOf(mix(h0 + 1), hosts)
    val url = s"https://host-$host.example/p/$i"
    // floorMod over the full 64-bit mix: spreads warc_ts across the whole
    // 30-day window (a >>>40 shift here once capped the offset at ~4.6 h,
    // silently collapsing the corpus onto a single day partition)
    val ts = new Timestamp(Epoch + Math.floorMod(mix(h0 + 2), 30L * 86400 * 1000))
    val kindU = u01(mix(h0 + 3))
    val arabic = u01(mix(h0 + 4)) < 0.1
    val lang = if (arabic) "ar" else "en"
    if (kindU < 0.90) {
      val variantU = u01(mix(h0 + 60))
      if (variantU < 0.70) {
        // standard: heading? + paragraphs
        val nPara = 1 + (mix(h0 + 5) >>> 33).toInt.abs % 6
        val paragraphs = (0 until nPara).map { p =>
          val n = 5 + (mix(h0 + 10 + p) >>> 33).toInt.abs % 56
          sentence(h0 + 20 + p * 31, n, arabic && p % 2 == 0)
        }
        val heading = if (u01(mix(h0 + 6)) < 0.5) Some(sentence(h0 + 7, 4)) else None
        val html = htmlPage(paragraphs, heading, h0 + 8)
        GenPage(PageRow(url, ts, html.getBytes(UTF_8), "", lang),
          htmlExpected(paragraphs, heading), "html")
      } else if (variantU < 0.85) {
        // list-main: lead paragraph + ul items (each ≥10 words → kept)
        val lead = sentence(h0 + 61, 12, arabic)
        val nItems = 3 + (mix(h0 + 62) >>> 33).toInt.abs % 5
        val items = (0 until nItems).map(k =>
          sentence(h0 + 63 + k * 13, 10 + (mix(h0 + 70 + k) >>> 33).toInt.abs % 6))
        val (html, expected) = htmlListPage(lead, items, h0 + 8)
        GenPage(PageRow(url, ts, html.getBytes(UTF_8), "", lang), expected, "html")
      } else {
        // entity-rich paragraphs (named + numeric entity decoding)
        val nPara = 1 + (mix(h0 + 64) >>> 33).toInt.abs % 3
        val paras = (0 until nPara).map(p => entityPara(h0 + 65 + p * 29))
        val inner = paras.map(p => s"<p>${p._1}</p>\n").mkString
        val html = htmlPageRaw(inner, h0 + 8)
        GenPage(PageRow(url, ts, html.getBytes(UTF_8), "", lang),
          paras.map(_._2).mkString("\n"), "html")
      }
    } else if (kindU < 0.98) {
      val nPages = if (u01(mix(h0 + 5)) < 0.2) 2 else 1
      val pages = (0 until nPages).map { p =>
        val nLines = 2 + (mix(h0 + 30 + p) >>> 33).toInt.abs % 6
        (0 until nLines).map(l => sentence(h0 + 40 + p * 17 + l * 3,
          3 + (mix(h0 + 50 + l) >>> 33).toInt.abs % 8))
      }
      val compress = u01(mix(h0 + 9)) < 0.5
      val pdf = pdfBytes(pages, compress)
      GenPage(PageRow(url, ts, pdf, "", "en"),
        pages.map(_.mkString("\n")).mkString("\n"), "pdf")
    } else {
      val passText = if (u01(mix(h0 + 5)) < 0.5) sentence(h0 + 11, 12) else ""
      GenPage(PageRow(url, ts, Array.emptyByteArray, passText, lang), passText,
        if (passText.isEmpty) "empty" else "passthrough")
    }
  }

  def corpus(n: Int, seed: Long = 42L, hosts: Int = 50): IndexedSeq[GenPage] =
    (0 until n).map(i => genPage(i.toLong, seed, hosts))
}
