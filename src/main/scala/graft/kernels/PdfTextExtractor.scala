package graft.kernels

import graft.model.Span
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Deterministic PDF text extraction (SURVEY.md §7.1 `pdfkernel`).
  *
  * Replaces the reference's raster→Azure-OCR path (api.py:127-144,
  * azure_ocr.py:98-140) with direct content-stream parsing — zero egress,
  * zero raster. Scope (SURVEY §7.4 hard part #1):
  *  - OBJECT-GRAPH WALK: `N G obj … endobj` objects are indexed by
  *    scanning headers (deliberately NOT trusting xref byte offsets —
  *    the repair-mode strategy real parsers fall back to, and the only
  *    robust one against the broken offsets common in crawl PDFs; for
  *    incremental updates the later object wins, which is what the xref
  *    chain would resolve to). Page order comes from the catalog's page
  *    TREE (`/Root` → `/Pages` → `/Kids` recursion), not stream file
  *    order; `/Contents` arrays concatenate.
  *  - TOKEN READERS, one per token form, shared by every site that meets
  *    it: `readLiteral` for `( … )` strings (lexer, /Info, /Encrypt),
  *    `readHex` for `< … >` strings (lexer, /Info, /Encrypt, trailer /ID,
  *    ToUnicode CMap codes and targets; strict for the ASCIIHexDecode
  *    filter) and `scanStreams` for `stream … endstream` payloads (one
  *    whole-file scan read by the object index, `streamOf` and fallback).
  *  - ENCODINGS: per-font decode tables from `/Resources /Font`:
  *    WinAnsiEncoding and MacRomanEncoding (built from the JDK's
  *    windows-1252 / x-MacRoman charsets), `/Differences` overrides via
  *    a glyph-name→Unicode table (AGL subset + `uniXXXX`), Latin-1
  *    semantics for fonts with no declared encoding; Type0 fonts map
  *    2-byte codes through their ToUnicode CMap (codes over 4 bytes are
  *    skipped, never fatal).
  *  - streams: declared filter CHAINS of FlateDecode (with PNG
  *    predictors 10-15 and TIFF predictor 2 via /DecodeParms — common on
  *    real /ObjStm, XRef and content streams), LZWDecode (9→12-bit
  *    TIFF-style codes, /EarlyChange honored, predictors apply),
  *    ASCIIHexDecode, ASCII85Decode and RunLengthDecode; raw when no
  *    filter; content-stream lexer for BT/ET, Tf (font + size), Td, TD,
  *    Tm, TL, T*, Tj, TJ, quote.
  *  - lines: y-cluster rule re-derived from the reference's dormant
  *    `group_lines` (azure_ocr.py:42-82): runs share a line when y
  *    distance < 0.8 × average text height (azure_ocr.py:55-56).
  *  - FALLBACK: files with no parseable catalog are read from the
  *    index's own whole-file stream scan, one page per stream that draws
  *    text, in file order; anything outside scope (encryption, DCT/JBIG2/
  *    JPX filters) is surfaced via `unsupported` — honest counting, never
  *    silent.
  *
  * Pages: one extraction unit per page-tree leaf; `pages` returns
  * per-page text in page-tree order (reference per-page loop
  * api.py:217-228).
  */
object PdfTextExtractor {

  final case class Run(x: Double, y: Double, size: Double, text: String)
  final case class PageText(page_no: Int, text: String, spans: Array[Span])
  final case class PdfResult(pages: Array[PageText], unsupported: Int)

  private val Latin1 = java.nio.charset.StandardCharsets.ISO_8859_1

  def extract(bytes: Array[Byte]): PdfResult = {
    val doc = indexObjects(bytes)
    extractViaPageTree(doc).getOrElse(extractFileOrder(doc))
  }

  /** Fallback for files with no parseable object graph/catalog: the
    * index's stream scan in file order (the pre-object-graph behavior).
    */
  private def extractFileOrder(doc: PdfDoc): PdfResult = {
    // an encrypted file that falls back here has no resolvable object
    // numbers to key per-object decryption: count it honestly instead
    // of lexing ciphertext as content
    if (doc.s.contains("/Encrypt"))
      return PdfResult(Array.empty, math.max(1, doc.streams.length))
    val pages = new ArrayBuffer[PageText](4)
    var unsupported = 0
    var pageNo = 0
    doc.streams.foreach { st =>
      val raw = java.util.Arrays.copyOfRange(doc.bytes, st.from, st.until)
      decodeStream(doc.s.substring(st.dict, st.kw), raw) match {
        case None => unsupported += 1
        case Some(data) =>
          val runs = parseContentStream(data, Map.empty)
          if (runs.nonEmpty) {
            val (text, spans) = assembleLines(runs)
            pages += PageText(pageNo, text, spans)
            pageNo += 1
          }
      }
    }
    PdfResult(pages.toArray, unsupported)
  }

  // -------------------------------------------------- object graph / pages

  /** A scanned stream: keyword offset `kw`, dict [dict, kw), payload [from, until). */
  private final case class FileStream(kw: Int, dict: Int, from: Int, until: Int)

  private final case class PdfDoc(s: String, bytes: Array[Byte],
      streams: ArrayBuffer[FileStream],
      objs: Map[Int, (Int, Int)],
      extra: Map[Int, String] = Map.empty,
      crypt: Option[PdfCrypto.Decryptor] = None) {
    /** The scanned stream whose keyword lies in [a, b), by binary search. */
    def streamIn(a: Int, b: Int): Option[FileStream] =
      streams.lift(streams.view.map(_.kw).search(a).insertionPoint).filter(_.kw < b)

    /** Dict text of an object (body up to its `stream` keyword, if any).
      * Direct file objects win; `extra` holds members expanded out of
      * /ObjStm compressed object streams (PDF 1.5+), which never carry
      * streams of their own.
      */
    def dict(num: Int): String = objs.get(num) match {
      case Some((a, b)) => s.substring(a, streamIn(a, b).fold(b)(_.kw))
      case None => extra.getOrElse(num, "")
    }
  }

  private val ObjHeadRe = java.util.regex.Pattern.compile("(\\d+)\\s+\\d+\\s+obj\\b")

  /** Start of the dict of a `stream` keyword at `kw`: the balanced
    * `<< … >>` that ends just before it (bar whitespace), or `floor` (the
    * end of the previous stream) when that `>>` has no `<<`; -1 when no
    * `>>` ends there, so `stream` at `kw` is no keyword.
    */
  private def dictBefore(s: String, kw: Int, floor: Int): Int = {
    var i = kw
    while (i > floor && isWsChar(s.charAt(i - 1))) i -= 1
    if (!s.startsWith(">>", i - 2)) return -1
    var depth = 0
    i -= 2
    while (i >= floor) {
      if (s.startsWith(">>", i)) { depth += 1; i -= 2 }
      else if (s.startsWith("<<", i)) { depth -= 1; if (depth == 0) return i; i -= 2 }
      else i -= 1
    }
    floor
  }

  /** The one stream locator: in file order, each `stream` keyword that
    * follows a dict (never the tail of `endstream`), its dict and payload,
    * from the keyword's EOL to a direct /Length that `endstream` follows
    * (binary data may end in CR/LF or hold `endstream`), else to the EOL
    * before the next `endstream`, else to the end. The spans also guard the
    * header scan: an `N G obj` INSIDE a payload is a phantom header.
    */
  private def scanStreams(s: String): ArrayBuffer[FileStream] = {
    def skipEol(i0: Int): Int = {
      val i = if (i0 < s.length && s.charAt(i0) == '\r') i0 + 1 else i0
      if (i < s.length && s.charAt(i) == '\n') i + 1 else i
    }
    val out = new ArrayBuffer[FileStream](8)
    var i = 0
    while (i < s.length) {
      val k = s.indexOf("stream", i)
      val d = if (k < 0) -1 else dictBefore(s, k, i)
      if (k < 0) i = s.length
      else if (d < 0) i = k + 6 // text such as `endstream` or a string's word
      else {
        val p = skipEol(k + 6)
        intOf(s.substring(d, k), "Length").filter(p.toLong + _ <= s.length).map(p + _)
          .filter(q => s.startsWith("endstream", skipEol(q))) match {
          case Some(q) => out += FileStream(k, d, p, q); i = skipEol(q) + 9
          case None =>
            val e = s.indexOf("endstream", p)
            var q = if (e < 0) s.length else e
            if (q > p && s.charAt(q - 1) == '\n') q -= 1
            if (q > p && s.charAt(q - 1) == '\r') q -= 1
            out += FileStream(k, d, p, q)
            i = if (e < 0) s.length else e + 9
        }
      }
    }
    out
  }

  /** Object index (`objs` empty when the file has no object headers). */
  private def indexObjects(bytes: Array[Byte]): PdfDoc = {
    val s = new String(bytes, Latin1)
    val streams = scanStreams(s)
    val m = ObjHeadRe.matcher(s)
    val all = new ArrayBuffer[(Int, Int, Int)](16) // (num, bodyStart, headStart)
    while (m.find()) all += ((m.group(1).toInt, m.end(), m.start()))
    val filtered = all.filterNot { case (_, _, h) => // last stream starting at or before h
      streams.lift(streams.view.map(_.from).search(h + 1).insertionPoint - 1).exists(h < _.until)
    }
    // raw-scan fallback: if span exclusion leaves nothing (pathological
    // framing), trust the raw header scan as before
    val heads = if (filtered.nonEmpty) filtered else all
    var objs = Map.empty[Int, (Int, Int)]
    var e = s.indexOf("endobj") // first `endobj` at or after the current body
    var i = 0
    while (i < heads.length) {
      val (num, a, _) = heads(i)
      val hardEnd = if (i + 1 < heads.length) heads(i + 1)._3 else s.length
      if (e >= 0 && e < a) e = s.indexOf("endobj", a)
      val b = if (e >= 0 && e < hardEnd) e else hardEnd
      objs += num -> (a, b) // later duplicate (incremental update) wins
      i += 1
    }
    PdfDoc(s, bytes, streams, objs)
  }

  // key-parameterized patterns compile once per (shape, key) — these run
  // per page per document on the corpus hot path
  private val patternCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()
  private def cachedPattern(id: String, regex: => String): java.util.regex.Pattern = {
    val p = patternCache.get(id)
    if (p != null) p
    else { val c = java.util.regex.Pattern.compile(regex); patternCache.putIfAbsent(id, c); c }
  }

  private def refOf(dict: String, key: String): Option[Int] = {
    val m = cachedPattern("ref:" + key, "/" + key + "\\s+(\\d+)\\s+\\d+\\s+R").matcher(dict)
    if (m.find()) Some(m.group(1).toInt) else None
  }

  /** LAST match of `/key N 0 R` — for whole-file keys (e.g. /Root) the
    * final trailer governs in incrementally-updated files, consistent
    * with the later-object-wins rule applied to object bodies.
    */
  private def lastRefOf(s: String, key: String): Option[Int] = {
    val m = cachedPattern("ref:" + key, "/" + key + "\\s+(\\d+)\\s+\\d+\\s+R").matcher(s)
    var r: Option[Int] = None
    while (m.find()) r = Some(m.group(1).toInt)
    r
  }

  private def refsOf(dict: String, key: String): Seq[Int] = {
    val arr = cachedPattern("refs:" + key, "/" + key + "\\s*\\[([^\\]]*)\\]").matcher(dict)
    if (arr.find()) {
      val inner = arr.group(1)
      val r = java.util.regex.Pattern.compile("(\\d+)\\s+\\d+\\s+R").matcher(inner)
      val out = new ArrayBuffer[Int](4)
      while (r.find()) out += r.group(1).toInt
      out.toSeq
    } else refOf(dict, key).toSeq
  }

  private def nameOf(dict: String, key: String): Option[String] = {
    val m = cachedPattern("name:" + key, "/" + key + "\\s*/(\\w+)").matcher(dict)
    if (m.find()) Some(m.group(1)) else None
  }

  /** Balanced `<< … >>` region starting at the first `<<` at/after `from`. */
  private def balancedDict(s: String, from: Int): Option[String] = {
    val start = s.indexOf("<<", from)
    if (start < 0) return None
    var depth = 0
    var i = start
    while (i < s.length - 1) {
      if (s.charAt(i) == '<' && s.charAt(i + 1) == '<') { depth += 1; i += 2 }
      else if (s.charAt(i) == '>' && s.charAt(i + 1) == '>') {
        depth -= 1; i += 2
        if (depth == 0) return Some(s.substring(start, i))
      } else i += 1
    }
    None
  }

  /** Stream payload of object `num`, decoded through its declared filter
    * chain. Returns None when the object has no stream or an unsupported
    * filter (encryption, DCT, ... stay honestly `unsupported`).
    */
  private def streamOf(doc: PdfDoc, num: Int): Option[Array[Byte]] =
    doc.objs.get(num).flatMap { case (a, b) => doc.streamIn(a, b).map((a, _)) }.flatMap {
      case (a, st) =>
        val d = doc.s.substring(a, st.kw)
        val raw = java.util.Arrays.copyOfRange(doc.bytes, st.from, st.until)
        // decrypt-then-decode: stream data is encrypted AFTER filtering
        // at write time, so decryption comes first on read. Generation
        // numbers are virtually always 0 in practice (and always 0 in
        // the fixture corpus); the object index doesn't track them.
        doc.crypt match {
          case Some(c) => c.decrypt(num, 0, raw).flatMap(decodeStream(d, _))
          case None    => decodeStream(d, raw)
        }
    }

  // ------------------------------------------------------- stream filters

  private val FilterRe =
    java.util.regex.Pattern.compile("/Filter\\s*(?:\\[([^\\]]*)\\]|/(\\w+))")
  private val NameRe = java.util.regex.Pattern.compile("/(\\w+)")

  /** Declared filter names in application (decode) order. */
  private def filtersOf(dict: String): Seq[String] = {
    val m = FilterRe.matcher(dict)
    if (!m.find()) Seq.empty
    else if (m.group(2) != null) Seq(m.group(2))
    else {
      val inner = NameRe.matcher(m.group(1))
      val out = new ArrayBuffer[String](2)
      while (inner.find()) out += inner.group(1)
      out.toSeq
    }
  }

  /** Apply the declared filter chain (ASCIIHex / ASCII85 / RunLength /
    * LZW / Flate with PNG+TIFF predictors). Unknown filter → None. A /Filter
    * key the name regex cannot parse (indirect reference `/Filter 8 0 R`
    * — legal, some producers emit it) must ALSO be None: returning the
    * raw compressed bytes would feed deflate garbage to the lexer as a
    * "successful" extraction, violating honest `unsupported` counting.
    */
  private def decodeStream(dict: String, raw: Array[Byte]): Option[Array[Byte]] = {
    val filters = filtersOf(dict)
    if (filters.isEmpty && dict.contains("/Filter")) return None
    filters.foldLeft(Option(raw)) { (acc, f) =>
      acc.flatMap { data =>
        f match {
          case "FlateDecode" | "Fl" =>
            // a truncated stream keeps what it inflated, as viewers do
            Inflate(data).flatMap(o => applyPredictor(dict, o.bytes))
          case "LZWDecode" | "LZW" =>
            // /EarlyChange defaults to 1 per the spec: code width grows
            // one code early, TIFF-compatible
            val early = decodeParms(dict).flatMap(intOf(_, "EarlyChange")).getOrElse(1)
            lzwDecode(data, early).flatMap(applyPredictor(dict, _))
          case "ASCIIHexDecode" | "AHx" => asciiHexDecode(data)
          case "ASCII85Decode" | "A85" => ascii85Decode(data)
          case "RunLengthDecode" | "RL" => runLengthDecode(data)
          case _ => None // unsupported filter, counted honestly upstream
        }
      }
    }
  }

  /** The /DecodeParms (or abbreviated /DP) dict of a stream dict. */
  private def decodeParms(dict: String): Option[String] = {
    val pi = dict.indexOf("/DecodeParms") match {
      case -1 => dict.indexOf("/DP")
      case x  => x
    }
    if (pi < 0) None else balancedDict(dict, pi)
  }

  /** Undo the /DecodeParms /Predictor transform after Inflate: PNG
    * predictors 10-15 (per-row filter-tag byte, the form real producers
    * emit on /ObjStm, XRef and content streams) and TIFF predictor 2
    * (8-bit components). Predictor 1 / absent = identity.
    */
  private def applyPredictor(dict: String, data: Array[Byte]): Option[Array[Byte]] = {
    val parms = decodeParms(dict).getOrElse(return Some(data))
    val pred = intOf(parms, "Predictor").getOrElse(1)
    if (pred <= 1) return Some(data)
    val colors = intOf(parms, "Colors").getOrElse(1)
    val bpc = intOf(parms, "BitsPerComponent").getOrElse(8)
    val columns = intOf(parms, "Columns").getOrElse(1)
    val bpp = math.max(1, colors * bpc / 8)
    val rowLen = (columns * colors * bpc + 7) / 8
    if (rowLen <= 0) return None
    if (pred == 2) {
      if (bpc != 8) return None // TIFF predictor only for 8-bit comps
      val out = data.clone()
      var r = 0
      while (r * rowLen < out.length) {
        val base = r * rowLen
        var i = bpp
        while (i < rowLen && base + i < out.length) {
          out(base + i) = (out(base + i) + out(base + i - bpp)).toByte
          i += 1
        }
        r += 1
      }
      Some(out)
    } else if (pred >= 10) {
      PngFilters.unfilter(data, rowLen, bpp) // shared PNG row reconstruction
    } else None
  }

  /** TIFF-style LZW (PDF 7.4.4): MSB-first variable-width codes 9→12
    * bits, 256 = ClearTable, 257 = EOD; with EarlyChange the width grows
    * when `next + earlyChange` reaches 2^width. Bounded output; None on
    * any malformed code (honest `unsupported`, never garbage).
    */
  private[graft] def lzwDecode(data: Array[Byte], earlyChange: Int,
      maxOut: Int = 1 << 26): Option[Array[Byte]] =
    try {
      val out = new java.io.ByteArrayOutputStream(data.length * 3)
      val table = new Array[Array[Byte]](4096)
      var b = 0
      while (b < 256) { table(b) = Array(b.toByte); b += 1 }
      var next = 258
      var width = 9
      var prev: Array[Byte] = null
      var bitBuf = 0L
      var bitCnt = 0
      var i = 0
      var done = false
      while (!done) {
        // MSB-first code read; running off the end = implicit EOD
        while (bitCnt < width && i < data.length) {
          bitBuf = (bitBuf << 8) | (data(i) & 0xffL); i += 1; bitCnt += 8
        }
        val code =
          if (bitCnt < width) 257
          else { val v = ((bitBuf >>> (bitCnt - width)) & ((1L << width) - 1)).toInt; bitCnt -= width; v }
        if (code == 257) done = true
        else if (code == 256) { next = 258; width = 9; prev = null }
        else {
          val entry =
            if (code < next && table(code) != null) table(code)
            else if (code == next && prev != null) prev :+ prev(0) // KwKwK
            else return None
          out.write(entry, 0, entry.length)
          if (out.size > maxOut) return None
          if (prev != null && next < 4096) {
            table(next) = prev :+ entry(0)
            next += 1
            if (width < 12 && next + earlyChange >= (1 << width)) width += 1
          }
          prev = entry
        }
      }
      Some(out.toByteArray)
    } catch { case _: StackOverflowError | NonFatal(_) => None }

  private def asciiHexDecode(data: Array[Byte]): Option[Array[Byte]] = {
    val sb = new java.lang.StringBuilder(data.length / 2)
    if (readHex(new String(data, Latin1), 0, strict = true, sb) < 0) None
    else Some(sb.toString.getBytes(Latin1))
  }

  private def ascii85Decode(data: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 4 / 5 + 4)
    val group = new Array[Int](5)
    var g = 0
    var i = 0
    // optional <~ leader (Adobe tools emit it; PDF streams usually don't)
    if (data.length >= 2 && data(0) == '<' && data(1) == '~') i = 2
    var done = false
    while (i < data.length && !done) {
      val c = data(i).toChar
      if (c == '~') done = true // ~> terminator
      else if (c == 'z' && g == 0) { out.write(0); out.write(0); out.write(0); out.write(0) }
      else if (c >= '!' && c <= 'u') {
        group(g) = c - '!'
        g += 1
        if (g == 5) {
          var v = 0L
          var k = 0
          while (k < 5) { v = v * 85 + group(k); k += 1 }
          out.write(((v >>> 24) & 0xff).toInt); out.write(((v >>> 16) & 0xff).toInt)
          out.write(((v >>> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
          g = 0
        }
      } else if (c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0.toChar) ()
      else return None
      i += 1
    }
    if (g == 1) return None // a lone trailing char is malformed
    if (g > 1) {
      // final partial group of n chars encodes n-1 bytes (pad with 'u')
      var v = 0L
      var k = 0
      while (k < 5) { v = v * 85 + (if (k < g) group(k) else 84); k += 1 }
      val bs = Array(((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
        ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
      out.write(bs, 0, g - 1)
    }
    Some(out.toByteArray)
  }

  private def runLengthDecode(data: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 2)
    var i = 0
    while (i < data.length) {
      val len = data(i) & 0xff
      if (len == 128) i = data.length // EOD
      else if (len < 128) {
        if (i + len + 2 > data.length) return None
        out.write(data, i + 1, len + 1)
        i += len + 2
      } else {
        if (i + 1 >= data.length) return None
        var k = 0
        while (k < 257 - len) { out.write(data(i + 1)); k += 1 }
        i += 2
      }
    }
    Some(out.toByteArray)
  }

  private def intOf(dict: String, key: String): Option[Int] = {
    val m = cachedPattern("int:" + key, "/" + key + "\\s+(\\d+)").matcher(dict)
    // a value past Int.MaxValue reads as absent, like any unusable value
    if (m.find()) m.group(1).toIntOption else None
  }

  // --------------------------------------------------------- token readers

  /** Literal string whose `(` is at `open` (PDF 32000 §7.3.4.2): balanced
    * parentheses, the escape table, 1-3 digit octal, and a backslash
    * before LF, CR or CRLF continues the line. Appends one char per
    * decoded byte to `sb`; returns the index after the closing `)` (end
    * of input when unterminated).
    */
  private def readLiteral(s: String, open: Int, sb: java.lang.StringBuilder): Int = {
    val n = s.length
    var depth = 1
    var i = open + 1
    while (i < n && depth > 0) {
      val ch = s.charAt(i)
      if (ch == '\\' && i + 1 < n) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case d if d >= '0' && d <= '7' =>
            var v = 0; var k = 0; i += 1
            while (k < 3 && i < n && s.charAt(i) >= '0' && s.charAt(i) <= '7') {
              v = v * 8 + (s.charAt(i) - '0'); i += 1; k += 1
            }
            sb.append((v & 0xFF).toChar)
          case '\n' => i += 2
          case '\r' => i += (if (i + 2 < n && s.charAt(i + 2) == '\n') 3 else 2)
          case other => sb.append(other); i += 2 // \( \) \\ and unknown escapes
        }
      } else {
        if (ch == '(') depth += 1 else if (ch == ')') depth -= 1
        if (depth > 0) sb.append(ch)
        i += 1
      }
    }
    i
  }

  /** Hex string body from `from` (just past `<`) up to `>` (§7.3.4.3):
    * whitespace is skipped and an odd final digit is padded with 0.
    * Appends one char per decoded byte to `sb`; returns the index after
    * `>` (end of input when unterminated). Other characters are skipped,
    * or, when `strict` (the ASCIIHexDecode filter), reject it with -1.
    */
  private def readHex(s: String, from: Int, strict: Boolean, sb: java.lang.StringBuilder): Int = {
    var hi = -1
    var i = from
    while (i < s.length && s.charAt(i) != '>') {
      val c = s.charAt(i)
      val v = Character.digit(c, 16)
      if (v >= 0) {
        if (hi < 0) hi = v
        else { sb.append(((hi << 4) | v).toChar); hi = -1 }
      } else if (strict && !isWsChar(c)) return -1
      i += 1
    }
    if (hi >= 0) sb.append((hi << 4).toChar)
    if (i < s.length) i + 1 else i
  }

  /** The string token at `i` — literal `(..)` or hex `<..>`, not a `<<`
    * dict — decoded into `sb`; returns the index after it, or -1 when no
    * string starts at `i`.
    */
  private def readString(s: String, i: Int, sb: java.lang.StringBuilder): Int =
    if (i >= s.length) -1
    else if (s.charAt(i) == '(') readLiteral(s, i, sb)
    else if (s.charAt(i) == '<' && i + 1 < s.length && s.charAt(i + 1) != '<')
      readHex(s, i + 1, strict = false, sb)
    else -1

  /** PDF string value of `/key` — the first `/key` followed by a string
    * token — as raw bytes.
    */
  private def strOf(dict: String, key: String): Option[Array[Byte]] = {
    val tag = "/" + key
    var k = dict.indexOf(tag)
    while (k >= 0) {
      var i = k + tag.length
      while (i < dict.length && isWsChar(dict.charAt(i))) i += 1
      val sb = new java.lang.StringBuilder(32)
      if (readString(dict, i, sb) >= 0) return Some(sb.toString.getBytes(Latin1))
      k = dict.indexOf(tag, k + 1)
    }
    None
  }

  // ------------------------------------------------------------ encryption

  final case class DocInfo(title: String, author: String, creationDate: String)

  /** Document-information dictionary: /Info from the LAST trailer
    * (last-wins, like /Root), resolved through the object index (so an
    * /ObjStm-compressed Info dict works too). Title/Author decode per
    * PDF text-string rules — UTF-16BE when BOM-prefixed, else
    * PDFDocEncoding (≈ Latin-1 for the printable range); /CreationDate
    * `D:YYYYMMDDHHmmSS` normalizes to ISO `yyyy-MM-ddTHH:mm:ss` with
    * missing fields defaulting per the PDF spec (month/day 01, time 00).
    * Strings in ENCRYPTED documents are not decrypted here — the text
    * path owns decryption; info harvest on encrypted files returns the
    * raw (unreadable) bytes' decode honestly rather than guessing.
    */
  def docInfo(bytes: Array[Byte]): DocInfo = {
    val (doc, _) = expandObjStm(indexObjects(bytes))
    lastRefOf(doc.s, "Info") match {
      case None => DocInfo("", "", "")
      case Some(num) =>
        val d = doc.dict(num)
        def str(key: String): String =
          strOf(d, key).map(decodePdfText).getOrElse("")
        DocInfo(str("Title"), str("Author"), pdfDate(strOf(d, "CreationDate")))
    }
  }

  private def decodePdfText(b: Array[Byte]): String =
    if (b.length >= 2 && (b(0) & 0xff) == 0xfe && (b(1) & 0xff) == 0xff)
      new String(b, 2, b.length - 2, java.nio.charset.StandardCharsets.UTF_16BE)
    else new String(b, Latin1)

  private def pdfDate(raw: Option[Array[Byte]]): String = raw match {
    case None => ""
    case Some(b) =>
      val s = new String(b, Latin1)
      val m = cachedPattern("pdfdate",
        "D:(\\d{4})(\\d{2})?(\\d{2})?(\\d{2})?(\\d{2})?(\\d{2})?").matcher(s)
      if (!m.find()) ""
      else {
        def g(i: Int, dflt: String) = Option(m.group(i)).getOrElse(dflt)
        s"${m.group(1)}-${g(2, "01")}-${g(3, "01")}T${g(4, "00")}:${g(5, "00")}:${g(6, "00")}"
      }
  }

  /** Signed integer value of `/key` (the /P permissions flag is negative). */
  private def signedIntOf(dict: String, key: String): Option[Int] = {
    val m = cachedPattern("sint:" + key, "/" + key + "\\s+(-?\\d+)").matcher(dict)
    if (m.find()) Some(m.group(1).toLong.toInt) else None
  }

  /** First element of the LAST trailer /ID array, as raw bytes. */
  private val IdRe = java.util.regex.Pattern.compile("/ID\\s*\\[\\s*<")
  private def idFirst(s: String): Array[Byte] = {
    val m = IdRe.matcher(s)
    var from = -1
    while (m.find()) from = m.end()
    val sb = new java.lang.StringBuilder(16)
    if (from >= 0) readHex(s, from, strict = false, sb)
    sb.toString.getBytes(Latin1)
  }

  /** Resolve the /Encrypt state of the document with the EMPTY user
    * password. None = not encrypted; Some(None) = encrypted but not
    * decryptable here (real password, or an unsupported handler/V) —
    * the whole file counts unsupported; Some(Some(d)) = transparent
    * decryption via `d`.
    */
  private def buildCrypt(doc: PdfDoc): Option[Option[PdfCrypto.Decryptor]] = {
    val encNum = lastRefOf(doc.s, "Encrypt").getOrElse(return None)
    val d = doc.dict(encNum)
    if (d.isEmpty || !nameOf(d, "Filter").contains("Standard")) return Some(None)
    val v = intOf(d, "V").getOrElse(0)
    val r = intOf(d, "R").getOrElse(if (v == 1) 2 else 3)
    val o = strOf(d, "O").getOrElse(return Some(None))
    val u = strOf(d, "U").getOrElse(return Some(None))
    val empty = Array.emptyByteArray
    if ((v == 1 || v == 2 || v == 4) && r >= 2 && r <= 4) {
      val cfm = nameOf(d, "CFM")
      if (v == 4 && !cfm.exists(c => c == "AESV2" || c == "V2")) return Some(None)
      val aes = v == 4 && cfm.contains("AESV2")
      val p = signedIntOf(d, "P").getOrElse(-1)
      val lengthBits = intOf(d, "Length").getOrElse(40)
      val encMeta = !d.replaceAll("\\s+", " ").contains("/EncryptMetadata false")
      val id0 = idFirst(doc.s)
      val key = PdfCrypto.fileKey(empty, o, p, id0, r, lengthBits, encMeta)
      if (!PdfCrypto.userPasswordIsEmpty(key, u, id0, r)) Some(None)
      else Some(Some(PdfCrypto.Decryptor(aes, key, r)))
    } else if (v == 5 && (r == 5 || r == 6)) {
      if (u.length < 48) return Some(None)
      val hash = u.take(32)
      val vSalt = u.slice(32, 40)
      val kSalt = u.slice(40, 48)
      val ue = strOf(d, "UE").getOrElse(return Some(None))
      if (ue.length < 32) return Some(None)
      val computed =
        if (r == 5) PdfCrypto.sha256(empty ++ vSalt)
        else PdfCrypto.hash2B(empty, vSalt, empty)
      if (!java.util.Arrays.equals(computed, hash)) Some(None)
      else {
        val ikey =
          if (r == 5) PdfCrypto.sha256(empty ++ kSalt)
          else PdfCrypto.hash2B(empty, kSalt, empty)
        val key = PdfCrypto.aesNoPad(encrypt = false, ikey, ue.take(32))
        Some(Some(PdfCrypto.Decryptor(aes = true, key, r)))
      }
    } else Some(None)
  }

  /** Expand /ObjStm compressed object streams (PDF 1.5+): the decoded
    * payload is N (objNum, offset) integer pairs followed by the
    * serialized member objects (no obj/endobj wrappers, never streams).
    * Returns the doc with members visible plus the count of object
    * streams that failed to expand (→ unsupported).
    */
  private def expandObjStm(doc0: PdfDoc): (PdfDoc, Int) = {
    var extra = Map.empty[Int, String]
    var failed = 0
    doc0.objs.keys.foreach { n =>
      val d = doc0.dict(n)
      if (d.contains("/ObjStm")) {
        val ok = (for {
          data <- streamOf(doc0, n)
          nObjs <- intOf(d, "N")
          first <- intOf(d, "First")
        } yield {
          val s2 = new String(data, Latin1)
          if (first > s2.length) false
          else {
            val header = s2.substring(0, first)
            val ints = "\\d+".r.findAllIn(header).map(_.toInt).toArray
            val pairs = (0 until math.min(nObjs, ints.length / 2))
              .map(i => (ints(2 * i), ints(2 * i + 1)))
            pairs.zipWithIndex.foreach { case ((num, off), i) =>
              val from = math.min(first + off, s2.length)
              val to = if (i + 1 < pairs.length)
                math.min(first + pairs(i + 1)._2, s2.length) else s2.length
              if (from < to) extra += num -> s2.substring(from, to)
            }
            true
          }
        }).getOrElse(false)
        if (!ok) failed += 1
      }
    }
    (doc0.copy(extra = extra), failed)
  }

  /** Page-tree extraction; None when no catalog/page tree resolves. */
  private def extractViaPageTree(doc0: PdfDoc): Option[PdfResult] = {
    if (doc0.objs.isEmpty) return None
    val doc1 = buildCrypt(doc0) match {
      case None            => doc0
      case Some(None)      => return Some(PdfResult(Array.empty, 1)) // honest: can't decrypt
      case Some(Some(dec)) => doc0.copy(crypt = Some(dec))
    }
    val (doc, objStmFailed) = expandObjStm(doc1)
    val rootNum = lastRefOf(doc.s, "Root").orElse {
      (doc.objs.keys ++ doc.extra.keys).find(n => doc.dict(n).contains("/Catalog"))
    }.getOrElse(return None)
    val pagesRoot = refOf(doc.dict(rootNum), "Pages").getOrElse(return None)
    // walk the page tree in Kids order
    val leaves = new ArrayBuffer[Int](8)
    val visited = scala.collection.mutable.HashSet.empty[Int]
    def walk(num: Int): Unit = {
      if (!visited.add(num) || leaves.length > 100000) return
      val d = doc.dict(num)
      val kids = refsOf(d, "Kids")
      if (kids.nonEmpty && d.contains("/Pages")) kids.foreach(walk)
      else if (kids.nonEmpty && !d.contains("/Page")) kids.foreach(walk)
      else if (d.contains("/Page") || d.contains("/Contents")) leaves += num
    }
    walk(pagesRoot)
    if (leaves.isEmpty) return None

    val pages = new ArrayBuffer[PageText](leaves.length)
    var unsupported = 0
    var pageNo = 0
    leaves.foreach { pg =>
      val d = doc.dict(pg)
      val fonts = fontTables(doc, d)
      val contentRefs = refsOf(d, "Contents")
      if (contentRefs.isEmpty) ()
      else {
        val parts = contentRefs.map(c => (c, streamOf(doc, c)))
        if (parts.exists(_._2.isEmpty)) unsupported += parts.count(_._2.isEmpty)
        val data = parts.flatMap(_._2) match {
          case Seq() => Array.emptyByteArray
          case ds    => ds.reduce((x, y) => x ++ Array[Byte]('\n') ++ y)
        }
        val runs = parseContentStream(data, fonts)
        if (runs.nonEmpty) {
          val (text, spans) = assembleLines(runs)
          pages += PageText(pageNo, text, spans)
          pageNo += 1
        }
      }
    }
    // object streams that failed to expand stay honestly counted
    unsupported += objStmFailed
    Some(PdfResult(pages.toArray, unsupported))
  }

  // ---------------------------------------------------------- font decode

  /** Per-font decode model: simple fonts map single bytes through a
    * 256-entry table; composite (Type0/Identity-H) fonts consume 2-byte
    * codes looked up in the ToUnicode CMap. Codes with no mapping drop
    * (notdef) — honest loss, never mojibake.
    */
  private sealed trait FontDec
  private final case class ByteTable(t: Array[Char]) extends FontDec
  private final case class CidMap(m: java.util.HashMap[Integer, String]) extends FontDec

  private val BfCharRe = java.util.regex.Pattern.compile(
    "beginbfchar(.*?)endbfchar", java.util.regex.Pattern.DOTALL)
  private val BfRangeRe = java.util.regex.Pattern.compile(
    "beginbfrange(.*?)endbfrange", java.util.regex.Pattern.DOTALL)

  /** The `<..>` tokens of one CMap section in order, one char per byte. */
  private def hexTokens(section: String): ArrayBuffer[String] = {
    val out = new ArrayBuffer[String](8)
    var i = section.indexOf('<')
    while (i >= 0) {
      val sb = new java.lang.StringBuilder(4)
      i = section.indexOf('<', readHex(section, i + 1, strict = false, sb))
      out += sb.toString
    }
    out
  }

  /** A CMap code: its 1-4 bytes big-endian, or -1 for any other length. */
  private def cmapCode(tok: String): Long =
    if (tok.isEmpty || tok.length > 4) -1L else tok.foldLeft(0L)((v, c) => (v << 8) | c)

  /** A CMap target: its bytes as UTF-16BE units (an odd last byte drops). */
  private def utf16(tok: String): String =
    new String(Array.tabulate(tok.length / 2)(i => ((tok(2 * i) << 8) | tok(2 * i + 1)).toChar))

  /** Parse a ToUnicode CMap stream (bfchar pairs + simple bfrange runs —
    * the shapes every mainstream producer emits).
    */
  private def parseToUnicode(cmap: String): CidMap = {
    val m = new java.util.HashMap[Integer, String]()
    val bc = BfCharRe.matcher(cmap)
    while (bc.find()) {
      val t = hexTokens(bc.group(1))
      var j = 0
      while (j + 1 < t.length) {
        val src = cmapCode(t(j))
        if (src >= 0) m.put(src.toInt, utf16(t(j + 1)))
        j += 2
      }
    }
    val br = BfRangeRe.matcher(cmap)
    while (br.find()) {
      val t = hexTokens(br.group(1))
      var j = 0
      while (j + 2 < t.length) {
        val lo = cmapCode(t(j))
        val hi = cmapCode(t(j + 1))
        val dst0 = utf16(t(j + 2))
        if (lo >= 0 && dst0.nonEmpty && hi - lo <= 0xFFFF) {
          val stem = dst0.substring(0, dst0.length - 1)
          val last = dst0.charAt(dst0.length - 1)
          var c = lo
          while (c <= hi) { m.put(c.toInt, stem + (last + (c - lo)).toChar); c += 1 }
        }
        j += 3
      }
    }
    CidMap(m)
  }

  // ------------------------------------------------------------- encodings

  private def charsetTable(cs: String): Array[Char] = {
    val t = new Array[Char](256)
    val charset = java.nio.charset.Charset.forName(cs)
    var b = 0
    while (b < 256) {
      val d = new String(Array(b.toByte), charset)
      // bytes the charset leaves undefined (JDK decodes to U+FFFD, e.g.
      // windows-1252's 0x81/0x8D/0x8F/0x90/0x9D) drop as notdef at emit
      // (notdef sentinel) — honest loss, never a replacement glyph
      t(b) =
        if (d.length == 1 && d.charAt(0) != '�') d.charAt(0)
        else if (d.length == 1) 0.toChar
        else b.toChar
      b += 1
    }
    t
  }

  private lazy val WinAnsi: Array[Char] = charsetTable("windows-1252")
  private lazy val MacRoman: Array[Char] = charsetTable("x-MacRoman")
  private lazy val Latin1Table: Array[Char] = charsetTable("ISO-8859-1")

  /** AGL subset for /Differences: letters/digits/punct + Latin-1 accents
    * + typographic names; `uniXXXX` parsed numerically; unknown → notdef
    * (dropped at emit).
    */
  private lazy val GlyphMap: Map[String, Char] = {
    val b = Map.newBuilder[String, Char]
    val digits = Seq("zero", "one", "two", "three", "four", "five", "six",
      "seven", "eight", "nine")
    digits.zipWithIndex.foreach { case (n, i) => b += n -> ('0' + i).toChar }
    Seq("space" -> ' ', "exclam" -> '!', "quotedbl" -> '"',
      "numbersign" -> '#', "dollar" -> '$', "percent" -> '%',
      "ampersand" -> '&', "quotesingle" -> '\'', "parenleft" -> '(',
      "parenright" -> ')', "asterisk" -> '*', "plus" -> '+', "comma" -> ',',
      "hyphen" -> '-', "period" -> '.', "slash" -> '/', "colon" -> ':',
      "semicolon" -> ';', "less" -> '<', "equal" -> '=', "greater" -> '>',
      "question" -> '?', "at" -> '@', "bracketleft" -> '[',
      "backslash" -> '\\', "bracketright" -> ']', "asciicircum" -> '^',
      "underscore" -> '_', "grave" -> '`', "braceleft" -> '{',
      "bar" -> '|', "braceright" -> '}', "asciitilde" -> '~').foreach(b += _)
    // accented Latin-1 (lowercase names; uppercase variant = capitalized)
    val accents = Seq(
      "aacute" -> '\u00e1', "agrave" -> '\u00e0', "acircumflex" -> '\u00e2',
      "adieresis" -> '\u00e4', "atilde" -> '\u00e3', "aring" -> '\u00e5',
      "ae" -> '\u00e6', "ccedilla" -> '\u00e7', "eacute" -> '\u00e9',
      "egrave" -> '\u00e8', "ecircumflex" -> '\u00ea', "edieresis" -> '\u00eb',
      "iacute" -> '\u00ed', "igrave" -> '\u00ec', "icircumflex" -> '\u00ee',
      "idieresis" -> '\u00ef', "ntilde" -> '\u00f1', "oacute" -> '\u00f3',
      "ograve" -> '\u00f2', "ocircumflex" -> '\u00f4', "odieresis" -> '\u00f6',
      "otilde" -> '\u00f5', "oslash" -> '\u00f8', "uacute" -> '\u00fa',
      "ugrave" -> '\u00f9', "ucircumflex" -> '\u00fb', "udieresis" -> '\u00fc',
      "yacute" -> '\u00fd', "ydieresis" -> '\u00ff', "thorn" -> '\u00fe',
      "eth" -> '\u00f0')
    accents.foreach { case (n, c) =>
      b += n -> c
      b += n.capitalize -> Character.toUpperCase(c)
    }
    Seq("germandbls" -> '\u00df', "quoteleft" -> '\u2018',
      "quoteright" -> '\u2019', "quotedblleft" -> '\u201c',
      "quotedblright" -> '\u201d', "quotesinglbase" -> '\u201a',
      "quotedblbase" -> '\u201e', "endash" -> '\u2013', "emdash" -> '\u2014',
      "bullet" -> '\u2022', "ellipsis" -> '\u2026', "Euro" -> '\u20ac',
      "cent" -> '\u00a2', "sterling" -> '\u00a3', "yen" -> '\u00a5',
      "florin" -> '\u0192', "section" -> '\u00a7', "paragraph" -> '\u00b6',
      "copyright" -> '\u00a9', "registered" -> '\u00ae',
      "trademark" -> '\u2122', "degree" -> '\u00b0', "plusminus" -> '\u00b1',
      "divide" -> '\u00f7', "multiply" -> '\u00d7', "exclamdown" -> '\u00a1',
      "questiondown" -> '\u00bf', "guillemotleft" -> '\u00ab',
      "guillemotright" -> '\u00bb', "periodcentered" -> '\u00b7',
      "dagger" -> '\u2020', "daggerdbl" -> '\u2021',
      "perthousand" -> '\u2030', "guilsinglleft" -> '\u2039',
      "guilsinglright" -> '\u203a', "oe" -> '\u0153', "OE" -> '\u0152',
      "fi" -> '\ufb01', "fl" -> '\ufb02').foreach(b += _)
    b.result()
  }

  private def glyphChar(name: String): Char =
    if (name.length == 1 && name.charAt(0).isLetter) name.charAt(0)
    else if (name.startsWith("uni") && name.length == 7)
      try Integer.parseInt(name.substring(3), 16).toChar
      catch { case _: NumberFormatException => '\u0000' }
    else GlyphMap.getOrElse(name, '\u0000')

  private def baseTable(name: String): Option[Array[Char]] = name match {
    case "WinAnsiEncoding"  => Some(WinAnsi)
    case "MacRomanEncoding" => Some(MacRoman)
    case _                  => None // StandardEncoding etc. → Latin-1 default
  }

  /** Per-font decode tables for one page: font resource name (e.g. "F1")
    * → 256-entry char map. Fonts with no /Encoding get no entry (Latin-1
    * identity at emit).
    */
  private def fontTables(doc: PdfDoc, pageDict: String): Map[String, FontDec] = {
    // /Resources is INHERITABLE: a missing entry on the leaf page must be
    // looked up the /Parent chain (producers routinely declare fonts once
    // on the /Pages node) — otherwise encoded fonts silently degrade to
    // Latin-1 mojibake
    def resolveRes(d: String, depth: Int): Option[String] =
      refOf(d, "Resources") match {
        case Some(r) => Some(doc.dict(r))
        case None =>
          val i = d.indexOf("/Resources")
          if (i >= 0) balancedDict(d, i)
          else if (depth < 8) refOf(d, "Parent").flatMap(p => resolveRes(doc.dict(p), depth + 1))
          else None
      }
    val resText = resolveRes(pageDict, 0).getOrElse(return Map.empty)
    val fi = resText.indexOf("/Font")
    if (fi < 0) return Map.empty
    val fontDict = refOf(resText.substring(fi), "Font") match {
      case Some(r) => doc.dict(r)
      case None    => balancedDict(resText, fi).getOrElse(return Map.empty)
    }
    // font entries: referenced (/F1 5 0 R) or inline (/F1 << ... >>)
    val m = java.util.regex.Pattern
      .compile("/(\\w+)\\s*(<<|(\\d+)\\s+\\d+\\s+R)").matcher(fontDict)
    val out = Map.newBuilder[String, FontDec]
    while (m.find()) {
      val fname = m.group(1)
      val fdict =
        if (m.group(3) != null) doc.dict(m.group(3).toInt)
        else balancedDict(fontDict, m.start(2)).getOrElse("")
      fontDecode(doc, fdict).foreach(t => out += fname -> t)
    }
    out.result()
  }

  /** Decode model of one font: Type0 fonts resolve their ToUnicode CMap
    * (2-byte Identity-H codes); simple fonts resolve /Encoding (named
    * base, or an encoding object with /BaseEncoding + /Differences).
    */
  private def fontDecode(doc: PdfDoc, fontDict: String): Option[FontDec] = {
    if (nameOf(fontDict, "Subtype").contains("Type0"))
      return refOf(fontDict, "ToUnicode")
        .flatMap(n => streamOf(doc, n))
        .map(b => parseToUnicode(new String(b, Latin1)))
    encodingTable(doc, fontDict).map(ByteTable)
  }

  private def encodingTable(doc: PdfDoc, fontDict: String): Option[Array[Char]] =
    nameOf(fontDict, "Encoding") match {
      case Some(n) => baseTable(n)
      case None =>
        refOf(fontDict, "Encoding").flatMap { encNum =>
          val ed = doc.dict(encNum)
          val base = nameOf(ed, "BaseEncoding").flatMap(baseTable)
            .getOrElse(Latin1Table)
          val t = base.clone()
          val di = ed.indexOf("/Differences")
          if (di >= 0) {
            val arrS = ed.indexOf('[', di)
            val arrE = ed.indexOf(']', arrS + 1)
            if (arrS >= 0 && arrE > arrS) {
              val tok = java.util.regex.Pattern
                .compile("(\\d+)|/([\\w.]+)").matcher(ed.substring(arrS + 1, arrE))
              var code = -1
              while (tok.find()) {
                if (tok.group(1) != null) code = tok.group(1).toInt
                else if (code >= 0 && code < 256) {
                  t(code) = glyphChar(tok.group(2))
                  code += 1
                }
              }
            }
            Some(t)
          } else nameOf(ed, "BaseEncoding").flatMap(baseTable).map(_ => t)
        }
    }

  // ---------------------------------------------------- content-stream lexer

  /** Parse text-positioning + text-showing operators from one content
    * stream. Postfix operand model: we keep a small operand stack of
    * numbers/strings and dispatch on operator tokens. `fonts` maps the
    * page's font resource names to 256-entry decode tables (WinAnsi /
    * MacRoman / Differences); a font with no table keeps Latin-1 byte
    * semantics. Notdef codes (U+0000 in a table) are dropped.
    */
  private def parseContentStream(data: Array[Byte],
      fonts: Map[String, FontDec]): ArrayBuffer[Run] = {
    val runs = new ArrayBuffer[Run](32)
    val s = new String(data, Latin1)
    val n = s.length
    var i = 0
    // text state
    var x = 0.0; var y = 0.0 // current text position
    var lineX = 0.0; var lineY = 0.0 // start-of-line position
    var leading = 0.0
    var fontSize = 12.0
    var inText = false
    var lastName: String = null
    var curFont: FontDec = null
    val nums = new ArrayBuffer[Double](8)
    var pendingString: String = null
    val pendingArray = new ArrayBuffer[String](8)
    var inArray = false

    def decode(t0: String): String = curFont match {
        case null => t0
        case ByteTable(tab) =>
          val sb = new java.lang.StringBuilder(t0.length)
          var k = 0
          while (k < t0.length) {
            val c = t0.charAt(k)
            val u = if (c < 256) tab(c) else c
            if (u != '\u0000') sb.append(u)
            k += 1
          }
          sb.toString
        case CidMap(m) =>
          // composite font: consume 2-byte codes
          val sb = new java.lang.StringBuilder(t0.length / 2)
          var k = 0
          while (k + 1 < t0.length) {
            val code = Integer.valueOf((t0.charAt(k) << 8) | t0.charAt(k + 1))
            val u = m.get(code)
            if (u != null) sb.append(u)
            k += 2
          }
          sb.toString
    }

    def emit(t0: String): Unit = if (inText && t0 != null && t0.nonEmpty) {
      val t = decode(t0)
      if (t.nonEmpty) runs += Run(x, y, fontSize, t)
    }

    // TJ arrays decode PER ELEMENT so a kern-injected word space (null
    // sentinel) can never shift the 2-byte alignment of a CID string
    def emitArray(parts: scala.collection.Seq[String]): Unit = if (inText) {
      val sb = new java.lang.StringBuilder(32)
      parts.foreach(p => sb.append(if (p == null) " " else decode(p)))
      val t = sb.toString
      if (t.nonEmpty) runs += Run(x, y, fontSize, t)
    }

    def op(name: String): Unit = {
      name match {
        case "BT" => inText = true; x = 0; y = 0; lineX = 0; lineY = 0
        case "ET" => inText = false
        case "Tf" =>
          if (nums.nonEmpty) fontSize = nums.last
          if (lastName != null) curFont = fonts.getOrElse(lastName, null)
        case "TL" => if (nums.nonEmpty) leading = nums.last
        case "Td" =>
          if (nums.length >= 2) {
            lineX += nums(nums.length - 2); lineY += nums.last
            x = lineX; y = lineY
          }
        case "TD" =>
          if (nums.length >= 2) {
            leading = -nums.last
            lineX += nums(nums.length - 2); lineY += nums.last
            x = lineX; y = lineY
          }
        case "Tm" =>
          if (nums.length >= 6) {
            lineX = nums(nums.length - 2); lineY = nums.last
            x = lineX; y = lineY
          }
        case "T*" =>
          lineY -= leading; x = lineX; y = lineY
        case "Tj" =>
          if (pendingString != null) emit(pendingString)
        case "'" =>
          lineY -= leading; x = lineX; y = lineY
          if (pendingString != null) emit(pendingString)
        case "\"" =>
          lineY -= leading; x = lineX; y = lineY
          if (pendingString != null) emit(pendingString)
        case "TJ" =>
          if (pendingArray.nonEmpty) emitArray(pendingArray)
        case _ => ()
      }
      nums.clear()
      pendingString = null
      pendingArray.clear()
    }

    while (i < n) {
      val c = s.charAt(i)
      if (c == '(' || c == '<') {
        val sb = new java.lang.StringBuilder(32)
        val end = readString(s, i, sb)
        if (end < 0) i += 2 // '<<' dict begin — skip both
        else {
          val str = sb.toString
          if (inArray) pendingArray += str else pendingString = str
          i = end
        }
      } else if (c == '[') { inArray = true; pendingArray.clear(); i += 1 }
      else if (c == ']') { inArray = false; i += 1 }
      else if (c == '/') { // name object: record (Tf reads it for font)
        val start = i + 1
        i += 1
        while (i < n && !isDelim(s.charAt(i))) i += 1
        lastName = s.substring(start, i)
      } else if (c == '-' || c == '+' || c == '.' || (c >= '0' && c <= '9')) {
        val start = i
        i += 1
        while (i < n && { val d = s.charAt(i); d == '.' || (d >= '0' && d <= '9') }) i += 1
        try {
          val v = java.lang.Double.parseDouble(s.substring(start, i))
          if (!inArray) nums += v
          // TJ kern adjustment: a strongly negative displacement (in
          // thousandths of an em) is how real PDFs encode inter-word
          // gaps without a space glyph; the conventional extractor
          // heuristic maps adjustments beyond ~a sixth of an em to one
          // space (null sentinel: added AFTER per-element font decode so
          // it cannot break 2-byte CID alignment). Small kerns stay
          // invisible.
          else if (v <= -180.0) pendingArray += null
        } catch { case _: NumberFormatException => () }
      } else if (c == '%') { // comment to EOL
        while (i < n && s.charAt(i) != '\n') i += 1
      } else if (isWsChar(c)) { i += 1 }
      else {
        // operator token
        val start = i
        i += 1
        while (i < n && !isDelim(s.charAt(i))) i += 1
        op(s.substring(start, i))
      }
    }
    runs
  }

  private def isWsChar(c: Char): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0

  private def isDelim(c: Char): Boolean =
    isWsChar(c) || c == '(' || c == ')' || c == '<' || c == '>' ||
      c == '[' || c == ']' || c == '{' || c == '}' || c == '/' || c == '%'

  // ------------------------------------------------------------ line groups

  /** Group runs into lines: sort by descending y (PDF origin bottom-left),
    * merge while y-distance < 0.8 × mean text height (azure_ocr.py:55-56
    * semantics), sort within a line by x, join with single spaces; lines
    * join with '\n'. Emits one Span per line.
    */
  private def assembleLines(runs: ArrayBuffer[Run]): (String, Array[Span]) = {
    val sorted = runs.toArray.sortBy(r => (-r.y, r.x))
    val avgH =
      if (sorted.isEmpty) 12.0
      else sorted.map(_.size).sum / sorted.length
    val thr = 0.8 * avgH
    val lines = new ArrayBuffer[ArrayBuffer[Run]](16)
    var i = 0
    while (i < sorted.length) {
      val r = sorted(i)
      if (lines.nonEmpty && math.abs(lines.last.head.y - r.y) < thr) lines.last += r
      else lines += ArrayBuffer(r)
      i += 1
    }
    val out = new java.lang.StringBuilder(256)
    val spans = new ArrayBuffer[Span](lines.length)
    lines.foreach { lr =>
      val lineText = lr.sortBy(_.x).map(_.text).mkString(" ")
      val norm = normalizeWs(lineText)
      if (norm.nonEmpty) {
        if (out.length > 0) out.append('\n')
        val begin = out.length
        out.append(norm)
        spans += Span(begin, out.length, "line")
      }
    }
    (out.toString, spans.toArray)
  }

  private def normalizeWs(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var pending = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\n' || c == '\t' || c == '\r' || c == '\f') pending = true
      else {
        if (pending && sb.length > 0) sb.append(' ')
        sb.append(c)
        pending = false
      }
      i += 1
    }
    sb.toString
  }
}
