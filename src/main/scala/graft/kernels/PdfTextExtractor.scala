package graft.kernels

import graft.model.Span
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Deterministic PDF text extraction (SURVEY.md §7.1 `pdfkernel`).
  *
  * Replaces the reference's raster→Azure-OCR path (api.py:127-144,
  * azure_ocr.py:98-140) with direct content-stream parsing — zero egress,
  * zero raster. Scope (SURVEY §7.4 hard part #1):
  *  - OBJECT PARSER: `ObjReader` reads the PDF object grammar (PDF
  *    32000-1 §7.2-7.3) into dicts, arrays, names, numbers, strings,
  *    references and keywords, nesting on an explicit stack, so no input
  *    depth can overflow the task stack. Every key is read from a parsed
  *    dict; damaged syntax is repaired locally (`ObjReader.value`).
  *  - OBJECT-GRAPH WALK: one forward pass of the parser (§7.5) reads
  *    `N G obj … endobj`, `trailer` dicts and streams in file order,
  *    deliberately NOT trusting xref byte offsets (the repair-mode
  *    strategy real parsers fall back to, and the only robust one against
  *    the broken offsets common in crawl PDFs); for incremental updates
  *    the later object wins, which is what the xref chain would resolve
  *    to. Strings and stream payloads are tokens, so `endobj` inside one
  *    is never structure. Page order comes from the catalog's page TREE
  *    (`/Root` → `/Pages` → `/Kids`, an explicit-stack walk with a
  *    visited set), not stream file order; `/Contents` arrays concatenate.
  *  - TOKEN READERS: `readLiteral` for `( … )` and `readHex` for `< … >`
  *    strings serve the object parser, the content-stream lexer and
  *    ToUnicode CMap codes and targets (strict for ASCIIHexDecode).
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
  *  - FALLBACK: files with no parseable catalog are read from the same
  *    pass's streams, one page per stream that draws text, in file
  *    order; anything outside scope (encryption, DCT/JBIG2/JPX filters)
  *    is surfaced via `unsupported` — honest counting, never silent.
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
    * index's streams in file order (the pre-object-graph behavior).
    */
  private def extractFileOrder(doc: PdfDoc): PdfResult = {
    // an encrypted file that falls back here has no resolvable object
    // numbers to key per-object decryption: count it honestly instead
    // of lexing ciphertext as content
    if (doc.trailer("Encrypt").isDefined)
      return PdfResult(Array.empty, math.max(1, doc.streams.length))
    val pages = new ArrayBuffer[PageText](4)
    var unsupported = 0
    doc.streams.foreach { st =>
      decodeStream(st.dict, doc.payload(st)) match {
        case None => unsupported += 1
        case Some(data) => addPage(pages, data, Map.empty)
      }
    }
    PdfResult(pages.toArray, unsupported)
  }

  /** Appends the next page, when content `data` draws any text. */
  private def addPage(pages: ArrayBuffer[PageText], data: Array[Byte],
      fonts: Map[String, FontDec]): Unit = {
    val runs = parseContentStream(data, fonts)
    if (runs.nonEmpty) {
      val (text, spans) = assembleLines(runs)
      pages += PageText(pages.length, text, spans)
    }
  }

  // --------------------------------------------------------- object parser

  /** A parsed PDF object (§7.3). Strings hold one char per byte; a
    * reference keeps only its object number (generation numbers are
    * virtually always 0, and the index does not track them); `Kw` is
    * true, false, null or any other bare word; a `FileStream` is a
    * stream's dict plus its payload span [from, until) in the file.
    */
  private sealed trait Obj
  private final case class Kw(word: String) extends Obj
  private final case class Num(v: Double) extends Obj
  private final case class Str(chars: String) extends Obj
  private final case class Name(name: String) extends Obj
  private final case class Ref(num: Int) extends Obj
  private final case class Arr(items: ArrayBuffer[Obj]) extends Obj
  private final case class FileStream(dict: Dict, from: Int, until: Int) extends Obj
  private final case class Dict(m: Map[String, Obj]) extends Obj {
    def apply(key: String): Obj = m.getOrElse(key, Null)
    def name(key: String): Option[String] = m.get(key).collect { case Name(n) => n }
    def int(key: String): Option[Int] = m.get(key).flatMap(intValue)
    def ref(key: String): Option[Int] = m.get(key).collect { case Ref(n) => n }
    def str(key: String): Option[Array[Byte]] = m.get(key).collect { case Str(c) => c.getBytes(Latin1) }
  }
  private val Null: Obj = Kw("null")
  private val NoDict = Dict(Map.empty)

  /** A whole number in [0, Int.MaxValue]; any other value reads as absent. */
  private def intValue(o: Obj): Option[Int] = o match {
    case Num(v) if v >= 0 && v <= Int.MaxValue && v == math.rint(v) => Some(v.toInt)
    case _ => None
  }

  /** Object numbers of a reference or of an array of them (/Kids, /Contents). */
  private def refNums(o: Obj): Seq[Int] = o match {
    case Ref(n) => Seq(n)
    case Arr(xs) => xs.collect { case Ref(n) => n }.toSeq
    case _ => Nil
  }

  /** An array or dict still being read. A dict keeps the first of
    * duplicate keys. A value with no key goes to the name read last as a
    * value, if any: a stray `/Name` took that key as its value.
    */
  private final class Open(val isDict: Boolean, private var m: Map[String, Obj] = Map.empty) {
    val items = new ArrayBuffer[Obj](4)
    private var key: String = null
    private var lastName: String = null
    private var last: Obj = null
    def add(v: Obj): Unit =
      if (!isDict) items += v
      else if (key != null) {
        if (!m.contains(key)) m += key -> v
        lastName = v match { case Name(n) => n; case _ => null }
        last = v
        key = null
      } else v match {
        case Name(n) => key = n
        case _ => if (lastName != null && !m.contains(lastName)) m += lastName -> v; lastName = null; last = v
      }

    /** An outer dict cut short (its `>>` never came) took a stray `<<`:
      * the keys of the dict it read last are its own.
      */
    def close(cut: Boolean): Obj = if (!isDict) Arr(items) else last match {
      case d: Dict if cut => Dict(d.m ++ m)
      case _ => Dict(m)
    }

    /** How many of an array's last items alternate `/Key value`. */
    def pairsAtEnd: Int = {
      var k = items.length - 2
      while (k >= 0 && items(k).isInstanceOf[Name]) k -= 2
      items.length - k - 2
    }
  }

  /** Keywords no value spans (`obj` counts only after `N G`). */
  private val Structural = Set("stream", "endobj", "endstream", "trailer", "xref", "startxref")

  /** The object parser: tokens and values of `s` from `i`, not past `until`. */
  private final class ObjReader(s: String, var i: Int, until: Int) {
    def skipWs(): Unit =
      while (i < until && (isWsChar(s.charAt(i)) || s.charAt(i) == '%')) {
        if (s.charAt(i) == '%') while (i < until && s.charAt(i) != '\n' && s.charAt(i) != '\r') i += 1
        else i += 1
      }

    private def skipEol(i0: Int): Int = {
      val j = if (i0 < until && s.charAt(i0) == '\r') i0 + 1 else i0
      if (j < until && s.charAt(j) == '\n') j + 1 else j
    }

    /** Index after the unsigned integer at `j`, or -1 when none starts there. */
    private def digitsEnd(j: Int): Int = {
      var k = j
      while (k < until && isDigit(s.charAt(k))) k += 1
      if (k > j) k else -1
    }

    /** Index after ` G word` where an integer ends at `j` (`G R`, `G obj`), or -1. */
    private def tail(j: Int, word: String): Int = {
      if (j < 0) return -1
      var k = j
      while (k < until && isWsChar(s.charAt(k))) k += 1
      val g = if (k > j) digitsEnd(k) else -1
      if (g < 0) return -1
      k = g
      while (k < until && isWsChar(s.charAt(k))) k += 1
      val e = k + word.length
      if (k > g && e <= until && s.startsWith(word, k) && (e == until || isDelim(s.charAt(e)))) e
      else -1
    }

    /** At an `N G obj` header its number, `i` past `obj`; else -1, `i` past the digits. */
    def header(): Int = {
      val d = digitsEnd(i)
      val e = tail(d, "obj")
      val num = if (e < 0) None else s.substring(i, d).toIntOption
      i = if (num.isEmpty) d else e
      num.getOrElse(-1)
    }

    private var hdr, strayAt = -1

    /** Start of the first line after `i` that opens with an `N G obj`
      * header, else `until`. Cached (no value reads across a header, so
      * a reread never passes it): a pass scans each char once.
      */
    private def nextHeaderLine(): Int = {
      if (i >= hdr) {
        hdr = i + 1
        while (hdr < until && !((s.charAt(hdr - 1) == '\n' || s.charAt(hdr - 1) == '\r') &&
            isDigit(s.charAt(hdr)) && tail(digitsEnd(hdr), "obj") >= 0)) hdr += 1
      }
      hdr
    }

    /** The next value, or null when none starts before a structural
      * keyword, an `N G obj` header or `until`. A value ends early at any
      * of these, closing what is open, so a truncated object keeps what
      * it read and the next one parses. Damage repair: a closer matching
      * nothing is skipped, `>>` also closes the arrays above its dict, an
      * outer dict closed before its object ends reopens, and a string
      * that runs into a line opening with a header (it reads no further)
      * or a `<` not followed by hex is a stray byte.
      */
    def value(asDict: Boolean = false): Obj = {
      val open = new ArrayBuffer[Open](4)
      var dicts = 0 // how many of `open` are dicts
      def push(o: Open): Unit = { open += o; if (o.isDict) dicts += 1 }
      if (asDict) push(new Open(isDict = true))
      var out: Obj = null
      def put(v: Obj): Unit = if (open.isEmpty) out = v else open.last.add(v)
      // closes the innermost container; an array cut short inside a dict
      // (its `]` lost) hands back the `/Key value` pairs it ends with
      def pop(cut: Boolean): Unit = {
        val c = open.remove(open.length - 1)
        if (c.isDict) dicts -= 1
        val kv = c.items.takeRight(if (cut && open.nonEmpty && open.last.isDict) c.pairsAtEnd else 0)
        c.items.dropRightInPlace(kv.length)
        put(c.close(cut && open.isEmpty))
        kv.foreach(put)
      }
      var stop = false
      while (out == null && !stop) {
        skipWs()
        if (i >= until) stop = true
        else s.charAt(i) match {
          case '<' if s.startsWith("<<", i) => push(new Open(isDict = true)); i += 2
          case '[' => push(new Open(isDict = false)); i += 1
          case '>' if s.startsWith(">>", i) =>
            i += 2
            if (dicts > 0) {
              while (!open.last.isDict) pop(cut = true)
              pop(cut = false)
              out match {
                case d: Dict if !atBoundary => push(new Open(isDict = true, d.m)); out = null
                case _ => ()
              }
            }
          case ']' =>
            i += 1
            if (open.lastOption.exists(!_.isDict)) pop(cut = false)
          case '(' | '<' =>
            val sb = new java.lang.StringBuilder(16)
            val h = nextHeaderLine()
            val e = if (s.charAt(i) == '(') readLiteral(s, i, sb, h) else readHex(s, i + 1, strict = true, sb, h)
            // a closed string cannot end at a line start, so e == h means
            // cut: its opener is a stray, once before each header
            if (e == h && h < until && strayAt == h) { stop = true; i = h }
            else if (e == h && h < until) { strayAt = h; i += 1 }
            else if (e < 0) i += 1
            else { i = e; put(Str(sb.toString)) }
          case '/' =>
            val a = i + 1
            i = a
            while (i < until && !isDelim(s.charAt(i))) i += 1
            put(Name(s.substring(a, i)))
          case c if isDelim(c) => i += 1 // a stray ) > { or }
          case _ =>
            val a = i
            while (i < until && !isDelim(s.charAt(i))) i += 1
            val word = s.substring(a, i)
            val ref = if (digitsEnd(a) == i) tail(i, "R") else -1
            if (ref >= 0) {
              put(word.toIntOption.fold(Null)(Ref))
              i = ref
            } else if (Structural(word) || (digitsEnd(a) == i && tail(i, "obj") >= 0)) {
              stop = true
              i = a
            } else if (word.forall(ch => isDigit(ch) || ch == '.' || ch == '-' || ch == '+'))
              put(word.toDoubleOption.fold[Obj](Kw(word))(Num))
            else put(Kw(word))
        }
      }
      while (open.nonEmpty) pop(cut = true) // stopped: close what is open, innermost first
      out
    }

    /** Whether `i`, past whitespace, is at `until`, a structural keyword or an `N G obj` header. */
    def atBoundary: Boolean = {
      skipWs()
      var w = i
      while (w < until && !isDelim(s.charAt(w))) w += 1
      i >= until || Structural(s.substring(i, w)) || (digitsEnd(i) == w && tail(w, "obj") >= 0)
    }

    /** The stream whose dict `d` was just read, if `stream` follows: its
      * payload runs from the keyword's EOL to a direct /Length that
      * `endstream` follows (binary data may end in CR/LF or hold
      * `endstream`), else to the EOL before the next `endstream`, else
      * to the end; `i` moves past `endstream`. Else null.
      */
    def streamAfter(d: Dict): FileStream = {
      skipWs()
      if (!s.startsWith("stream", i)) return null
      val p = skipEol(i + 6)
      d.int("Length").filter(p.toLong + _ <= until).map(p + _)
        .filter(q => s.startsWith("endstream", skipEol(q))) match {
        case Some(q) => i = skipEol(q) + 9; FileStream(d, p, q)
        case None =>
          val e = s.indexOf("endstream", p)
          var q = if (e < 0) until else e
          if (q > p && s.charAt(q - 1) == '\n') q -= 1
          if (q > p && s.charAt(q - 1) == '\r') q -= 1
          i = if (e < 0) until else e + 9
          FileStream(d, p, q)
      }
    }
  }

  /** The parsed file: objects by number; streams and trailer dicts in file order. */
  private final case class PdfDoc(bytes: Array[Byte], objs: Map[Int, Obj],
      streams: ArrayBuffer[FileStream], trailers: ArrayBuffer[Dict],
      extra: Map[Int, Obj] = Map.empty,
      crypt: Option[PdfCrypto.Decryptor] = None) {
    /** The dict of `o`, through a reference and a stream: direct file
      * objects win over `extra`, the members expanded out of /ObjStm
      * object streams (PDF 1.5+), which never carry streams.
      */
    def dict(o: Obj): Dict = (o match {
      case Ref(n) => objs.getOrElse(n, extra.getOrElse(n, Null))
      case _ => o
    }) match {
      case d: Dict => d
      case st: FileStream => st.dict
      case _ => NoDict
    }

    /** `key` of the last trailer or XRef-stream dict that has it: the
      * final trailer governs in incrementally-updated files.
      */
    def trailer(key: String): Option[Obj] = trailers.findLast(_.m.contains(key)).map(_(key))

    def payload(st: FileStream): Array[Byte] = java.util.Arrays.copyOfRange(bytes, st.from, st.until)
  }

  /** The one pass over the file, in file order: `N G obj` objects, `trailer`
    * dicts, top-level `<< … >> stream`s; between them a char at a time, so
    * after an object that ends early it goes on at the next header.
    */
  private def indexObjects(bytes: Array[Byte]): PdfDoc = {
    val s = new String(bytes, Latin1)
    val r = new ObjReader(s, 0, s.length)
    var objs = Map.empty[Int, Obj]
    val streams = new ArrayBuffer[FileStream](8)
    val trailers = new ArrayBuffer[Dict](2)
    def withStream(v: Obj): Obj = v match {
      case d: Dict => Option(r.streamAfter(d)).fold[Obj](d) { st =>
        streams += st
        if (d.name("Type").contains("XRef")) trailers += d // a PDF 1.5 xref stream's trailer keys
        st
      }
      case _ => v
    }
    while (r.i < s.length) {
      val c = s.charAt(r.i)
      if (isDigit(c)) {
        val num = r.header()
        if (num >= 0) {
          val at = r.i
          var v0 = r.value()
          // a body that goes on past its first value lost its `<<`
          if (v0 != null && !r.atBoundary) { r.i = at; v0 = r.value(asDict = true) }
          val v = withStream(Option(v0).getOrElse(Null))
          r.skipWs()
          if (s.startsWith("endobj", r.i)) r.i += 6
          objs += num -> v // later duplicate (incremental update) wins
        }
      } else if (c == 't' && s.startsWith("trailer", r.i)) {
        r.i += 7
        r.value() match { case d: Dict => trailers += d; case _ => () }
      } else if (c == '<' && s.startsWith("<<", r.i)) withStream(r.value())
      else if (c == '%') r.skipWs()
      else r.i += 1
    }
    PdfDoc(bytes, objs, streams, trailers)
  }

  /** Stream payload of object `num`, decoded through its declared filter
    * chain. Returns None when the object has no stream or an unsupported
    * filter (encryption, DCT, ... stay honestly `unsupported`).
    */
  private def streamOf(doc: PdfDoc, num: Int): Option[Array[Byte]] =
    doc.objs.get(num).collect { case st: FileStream => st }.flatMap { st =>
      val raw = doc.payload(st)
      // decrypt-then-decode: stream data is encrypted AFTER filtering
      // at write time, so decryption comes first on read
      doc.crypt match {
        case Some(c) => c.decrypt(num, 0, raw).flatMap(decodeStream(st.dict, _))
        case None    => decodeStream(st.dict, raw)
      }
    }

  // ------------------------------------------------------- stream filters

  /** Apply the declared filter chain (ASCIIHex / ASCII85 / RunLength /
    * LZW / Flate with PNG+TIFF predictors). Unknown filter → None. A
    * /Filter that names no filter (an indirect reference `/Filter 8 0 R`
    * — legal, some producers emit it) must ALSO be None: returning the
    * raw compressed bytes would feed deflate garbage to the lexer as a
    * "successful" extraction, violating honest `unsupported` counting.
    */
  private def decodeStream(d: Dict, raw: Array[Byte]): Option[Array[Byte]] = {
    val filters = d.m.get("Filter") match {
      case None => Nil
      case Some(Name(f)) => Seq(f)
      case Some(Arr(fs)) if fs.exists(_.isInstanceOf[Name]) => fs.collect { case Name(f) => f }.toSeq
      case _ => return None
    }
    filters.foldLeft(Option(raw)) { (acc, f) =>
      acc.flatMap { data =>
        f match {
          case "FlateDecode" | "Fl" =>
            // a truncated stream keeps what it inflated, as viewers do
            Inflate(data).flatMap(o => applyPredictor(d, o.bytes))
          case "LZWDecode" | "LZW" =>
            // /EarlyChange defaults to 1 per the spec: code width grows
            // one code early, TIFF-compatible
            val early = decodeParms(d).flatMap(_.int("EarlyChange")).getOrElse(1)
            lzwDecode(data, early).flatMap(applyPredictor(d, _))
          case "ASCIIHexDecode" | "AHx" => asciiHexDecode(data)
          case "ASCII85Decode" | "A85" => ascii85Decode(data)
          case "RunLengthDecode" | "RL" => runLengthDecode(data)
          case _ => None // unsupported filter, counted honestly upstream
        }
      }
    }
  }

  /** The /DecodeParms (or abbreviated /DP) dict, or the first dict of its array. */
  private def decodeParms(d: Dict): Option[Dict] =
    d.m.get("DecodeParms").orElse(d.m.get("DP")) match {
      case Some(p: Dict) => Some(p)
      case Some(Arr(ps)) => ps.collectFirst { case p: Dict => p }
      case _ => None
    }

  /** Undo the /DecodeParms /Predictor transform after Inflate: PNG
    * predictors 10-15 (per-row filter-tag byte, the form real producers
    * emit on /ObjStm, XRef and content streams) and TIFF predictor 2
    * (8-bit components). Predictor 1 / absent = identity.
    */
  private def applyPredictor(d: Dict, data: Array[Byte]): Option[Array[Byte]] = {
    val parms = decodeParms(d).getOrElse(return Some(data))
    val pred = parms.int("Predictor").getOrElse(1)
    if (pred <= 1) return Some(data)
    val colors = parms.int("Colors").getOrElse(1)
    val bpc = parms.int("BitsPerComponent").getOrElse(8)
    val columns = parms.int("Columns").getOrElse(1)
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
    if (readHex(new String(data, Latin1), 0, strict = true, sb, data.length) < 0) None
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

  // --------------------------------------------------------- token readers

  /** Literal string whose `(` is at `open` (PDF 32000 §7.3.4.2): balanced
    * parentheses, the escape table, 1-3 digit octal, and a backslash
    * before LF, CR or CRLF continues the line. Appends one char per
    * decoded byte to `sb`; returns the index after the closing `)`, or
    * `n` when none comes before it.
    */
  private def readLiteral(s: String, open: Int, sb: java.lang.StringBuilder, n: Int): Int = {
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
    * `>`, or `n` when none comes before it. Other characters are skipped,
    * or, when `strict` (the ASCIIHexDecode filter), reject it with -1.
    */
  private def readHex(s: String, from: Int, strict: Boolean, sb: java.lang.StringBuilder, n: Int): Int = {
    var hi = -1
    var i = from
    while (i < n && s.charAt(i) != '>') {
      val c = s.charAt(i)
      val v = Character.digit(c, 16)
      if (v >= 0) {
        if (hi < 0) hi = v
        else { sb.append(((hi << 4) | v).toChar); hi = -1 }
      } else if (strict && !isWsChar(c)) return -1
      i += 1
    }
    if (hi >= 0) sb.append((hi << 4).toChar)
    if (i < n) i + 1 else i
  }

  /** The string token at `i` — literal `(..)` or hex `<..>`, not a `<<`
    * dict — decoded into `sb`; returns the index after it, or -1 when no
    * string starts at `i`.
    */
  private def readString(s: String, i: Int, sb: java.lang.StringBuilder): Int =
    if (i >= s.length) -1
    else if (s.charAt(i) == '(') readLiteral(s, i, sb, s.length)
    else if (s.charAt(i) == '<' && i + 1 < s.length && s.charAt(i + 1) != '<')
      readHex(s, i + 1, strict = false, sb, s.length)
    else -1

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
    val d = doc.trailer("Info").fold(NoDict)(doc.dict)
    def str(key: String): String = d.str(key).map(decodePdfText).getOrElse("")
    DocInfo(str("Title"), str("Author"), pdfDate(d.str("CreationDate")))
  }

  private def decodePdfText(b: Array[Byte]): String =
    if (b.length >= 2 && (b(0) & 0xff) == 0xfe && (b(1) & 0xff) == 0xff)
      new String(b, 2, b.length - 2, java.nio.charset.StandardCharsets.UTF_16BE)
    else new String(b, Latin1)

  private val PdfDateRe =
    java.util.regex.Pattern.compile("D:(\\d{4})(\\d{2})?(\\d{2})?(\\d{2})?(\\d{2})?(\\d{2})?")

  private def pdfDate(raw: Option[Array[Byte]]): String = raw match {
    case None => ""
    case Some(b) =>
      val m = PdfDateRe.matcher(new String(b, Latin1))
      if (!m.find()) ""
      else {
        def g(i: Int, dflt: String) = Option(m.group(i)).getOrElse(dflt)
        s"${m.group(1)}-${g(2, "01")}-${g(3, "01")}T${g(4, "00")}:${g(5, "00")}:${g(6, "00")}"
      }
  }

  /** Resolve the /Encrypt state of the document with the EMPTY user
    * password. None = not encrypted; Some(None) = encrypted but not
    * decryptable here (real password, or an unsupported handler/V) —
    * the whole file counts unsupported; Some(Some(d)) = transparent
    * decryption via `d`.
    */
  private def buildCrypt(doc: PdfDoc): Option[Option[PdfCrypto.Decryptor]] = {
    val d = doc.dict(doc.trailer("Encrypt").getOrElse(return None))
    if (!d.name("Filter").contains("Standard")) return Some(None)
    val v = d.int("V").getOrElse(0)
    val r = d.int("R").getOrElse(if (v == 1) 2 else 3)
    val o = d.str("O").getOrElse(return Some(None))
    val u = d.str("U").getOrElse(return Some(None))
    val empty = Array.emptyByteArray
    if ((v == 1 || v == 2 || v == 4) && r >= 2 && r <= 4) {
      // streams use the crypt filter that /StmF names in /CF
      val cfm = d.name("StmF").flatMap(f => doc.dict(doc.dict(d("CF"))(f)).name("CFM"))
      if (v == 4 && !cfm.exists(c => c == "AESV2" || c == "V2")) return Some(None)
      val aes = v == 4 && cfm.contains("AESV2")
      val p = d("P") match { case Num(x) => x.toLong.toInt; case _ => -1 }
      val lengthBits = d.int("Length").getOrElse(40)
      val encMeta = d("EncryptMetadata") != Kw("false")
      val id0 = doc.trailer("ID").collect { case Arr(ids) if ids.nonEmpty => ids(0) }
        .collect { case Str(c) => c.getBytes(Latin1) }.getOrElse(empty)
      val key = PdfCrypto.fileKey(empty, o, p, id0, r, lengthBits, encMeta)
      if (!PdfCrypto.userPasswordIsEmpty(key, u, id0, r)) Some(None)
      else Some(Some(PdfCrypto.Decryptor(aes, key, r)))
    } else if (v == 5 && (r == 5 || r == 6)) {
      if (u.length < 48) return Some(None)
      val hash = u.take(32)
      val vSalt = u.slice(32, 40)
      val kSalt = u.slice(40, 48)
      val ue = d.str("UE").getOrElse(return Some(None))
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
    * serialized member objects (no obj/endobj wrappers, never streams),
    * each read by the object parser up to the next member's offset.
    * Returns the doc with members visible plus the count of object
    * streams that failed to expand (→ unsupported).
    */
  private def expandObjStm(doc0: PdfDoc): (PdfDoc, Int) = {
    var extra = Map.empty[Int, Obj]
    var failed = 0
    doc0.objs.foreach { case (n, o) =>
      val d = doc0.dict(o)
      if (d.name("Type").contains("ObjStm")) {
        val ok = (for {
          data <- streamOf(doc0, n)
          nObjs <- d.int("N")
          first <- d.int("First")
          if first <= data.length
        } yield {
          val s2 = new String(data, Latin1)
          val head = new ObjReader(s2, 0, first)
          val ints = Iterator.continually(intValue(head.value()))
            .takeWhile(_.isDefined).take(2 * math.min(nObjs, first)).map(_.get).toArray
          def at(k: Int): Int = // start of member k
            if (2 * k + 1 < ints.length) math.min(first.toLong + ints(2 * k + 1), s2.length).toInt
            else s2.length
          (0 until ints.length / 2).foreach { k =>
            if (at(k) < at(k + 1))
              extra += ints(2 * k) -> Option(new ObjReader(s2, at(k), at(k + 1)).value()).getOrElse(Null)
          }
        }).isDefined
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
    val root = doc.trailer("Root").getOrElse {
      (doc.objs.keys ++ doc.extra.keys).find(n => doc.dict(Ref(n)).name("Type").contains("Catalog"))
        .fold(return None)(Ref)
    }
    val pagesRoot = doc.dict(root).ref("Pages").getOrElse(return None)
    // walk the page tree in Kids order, on an explicit stack
    val leaves = new ArrayBuffer[Int](8)
    val visited = scala.collection.mutable.HashSet.empty[Int]
    val todo = ArrayBuffer(pagesRoot)
    while (todo.nonEmpty && leaves.length <= 100000) {
      val num = todo.remove(todo.length - 1)
      if (visited.add(num)) {
        val d = doc.dict(Ref(num))
        val isPage = d.name("Type").contains("Page")
        val kids = refNums(d("Kids"))
        if (kids.nonEmpty && !isPage) todo ++= kids.reverseIterator
        else if (isPage || d.m.contains("Contents")) leaves += num
      }
    }
    if (leaves.isEmpty) return None

    val pages = new ArrayBuffer[PageText](leaves.length)
    var unsupported = 0
    leaves.foreach { pg =>
      val d = doc.dict(Ref(pg))
      val parts = refNums(d("Contents")).map(streamOf(doc, _))
      if (parts.nonEmpty) {
        unsupported += parts.count(_.isEmpty)
        val data = parts.flatten.reduceOption((x, y) => x ++ Array[Byte]('\n') ++ y)
        addPage(pages, data.getOrElse(Array.emptyByteArray), fontTables(doc, d))
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
      i = section.indexOf('<', readHex(section, i + 1, strict = false, sb, section.length))
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
  private def fontTables(doc: PdfDoc, page: Dict): Map[String, FontDec] = {
    // /Resources is INHERITABLE: a missing entry on the leaf page must be
    // looked up the /Parent chain (producers routinely declare fonts once
    // on the /Pages node) — otherwise encoded fonts silently degrade to
    // Latin-1 mojibake
    var node = page
    var depth = 0
    while (!node.m.contains("Resources") && node.m.contains("Parent") && depth < 8) {
      node = doc.dict(node("Parent"))
      depth += 1
    }
    val out = Map.newBuilder[String, FontDec]
    doc.dict(doc.dict(node("Resources"))("Font")).m.foreach { case (name, font) =>
      fontDecode(doc, doc.dict(font)).foreach(t => out += name -> t)
    }
    out.result()
  }

  /** Decode model of one font: Type0 fonts resolve their ToUnicode CMap
    * (2-byte Identity-H codes); simple fonts resolve /Encoding (named
    * base, or an encoding dict with /BaseEncoding + /Differences).
    */
  private def fontDecode(doc: PdfDoc, font: Dict): Option[FontDec] =
    if (font.name("Subtype").contains("Type0"))
      font.ref("ToUnicode")
        .flatMap(n => streamOf(doc, n))
        .map(b => parseToUnicode(new String(b, Latin1)))
    else encodingTable(doc, font).map(ByteTable)

  private def encodingTable(doc: PdfDoc, font: Dict): Option[Array[Char]] =
    font("Encoding") match {
      case Name(n) => baseTable(n)
      case enc @ (_: Ref | _: Dict) =>
        val ed = doc.dict(enc)
        val base = ed.name("BaseEncoding").flatMap(baseTable)
        val t = base.getOrElse(Latin1Table).clone()
        ed.m.get("Differences") match {
          case Some(diffs) =>
            var code = -1
            diffs match {
              case Arr(xs) => xs.foreach {
                case Num(c) => code = c.toInt
                case Name(g) if code >= 0 && code < 256 => t(code) = glyphChar(g); code += 1
                case _ => ()
              }
              case _ => ()
            }
            Some(t)
          case None => base.map(_ => t)
        }
      case _ => None
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

  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

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
