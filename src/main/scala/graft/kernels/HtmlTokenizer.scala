package graft.kernels

/** Spec-light HTML5-ish lexer (SURVEY.md §7.1 `htmlkernel`).
  *
  * The reference consumed OCR'd positional text (azure_ocr.py:129-137); our
  * input is raw HTML bytes, so the first stage is a deterministic tokenizer:
  * tags + attributes (only `class`/`id` retained, as boilerplate hints),
  * text with entity decoding, comment/doctype skipping, and raw-text modes
  * for script/style/textarea/title/xmp.
  *
  * Totality: never throws on arbitrary input (property-tested in
  * KernelPropertySpec); garbage degrades to text.
  *
  * Allocation discipline (the kernel runs once per page at 10^12 pages, so
  * per-tag garbage dominates young-gen churn): tag names are interned
  * against a static open-addressed table of the HTML vocabulary (zero
  * allocation for known tags), attribute values are never materialized
  * unless the attribute is `class`/`id`, and attribute names are matched
  * in place against the two names we care about.
  *
  * Zero Spark imports — pure Scala so it unit-tests without a session and
  * runs inside `mapPartitions` with no driver involvement.
  */
object HtmlTokenizer {

  /** Push-based sink: the DOM builder implements this. Avoids materializing
    * a token buffer per page (the hot path at 10^12 rows).
    *
    * `text` receives a transient CharSequence view (the lexer's reusable
    * buffer or a slice of the input) — consume it synchronously; call
    * `toString` to retain. This keeps the streaming extraction path free
    * of one String copy per text run.
    */
  trait Sink {
    def open(name: String, classId: String, selfClosing: Boolean): Unit
    def close(name: String): Unit
    def text(s: CharSequence): Unit

    // Attribute events, delivered only when the caller opts in via
    // `tokenize(html, sink, attrs = true)` — the extraction hot path
    // keeps its zero-allocation attribute handling (class/id only).
    // Values arrive entity-decoded (hrefs in real pages are full of
    // `&amp;` in query strings).
    /** `<a href=...>`; `rel` is the raw rel value or "" if absent. */
    def link(href: String, rel: String): Unit = ()
    /** `<meta name=... content=...>` (or `property=` when name is
      * absent — OpenGraph); content "" if absent.
      */
    def meta(name: String, content: String): Unit = ()

    /** `<link rel=... href=...>` head link (canonical, alternate, ...). */
    def headLink(rel: String, href: String): Unit = ()
    /** `<base href=...>` (rebases relative link resolution). */
    def base(href: String): Unit = ()
    /** `<script>` open (attrs mode): the `type` attr, "" when absent.
      * Fired before the script body's raw `text(...)` delivery, so a
      * sink can decide whether to buffer the body (JSON-LD harvest).
      */
    def scriptType(tpe: String): Unit = ()
    /** `<time datetime=...>` open (attrs mode). */
    def timeDatetime(dt: String): Unit = ()
    /** `<link hreflang=...>` (attrs mode), alongside `headLink` —
      * language-alternate cluster harvest (i18n SEO).
      */
    def headLinkLang(rel: String, href: String, hreflang: String): Unit = ()
    /** `<html lang=...>` (attrs mode): the page's declared language. */
    def htmlLang(lang: String): Unit = ()
    /** `<img>` (attrs mode): src/alt/srcset plus the lazy-load
      * `data-src`; absent attrs arrive as "". Values entity-decoded.
      */
    def image(src: String, alt: String, srcset: String, dataSrc: String): Unit = ()
  }

  /** Whole-token, case-insensitive membership test over a `rel` value —
    * rel is a space-separated TOKEN LIST per the HTML spec, so
    * `rel="next prefetch"` carries "next" and a whole-string compare
    * misses it (and `rel="nofollowed"` must NOT match "nofollow").
    */
  def relHas(rel: String, token: String): Boolean = {
    if (rel == null || rel.isEmpty) return false
    var i = 0
    val n = rel.length
    while (i < n) {
      while (i < n && Character.isWhitespace(rel.charAt(i))) i += 1
      var j = i
      while (j < n && !Character.isWhitespace(rel.charAt(j))) j += 1
      if (j - i == token.length && rel.regionMatches(true, i, token, 0, token.length))
        return true
      i = j
    }
    false
  }

  private val VoidTags: Set[String] = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr")

  /** Elements whose content is raw text (no tag parsing until `</name`). */
  private val RawText: Set[String] =
    Set("script", "style", "textarea", "title", "xmp", "noframes")

  private def isAsciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  private def lower(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  // ------------------------------------------------------------- interning
  // Open-addressed table of the (lowercase) HTML tag vocabulary. Lookup
  // compares the lowercased scratch chars against the candidate — known
  // tags cost zero allocations; unknown tags fall back to one String.
  private val InternMask = 511
  private val internTable: Array[String] = {
    val t = new Array[String](InternMask + 1)
    val known = Array(
      "a", "abbr", "address", "area", "article", "aside", "audio", "b",
      "base", "bdi", "bdo", "big", "blockquote", "body", "br", "button",
      "canvas", "caption", "center", "cite", "code", "col", "colgroup",
      "data", "datalist", "dd", "details", "dfn", "dialog", "div", "dl",
      "dt", "em", "embed", "fieldset", "figcaption", "figure", "font",
      "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6", "head",
      "header", "hgroup", "hr", "html", "i", "iframe", "img", "input",
      "ins", "kbd", "label", "legend", "li", "link", "main", "map", "mark",
      "meta", "meter", "nav", "noframes", "noscript", "object", "ol",
      "optgroup", "option", "output", "p", "param", "picture", "pre",
      "progress", "q", "rp", "rt", "ruby", "s", "samp", "script",
      "section", "select", "small", "source", "span", "strike", "strong",
      "style", "sub", "summary", "sup", "svg", "table", "tbody", "td",
      "template", "textarea", "tfoot", "th", "thead", "time", "title",
      "tr", "track", "tt", "u", "ul", "var", "video", "wbr", "xmp", "del")
    known.foreach { s =>
      var idx = stringHash(s) & InternMask
      while (t(idx) != null) idx = (idx + 1) & InternMask
      t(idx) = s
    }
    t
  }

  private def stringHash(s: String): Int = {
    var h = 0
    var k = 0
    while (k < s.length) { h = h * 31 + s.charAt(k); k += 1 }
    h
  }

  /** Named-entity table: the HTML4 set (Latin-1 names are exactly code
    * points 161..255 in W3C order) plus the typographic/symbol/Greek
    * names that appear in real crawl text. `shy` maps to the empty
    * string (soft hyphens never belong in extracted text); bidi controls
    * and ZWJ/ZWNJ keep their real code points — fidelity over cleanup.
    * Unknown names pass through literally (the `&` is emitted and
    * scanning resumes), matching lenient-browser behavior.
    */
  private val NamedEntities: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String](512)
    def put(name: String, cp: Int): Unit = m.put(name, new String(Character.toChars(cp)))
    Seq("amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
      "nbsp" -> " ", "shy" -> "").foreach { case (k, v) => m.put(k, v) }
    val latin1 = Array(
      "iexcl", "cent", "pound", "curren", "yen", "brvbar", "sect", "uml",
      "copy", "ordf", "laquo", "not", "shy", "reg", "macr", "deg",
      "plusmn", "sup2", "sup3", "acute", "micro", "para", "middot", "cedil",
      "sup1", "ordm", "raquo", "frac14", "frac12", "frac34", "iquest",
      "Agrave", "Aacute", "Acirc", "Atilde", "Auml", "Aring", "AElig",
      "Ccedil", "Egrave", "Eacute", "Ecirc", "Euml", "Igrave", "Iacute",
      "Icirc", "Iuml", "ETH", "Ntilde", "Ograve", "Oacute", "Ocirc",
      "Otilde", "Ouml", "times", "Oslash", "Ugrave", "Uacute", "Ucirc",
      "Uuml", "Yacute", "THORN", "szlig", "agrave", "aacute", "acirc",
      "atilde", "auml", "aring", "aelig", "ccedil", "egrave", "eacute",
      "ecirc", "euml", "igrave", "iacute", "icirc", "iuml", "eth",
      "ntilde", "ograve", "oacute", "ocirc", "otilde", "ouml", "divide",
      "oslash", "ugrave", "uacute", "ucirc", "uuml", "yacute", "thorn",
      "yuml")
    var i = 0
    while (i < latin1.length) {
      if (latin1(i) != "shy") put(latin1(i), 161 + i)
      i += 1
    }
    Seq("trade" -> 0x2122, "mdash" -> 0x2014, "ndash" -> 0x2013,
      "hellip" -> 0x2026, "lsquo" -> 0x2018, "rsquo" -> 0x2019,
      "ldquo" -> 0x201c, "rdquo" -> 0x201d, "sbquo" -> 0x201a,
      "bdquo" -> 0x201e, "bull" -> 0x2022, "dagger" -> 0x2020,
      "Dagger" -> 0x2021, "permil" -> 0x2030, "lsaquo" -> 0x2039,
      "rsaquo" -> 0x203a, "euro" -> 0x20ac, "tilde" -> 0x02dc,
      "circ" -> 0x02c6, "OElig" -> 0x0152, "oelig" -> 0x0153,
      "Scaron" -> 0x0160, "scaron" -> 0x0161, "Yuml" -> 0x0178,
      "fnof" -> 0x0192, "minus" -> 0x2212, "prime" -> 0x2032,
      "Prime" -> 0x2033, "infin" -> 0x221e, "ne" -> 0x2260,
      "le" -> 0x2264, "ge" -> 0x2265, "larr" -> 0x2190, "uarr" -> 0x2191,
      "rarr" -> 0x2192, "darr" -> 0x2193, "harr" -> 0x2194,
      "ensp" -> 0x2002, "emsp" -> 0x2003, "thinsp" -> 0x2009,
      "zwnj" -> 0x200c, "zwj" -> 0x200d, "lrm" -> 0x200e, "rlm" -> 0x200f,
      "sigmaf" -> 0x03c2).foreach { case (k, v) => put(k, v) }
    val greek = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi",
      "omicron", "pi", "rho", "sigma", "tau", "upsilon", "phi", "chi",
      "psi", "omega")
    i = 0
    while (i < greek.length) {
      val off = if (i >= 17) i + 1 else i // 0x3A2/0x3C2 gap (final sigma)
      put(greek(i), 0x3b1 + off)
      val cap = greek(i).capitalize
      put(cap, 0x391 + off)
      i += 1
    }
    m
  }

  /** Decode one entity starting at `&` (index i). Returns nextIdx;
    * on failure appends "&" and returns i+1. Handles numeric + the named
    * entities that matter for text fidelity; unknown entities pass through.
    */
  private def decodeEntity(s: String, i: Int, out: java.lang.StringBuilder): Int = {
    val n = s.length
    var j = i + 1
    if (j < n && s.charAt(j) == '#') {
      j += 1
      var hex = false
      if (j < n && (s.charAt(j) == 'x' || s.charAt(j) == 'X')) { hex = true; j += 1 }
      var v = 0
      var digits = 0
      var k = j
      while (k < n && digits < 7 && {
        val c = s.charAt(k)
        val d =
          if (c >= '0' && c <= '9') c - '0'
          else if (hex && c >= 'a' && c <= 'f') c - 'a' + 10
          else if (hex && c >= 'A' && c <= 'F') c - 'A' + 10
          else -1
        if (d >= 0) { v = v * (if (hex) 16 else 10) + d; digits += 1; true } else false
      }) k += 1
      if (digits > 0 && k < n && s.charAt(k) == ';') {
        if (v >= 0x20 || v == '\n' || v == '\t' || v == '\r') {
          if (v <= 0xFFFF) out.append(v.toChar)
          else if (v <= 0x10FFFF) out.appendCodePoint(v)
          else out.append('�')
        } else out.append('�')
        k + 1
      } else { out.append('&'); i + 1 }
    } else {
      // named entity: scan up to 10 alnum chars then ';'
      var k = j
      while (k < n && k - j < 10 && {
        val c = s.charAt(k); isAsciiLetter(c) || (c >= '0' && c <= '9')
      }) k += 1
      if (k < n && k > j && s.charAt(k) == ';') {
        val rep = NamedEntities.get(s.substring(j, k))
        if (rep != null) { out.append(rep); k + 1 }
        else { out.append('&'); i + 1 }
      } else { out.append('&'); i + 1 }
    }
  }

  /** Main entry. `html` is already UTF-8 decoded by the caller.
    * `attrs = true` additionally delivers href/rel (on `<a>`/`<base>`)
    * and name/content (on `<meta>`) through the Sink's attribute events.
    */
  def tokenize(html: String, sink: Sink, attrs: Boolean = false): Unit =
    new Lexer(html, sink, attrs).run()

  /** Trim + collapse internal whitespace runs to one space — the shared
    * label normalizer for head/table metadata (titles and cells wrap
    * across source lines; the rendered string is the identity). Shared
    * by MetaKernel and TableKernel; LinkKernel's anchor path keeps its
    * own ASCII-only variant (its byte contract is pinned by oracles).
    */
  def collapseWs(cs: CharSequence): String = {
    val out = new java.lang.StringBuilder(cs.length)
    var pendingSpace = false
    var i = 0
    while (i < cs.length) {
      val c = cs.charAt(i)
      if (Character.isWhitespace(c)) pendingSpace = out.length > 0
      else {
        if (pendingSpace) { out.append(' '); pendingSpace = false }
        out.append(c)
      }
      i += 1
    }
    out.toString
  }

  /** Decode entities in a string outside the main text path — RCDATA
    * element content (title) and attribute values. Raw-text delivery
    * deliberately skips decoding (script/style must stay verbatim), so
    * RCDATA consumers decode explicitly with this.
    */
  def decodeEntities(s: String): String = decodeAttrValue(s)

  /** Decode entities in an attribute value (only called when a '&' is
    * present, so clean values cost nothing beyond the indexOf).
    */
  private def decodeAttrValue(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') i = decodeEntity(s, i, out)
      else { out.append(c); i += 1 }
    }
    out.toString
  }

  private final class Lexer(html: String, sink: Sink, attrs: Boolean = false) {
    private val n = html.length
    private val text = new java.lang.StringBuilder(256)
    // scratch buffer for lowercased tag names (grown on demand; tag names
    // are short, so this never reallocates in practice)
    private var nameBuf = new Array[Char](32)

    /** Scan a tag name (ASCII alnum, lowercased) starting at `from` into
      * nameBuf; returns the index after the name and leaves (len, hash) in
      * the two fields below.
      */
    private var nameLen = 0
    private var nameHash = 0
    private def scanName(from: Int): Int = {
      var i = from
      var len = 0
      var h = 0
      while (i < n && { val ch = html.charAt(i); isAsciiLetter(ch) || (ch >= '0' && ch <= '9') }) {
        if (len == nameBuf.length) nameBuf = java.util.Arrays.copyOf(nameBuf, len * 2)
        val lc = lower(html.charAt(i))
        nameBuf(len) = lc
        h = h * 31 + lc
        len += 1
        i += 1
      }
      nameLen = len
      nameHash = h
      i
    }

    /** Intern the scanned name against the static vocabulary. */
    private def internedName(): String = {
      val len = nameLen
      var idx = nameHash & InternMask
      var probes = 0
      while (probes <= InternMask) {
        val cand = internTable(idx)
        if (cand == null) return new String(nameBuf, 0, len)
        if (cand.length == len) {
          var k = 0
          var eq = true
          while (eq && k < len) { eq = cand.charAt(k) == nameBuf(k); k += 1 }
          if (eq) return cand
        }
        idx = (idx + 1) & InternMask
        probes += 1
      }
      new String(nameBuf, 0, len)
    }

    private def flushText(): Unit =
      if (text.length > 0) { sink.text(text); text.setLength(0) }

    def run(): Unit = {
      var i = 0
      while (i < n) {
        val c = html.charAt(i)
        if (c == '&') {
          i = decodeEntity(html, i, text)
        } else if (c != '<') {
          text.append(c)
          i += 1
        } else if (i + 1 >= n) {
          text.append('<'); i += 1
        } else {
          val c1 = html.charAt(i + 1)
          if (c1 == '!') {
            flushText()
            if (html.startsWith("<!--", i)) {
              val end = html.indexOf("-->", i + 4)
              i = if (end < 0) n else end + 3
            } else { // doctype, CDATA, other <! ... >
              val end = html.indexOf('>', i + 2)
              i = if (end < 0) n else end + 1
            }
          } else if (c1 == '?') { // processing instruction
            flushText()
            val end = html.indexOf('>', i + 2)
            i = if (end < 0) n else end + 1
          } else if (c1 == '/') {
            flushText()
            var j = scanName(i + 2)
            while (j < n && html.charAt(j) != '>') j += 1
            i = if (j < n) j + 1 else n
            if (nameLen > 0) sink.close(internedName())
          } else if (isAsciiLetter(c1)) {
            flushText()
            i = parseOpenTag(i)
          } else { // stray '<'
            text.append('<'); i += 1
          }
        }
      }
      flushText()
    }

    /** Parse an open tag starting at `<`; returns index after the tag (and
      * after raw-text content + its close tag for raw-text elements).
      */
    private def parseOpenTag(start: Int): Int = {
      var i = scanName(start + 1)
      val name = internedName()
      var classId: String = ""
      var selfClosing = false
      // opt-in retained attributes (attrs mode): href/rel/name/content,
      // plus `property` (OpenGraph metas carry property= instead of name=)
      var aHref: String = null
      var aRel: String = null
      var aName: String = null
      var aContent: String = null
      var aProperty: String = null
      var aType: String = null
      var aDatetime: String = null
      var aHreflang: String = null
      var aLang: String = null
      var aSrc: String = null
      var aAlt: String = null
      var aSrcset: String = null
      var aDataSrc: String = null
      var aHttpEquiv: String = null
      // attribute loop
      var done = false
      while (!done && i < n) {
        // skip whitespace
        while (i < n && html.charAt(i).isWhitespace) i += 1
        if (i >= n) done = true
        else {
          val ch = html.charAt(i)
          if (ch == '>') { i += 1; done = true }
          else if (ch == '/' && i + 1 < n && html.charAt(i + 1) == '>') {
            selfClosing = true; i += 2; done = true
          } else if (ch == '/') { i += 1 }
          else {
            // attr name: matched in place — only `class`/`id` matter
            val aStart = i
            while (i < n && { val a = html.charAt(i)
              a != '=' && a != '>' && a != '/' && !a.isWhitespace }) i += 1
            val aLen = i - aStart
            // interest: 1 = class/id (always), 2..5 = href/rel/name/content
            // (attrs mode only) — names matched in place, values only
            // materialized when someone wants them
            val interest: Int =
              if ((aLen == 5 && html.regionMatches(true, aStart, "class", 0, 5)) ||
                (aLen == 2 && html.regionMatches(true, aStart, "id", 0, 2))) 1
              else if (!attrs) 0
              else if (aLen == 4 && html.regionMatches(true, aStart, "href", 0, 4)) 2
              else if (aLen == 3 && html.regionMatches(true, aStart, "rel", 0, 3)) 3
              else if (aLen == 4 && html.regionMatches(true, aStart, "name", 0, 4)) 4
              else if (aLen == 7 && html.regionMatches(true, aStart, "content", 0, 7)) 5
              else if (aLen == 8 && html.regionMatches(true, aStart, "property", 0, 8)) 6
              else if (aLen == 4 && html.regionMatches(true, aStart, "type", 0, 4)) 7
              else if (aLen == 8 && html.regionMatches(true, aStart, "datetime", 0, 8)) 8
              else if (aLen == 8 && html.regionMatches(true, aStart, "hreflang", 0, 8)) 9
              else if (aLen == 4 && html.regionMatches(true, aStart, "lang", 0, 4)) 10
              else if (aLen == 10 && html.regionMatches(true, aStart, "http-equiv", 0, 10)) 15
              else if (aLen == 3 && html.regionMatches(true, aStart, "src", 0, 3)) 11
              else if (aLen == 3 && html.regionMatches(true, aStart, "alt", 0, 3)) 12
              else if (aLen == 6 && html.regionMatches(true, aStart, "srcset", 0, 6)) 13
              else if (aLen == 8 && html.regionMatches(true, aStart, "data-src", 0, 8)) 14
              else 0
            while (i < n && html.charAt(i).isWhitespace) i += 1
            var av: String = null
            if (i < n && html.charAt(i) == '=') {
              i += 1
              while (i < n && html.charAt(i).isWhitespace) i += 1
              if (i < n) {
                val q = html.charAt(i)
                if (q == '"' || q == '\'') {
                  val end = html.indexOf(q, i + 1)
                  if (end < 0) {
                    if (interest != 0) av = html.substring(i + 1)
                    i = n
                  } else {
                    if (interest != 0) av = html.substring(i + 1, end)
                    i = end + 1
                  }
                } else {
                  val vStart = i
                  while (i < n && { val a = html.charAt(i); a != '>' && !a.isWhitespace }) i += 1
                  if (interest != 0) av = html.substring(vStart, i)
                }
              }
            }
            if (av != null) interest match {
              case 1 => classId = if (classId.isEmpty) av else classId + " " + av
              case 2 => aHref = decodeAttrValue(av)
              case 3 => aRel = av
              case 4 => aName = av
              case 5 => aContent = decodeAttrValue(av)
              case 6 => aProperty = av
              case 7 => aType = av
              case 8 => aDatetime = decodeAttrValue(av)
              case 9 => aHreflang = av
              case 10 => aLang = av
              case 11 => aSrc = decodeAttrValue(av)
              case 12 => aAlt = decodeAttrValue(av)
              case 13 => aSrcset = decodeAttrValue(av)
              case 14 => aDataSrc = decodeAttrValue(av)
              case 15 => aHttpEquiv = av
              case _ => ()
            }
          }
        }
      }
      if (name.isEmpty) return i
      val void = VoidTags.contains(name)
      sink.open(name, classId, selfClosing || void)
      if (attrs) {
        if (name == "a" && aHref != null)
          sink.link(aHref, if (aRel == null) "" else aRel)
        else if (name == "meta" &&
          (aName != null || aProperty != null || aHttpEquiv != null))
          // property= (OpenGraph) and http-equiv= (refresh/pragma) ride
          // the same event when name= is absent, in that priority order
          sink.meta(
            if (aName != null) aName
            else if (aProperty != null) aProperty
            else aHttpEquiv,
            if (aContent == null) "" else aContent)
        else if (name == "base" && aHref != null)
          sink.base(aHref)
        else if (name == "link" && aHref != null) {
          sink.headLink(if (aRel == null) "" else aRel, aHref)
          if (aHreflang != null)
            sink.headLinkLang(if (aRel == null) "" else aRel, aHref, aHreflang)
        } else if (name == "script" && !selfClosing)
          // a self-closing <script/> has no body and no close event —
          // firing scriptType would leave body-buffering sinks stuck
          sink.scriptType(if (aType == null) "" else aType)
        else if (name == "time" && aDatetime != null)
          sink.timeDatetime(aDatetime)
        else if (name == "html" && aLang != null)
          sink.htmlLang(aLang)
        else if (name == "img" &&
          (aSrc != null || aSrcset != null || aDataSrc != null))
          sink.image(if (aSrc == null) "" else aSrc,
            if (aAlt == null) "" else aAlt,
            if (aSrcset == null) "" else aSrcset,
            if (aDataSrc == null) "" else aDataSrc)
      }
      if (!selfClosing && !void && RawText.contains(name)) {
        // raw-text mode: find case-insensitive "</name"
        val closeSeq = "</" + name
        var j = i
        var found = -1
        while (found < 0 && j >= 0 && j < n) {
          j = html.indexOf('<', j)
          if (j < 0) found = -2
          else if (j + closeSeq.length <= n &&
            html.regionMatches(true, j, closeSeq, 0, closeSeq.length)) found = j
          else j += 1
        }
        if (found >= 0) {
          if (found > i) sink.text(java.nio.CharBuffer.wrap(html, i, found))
          var k = found + closeSeq.length
          while (k < n && html.charAt(k) != '>') k += 1
          sink.close(name)
          if (k < n) k + 1 else n
        } else {
          if (i < n) sink.text(java.nio.CharBuffer.wrap(html, i, n))
          sink.close(name)
          n
        }
      } else i
    }
  }
}
