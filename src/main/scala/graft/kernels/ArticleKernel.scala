package graft.kernels

import java.util.Locale
import scala.util.control.NonFatal

/** Article-level page understanding: JSON-LD (schema.org) harvest,
  * publication-date ladder, pagination links, soft-404 detection — the
  * metadata tier a news/blog corpus builder runs between head-metadata
  * ([[MetaKernel]]) and body extraction ([[MainTextExtractor]]).
  *
  * One pass of the shared [[HtmlTokenizer]] (attrs mode). The reference
  * never faced crawl HTML (its input was OCR text, azure_ocr.py:129-137);
  * these are the public-knowledge equivalents every crawl pipeline
  * carries (schema.org JSON-LD, htmldate-style date laddering, soft-404
  * heuristics from the crawl literature).
  *
  * JSON-LD: `<script type="application/ld+json">` bodies parse with
  * Jackson (ships with Spark); the first root — object, or element of a
  * root array — whose `@type` is an article type wins. Broken JSON is
  * skipped, never thrown (crawl pages are full of truncated JSON-LD).
  *
  * Publication-date ladder (first rung that yields a VALID date wins —
  * a rung that is present but unparseable falls through, htmldate-style):
  *   1. `<meta property="article:published_time">`
  *   2. JSON-LD `datePublished`
  *   3. `<time datetime=...>`
  *   4. a `/YYYY/MM/DD/` path segment in the page URL
  *
  * Soft-404: pages an origin serves with HTTP 200 whose content is an
  * error page — detected by title/early-body marker phrases (public
  * heuristic; e.g. Bar-Yossef et al., "Sic transit gloria telae", WWW'04
  * formalized soft-404 detection). Marker list deliberately short and
  * high-precision.
  */
object ArticleKernel {

  /** Fixed-shape row: "" for absent strings — stable downstream schema. */
  final case class ArticleMeta(
      headline: String,
      author: String,
      datePublished: String,
      pubDate: String,
      pubSrc: String,
      nextUrl: String,
      prevUrl: String,
      soft404: Boolean,
      title: String)

  private val ArticleTypes: Set[String] = Set(
    "article", "newsarticle", "blogposting", "report", "scholarlyarticle",
    "techarticle", "socialmediaposting")

  private val Soft404Markers: Array[String] = Array(
    "page not found", "404 not found", "error 404",
    "does not exist", "no longer available", "page cannot be found")

  private val DateRe =
    java.util.regex.Pattern.compile("^(\\d{4})-(\\d{2})-(\\d{2})")
  private val UrlDateRe =
    java.util.regex.Pattern.compile("/((?:19|20)\\d{2})/(\\d{2})/(\\d{2})/")

  /** Validate + normalize a date candidate to yyyy-MM-dd; "" if invalid.
    * Bounds are plausibility gates (htmldate's approach), not calendar
    * validation — a crawl-date ladder rejects 0001-99-99, not Feb 30.
    */
  private[graft] def normDate(s: String): String = {
    if (s == null) return ""
    val m = DateRe.matcher(s.trim)
    if (!m.find()) return ""
    val y = m.group(1).toInt; val mo = m.group(2).toInt; val d = m.group(3).toInt
    if (y < 1990 || y > 2035 || mo < 1 || mo > 12 || d < 1 || d > 31) ""
    else s"${m.group(1)}-${m.group(2)}-${m.group(3)}"
  }

  private final class Sink(pageUrl: String) extends HtmlTokenizer.Sink {
    // title (RCDATA — decode entities after raw delivery, then collapse)
    private var inTitle = false
    private var titleDone = false
    private val titleBuf = new java.lang.StringBuilder(64)
    // ld+json script bodies (buffered only when the type matches)
    private var scriptIsLd = false
    private var inRawSkip = false // inside script/style/textarea/xmp: not body text
    val ldBodies = new scala.collection.mutable.ArrayBuffer[String](2)
    private val ldBuf = new java.lang.StringBuilder(0)
    // early body text window for soft-404 markers
    private val bodyBuf = new java.lang.StringBuilder(256)
    private val BodyCap = 4000
    var metaPublished: String = null
    var timeDt: String = null
    var nextHref: String = null
    var prevHref: String = null

    override def open(name: String, classId: String, selfClosing: Boolean): Unit =
      name match {
        case "title" if !titleDone && !selfClosing => inTitle = true
        case "script" | "style" | "textarea" | "xmp" if !selfClosing =>
          inRawSkip = true
        case _ => ()
      }

    override def close(name: String): Unit = name match {
      case "title" if inTitle => inTitle = false; titleDone = true
      case "script" =>
        if (scriptIsLd) { ldBodies += ldBuf.toString; ldBuf.setLength(0) }
        scriptIsLd = false; inRawSkip = false
      case "style" | "textarea" | "xmp" => inRawSkip = false
      case _ => ()
    }

    override def scriptType(tpe: String): Unit =
      scriptIsLd = tpe.trim.equalsIgnoreCase("application/ld+json")

    override def text(s: CharSequence): Unit =
      if (inTitle) titleBuf.append(s)
      else if (scriptIsLd) ldBuf.append(s)
      else if (!inRawSkip && bodyBuf.length < BodyCap) bodyBuf.append(s)

    override def meta(name: String, content: String): Unit =
      if (metaPublished == null &&
        name.equalsIgnoreCase("article:published_time")) metaPublished = content

    override def headLink(rel: String, href: String): Unit =
      if (HtmlTokenizer.relHas(rel, "next")) {
        if (nextHref == null) nextHref = href
      } else if (HtmlTokenizer.relHas(rel, "prev") || HtmlTokenizer.relHas(rel, "previous")) {
        if (prevHref == null) prevHref = href
      }

    override def timeDatetime(dt: String): Unit =
      if (timeDt == null) timeDt = dt

    def title: String =
      HtmlTokenizer.collapseWs(HtmlTokenizer.decodeEntities(titleBuf.toString))
    def bodyWindow: String = bodyBuf.toString
    def resolve(href: String): String =
      if (href == null) ""
      else LinkKernel.resolve(pageUrl, href).getOrElse("")
  }

  /** First article node across the page's ld+json scripts, as
    * (headline, author, datePublished) — all "" when absent.
    */
  // one mapper for the object: construction is Jackson's most expensive
  // operation and the instance is documented thread-safe for readTree
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def jsonLd(bodies: Seq[String]): (String, String, String) = {
    import com.fasterxml.jackson.databind.JsonNode

    def textOf(n: JsonNode): String =
      if (n == null) "" else if (n.isTextual) n.asText else ""

    def authorOf(n: JsonNode): String = {
      if (n == null) return ""
      if (n.isTextual) return n.asText
      if (n.isObject) return textOf(n.get("name"))
      if (n.isArray && n.size() > 0) return authorOf(n.get(0))
      ""
    }

    def articleNode(root: JsonNode): JsonNode = {
      def isArticle(n: JsonNode): Boolean = {
        val t = n.get("@type")
        t != null && t.isTextual &&
          ArticleTypes.contains(t.asText.toLowerCase(Locale.ROOT))
      }
      if (root == null) null
      else if (root.isObject && isArticle(root)) root
      else if (root.isArray) {
        val it = root.elements()
        while (it.hasNext) {
          val e = it.next()
          if (e.isObject && isArticle(e)) return e
        }
        null
      } else null
    }

    bodies.foreach { b =>
      val root =
        try mapper.readTree(b)
        catch { case _: StackOverflowError | NonFatal(_) => null }
      val a = articleNode(root)
      if (a != null)
        return (textOf(a.get("headline")), authorOf(a.get("author")),
          textOf(a.get("datePublished")))
    }
    ("", "", "")
  }

  /** URL-path date rung: first /YYYY/MM/DD/ segment, validated. */
  private[kernels] def urlDate(url: String): String = {
    val m = UrlDateRe.matcher(url)
    if (m.find()) normDate(s"${m.group(1)}-${m.group(2)}-${m.group(3)}") else ""
  }

  def extract(html: String, pageUrl: String): ArticleMeta = {
    val sink = new Sink(pageUrl)
    HtmlTokenizer.tokenize(html, sink, attrs = true)
    val (headline, author, datePub) = jsonLd(sink.ldBodies.toSeq)

    var pubDate = normDate(sink.metaPublished)
    var pubSrc = if (pubDate.nonEmpty) "meta" else ""
    if (pubDate.isEmpty) { pubDate = normDate(datePub); if (pubDate.nonEmpty) pubSrc = "jsonld" }
    if (pubDate.isEmpty) { pubDate = normDate(sink.timeDt); if (pubDate.nonEmpty) pubSrc = "time" }
    if (pubDate.isEmpty) { pubDate = urlDate(pageUrl); if (pubDate.nonEmpty) pubSrc = "url" }

    val probe = (sink.title + "\n" + sink.bodyWindow).toLowerCase(Locale.ROOT)
    var is404 = false
    var i = 0
    while (!is404 && i < Soft404Markers.length) {
      if (probe.contains(Soft404Markers(i))) is404 = true
      i += 1
    }

    ArticleMeta(headline, author, datePub, pubDate, pubSrc,
      sink.resolve(sink.nextHref), sink.resolve(sink.prevHref), is404,
      sink.title)
  }
}
