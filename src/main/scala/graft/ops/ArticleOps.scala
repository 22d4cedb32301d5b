package graft.ops

import graft.Gated
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Article-metadata tier over deterministic article pages
  * ([[graft.gen.ArticleGen]], keyed by doc_id like the link/media
  * fixtures) through the real [[graft.kernels.ArticleKernel]] — JSON-LD
  * harvest, publication-date laddering, pagination links, soft-404
  * detection.
  *
  * 100 TB shape: all four queries are narrow per-row kernel maps — the
  * page bytes never shuffle, output rows are a few small strings. The
  * oracle derives every field from doc_id arithmetic, so a parse bug
  * (decoy script harvested, invalid date accepted, relative next-link
  * resolved to the wrong host) breaks the hash.
  */
object ArticleOps {

  import graft.gen.ArticleGen
  import graft.kernels.ArticleKernel

  private def pages(spark: SparkSession, dir: String) = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as d").as[Long]
  }

  /** JSON-LD article harvest: first article-typed node across the
    * page's ld+json scripts; object/string author forms, root-array
    * unwrap, decoy/broken-script skip all load-bearing.
    */
  def jsonldArticle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions(_.map { d =>
        val m = ArticleKernel.extract(ArticleGen.pageHtml(d), ArticleGen.pageUrl(d))
        (d, m.headline, m.author, m.datePublished)
      })
      .toDF("doc_id", "headline", "author", "date_published")
  }

  val jsonldArticleSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'Story ' || doc_id || ' "quoted"' ELSE '' END AS headline,
      |  CASE WHEN doc_id % 6 = 0 THEN 'Reporter ' || (doc_id % 50)
      |       WHEN doc_id % 3 = 0 THEN 'Staff ' || (doc_id % 10)
      |       ELSE '' END AS author,
      |  CASE WHEN doc_id % 3 = 0
      |       THEN '2023-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') ||
      |            '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || 'T12:00:00Z'
      |       ELSE '' END AS date_published
      |FROM documents""".stripMargin

  /** Publication-date ladder: meta → JSON-LD → <time> → URL path; a
    * rung that is present but invalid ("not-a-date") falls through.
    */
  def pubDate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions(_.map { d =>
        val m = ArticleKernel.extract(ArticleGen.pageHtml(d), ArticleGen.pageUrl(d))
        (d, m.pubDate, m.pubSrc)
      })
      .toDF("doc_id", "pub_date", "pub_src")
  }

  val pubDateSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CASE WHEN doc_id % 8 = 0 THEN '2024-'
      |       WHEN doc_id % 3 = 0 THEN '2023-'
      |       WHEN doc_id % 5 = 0 THEN '2022-'
      |       ELSE CAST(2021 + doc_id % 3 AS VARCHAR) || '-' END ||
      |    lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-' ||
      |    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS pub_date,
      |  CASE WHEN doc_id % 8 = 0 THEN 'meta'
      |       WHEN doc_id % 3 = 0 THEN 'jsonld'
      |       WHEN doc_id % 5 = 0 THEN 'time'
      |       ELSE 'url' END AS pub_src
      |FROM documents""".stripMargin

  /** rel=next / rel=prev pagination links, resolved against the page
    * URL with the outlink RFC 3986 rules — the crawl-frontier signal
    * for multi-page articles and listings.
    */
  def pagination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions(_.map { d =>
        val m = ArticleKernel.extract(ArticleGen.pageHtml(d), ArticleGen.pageUrl(d))
        (d, m.nextUrl, m.prevUrl)
      })
      .toDF("doc_id", "next_url", "prev_url")
  }

  val paginationSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CASE WHEN doc_id % 7 <> 6
      |       THEN 'http://host' || (doc_id % 20) || '.example/page/' || (doc_id + 1)
      |       ELSE '' END AS next_url,
      |  CASE WHEN doc_id % 7 >= 2
      |       THEN 'http://host' || (doc_id % 20) || '.example/page/' || (doc_id - 1)
      |       ELSE '' END AS prev_url
      |FROM documents""".stripMargin

  /** Soft-404 gate: HTTP-200 error pages flagged by title/early-body
    * marker phrases; the corpus keeps the verdict next to the title so
    * a human can audit the gate.
    */
  def soft404(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions(_.map { d =>
        val m = ArticleKernel.extract(ArticleGen.pageHtml(d), ArticleGen.pageUrl(d))
        (d, m.title, m.soft404)
      })
      .toDF("doc_id", "title", "soft404")
  }

  val soft404Sql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CASE WHEN doc_id % 11 = 7 THEN 'Page not found'
      |       ELSE 'Article ' || doc_id END AS title,
      |  doc_id % 11 = 7 AS soft404
      |FROM documents""".stripMargin

  /** Corpus-compliance gate per page ([[graft.kernels.ComplianceKernel]]):
    * license link (CC hrefs normalized to a short code), robots-meta
    * noindex/noai/noimageai tokens, TDM reservation, and the composed
    * allowed-training verdict. Narrow per-row kernel map, zero shuffle.
    */
  def licenseMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions(_.map { d =>
        val c = graft.kernels.ComplianceKernel.extract(
          ArticleGen.complianceHtml(d), ArticleGen.pageUrl(d))
        (d, c.licenseUrl, c.ccCode, c.noindex, c.noai, c.noimageai, c.tdm,
          c.allowedTraining)
      })
      .toDF("doc_id", "license_url", "cc_code", "noindex", "noai",
        "noimageai", "tdm", "allowed_training")
  }

  val licenseMetaSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CASE WHEN doc_id % 9 = 2 THEN 'https://creativecommons.org/publicdomain/zero/1.0/'
      |       WHEN doc_id % 3 = 0 THEN 'http://creativecommons.org/licenses/by/4.0/'
      |       WHEN doc_id % 3 = 1 THEN 'http://host' || (doc_id % 20) || '.example/terms.html'
      |       ELSE '' END AS license_url,
      |  CASE WHEN doc_id % 9 = 2 THEN 'cc0-1.0'
      |       WHEN doc_id % 3 = 0 THEN 'by-4.0'
      |       ELSE '' END AS cc_code,
      |  doc_id % 4 = 0 AS noindex,
      |  doc_id % 4 = 1 AS noai,
      |  doc_id % 4 = 1 AS noimageai,
      |  CASE WHEN doc_id % 5 = 0 THEN '1'
      |       WHEN doc_id % 5 = 1 THEN '0' ELSE '' END AS tdm,
      |  doc_id % 4 <> 1 AND doc_id % 5 <> 0 AS allowed_training
      |FROM documents""".stripMargin

  /** Structure-preserving HTML → Markdown
    * ([[graft.kernels.MarkdownKernel]]): headings, inline bold/italic,
    * resolved links, nested-indent lists, fenced code, blockquotes, hr.
    * The oracle reconstructs the ENTIRE markdown string per doc from
    * arithmetic, so a marker, separator, or resolution bug anywhere in
    * the block pipeline breaks the hash. Narrow per-row kernel map.
    */
  def htmlMarkdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions(_.map { d =>
        (d, graft.kernels.MarkdownKernel.convert(
          ArticleGen.mdHtml(d), ArticleGen.pageUrl(d)))
      })
      .toDF("doc_id", "markdown")
  }

  val htmlMarkdownSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  '# Doc ' || doc_id || chr(10) || chr(10) ||
      |  'Intro paragraph for **doc ' || doc_id || '** with a [link ' || doc_id ||
      |    '](http://host' || (doc_id % 20) || '.example/next/' || doc_id || ').' ||
      |    chr(10) || chr(10) ||
      |  '## Section ' || (doc_id % 5) || chr(10) || chr(10) ||
      |  '- item ' || doc_id || '-0' || chr(10) || '- item ' || doc_id || '-1' ||
      |  CASE WHEN doc_id % 3 >= 1 THEN chr(10) || '- item ' || doc_id || '-2' ELSE '' END ||
      |  CASE WHEN doc_id % 3 = 2 THEN chr(10) || '- item ' || doc_id || '-3' ELSE '' END ||
      |  chr(10) || chr(10) ||
      |  '1. first ' || doc_id || chr(10) || '2. second ' || doc_id || chr(10) || chr(10) ||
      |  '```' || chr(10) || 'code line ' || doc_id || chr(10) || '```' || chr(10) || chr(10) ||
      |  '> quote ' || doc_id || ' & more' || chr(10) || chr(10) ||
      |  '---' || chr(10) || chr(10) ||
      |  'Footer *note ' || (doc_id % 7) || '*' AS markdown
      |FROM documents""".stripMargin

  /** PDF document-information harvest
    * ([[graft.kernels.PdfTextExtractor.docInfo]]): /Info from the last
    * trailer — literal /Title with escaped parens, /Author as UTF-16BE
    * hex string (BOM) for non-Latin-1 names, /CreationDate `D:` form
    * normalized to ISO with spec defaults for missing fields. Narrow
    * per-row kernel map over generated PDF bytes.
    */
  def pdfInfo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions(_.map { d =>
        val mm = ArticleGen.pad2(d % 12 + 1)
        val dd = ArticleGen.pad2(d % 28 + 1)
        val ss = ArticleGen.pad2(d % 60)
        val title = s"Report (Q${d % 4}) $d"
        val author = if (d % 2 == 0) s"Łukasz Müller ${d % 30}" else s"Author ${d % 30}"
        val creation = if (d % 7 == 3) "2024" else s"2023$mm${dd}1230$ss"
        val bytes = graft.gen.PagesGen.pdfBytesInfo(
          Seq(Seq(s"body $d")), title, author, creation, utf16Author = d % 2 == 0)
        val info = graft.kernels.PdfTextExtractor.docInfo(bytes)
        (d, info.title, info.author, info.creationDate)
      })
      .toDF("doc_id", "title", "author", "creation_date")
  }

  val pdfInfoSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  'Report (Q' || (doc_id % 4) || ') ' || doc_id AS title,
      |  CASE WHEN doc_id % 2 = 0 THEN 'Łukasz Müller ' || (doc_id % 30)
      |       ELSE 'Author ' || (doc_id % 30) END AS author,
      |  CASE WHEN doc_id % 7 = 3 THEN '2024-01-01T00:00:00'
      |       ELSE '2023-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') ||
      |            '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
      |            'T12:30:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') END AS creation_date
      |FROM documents""".stripMargin

  /** Declared-language harvest ([[graft.kernels.I18nKernel]]): html
    * lang (raw + normalized BCP 47 primary subtag) and og:locale — the
    * declared side of the declared-vs-detected language gate. Narrow
    * kernel map.
    */
  def declaredLang(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions(_.map { d =>
        val m = graft.kernels.I18nKernel.extract(
          ArticleGen.i18nHtml(d), ArticleGen.pageUrl(d))
        (d, m.htmlLang, m.htmlLangRaw, m.ogLocale)
      })
      .toDF("doc_id", "html_lang", "html_lang_raw", "og_locale")
  }

  val declaredLangSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CASE doc_id % 5 WHEN 0 THEN 'en' WHEN 1 THEN 'de' WHEN 2 THEN 'fr'
      |       WHEN 3 THEN 'es' ELSE '' END AS html_lang,
      |  CASE doc_id % 5 WHEN 0 THEN 'en-US' WHEN 1 THEN 'de' WHEN 2 THEN 'FR'
      |       WHEN 3 THEN 'es' ELSE '' END AS html_lang_raw,
      |  CASE WHEN doc_id % 3 = 0 THEN
      |    CASE doc_id % 4 WHEN 0 THEN 'en_US' WHEN 1 THEN 'de_DE'
      |         WHEN 2 THEN 'fr_FR' ELSE 'es_ES' END
      |  ELSE '' END AS og_locale
      |FROM documents""".stripMargin

  /** rel=alternate hreflang cluster, exploded to (doc_id, hreflang,
    * alt_url) rows — the language-variant grouping key. The RSS
    * alternate decoy (no hreflang) must not appear.
    */
  def hreflangAlternates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .flatMap { d =>
        graft.kernels.I18nKernel.extract(ArticleGen.i18nHtml(d), ArticleGen.pageUrl(d))
          .alternates.map { case (l, u) => (d, l, u) }
      }
      .toDF("doc_id", "hreflang", "alt_url")
  }

  val hreflangAlternatesSql: String =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
      |n AS (SELECT doc_id, unnest(range(0, doc_id % 4)) AS i FROM d),
      |langs AS (SELECT doc_id, i,
      |    CASE i WHEN 0 THEN 'en' WHEN 1 THEN 'de' ELSE 'fr' END AS hreflang
      |  FROM n)
      |SELECT doc_id, hreflang,
      |  'http://host' || (doc_id % 20) || '.example/l/' || hreflang || '/p' || doc_id || '.html' AS alt_url
      |FROM langs
      |UNION ALL
      |SELECT doc_id, 'x-default' AS hreflang,
      |  'http://host' || (doc_id % 20) || '.example/l/p' || doc_id || '.html' AS alt_url
      |FROM d WHERE doc_id % 6 = 0""".stripMargin

  /** LAION-style image-text pair harvest
    * ([[graft.kernels.ImageKernel]]): per-page (image URL, alt text)
    * rows with srcset variant count and the highest-density candidate —
    * src/data-src lazy-load fallback, entity-decoded collapsed alt,
    * url-less decorative images skipped. Narrow flatMap, zero shuffle.
    */
  def imageAltPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .flatMap { d =>
        graft.kernels.ImageKernel.extract(ArticleGen.galleryHtml(d), ArticleGen.pageUrl(d))
          .zipWithIndex.map { case (r, i) =>
            (d, i.toLong, r.url, r.alt, r.nVariants.toLong, r.bestVariant)
          }
      }
      .toDF("doc_id", "img_idx", "img_url", "alt", "n_variants", "best_variant")
  }

  val imageAltPairsSql: String =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
      |i AS (SELECT doc_id, unnest(range(0, 1 + doc_id % 4)) AS i FROM d)
      |SELECT doc_id, CAST(i AS BIGINT) AS img_idx,
      |  'http://host' || (doc_id % 20) || '.example/img/' || doc_id || '_' || i || '.jpg' AS img_url,
      |  CASE WHEN doc_id % 5 = 0 AND i = 0 THEN 'Lazy ' || doc_id
      |       WHEN (doc_id + i) % 3 = 2 THEN ''
      |       ELSE 'Photo ' || doc_id || '-' || i || ' & caption' END AS alt,
      |  CAST(CASE WHEN (doc_id + i) % 2 = 0 THEN 2 ELSE 0 END AS BIGINT) AS n_variants,
      |  CASE WHEN (doc_id + i) % 2 = 0
      |       THEN 'http://host' || (doc_id % 20) || '.example/img/' || doc_id || '_' || i || '@2x.jpg'
      |       ELSE '' END AS best_variant
      |FROM i""".stripMargin

  /** Meta-refresh redirect harvest ([[graft.kernels.RefreshKernel]]):
    * the client-side redirects a crawler must feed back into the
    * frontier alongside HTTP 3xx. Reload-only refreshes are not
    * redirects; delay and resolved target are closed-form.
    */
  def metaRefresh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions(_.map { d =>
        graft.kernels.RefreshKernel.extract(
          ArticleGen.refreshHtml(d), ArticleGen.pageUrl(d)) match {
          case Some((delay, target)) => (d, true, delay, target)
          case None => (d, false, -1L, "")
        }
      })
      .toDF("doc_id", "redirects", "delay_s", "target")
  }

  val metaRefreshSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  doc_id % 4 <= 1 AS redirects,
      |  CAST(CASE WHEN doc_id % 4 <= 1 THEN doc_id % 30 ELSE -1 END AS BIGINT) AS delay_s,
      |  CASE WHEN doc_id % 4 = 0
      |       THEN 'http://host' || (doc_id % 20) || '.example/next/' || doc_id || '.html'
      |       WHEN doc_id % 4 = 1 THEN 'http://moved' || doc_id || '.example/p'
      |       ELSE '' END AS target
      |FROM documents""".stripMargin

  /** DOM-skeleton fingerprint per page ([[graft.kernels.SkeletonKernel]])
    * over the compliance pages (their structure varies by doc_id branch
    * flags, so the oracle reconstructs the exact tag sequence from
    * arithmetic). Narrow kernel map.
    */
  def domSkeleton(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions(_.map { d =>
        (d, graft.kernels.SkeletonKernel.skeleton(ArticleGen.complianceHtml(d)))
      })
      .toDF("doc_id", "skeleton")
  }

  private val skeletonExpr: String =
    """'html,head,title' ||
      |  CASE WHEN doc_id % 9 = 2 OR doc_id % 3 <= 1 THEN ',link' ELSE '' END ||
      |  CASE WHEN doc_id % 4 <= 2 THEN ',meta' ELSE '' END ||
      |  ',meta' ||
      |  CASE WHEN doc_id % 5 <= 1 THEN ',meta' ELSE '' END ||
      |  ',body,p'""".stripMargin

  val domSkeletonSql: String =
    s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  $skeletonExpr AS skeleton
       |FROM documents""".stripMargin

  /** Template diversity per host: pages and DISTINCT skeletons — a host
    * whose page count dwarfs its template count is CMS-generated; the
    * rollup shuffles only (host, skeleton-hash)-sized rows with map-side
    * partial aggregation.
    */
  def templateDiversity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions(_.map { d =>
        (d % 20, graft.kernels.SkeletonKernel.skeleton(ArticleGen.complianceHtml(d)))
      })
      .toDF("host_id", "skeleton")
      .groupBy("host_id")
      .agg(org.apache.spark.sql.functions.expr("cast(count(*) as bigint) as n_pages"),
        org.apache.spark.sql.functions.expr("cast(count(distinct skeleton) as bigint) as n_templates"))
  }

  val templateDiversitySql: String =
    s"""WITH s AS (SELECT CAST(doc_id % 20 AS BIGINT) AS host_id,
       |    $skeletonExpr AS skeleton
       |  FROM documents)
       |SELECT host_id, CAST(count(*) AS BIGINT) AS n_pages,
       |  CAST(count(DISTINCT skeleton) AS BIGINT) AS n_templates
       |FROM s GROUP BY host_id""".stripMargin

  /** Canonical-URL clustering ([[graft.kernels.CanonicalKernel]]): the
    * page-declared dedup signal, grouped. Pages carry absolute,
    * relative (resolved against the page directory), protocol-relative,
    * first-of-several and absent (self) canonical links pointing at
    * per-7-group heads; the oracle reconstructs every resolved URL in
    * closed form, so a resolution bug on ANY form (or matching the
    * `canonicalish` rel-token decoy) breaks the hash. `n_in_cluster`
    * counts pages per canonical target — the family size a dedup pass
    * collapses without reading any body text.
    *
    * 100 TB shape: the kernel is a zero-shuffle per-row map; the
    * cluster count is one window keyed by canonical target (bounded by
    * duplicate-family size, the same key a canonical-collapse join
    * would shuffle on anyway).
    */
  def relCanonical(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions(_.map { d =>
        val url = ArticleGen.pageUrl(d)
        val canon = graft.kernels.CanonicalKernel.canonicalUrl(
          ArticleGen.canonicalHtml(d), url)
        (d, canon, canon == url)
      })
      .toDF("doc_id", "canonical_url", "is_self")
      .withColumn("n_in_cluster",
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("canonical_url"))
          .cast("long"))
  }

  val relCanonicalSql: String =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    doc_id - doc_id % 7 AS head FROM documents),
      |u AS (SELECT doc_id, head,
      |    'http://host' || (doc_id % 20) || '.example/' || (2021 + doc_id % 3) || '/' ||
      |      printf('%02d', doc_id % 12 + 1) || '/' || printf('%02d', doc_id % 28 + 1) ||
      |      '/a' || doc_id || '.html' AS page_url,
      |    'http://host' || (head % 20) || '.example/' || (2021 + head % 3) || '/' ||
      |      printf('%02d', head % 12 + 1) || '/' || printf('%02d', head % 28 + 1) ||
      |      '/a' || head || '.html' AS head_url
      |  FROM d),
      |c AS (SELECT doc_id,
      |    CASE doc_id % 5
      |      WHEN 0 THEN page_url
      |      WHEN 1 THEN head_url
      |      WHEN 2 THEN regexp_replace(page_url, 'a[0-9]+\.html$', 'a' || head || '.html')
      |      WHEN 3 THEN head_url
      |      ELSE 'http://chost' || (head % 4) || '.example/c/a' || head || '.html'
      |    END AS canonical_url,
      |    page_url
      |  FROM u)
      |SELECT doc_id, canonical_url, canonical_url = page_url AS is_self,
      |  CAST(count(*) OVER (PARTITION BY canonical_url) AS BIGINT) AS n_in_cluster
      |FROM c""".stripMargin

  /** UNDECLARED bitext candidate mining — the MT-data workhorse
    * (WikiMatrix/CCMatrix/ParaCrawl all start here): most translated
    * pages never declare hreflang, but multilingual sites follow a URL
    * convention — the language lives in a path directory and the rest
    * of the path is shared (`/en/news/p7.html` ↔ `/fr/news/p7.html`).
    * The miner parses (host, lang-dir, residual path key) out of each
    * crawl URL with one regex, self-joins on (host, path key), and
    * emits cross-language pairs — the candidate set a downstream
    * aligner scores. Pages pair by doc_id div 2 here; same-language
    * "pairs" (en next to en) must be dropped, and the pair is
    * canonically ordered (lang_a < lang_b) so the gate pins exactly one
    * row per candidate.
    *
    * 100 TB shape: URL parsing is a zero-shuffle codegen projection;
    * the self-join shuffles on the (host, path-key) pair key — group
    * sizes are bounded by the site's language count (single digits), so
    * the per-key pair expansion never blows up.
    */
  def bitextCandidates(spark: SparkSession, dir: String): DataFrame = {
    val urls = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id",
        """concat('http://host', cast((doc_id div 2) % 20 as string),
          |  '.example/', lang, '/news/p', cast(doc_id div 2 as string), '.html') as url""".stripMargin)
      .selectExpr("doc_id", "url",
        "regexp_extract(url, '^http://([^/]+)/', 1) as host",
        "regexp_extract(url, '^http://[^/]+/([a-z]{2})/', 1) as lang_dir",
        "regexp_extract(url, '^http://[^/]+/[a-z]{2}/(.+)$', 1) as path_key")
    val a = urls.toDF("a_id", "url_a", "host", "lang_a", "path_key")
    val b = urls.toDF("b_id", "url_b", "b_host", "lang_b", "b_path_key")
    a.join(b, org.apache.spark.sql.functions.expr(
        "host = b_host AND path_key = b_path_key AND lang_a < lang_b"))
      .selectExpr("host", "path_key", "lang_a", "lang_b",
        "a_id", "b_id", "url_a", "url_b")
  }

  val bitextCandidatesSql: String =
    """WITH u AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    'http://host' || ((doc_id // 2) % 20) || '.example/' || lang ||
      |      '/news/p' || (doc_id // 2) || '.html' AS url,
      |    'host' || ((doc_id // 2) % 20) || '.example' AS host,
      |    lang AS lang_dir,
      |    'news/p' || (doc_id // 2) || '.html' AS path_key
      |  FROM documents)
      |SELECT a.host, a.path_key,
      |  a.lang_dir AS lang_a, b.lang_dir AS lang_b,
      |  a.doc_id AS a_id, b.doc_id AS b_id,
      |  a.url AS url_a, b.url AS url_b
      |FROM u a JOIN u b
      |  ON a.host = b.host AND a.path_key = b.path_key
      | AND a.lang_dir < b.lang_dir""".stripMargin

  def registry: Map[String, Gated] = Map(
    "q_rel_canonical" -> Gated(relCanonical(_, _), relCanonicalSql),
    "q_bitext_candidates" -> Gated(bitextCandidates(_, _), bitextCandidatesSql),
    "q_dom_skeleton" -> Gated(domSkeleton(_, _), domSkeletonSql),
    "q_template_diversity" -> Gated(templateDiversity(_, _), templateDiversitySql),
    "q_meta_refresh" -> Gated(metaRefresh(_, _), metaRefreshSql),
    "q_image_alt_pairs" -> Gated(imageAltPairs(_, _), imageAltPairsSql),
    "q_declared_lang" -> Gated(declaredLang(_, _), declaredLangSql),
    "q_hreflang_alternates" -> Gated(hreflangAlternates(_, _), hreflangAlternatesSql),
    "q_pdf_info" -> Gated(pdfInfo(_, _), pdfInfoSql),
    "q_html_markdown" -> Gated(htmlMarkdown(_, _), htmlMarkdownSql),
    "q_license_meta" -> Gated(licenseMeta(_, _), licenseMetaSql),
    "q_jsonld_article" -> Gated(jsonldArticle(_, _), jsonldArticleSql),
    "q_pub_date" -> Gated(pubDate(_, _), pubDateSql),
    "q_pagination" -> Gated(pagination(_, _), paginationSql),
    "q_soft404" -> Gated(soft404(_, _), soft404Sql))
}
