package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, expr, max}

/** Link-graph extraction — outlinks, domain edges, robots gates — over
  * deterministic link-bearing pages ([[graft.gen.LinkGen]], keyed by
  * doc_id like the media fixtures) through the real
  * [[graft.kernels.LinkKernel]] (the same tokenizer as text extraction,
  * in attrs mode; full URL resolution exercised: absolute, root- and
  * path-relative links must land on the right host for the oracle
  * counts to match).
  *
  * 100 TB shape: link extraction is a narrow per-row kernel map (the
  * page never shuffles); `q_domain_edges` shuffles only (src_host,
  * dst_host) pairs with map-side partial counts — the classic
  * web-graph aggregation; `q_robots_gate` is a pure projection.
  */
object LinkOps {

  import graft.kernels.LinkKernel

  private def pages(spark: SparkSession, dir: String) = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as d").as[Long]
  }

  /** Per-page outlink profile: counts by class after resolution. The
    * oracle derives every count from doc_id arithmetic, so a resolution
    * bug (e.g. a relative link landing on the wrong host) breaks the
    * n_same_host/n_external split.
    */
  def outlinks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions(_.map { d =>
        val r = LinkKernel.extract(graft.gen.LinkGen.pageHtml(d), graft.gen.LinkGen.pageUrl(d))
        val ext = r.links.count(_.external)
        val same = r.links.count(!_.external)
        val nof = r.links.count(_.nofollow)
        (d, r.links.size.toLong, ext.toLong, same.toLong, nof.toLong)
      })
      .toDF("doc_id", "n_links", "n_external", "n_same_host", "n_nofollow")
  }

  val outlinksSql: String =
    """WITH p AS (SELECT doc_id AS d, 3 + doc_id % 5 AS n FROM documents),
      |j AS (SELECT d, n, unnest(range(0, n)) AS j FROM p)
      |SELECT d AS doc_id,
      |  CAST(max(n) AS BIGINT) AS n_links,
      |  CAST(sum(CASE WHEN (d + j) % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_external,
      |  CAST(sum(CASE WHEN (d + j) % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_same_host,
      |  CAST(sum(CASE WHEN (d + j) % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nofollow
      |FROM j GROUP BY d""".stripMargin

  /** Domain-graph edges: external outlinks aggregated to (src_host,
    * dst_host) edge weights — the first stage of any web-graph
    * computation (PageRank, spam-mass, crawl scheduling). Only the tiny
    * host-pair tuples cross the exchange, with map-side partial counts.
    */
  def domainEdges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions { it =>
        it.flatMap { d =>
          val url = graft.gen.LinkGen.pageUrl(d)
          val src = LinkKernel.hostOf(url)
          LinkKernel.extract(graft.gen.LinkGen.pageHtml(d), url)
            .links.iterator.filter(_.external).map(l => (src, l.host))
        }
      }
      .toDF("src_host", "dst_host")
      .groupBy("src_host", "dst_host")
      .agg(org.apache.spark.sql.functions.expr("cast(count(*) as long) as n_links"))
  }

  val domainEdgesSql: String =
    """WITH p AS (SELECT doc_id AS d, 3 + doc_id % 5 AS n FROM documents),
      |j AS (SELECT d, unnest(range(0, n)) AS j FROM p),
      |e AS (SELECT 'host' || (d % 20) || '.example' AS src_host,
      |             'h' || ((d * 7 + j) % 20) || '.example' AS dst_host
      |      FROM j WHERE (d + j) % 3 = 0)
      |SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
      |FROM e GROUP BY src_host, dst_host""".stripMargin

  /** Meta-robots page gates: indexable/followable booleans a corpus
    * builder filters on before text ever enters the pipeline. Pure
    * projection — zero shuffle.
    */
  def robotsGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions(_.map { d =>
        val r = LinkKernel.extract(graft.gen.LinkGen.pageHtml(d), graft.gen.LinkGen.pageUrl(d))
        (d, r.indexable, r.followable)
      })
      .toDF("doc_id", "indexable", "followable")
  }

  val robotsGateSql: String =
    """SELECT doc_id, doc_id % 7 <> 0 AS indexable,
      |  doc_id % 5 <> 0 AS followable
      |FROM documents""".stripMargin

  /** Anchor-text aggregation per target domain — the classic link-based
    * document signal (anchor terms describe the TARGET page better than
    * its own text; every IR/corpus-labeling stack aggregates them).
    * Shuffle carries (dst_host, short anchor string) pairs only;
    * collect_set stays bounded because anchor vocabulary per host is
    * bounded (and a cap would ride the same aggregate if it weren't).
    */
  def anchorTerms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions { it =>
        it.flatMap { d =>
          val url = graft.gen.LinkGen.pageUrl(d)
          LinkKernel.extract(graft.gen.LinkGen.pageHtml(d), url)
            .links.iterator.filter(_.external).map(l => (l.host, l.anchor))
        }
      }
      .toDF("dst_host", "anchor")
      .groupBy("dst_host")
      .agg(
        org.apache.spark.sql.functions.expr("cast(count(*) as long) as n_in"),
        org.apache.spark.sql.functions.expr(
          "array_join(sort_array(collect_set(anchor)), '|') as anchor_terms"))
  }

  val anchorTermsSql: String =
    """WITH p AS (SELECT doc_id AS d, 3 + doc_id % 5 AS n FROM documents),
      |j AS (SELECT d, unnest(range(0, n)) AS j FROM p),
      |e AS (SELECT 'h' || ((d * 7 + j) % 20) || '.example' AS dst_host,
      |             'link ' || j AS anchor
      |      FROM j WHERE (d + j) % 3 = 0)
      |SELECT dst_host, CAST(count(*) AS BIGINT) AS n_in,
      |  string_agg(DISTINCT anchor, '|' ORDER BY anchor) AS anchor_terms
      |FROM e GROUP BY dst_host""".stripMargin

  /** PageRank over the domain graph — 10 power iterations, damping
    * 0.85, dangling mass dropped (ranks need not sum to 1; the fixed
    * deterministic recurrence is what both engines replicate).
    *
    * 100 TB shape: each iteration is one join (ranks x edges on src,
    * both hash-partitioned by host) + one partial-agg'd groupBy(dst) +
    * a left join back onto the node list; ranks are localCheckpoint'ed
    * per round so the plan (and its lineage) stays constant-size across
    * iterations — the dedupClusters discipline. The oracle unrolls the
    * same 10 iterations as chained CTEs.
    */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val edges = domainEdges(spark, dir)
      .selectExpr("src_host as src", "dst_host as dst", "n_links as w")
      .localCheckpoint()
    val nodes = edges.selectExpr("src as host")
      .union(edges.selectExpr("dst as host")).distinct().localCheckpoint()
    val n = nodes.count()
    val outw = edges.groupBy("src").agg(expr("sum(w) as outw"))
    val withShare = edges.join(outw, "src")
      .selectExpr("src", "dst", "cast(w as double) / outw as share")
      .localCheckpoint()
    var ranks = nodes.selectExpr("host", s"cast(1.0 / $n as double) as rank")
    var it = 0
    while (it < 10) {
      val contrib = ranks.join(withShare, ranks("host") === withShare("src"))
        .selectExpr("dst", "rank * share as c")
        .groupBy("dst").agg(expr("sum(c) as contrib"))
      ranks = nodes.join(contrib, nodes("host") === contrib("dst"), "left")
        .selectExpr("host", s"cast(0.15 / $n + 0.85 * coalesce(contrib, 0.0) as double) as rank")
        .localCheckpoint()
      it += 1
    }
    ranks.selectExpr("host", "round(rank, 6) as rank")
  }

  val pagerankSql: String = {
    val base =
      """WITH p AS (SELECT doc_id AS d, 3 + doc_id % 5 AS n FROM documents),
        |jj AS (SELECT d, unnest(range(0, n)) AS j FROM p),
        |e0 AS (SELECT 'host' || (d % 20) || '.example' AS src,
        |              'h' || ((d * 7 + j) % 20) || '.example' AS dst,
        |              CAST(count(*) AS DOUBLE) AS w
        |       FROM jj WHERE (d + j) % 3 = 0 GROUP BY src, dst),
        |nodes AS (SELECT src AS host FROM e0 UNION SELECT dst FROM e0),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |deg AS (SELECT src, sum(w) AS outw FROM e0 GROUP BY src),
        |sh AS (SELECT e0.src, e0.dst, e0.w / deg.outw AS share
        |       FROM e0 JOIN deg ON deg.src = e0.src),
        |r0 AS (SELECT host, 1.0 / nn.n AS rank FROM nodes, nn)""".stripMargin
    val iters = (1 to 10).map { k =>
      s"""r$k AS (
         |  SELECT nodes.host, 0.15 / nn.n + 0.85 * coalesce(s.c, 0) AS rank
         |  FROM nodes CROSS JOIN nn
         |  LEFT JOIN (SELECT sh.dst AS host, sum(r${k - 1}.rank * sh.share) AS c
         |             FROM sh JOIN r${k - 1} ON r${k - 1}.host = sh.src
         |             GROUP BY sh.dst) s ON s.host = nodes.host)""".stripMargin
    }
    (base +: iters).mkString(",\n") +
      "\nSELECT host, round(rank, 6) AS rank FROM r10"
  }

  /** robots.txt fetch gate: every candidate (host, path) evaluated
    * against the host's parsed rules through
    * [[graft.kernels.RobotsKernel]] (RFC 9309 group selection,
    * longest-match, wildcards). Rulesets are memoized per partition —
    * the production shape is a tiny per-host rules dim held broadcast
    * (hosts number in the millions; rules are a few hundred bytes),
    * while candidate URLs are the 10^12-row side that never shuffles.
    */
  def robotsTxtGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions { it =>
        val cache = new java.util.HashMap[Long, graft.kernels.RobotsKernel.RuleSet]()
        it.map { d =>
          val h = d % 20
          var rules = cache.get(h)
          if (rules == null) {
            rules = graft.kernels.RobotsKernel.parse(graft.gen.LinkGen.robotsTxt(h), "graftbot")
            cache.put(h, rules)
          }
          val path = graft.gen.LinkGen.fetchPath(d)
          (d, s"host$h.example", path, graft.kernels.RobotsKernel.isAllowed(rules, path))
        }
      }
      .toDF("doc_id", "host", "path", "allowed")
  }

  val robotsTxtGateSql: String =
    """SELECT doc_id,
      |  'host' || (doc_id % 20) || '.example' AS host,
      |  CASE doc_id % 5
      |    WHEN 0 THEN '/dir' || (doc_id % 3) || '/p' || doc_id || '.html'
      |    WHEN 1 THEN '/dir' || ((doc_id % 20) % 3) || '/ok/p' || doc_id || '.html'
      |    WHEN 2 THEN '/private/p' || doc_id || '.html'
      |    WHEN 3 THEN '/t' || doc_id || '.tmp'
      |    ELSE '/open/p' || doc_id || '.html' END AS path,
      |  CASE doc_id % 5
      |    WHEN 0 THEN doc_id % 3 <> (doc_id % 20) % 3
      |    WHEN 3 THEN (doc_id % 20) % 4 <> 0
      |    ELSE TRUE END AS allowed
      |FROM documents""".stripMargin

  /** Per-host crawl-budget allocation: a fixed fetch budget (1000
    * slots) split across hosts proportionally to their word volume by
    * the largest-remainder method — the standard way a crawl scheduler
    * turns continuous priority into integer page quotas that sum
    * EXACTLY to the budget. All arithmetic is integer (base = ⌊B·w/W⌋,
    * remainders ranked for the leftover), so the result is exact in
    * both engines — no float quota can drift.
    *
    * 100 TB shape: one partial-agg'd rollup to host rows (the hosts
    * table is metadata-scale), a one-row total broadcast back, and a
    * remainder-rank window over host rows only — never over documents.
    */
  def crawlBudget(spark: SparkSession, dir: String): DataFrame = {
    val budget = 1000L
    val hosts = pages(spark, dir)
      .toDF("d")
      .selectExpr("d % 50 as host_id", "3 + d % 7 as words") // per-doc volume proxy
      .groupBy("host_id")
      .agg(expr("cast(sum(words) as bigint) as w"))
    val tot = hosts.agg(expr("cast(sum(w) as bigint) as tw"))
    val based = hosts.crossJoin(broadcast(tot))
      .selectExpr("host_id", "w",
        s"cast($budget * w div tw as bigint) as base", // div: true integer quotient
        s"cast($budget * w % tw as bigint) as rem", "tw")
    based
      .selectExpr("host_id", "w", "base", "rem",
        "cast(row_number() over (order by rem desc, host_id) as bigint) as rr",
        s"cast($budget as bigint) - sum(base) over () as leftover")
      .selectExpr("cast(host_id as bigint) as host_id", "w",
        "base + (case when rr <= leftover then 1 else 0 end) as alloc")
  }

  val crawlBudgetSql: String =
    """WITH h AS (SELECT CAST(doc_id % 50 AS BIGINT) AS host_id,
      |    CAST(sum(3 + doc_id % 7) AS BIGINT) AS w
      |  FROM documents GROUP BY 1),
      |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM h),
      |b AS (SELECT host_id, w,
      |    CAST(1000 * w // tw AS BIGINT) AS base,
      |    CAST(1000 * w % tw AS BIGINT) AS rem
      |  FROM h CROSS JOIN t),
      |r AS (SELECT host_id, w, base,
      |    CAST(row_number() OVER (ORDER BY rem DESC, host_id) AS BIGINT) AS rr,
      |    1000 - sum(base) OVER () AS leftover
      |  FROM b)
      |SELECT host_id, w,
      |  CAST(base + (CASE WHEN rr <= leftover THEN 1 ELSE 0 END) AS BIGINT) AS alloc
      |FROM r""".stripMargin

  /** Crawl-trap URL gate ([[graft.kernels.UrlTrapKernel]]): repeated
    * path segments, excessive depth, query budget, session-id params —
    * the frontier filter that keeps a crawler out of infinite URL
    * spaces. URLs are built closed-form per doc so every rule fires;
    * narrow per-row map, zero shuffle.
    */
  def urlTrapGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions(_.map { d =>
        val h = d % 20
        val url = (d % 5) match {
          case 0 => s"http://host$h.example/a$d/p.html"
          case 1 => s"http://host$h.example/loop/x${d % 7}/y/x${d % 7}/z/x${d % 7}/p"
          case 2 => s"http://host$h.example/s0/s1/s2/s3/s4/s5/s6/s7/s8/p$d.html"
          case 3 => s"http://host$h.example/p?a=1&b=2&c=3&d=4&e=5&f=$d"
          case _ => s"http://host$h.example/p$d?view=1&PHPSESSID=tok$d"
        }
        val v = graft.kernels.UrlTrapKernel.classify(url)
        (d, url, v.repeatedSeg, v.tooDeep, v.manyParams, v.sessionParam, v.isTrap)
      })
      .toDF("doc_id", "url", "repeated_seg", "too_deep", "many_params",
        "session_param", "is_trap")
  }

  val urlTrapGateSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CASE doc_id % 5
      |    WHEN 0 THEN 'http://host' || (doc_id % 20) || '.example/a' || doc_id || '/p.html'
      |    WHEN 1 THEN 'http://host' || (doc_id % 20) || '.example/loop/x' || (doc_id % 7) ||
      |      '/y/x' || (doc_id % 7) || '/z/x' || (doc_id % 7) || '/p'
      |    WHEN 2 THEN 'http://host' || (doc_id % 20) || '.example/s0/s1/s2/s3/s4/s5/s6/s7/s8/p' || doc_id || '.html'
      |    WHEN 3 THEN 'http://host' || (doc_id % 20) || '.example/p?a=1&b=2&c=3&d=4&e=5&f=' || doc_id
      |    ELSE 'http://host' || (doc_id % 20) || '.example/p' || doc_id || '?view=1&PHPSESSID=tok' || doc_id
      |  END AS url,
      |  doc_id % 5 = 1 AS repeated_seg,
      |  doc_id % 5 = 2 AS too_deep,
      |  doc_id % 5 = 3 AS many_params,
      |  doc_id % 5 = 4 AS session_param,
      |  doc_id % 5 <> 0 AS is_trap
      |FROM documents""".stripMargin

  /** SURT index keys ([[graft.kernels.SurtKernel]]): the Common Crawl
    * CDX ordering — one registered domain's URLs sort adjacently, so
    * the 10^12-row URL index range-scans a site. URLs built closed-form
    * per doc exercise case folding, www-strip, label reversal, default-
    * port strip, query sorting, and fragment drop; the oracle
    * reconstructs each key. Narrow projection.
    */
  def surtKeys(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions(_.map { d =>
        val h = d % 20
        val url = (d % 4) match {
          case 0 => s"HTTP://WWW.Host$h.Example/Art/p$d.html#frag"
          case 1 => s"http://sub${d % 3}.host$h.example/p?b=2&a=1&c=$d"
          case 2 => s"https://host$h.example:443/x$d"
          case _ => s"http://host$h.example:80/p$d"
        }
        (d, url, graft.kernels.SurtKernel.surtKey(url))
      })
      .toDF("doc_id", "url", "surt")
  }

  val surtKeysSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CASE doc_id % 4
      |    WHEN 0 THEN 'HTTP://WWW.Host' || (doc_id % 20) || '.Example/Art/p' || doc_id || '.html#frag'
      |    WHEN 1 THEN 'http://sub' || (doc_id % 3) || '.host' || (doc_id % 20) || '.example/p?b=2&a=1&c=' || doc_id
      |    WHEN 2 THEN 'https://host' || (doc_id % 20) || '.example:443/x' || doc_id
      |    ELSE 'http://host' || (doc_id % 20) || '.example:80/p' || doc_id
      |  END AS url,
      |  CASE doc_id % 4
      |    WHEN 0 THEN 'example,host' || (doc_id % 20) || ')/Art/p' || doc_id || '.html'
      |    WHEN 1 THEN 'example,host' || (doc_id % 20) || ',sub' || (doc_id % 3) ||
      |      ')/p?a=1&b=2&c=' || doc_id
      |    WHEN 2 THEN 'example,host' || (doc_id % 20) || ')/x' || doc_id
      |    ELSE 'example,host' || (doc_id % 20) || ')/p' || doc_id
      |  END AS surt
      |FROM documents""".stripMargin

  /** CDX index records (the Common Crawl / OpenWayback capture-index
    * row): SURT key + capture timestamp + payload digest + length —
    * what a wayback-style lookup service and the dedup-by-digest pass
    * both key on. The digest is a REAL md5 over the document text
    * (computed independently by DuckDB's md5 in the oracle), so a
    * digest bug cannot hide behind the closed-form fields. Narrow
    * projection; at archive scale the index is written sorted by
    * (surt, ts) so site range-scans are sequential.
    */
  def cdxIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id", "text")
      .as[(Long, String)]
      .mapPartitions(_.map { case (d, text) =>
        val surt = graft.kernels.SurtKernel.surtKey(graft.gen.ArticleGen.pageUrl(d))
        val ts = s"2024${graft.gen.ArticleGen.mm(d)}${graft.gen.ArticleGen.dd(d)}120000"
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map(b => f"${b & 0xff}%02x").mkString
        (d, surt, ts, digest, text.length.toLong)
      })
      .toDF("doc_id", "surt", "ts", "digest", "length")
  }

  val cdxIndexSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  'example,host' || (doc_id % 20) || ')/' || (2021 + doc_id % 3) || '/' ||
      |    lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '/' ||
      |    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || '/a' || doc_id || '.html' AS surt,
      |  '2024' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') ||
      |    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || '120000' AS ts,
      |  md5(text) AS digest,
      |  CAST(len(text) AS BIGINT) AS length
      |FROM documents""".stripMargin

  /** HITS hubs/authorities (Kleinberg 1999) over the weighted domain
    * graph — the complement to PageRank for link analysis: hubs are
    * pages that point at good sources, authorities are the sources. 5
    * power iterations with L1 normalization per half-step (chosen over
    * the classic L2 so the oracle needs no sqrt; the fixed point is the
    * same up to scale).
    *
    * 100 TB shape: same as [[pagerank]] — per-iteration join against
    * the checkpointed edge set + partial-agg'd groupBy on the receiving
    * side; the normalizer is a ONE-ROW aggregate broadcast back
    * (never a global window), and scores are localCheckpoint'ed per
    * round so lineage stays constant-size. Oracle = the same 5
    * iterations unrolled as chained DuckDB CTEs, matched to 6 decimals.
    */
  def hitsScores(spark: SparkSession, dir: String): DataFrame = {
    val edges = domainEdges(spark, dir)
      .selectExpr("src_host as src", "dst_host as dst", "cast(n_links as double) as w")
      .localCheckpoint()
    val nodes = edges.selectExpr("src as host")
      .union(edges.selectExpr("dst as host")).distinct().localCheckpoint()
    var hubs = edges.selectExpr("src as host").distinct()
      .selectExpr("host", "cast(1.0 as double) as h")
    var auths: DataFrame = null
    var it = 0
    while (it < 5) {
      val aRaw = edges.join(hubs, edges("src") === hubs("host"))
        .selectExpr("dst", "h * w as c").groupBy("dst").agg(expr("sum(c) as raw"))
      auths = aRaw.crossJoin(broadcast(aRaw.agg(expr("sum(raw) as tot"))))
        .selectExpr("dst as host", "raw / tot as a").localCheckpoint()
      val hRaw = edges.join(auths, edges("dst") === auths("host"))
        .selectExpr("src", "a * w as c").groupBy("src").agg(expr("sum(c) as raw"))
      hubs = hRaw.crossJoin(broadcast(hRaw.agg(expr("sum(raw) as tot"))))
        .selectExpr("src as host", "raw / tot as h").localCheckpoint()
      it += 1
    }
    nodes.join(hubs, Seq("host"), "left").join(auths, Seq("host"), "left")
      .selectExpr("host", "round(coalesce(h, 0.0), 6) as hub",
        "round(coalesce(a, 0.0), 6) as auth")
  }

  val hitsScoresSql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH de AS ($domainEdgesSql),
              |e AS (SELECT src_host AS src, dst_host AS dst, CAST(n_links AS DOUBLE) AS w FROM de),
              |n AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
              |h0 AS (SELECT DISTINCT src AS host, 1.0 AS h FROM e)""".stripMargin
    // normalizers via sum() OVER () — a scalar subquery would reference
    // each round's CTE twice and make CTE inlining exponential in the
    // number of unrolled iterations
    for (i <- 1 to 5) {
      sb ++= s""",
                |a$i AS (SELECT dst AS host, raw / sum(raw) OVER () AS a FROM (
                |  SELECT dst, sum(h * w) AS raw FROM e JOIN h${i - 1} ON h${i - 1}.host = e.src GROUP BY dst)),
                |h$i AS (SELECT src AS host, raw / sum(raw) OVER () AS h FROM (
                |  SELECT src, sum(a * w) AS raw FROM e JOIN a$i ON a$i.host = e.dst GROUP BY src))""".stripMargin
    }
    sb ++= """
             |SELECT n.host, round(coalesce(h5.h, 0), 6) AS hub,
             |  round(coalesce(a5.a, 0), 6) AS auth
             |FROM n LEFT JOIN h5 ON h5.host = n.host LEFT JOIN a5 ON a5.host = n.host""".stripMargin
    sb.toString
  }

  /** Head-metadata extraction per page: title (whitespace-collapsed),
    * meta description (entity-decoded), OpenGraph title (property=
    * attr), canonical URL (resolved like an outlink). Narrow per-row
    * kernel map — the standard pre-body corpus keying fields.
    */
  def htmlMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions(_.map { d =>
        val m = graft.kernels.MetaKernel.extract(
          graft.gen.MetaGen.pageHtml(d), graft.gen.LinkGen.pageUrl(d))
        (d, m.title, m.description, m.ogTitle, m.canonical)
      })
      .toDF("doc_id", "title", "meta_description", "og_title", "canonical")
  }

  val htmlMetaSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  'Page ' || doc_id || ' & host' || (doc_id % 20) AS title,
      |  CASE WHEN doc_id % 3 <> 0
      |       THEN 'summary & notes for page ' || doc_id ELSE '' END AS meta_description,
      |  CASE WHEN doc_id % 2 = 0 THEN 'OG Page ' || doc_id ELSE '' END AS og_title,
      |  CASE WHEN doc_id % 4 <> 0
      |       THEN 'http://host' || (doc_id % 20) || '.example/canon/p' || doc_id || '.html'
      |       ELSE '' END AS canonical
      |FROM documents""".stripMargin

  /** Sitemap frontier expansion: parse each host's sitemap (urlset or
    * sitemapindex) into (host_id, url, lastmod, kind) seed rows. One
    * distinct-host shuffle over 8-byte ids; parsing is a narrow kernel
    * map — at crawl scale the sitemap fetch is the I/O stage, this is
    * its parse stage.
    */
  def sitemapUrls(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .map(_ % 20)
      .distinct()
      .flatMap { h =>
        graft.kernels.SitemapKernel.parse(graft.gen.MetaGen.sitemapXml(h))
          .map(e => (h, e.loc, e.lastmod, e.kind))
      }
      .toDF("host_id", "url", "lastmod", "kind")
  }

  val sitemapUrlsSql: String =
    """WITH h AS (SELECT DISTINCT CAST(doc_id % 20 AS BIGINT) AS host_id FROM documents),
      |idx AS (SELECT host_id, unnest(range(0, 2 + host_id % 3)) AS i
      |        FROM h WHERE host_id % 5 = 0),
      |us AS (SELECT host_id, unnest(range(0, 5 + host_id % 5)) AS i
      |       FROM h WHERE host_id % 5 <> 0)
      |SELECT host_id,
      |  'http://host' || host_id || '.example/sitemap' || i || '.xml' AS url,
      |  '2024-02-' || lpad(CAST(i + 1 AS VARCHAR), 2, '0') AS lastmod,
      |  'sitemap' AS kind
      |FROM idx
      |UNION ALL
      |SELECT host_id,
      |  'http://host' || host_id || '.example/sm/p' || i || '.html' ||
      |    CASE WHEN i % 3 = 0 THEN '?a=1&b=2' ELSE '' END AS url,
      |  CASE WHEN i % 2 = 0
      |       THEN '2024-01-' || lpad(CAST((host_id + i) % 28 + 1 AS VARCHAR), 2, '0')
      |       ELSE '' END AS lastmod,
      |  'url' AS kind
      |FROM us""".stripMargin

  /** Robots-policy delta between two crawl snapshots — the re-crawl
    * trigger audit: parse each host's robots.txt as fetched LAST crawl
    * (v1, [[graft.gen.LinkGen.robotsTxt]]) and THIS crawl (v2 = v1 plus
    * a deterministic appended `graftbot` group: hosts h%4==1 revoke
    * `/open/`, h%4==2 revoke `/private/`), re-evaluate every previously
    * crawled path under both through the real RFC 9309 kernel
    * (group-merge across same-agent groups + longest-match precedence,
    * [[graft.kernels.RobotsKernel]]), and report per host how many
    * fetch grants were revoked or granted. Revoked paths are the pages
    * a compliant operator must drop from the corpus at the next
    * release — the policy-flip twin of [[recrawlEtag]]'s content flips.
    *
    * 100 TB shape: rulesets are per-host (metadata-scale, cached per
    * partition); the evaluation is a narrow kernel map over crawl rows;
    * one per-host integer rollup exchange.
    */
  def robotsDelta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions { it =>
        val v1c = new java.util.HashMap[Long, graft.kernels.RobotsKernel.RuleSet]()
        val v2c = new java.util.HashMap[Long, graft.kernels.RobotsKernel.RuleSet]()
        it.map { d =>
          val h = d % 20
          var r1 = v1c.get(h)
          if (r1 == null) {
            r1 = graft.kernels.RobotsKernel.parse(graft.gen.LinkGen.robotsTxt(h), "graftbot")
            v1c.put(h, r1)
          }
          var r2 = v2c.get(h)
          if (r2 == null) {
            val extra =
              if (h % 4 == 1) "\nUser-agent: graftbot\nDisallow: /open/\n"
              else if (h % 4 == 2) "\nUser-agent: graftbot\nDisallow: /private/\n"
              else ""
            r2 = graft.kernels.RobotsKernel.parse(graft.gen.LinkGen.robotsTxt(h) + extra, "graftbot")
            v2c.put(h, r2)
          }
          val path = graft.gen.LinkGen.fetchPath(d)
          val a1 = graft.kernels.RobotsKernel.isAllowed(r1, path)
          val a2 = graft.kernels.RobotsKernel.isAllowed(r2, path)
          (s"host$h.example", a1, a2)
        }
      }
      .toDF("host", "a1", "a2")
      .groupBy("host")
      .agg(
        expr("cast(count(*) as long) as n_paths"),
        expr("cast(sum(case when a1 then 1 else 0 end) as long) as n_allowed_v1"),
        expr("cast(sum(case when a2 then 1 else 0 end) as long) as n_allowed_v2"),
        expr("cast(sum(case when a1 and not a2 then 1 else 0 end) as long) as n_revoked"),
        expr("cast(sum(case when a2 and not a1 then 1 else 0 end) as long) as n_granted"))
  }

  val robotsDeltaSql: String =
    """WITH r AS (SELECT doc_id AS d, doc_id % 20 AS h FROM documents),
      |v AS (SELECT h,
      |    CASE d % 5 WHEN 0 THEN d % 3 <> h % 3
      |               WHEN 3 THEN h % 4 <> 0
      |               ELSE TRUE END AS a1,
      |    (CASE d % 5 WHEN 0 THEN d % 3 <> h % 3
      |                WHEN 3 THEN h % 4 <> 0
      |                ELSE TRUE END)
      |      AND NOT ((h % 4 = 1 AND d % 5 = 4) OR (h % 4 = 2 AND d % 5 = 2)) AS a2
      |  FROM r)
      |SELECT 'host' || h || '.example' AS host,
      |  CAST(count(*) AS BIGINT) AS n_paths,
      |  CAST(sum(CASE WHEN a1 THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed_v1,
      |  CAST(sum(CASE WHEN a2 THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed_v2,
      |  CAST(sum(CASE WHEN a1 AND NOT a2 THEN 1 ELSE 0 END) AS BIGINT) AS n_revoked,
      |  CAST(sum(CASE WHEN a2 AND NOT a1 THEN 1 ELSE 0 END) AS BIGINT) AS n_granted
      |FROM v GROUP BY h""".stripMargin

  /** Per-host crawl-politeness audit over the fetch event log: sort
    * each host's fetches by timestamp, measure inter-request gaps, and
    * count violations of the 600-second revisit spacing (RFC 9309 leaves
    * crawl-delay advisory; 600 s is the conservative floor the frontier
    * scheduler plans for — this is the a-posteriori compliance check
    * against what the fetcher actually did). Gaps are exact integer
    * microseconds (`unix_micros`), ties in the sort broken by event id,
    * so the oracle replays identically.
    *
    * 100 TB shape: one window partitioned by host (bounded partitions —
    * a host's daily fetch count), integer per-host rollup after; no
    * text, no fanout.
    */
  def politenessAudit(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("cast(user_id as long) as host_id",
        // ts is TIMESTAMP_NTZ in the parquet; session TZ is pinned UTC,
        // so the cast is the identity and matches DuckDB's epoch_us
        "unix_micros(cast(ts as timestamp)) as t_us",
        "cast(event_id as long) as event_id")
      .selectExpr("host_id", "t_us",
        "lag(t_us) over (partition by host_id order by t_us, event_id) as prev_us")
      .selectExpr("host_id", "t_us - prev_us as gap_us")
      .groupBy("host_id")
      .agg(
        expr("cast(count(*) as long) as n_fetches"),
        expr("cast(count(gap_us) as long) as n_gaps"),
        expr("cast(sum(case when gap_us < 600000000 then 1 else 0 end) as long) as n_violations"),
        expr("min(gap_us) as min_gap_us"))

  val politenessAuditSql: String =
    """WITH f AS (SELECT CAST(user_id AS BIGINT) AS host_id,
      |    epoch_us(ts) AS t_us, CAST(event_id AS BIGINT) AS event_id
      |  FROM events),
      |g AS (SELECT host_id, t_us,
      |    t_us - lag(t_us) OVER (PARTITION BY host_id ORDER BY t_us, event_id) AS gap_us
      |  FROM f)
      |SELECT host_id, CAST(count(*) AS BIGINT) AS n_fetches,
      |  CAST(count(gap_us) AS BIGINT) AS n_gaps,
      |  CAST(sum(CASE WHEN gap_us < 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
      |  min(gap_us) AS min_gap_us
      |FROM g GROUP BY host_id""".stripMargin

  /** Bibliographic coupling over the host graph (Kessler 1963 — the
    * co-outlink twin of co-citation): for every pair of source hosts,
    * the number of distinct destination hosts BOTH link to. High
    * coupling between unrelated sources is the classic link-farm
    * signal, and unlike triangle counts it is non-degenerate on
    * bipartite-shaped graphs (this generator's sources and
    * destinations are disjoint namespaces). Pairs keyed a < b; ≥ 2
    * shared targets to keep the head.
    *
    * 100 TB shape: the edge list is already host-granular (tiny vs the
    * corpus); the pair expansion is a self-equi-join on the DESTINATION
    * key, so each destination of in-degree d emits C(d,2) pairs — the
    * same df-cap discipline as [[graft.ops.DedupOps.ContainmentDfCap]]
    * would bound a hub destination at web scale; here in-degrees are
    * generator-bounded and the join is exact.
    */
  def cocitation(spark: SparkSession, dir: String): DataFrame = {
    val e = domainEdges(spark, dir)
      .select("src_host", "dst_host").distinct().localCheckpoint(true)
    e.toDF("a_host", "dst_host")
      .join(e.toDF("b_host", "dst_host"), Seq("dst_host"))
      .where("a_host < b_host")
      .groupBy("a_host", "b_host")
      .agg(expr("cast(count(*) as long) as n_shared"))
      .where("n_shared >= 2")
  }

  val cocitationSql: String =
    s"""WITH e0 AS ($domainEdgesSql),
      |e AS (SELECT DISTINCT src_host, dst_host FROM e0)
      |SELECT a.src_host AS a_host, b.src_host AS b_host,
      |  CAST(count(*) AS BIGINT) AS n_shared
      |FROM e a JOIN e b ON a.dst_host = b.dst_host AND a.src_host < b.src_host
      |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  /** Sitemap-vs-crawl coverage audit (the Search-Console-style ledger a
    * crawl operator reads per host): join the host's DECLARED url set
    * ([[sitemapUrls]], query strings stripped for canonical matching)
    * against the CRAWLED url set, and report matched / orphan (declared
    * but never crawled) / uncharted (crawled but undeclared) counts
    * plus the coverage ratio. The crawled set is planted per doc in the
    * sitemap's namespace (`/sm/p{doc_id % 8}.html`) so all three cells
    * are non-empty at every SF; index-only hosts (host_id % 5 = 0)
    * surface as zero-declared rows rather than disappearing.
    *
    * 100 TB shape: both legs reduce to per-host DISTINCT path sets
    * (narrow keys, map-side partial agg); the audit is one full-outer
    * equi-join on (host, path) followed by a per-host integer rollup —
    * no text, no fanout.
    */
  def sitemapCoverage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, lit => flit}
    val declared = sitemapUrls(spark, dir)
      .where("kind = 'url'")
      .selectExpr("host_id", "regexp_replace(url, '\\\\?.*$', '') as path")
      .distinct()
      .selectExpr("host_id", "path", "true as declared")
    val crawled = pages(spark, dir).toDF("doc_id")
      .selectExpr("cast(doc_id % 20 as bigint) as host_id",
        """concat('http://host', cast(doc_id % 20 as string), '.example/sm/p',
          |  cast(doc_id % 8 as string), '.html') as path""".stripMargin)
      .distinct()
      .selectExpr("host_id", "path", "true as crawled")
    val hosts = pages(spark, dir).toDF("doc_id")
      .selectExpr("cast(doc_id % 20 as bigint) as host_id").distinct()
    val cells = declared.join(crawled, Seq("host_id", "path"), "full_outer")
      .groupBy("host_id")
      .agg(
        expr("cast(sum(case when declared then 1 else 0 end) as long) as n_declared"),
        expr("cast(sum(case when crawled then 1 else 0 end) as long) as n_crawled"),
        expr("cast(sum(case when declared and crawled then 1 else 0 end) as long) as n_matched"))
    hosts.join(cells, Seq("host_id"), "left")
      .select(col("host_id"),
        coalesce(col("n_declared"), flit(0L)).as("n_declared"),
        coalesce(col("n_crawled"), flit(0L)).as("n_crawled"),
        coalesce(col("n_matched"), flit(0L)).as("n_matched"))
      .selectExpr("host_id", "n_declared", "n_crawled", "n_matched",
        "n_declared - n_matched as n_orphan",
        "n_crawled - n_matched as n_uncharted",
        """case when n_declared = 0 then cast(0.0 as double)
          |  else round(cast(n_matched as double) / n_declared, 6) end as coverage""".stripMargin)
  }

  val sitemapCoverageSql: String =
    """WITH h AS (SELECT DISTINCT CAST(doc_id % 20 AS BIGINT) AS host_id FROM documents),
      |us AS (SELECT host_id, unnest(range(0, 5 + host_id % 5)) AS i
      |       FROM h WHERE host_id % 5 <> 0),
      |declared AS (SELECT DISTINCT host_id,
      |    'http://host' || host_id || '.example/sm/p' || i || '.html' AS path
      |  FROM us),
      |crawled AS (SELECT DISTINCT CAST(doc_id % 20 AS BIGINT) AS host_id,
      |    'http://host' || (doc_id % 20) || '.example/sm/p' || (doc_id % 8) || '.html' AS path
      |  FROM documents),
      |cells AS (SELECT coalesce(d.host_id, c.host_id) AS host_id,
      |    CAST(sum(CASE WHEN d.path IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_declared,
      |    CAST(sum(CASE WHEN c.path IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_crawled,
      |    CAST(sum(CASE WHEN d.path IS NOT NULL AND c.path IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
      |  FROM declared d FULL OUTER JOIN crawled c
      |    ON d.host_id = c.host_id AND d.path = c.path
      |  GROUP BY 1)
      |SELECT h.host_id,
      |  coalesce(n_declared, 0) AS n_declared,
      |  coalesce(n_crawled, 0) AS n_crawled,
      |  coalesce(n_matched, 0) AS n_matched,
      |  coalesce(n_declared, 0) - coalesce(n_matched, 0) AS n_orphan,
      |  coalesce(n_crawled, 0) - coalesce(n_matched, 0) AS n_uncharted,
      |  CASE WHEN coalesce(n_declared, 0) = 0 THEN CAST(0.0 AS DOUBLE)
      |    ELSE round(CAST(n_matched AS DOUBLE) / n_declared, 6) END AS coverage
      |FROM h LEFT JOIN cells ON cells.host_id = h.host_id""".stripMargin

  /** Feed-based frontier discovery (RSS 2.0 / Atom): the polling-source
    * analog of [[sitemapUrls]] — each host's feed yields (title, link,
    * published) items through [[graft.kernels.FeedKernel]], covering
    * the two real-world wrinkles the oracle pins: CDATA/entity-encoded
    * titles decode to the same string, and Atom's attribute-valued
    * link prefers rel="alternate" over the rel="self" decoy. Narrow
    * flatMap over the distinct host list — zero shuffle beyond the
    * host distinct.
    */
  def feedItems(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .map(_ % 20)
      .distinct()
      .flatMap { h =>
        graft.kernels.FeedKernel.parse(graft.gen.MetaGen.feedXml(h))
          .zipWithIndex.map { case (it, i) =>
            (h, i.toLong, it.title, it.link, it.published, it.kind)
          }
      }
      .toDF("host_id", "item_idx", "title", "link", "published", "kind")
  }

  val feedItemsSql: String =
    """WITH h AS (SELECT DISTINCT CAST(doc_id % 20 AS BIGINT) AS host_id FROM documents),
      |rss AS (SELECT host_id, unnest(range(0, 3 + host_id % 4)) AS i
      |        FROM h WHERE host_id % 2 = 0),
      |atom AS (SELECT host_id, unnest(range(0, 2 + host_id % 3)) AS i
      |         FROM h WHERE host_id % 2 = 1)
      |SELECT host_id, CAST(i AS BIGINT) AS item_idx,
      |  CASE WHEN i % 3 = 0 THEN 'Item ' || host_id || '-' || i || ' & more'
      |       WHEN i % 3 = 1 THEN 'Raw <b>' || host_id || '-' || i || '</b>'
      |       ELSE 'Plain ' || host_id || '-' || i END AS title,
      |  'http://host' || host_id || '.example/rss/' || i AS link,
      |  CASE WHEN i % 2 = 0
      |       THEN 'Mon, ' || lpad(CAST(i % 28 + 1 AS VARCHAR), 2, '0') || ' Jan 2024 00:00:00 GMT'
      |       ELSE '' END AS published,
      |  'rss' AS kind
      |FROM rss
      |UNION ALL
      |SELECT host_id, CAST(i AS BIGINT) AS item_idx,
      |  'Atom ' || host_id || '-' || i AS title,
      |  'http://host' || host_id || '.example/atom/' || i AS link,
      |  '2024-02-' || lpad(CAST(i % 9 + 1 AS VARCHAR), 2, '0') || 'T00:00:00Z' AS published,
      |  'atom' AS kind
      |FROM atom""".stripMargin

  /** Sitemap discovery from robots.txt: the `Sitemap:` lines (global,
    * group-independent per sitemaps.org) each host advertises — the
    * step that seeds [[sitemapUrls]]'s frontier expansion. Narrow
    * per-host kernel scan after a distinct over 8-byte host ids.
    */
  def robotsSitemaps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .map(_ % 20)
      .distinct()
      .flatMap { h =>
        graft.kernels.RobotsKernel.sitemaps(graft.gen.LinkGen.robotsTxt(h))
          .zipWithIndex.map { case (u, i) => (h, i.toLong, u) }
      }
      .toDF("host_id", "pos", "sitemap_url")
  }

  val robotsSitemapsSql: String =
    """WITH h AS (SELECT DISTINCT CAST(doc_id % 20 AS BIGINT) AS host_id FROM documents),
      |e AS (SELECT host_id, unnest(range(0, CASE WHEN host_id % 2 = 0 THEN 2 ELSE 1 END)) AS pos
      |      FROM h)
      |SELECT host_id, CAST(pos AS BIGINT) AS pos,
      |  'http://host' || host_id || '.example/sitemap' || pos || '.xml' AS sitemap_url
      |FROM e""".stripMargin

  /** Redirect-chain resolution by pointer jumping: synthetic 301 chains
    * (doc d redirects to d+1 unless d%4==3, so chains have ≤3 hops) are
    * resolved to their terminal target in ceil(log2(maxHops)) = 2
    * self-join rounds — nxt := nxt(nxt(·)) each round — instead of
    * hop-count rounds. At crawl scale this is the difference between 30
    * joins and 5 for 30-hop chains; each round shuffles only (id, nxt)
    * pairs. The oracle derives the terminal closed-form, so the chase is
    * graded against independent arithmetic, not a mirrored join.
    */
  def redirectResolve(spark: SparkSession, dir: String): DataFrame = {
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id")
    // the chain also terminates at the corpus edge — without this, a
    // corpus whose max id is not ≡3 (mod 4) dangles its tail chain at a
    // nonexistent target (one-row broadcast, not an assumption)
    val maxDf = base.agg(max(col("doc_id")).as("max_id"))
    var cur = base
      .crossJoin(broadcast(maxDf))
      .selectExpr(
        "doc_id",
        "case when doc_id % 4 = 3 or doc_id = max_id then doc_id else doc_id + 1 end as nxt")
    for (_ <- 1 to 2) {
      val hop = cur.selectExpr("doc_id as j_id", "nxt as j_nxt")
      cur = cur
        .join(hop, cur("nxt") === hop("j_id"), "left")
        .selectExpr("doc_id", "coalesce(j_nxt, nxt) as nxt")
    }
    cur.selectExpr("doc_id", "nxt as final_id", "cast(nxt - doc_id as long) as n_hops")
  }

  val redirectResolveSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(least(doc_id - doc_id % 4 + 3, (SELECT max(doc_id) FROM documents)) AS BIGINT) AS final_id,
      |  CAST(least(doc_id - doc_id % 4 + 3, (SELECT max(doc_id) FROM documents)) - doc_id AS BIGINT) AS n_hops
      |FROM documents""".stripMargin

  /** Per-host crawl-delay resolution (the de-facto group-scoped
    * directive): graftbot's governing group declares 1+h%4 seconds;
    * otherbot's governing group declares none (emitted as -1) — group
    * selection must shadow `*` exactly like rule matching does. Feeds
    * wave spacing in [[frontierSchedule]].
    */
  def crawlDelay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .map(_ % 20)
      .distinct()
      .map { h =>
        val txt = graft.gen.LinkGen.robotsTxt(h)
        def d(agent: String): Long =
          graft.kernels.RobotsKernel.crawlDelay(txt, agent).map(_.toLong).getOrElse(-1L)
        (h, d("graftbot"), d("otherbot"))
      }
      .toDF("host_id", "delay_graftbot", "delay_other")
  }

  val crawlDelaySql: String =
    """SELECT DISTINCT CAST(doc_id % 20 AS BIGINT) AS host_id,
      |  CAST(1 + (doc_id % 20) % 4 AS BIGINT) AS delay_graftbot,
      |  CAST(-1 AS BIGINT) AS delay_other
      |FROM documents""".stripMargin

  /** Politeness-scheduled crawl frontier: each candidate URL gets a
    * per-host slot (priority order) and a fetch wave under a
    * fetches-per-host-per-wave cap — the scheduling step between
    * frontier dedup and the fetcher. The window partitions by host, so
    * state is bounded by the largest host's candidate count (and a
    * hot-host cap upstream bounds that); only (host, priority, id)
    * tuples shuffle. Integer-only arithmetic, deterministic tie-break.
    */
  def frontierSchedule(spark: SparkSession, dir: String): DataFrame = {
    val perWave = 2
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr(
        "cast(doc_id as long) as doc_id",
        "cast(doc_id % 20 as long) as host_id",
        "cast((doc_id * 7) % 100 as long) as priority")
      .selectExpr("doc_id", "host_id", "priority",
        "cast(row_number() over (partition by host_id order by priority desc, doc_id asc) - 1 as long) as slot")
      .selectExpr("doc_id", "host_id", "priority", "slot",
        s"cast(slot div $perWave as long) as wave")
  }

  val frontierScheduleSql: String =
    """WITH c AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |                  CAST(doc_id % 20 AS BIGINT) AS host_id,
      |                  CAST((doc_id * 7) % 100 AS BIGINT) AS priority
      |           FROM documents)
      |SELECT doc_id, host_id, priority,
      |  CAST(row_number() OVER (PARTITION BY host_id ORDER BY priority DESC, doc_id ASC) - 1 AS BIGINT) AS slot,
      |  CAST((row_number() OVER (PARTITION BY host_id ORDER BY priority DESC, doc_id ASC) - 1) // 2 AS BIGINT) AS wave
      |FROM c""".stripMargin

  /** Freshness-driven recrawl scheduling: per entity (events.user_id
    * standing in for a URL's observed-change stream), the next fetch is
    * last-seen-change plus the LOWER-MEDIAN observed change interval —
    * the standard change-rate recrawl policy, with the lower median
    * chosen because it is an exact integer both engines compute
    * identically (an interpolated median would sit on the float-rounding
    * boundary). Entities with one observation emit -1 (no estimate).
    * Two window passes partitioned by entity; only (id, ts) pairs
    * shuffle.
    */
  def recrawlSchedule(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{count => fCount, lag, lit, max => fMax, row_number, sum => fSum}
    val e = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr(
        "cast(user_id as long) as user_id",
        "unix_micros(cast(ts as timestamp)) as us",
        "cast(event_id as long) as eid")
    val gaps = e
      .withColumn("prev", lag(col("us"), 1)
        .over(Window.partitionBy("user_id").orderBy(col("us"), col("eid"))))
      .where("prev is not null")
      .selectExpr("user_id", "us - prev as gap")
    val med = gaps
      .withColumn("rn", row_number().over(Window.partitionBy("user_id").orderBy(col("gap"))))
      .withColumn("k", fCount(lit(1)).over(Window.partitionBy("user_id")))
      .where("rn = (k + 1) div 2")
      .selectExpr("user_id", "gap as median_gap_us")
    e.groupBy("user_id")
      .agg(fCount(lit(1)).cast("long").as("n_events"), fMax(col("us")).as("last_us"))
      .join(med, Seq("user_id"), "left")
      .selectExpr("user_id", "n_events", "last_us",
        "cast(coalesce(median_gap_us, -1) as long) as median_gap_us",
        "cast(coalesce(last_us + median_gap_us, -1) as long) as next_fetch_us")
  }

  val recrawlScheduleSql: String =
    """WITH e AS (SELECT CAST(user_id AS BIGINT) AS user_id, epoch_us(ts) AS us,
      |                  CAST(event_id AS BIGINT) AS eid
      |           FROM events),
      |g AS (SELECT user_id, us - lag(us) OVER (PARTITION BY user_id ORDER BY us, eid) AS gap
      |      FROM e),
      |g2 AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL),
      |m AS (SELECT user_id, gap AS median_gap_us FROM (
      |        SELECT user_id, gap,
      |               row_number() OVER (PARTITION BY user_id ORDER BY gap) AS rn,
      |               count(*) OVER (PARTITION BY user_id) AS k
      |        FROM g2) t WHERE rn = (k + 1) // 2),
      |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |             CAST(max(us) AS BIGINT) AS last_us
      |      FROM e GROUP BY user_id)
      |SELECT a.user_id, a.n_events, a.last_us,
      |  CAST(coalesce(m.median_gap_us, -1) AS BIGINT) AS median_gap_us,
      |  CAST(coalesce(a.last_us + m.median_gap_us, -1) AS BIGINT) AS next_fetch_us
      |FROM a LEFT JOIN m USING (user_id)""".stripMargin

  /** Capstone crawl plan — the whole pre-fetch decision in ONE
    * declarative composition: robots verdict (real RFC 9309 kernel, per-
    * host memoized) × Bloom seen-filter (shared with q_bloom_seen) ×
    * per-host politeness waves × kernel-resolved crawl-delay timing.
    * Ineligible rows (disallowed or already seen) carry wave/fetch_at
    * -1. The oracle recomputes every leg independently (closed-form
    * robots verdicts, its own Bloom arithmetic, a SQL window), so a bug
    * in any ONE leg — or in how they compose — breaks the hash.
    */
  def fetchPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cand0 = pages(spark, dir)
      .mapPartitions { it =>
        val rules = new java.util.HashMap[Long, graft.kernels.RobotsKernel.RuleSet]()
        val delays = new java.util.HashMap[Long, Long]()
        it.map { d =>
          val h = d % 20
          var r = rules.get(h)
          if (r == null) {
            val txt = graft.gen.LinkGen.robotsTxt(h)
            r = graft.kernels.RobotsKernel.parse(txt, "graftbot")
            rules.put(h, r)
            delays.put(h, graft.kernels.RobotsKernel.crawlDelay(txt, "graftbot")
              .map(_.toLong).getOrElse(0L))
          }
          val path = graft.gen.LinkGen.fetchPath(d)
          (d, h, graft.kernels.RobotsKernel.isAllowed(r, path), delays.get(h))
        }
      }
      .toDF("doc_id", "host_id", "allowed", "delay_sec")
      .selectExpr("*", s"${SketchOps.bloomUrlOf("doc_id")} as url")
    val g = SketchOps.bloomMembership(spark, dir, cand0)
    val sched = g
      .where("allowed and not maybe_seen")
      .selectExpr("doc_id", "host_id", "delay_sec",
        "cast((doc_id * 7) % 100 as long) as priority")
      .selectExpr("doc_id", "delay_sec",
        "cast((row_number() over (partition by host_id order by priority desc, doc_id asc) - 1) div 2 as long) as wave")
      .selectExpr("doc_id", "wave", "wave * delay_sec as fetch_at_sec")
    g.select("doc_id", "host_id", "allowed", "maybe_seen")
      .join(sched, Seq("doc_id"), "left")
      .selectExpr("doc_id", "host_id", "allowed", "maybe_seen",
        "cast(coalesce(wave, -1) as long) as wave",
        "cast(coalesce(fetch_at_sec, -1) as long) as fetch_at_sec")
  }

  val fetchPlanSql: String =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
      |cand AS (SELECT doc_id, doc_id % 20 AS host_id,
      |                'http://host' || (doc_id % 50) || '.example/p' || doc_id AS url
      |         FROM d),
      |base AS (SELECT 'http://host' || (doc_id % 50) || '.example/p' || doc_id AS url
      |         FROM d WHERE doc_id % 5 <> 0),
      |bits AS (SELECT DISTINCT s,
      |                ('0x' || substr(md5(url || '!' || s), 1, 8))::BIGINT % 1048576 AS pos
      |         FROM base, LATERAL (SELECT unnest(range(0, 3)) AS s) t),
      |hits AS (SELECT doc_id, count(*) AS k FROM (
      |           SELECT c.doc_id, s,
      |                  ('0x' || substr(md5(c.url || '!' || s), 1, 8))::BIGINT % 1048576 AS pos
      |           FROM cand c, LATERAL (SELECT unnest(range(0, 3)) AS s) t) p
      |         WHERE EXISTS (SELECT 1 FROM bits b WHERE b.s = p.s AND b.pos = p.pos)
      |         GROUP BY doc_id),
      |g AS (SELECT c.doc_id, CAST(c.host_id AS BIGINT) AS host_id,
      |        CASE c.doc_id % 5
      |          WHEN 0 THEN c.doc_id % 3 <> (c.doc_id % 20) % 3
      |          WHEN 3 THEN (c.doc_id % 20) % 4 <> 0
      |          ELSE TRUE END AS allowed,
      |        coalesce(h.k, 0) = 3 AS maybe_seen
      |      FROM cand c LEFT JOIN hits h USING (doc_id)),
      |sched AS (SELECT doc_id,
      |            (row_number() OVER (PARTITION BY host_id
      |               ORDER BY (doc_id * 7) % 100 DESC, doc_id ASC) - 1) // 2 AS wave
      |          FROM g WHERE allowed AND NOT maybe_seen)
      |SELECT g.doc_id, g.host_id, g.allowed, g.maybe_seen,
      |  CAST(coalesce(s.wave, -1) AS BIGINT) AS wave,
      |  CAST(coalesce(s.wave * (1 + g.host_id % 4), -1) AS BIGINT) AS fetch_at_sec
      |FROM g LEFT JOIN sched s USING (doc_id)""".stripMargin

  /** Rendezvous (highest-random-weight, Thaler & Ravishankar 1998)
    * sharding of hosts onto a fetcher fleet — how a crawler pins every
    * host to exactly one politeness-owning fetcher so per-host rate
    * limits need no coordination. Each host picks the shard maximizing
    * md5(hostname '#' shard) over the 10-shard fleet; the query also
    * computes the assignment under a 9-shard fleet, exposing HRW's
    * minimal-movement property AS DATA: a host moves iff its shard was
    * the removed one (the spec asserts it; with mod-hashing ~90% of
    * hosts would move and every fetcher's politeness state would reset).
    * Host rollup is one small partial-agg'd exchange; the shard argmax
    * is in-row over 10 hex digests.
    */
  def fetchShards(spark: SparkSession, dir: String): DataFrame = {
    val hosts = pages(spark, dir).toDF("d")
      .selectExpr("cast(d % 50 as long) as host_id")
      .groupBy("host_id")
      .agg(org.apache.spark.sql.functions.expr("cast(count(*) as long) as n_docs"))
    hosts
      .selectExpr("host_id", "n_docs",
        "transform(sequence(0, 9), s -> md5(concat('host', host_id, '.example#', s))) as hw")
      .selectExpr("host_id", "n_docs",
        "cast(array_position(hw, array_max(hw)) - 1 as long) as shard10",
        "cast(array_position(slice(hw, 1, 9), array_max(slice(hw, 1, 9))) - 1 as long) as shard9")
      .selectExpr("host_id", "n_docs", "shard10", "shard9",
        "shard10 != shard9 as moved")
  }

  val fetchShardsSql: String =
    """WITH h AS (SELECT CAST(doc_id % 50 AS BIGINT) AS host_id,
      |    CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY doc_id % 50),
      |w AS (SELECT host_id, n_docs,
      |    list_transform(range(0, 10), s -> md5('host' || host_id || '.example#' || s)) AS hw
      |  FROM h)
      |SELECT host_id, n_docs,
      |  CAST(list_position(hw, list_max(hw)) - 1 AS BIGINT) AS shard10,
      |  CAST(list_position(hw[1:9], list_max(hw[1:9])) - 1 AS BIGINT) AS shard9,
      |  list_position(hw, list_max(hw)) <> list_position(hw[1:9], list_max(hw[1:9])) AS moved
      |FROM w""".stripMargin

  /** Per-host robots cache with TTL — the piece a standing crawler needs
    * between [[fetchPlan]] runs: robots.txt responses are cached
    * host-keyed for up to 24 hours (the RFC 9309 §2.4 cache bound), so a
    * fetch decision uses the CACHED rules while the entry is fresh and
    * must re-fetch + re-gate once it expires.
    *
    * The cache is a host-keyed DIM (one row per host: fetched_at + the
    * robots text captured then) broadcast into the candidate scan —
    * exactly how a 10^12-row frontier consumes it (hosts are ~10^7, the
    * dim broadcasts; candidates never shuffle). Hosts aged < 24 h keep
    * their cached snapshot (even hosts cached a disallow-all, odd an
    * allow-all — so using the WRONG side is loudly visible); hosts aged
    * ≥ 24 h re-fetch the current robots.txt and the verdict flips to the
    * live RFC 9309 kernel result. The oracle recomputes both regimes in
    * closed form, so gating a stale host with cached rules (or vice
    * versa) fails the hash.
    */
  def robotsCacheTtl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nowUs = 1736208000000000L // fixed clock: 2025-01-07T00:00:00Z
    val hourUs = 3600000000L
    val ttlUs = 24L * hourUs
    // host-keyed cache dim: host h's robots was fetched h*3 hours ago
    val dim = (0L until 20L).map { h =>
      val cached =
        if (h % 2 == 0) "User-agent: *\nDisallow: /\n"
        else "User-agent: *\nAllow: /\n"
      (h, nowUs - h * 3 * hourUs, cached)
    }.toDF("host_id", "fetched_at_us", "cached_txt")
    val cand = pages(spark, dir)
      .map(d => (d, d % 20)).toDF("doc_id", "host_id")
    cand.join(broadcast(dim), Seq("host_id"))
      .selectExpr("doc_id", "host_id",
        s"cast((${nowUs}L - fetched_at_us) div ${hourUs}L as long) as age_hours",
        s"${nowUs}L - fetched_at_us >= ${ttlUs}L as refetched",
        "cached_txt")
      .as[(Long, Long, Long, Boolean, String)]
      .mapPartitions { it =>
        val rules = new java.util.HashMap[(Long, Boolean), graft.kernels.RobotsKernel.RuleSet]()
        it.map { case (d, h, age, refetched, cachedTxt) =>
          var r = rules.get((h, refetched))
          if (r == null) {
            // expiry → the crawler re-fetches the CURRENT robots.txt;
            // fresh → the cached snapshot governs
            val txt = if (refetched) graft.gen.LinkGen.robotsTxt(h) else cachedTxt
            r = graft.kernels.RobotsKernel.parse(txt, "graftbot")
            rules.put((h, refetched), r)
          }
          (d, h, age, refetched,
            graft.kernels.RobotsKernel.isAllowed(r, graft.gen.LinkGen.fetchPath(d)))
        }
      }
      .toDF("doc_id", "host_id", "age_hours", "refetched", "allowed")
  }

  val robotsCacheTtlSql: String =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, doc_id % 20 AS h FROM documents)
      |SELECT doc_id, CAST(h AS BIGINT) AS host_id,
      |  CAST(h * 3 AS BIGINT) AS age_hours,
      |  h * 3 >= 24 AS refetched,
      |  CASE WHEN h * 3 >= 24 THEN
      |    CASE doc_id % 5
      |      WHEN 0 THEN doc_id % 3 <> h % 3
      |      WHEN 3 THEN h % 4 <> 0
      |      ELSE TRUE END
      |  ELSE h % 2 <> 0 END AS allowed
      |FROM d""".stripMargin

  /** Host-community detection via synchronous label propagation
    * (Raghavan et al. 2007, "Near linear time algorithm to detect
    * community structures in large-scale networks") over the undirected
    * domain graph: each host starts in its own community and, per round,
    * adopts the label carrying the largest total incident edge weight
    * among its neighbors (tie → lexicographically smallest label — the
    * determinism LPA famously lacks, restored so the oracle can gate
    * it). Two synchronous rounds, unrolled. This is the web-scale
    * mirror-site/link-farm grouping step that runs AFTER near-dup
    * clustering: connected components ([[graft.ops.DedupOps]]) answer
    * "reachable at all", LPA answers "densely interlinked".
    *
    * 100 TB shape: per round exactly one shuffle keyed by host — the
    * edge table joins the (host, label) table (host-cardinality, ~10⁷
    * on the real web: shuffle join, no broadcast hint, AQE decides) and
    * partial-aggregates (node, label) votes; the argmax is a window
    * over each node's candidate labels (bounded by its degree). Each
    * round ends in a localCheckpoint so the unrolled lineage never
    * recomputes round k-1 inside round k.
    *
    * `lpaRounds` is the synchronous-round engine over an undirected
    * weighted edge table `(node, nbr, w)` (callers pass BOTH
    * directions), factored out so the spec can drive it with a
    * hand-built two-clique graph.
    */
  def lpaRounds(und: DataFrame, rounds: Int): DataFrame = {
    var labels = und.select("node").distinct().selectExpr("node", "node as label")
    (1 to rounds).foreach { _ =>
      labels = und
        .join(labels.withColumnRenamed("node", "nbr"), Seq("nbr"))
        .groupBy("node", "label")
        .agg(org.apache.spark.sql.functions.sum("w").as("votes"))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("node")
            .orderBy(org.apache.spark.sql.functions.desc("votes"),
              org.apache.spark.sql.functions.asc("label"))))
        .where("rn = 1")
        .select("node", "label")
        .localCheckpoint(true)
    }
    labels
  }

  def hostCommunities(spark: SparkSession, dir: String): DataFrame = {
    val e0 = domainEdges(spark, dir)
    val und = e0.selectExpr("src_host as node", "dst_host as nbr", "n_links as w")
      .unionByName(e0.selectExpr("dst_host as node", "src_host as nbr", "n_links as w"))
      .groupBy("node", "nbr")
      .agg(org.apache.spark.sql.functions.sum("w").as("w"))
      .localCheckpoint(true)
    lpaRounds(und, 2)
      .selectExpr("node as host", "label as community")
      .withColumn("community_size",
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("community"))
          .cast("long"))
  }

  val hostCommunitiesSql: String =
    s"""WITH e AS ($domainEdgesSql),
      |und AS (SELECT node, nbr, sum(w) AS w FROM (
      |    SELECT src_host AS node, dst_host AS nbr, n_links AS w FROM e
      |    UNION ALL
      |    SELECT dst_host AS node, src_host AS nbr, n_links AS w FROM e)
      |  GROUP BY node, nbr),
      |l0 AS (SELECT DISTINCT node, node AS label FROM und),
      |v1 AS (SELECT u.node, l.label, sum(u.w) AS votes
      |  FROM und u JOIN l0 l ON l.node = u.nbr GROUP BY 1, 2),
      |l1 AS (SELECT node, label FROM (SELECT node, label,
      |    row_number() OVER (PARTITION BY node ORDER BY votes DESC, label) AS rn
      |  FROM v1) WHERE rn = 1),
      |v2 AS (SELECT u.node, l.label, sum(u.w) AS votes
      |  FROM und u JOIN l1 l ON l.node = u.nbr GROUP BY 1, 2),
      |l2 AS (SELECT node, label FROM (SELECT node, label,
      |    row_number() OVER (PARTITION BY node ORDER BY votes DESC, label) AS rn
      |  FROM v2) WHERE rn = 1)
      |SELECT node AS host, label AS community,
      |  CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
      |FROM l2""".stripMargin

  /** Conditional-GET recrawl (RFC 9110 §13: `If-None-Match` against the
    * cached `ETag`, 304 on match): the fetch-side twin of
    * [[graft.ops.ExtractionOps.incrementalExtract]]'s extract-side
    * gate. The standing fetch ledger holds each url's validator (ETag =
    * strong digest of the last-served body); the fresh crawl re-serves
    * every 3rd page byte-identical (→ 304, zero payload transferred,
    * validator kept) and changed bodies elsewhere (→ 200, full payload,
    * validator replaced). The emitted `transfer_bytes` is the actual
    * crawl bandwidth — the number a recrawl scheduler budgets with; at
    * typical churn the 304 path saves most of the fleet's egress.
    *
    * Exactness: ETags are md5 hex on both engines, transfer size is
    * the UTF-8 octet length, action is a pure digest compare. Shuffle
    * shape: one equi-join of the crawl against the host-sharded ledger
    * on url key — no global state.
    */
  def recrawlEtag(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id", "text")
    val ledger = d.selectExpr("doc_id", "md5(cast(text as binary)) as etag_cached")
    val crawl = d.selectExpr("doc_id",
      "case when doc_id % 3 = 0 then text else concat(text, ' rev2') end as body")
      .selectExpr("doc_id", "body", "md5(cast(body as binary)) as etag_live")
    crawl.join(ledger, Seq("doc_id"))
      .selectExpr("doc_id",
        "case when etag_live = etag_cached then '304' else '200' end as status",
        "case when etag_live = etag_cached then 0L else cast(octet_length(cast(body as binary)) as long) end as transfer_bytes",
        "case when etag_live = etag_cached then etag_cached else etag_live end as etag_after")
  }

  val recrawlEtagSql: String =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
      |    CASE WHEN doc_id % 3 = 0 THEN text ELSE text || ' rev2' END AS body
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN '304' ELSE '200' END AS status,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 0
      |       ELSE octet_length(encode(body)) END AS BIGINT) AS transfer_bytes,
      |  CASE WHEN doc_id % 3 = 0 THEN md5(text) ELSE md5(body) END AS etag_after
      |FROM d""".stripMargin

  /** Recrawl content-delta scoring (r4 ask #4): join CONSECUTIVE
    * revisions per url (lag window inside the url key — the narrow
    * per-key state a revision log has) and score each pair with the
    * real difflib-parity similarity ([[graft.kernels.FuzzyKernels]]
    * `ratio`, CPython-identical incl. half-even `int(round(100r))`).
    * The score feeds the re-extraction priority column next to
    * [[recrawlEtag]]'s transfer ledger: `skip` at 100 (byte-identical —
    * the 304 path), `reextract` for minor edits (boilerplate/template
    * churn; the extractor re-runs but the fetch is cheap), `refetch`
    * below 70 (content rewrite — full fetch + render budget).
    *
    * Fixture: three synthetic revisions per url, closed-form in doc_id
    * — identical / marker-append / marker-prepend / whole-replacement,
    * the markers drawn from alphabets disjoint from the pure a-z+space
    * corpus so every matching-block total is closed-form (M = |prev| or
    * 0). Revision bodies cap at 155+5 chars, safely under difflib's
    * 200-char autojunk threshold (autojunk would junk popular chars and
    * break the closed form — the builder-memory caveat). All non-exact
    * denominators are odd, so the half-even rounding never meets a tie
    * and the oracle's pure-integer round formula is exact.
    *
    * 100 TB shape: the lag window partitions by url key (bounded
    * per-key revision history), the scorer is a narrow per-row kernel
    * map — no global state, same exchange as any url-keyed stage.
    */
  def revisionRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val revs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id", "substring(text, 1, 150) as base")
      .as[(Long, String)]
      .flatMap { case (id, base) =>
        val v2 = (id % 4) match {
          case 0 => base             // unchanged re-serve
          case 1 => base + " ####"   // append (footer churn)
          case 2 => "#### " + base   // prepend (banner churn)
          case _ => "########"       // whole-content replacement
        }
        val v3 = ((id / 4) % 3) match {
          case 0 => v2
          case 1 => v2 + " @@@@"
          case _ => "@@@@ " + v2
        }
        Iterator((id, 1L, base), (id, 2L, v2), (id, 3L, v3))
      }
      .toDF("doc_id", "rev_no", "body")
    val w = Window.partitionBy("doc_id").orderBy("rev_no")
    revs
      .withColumn("prev_body", org.apache.spark.sql.functions.lag("body", 1).over(w))
      .where("prev_body is not null")
      .selectExpr("doc_id", "rev_no", "prev_body", "body")
      .as[(Long, Long, String, String)]
      .mapPartitions(_.map { case (id, rev, prev, body) =>
        (id, rev, graft.kernels.FuzzyKernels.ratio(prev, body).toLong)
      })
      .toDF("doc_id", "rev_no", "ratio_pct")
      .selectExpr("doc_id", "rev_no", "ratio_pct",
        """case when ratio_pct = 100 then 'skip'
          |     when ratio_pct >= 70 then 'reextract'
          |     else 'refetch' end as priority""".stripMargin)
  }

  val revisionRatioSql: String =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    CAST(least(length(text), 150) AS BIGINT) AS l FROM documents),
      |p AS (
      |  SELECT doc_id, 2::BIGINT AS rev_no,
      |    CASE WHEN doc_id % 4 = 3 THEN 0 ELSE l END AS m,
      |    l AS la,
      |    CASE doc_id % 4 WHEN 0 THEN l WHEN 3 THEN 8 ELSE l + 5 END AS lb
      |  FROM d
      |  UNION ALL
      |  SELECT doc_id, 3::BIGINT, len2, len2,
      |    CASE WHEN (doc_id // 4) % 3 = 0 THEN len2 ELSE len2 + 5 END
      |  FROM (SELECT doc_id,
      |      CASE doc_id % 4 WHEN 0 THEN l WHEN 3 THEN 8 ELSE l + 5 END AS len2
      |    FROM d)),
      |r AS (SELECT doc_id, rev_no,
      |    CASE WHEN 2 * ((200 * m) % (la + lb)) > (la + lb)
      |           THEN (200 * m) // (la + lb) + 1
      |         WHEN 2 * ((200 * m) % (la + lb)) = (la + lb)
      |           THEN (200 * m) // (la + lb) + ((200 * m) // (la + lb)) % 2
      |         ELSE (200 * m) // (la + lb) END AS ratio_pct
      |  FROM p)
      |SELECT doc_id, rev_no, CAST(ratio_pct AS BIGINT) AS ratio_pct,
      |  CASE WHEN ratio_pct = 100 THEN 'skip'
      |       WHEN ratio_pct >= 70 THEN 'reextract'
      |       ELSE 'refetch' END AS priority
      |FROM r""".stripMargin

  /** IDN hostname hygiene ([[graft.kernels.PunycodeKernel]]): decode
    * `xn--` ACE labels per RFC 3492 and flag whole-script-confusable
    * homographs via the Cyrillic→Latin skeleton (the `аррӏе`/`pаypal`
    * class — single-script or mixed labels whose skeleton collapses to
    * a pure-ASCII Latin word). Hosts rotate through six fixed forms
    * (plain ASCII, German/Russian/Chinese/French IDNs, two spoofs); the
    * oracle pins every decoded string and flag as literals, so a
    * decoder bug on ANY label (wrong insertion point, bias adaptation,
    * overflow handling) or a skeleton miss fails the hash. Zero-shuffle
    * per-row kernel map.
    */
  def idnHomograph(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hosts = Array(
      "plain.example", "xn--mnchen-3ya.example", "xn--h1alffa9f.example",
      "xn--80ak6aa92e.example", "xn--caf-dma.example", "xn--pypal-4ve.example")
    pages(spark, dir)
      .mapPartitions(_.map { d =>
        val ascii = hosts((d % 6).toInt)
        val uni = graft.kernels.PunycodeKernel.hostToUnicode(ascii)
        val label = uni.substring(0, uni.indexOf('.'))
        (d, ascii, uni, ascii != uni,
          graft.kernels.PunycodeKernel.homographRisk(label))
      })
      .toDF("doc_id", "host_ascii", "host_unicode", "is_idn", "homograph")
  }

  val idnHomographSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CASE doc_id % 6
      |    WHEN 0 THEN 'plain.example'
      |    WHEN 1 THEN 'xn--mnchen-3ya.example'
      |    WHEN 2 THEN 'xn--h1alffa9f.example'
      |    WHEN 3 THEN 'xn--80ak6aa92e.example'
      |    WHEN 4 THEN 'xn--caf-dma.example'
      |    ELSE 'xn--pypal-4ve.example' END AS host_ascii,
      |  CASE doc_id % 6
      |    WHEN 0 THEN 'plain.example'
      |    WHEN 1 THEN 'münchen.example'
      |    WHEN 2 THEN 'россия.example'
      |    WHEN 3 THEN 'аррӏе.example'
      |    WHEN 4 THEN 'café.example'
      |    ELSE 'pаypal.example' END AS host_unicode,
      |  doc_id % 6 <> 0 AS is_idn,
      |  doc_id % 6 IN (3, 5) AS homograph
      |FROM documents""".stripMargin

  /** Tracking-parameter stripping ([[graft.kernels.LinkKernel.stripTracking]])
    * — URL canonicalization BEFORE fetch: campaign/click-id variants of
    * one page collapse to a single frontier key, cutting both the fetch
    * budget and the url-level duplicate rate. Non-tracking parameter
    * order is preserved (reordering would change real keys), valueless
    * and empty params handled, fragments untouched. Pure projection.
    */
  def urlStripTracking(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir)
      .mapPartitions(_.map { d =>
        val url = s"http://host${d % 20}.example/p$d.html" + ((d % 5) match {
          case 0 => ""
          case 1 => s"?utm_source=feed&id=$d"
          case 2 => s"?gclid=g$d"
          case 3 => s"?a=1&utm_campaign=c$d&b=2#sec$d"
          case _ => s"?UTM_Medium=em&fbclid=f$d&q=$d"
        })
        val (clean, n) = graft.kernels.LinkKernel.stripTracking(url)
        (d, url, clean, n.toLong)
      })
      .toDF("doc_id", "url", "url_clean", "n_stripped")
  }

  val urlStripTrackingSql: String =
    """WITH b AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    'http://host' || (doc_id % 20) || '.example/p' || doc_id || '.html' AS base
      |  FROM documents)
      |SELECT doc_id,
      |  base || CASE doc_id % 5
      |    WHEN 0 THEN ''
      |    WHEN 1 THEN '?utm_source=feed&id=' || doc_id
      |    WHEN 2 THEN '?gclid=g' || doc_id
      |    WHEN 3 THEN '?a=1&utm_campaign=c' || doc_id || '&b=2#sec' || doc_id
      |    ELSE '?UTM_Medium=em&fbclid=f' || doc_id || '&q=' || doc_id END AS url,
      |  base || CASE doc_id % 5
      |    WHEN 0 THEN ''
      |    WHEN 1 THEN '?id=' || doc_id
      |    WHEN 2 THEN ''
      |    WHEN 3 THEN '?a=1&b=2#sec' || doc_id
      |    ELSE '?q=' || doc_id END AS url_clean,
      |  CAST(CASE doc_id % 5 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 1
      |       WHEN 3 THEN 1 ELSE 2 END AS BIGINT) AS n_stripped
      |FROM b""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fetch_shards" -> (fetchShards(_, _)),
    "q_idn_homograph" -> (idnHomograph(_, _)),
    "q_url_strip_tracking" -> (urlStripTracking(_, _)),
    "q_recrawl_etag" -> (recrawlEtag(_, _)),
    "q_revision_ratio" -> (revisionRatio(_, _)),
    "q_host_communities" -> (hostCommunities(_, _)),
    "q_robots_cache_ttl" -> (robotsCacheTtl(_, _)),
    "q_outlinks" -> (outlinks(_, _)),
    "q_domain_edges" -> (domainEdges(_, _)),
    "q_robots_gate" -> (robotsGate(_, _)),
    "q_anchor_terms" -> (anchorTerms(_, _)),
    "q_pagerank" -> (pagerank(_, _)),
    "q_robots_txt_gate" -> (robotsTxtGate(_, _)),
    "q_hits_scores" -> (hitsScores(_, _)),
    "q_crawl_budget" -> (crawlBudget(_, _)),
    "q_url_trap" -> (urlTrapGate(_, _)),
    "q_surt_key" -> (surtKeys(_, _)),
    "q_cdx_index" -> (cdxIndex(_, _)),
    "q_html_meta" -> (htmlMeta(_, _)),
    "q_sitemap_urls" -> (sitemapUrls(_, _)),
    "q_sitemap_coverage" -> (sitemapCoverage(_, _)),
    "q_politeness_audit" -> (politenessAudit(_, _)),
    "q_robots_delta" -> (robotsDelta(_, _)),
    "q_cocitation" -> (cocitation(_, _)),
    "q_feed_items" -> (feedItems(_, _)),
    "q_frontier_schedule" -> (frontierSchedule(_, _)),
    "q_robots_sitemaps" -> (robotsSitemaps(_, _)),
    "q_crawl_delay" -> (crawlDelay(_, _)),
    "q_redirect_resolve" -> (redirectResolve(_, _)),
    "q_fetch_plan" -> (fetchPlan(_, _)),
    "q_recrawl_schedule" -> (recrawlSchedule(_, _)))

  def oracles: Map[String, String] = Map(
    "q_fetch_shards" -> fetchShardsSql,
    "q_idn_homograph" -> idnHomographSql,
    "q_url_strip_tracking" -> urlStripTrackingSql,
    "q_recrawl_etag" -> recrawlEtagSql,
    "q_revision_ratio" -> revisionRatioSql,
    "q_host_communities" -> hostCommunitiesSql,
    "q_robots_cache_ttl" -> robotsCacheTtlSql,
    "q_outlinks" -> outlinksSql,
    "q_domain_edges" -> domainEdgesSql,
    "q_robots_gate" -> robotsGateSql,
    "q_anchor_terms" -> anchorTermsSql,
    "q_pagerank" -> pagerankSql,
    "q_robots_txt_gate" -> robotsTxtGateSql,
    "q_hits_scores" -> hitsScoresSql,
    "q_crawl_budget" -> crawlBudgetSql,
    "q_url_trap" -> urlTrapGateSql,
    "q_surt_key" -> surtKeysSql,
    "q_cdx_index" -> cdxIndexSql,
    "q_html_meta" -> htmlMetaSql,
    "q_sitemap_urls" -> sitemapUrlsSql,
    "q_sitemap_coverage" -> sitemapCoverageSql,
    "q_politeness_audit" -> politenessAuditSql,
    "q_robots_delta" -> robotsDeltaSql,
    "q_cocitation" -> cocitationSql,
    "q_feed_items" -> feedItemsSql,
    "q_frontier_schedule" -> frontierScheduleSql,
    "q_robots_sitemaps" -> robotsSitemapsSql,
    "q_crawl_delay" -> crawlDelaySql,
    "q_redirect_resolve" -> redirectResolveSql,
    "q_fetch_plan" -> fetchPlanSql,
    "q_recrawl_schedule" -> recrawlScheduleSql)
}
