package graft.ops

import graft.Gated
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cardinality sketches for corpus statistics at 100 TB.
  *
  * The estimator here is the salted-minimum sketch (the KMV/HLL family's
  * simplest member): for m independent salts, keep min over the corpus
  * of the md5-fraction of each distinct token; each minimum has
  * E[min] = 1/(n+1), and the MLE over m independent minima is
  * est = m / (f_1 + ... + f_m) - 1 (summing in 1/n space concentrates;
  * averaging in n space would not).
  * Everything is md5-over-strings + double arithmetic in a FIXED
  * expression shape, so DuckDB computes the bit-identical estimate —
  * the oracle is exact, not statistical (same trick as the MinHash
  * signatures in DedupOps).
  *
  * Scale shape: one shuffle on (source) with 2m partial-aggregated min
  * columns — the shuffle carries m doubles per partition per group no
  * matter how many tokens flow in (the same reason HLL sketches are the
  * 100 TB answer to COUNT DISTINCT). The exact count is carried
  * alongside at test scale to show the estimator lands; at 10^12 rows
  * one would drop it.
  */
object SketchOps {

  private val M = 8 // salts
  private val HexDigits = 10 // fraction precision: 40 bits

  /** Per-source distinct-token estimate vs exact. */
  def distinctSketch(spark: SparkSession, dir: String): DataFrame = {
    val tokens = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("source", "explode(array_distinct(split(text, ' '))) as w")
      .distinct() // distinct (source, token): the sketch input
    val fracCols = (1 to M).map { i =>
      // min md5 fraction for salt i: first 10 hex chars as a 16^-10 fraction
      (min(expr(s"conv(substr(md5(cast(concat(w, '#$i') as binary)), 1, $HexDigits), 16, 10)").cast("double")) /
        lit(math.pow(16.0, HexDigits))).as(s"f$i")
    }
    val fracSum = (1 to M).map(i => col(s"f$i")).reduce(_ + _)
    tokens.groupBy(col("source"))
      .agg(countDistinct(col("w")).as("exact_distinct"), fracCols: _*)
      .withColumn("est_distinct",
        round(lit(M.toDouble) / greatest(fracSum, lit(1e-12)) - 1.0, 4))
      .select(col("source"), col("exact_distinct"), col("est_distinct"))
  }

  val distinctSketchSql: String = {
    val mins = (1 to M).map(i =>
      s"min(CAST('0x' || substr(md5(w || '#$i'), 1, $HexDigits) AS BIGINT) / power(16.0, $HexDigits)) AS f$i")
      .mkString(",\n    ")
    val fracSum = (1 to M).map(i => s"f$i").reduce((a, b) => s"($a) + ($b)")
    s"""WITH t AS (SELECT DISTINCT source, unnest(list_distinct(string_split(text, ' '))) AS w
       |  FROM documents),
       |s AS (SELECT source, CAST(count(DISTINCT w) AS BIGINT) AS exact_distinct,
       |    $mins
       |  FROM t GROUP BY source)
       |SELECT source, exact_distinct,
       |  round(8.0 / greatest($fracSum, 1e-12) - 1.0, 4) AS est_distinct
       |FROM s""".stripMargin
  }

  // ------------------------------------------------- count-min heavy hitters

  private val CmsD = 3 // hash rows (salts)
  private val CmsW = 64 // buckets per row

  /** Explode each row into its d CMS cells: fixed md5 salts make the
    * bucket ids bit-identical in DuckDB. ONE definition feeds both the
    * single-pass sketch and the shard-merge query — their shared oracle
    * assumes the Scala sides hash identically.
    */
  private def cmsBucketed(df: DataFrame, carry: Seq[String]): DataFrame =
    df.selectExpr(carry :+
      (s"posexplode(transform(sequence(0, ${CmsD - 1}), " +
        s"s -> cast(conv(substr(md5(cast(concat(w, '@', s) as binary)), 1, 8), 16, 10) as bigint) % $CmsW)) as (sz, b)"): _*)

  /** Count-min sketch frequency estimation (Cormode-Muthukrishnan): the
    * counter table is d×w = 192 cells NO MATTER the stream size — the
    * 100 TB answer to "how often does each term occur" when per-term
    * state is too much. est = min over rows of the term's bucket
    * counter, always ≥ truth (collisions only inflate). Hash rows are
    * fixed md5 salts, so DuckDB computes the bit-identical sketch — the
    * oracle is exact, not statistical. True counts ride alongside at
    * test scale to show the envelope property.
    *
    * Scale shape: counters = one partial-agg'd shuffle collapsing to 192
    * rows; the estimate side joins the term list against the BROADCAST
    * counter table.
    */
  def heavyHittersCms(spark: SparkSession, dir: String): DataFrame = {
    val occ = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("explode(split(text, ' ')) as w")
      .where("length(w) > 0")
    // ONE scan: word counts first (checkpointed — vocab-sized), then the
    // counter table derives from the vocab (bucket count = sum of its
    // words' counts) instead of re-exploding the corpus a second time
    val vocab = occ.groupBy("w").agg(count(lit(1)).cast("long").as("true_n"))
      .localCheckpoint(true)
    val counters = cmsBucketed(vocab, Seq("true_n")).groupBy("sz", "b")
      .agg(sum(col("true_n")).as("cnt"))
    cmsBucketed(vocab, Seq("w", "true_n"))
      .join(broadcast(counters), Seq("sz", "b"))
      .groupBy("w", "true_n")
      .agg(min("cnt").cast("long").as("est_n"))
  }

  val heavyHittersCmsSql: String =
    s"""WITH o AS (SELECT w FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      |           WHERE len(w) > 0),
      |k AS (SELECT w, s, ('0x' || substr(md5(w || '@' || s), 1, 8))::BIGINT % $CmsW AS b
      |      FROM o, LATERAL (SELECT unnest(range(0, $CmsD)) AS s) t),
      |c AS (SELECT s, b, count(*) AS cnt FROM k GROUP BY s, b),
      |v AS (SELECT w, CAST(count(*) AS BIGINT) AS true_n FROM o GROUP BY w),
      |vk AS (SELECT v.w, v.true_n, s,
      |              ('0x' || substr(md5(v.w || '@' || s), 1, 8))::BIGINT % $CmsW AS b
      |       FROM v, LATERAL (SELECT unnest(range(0, $CmsD)) AS s) t)
      |SELECT vk.w AS w, vk.true_n, CAST(min(c.cnt) AS BIGINT) AS est_n
      |FROM vk JOIN c USING (s, b)
      |GROUP BY vk.w, vk.true_n""".stripMargin

  // ---------------------------------------------------- bloom seen-URL gate

  private val BloomK = 3 // hash functions
  private val BloomM = 1 << 20 // bits

  /** Bloom-filter frontier gate — the crawler's "have we fetched this
    * URL" structure. The base corpus's URLs populate a k=3, m=2^20
    * filter; candidate URLs are gated on all-k-bits-set. Here the filter
    * is its relational analog (the distinct (salt, bit) set — at crawl
    * scale that set IS the 128 KiB bitmap, broadcast to every executor),
    * membership is a broadcast semi-join, and fixed md5 salts make
    * DuckDB build the bit-identical filter: the oracle checks exact
    * Bloom semantics including its false positives (maybe_seen true,
    * truly_seen false), never a mirrored approximation.
    *
    * Candidates: docs with doc_id%5==0; every second one re-presents a
    * base URL (must hit), the rest are novel (hit only on FP).
    */
  /** SQL fragment: the deterministic seen-set URL of doc `idExpr`. */
  def bloomUrlOf(idExpr: String): String =
    s"concat('http://host', cast(($idExpr) % 50 as string), '.example/p', cast($idExpr as string))"

  private def bloomPositions(df: DataFrame, carry: Seq[String]): DataFrame =
    df.selectExpr(carry :+
      (s"posexplode(transform(sequence(0, ${BloomK - 1}), " +
        s"s -> cast(conv(substr(md5(cast(concat(url, '!', s) as binary)), 1, 8), 16, 10) as bigint) % $BloomM)) as (s, pos)"): _*)

  /** Bloom membership of `cand` (columns incl. doc_id, url) against the
    * base-corpus filter (docs with doc_id%5 != 0) — shared by
    * [[bloomSeen]] and LinkOps.fetchPlan. Adds `maybe_seen`.
    */
  def bloomMembership(spark: SparkSession, dir: String, cand: DataFrame): DataFrame = {
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id")
      .where("doc_id % 5 != 0")
      .selectExpr(s"${bloomUrlOf("doc_id")} as url")
    val filterBits = bloomPositions(base, Seq.empty).distinct()
    val hits = bloomPositions(cand, Seq("doc_id", "url"))
      .join(broadcast(filterBits), Seq("s", "pos"), "left_semi")
      .groupBy("doc_id", "url")
      .agg(count(lit(1)).as("k_hits"))
    cand
      .join(hits, Seq("doc_id", "url"), "left")
      .selectExpr((cand.columns.toSeq :+
        s"coalesce(k_hits, 0) = $BloomK as maybe_seen"): _*)
  }

  def bloomSeen(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id")
    val base = d.where("doc_id % 5 != 0").selectExpr(s"${bloomUrlOf("doc_id")} as url")
    val cand = d.where("doc_id % 5 = 0").selectExpr(
      "doc_id",
      s"case when doc_id % 10 = 0 then ${bloomUrlOf("doc_id + 1")} " +
        s"else concat('http://new.example/p', cast(doc_id as string)) end as url")
    bloomMembership(spark, dir, cand)
      .join(base.distinct().withColumn("truly", lit(true)), Seq("url"), "left")
      .selectExpr(
        "doc_id", "url", "maybe_seen",
        "coalesce(truly, false) as truly_seen")
  }

  val bloomSeenSql: String =
    s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
      |base AS (SELECT 'http://host' || (doc_id % 50) || '.example/p' || doc_id AS url
      |         FROM d WHERE doc_id % 5 <> 0),
      |bits AS (SELECT DISTINCT s,
      |                ('0x' || substr(md5(url || '!' || s), 1, 8))::BIGINT % $BloomM AS pos
      |         FROM base, LATERAL (SELECT unnest(range(0, $BloomK)) AS s) t),
      |cand AS (SELECT doc_id,
      |                CASE WHEN doc_id % 10 = 0
      |                     THEN 'http://host' || ((doc_id + 1) % 50) || '.example/p' || (doc_id + 1)
      |                     ELSE 'http://new.example/p' || doc_id END AS url
      |         FROM d WHERE doc_id % 5 = 0),
      |hits AS (SELECT doc_id, url, count(*) AS k_hits
      |         FROM (SELECT c.doc_id, c.url, s,
      |                      ('0x' || substr(md5(c.url || '!' || s), 1, 8))::BIGINT % $BloomM AS pos
      |               FROM cand c, LATERAL (SELECT unnest(range(0, $BloomK)) AS s) t) p
      |         WHERE EXISTS (SELECT 1 FROM bits b WHERE b.s = p.s AND b.pos = p.pos)
      |         GROUP BY doc_id, url)
      |SELECT c.doc_id, c.url,
      |  coalesce(h.k_hits, 0) = $BloomK AS maybe_seen,
      |  EXISTS (SELECT 1 FROM base b WHERE b.url = c.url) AS truly_seen
      |FROM cand c LEFT JOIN hits h ON c.doc_id = h.doc_id AND c.url = h.url""".stripMargin

  // -------------------------------------------- histogram-based quantiles

  private val QBucket = 16 // words per histogram bucket

  /** Approximate quantiles with a bounded-error histogram — the fixed-
    * memory shape of a production quantile sketch (t-digest/KLL):
    * per-source doc-length distribution collapses to bucket counts
    * (width-16 words), quantile = smallest bucket whose cumulative count
    * crosses the rank, error ≤ one bucket by construction. Integer-only,
    * so the oracle is exact; the shuffle carries (source, bucket)
    * counts, never documents.
    */
  def lengthQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("source", s"size(split(text, ' ')) div $QBucket as bucket")
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("source").orderBy("bucket")
    h.withColumn("cum", sum(col("n")).over(w))
      .withColumn("total", sum(col("n")).over(Window.partitionBy("source")))
      .groupBy("source")
      .agg(
        max(col("total")).cast("long").as("n_docs"),
        min(when(col("cum") * 2 >= col("total"), col("bucket"))).as("b50"),
        min(when(col("cum") * 10 >= col("total") * 9, col("bucket"))).as("b90"))
      .selectExpr("source", "n_docs",
        s"cast((b50 + 1) * $QBucket as long) as p50_words_hi",
        s"cast((b90 + 1) * $QBucket as long) as p90_words_hi")
  }

  val lengthQuantilesSql: String =
    s"""WITH b AS (SELECT source, len(string_split(text, ' ')) // $QBucket AS bucket
      |           FROM documents),
      |h AS (SELECT source, bucket, count(*) AS n FROM b GROUP BY source, bucket),
      |c AS (SELECT source, bucket, n,
      |        sum(n) OVER (PARTITION BY source ORDER BY bucket) AS cum,
      |        sum(n) OVER (PARTITION BY source) AS total
      |      FROM h)
      |SELECT source, CAST(max(total) AS BIGINT) AS n_docs,
      |  CAST((min(CASE WHEN cum * 2 >= total THEN bucket END) + 1) * $QBucket AS BIGINT) AS p50_words_hi,
      |  CAST((min(CASE WHEN cum * 10 >= total * 9 THEN bucket END) + 1) * $QBucket AS BIGINT) AS p90_words_hi
      |FROM c GROUP BY source""".stripMargin

  /** CMS MERGEABILITY under the gate — the property that makes sketches
    * the right answer on a 1000-executor cluster: count-min counter
    * tables are cell-wise ADDITIVE, so each executor (here: each corpus
    * half, split on doc_id parity) sketches its shard independently and
    * the coordinator merges by summing cells — no re-scan, no loss. The
    * merged estimates are IDENTICAL (not approximately equal) to the
    * single-pass sketch's, so the oracle is the same whole-corpus CMS
    * the single-pass query uses: any cell the merge dropped, doubled,
    * or misaligned shifts some term's min and fails the hash.
    *
    * Scale shape: two partial-agg'd counter builds of 192 cells each,
    * one 192-row union+sum, broadcast back to the vocab join — the
    * fan-in is constant-size regardless of corpus size.
    */
  def cmsMerge(spark: SparkSession, dir: String): DataFrame = {
    val occ = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id", "explode(split(text, ' ')) as w")
      .where("length(w) > 0")
    // per-shard vocab counts (one scan, checkpointed), then two
    // independent shard sketches merged by cell-wise addition
    val vocabByHalf = occ.groupBy(expr("doc_id % 2").as("half"), col("w"))
      .agg(count(lit(1)).cast("long").as("n"))
      .localCheckpoint(true)
    def shardCounters(half: Int): DataFrame =
      cmsBucketed(vocabByHalf.where(s"half = $half"), Seq("n"))
        .groupBy("sz", "b").agg(sum(col("n")).as("cnt"))
    val merged = shardCounters(0).unionByName(shardCounters(1))
      .groupBy("sz", "b").agg(sum(col("cnt")).as("cnt"))
    val vocab = vocabByHalf.groupBy("w").agg(sum(col("n")).as("true_n"))
    cmsBucketed(vocab, Seq("w", "true_n"))
      .join(broadcast(merged), Seq("sz", "b"))
      .groupBy("w", "true_n")
      .agg(min("cnt").cast("long").as("est_n"))
      .selectExpr("w", "cast(true_n as long) as true_n", "est_n")
  }

  /** Merged-sketch estimates ≡ single-pass estimates (additivity), so
    * the oracle is the whole-corpus sketch.
    */
  val cmsMergeSql: String = heavyHittersCmsSql

  /** Mergeable quantile summary: per-shard power-of-two histograms
    * (bucket = bit-length of the token count — 30 cells cover any
    * document) merged by cell-wise addition, then read at p50/p90/p99.
    * This is the third mergeable-summary leg next to [[cmsMerge]]
    * (frequencies) and the distinct sketch (cardinality): an exact
    * global quantile needs a global sort, so a 1000-executor job ships
    * per-executor histograms and answers from the merge — bounded
    * error (the bucket's [2^(b−1), 2^b−1] range), constant fan-in. The
    * corpus splits on doc_id parity; each half aggregates its own
    * histogram and the merge is a union+sum — identical, not
    * approximately equal, to the single-pass histogram, which is what
    * the oracle computes. Quantile rule: smallest bucket whose running
    * cumulative count reaches ceil(q·N), every comparison integral.
    */
  def quantileMerge(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id",
        "cast(length(bin(size(split(text, ' ')))) as long) as bucket")
      .localCheckpoint(true)
    def half(h: Int): DataFrame =
      d.where(s"doc_id % 2 = $h").groupBy("bucket")
        .agg(count(lit(1)).cast("long").as("n"))
    val merged = half(0).unionByName(half(1))
      .groupBy("bucket").agg(sum("n").cast("long").as("n"))
    val cum = merged
      .withColumn("cum", sum("n").over(
        org.apache.spark.sql.expressions.Window.orderBy("bucket")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("n_total", sum("n").over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    spark.createDataFrame(Seq(Tuple1(50L), Tuple1(90L), Tuple1(99L))).toDF("q_pct")
      .crossJoin(cum)
      .where(expr("cum * 100 >= q_pct * n_total"))
      .groupBy("q_pct")
      .agg(min("bucket").as("bucket"), max("n_total").as("n_total"))
      .selectExpr("q_pct", "bucket",
        "cast(shiftleft(1L, cast(bucket - 1 as int)) as long) as lo",
        "cast(shiftleft(1L, cast(bucket as int)) - 1 as long) as hi",
        "cast(n_total as long) as n_total")
  }

  val quantileMergeSql: String =
    """WITH d AS (SELECT CAST(length(bin(len(string_split(text, ' ')))) AS BIGINT) AS bucket
      |  FROM documents),
      |h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY bucket),
      |c AS (SELECT bucket, n,
      |    sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(n) OVER () AS n_total
      |  FROM h),
      |q AS (SELECT unnest([50, 90, 99]) AS q_pct)
      |SELECT CAST(q_pct AS BIGINT) AS q_pct,
      |  CAST(min(bucket) AS BIGINT) AS bucket,
      |  CAST(2 ** (min(bucket) - 1) AS BIGINT) AS lo,
      |  CAST(2 ** min(bucket) - 1 AS BIGINT) AS hi,
      |  CAST(max(n_total) AS BIGINT) AS n_total
      |FROM q JOIN c ON c.cum * 100 >= q.q_pct * c.n_total
      |GROUP BY q_pct""".stripMargin

  /** KLL-family quantile sketch under the gate (r4 ask #5 — the upgrade
    * from [[quantileMerge]]'s power-of-two histogram, whose error is the
    * bucket width, to a sketch with a TUNABLE provable rank bound):
    * [[graft.kernels.KllKernel]] — deterministic keep-odd-ranks
    * compactors, capacity c=32 (ε ≈ 2/c), integer-exact throughout.
    * The corpus splits on doc_id parity; each half builds its sketch,
    * the halves merge (concatenate + re-cascade), and a single-pass
    * sketch builds alongside. Per (path, percentile) the output carries
    * the estimate, the EXACT compaction-tracked rank bound B, the true
    * ranks of the estimate, and `within_bound` = (true(≤e) ≥ r−B AND
    * true(<e) ≤ r−1) — the provable one-sided KLL guarantee, gated on
    * BOTH paths. The merge invariant that is exactly preserved is total
    * weight (`n_total` ≡ n on both paths — compaction is
    * weight-preserving); the estimates themselves may differ between
    * paths by design and both must stay inside the bound. The oracle
    * replays all three cascades (half0, half1, merged) plus the
    * single-pass one as unrolled MATERIALIZED CTE steps — one potential
    * compaction per level, the kernel's exact rule — and recomputes B
    * from the replay states.
    *
    * Scale shape: per-shard sketch build + constant-size merge fan-in,
    * like [[cmsMerge]]; a production job builds per-partition sketches
    * with streaming inserts — the deterministic 2-shard split is the
    * oracle-replayable stand-in, and merge cost is O(c·levels)
    * regardless of corpus size.
    */
  def kllQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.kernels.KllKernel
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id", "cast(n_chars as long) as v")
      .as[(Long, Long)]
    // per-shard sketch build: one task per deterministic shard
    val shards = base
      .groupByKey { case (d, _) => (d % 2).toInt }
      .mapGroups { (h, it) =>
        val s = KllKernel.build(it.map(_._2))
        (h, KllKernel.toPairs(s), s.bound)
      }
      .collect()
      .sortBy(_._1)
      .map { case (_, pairs, b) => KllKernel.fromPairs(pairs, b) }
    val merged = shards.reduce(KllKernel.merge)
    val single = {
      val s = base.groupByKey(_ => 0)
        .mapGroups((_, it) => { val sk = KllKernel.build(it.map(_._2)); (KllKernel.toPairs(sk), sk.bound) })
        .collect().head
      KllKernel.fromPairs(s._1, s._2)
    }
    val n = merged.totalWeight // weight-preserving ⇒ exactly the row count
    require(single.totalWeight == n, "compaction lost weight")
    val qs = Seq(10L, 50L, 90L, 99L)
    val ests = for {
      (path, sk) <- Seq("merged" -> merged, "single" -> single)
      q <- qs
    } yield {
      val r = (q * n + 99) / 100
      (path, q, KllKernel.estimate(sk, r), r, sk.bound)
    }
    // exact true ranks of the (≤8 distinct) estimates in one corpus pass
    val distinctEsts = ests.map(_._3).distinct.sorted
    val aggs = distinctEsts.flatMap(e => Seq(
      sum(when(col("v") <= e, 1L).otherwise(0L)).as(s"le_$e"),
      sum(when(col("v") < e, 1L).otherwise(0L)).as(s"lt_$e")))
    val row = base.toDF("doc_id", "v").agg(aggs.head, aggs.tail: _*).head()
    val out = ests.map { case (path, q, e, r, b) =>
      val le = row.getAs[Long](s"le_$e")
      val lt = row.getAs[Long](s"lt_$e")
      (path, q, e, n, b, le, lt, le >= r - b && lt <= r - 1)
    }
    out.toDF("path", "q_pct", "est_v", "n_total", "rank_bound",
      "true_rank_le", "true_rank_lt", "within_bound")
  }

  val kllQuantilesSql: String = {
    import graft.kernels.KllKernel.{C, LMax}
    def cascadeCtes(name: String, init: String): String = {
      val head = s"${name}_0 AS MATERIALIZED ($init)"
      val steps = (0 until LMax).map { k =>
        s"""${name}_${k + 1} AS MATERIALIZED (
          |  SELECT v, CASE WHEN lvl = $k AND m > $C AND rn <= m - m % 2 THEN lvl + 1 ELSE lvl END AS lvl
          |  FROM (SELECT v, lvl, row_number() OVER (PARTITION BY lvl ORDER BY v) AS rn,
          |               count(*) OVER (PARTITION BY lvl) AS m FROM ${name}_$k)
          |  WHERE lvl <> $k OR m <= $C OR rn > m - m % 2 OR rn % 2 = 1)""".stripMargin
      }
      (head +: steps).mkString(",\n")
    }
    def bExpr(name: String): String =
      (0 until LMax).map { k =>
        s"(CASE WHEN (SELECT count(*) FROM ${name}_$k WHERE lvl = $k) > $C THEN ${1L << k} ELSE 0 END)"
      }.mkString(" + ")
    s"""WITH base AS MATERIALIZED (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_chars AS BIGINT) AS v FROM documents),
      |${cascadeCtes("h0", "SELECT v, 0 AS lvl FROM base WHERE doc_id % 2 = 0")},
      |${cascadeCtes("h1", "SELECT v, 0 AS lvl FROM base WHERE doc_id % 2 = 1")},
      |${cascadeCtes("mg", s"SELECT v, lvl FROM h0_$LMax UNION ALL SELECT v, lvl FROM h1_$LMax")},
      |${cascadeCtes("sg", "SELECT v, 0 AS lvl FROM base")},
      |bounds AS MATERIALIZED (
      |  SELECT 'merged' AS path, (${bExpr("h0")}) + (${bExpr("h1")}) + (${bExpr("mg")}) AS b
      |  UNION ALL SELECT 'single', (${bExpr("sg")})),
      |sk AS (SELECT 'merged' AS path, v, CAST(sum(1::BIGINT << lvl) AS BIGINT) AS w FROM mg_$LMax GROUP BY v
      |  UNION ALL SELECT 'single', v, CAST(sum(1::BIGINT << lvl) AS BIGINT) AS w FROM sg_$LMax GROUP BY v),
      |cumw AS (SELECT path, v, sum(w) OVER (PARTITION BY path ORDER BY v ROWS UNBOUNDED PRECEDING) AS cw FROM sk),
      |n AS (SELECT count(*) AS n_total FROM base),
      |q AS (SELECT unnest([10, 50, 90, 99]) AS q_pct),
      |tgt AS (SELECT path, q_pct, (q_pct * n_total + 99) // 100 AS r, n_total
      |  FROM q CROSS JOIN n CROSS JOIN (SELECT DISTINCT path FROM sk)),
      |e AS (SELECT t.path, t.q_pct, t.r, t.n_total, min(c.v) AS est_v
      |  FROM tgt t JOIN cumw c ON c.path = t.path AND c.cw >= t.r GROUP BY 1, 2, 3, 4),
      |tr AS (SELECT e.path, e.q_pct, e.r, e.n_total, e.est_v,
      |    (SELECT count(*) FROM base WHERE v <= e.est_v) AS true_le,
      |    (SELECT count(*) FROM base WHERE v < e.est_v) AS true_lt
      |  FROM e)
      |SELECT tr.path, CAST(tr.q_pct AS BIGINT) AS q_pct, CAST(tr.est_v AS BIGINT) AS est_v,
      |  CAST(tr.n_total AS BIGINT) AS n_total, CAST(b.b AS BIGINT) AS rank_bound,
      |  CAST(tr.true_le AS BIGINT) AS true_rank_le, CAST(tr.true_lt AS BIGINT) AS true_rank_lt,
      |  (tr.true_le >= tr.r - b.b AND tr.true_lt <= tr.r - 1) AS within_bound
      |FROM tr JOIN bounds b ON b.path = tr.path""".stripMargin
  }

  /** HyperLogLog register table (Flajolet et al. 2007) over the corpus'
    * distinct text fingerprints — THE mergeable distinct-count
    * structure at 10^12 rows: 64 fixed registers, register j holding
    * max over items of rho (1-based position of the first 1-bit in the
    * item's hash suffix). Everything is exact integer hex arithmetic on
    * the shared lowercase-md5, so the oracle replays it bit-for-bit:
    * reg = first hash byte mod 64, rho from the 56-bit suffix via
    * leading-zero count (regexp on '^0*' + a nibble CASE — identical
    * text both engines). The merge law (register-wise max) is exposed
    * AS DATA: per register, the doc_id-parity half-sketches and their
    * max, with `merge_ok` comparing against the single-pass register —
    * the same shipped invariant [[cmsMerge]] and [[quantileMerge]]
    * carry. `est_term` = 2^(32−min(rho,32)) is the exact integer
    * numerator of the raw harmonic estimate (Σ terms / 64² scaling and
    * bias correction are driver-side float work on 64 rows).
    *
    * 100 TB shape: one partial-agg'd shuffle on a 64-value key; the
    * map side reduces every partition to ≤64 (reg, rho) rows before the
    * exchange — text and hashes never ride. Adding a grouping column
    * (source, shard) makes it the per-stratum cardinality table.
    */
  def hllRegisters(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("md5(cast(text as binary)) as h", "cast(doc_id % 2 as int) as half")
      .selectExpr(
        "cast(conv(substring(h, 1, 2), 16, 10) as long) % 64 as reg",
        "substring(h, 3, 14) as sub", "half")
      .selectExpr("reg", "half",
        "length(regexp_extract(sub, '^0*', 0)) as nz", "sub")
      .selectExpr("reg", "half",
        """cast(case when nz = length(sub) then 4 * length(sub) + 1
          |  else 4 * nz + (case when substring(sub, nz + 1, 1) = '1' then 3
          |                      when substring(sub, nz + 1, 1) in ('2', '3') then 2
          |                      when substring(sub, nz + 1, 1) in ('4', '5', '6', '7') then 1
          |                      else 0 end) + 1 end as long) as rho""".stripMargin)
      .groupBy("reg")
      .agg(count(lit(1)).cast("long").as("n_items"),
        max(col("rho")).as("rho_max"),
        coalesce(max(when(col("half") === 0, col("rho"))), lit(0L)).as("rho_even"),
        coalesce(max(when(col("half") === 1, col("rho"))), lit(0L)).as("rho_odd"))
      .selectExpr("reg", "n_items", "rho_max", "rho_even", "rho_odd",
        "greatest(rho_even, rho_odd) = rho_max as merge_ok",
        "shiftleft(1L, cast(32 - least(rho_max, 32L) as int)) as est_term")

  val hllRegistersSql: String =
    """WITH i AS (SELECT md5(text) AS h, CAST(doc_id % 2 AS INT) AS half FROM documents),
      |p AS (SELECT CAST(('0x' || substr(h, 1, 2))::INT % 64 AS BIGINT) AS reg,
      |    substr(h, 3, 14) AS sub, half FROM i),
      |z AS (SELECT reg, half, len(regexp_extract(sub, '^0*')) AS nz, sub FROM p),
      |r AS (SELECT reg, half,
      |    CAST(CASE WHEN nz = len(sub) THEN 4 * len(sub) + 1
      |      ELSE 4 * nz + (CASE WHEN substr(sub, nz + 1, 1) = '1' THEN 3
      |                          WHEN substr(sub, nz + 1, 1) IN ('2', '3') THEN 2
      |                          WHEN substr(sub, nz + 1, 1) IN ('4', '5', '6', '7') THEN 1
      |                          ELSE 0 END) + 1 END AS BIGINT) AS rho
      |  FROM z),
      |a AS (SELECT reg, CAST(count(*) AS BIGINT) AS n_items,
      |    CAST(max(rho) AS BIGINT) AS rho_max,
      |    CAST(coalesce(max(CASE WHEN half = 0 THEN rho END), 0) AS BIGINT) AS rho_even,
      |    CAST(coalesce(max(CASE WHEN half = 1 THEN rho END), 0) AS BIGINT) AS rho_odd
      |  FROM r GROUP BY reg)
      |SELECT reg, n_items, rho_max, rho_even, rho_odd,
      |  greatest(rho_even, rho_odd) = rho_max AS merge_ok,
      |  CAST(1::BIGINT << CAST(32 - least(rho_max, 32) AS INT) AS BIGINT) AS est_term
      |FROM a""".stripMargin

  /** Cross-crawl overlap via HyperLogLog inclusion–exclusion — the
    * sketch-level answer to "how much of crawl B did crawl A already
    * have" when neither side can afford the exact digest join: two
    * planted crawls (A = doc_id % 3 ≠ 0, B = doc_id % 2 ≠ 0) share one
    * register table (per-register max rho per side, exactly as
    * [[hllRegisters]]), union merges by register max, and
    * |A∩B| ≈ E(A) + E(B) − E(A∪B). The raw Flajolet HLL estimator is
    * computed from EXACT integer scaled terms (Σ 2^(32−rho) as BIGINT,
    * empty registers contributing 2^32), so the only float is the final
    * shared formula — alongside the EXACT set sizes, making the row a
    * calibration audit (estimate vs truth) as well as an operator test.
    *
    * 100 TB shape: the register table is the entire shuffled state
    * (m = 64 rows per side, mergeable by max) — the whole point of the
    * sketch; exact counts here ride the same one-row audit aggregate.
    */
  def hllOverlap(spark: SparkSession, dir: String): DataFrame = {
    val regs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("md5(cast(text as binary)) as h",
        "doc_id % 3 != 0 as in_a", "doc_id % 2 != 0 as in_b")
      .selectExpr(
        "cast(conv(substring(h, 1, 2), 16, 10) as long) % 64 as reg",
        "substring(h, 3, 14) as sub", "in_a", "in_b")
      .selectExpr("reg", "in_a", "in_b",
        "length(regexp_extract(sub, '^0*', 0)) as nz", "sub")
      .selectExpr("reg", "in_a", "in_b",
        """cast(case when nz = length(sub) then 4 * length(sub) + 1
          |  else 4 * nz + (case when substring(sub, nz + 1, 1) = '1' then 3
          |                      when substring(sub, nz + 1, 1) in ('2', '3') then 2
          |                      when substring(sub, nz + 1, 1) in ('4', '5', '6', '7') then 1
          |                      else 0 end) + 1 end as long) as rho""".stripMargin)
      .groupBy("reg")
      .agg(
        coalesce(max(when(col("in_a"), col("rho"))), lit(0L)).as("rho_a"),
        coalesce(max(when(col("in_b"), col("rho"))), lit(0L)).as("rho_b"))
      .selectExpr("reg", "rho_a", "rho_b", "greatest(rho_a, rho_b) as rho_u")
    val full = spark.range(64).toDF("reg")
      .join(regs, Seq("reg"), "left")
      .selectExpr(
        "shiftleft(1L, cast(32 - least(coalesce(rho_a, 0L), 32L) as int)) as t_a",
        "shiftleft(1L, cast(32 - least(coalesce(rho_b, 0L), 32L) as int)) as t_b",
        "shiftleft(1L, cast(32 - least(coalesce(rho_u, 0L), 32L) as int)) as t_u")
      .agg(sum("t_a").cast("long").as("s_a"), sum("t_b").cast("long").as("s_b"),
        sum("t_u").cast("long").as("s_u"))
    val exact = spark.read.parquet(s"$dir/documents.parquet")
      .agg(
        expr("cast(sum(case when doc_id % 3 != 0 then 1 else 0 end) as long) as n_a"),
        expr("cast(sum(case when doc_id % 2 != 0 then 1 else 0 end) as long) as n_b"),
        expr("cast(sum(case when doc_id % 3 != 0 or doc_id % 2 != 0 then 1 else 0 end) as long) as n_union"),
        expr("cast(sum(case when doc_id % 3 != 0 and doc_id % 2 != 0 then 1 else 0 end) as long) as n_inter"))
    val alpha = "0.7213D / (1.0D + 1.079D / 64.0D) * 4096.0D * 4294967296.0D"
    exact.crossJoin(broadcast(full))
      .selectExpr("n_a", "n_b", "n_union", "n_inter",
        s"round($alpha / cast(s_a as double), 6) as est_a",
        s"round($alpha / cast(s_b as double), 6) as est_b",
        s"round($alpha / cast(s_u as double), 6) as est_union",
        s"""round($alpha / cast(s_a as double) + $alpha / cast(s_b as double)
           |  - $alpha / cast(s_u as double), 6) as est_inter""".stripMargin)
  }

  val hllOverlapSql: String = {
    val alpha = "0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 64.0::DOUBLE) * 4096.0::DOUBLE * 4294967296.0::DOUBLE"
    s"""WITH i AS (SELECT md5(text) AS h, doc_id % 3 <> 0 AS in_a, doc_id % 2 <> 0 AS in_b
      |  FROM documents),
      |p AS (SELECT CAST(('0x' || substr(h, 1, 2))::INT % 64 AS BIGINT) AS reg,
      |    substr(h, 3, 14) AS sub, in_a, in_b FROM i),
      |z AS (SELECT reg, in_a, in_b, len(regexp_extract(sub, '^0*')) AS nz, sub FROM p),
      |r AS (SELECT reg, in_a, in_b,
      |    CAST(CASE WHEN nz = len(sub) THEN 4 * len(sub) + 1
      |      ELSE 4 * nz + (CASE WHEN substr(sub, nz + 1, 1) = '1' THEN 3
      |                          WHEN substr(sub, nz + 1, 1) IN ('2', '3') THEN 2
      |                          WHEN substr(sub, nz + 1, 1) IN ('4', '5', '6', '7') THEN 1
      |                          ELSE 0 END) + 1 END AS BIGINT) AS rho
      |  FROM z),
      |a AS (SELECT reg,
      |    CAST(coalesce(max(CASE WHEN in_a THEN rho END), 0) AS BIGINT) AS rho_a,
      |    CAST(coalesce(max(CASE WHEN in_b THEN rho END), 0) AS BIGINT) AS rho_b
      |  FROM r GROUP BY reg),
      |allr AS (SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS reg),
      |t AS (SELECT
      |    1::BIGINT << CAST(32 - least(coalesce(rho_a, 0), 32) AS INT) AS t_a,
      |    1::BIGINT << CAST(32 - least(coalesce(rho_b, 0), 32) AS INT) AS t_b,
      |    1::BIGINT << CAST(32 - least(coalesce(greatest(rho_a, rho_b), 0), 32) AS INT) AS t_u
      |  FROM allr LEFT JOIN a USING (reg)),
      |s AS (SELECT CAST(sum(t_a) AS BIGINT) AS s_a, CAST(sum(t_b) AS BIGINT) AS s_b,
      |    CAST(sum(t_u) AS BIGINT) AS s_u FROM t),
      |e AS (SELECT
      |    CAST(sum(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN doc_id % 3 <> 0 OR doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_union,
      |    CAST(sum(CASE WHEN doc_id % 3 <> 0 AND doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inter
      |  FROM documents)
      |SELECT n_a, n_b, n_union, n_inter,
      |  round($alpha / CAST(s_a AS DOUBLE), 6) AS est_a,
      |  round($alpha / CAST(s_b AS DOUBLE), 6) AS est_b,
      |  round($alpha / CAST(s_u AS DOUBLE), 6) AS est_union,
      |  round($alpha / CAST(s_a AS DOUBLE) + $alpha / CAST(s_b AS DOUBLE)
      |    - $alpha / CAST(s_u AS DOUBLE), 6) AS est_inter
      |FROM e CROSS JOIN s""".stripMargin
  }

  def registry: Map[String, Gated] = Map(
    "q_hll_registers" -> Gated(hllRegisters(_, _), hllRegistersSql),
    "q_hll_overlap" -> Gated(hllOverlap(_, _), hllOverlapSql),
    "q_kll_quantiles" -> Gated(kllQuantiles(_, _), kllQuantilesSql),
    "q_cms_merge" -> Gated(cmsMerge(_, _), cmsMergeSql),
    "q_quantile_merge" -> Gated(quantileMerge(_, _), quantileMergeSql),
    "q_distinct_sketch" -> Gated(distinctSketch(_, _), distinctSketchSql),
    "q_heavy_hitters_cms" -> Gated(heavyHittersCms(_, _), heavyHittersCmsSql),
    "q_bloom_seen" -> Gated(bloomSeen(_, _), bloomSeenSql),
    "q_length_quantiles" -> Gated(lengthQuantiles(_, _), lengthQuantilesSql))
}
