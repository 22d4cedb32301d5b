package graft.ops

import graft.Gated
import graft.ops.TextOps.docs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline: exact (hash
  * groupBy), n-gram Jaccard, MinHash+LSH (shingle → minhash → band →
  * bucket join), SimHash. Each has a DuckDB oracle.
  *
  * Hash portability: signatures use min-over-md5-hex STRINGS (min of a
  * lexicographic order is engine-portable), never engine-specific 64-bit
  * hashes — the same trick makes the oracle exact instead of statistical.
  *
  * Scale notes per operator are on each method; the LSH bucket join is the
  * 100 TB path (shuffle on (band, key) buckets), the pairwise Jaccard is
  * intentionally group-bounded.
  */
object DedupOps {

  // ------------------------------------------------------------ exact dedup

  /** Exact dedup: one shuffle on the content hash; keeper = min doc_id.
    * At 100 TB this is the cheapest dedup pass (map-side partial agg on
    * the 32-byte hash, never on the text).
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).cast("long").as("keeper"))

  val exactSql: String =
    """SELECT md5(text) AS fp, CAST(count(*) AS BIGINT) AS n_dups,
      |  CAST(min(doc_id) AS BIGINT) AS keeper
      |FROM documents GROUP BY md5(text)""".stripMargin

  // --------------------------------------------------------- n-gram jaccard

  /** Pairwise token-set Jaccard within a (source, length-bucket) block —
    * the compound blocking key bounds the quadratic blowup (near-dups have
    * near-equal lengths, so a length bucket is a sound blocking heuristic);
    * at scale the blocking key would be an LSH bucket, which is exactly
    * the next operator.
    */
  def jaccard(spark: SparkSession, dir: String): DataFrame = {
    val sets = docs(spark, dir).selectExpr(
      "cast(doc_id as long) as doc_id",
      "concat(source, '#', cast(cast(floor(n_chars / 100.0) as long) as string)) as blk",
      "array_distinct(split(text, ' ')) as ws")
    val a = sets.toDF("a_id", "blk", "a_ws")
    val b = sets.toDF("b_id", "b_blk", "b_ws")
    a.join(b, col("blk") === col("b_blk") && col("a_id") < col("b_id"))
      .withColumn("inter", size(array_intersect(col("a_ws"), col("b_ws"))))
      .withColumn("jac", round(
        col("inter").cast("double") /
          (size(col("a_ws")) + size(col("b_ws")) - col("inter")), 6))
      .filter(col("jac") >= 0.5)
      .select(col("a_id"), col("b_id"), col("jac"))
  }

  val jaccardSql: String =
    """WITH s AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    source || '#' || CAST(n_chars // 100 AS VARCHAR) AS blk,
      |    list_distinct(string_split(text, ' ')) AS ws FROM documents),
      |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    len(list_filter(a.ws, w -> list_contains(b.ws, w))) AS inter,
      |    len(a.ws) AS na, len(b.ws) AS nb
      |  FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id)
      |SELECT a_id, b_id, round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jac
      |FROM p WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) >= 0.5""".stripMargin

  // --------------------------------------------------------- dedup funnel

  /** URL→content dedup funnel — the release-ledger rollup a crawl
    * pipeline reports per snapshot: how many candidates survive each
    * normalization tier, in pipeline order: raw url → fragment strip →
    * tracking-param strip → full canonicalization (case + default-port
    * + trailing-slash fold) → content digest among the canon keepers
    * (url dedup first, content dedup among its survivors — each tier
    * count is monotonically non-increasing). URLs are planted
    * deterministically per doc (case/slash/utm/fragment variants over
    * a shared entity key) so every tier strictly bites at every SF.
    *
    * 100 TB shape: each tier is one distinct-count over a narrow
    * derived key (text never rides; the digest tier moves only the
    * keeper rows); the keeper pick is a (canon_url → min doc_id)
    * partial-agg'd shuffle — the same shape as [[exact]].
    */
  def dedupFunnel(spark: SparkSession, dir: String): DataFrame = {
    val u = docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id", "text",
        """concat(case when doc_id % 2 = 0 then 'HTTPS://Host-' else 'https://host-' end,
          |  cast(doc_id % 25 as string),
          |  case when doc_id % 2 = 0 then '.Example.com' else '.example.com' end,
          |  '/p/', cast(doc_id % 25 as string),
          |  case when doc_id % 3 = 0 then '/' else '' end,
          |  '?utm_term=t', cast(doc_id % 4 as string),
          |  '#v', cast(doc_id as string)) as raw_url""".stripMargin)
      .selectExpr("doc_id", "text", "raw_url",
        "regexp_replace(raw_url, '#.*$', '') as nofrag")
      .selectExpr("doc_id", "text", "raw_url", "nofrag",
        "regexp_replace(regexp_replace(nofrag, 'utm_[^&#]*&', ''), '[?&]utm_[^&#]*$', '') as notrack")
      .selectExpr("doc_id", "text", "raw_url", "nofrag", "notrack",
        "regexp_replace(lower(notrack), '/$', '') as canon")
      .localCheckpoint(true)
    def tier(n: Int, stage: String, c: String): DataFrame =
      u.agg(expr(s"count(distinct $c)").cast("long").as("survivors"))
        .selectExpr(s"cast($n as bigint) as tier", s"'$stage' as stage", "survivors")
    val digest = u.groupBy("canon")
      .agg(expr("min_by(text, doc_id) as keeper_text"))
      .agg(expr("count(distinct md5(keeper_text))").cast("long").as("survivors"))
      .selectExpr("cast(5 as bigint) as tier", "'content_digest' as stage", "survivors")
    tier(1, "raw_url", "raw_url")
      .unionByName(tier(2, "fragment_strip", "nofrag"))
      .unionByName(tier(3, "tracking_strip", "notrack"))
      .unionByName(tier(4, "canonical", "canon"))
      .unionByName(digest)
  }

  val dedupFunnelSql: String =
    """WITH u AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://Host-' ELSE 'https://host-' END)
      |      || CAST(doc_id % 25 AS VARCHAR)
      |      || (CASE WHEN doc_id % 2 = 0 THEN '.Example.com' ELSE '.example.com' END)
      |      || '/p/' || CAST(doc_id % 25 AS VARCHAR)
      |      || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
      |      || '?utm_term=t' || CAST(doc_id % 4 AS VARCHAR)
      |      || '#v' || CAST(doc_id AS VARCHAR) AS raw_url
      |  FROM documents),
      |u2 AS (SELECT *, regexp_replace(raw_url, '#.*$', '') AS nofrag FROM u),
      |u3 AS (SELECT *, regexp_replace(regexp_replace(nofrag, 'utm_[^&#]*&', ''),
      |    '[?&]utm_[^&#]*$', '') AS notrack FROM u2),
      |u4 AS (SELECT *, regexp_replace(lower(notrack), '/$', '') AS canon FROM u3),
      |keepers AS (SELECT canon, arg_min(text, doc_id) AS keeper_text FROM u4 GROUP BY canon)
      |SELECT CAST(1 AS BIGINT) AS tier, 'raw_url' AS stage,
      |  CAST(count(DISTINCT raw_url) AS BIGINT) AS survivors FROM u4
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), 'fragment_strip', CAST(count(DISTINCT nofrag) AS BIGINT) FROM u4
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), 'tracking_strip', CAST(count(DISTINCT notrack) AS BIGINT) FROM u4
      |UNION ALL
      |SELECT CAST(4 AS BIGINT), 'canonical', CAST(count(DISTINCT canon) AS BIGINT) FROM u4
      |UNION ALL
      |SELECT CAST(5 AS BIGINT), 'content_digest', CAST(count(DISTINCT md5(keeper_text)) AS BIGINT)
      |FROM keepers""".stripMargin

  // ---------------------------------------------------- shingle containment

  /** Posting-list cap for [[shingleContainment]]'s candidate stage —
    * same role as [[DefaultBucketCap]]: a shingle shared by more than
    * this many documents is boilerplate (it would emit df² candidate
    * pairs) and is excluded from candidate GENERATION (never from the
    * exact verify — the intersection is computed over the full shingle
    * sets of every surviving pair). Far above any test-SF posting list,
    * so oracle rows are unchanged at test scale.
    */
  val ContainmentDfCap = 1000

  /** Broder containment dedup (Broder 1997's second resemblance
    * measure): C = |S(A)∩S(B)| / min(|S(A)|,|S(B)|) over distinct
    * 3-word shingles — the detector for SUBSET duplication (a quote
    * page, a scrape wrapped in new chrome) that symmetric Jaccard
    * misses: a verbatim 8-word quote inside a 60-word donor scores
    * containment ≈ 0.75 but Jaccard ≈ 0.10. Quote plants (every 37th
    * doc donates its first 8 words + 2 new words as a derived doc)
    * make the high-containment band value-bearing at every SF.
    *
    * 100 TB shape: candidates come from an inverted shingle index
    * (explode → df-capped self-equi-join on the shingle key — the
    * df cap bounds the per-posting pair fanout, [[ContainmentDfCap]]),
    * then the EXACT intersection runs only on surviving pairs via an
    * equi-join back to the per-doc distinct-shingle arrays. Raw text
    * never shuffles — shingle strings and bounded arrays do.
    */
  def shingleContainment(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id", "split(text, ' ') as ws")
    val quotes = base.where("doc_id % 37 = 0 and size(ws) >= 12")
      .selectExpr("doc_id + 1000000 as doc_id",
        "concat(slice(ws, 1, 8), array('quoted', 'passage')) as ws")
    val sh = base.unionByName(quotes)
      .selectExpr("doc_id",
        """array_distinct(case when size(ws) >= 3
          |  then transform(sequence(1, size(ws) - 2),
          |    i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1), ' ', element_at(ws, i + 2)))
          |  else cast(array() as array<string>) end) as sh""".stripMargin)
      .localCheckpoint(true)
    val long = sh.selectExpr("doc_id", "explode(sh) as g")
    val keep = long.groupBy("g").agg(count(lit(1)).as("df"))
      .where(s"df <= $ContainmentDfCap").select("g")
    val lf = long.join(keep, Seq("g"))
    val cand = lf.toDF("g", "a_id")
      .join(lf.toDF("g", "b_id"), Seq("g"))
      .where("a_id < b_id")
      .select("a_id", "b_id").distinct()
    cand
      .join(sh.toDF("a_id", "a_sh"), Seq("a_id"))
      .join(sh.toDF("b_id", "b_sh"), Seq("b_id"))
      .selectExpr("a_id", "b_id",
        "cast(size(array_intersect(a_sh, b_sh)) as long) as inter",
        "cast(least(size(a_sh), size(b_sh)) as long) as n_small",
        "cast(size(a_sh) + size(b_sh) as long) as n_sum")
      .selectExpr("a_id", "b_id", "inter", "n_small",
        "round(cast(inter as double) / n_small, 6) as containment",
        "round(cast(inter as double) / (n_sum - inter), 6) as jaccard")
      .where("containment >= 0.6")
      .select("a_id", "b_id", "inter", "n_small", "containment", "jaccard")
  }

  val shingleContainmentSql: String =
    s"""WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws
      |  FROM documents),
      |quotes AS (SELECT doc_id + 1000000 AS doc_id,
      |    list_concat(ws[1:8], ['quoted', 'passage']) AS ws
      |  FROM base WHERE doc_id % 37 = 0 AND len(ws) >= 12),
      |au AS (SELECT * FROM base UNION ALL SELECT * FROM quotes),
      |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
      |    THEN list_transform(range(1, len(ws) - 1),
      |      i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
      |    ELSE [] END) AS sh FROM au),
      |lg AS (SELECT doc_id, unnest(sh) AS g FROM sh),
      |keep AS (SELECT g FROM lg GROUP BY g HAVING count(*) <= $ContainmentDfCap),
      |lf AS (SELECT lg.doc_id, lg.g FROM lg JOIN keep USING (g)),
      |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM lf a JOIN lf b ON a.g = b.g AND a.doc_id < b.doc_id),
      |v AS (SELECT c.a_id, c.b_id,
      |    CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS BIGINT) AS inter,
      |    CAST(least(len(sa.sh), len(sb.sh)) AS BIGINT) AS n_small,
      |    CAST(len(sa.sh) + len(sb.sh) AS BIGINT) AS n_sum
      |  FROM cand c JOIN sh sa ON sa.doc_id = c.a_id JOIN sh sb ON sb.doc_id = c.b_id)
      |SELECT a_id, b_id, inter, n_small,
      |  round(CAST(inter AS DOUBLE) / n_small, 6) AS containment,
      |  round(CAST(inter AS DOUBLE) / (n_sum - inter), 6) AS jaccard
      |FROM v WHERE round(CAST(inter AS DOUBLE) / n_small, 6) >= 0.6""".stripMargin

  // ----------------------------------------------------------- minhash lsh

  private val K = 8 // minhash functions
  private val Bands = 4 // bands of 2 rows

  /** Default (band,key) bucket-size cap. A boilerplate-heavy bucket of m
    * members would emit m²/2 pairs; above the cap its members are
    * near-identical with overwhelming probability and belong to the
    * exact-dedup path instead, so the bucket is excluded from pair
    * expansion — never silently: [[lshBucketStats]] reports how many
    * buckets the cap bound. 1000 is far above any sf0.1 bucket, so the
    * oracle rows are unchanged at test scale.
    */
  val DefaultBucketCap = 1000

  /** Long-form (doc_id, band_no, bkey) LSH bucket membership.
    *
    * The whole signature is computed IN-ROW: shingle array →
    * `array_min(transform(...md5...))` per hash function — min over a
    * doc's shingles needs no explode, no distinct (min is
    * duplicate-insensitive), and no per-doc aggregation shuffle. The
    * first exchange in the entire LSH pipeline is therefore the
    * (band, key) bucket groupBy over 4 small rows per doc — at 100 TB
    * the raw text never shuffles.
    */
  private def lshLongForm(spark: SparkSession, dir: String): DataFrame = {
    // native single-pass minhash_bands expression (full doGenCode): one
    // walk over the shingles computing each salted digest straight into
    // a running 16-byte minimum — no shingle/hash array materialization.
    // Hex output orders identically to the digest bytes, so the band
    // keys (and the DuckDB oracle) are byte-identical to the
    // composed-builtins formulation.
    docs(spark, dir).selectExpr(
      "cast(doc_id as long) as doc_id",
      "minhash_bands(text) as bands")
      .select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band_no", "bkey")))
  }

  /** MinHash+LSH candidate pairs over 3-word shingles: shingle → K minhash
    * signatures (min over salted md5) → `Bands` band keys → shuffle on
    * (band, key) → pairs within a bucket. This is the scalable near-dup
    * path: cost is |docs|·K plus bucket-local pair expansion, never the
    * full pairwise cross product. Degenerate buckets larger than `cap`
    * are excluded BEFORE pair expansion (the count window shares the
    * (band_no, bkey) partitioning the join needs, so the guard costs no
    * extra exchange); [[lshBucketStats]] surfaces how many buckets were
    * capped so the truncation is observable.
    */
  def minhashLsh(spark: SparkSession, dir: String,
      cap: Int = DefaultBucketCap): DataFrame = {
    // ONE pass: aggregate each (band, key) bucket to its member list
    // (partial-agg'd groupBy — no sort window, no self-join, and the
    // expensive shingle→minhash lineage executes exactly once), drop
    // buckets over the cap, then expand the a<b pairs in-bucket. A doc
    // contributes one row per band, so members are distinct and the
    // sorted list makes a_id < b_id structural. The BOUNDED collector
    // (exact count + list capped at cap+1) keeps a degenerate
    // mega-bucket from materializing its full membership in one
    // aggregation buffer before the filter can drop it.
    lshLongForm(spark, dir)
      .groupBy(col("band_no"), col("bkey"))
      .agg(graft.functions.BoundedCollect.ids(cap)(col("doc_id")).as("c"))
      .filter(col("c.n") > 1 && col("c.n") <= cap)
      .select(sort_array(col("c.ids")).as("ids"))
      .selectExpr(
        """explode(flatten(transform(ids,
          |  (a, i) -> transform(slice(ids, i + 2, size(ids)),
          |            b -> struct(a as a_id, b as b_id))))) as p""".stripMargin)
      .select(col("p.a_id"), col("p.b_id"))
      .distinct()
  }

  /** Cap observability: bucket population of the LSH table — total
    * buckets, largest bucket, and how many buckets the default cap would
    * exclude from pair expansion. One row; the at-scale lineage metric
    * that keeps the cap from being silent truncation.
    */
  def lshBucketStats(spark: SparkSession, dir: String): DataFrame =
    lshLongForm(spark, dir)
      .groupBy(col("band_no"), col("bkey"))
      .agg(count(lit(1)).as("bsz"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("bsz")).as("max_bucket"),
        sum(when(col("bsz") > DefaultBucketCap, 1L).otherwise(0L)).as("buckets_capped"))

  private val lshLongFormSql: String = {
    val sigs = (1 to K).map(i => s"min(md5(s || '#$i')) AS h$i").mkString(", ")
    val bandDefs = (0 until Bands).map(b => s"h${2 * b + 1} || h${2 * b + 2} AS b$b").mkString(", ")
    val unpivot = (0 until Bands)
      .map(b => s"SELECT doc_id, $b AS band_no, b$b AS bkey FROM bands")
      .mkString("\n  UNION ALL ")
    s"""w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws FROM documents),
       |t AS (SELECT doc_id, generate_subscripts(ws, 1) AS ord, unnest(ws) AS wd FROM w),
       |sh AS (SELECT DISTINCT a.doc_id, a.wd || ' ' || b.wd || ' ' || c.wd AS s
       |  FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
       |           JOIN t c ON c.doc_id = a.doc_id AND c.ord = a.ord + 2),
       |sig AS (SELECT doc_id, $sigs FROM sh GROUP BY doc_id),
       |bands AS (SELECT doc_id, $bandDefs FROM sig),
       |lf AS ($unpivot)""".stripMargin
  }

  val minhashLshSql: String =
    s"""WITH $lshLongFormSql,
       |kept AS (SELECT doc_id, band_no, bkey FROM (
       |    SELECT doc_id, band_no, bkey,
       |      count(*) OVER (PARTITION BY band_no, bkey) AS bsz FROM lf)
       |  WHERE bsz <= $DefaultBucketCap)
       |SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |FROM kept x JOIN kept y
       |  ON x.band_no = y.band_no AND x.bkey = y.bkey AND x.doc_id < y.doc_id""".stripMargin

  val lshBucketStatsSql: String =
    s"""WITH $lshLongFormSql,
       |sz AS (SELECT band_no, bkey, count(*) AS bsz FROM lf GROUP BY band_no, bkey)
       |SELECT CAST(count(*) AS BIGINT) AS n_buckets,
       |  CAST(max(bsz) AS BIGINT) AS max_bucket,
       |  CAST(sum(CASE WHEN bsz > $DefaultBucketCap THEN 1 ELSE 0 END) AS BIGINT) AS buckets_capped
       |FROM sz""".stripMargin

  // --------------------------------------------------------------- simhash

  /** 16-bit SimHash: bit j = majority over the document's distinct words
    * of (md5(word) hex digit j >= '8'). Near-dup docs differ in few bits;
    * the fingerprint is engine-portable (hex chars, no integer hashing).
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    // in-row majority vote: per-doc distinct-word md5 array once, then
    // bit j = (#hashes with hex digit j >= '8') * 2 > n — a pure
    // projection, zero shuffle (the 100 TB shape: text never shuffles)
    val bits = (1 to 16).map(j =>
      expr(s"case when size(filter(hs, h -> substring(h, $j, 1) >= '8')) * 2 > size(hs) then '1' else '0' end"))
    docs(spark, dir).selectExpr(
      "cast(doc_id as long) as doc_id",
      "transform(array_distinct(split(text, ' ')), w -> md5(cast(w as binary))) as hs")
      .select(col("doc_id"), concat(bits: _*).as("simhash16"))
  }

  val simhashSql: String = {
    val sums = (1 to 16).map(j =>
      s"sum(CASE WHEN substr(h, $j, 1) >= '8' THEN 1 ELSE 0 END) AS c$j").mkString(", ")
    val bits = (1 to 16).map(j => s"CASE WHEN c$j * 2 > n THEN '1' ELSE '0' END").mkString(" || ")
    s"""WITH e AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    unnest(list_distinct(string_split(text, ' '))) AS w FROM documents),
       |h AS (SELECT doc_id, md5(w) AS h FROM e),
       |a AS (SELECT doc_id, count(*) AS n, $sums FROM h GROUP BY doc_id)
       |SELECT doc_id, $bits AS simhash16 FROM a""".stripMargin
  }


  /** SimHash near-dup pairing — the Manku-et-al table configuration: a
    * 64-BIT simhash split into 4 bands of 16 bits. By pigeonhole any
    * pair within hamming distance 3 shares a band, and a 16-bit band
    * value space (65536 buckets per band) keeps bucket populations — and
    * therefore pair expansion — tiny. (The first cut of this query
    * banded the 16-bit demo fingerprint into 4-bit values: 16 buckets
    * per band collapsed the corpus into a near-quadratic join, 240 s at
    * sf0.1. Band-value cardinality IS the scale knob.) Exact hamming
    * over the 64 bits verifies candidates at <= 3.
    */
  /** Long-form (doc_id, fp64, band_no, bits) simhash band membership:
    * 64-bit simhash (bit j = majority over distinct words of bit j of
    * the word's md5 — first 16 hex nibbles, MSB-first within nibble),
    * split into 4×16-bit bands. Shared by [[simhashPairs]] and
    * [[simhashBucketStats]].
    */
  private def simhashBandLongForm(spark: SparkSession, dir: String): DataFrame = {
    // single-pass native simhash64 expression (full doGenCode, one md5
    // per distinct word, all 64 counters in one scan) — like [[simhash]]
    // a pure projection with zero shuffle; the only exchange in the
    // simhash pipeline is the band-bucket groupBy. The kernel reproduces
    // the md5-hex bit math exactly, so the DuckDB oracle is untouched.
    val fp = docs(spark, dir).selectExpr(
      "cast(doc_id as long) as doc_id",
      "simhash64(text) as fp64")
    fp.selectExpr("doc_id", "fp64",
      "posexplode(array(substring(fp64, 1, 16), substring(fp64, 17, 16), " +
        "substring(fp64, 33, 16), substring(fp64, 49, 16))) as (band_no, bits)")
  }

  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val bands0 = simhashBandLongForm(spark, dir)
    // same degenerate-bucket guard as the MinHash path: a band bucket
    // larger than the cap means a mass of (near-)identical fingerprints
    // (boilerplate/small-vocab corpora) that belongs to exact dedup, not
    // m^2/2 pair expansion. Like minhashLsh, the bucket is aggregated to
    // its member list in one partial-agg'd pass — the 64-sum fingerprint
    // aggregation executes exactly once, no sort window, no self-join —
    // and pairs expand in-bucket from the sorted list (a_id < b_id
    // structural; sort_array on structs orders by doc_id first).
    // hamming as bit_count(xor) over two 32-bit halves (codegen'd integer
    // ops, not a 64-step string lambda), computed BEFORE the distinct so
    // the hamming<=3 filter shrinks the dedup input to the few real
    // near-dup pairs and the 64-char fingerprints never shuffle
    bands0.groupBy(col("band_no"), col("bits"))
      .agg(graft.functions.BoundedCollect.members(DefaultSimhashBucketCap)(
        col("doc_id"), col("fp64")).as("c"))
      .filter(col("c.n") > 1 && col("c.n") <= DefaultSimhashBucketCap)
      .select(sort_array(col("c.ms")).as("ms"))
      .selectExpr(
        """explode(flatten(transform(ms,
          |  (a, i) -> transform(slice(ms, i + 2, size(ms)),
          |            b -> struct(a.doc_id as a_id, b.doc_id as b_id,
          |                        a.fp64 as a_fp, b.fp64 as b_fp))))) as p""".stripMargin)
      .selectExpr("p.a_id as a_id", "p.b_id as b_id",
        """cast(bit_count(cast(conv(substring(p.a_fp, 1, 32), 2, 10) as bigint)
          |             ^ cast(conv(substring(p.b_fp, 1, 32), 2, 10) as bigint))
          |   + bit_count(cast(conv(substring(p.a_fp, 33, 32), 2, 10) as bigint)
          |             ^ cast(conv(substring(p.b_fp, 33, 32), 2, 10) as bigint)) as long) as hamming""".stripMargin)
      .filter(col("hamming") <= 3)
      .distinct()
  }

  /** Band-bucket cap for [[simhashPairs]] — small enough to bind on the
    * small-vocabulary synthetic corpus (whose fingerprints genuinely
    * collapse), large enough that realistic near-dup groups pass.
    */
  val DefaultSimhashBucketCap = 50

  /** Cap observability for the simhash band path (mirror of
    * [[lshBucketStats]]): bucket population of the band table — total
    * buckets, largest bucket, and how many buckets the cap excludes from
    * pair expansion — so the simhash truncation is never silent either.
    */
  def simhashBucketStats(spark: SparkSession, dir: String): DataFrame =
    simhashBandLongForm(spark, dir)
      .groupBy(col("band_no"), col("bits"))
      .agg(count(lit(1)).as("bsz"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("bsz")).as("max_bucket"),
        sum(when(col("bsz") > DefaultSimhashBucketCap, 1L).otherwise(0L)).as("buckets_capped"))

  /** Shared DuckDB CTE prefix producing `b0` = the simhash band long
    * form (doc_id, fp64, band_no, bits).
    */
  private val simhashBandLongFormSql: String = {
    val sums = (1 to 64).map { j =>
      val nib = (j - 1) / 4 + 1
      val p = 1 << (3 - ((j - 1) % 4))
      s"sum(((strpos('0123456789abcdef', substr(h, $nib, 1)) - 1) // $p) % 2) AS c$j"
    }.mkString(", ")
    val bits = (1 to 64).map(j => s"CASE WHEN c$j * 2 > n THEN '1' ELSE '0' END").mkString(" || ")
    s"""e AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    unnest(list_distinct(string_split(text, ' '))) AS w FROM documents),
       |hh AS (SELECT doc_id, md5(w) AS h FROM e),
       |a AS (SELECT doc_id, count(*) AS n, $sums FROM hh GROUP BY doc_id),
       |fp AS (SELECT doc_id, $bits AS fp64 FROM a),
       |b0 AS (SELECT doc_id, fp64, band_no, substr(fp64, band_no * 16 + 1, 16) AS bits
       |  FROM fp, (SELECT unnest(range(0, 4)) AS band_no))""".stripMargin
  }

  val simhashBucketStatsSql: String =
    s"""WITH $simhashBandLongFormSql,
       |sz AS (SELECT band_no, bits, count(*) AS bsz FROM b0 GROUP BY band_no, bits)
       |SELECT CAST(count(*) AS BIGINT) AS n_buckets,
       |  CAST(max(bsz) AS BIGINT) AS max_bucket,
       |  CAST(sum(CASE WHEN bsz > $DefaultSimhashBucketCap THEN 1 ELSE 0 END) AS BIGINT) AS buckets_capped
       |FROM sz""".stripMargin

  val simhashPairsSql: String = {
    s"""WITH $simhashBandLongFormSql,
       |b AS (SELECT doc_id, fp64, band_no, bits FROM (
       |    SELECT doc_id, fp64, band_no, bits,
       |      count(*) OVER (PARTITION BY band_no, bits) AS bsz FROM b0)
       |  WHERE bsz <= $DefaultSimhashBucketCap),
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
       |    x.fp64 AS a_fp, y.fp64 AS b_fp
       |  FROM b x JOIN b y ON x.band_no = y.band_no AND x.bits = y.bits
       |    AND x.doc_id < y.doc_id),
       |hm AS (SELECT a_id, b_id,
       |    list_sum(list_transform(range(1, 65),
       |      i -> CASE WHEN substr(a_fp, i, 1) = substr(b_fp, i, 1) THEN 0 ELSE 1 END)) AS hamming
       |  FROM cand)
       |SELECT a_id, b_id, CAST(hamming AS BIGINT) AS hamming
       |FROM hm WHERE hamming <= 3""".stripMargin
  }

  // ------------------------------------------- LSH candidate verification

  /** Candidate-verification stage of the LSH pipeline: for every
    * MinHash+LSH candidate pair, compute the TRUE token-set Jaccard and
    * classify (the accept/reject pass that follows blocking at scale —
    * candidates are tiny relative to the corpus, so the exact measure is
    * affordable exactly here and nowhere else).
    */
  def lshVerify(spark: SparkSession, dir: String): DataFrame = {
    val sets = docs(spark, dir).selectExpr(
      "cast(doc_id as long) as doc_id", "array_distinct(split(text, ' ')) as ws")
    val cand = minhashLsh(spark, dir)
    cand
      .join(sets.toDF("a_id", "a_ws"), "a_id")
      .join(sets.toDF("b_id", "b_ws"), "b_id")
      .withColumn("inter", size(array_intersect(col("a_ws"), col("b_ws"))))
      .withColumn("jac", round(
        col("inter").cast("double") /
          (size(col("a_ws")) + size(col("b_ws")) - col("inter")), 6))
      .select(col("a_id"), col("b_id"), col("jac"),
        (col("jac") >= 0.5).as("accepted"))
  }

  val lshVerifySql: String =
    s"""WITH cand AS ($minhashLshSql),
       |sets AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    list_distinct(string_split(text, ' ')) AS ws FROM documents),
       |j AS (SELECT c.a_id, c.b_id,
       |    len(list_filter(a.ws, w -> list_contains(b.ws, w))) AS inter,
       |    len(a.ws) AS na, len(b.ws) AS nb
       |  FROM cand c JOIN sets a ON a.doc_id = c.a_id JOIN sets b ON b.doc_id = c.b_id)
       |SELECT a_id, b_id,
       |  round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jac,
       |  round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) >= 0.5 AS accepted
       |FROM j""".stripMargin


  /** Estimator-quality eval for the MinHash signatures themselves (the
    * [[lshVerify]] of the SKETCH rather than the candidates): for every
    * LSH candidate pair, the K=8 signature agreement fraction — the
    * Jaccard ESTIMATE MinHash is built on (Broder 1997: P[min agree] =
    * J) — next to the EXACT distinct-3-shingle Jaccard those signatures
    * approximate, plus the absolute error. This is the calibration a
    * rollout needs before picking the LSH accept threshold: if |err|
    * drifts, K is too small for the corpus' similarity profile.
    *
    * The per-function minhashes are recovered by splitting each 2-hash
    * band key in half (the native `minhash_bands` emits h(2b+1)||h(2b+2)
    * hex), so the signature pipeline still executes once, in-row; the
    * exact-Jaccard join touches candidates only.
    */
  def minhashEst(spark: SparkSession, dir: String): DataFrame = {
    val sigs = docs(spark, dir).selectExpr(
      "cast(doc_id as long) as doc_id",
      // [h1..h8] from the 4 band keys; 3-shingle set for the exact leg
      "flatten(transform(minhash_bands(text), b -> array(substring(b, 1, 32), substring(b, 33, 32)))) as hs",
      """case when size(split(text, ' ')) >= 3
        |  then array_distinct(transform(sequence(0, size(split(text, ' ')) - 3),
        |         i -> array_join(slice(split(text, ' '), i + 1, 3), ' ')))
        |  else cast(array() as array<string>) end as ss""".stripMargin)
    val cand = minhashLsh(spark, dir)
    cand
      .join(sigs.toDF("a_id", "a_hs", "a_ss"), "a_id")
      .join(sigs.toDF("b_id", "b_hs", "b_ss"), "b_id")
      .selectExpr("a_id", "b_id",
        "aggregate(zip_with(a_hs, b_hs, (x, y) -> case when x = y then 1L else 0L end), 0L, (acc, v) -> acc + v) as n_agree",
        "size(array_intersect(a_ss, b_ss)) as inter",
        "size(a_ss) as na", "size(b_ss) as nb")
      .selectExpr("a_id", "b_id", "n_agree",
        s"round(cast(n_agree as double) / $K, 4) as jaccard_est",
        "round(cast(inter as double) / (na + nb - inter), 6) as jaccard_true",
        s"round(abs(cast(n_agree as double) / $K - cast(inter as double) / (na + nb - inter)), 6) as est_err")
  }

  val minhashEstSql: String = {
    val agree = (1 to K)
      .map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH cand AS ($minhashLshSql),
       |w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws FROM documents),
       |t AS (SELECT doc_id, generate_subscripts(ws, 1) AS ord, unnest(ws) AS wd FROM w),
       |shl AS (SELECT DISTINCT a.doc_id, a.wd || ' ' || b.wd || ' ' || c.wd AS s
       |  FROM t a JOIN t b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
       |           JOIN t c ON c.doc_id = a.doc_id AND c.ord = a.ord + 2),
       |sig AS (SELECT doc_id, ${(1 to K).map(i => s"min(md5(s || '#$i')) AS h$i").mkString(", ")}
       |  FROM shl GROUP BY doc_id),
       |sets AS (SELECT doc_id, list(s) AS ss FROM shl GROUP BY doc_id),
       |j AS (SELECT c.a_id, c.b_id, $agree AS n_agree,
       |    len(list_filter(sa.ss, x -> list_contains(sb.ss, x))) AS inter,
       |    len(sa.ss) AS na, len(sb.ss) AS nb
       |  FROM cand c JOIN sig a ON a.doc_id = c.a_id JOIN sig b ON b.doc_id = c.b_id
       |       JOIN sets sa ON sa.doc_id = c.a_id JOIN sets sb ON sb.doc_id = c.b_id)
       |SELECT a_id, b_id, CAST(n_agree AS BIGINT) AS n_agree,
       |  round(CAST(n_agree AS DOUBLE) / $K, 4) AS jaccard_est,
       |  round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard_true,
       |  round(abs(CAST(n_agree AS DOUBLE) / $K - CAST(inter AS DOUBLE) / (na + nb - inter)), 6) AS est_err
       |FROM j""".stripMargin
  }

  // ------------------------------------------------- near-dup clustering

  /** Terminal dedup step: accepted near-dup PAIRS resolve into connected
    * components so each cluster keeps exactly one representative. Label
    * propagation (min-id) over the undirected candidate graph, a fixed
    * 10 rounds (far above any near-dup cluster diameter; boilerplate
    * mega-clusters are already excluded by the LSH bucket cap):
    * per round one join + partial-aggregated min per node, lineage
    * truncated per round. The oracle computes the SAME components
    * exactly with a recursive CTE, so cluster assignment is under the
    * hash compare, not just cluster counts.
    */
  /** Target edge rows per partition in the label-propagation loop —
    * sizes the iteration to the GRAPH, not the corpus: partitions =
    * max(1, edgeCount / this). At sf0.1 the accepted graph is tiny →
    * one partition; at 10^12 docs a billions-of-edges graph iterates
    * at proportional parallelism instead of through one task.
    */
  val ClusterEdgesPerPartition = 1000000L

  /** Iteration parallelism from the measured edge count — the formula
    * the r2 verdict asked to replace the hardcoded coalesce(1). */
  def clusterPartitions(nEdges: Long, edgesPerPartition: Long): Int =
    math.max(1L, nEdges / edgesPerPartition).toInt

  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterPairs(lshVerify(spark, dir).filter(col("accepted"))
      .select(col("a_id"), col("b_id")))

  /** Min-label propagation over an undirected pair graph (a_id, b_id) →
    * (doc_id, cluster). Factored from [[dedupClusters]] so specs can
    * drive it with synthetic graphs of arbitrary size/diameter.
    */
  def clusterPairs(pairs: DataFrame,
      edgesPerPartition: Long = ClusterEdgesPerPartition): DataFrame = {
    // materialize the accepted-pair set ONCE — without this every
    // label-propagation round would re-execute the whole LSH pipeline
    // through the un-truncated `edges` lineage (observed: ~10x the
    // pipeline cost in the bench). Checkpoint first at natural
    // partitioning, then the count that sizes the iteration is a cheap
    // scan of materialized blocks, not a second pipeline execution.
    val accepted = pairs.toDF("a_id", "b_id").localCheckpoint(true)
    val nEdges = accepted.count() * 2
    val nParts = clusterPartitions(nEdges, edgesPerPartition)
    val edges = accepted
      .union(accepted.select(col("b_id"), col("a_id")))
      .toDF("src", "dst")
      .repartition(nParts, col("src"))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint(true)
    var i = 0
    var changed = 1L
    // near-dup cluster diameters are tiny (mega-clusters are excluded by
    // the LSH cap), so convergence lands in 2-3 rounds; the changed-count
    // check between checkpointed (materialized, tiny) tables costs far
    // less than running the fixed worst-case round count. MaxRounds is a
    // runaway bound, not a convergence assumption — see the guard below.
    val MaxRounds = 50
    while (i < MaxRounds && changed > 0) {
      // one checkpointed job per round carries BOTH the new labels and
      // the changed flag; the convergence count is then a cheap scan of
      // the materialized step, not a second join against the prior round
      val nbrMin = edges.join(labels, col("src") === col("id"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("nlbl"))
      val step = labels.join(nbrMin, col("id") === col("dst"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"),
          (col("nlbl").isNotNull && col("nlbl") < col("lbl")).as("chg"))
        .localCheckpoint(true)
      changed = step.filter(col("chg")).count()
      labels = step.select(col("id"), col("lbl"))
      i += 1
    }
    // Never silent: a graph whose min-label distance exceeds MaxRounds
    // would return a WRONG component assignment — fail loudly instead
    // (mirrors the bucket-cap observability stance).
    if (changed > 0) throw new IllegalStateException(
      s"dedupClusters: label propagation did not converge in $MaxRounds rounds " +
        s"($changed labels still changing) — component diameter exceeds the bound")
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster"))
  }

  val dedupClustersSql: String =
    s"""WITH RECURSIVE acc AS (
       |  SELECT a_id, b_id FROM ($lshVerifySql) WHERE accepted),
       |e AS (SELECT a_id AS s, b_id AS d FROM acc
       |      UNION SELECT b_id, a_id FROM acc),
       |reach(id, lbl) AS (
       |  SELECT s, s FROM e
       |  UNION
       |  SELECT e.d, reach.lbl FROM reach JOIN e ON e.s = reach.id)
       |SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster
       |FROM reach GROUP BY id""".stripMargin

  // --------------------------------------------- canonical pick per cluster

  /** The keep-rule that finishes the near-dup story: one canonical
    * document per cluster — longest text wins (token count as the
    * quality proxy), ties to the smallest doc_id. Everything else in
    * the cluster is marked 'drop' with a pointer to its canonical, so
    * the downstream filter is a single predicate and the lineage of
    * every dropped doc is recorded (the audit trail a corpus rebuild
    * needs).
    *
    * Plan: the cluster table has one row per doc with an accepted
    * near-dup pair — on the real web that is a LARGE corpus fraction
    * (30-50% of pages is common), so neither side is broadcast-hinted:
    * both joins are plain equi-joins on doc_id/cluster and AQE picks
    * broadcast at runtime only when the built side genuinely fits.
    * The canonical argmax is a row_number window PARTITIONED by
    * cluster — parallel across clusters, deterministic tiebreak.
    */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame = {
    val cl = dedupClusters(spark, dir).localCheckpoint(true)
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id",
        "cast(size(split(text, ' ')) as long) as n_tokens")
    val j = toks.join(cl, Seq("doc_id")).localCheckpoint(true)
    val canon = j
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("cluster").orderBy(desc("n_tokens"), asc("doc_id"))))
      .where("rn = 1")
      .selectExpr("cluster", "doc_id as canonical_id")
    j.join(canon, Seq("cluster")).selectExpr(
      "doc_id",
      "cast(cluster as long) as cluster",
      "cast(canonical_id as long) as canonical_id",
      "case when doc_id = canonical_id then 'keep' else 'drop' end as action")
  }

  val dedupCanonicalSql: String =
    s"""WITH cl AS ($dedupClustersSql),
       |j AS (SELECT cl.doc_id, cl.cluster,
       |             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
       |      FROM cl JOIN documents d ON d.doc_id = cl.doc_id),
       |canon AS (SELECT cluster, doc_id AS canonical_id FROM (
       |  SELECT cluster, doc_id,
       |         row_number() OVER (PARTITION BY cluster
       |                            ORDER BY n_tokens DESC, doc_id) AS rn
       |  FROM j) t WHERE rn = 1)
       |SELECT j.doc_id, CAST(j.cluster AS BIGINT) AS cluster,
       |  CAST(canon.canonical_id AS BIGINT) AS canonical_id,
       |  CASE WHEN j.doc_id = canon.canonical_id THEN 'keep' ELSE 'drop' END AS action
       |FROM j JOIN canon USING (cluster)""".stripMargin

  // ------------------------------------------------ embedding-cosine near-dup

  /** Embedding-cosine near-dup: candidate pairs share an 8-bit sign-LSH
    * bucket (shuffle on the bucket key only — the 100 TB path; identical
    * blocking to SimilarityOps.annLsh), then cosine >= 0.3 within bucket.
    * Pairs emitted once (a < b); sims rounded so engine summation order
    * can't flip the compare.
    */
  def embedCosine(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("cast(vec_id as long) as vec_id", "embedding",
        "aggregate(embedding, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double)) as nrm",
        (1 to 8).map(i =>
          s"(case when element_at(embedding, $i) >= cast(0 as float) then '1' else '0' end)")
          .mkString("concat(", ", ", ") as bucket"))
    val a = e.toDF("a_id", "a_emb", "a_nrm", "bucket")
    val b = e.toDF("b_id", "b_emb", "b_nrm", "b_bucket")
    a.join(b, col("bucket") === col("b_bucket") && col("a_id") < col("b_id"))
      .withColumn("sim", round(
        expr("aggregate(zip_with(a_emb, b_emb, (x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)") /
          sqrt(col("a_nrm") * col("b_nrm")), 4))
      .filter(col("sim") >= 0.3)
      .select(col("a_id"), col("b_id"), col("sim"))
  }

  val embedCosineSql: String = {
    val bucket = (1 to 8)
      .map(i => s"(CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END)")
      .mkString(" || ")
    s"""WITH n AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding::DOUBLE[] AS e,
       |    list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS nrm,
       |    $bucket AS bucket
       |  FROM embeddings)
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  round(list_inner_product(a.e, b.e) / sqrt(a.nrm * b.nrm), 4) AS sim
       |FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE round(list_inner_product(a.e, b.e) / sqrt(a.nrm * b.nrm), 4) >= 0.3""".stripMargin
  }

  // -------------------------------------------------------------- registry

  // ------------------------------------------------------- keep-newest dedup

  /** Crawl-snapshot dedup: keep the newest row per key (a re-crawled url
    * keeps its latest warc_ts capture; reference analog is the
    * newest-file-wins queue scan, api.py:88-96). One shuffle on the key;
    * row_number() beats groupBy+join (single window pass, no second
    * shuffle). Exercised over events (user_id ⇔ url, ts ⇔ warc_ts);
    * event_id is the deterministic tiebreak.
    */
  def keepNewest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    spark.read.parquet(s"$dir/events.parquet")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .selectExpr("cast(user_id as long) as user_id",
        "cast(event_id as long) as event_id",
        // ts is TIMESTAMP_NTZ; session tz is UTC so the cast is exact
        "unix_micros(cast(ts as timestamp)) as ts_us")
  }

  val keepNewestSql: String =
    """SELECT CAST(user_id AS BIGINT) AS user_id,
      |  CAST(event_id AS BIGINT) AS event_id, epoch_us(ts) AS ts_us
      |FROM (SELECT user_id, event_id, ts,
      |        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------- incremental dedup

  /** Incremental near-dup gate: flag NEW documents (doc_id%5==0 plays
    * the fresh-crawl slice) whose MinHash bands collide with any BASE
    * document — the production shape where each crawl increment dedups
    * against the standing corpus instead of re-pairing everything. The
    * band table is materialized once (base signatures would be a
    * precomputed table at scale; the checkpoint states that intent), the
    * base side collapses to distinct bucket keys, and the new side
    * semi-joins against it — no pair expansion at all, just membership.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val lf = lshLongForm(spark, dir).localCheckpoint(true)
    val baseBuckets = lf.where("doc_id % 5 != 0")
      .select("band_no", "bkey").distinct()
    val cand = lf.where("doc_id % 5 = 0")
      .join(baseBuckets, Seq("band_no", "bkey"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("hit", lit(true))
    lf.select("doc_id").where("doc_id % 5 = 0").distinct()
      .join(cand, Seq("doc_id"), "left")
      .selectExpr("doc_id", "coalesce(hit, false) as near_dup_candidate")
  }

  val dedupIncrementalSql: String =
    s"""WITH $lshLongFormSql,
       |cand AS (SELECT DISTINCT n.doc_id
       |         FROM lf n JOIN lf b ON b.band_no = n.band_no AND b.bkey = n.bkey
       |         WHERE n.doc_id % 5 = 0 AND b.doc_id % 5 <> 0)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(doc_id AS BIGINT) IN (SELECT doc_id FROM cand) AS near_dup_candidate
       |FROM documents WHERE doc_id % 5 = 0""".stripMargin

  /** Dedup-aware split hygiene: near-duplicate pairs that STRADDLE a
    * train/val/test hash split are test-set leakage a naive
    * hash-by-doc-id split cannot see (the reason dedup-then-split — or
    * split-by-dup-GROUP — is the published practice; Lee et al. 2022
    * measure exactly this contamination channel). The corpus gains a
    * revision twin for every 5th doc (near-dup by construction, own
    * doc_id ⇒ independent split draw); docs group by the 10-token
    * prefix dup key, every in-group pair is classified by its two
    * splits, and the rollup counts pairs per split-combination —
    * `train-test` / `train-val` rows ARE the leakage. Split is a pure
    * md5 draw (14/16 train, 1/16 val, 1/16 test); everything is
    * deterministic in both engines.
    *
    * 100 TB shape: one equi-self-join on the 16-byte dup key (group
    * sizes are near-dup family sizes — bounded), one partial-agg'd
    * rollup; no global structure. A production job would use the
    * MinHash-LSH families from [[dedupMinhashLsh]] as the grouping —
    * the prefix key keeps the oracle exact here.
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val d0 = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id", "text")
    val corpus = d0.unionByName(
      d0.where("doc_id % 5 = 0")
        .selectExpr("doc_id + 10000000 as doc_id", "concat(text, ' rev2') as text"))
    val keyed = corpus.selectExpr(
      "doc_id",
      "md5(cast(array_join(slice(split(text, ' '), 1, 10), ' ') as binary)) as dup_key",
      """case when substring(md5(cast(concat('sp#', cast(doc_id as string)) as binary)), 1, 1) = 'f' then 'test'
        |     when substring(md5(cast(concat('sp#', cast(doc_id as string)) as binary)), 1, 1) = 'e' then 'val'
        |     else 'train' end as split""".stripMargin)
      .localCheckpoint(true) // one scan feeds both sides of the self-join
    keyed.alias("a")
      .join(keyed.alias("b"),
        expr("a.dup_key = b.dup_key and a.doc_id < b.doc_id"))
      .selectExpr(
        """case when a.split <= b.split then concat(a.split, '-', b.split)
          |     else concat(b.split, '-', a.split) end as pair_type""".stripMargin)
      .groupBy("pair_type")
      .agg(count(lit(1)).cast("long").as("n_pairs"))
  }

  val splitLeakageSql: String =
    """WITH c AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
      |  UNION ALL
      |  SELECT CAST(doc_id AS BIGINT) + 10000000, text || ' rev2'
      |  FROM documents WHERE doc_id % 5 = 0),
      |k AS (SELECT doc_id,
      |    md5(array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')) AS dup_key,
      |    CASE WHEN substr(md5('sp#' || doc_id), 1, 1) = 'f' THEN 'test'
      |         WHEN substr(md5('sp#' || doc_id), 1, 1) = 'e' THEN 'val'
      |         ELSE 'train' END AS split
      |  FROM c)
      |SELECT CASE WHEN a.split <= b.split THEN a.split || '-' || b.split
      |            ELSE b.split || '-' || a.split END AS pair_type,
      |  CAST(count(*) AS BIGINT) AS n_pairs
      |FROM k a JOIN k b ON a.dup_key = b.dup_key AND a.doc_id < b.doc_id
      |GROUP BY 1""".stripMargin

  /** The FIX for [[splitLeakage]]: split by dup GROUP, not by doc — the
    * whole near-dup family draws ONE md5 split from its dup key, so a
    * straddle pair is structurally impossible (both members carry the
    * group's split). Output is the per-split rollup a split audit reads:
    * doc count, group count, and how many docs MOVED relative to the
    * naive per-doc draw (the churn cost of group-consistent splitting —
    * expected (1 − 1/16·14/16-ish) of twinned docs, and 0 leakage).
    *
    * Same corpus construction as [[splitLeakage]] (rev-twin every 5th
    * doc) so the two queries read as before/after of one decision.
    *
    * 100 TB shape: pure projections plus one partial-agg'd rollup on a
    * 3-value key; the group split needs no join — it is a hash OF the
    * dup key, already on the row. No global structure.
    */
  def splitByGroup(spark: SparkSession, dir: String): DataFrame = {
    val d0 = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id", "text")
    val corpus = d0.unionByName(
      d0.where("doc_id % 5 = 0")
        .selectExpr("doc_id + 10000000 as doc_id", "concat(text, ' rev2') as text"))
    corpus.selectExpr(
      "doc_id",
      "md5(cast(array_join(slice(split(text, ' '), 1, 10), ' ') as binary)) as dup_key",
      """case when substring(md5(cast(concat('sp#', cast(doc_id as string)) as binary)), 1, 1) = 'f' then 'test'
        |     when substring(md5(cast(concat('sp#', cast(doc_id as string)) as binary)), 1, 1) = 'e' then 'val'
        |     else 'train' end as doc_split""".stripMargin)
      .selectExpr("doc_id", "dup_key", "doc_split",
        """case when substring(md5(cast(concat('gs#', dup_key) as binary)), 1, 1) = 'f' then 'test'
          |     when substring(md5(cast(concat('gs#', dup_key) as binary)), 1, 1) = 'e' then 'val'
          |     else 'train' end as split""".stripMargin)
      .groupBy("split")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        countDistinct(col("dup_key")).cast("long").as("n_groups"),
        sum(when(col("doc_split") =!= col("split"), 1L).otherwise(0L))
          .cast("long").as("n_reassigned"))
  }

  val splitByGroupSql: String =
    """WITH c AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
      |  UNION ALL
      |  SELECT CAST(doc_id AS BIGINT) + 10000000, text || ' rev2'
      |  FROM documents WHERE doc_id % 5 = 0),
      |k AS (SELECT doc_id,
      |    md5(array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')) AS dup_key,
      |    CASE WHEN substr(md5('sp#' || doc_id), 1, 1) = 'f' THEN 'test'
      |         WHEN substr(md5('sp#' || doc_id), 1, 1) = 'e' THEN 'val'
      |         ELSE 'train' END AS doc_split
      |  FROM c),
      |g AS (SELECT doc_id, dup_key, doc_split,
      |    CASE WHEN substr(md5('gs#' || dup_key), 1, 1) = 'f' THEN 'test'
      |         WHEN substr(md5('gs#' || dup_key), 1, 1) = 'e' THEN 'val'
      |         ELSE 'train' END AS split
      |  FROM k)
      |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT dup_key) AS BIGINT) AS n_groups,
      |  CAST(sum(CASE WHEN doc_split <> split THEN 1 ELSE 0 END) AS BIGINT) AS n_reassigned
      |FROM g GROUP BY split""".stripMargin

  /** FUZZY decontamination — [[QualityOps.decontaminate]]'s exact-13-gram
    * test misses an eval document that was lightly edited before leaking
    * into the corpus; the published mitigation (GPT-3 appendix C,
    * Llama/Gopher cards) is near-dup matching between corpus and eval
    * sets. Here: MinHash bands (the exact [[minhashLsh]] signature
    * pipeline) of every corpus doc vs the bands of a synthesized eval
    * set (every 97th doc with an appended suffix — a perturbed leak);
    * any shared (band, key) flags the corpus doc, `n_hit_bands` grades
    * match strength (4 = signature-identical).
    *
    * 100 TB shape: the eval side is genuinely small (benchmarks are
    * thousands of docs, not billions) — its distinct band set is a
    * broadcast-scale table, so the flag join is a map-side hash probe;
    * the corpus side is the same one-pass native `minhash_bands`
    * projection the LSH dedup path uses. No corpus self-join at all.
    */
  def decontamFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).selectExpr("cast(doc_id as long) as doc_id", "text")
    val evalBands = d.where("doc_id % 97 = 0")
      .selectExpr("concat(text, ' heldout eval copy') as text")
      .selectExpr("minhash_bands(text) as bands")
      .select(posexplode(col("bands")).as(Seq("band_no", "bkey")))
      .distinct()
    d.selectExpr("doc_id", "minhash_bands(text) as bands")
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band_no", "bkey")))
      .join(evalBands, Seq("band_no", "bkey"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_hit_bands"))
  }

  /** [[lshLongFormSql]] parameterized over source relation + CTE prefix,
    * so one oracle can band two tables (corpus and eval) side by side.
    */
  private def lshLongFormSqlOver(src: String, p: String): String = {
    val sigs = (1 to K).map(i => s"min(md5(s || '#$i')) AS h$i").mkString(", ")
    val bandDefs = (0 until Bands).map(b => s"h${2 * b + 1} || h${2 * b + 2} AS b$b").mkString(", ")
    val unpivot = (0 until Bands)
      .map(b => s"SELECT doc_id, $b AS band_no, b$b AS bkey FROM ${p}bands")
      .mkString("\n  UNION ALL ")
    s"""${p}w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws FROM $src),
       |${p}t AS (SELECT doc_id, generate_subscripts(ws, 1) AS ord, unnest(ws) AS wd FROM ${p}w),
       |${p}sh AS (SELECT DISTINCT a.doc_id, a.wd || ' ' || b.wd || ' ' || c.wd AS s
       |  FROM ${p}t a JOIN ${p}t b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
       |           JOIN ${p}t c ON c.doc_id = a.doc_id AND c.ord = a.ord + 2),
       |${p}sig AS (SELECT doc_id, $sigs FROM ${p}sh GROUP BY doc_id),
       |${p}bands AS (SELECT doc_id, $bandDefs FROM ${p}sig),
       |${p}lf AS ($unpivot)""".stripMargin
  }

  val decontamFuzzySql: String =
    s"""WITH ev AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    text || ' heldout eval copy' AS text
       |  FROM documents WHERE doc_id % 97 = 0),
       |${lshLongFormSqlOver("documents", "c_")},
       |${lshLongFormSqlOver("ev", "e_")},
       |eb AS (SELECT DISTINCT band_no, bkey FROM e_lf)
       |SELECT l.doc_id, CAST(count(*) AS BIGINT) AS n_hit_bands
       |FROM c_lf l JOIN eb USING (band_no, bkey)
       |GROUP BY 1""".stripMargin

  def registry: Map[String, Gated] = Map(
    "q_split_leakage" -> Gated(splitLeakage(_, _), splitLeakageSql),
    "q_split_by_group" -> Gated(splitByGroup(_, _), splitByGroupSql),
    "q_decontam_fuzzy" -> Gated(decontamFuzzy(_, _), decontamFuzzySql),
    "q_dedup_exact" -> Gated(exact(_, _), exactSql),
    "q_dedup_keep_newest" -> Gated(keepNewest(_, _), keepNewestSql),
    "q_dedup_jaccard" -> Gated(jaccard(_, _), jaccardSql),
    "q_shingle_containment" -> Gated(shingleContainment(_, _), shingleContainmentSql),
    "q_dedup_funnel" -> Gated(dedupFunnel(_, _), dedupFunnelSql),
    "q_dedup_minhash_lsh" -> Gated(minhashLsh(_, _), minhashLshSql),
    "q_lsh_bucket_stats" -> Gated(lshBucketStats(_, _), lshBucketStatsSql),
    "q_dedup_simhash" -> Gated(simhash(_, _), simhashSql),
    "q_simhash_pairs" -> Gated(simhashPairs(_, _), simhashPairsSql),
    "q_simhash_bucket_stats" -> Gated(simhashBucketStats(_, _), simhashBucketStatsSql),
    "q_dedup_embed_cosine" -> Gated(embedCosine(_, _), embedCosineSql),
    "q_dedup_lsh_verify" -> Gated(lshVerify(_, _), lshVerifySql),
    "q_minhash_est" -> Gated(minhashEst(_, _), minhashEstSql),
    "q_dedup_clusters" -> Gated(dedupClusters(_, _), dedupClustersSql),
    "q_dedup_canonical" -> Gated(dedupCanonical(_, _), dedupCanonicalSql),
    "q_dedup_incremental" -> Gated(dedupIncremental(_, _), dedupIncrementalSql))
}
