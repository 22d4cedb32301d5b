package graft.ops

import graft.Gated
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{asc, broadcast, coalesce, col, count, desc, expr, lit, posexplode, row_number, sum}

/** Corpus sampling / domain mixing — the selection stage of a
  * training-data pipeline (the reference stops at extraction; a corpus
  * builder must then DOWN-SELECT: per-source rates, fixed-size
  * per-domain samples, and mixing a token budget across domains).
  *
  * Everything here is hash-threshold sampling on md5 of the row key:
  * deterministic (reruns and resumed jobs select the same rows — the
  * same property the ledger gives extraction), uniform within group,
  * and exactly reproducible in the oracle engine because both sides
  * compare the same lowercase-hex md5 strings (hex order == byte order,
  * the DedupOps portability trick).
  *
  * 100 TB shape: the rate queries are pure map-side filters — the
  * decision needs only the row itself plus (for the budget mix) a
  * 20-row broadcast of per-source totals; document text never shuffles.
  * The fixed-k sample uses the bounded [[graft.functions.KBest]]
  * aggregate, so the exchange carries at most k rows per (partition,
  * group) instead of whole groups.
  */
object SampleOps {

  /** Per-source stratified rate sample. Each source gets a deterministic
    * rate in sixteenths ((src_num % 8) + 1); a row is kept when the
    * first hex nibble of md5("{doc_id}#strat") falls below it. One
    * codegen'd filter, zero shuffle, zero driver state.
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .where(
        "substring(md5(cast(concat(cast(doc_id as string), '#strat') as binary)), 1, 1)" +
          " < cast((cast(substring(source, 4) as int) % 8) + 1 as string)")
      .selectExpr("doc_id", "source")

  val sampleStratifiedSql: String =
    """SELECT doc_id, source FROM documents
      |WHERE substr(md5(doc_id || '#strat'), 1, 1)
      |  < CAST((CAST(substr(source, 4) AS INT) % 8) + 1 AS VARCHAR)""".stripMargin

  /** Fixed-size deterministic sample per source (reservoir analog):
    * the k=10 smallest md5("{doc_id}#fk") per group, via the bounded
    * MinK aggregate — map-side combine caps each partition's
    * contribution at k before the exchange. `rk` is the 1-based rank,
    * so a consumer can take any prefix for a smaller sample.
    */
  def sampleFixedK(spark: SparkSession, dir: String): DataFrame = {
    val k = 10
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("source", "doc_id",
        "md5(cast(concat(cast(doc_id as string), '#fk') as binary)) as h")
    docs.groupBy("source")
      .agg(graft.functions.KBest.mink(k)(col("h"), col("doc_id")).as("picks"))
      .select(col("source"), posexplode(col("picks")))
      .selectExpr("source", "col.id as doc_id", "cast(pos + 1 as long) as rk")
  }

  val sampleFixedKSql: String =
    """SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY md5(doc_id || '#fk'), doc_id) AS rk
      |  FROM documents) WHERE rk <= 10""".stripMargin

  /** Domain mixture to a token budget. The corpus-mixing stage: given
    * per-source weights w_s = (src_num % 4) + 1 and a global budget of
    * 40% of corpus tokens split by weight (sum of weights over the 20
    * sources = 50, so budget_s = total_tokens * w_s / 125, integer
    * math), derive a per-source keep-rate quantized to 1/256 and apply
    * it as an md5-prefix threshold. Plan: one tiny per-source aggregate
    * (20 rows) joined back by explicit broadcast, then a map-side
    * filter — the only exchange carries 20 rows.
    *
    * Integer-only rate math (rq = min(256, budget*256 / tokens)) keeps
    * the quantized threshold bit-identical across engines — no float
    * division on the comparison path.
    */
  def tokenBudgetMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "source",
        "cast(size(split(text, ' ')) as long) as toks",
        "md5(cast(concat(cast(doc_id as string), '#mix') as binary)) as h")
    val totals = docs.groupBy("source")
      .agg(expr("sum(toks) as src_toks"))
      .selectExpr("source as s2", "src_toks",
        "cast(sum(src_toks) over () as long) as total_toks")
      .selectExpr("s2", "src_toks",
        "(total_toks * ((cast(substring(s2, 4) as int) % 4) + 1)) div 125 as budget")
      .selectExpr("s2", "src_toks", "budget",
        "least(256L, (budget * 256L) div src_toks) as rq")
    docs.join(broadcast(totals), docs("source") === totals("s2"))
      .where("rq >= 256 or substring(h, 1, 2) < lpad(lower(hex(rq)), 2, '0')")
      .groupBy("source")
      .agg(
        expr("cast(count(*) as long) as n_kept"),
        expr("sum(toks) as tokens_kept"),
        expr("max(budget) as budget"),
        expr("max(rq) as rq"))
  }

  val tokenBudgetMixSql: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
      |    md5(doc_id || '#mix') AS h
      |  FROM documents),
      |t AS (
      |  SELECT source AS s2, sum(toks) AS src_toks,
      |    sum(sum(toks)) OVER () AS total_toks
      |  FROM d GROUP BY source),
      |r AS (
      |  SELECT s2, src_toks,
      |    CAST((total_toks * ((CAST(substr(s2, 4) AS INT) % 4) + 1)) // 125
      |      AS BIGINT) AS budget
      |  FROM t),
      |q AS (
      |  SELECT s2, src_toks, budget,
      |    CAST(least(256, (budget * 256) // src_toks) AS BIGINT) AS rq
      |  FROM r)
      |SELECT d.source,
      |  CAST(count(*) AS BIGINT) AS n_kept,
      |  CAST(sum(d.toks) AS BIGINT) AS tokens_kept,
      |  CAST(max(q.budget) AS BIGINT) AS budget,
      |  CAST(max(q.rq) AS BIGINT) AS rq
      |FROM d JOIN q ON d.source = q.s2
      |WHERE q.rq >= 256 OR substr(d.h, 1, 2) < printf('%02x', q.rq)
      |GROUP BY d.source""".stripMargin

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
    * "Weighted random sampling with a reservoir", IPL 97(5) — the A-Res
    * scheme): each row draws key = u^(1/w) for uniform u and the k
    * LARGEST keys form an exact weighted sample. This is the standard
    * primitive for building a training mix with per-source importance
    * weights when the budget is a fixed row count rather than a rate.
    *
    * Exactness trick: for INTEGER weight w, u^(1/w) is distributed as
    * the max of w iid uniforms (P[max ≤ t] = t^w), so the key becomes
    * `array_max` over w independent md5 draws — pure string compares,
    * no pow/ln on the comparison path, bit-identical in both engines.
    * Ordering "key DESC" is realized as "nibble-complemented key ASC"
    * (a strict order-reversing bijection on lowercase hex), which lets
    * the bounded [[graft.functions.KBest]] aggregate do a GLOBAL top-k
    * with map-side capping: the exchange carries at most k rows per
    * partition — never the corpus — exactly the shape a 10^12-row
    * weighted pick needs. Weights here are w_s = (src_num % 4) + 1.
    */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val k = 25
    val keyed = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id",
        "cast((cast(substring(source, 4) as int) % 4) + 1 as int) as w")
      .selectExpr("doc_id", "w",
        """array_max(transform(sequence(1, w), i ->
          |  md5(cast(concat(cast(doc_id as string), '#ws',
          |                  cast(i as string)) as binary)))) as wkey""".stripMargin)
      .selectExpr("doc_id", "w", "wkey",
        "translate(wkey, '0123456789abcdef', 'fedcba9876543210') as inv")
    keyed.groupBy()
      .agg(graft.functions.KBest.mink(k)(col("inv"), col("doc_id")).as("picks"))
      .select(posexplode(col("picks")))
      .selectExpr("cast(pos + 1 as long) as rk", "col.id as doc_id",
        "translate(col.h, '0123456789abcdef', 'fedcba9876543210') as wkey")
  }

  val sampleWeightedSql: String =
    """WITH d AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    (CAST(substr(source, 4) AS INT) % 4) + 1 AS w
      |  FROM documents),
      |kd AS (
      |  SELECT doc_id,
      |    list_max(list_transform(range(1, w + 1),
      |      i -> md5(doc_id || '#ws' || CAST(i AS VARCHAR)))) AS wkey
      |  FROM d)
      |SELECT CAST(rk AS BIGINT) AS rk, doc_id, wkey FROM (
      |  SELECT doc_id, wkey,
      |    row_number() OVER (ORDER BY wkey DESC, doc_id) AS rk
      |  FROM kd) WHERE rk <= 25""".stripMargin

  /** Temperature-scaled source mixing (the multilingual-LM sampling rule
    * popularized by mBERT/XLM-R and used for domain mixing since: sample
    * source s with probability ∝ n_s^α, α ∈ (0,1), so head sources are
    * down-weighted and tail sources up-weighted relative to natural
    * frequency). α = 1/2 here; the fixed row budget B = 1000 is
    * apportioned by largest-remainder (Hamilton) rounding so the quotas
    * are integers that sum EXACTLY to B — the contract a downstream
    * fixed-size sampler needs.
    *
    * Exactness: w_s = floor(sqrt(n_s · 10⁶)) — IEEE-754 sqrt is
    * correctly rounded and n_s·10⁶ ≪ 2⁵³, and no integer in that range
    * is close enough to a perfect square for floor∘sqrt to differ from
    * isqrt across engines (the gap to the nearest square root integer,
    * ≥ 1/(2·√(n·10⁶)), dwarfs the double ulp there). Base quotas and
    * remainders are pure integer arithmetic (B·w div/mod W), and the
    * leftover goes to the largest remainders with a source-name
    * tiebreak — every comparison integral, so the oracle can never
    * disagree by a rounding artifact.
    *
    * 100 TB shape: one partial-agg'd shuffle to per-source counts; all
    * windows run over the SOURCE table (mixture components — tens to
    * thousands of rows), never the corpus.
    */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val b = 1000L
    spark.read.parquet(s"$dir/documents.parquet")
      // component = source × length band: the corpus' sources are
      // deliberately uniform, so mixing on source alone would never
      // exercise the sqrt compression or the remainder distribution —
      // the length band brings real skew (and is how a mixture designer
      // actually slices: domain × document-length regime)
      .selectExpr(
        "concat(source, '#', cast(least(size(split(text, ' ')) div 40, 5) as string)) as component")
      .groupBy("component")
      .agg(count(lit(1)).cast("long").as("n_docs"))
      .selectExpr("component", "n_docs",
        "cast(floor(sqrt(cast(n_docs as double) * 1000000.0D)) as bigint) as w")
      .withColumn("tw", sum("w").over(Window.partitionBy()))
      .selectExpr("component", "n_docs", "w",
        s"($b * w) div tw as base", s"($b * w) % tw as rem", "tw")
      .withColumn("deficit", lit(b) - sum("base").over(Window.partitionBy()))
      .withColumn("rk", row_number().over(
        Window.partitionBy().orderBy(desc("rem"), asc("component"))))
      .selectExpr("component", "n_docs", "w as weight",
        "cast(base + (case when rk <= deficit then 1 else 0 end) as long) as quota")
  }

  val mixTemperatureSql: String =
    """WITH c AS (SELECT source || '#' ||
      |      least(len(string_split(text, ' ')) // 40, 5) AS component,
      |    CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY 1),
      |w AS (SELECT component, n_docs,
      |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE) * 1000000.0)) AS BIGINT) AS w
      |  FROM c),
      |q AS (SELECT component, n_docs, w,
      |    (1000 * w) // sum(w) OVER () AS base,
      |    (1000 * w) % sum(w) OVER () AS rem
      |  FROM w),
      |r AS (SELECT *, 1000 - sum(base) OVER () AS deficit,
      |    row_number() OVER (ORDER BY rem DESC, component) AS rk
      |  FROM q)
      |SELECT component, n_docs, w AS weight,
      |  CAST(base + (CASE WHEN rk <= deficit THEN 1 ELSE 0 END) AS BIGINT) AS quota
      |FROM r""".stripMargin

  /** Curriculum/interleave training order: rank documents within each
    * source by a quality signal (token count here, descending — "best
    * first" curriculum), then emit a GLOBAL training position that
    * round-robins the sources (position = rank·S + source index), so no
    * contiguous run of the shuffled-by-position corpus is dominated by
    * one source — the anti-clumping property data-order recipes want
    * without a global sort.
    *
    * 100 TB shape: the only window partitions by SOURCE (per-group
    * rank); the global position is CLOSED-FORM arithmetic over (rank,
    * source index) — no global row_number, no single-partition window,
    * which is the whole trick: a total order over 10^12 rows emitted
    * without ever totally ordering them. The source index comes from
    * the source name itself (a dim-table lookup in a real pipeline),
    * not a corpus-wide dense_rank.
    */
  def trainOrder(spark: SparkSession, dir: String): DataFrame = {
    val s = 20L // source-dim cardinality (src0..src19)
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id", "source",
        "cast(substring(source, 4) as long) as src_idx",
        "cast(size(split(text, ' ')) as long) as n_tokens")
      .withColumn("rank_in_source", row_number().over(
        Window.partitionBy("source").orderBy(desc("n_tokens"), asc("doc_id"))).cast("long"))
      .selectExpr("doc_id", "source", "n_tokens", "rank_in_source",
        s"(rank_in_source - 1) * $s + src_idx as position")
  }

  val trainOrderSql: String =
    """WITH r AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
      |    CAST(substr(source, 4) AS BIGINT) AS src_idx,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY len(string_split(text, ' ')) DESC, doc_id) AS BIGINT) AS rank_in_source
      |  FROM documents)
      |SELECT doc_id, source, n_tokens, rank_in_source,
      |  (rank_in_source - 1) * 20 + src_idx AS position
      |FROM r""".stripMargin

  /** Target tokens per training shard. */
  private val ShardTokens = 1000L

  /** doc_ids per prefix bucket — the distributed-scan granule. At n docs
    * the bucket table has n/width rows; pick width so that table stays
    * small enough for the single-ordered-window prefix pass (at 10^12
    * docs, width 10^6 leaves a 10^6-row bucket table — trivially
    * sortable — while every heavy stage stays per-bucket parallel).
    */
  private val PackBucketWidth = 100L

  /** Token-budget shard packing: assign docs (in doc_id order) to
    * consecutive training shards of ~1000 tokens — shard_id =
    * floor(exclusive-prefix-sum(n_tokens) / 1000). The naive plan is a
    * single global ordered window (one reducer sees every row); this is
    * the classic two-phase distributed scan instead:
    *
    *   1. per-bucket token sums (map-side partial agg, one small
    *      exchange of n/width rows),
    *   2. exclusive prefix over the tiny bucket table (the only ordered
    *      window, over n/width rows),
    *   3. broadcast bucket offsets back; the per-doc prefix is a window
    *      PARTITIONED by bucket — every bucket scans in parallel.
    *
    * Integer-only math, so the oracle (a plain global window — DuckDB
    * can afford it at test scale) is hash-exact.
    */
  def tokenShards(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr(
        "cast(doc_id as long) as doc_id",
        "cast(size(split(text, ' ')) as long) as n_tokens",
        s"cast(doc_id div $PackBucketWidth as long) as bkt")
    val bucketSums = d.groupBy("bkt").agg(sum("n_tokens").as("bt"))
    val bucketOffsets = bucketSums.select(
      col("bkt"),
      coalesce(
        sum("bt").over(
          Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)).as("off"))
    d.join(broadcast(bucketOffsets), Seq("bkt"))
      .withColumn(
        "pre",
        coalesce(
          sum("n_tokens").over(
            Window.partitionBy("bkt").orderBy("doc_id")
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .selectExpr(
        "doc_id",
        "n_tokens",
        s"cast((off + pre) div $ShardTokens as long) as shard_id")
  }

  val tokenShardsSql: String =
    s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(sum(len(string_split(text, ' ')))
      |          OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |        0) // $ShardTokens AS BIGINT) AS shard_id
      |FROM documents""".stripMargin

  /** Example packing into fixed 2048-token training sequences —
    * the batch-prep step between shard assignment and the data loader
    * (T5-style no-split packing: a doc that doesn't fit the remainder
    * opens a new sequence; the tail of each sequence is padding). Docs
    * pack in doc_id order within their shard, so the layout is
    * deterministic and resumable. Output: each doc's (sequence, offset)
    * placement plus the shard's sequence count — exactly the index a
    * loader needs to mmap a packed shard.
    *
    * Packing is inherently SEQUENTIAL per shard (each placement depends
    * on the running fill), so the distributed shape is the
    * [[CorpusOps.compactPlan]] one: `flatMapGroups` keyed by shard —
    * one ordered greedy pass per group, all shards in parallel, never a
    * driver loop. The oracle replays the identical greedy as a DuckDB
    * recursive CTE carrying (seq, fill) as state, so any divergence in
    * fit choice or offset arithmetic fails the hash. Docs longer than
    * the capacity are truncated to it (`n_trunc` keeps the loss
    * observable) — the no-split policy a packer applies to outliers.
    */
  def seqPack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cap = 2048L
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id % 8 as long) as shard", "cast(doc_id as long) as doc_id",
        "cast(size(split(text, ' ')) as long) as nt")
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (shard, it) =>
        val ds = it.map { case (_, id, nt) => (id, nt) }.toArray.sortBy(_._1)
        var seq = 1L; var fill = 0L
        val out = Vector.newBuilder[(Long, Long, Long, Long, Long, Long)]
        ds.foreach { case (id, nt) =>
          val t = math.min(nt, cap)
          if (fill + t > cap) { seq += 1; fill = 0L }
          out += ((shard, id, t, nt - t, seq, fill))
          fill += t
        }
        out.result().iterator
      }
      .toDF("shard", "doc_id", "n_tok", "n_trunc", "seq_no", "off")
      .withColumn("n_seqs",
        org.apache.spark.sql.functions.max("seq_no")
          .over(Window.partitionBy("shard")).cast("long"))
  }

  val seqPackSql: String =
    """WITH RECURSIVE items AS (
      |  SELECT shard, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn,
      |    doc_id, least(nt, 2048) AS t, nt - least(nt, 2048) AS n_trunc
      |  FROM (SELECT CAST(doc_id % 8 AS BIGINT) AS shard, CAST(doc_id AS BIGINT) AS doc_id,
      |          CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents)),
      |pk AS (
      |  SELECT shard, 0::BIGINT AS rn, 1::BIGINT AS seq, 0::BIGINT AS fill,
      |    []::BIGINT[] AS aseq, []::BIGINT[] AS aoff
      |  FROM (SELECT DISTINCT shard FROM items)
      |  UNION ALL
      |  SELECT i.shard, i.rn,
      |    CASE WHEN p.fill + i.t > 2048 THEN p.seq + 1 ELSE p.seq END,
      |    CASE WHEN p.fill + i.t > 2048 THEN i.t ELSE p.fill + i.t END,
      |    list_append(p.aseq, CASE WHEN p.fill + i.t > 2048 THEN p.seq + 1 ELSE p.seq END),
      |    list_append(p.aoff, CASE WHEN p.fill + i.t > 2048 THEN 0 ELSE p.fill END)
      |  FROM pk p JOIN items i ON i.shard = p.shard AND i.rn = p.rn + 1),
      |fin AS (
      |  SELECT shard, seq AS n_seqs, aseq, aoff FROM pk p
      |  WHERE rn = (SELECT max(rn) FROM items i WHERE i.shard = p.shard))
      |SELECT i.shard, i.doc_id, i.t AS n_tok, i.n_trunc,
      |  CAST(fin.aseq[CAST(i.rn AS INT)] AS BIGINT) AS seq_no,
      |  CAST(fin.aoff[CAST(i.rn AS INT)] AS BIGINT) AS off,
      |  CAST(fin.n_seqs AS BIGINT) AS n_seqs
      |FROM items i JOIN fin ON fin.shard = i.shard""".stripMargin

  /** Per-shard provenance card — the release-side ledger row every
    * packed training shard ships with: doc/token totals, how many
    * sources feed it, and the majority source (deterministic argmax:
    * tokens DESC, source ASC). Uses [[tokenShards]]' exact shard
    * assignment with `source` carried THROUGH the two-phase prefix —
    * provenance rides the existing pipeline instead of a second
    * corpus join on doc_id.
    *
    * 100 TB shape: the doc-level windows stay partitioned by prefix
    * bucket (inherited from tokenShards); the provenance windows run
    * over the (shard × source) rollup — bounded by sources-per-shard,
    * never doc rows.
    */
  def shardProvenance(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr(
        "cast(doc_id as long) as doc_id", "source",
        "cast(size(split(text, ' ')) as long) as n_tokens",
        s"cast(doc_id div $PackBucketWidth as long) as bkt")
    val bucketSums = d.groupBy("bkt").agg(sum("n_tokens").as("bt"))
    val bucketOffsets = bucketSums.select(
      col("bkt"),
      coalesce(
        sum("bt").over(
          Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)).as("off"))
    val sharded = d.join(broadcast(bucketOffsets), Seq("bkt"))
      .withColumn("pre",
        coalesce(
          sum("n_tokens").over(
            Window.partitionBy("bkt").orderBy("doc_id")
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .selectExpr("source", "n_tokens",
        s"cast((off + pre) div $ShardTokens as long) as shard_id")
    val bySrc = sharded.groupBy("shard_id", "source")
      .agg(sum("n_tokens").as("st"), count(lit(1)).as("sd"))
    val wTop = Window.partitionBy("shard_id").orderBy(desc("st"), asc("source"))
    val wSh = Window.partitionBy("shard_id")
    bySrc.select(col("shard_id"), col("source"), col("st"),
        row_number().over(wTop).as("rn"),
        sum("st").over(wSh).as("tt"), sum("sd").over(wSh).as("td"),
        count(lit(1)).over(wSh).as("ns"))
      .where(col("rn") === 1)
      .selectExpr("shard_id", "cast(td as long) as n_docs",
        "cast(tt as long) as n_tokens", "cast(ns as long) as n_sources",
        "source as top_source", "cast(st as long) as top_source_tokens")
  }

  val shardProvenanceSql: String =
    s"""WITH s AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents),
      |sh AS (SELECT source, nt,
      |    CAST(coalesce(sum(nt) OVER (ORDER BY doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      // $ShardTokens AS BIGINT) AS shard_id
      |  FROM s),
      |g AS (SELECT shard_id, source, CAST(sum(nt) AS BIGINT) AS st,
      |    CAST(count(*) AS BIGINT) AS sd
      |  FROM sh GROUP BY 1, 2),
      |r AS (SELECT shard_id, source, st,
      |    row_number() OVER (PARTITION BY shard_id ORDER BY st DESC, source) AS rn,
      |    sum(st) OVER (PARTITION BY shard_id) AS tt,
      |    sum(sd) OVER (PARTITION BY shard_id) AS td,
      |    count(*) OVER (PARTITION BY shard_id) AS ns
      |  FROM g)
      |SELECT shard_id, CAST(td AS BIGINT) AS n_docs, CAST(tt AS BIGINT) AS n_tokens,
      |  CAST(ns AS BIGINT) AS n_sources, source AS top_source,
      |  st AS top_source_tokens
      |FROM r WHERE rn = 1""".stripMargin

  def registry: Map[String, Gated] = Map(
    "q_seq_pack" -> Gated(seqPack(_, _), seqPackSql),
    "q_shard_provenance" -> Gated(shardProvenance(_, _), shardProvenanceSql),
    "q_token_shards" -> Gated(tokenShards(_, _), tokenShardsSql),
    "q_sample_stratified" -> Gated(sampleStratified(_, _), sampleStratifiedSql),
    "q_sample_fixed_k" -> Gated(sampleFixedK(_, _), sampleFixedKSql),
    "q_sample_weighted" -> Gated(sampleWeighted(_, _), sampleWeightedSql),
    "q_mix_temperature" -> Gated(mixTemperature(_, _), mixTemperatureSql),
    "q_train_order" -> Gated(trainOrder(_, _), trainOrderSql),
    "q_token_budget_mix" -> Gated(tokenBudgetMix(_, _), tokenBudgetMixSql))
}
