package graft.ops

import graft.Gated
import graft.ops.TextOps.docs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-quality gates a web-scale training-data pipeline runs after
  * extraction and before training: benchmark decontamination (GPT-3
  * appendix C / The Pile style n-gram overlap against an eval set) and
  * CCNet-style language-model perplexity bucketing (Wenzek et al. 2020:
  * score each document with a small LM trained on a trusted sample,
  * split the corpus into head/middle/tail quality buckets).
  *
  * 100 TB shape, shared across the family: document text NEVER rides a
  * shuffle — per-doc n-gram/bigram streams are hashed/tokenized in-row
  * and only (doc_id, hash/word) pairs move. The eval n-gram set and the
  * LM count tables are small model artifacts (an eval suite is a few
  * thousand items; a pruned bigram table is vocabulary-sized) and ride
  * broadcast joins, so the contamination check and the scoring pass are
  * map-side; the only exchange is the (doc_id, partial-sum) rollup.
  * Reference behavior: the reference dedups uploads by queue identity
  * only (endpoint_upload.py) — these are the corpus-scale generalizations
  * a Common-Crawl training pipeline adds on top.
  */
object QualityOps {

  private def words(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).selectExpr(
      "cast(doc_id as long) as doc_id",
      "split(text, ' ') as ws")

  // ------------------------------------------------- decontamination

  /** Overlap n-gram width (13 in GPT-3/PaLM practice; 8 here to match
    * the corpus' short synthetic docs and the sibling shingle ops).
    */
  private val EvalGram = 8

  /** Eval-item length: the first `EvalSliceWords` words of each donor
    * doc stand in for an eval-set prompt/answer string.
    */
  private val EvalSliceWords = 24

  /** Benchmark decontamination: flag every training document sharing at
    * least one `EvalGram`-word shingle with the eval set. The eval set
    * is derived deterministically (every 41st doc donates its first 24
    * words), standing in for an external benchmark table. Output is the
    * full per-doc audit row (exact hit counts, not just the verdict) so
    * downstream can either drop docs or cut spans.
    *
    * Plan: eval shingle hashes (small) -> distinct -> broadcast;
    * per-doc shingle hashes explode in-row; left_semi broadcast join is
    * map-side; one (doc_id, count) partial-agg exchange.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val w = words(spark, dir)
    val ev = w.where("doc_id % 41 = 0")
      .selectExpr(s"slice(ws, 1, $EvalSliceWords) as ews")
      .selectExpr(
        s"""explode(case when size(ews) >= $EvalGram
              then transform(sequence(0, size(ews)-$EvalGram),
                             i -> md5(array_join(slice(ews, i+1, $EvalGram), ' ')))
              else array() end) as h""")
      .distinct()
    val sh = w.selectExpr(
      "doc_id",
      s"""explode(case when size(ws) >= $EvalGram
            then transform(sequence(0, size(ws)-$EvalGram),
                           i -> md5(array_join(slice(ws, i+1, $EvalGram), ' ')))
            else array() end) as h""")
    val hits = sh.join(broadcast(ev), Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
    w.join(hits, Seq("doc_id"), "left").selectExpr(
      "doc_id",
      s"cast(greatest(size(ws)-${EvalGram - 1}, 0) as long) as n_shingles",
      "cast(coalesce(n_hits, 0) as long) as n_hits",
      "case when coalesce(n_hits, 0) > 0 then 'contaminated' else 'clean' end as verdict")
  }

  val decontaminateSql: String =
    s"""WITH w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text,' ') AS ws FROM documents),
      |ev AS (SELECT DISTINCT md5(array_to_string(ews[i+1:i+$EvalGram],' ')) AS h
      |       FROM (SELECT ws[1:$EvalSliceWords] AS ews FROM w WHERE doc_id % 41 = 0) e,
      |            LATERAL (SELECT unnest(range(0, greatest(len(ews)-${EvalGram - 1},0))) AS i) t),
      |sh AS (SELECT doc_id, md5(array_to_string(ws[i+1:i+$EvalGram],' ')) AS h
      |       FROM w, LATERAL (SELECT unnest(range(0, greatest(len(ws)-${EvalGram - 1},0))) AS i) t),
      |hits AS (SELECT doc_id, count(*) AS n_hits FROM sh JOIN ev USING (h) GROUP BY doc_id)
      |SELECT w.doc_id,
      |  CAST(greatest(len(w.ws)-${EvalGram - 1},0) AS BIGINT) AS n_shingles,
      |  CAST(coalesce(hits.n_hits,0) AS BIGINT) AS n_hits,
      |  CASE WHEN coalesce(hits.n_hits,0) > 0 THEN 'contaminated' ELSE 'clean' END AS verdict
      |FROM w LEFT JOIN hits USING (doc_id)""".stripMargin

  // ---------------------------------------- LM perplexity bucketing

  /** Bigrams seen fewer times than this in the training sample are
    * pruned from the model (the KenLM-prune analog that keeps the
    * broadcast table small at scale).
    */
  private val MinBigramCount = 2

  /** CCNet-style perplexity quality split. A bigram LM with add-one
    * smoothing is trained on a deterministic 20% sample (every 5th doc
    * — the "trusted domain" stand-in for CCNet's Wikipedia KenLM);
    * every document is scored with mean negative log-likelihood; the
    * head/middle/tail cutoffs are the score terciles of a held-out
    * sample (every 7th doc not in training), mirroring CCNet's
    * precomputed per-language percentile cutoffs. Lower score = more
    * predictable = 'head'.
    *
    * Plan: model tables (pruned bigram counts + unigram counts + a
    * one-row vocab size) aggregate once from the sample and broadcast;
    * the scoring pass is a map-side broadcast join over in-row-exploded
    * bigrams with one (doc_id, partial-sum) exchange; cutoffs are a
    * one-row artifact (sorted held-out scores), computed exactly here —
    * at 10^12 docs the held-out slice would be a fixed-size sample, the
    * apply side is unchanged. Docs with <2 words have no bigrams and
    * drop out (none in this corpus).
    */
  def lmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    // the scored table feeds both the cutoff aggregate and the final
    // bucket projection — materialize it once (the r2 dual-use lesson)
    val scored = lmScored(spark, dir).localCheckpoint(true)
    val cuts = scored.where("doc_id % 7 = 3 and doc_id % 5 != 0")
      .agg(sort_array(collect_list(col("score"))).as("a"))
      .selectExpr(
        "element_at(a, cast(ceil(size(a)/3.0) as int)) as cl",
        "element_at(a, cast(ceil(2*size(a)/3.0) as int)) as cm")
    scored.crossJoin(broadcast(cuts)).selectExpr(
      "doc_id",
      "cast(nb as long) as n_bigrams",
      "score",
      "case when score <= cl then 'head' when score <= cm then 'middle' else 'tail' end as bucket")
  }

  /** The scoring stage of [[lmPerplexity]] (train + broadcast-join +
    * per-doc rollup), exposed pre-checkpoint so PlanShapeSpec can
    * assert the broadcast shape of the model joins.
    */
  private[graft] def lmScored(spark: SparkSession, dir: String): DataFrame = {
    val w = words(spark, dir).localCheckpoint(true)
    val samp = w.where("doc_id % 5 = 0")
    val uni = samp.select(explode(col("ws")).as("w1"))
      .groupBy("w1").agg(expr("cast(count(*) as double) as c1"))
    val vv = uni.agg(expr("cast(count(*) as double) as v"))
    val bigramsOf = (src: DataFrame, cols: String) => src.selectExpr(
      cols,
      """explode(case when size(ws) >= 2
           then transform(sequence(0, size(ws)-2), i -> struct(ws[i] as w1, ws[i+1] as w2))
           else array() end) as bg""")
    val big = bigramsOf(samp, "doc_id").select(col("bg.w1"), col("bg.w2"))
      .groupBy("w1", "w2").agg(expr("cast(count(*) as double) as c2"))
      .where(s"c2 >= $MinBigramCount")
    val db = bigramsOf(w, "doc_id").select(col("doc_id"), col("bg.w1"), col("bg.w2"))
    db.join(broadcast(big), Seq("w1", "w2"), "left")
      .join(broadcast(uni), Seq("w1"), "left")
      .crossJoin(broadcast(vv))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("nb"),
        sum(expr("-ln((coalesce(c2, 0D) + 1.0D) / (coalesce(c1, 0D) + v))")).as("nll"))
      .selectExpr("doc_id", "nb", "round(nll / cast(nb as double), 6) as score")
  }

  val lmPerplexitySql: String =
    s"""WITH w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text,' ') AS ws FROM documents),
      |samp AS (SELECT * FROM w WHERE doc_id % 5 = 0),
      |uni AS (SELECT u AS w1, CAST(count(*) AS DOUBLE) AS c1 FROM samp, LATERAL unnest(ws) AS t(u) GROUP BY u),
      |vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
      |big AS (SELECT ws[i+1] AS w1, ws[i+2] AS w2, CAST(count(*) AS DOUBLE) AS c2
      |        FROM samp, LATERAL (SELECT unnest(range(0, greatest(len(ws)-1,0))) AS i) t
      |        GROUP BY 1,2 HAVING count(*) >= $MinBigramCount),
      |db AS (SELECT doc_id, ws[i+1] AS w1, ws[i+2] AS w2
      |       FROM w, LATERAL (SELECT unnest(range(0, greatest(len(ws)-1,0))) AS i) t),
      |sc AS (SELECT doc_id, count(*) AS nb,
      |         sum(-ln((coalesce(big.c2,0)+1.0)/(coalesce(uni.c1,0)+vv.v))) AS nll
      |       FROM db LEFT JOIN big USING (w1,w2) LEFT JOIN uni USING (w1) CROSS JOIN vv
      |       GROUP BY doc_id),
      |scored AS (SELECT doc_id, nb, round(nll/CAST(nb AS DOUBLE), 6) AS score FROM sc),
      |cuts AS (SELECT list_sort(list(score)) AS a FROM scored WHERE doc_id % 7 = 3 AND doc_id % 5 <> 0),
      |c AS (SELECT a[CAST(ceil(len(a)/3.0) AS BIGINT)] AS cl, a[CAST(ceil(2*len(a)/3.0) AS BIGINT)] AS cm FROM cuts)
      |SELECT s.doc_id, CAST(s.nb AS BIGINT) AS n_bigrams, s.score,
      |  CASE WHEN s.score <= c.cl THEN 'head' WHEN s.score <= c.cm THEN 'middle' ELSE 'tail' END AS bucket
      |FROM scored s CROSS JOIN c""".stripMargin

  // ------------------------------------------------- blocklist gate

  /** Phrase-blocklist gate ([[graft.kernels.AhoCorasick]]): count every
    * occurrence of a fixed phrase list over each document in ONE
    * automaton pass (vs P per-phrase scans — the C4 / UT1-blocklist
    * gating shape at corpus scale), then gate documents whose total hit
    * count crosses the threshold.
    *
    * Oracle construction: two phrases occur naturally in the corpus
    * vocabulary and two are planted `(doc_id + i) % 3` times into a
    * suffix, so the counts exercise both accidental and planted hits.
    * DuckDB recomputes each count independently via the
    * length-difference-under-replace identity, which equals the
    * automaton's all-occurrence count exactly BECAUSE every phrase is
    * borderless (no proper prefix equals a suffix) — borderless
    * occurrences cannot overlap themselves, so non-overlapping and
    * total counts coincide; the `require` below pins that invariant
    * against future phrase edits. (The automaton itself handles
    * self-overlapping patterns correctly — AhoCorasickSpec proves it
    * against a brute-force scan — only the ORACLE identity needs
    * borderless phrases.)
    *
    * 100 TB shape: narrow per-row map, zero shuffle; the automaton is a
    * per-JVM singleton built from the (small, model-artifact-sized)
    * blocklist, never serialized per task.
    */
  private val BlockPhrases = Array(
    "table scan", "sort merge", "slow query", // natural corpus vocabulary
    "free money now", "click here")           // planted spam suffix only
  require(BlockPhrases.forall(p =>
    (1 until p.length).forall(k => p.substring(0, k) != p.substring(p.length - k))),
    "blocklist phrases must be borderless so the oracle's replace-count identity holds")

  private lazy val BlockAutomaton = new graft.kernels.AhoCorasick(BlockPhrases)

  private val GateThreshold = 4

  private def phraseCol(p: String): String =
    "n_" + p.replace(' ', '_')

  def blocklistGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tail = BlockPhrases.zipWithIndex.map { case (p, i) =>
      s"repeat(' $p pad', cast((doc_id + $i) % 3 as int))"
    }.mkString(", ")
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id",
        s"concat(text, ' ##', $tail) as raw")
      .as[(Long, String)]
      .mapPartitions { it =>
        val ac = BlockAutomaton
        it.map { case (d, raw) =>
          val c = ac.countAll(raw)
          (d, c(0), c(1), c(2), c(3), c(4), c.sum)
        }
      }
      .toDF("doc_id" +: BlockPhrases.map(phraseCol) :+ "total_hits": _*)
      .selectExpr(("doc_id" +: BlockPhrases.map(phraseCol) :+ "total_hits") :+
        s"cast(total_hits >= $GateThreshold as int) as gated": _*)
  }

  val blocklistGateSql: String = {
    val tail = BlockPhrases.zipWithIndex.map { case (p, i) =>
      s"repeat(' $p pad', CAST((doc_id + $i) % 3 AS INT))"
    }.mkString(" || ")
    val counts = BlockPhrases.map { p =>
      s"CAST((len(raw) - len(replace(raw, '$p', ''))) // ${p.length} AS BIGINT) AS ${phraseCol(p)}"
    }.mkString(",\n      |  ")
    val total = BlockPhrases.map(phraseCol).mkString(" + ")
    s"""WITH r AS (SELECT doc_id, text || ' ##' || $tail AS raw FROM documents),
      |c AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  $counts
      |  FROM r)
      |SELECT *, $total AS total_hits,
      |  CAST($total >= $GateThreshold AS INT) AS gated
      |FROM c""".stripMargin
  }

  // ------------------------------------------------- robust outliers

  /** Robust per-source length outliers via median/MAD (the
    * Hampel-filter decision rule, the standard robust alternative to
    * mean±3σ — one pathological 100 MB page inflates a source's mean
    * and σ enough to mask every other outlier, but moves its median and
    * MAD not at all). Flags docs with |len − median| > 3·MAD.
    *
    * Medians are the LOWER median, pinned explicitly as the value at
    * row (n+1) div 2 of the (n_tokens, doc_id) ordering — written out
    * as row_number on BOTH engines rather than a native `median()`,
    * whose even-count interpolation (x.5 averages) differs across
    * engines and would leave the oracle comparing conventions instead
    * of data. Every comparison is integer (dev > 3·MAD in tokens), so
    * the gate is exact.
    *
    * 100 TB shape: all windows partition by SOURCE — per-group sorts,
    * parallel across sources, never a global window. An exact
    * per-source median does cost a sort of that source's rows; at
    * extreme per-source cardinality the drop-in relaxation is
    * approx_percentile with the same downstream rule.
    */
  def robustOutliers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id", "source",
        "cast(size(split(text, ' ')) as long) as n_tokens")
      // four lineage branches (med window, dev join x2, mad window) —
      // checkpoint so the scan+tokenize runs once, not four times
      .localCheckpoint(true)
    val byLen = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    val all = Window.partitionBy("source")
    val med = d
      .withColumn("rn", row_number().over(byLen))
      .withColumn("n", count(lit(1)).over(all))
      .where("rn = (n + 1) div 2")
      .selectExpr("source", "n_tokens as med")
    val dev = d.join(med, Seq("source"))
      .selectExpr("doc_id", "source", "n_tokens", "med",
        "abs(n_tokens - med) as dev")
    val byDev = Window.partitionBy("source").orderBy("dev", "doc_id")
    val mad = dev
      .withColumn("rn", row_number().over(byDev))
      .withColumn("n", count(lit(1)).over(all))
      .where("rn = (n + 1) div 2")
      .selectExpr("source", "dev as mad")
    dev.join(mad, Seq("source"))
      .selectExpr("doc_id", "source", "n_tokens", "med", "mad",
        "dev > 3 * mad as outlier")
  }

  val robustOutliersSql: String =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |m AS (SELECT source, n_tokens AS med FROM (
      |    SELECT source, n_tokens, doc_id,
      |      row_number() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS rn,
      |      count(*) OVER (PARTITION BY source) AS n
      |    FROM d) WHERE rn = (n + 1) // 2),
      |v AS (SELECT d.doc_id, d.source, d.n_tokens, m.med,
      |    abs(d.n_tokens - m.med) AS dev
      |  FROM d JOIN m USING (source)),
      |a AS (SELECT source, dev AS mad FROM (
      |    SELECT source, dev, doc_id,
      |      row_number() OVER (PARTITION BY source ORDER BY dev, doc_id) AS rn,
      |      count(*) OVER (PARTITION BY source) AS n
      |    FROM v) WHERE rn = (n + 1) // 2)
      |SELECT v.doc_id, v.source, v.n_tokens, v.med, a.mad,
      |  v.dev > 3 * a.mad AS outlier
      |FROM v JOIN a USING (source)""".stripMargin

  // ---------------------------------------------- distribution drift

  /** Per-source distribution drift vs the corpus — the monitoring gate
    * that catches a bad crawl batch or a broken extractor BEFORE the
    * corpus ships: KL(source ‖ corpus) over the token-length histogram
    * (6 bands). A source whose length profile diverges from the
    * corpus-wide reference is the classic symptom of truncated
    * extractions, boilerplate leakage, or a spam influx.
    *
    * Exactness: every histogram cell is an integer count; each bucket's
    * KL term is computed with the IDENTICAL formula text on both
    * engines and quantized to integer micro-nats (round half-away-from-
    * zero, matching both engines), so the per-source SUM is an
    * order-free integer — no float addition-order hazard (the same
    * micro-nat discipline as the DSIR/perplexity gates, and the same
    * residual assumption: libm `log` agreeing bitwise between the JVM
    * and DuckDB on this host class — ln is not IEEE-correctly-rounded,
    * so a term landing within an ulp of a .5 micro-nat boundary could
    * in principle flip by 1; the discipline confines the blast radius
    * to ±1 on one source's sum, and the three-scale-factor gate has
    * never observed it across this family).
    *
    * 100 TB shape: one partial-agg'd shuffle to (source, band) counts;
    * everything after is band-table-scale (≤ 6·|sources| rows) with the
    * 6-row corpus reference broadcast into the join.
    */
  def distShift(spark: SparkSession, dir: String): DataFrame = {
    val sb = docs(spark, dir)
      .selectExpr("source",
        "cast(least(size(split(text, ' ')) div 40, 5) as long) as band")
      .groupBy("source", "band")
      .agg(count(lit(1)).cast("long").as("n_sb"))
      .localCheckpoint(true)
    val corpus = sb.groupBy("band")
      .agg(sum("n_sb").cast("long").as("n_cb"))
      .withColumn("n_c", sum("n_cb").over(
        org.apache.spark.sql.expressions.Window.partitionBy()).cast("long"))
    val srcTot = sb.groupBy("source").agg(sum("n_sb").cast("long").as("n_s"))
    sb.join(broadcast(corpus), Seq("band"))
      .join(srcTot, Seq("source"))
      .selectExpr("source", "n_s",
        """cast(round(1000000.0D * (cast(n_sb as double) / n_s) *
          |  ln((cast(n_sb as double) * n_c) / (cast(n_s as double) * n_cb))) as bigint) as term""".stripMargin)
      .groupBy("source")
      .agg(max("n_s").as("n_docs"), sum("term").cast("long").as("kl_unats"))
      .selectExpr("source", "cast(n_docs as long) as n_docs", "kl_unats",
        "kl_unats > 20000 as drifted")
  }

  val distShiftSql: String =
    """WITH sb AS (SELECT source,
      |    least(len(string_split(text, ' ')) // 40, 5) AS band,
      |    CAST(count(*) AS BIGINT) AS n_sb
      |  FROM documents GROUP BY 1, 2),
      |cb AS (SELECT band, CAST(sum(n_sb) AS BIGINT) AS n_cb,
      |    CAST(sum(sum(n_sb)) OVER () AS BIGINT) AS n_c
      |  FROM sb GROUP BY band),
      |st AS (SELECT source, CAST(sum(n_sb) AS BIGINT) AS n_s FROM sb GROUP BY source),
      |t AS (SELECT sb.source, st.n_s,
      |    CAST(round(1000000.0 * (CAST(n_sb AS DOUBLE) / n_s) *
      |      ln((CAST(n_sb AS DOUBLE) * n_c) / (CAST(n_s AS DOUBLE) * n_cb))) AS BIGINT) AS term
      |  FROM sb JOIN cb USING (band) JOIN st ON st.source = sb.source)
      |SELECT source, CAST(max(n_s) AS BIGINT) AS n_docs,
      |  CAST(sum(term) AS BIGINT) AS kl_unats,
      |  sum(term) > 20000 AS drifted
      |FROM t GROUP BY source""".stripMargin

  // -------------------------------------------------------- registry

  /** Power-law tail fit of the document-length distribution — the Hill
    * estimator (Hill 1975; the MLE for the Pareto tail exponent, the
    * standard tool of Clauset–Shalizi–Newman 2009 §3): over docs with
    * n_chars ≥ x_min = 100, alpha = 1 + n / Σ ln(x_i / x_min). Web doc
    * lengths are canonically heavy-tailed; a tail exponent that drifts
    * between crawls flags a template/spam regime change. Integer
    * inputs; the estimate is one shared double formula rounded once.
    *
    * 100 TB shape: one filtered single-row aggregate — the ln-sum is a
    * map-side partial sum; nothing else moves.
    */
  def powerlawTail(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .where("n_chars >= 100")
      .agg(
        expr("cast(count(*) as long) as n_tail"),
        expr("sum(ln(cast(n_chars as double) / 100.0D)) as lnsum"))
      .selectExpr("n_tail", "round(lnsum, 6) as lnsum",
        "round(1.0D + cast(n_tail as double) / lnsum, 6) as alpha")

  val powerlawTailSql: String =
    """WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n_tail,
      |    sum(ln(CAST(n_chars AS DOUBLE) / 100.0)) AS lnsum
      |  FROM documents WHERE n_chars >= 100)
      |SELECT n_tail, round(lnsum, 6) AS lnsum,
      |  round(1.0 + CAST(n_tail AS DOUBLE) / lnsum, 6) AS alpha
      |FROM t""".stripMargin

  /** Crawl-balance Gini coefficient over docs-per-host — the inequality
    * rollup a crawl operator reads next to the budget allocator: 0 =
    * perfectly even host coverage, →1 = one megasite ate the crawl.
    * The host key carries planted skew (see below) so the metric is
    * value-bearing at every SF.
    * Computed by the exact sorted-rank identity
    * G = (2·Σ i·x_(i)) / (n·Σ x) − (n+1)/n with integer rank products
    * (ties broken by host id — same total either way; the identity is
    * permutation-stable within ties). The host dim is metadata-scale,
    * so the rank window is over ≤|hosts| rows, never documents.
    */
  def hostGini(spark: SparkSession, dir: String): DataFrame =
    // planted-skew host key (host k owns a 2k+1 share of every 400
    // docs): the flat doc_id % 20 key is perfectly uniform, which makes
    // Gini identically 0 — value-free. floor(sqrt(small int)) is exact
    // in IEEE double on both engines.
    docs(spark, dir)
      .selectExpr("cast(floor(sqrt(cast(doc_id % 400 as double))) as long) as host_id")
      .groupBy("host_id")
      .agg(count(lit(1)).cast("long").as("x"))
      .withColumn("i", expr("row_number() over (order by x, host_id)"))
      .agg(
        expr("cast(count(*) as long) as n_hosts"),
        expr("cast(sum(x) as long) as n_docs"),
        expr("cast(sum(cast(i as long) * x) as long) as rank_sum"))
      .selectExpr("n_hosts", "n_docs", "rank_sum",
        """round(2.0D * rank_sum / (cast(n_hosts as double) * n_docs)
          |  - (cast(n_hosts as double) + 1.0D) / n_hosts, 6) as gini""".stripMargin)

  val hostGiniSql: String =
    """WITH h AS (SELECT CAST(floor(sqrt(CAST(doc_id % 400 AS DOUBLE))) AS BIGINT) AS host_id,
      |    CAST(count(*) AS BIGINT) AS x FROM documents GROUP BY 1),
      |r AS (SELECT x, row_number() OVER (ORDER BY x, host_id) AS i FROM h),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n_hosts,
      |    CAST(sum(x) AS BIGINT) AS n_docs,
      |    CAST(sum(i * x) AS BIGINT) AS rank_sum FROM r)
      |SELECT n_hosts, n_docs, rank_sum,
      |  round(2.0 * rank_sum / (CAST(n_hosts AS DOUBLE) * n_docs)
      |    - (CAST(n_hosts AS DOUBLE) + 1.0) / n_hosts, 6) AS gini
      |FROM a""".stripMargin

  def registry: Map[String, Gated] = Map(
    "q_powerlaw_tail" -> Gated(powerlawTail(_, _), powerlawTailSql),
    "q_host_gini" -> Gated(hostGini(_, _), hostGiniSql),
    "q_decontaminate" -> Gated(decontaminate(_, _), decontaminateSql),
    "q_blocklist_gate" -> Gated(blocklistGate(_, _), blocklistGateSql),
    "q_robust_outliers" -> Gated(robustOutliers(_, _), robustOutliersSql),
    "q_dist_shift" -> Gated(distShift(_, _), distShiftSql),
    "q_lm_perplexity" -> Gated(lmPerplexity(_, _), lmPerplexitySql))
}
