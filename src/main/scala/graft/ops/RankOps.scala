package graft.ops

import graft.Gated
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, expr, lit, min, posexplode, sum, when}

/** Relevance scoring over the corpus — the retrieval/model-gate stages
  * of a training-data pipeline (public recipes: BM25 retrieval for
  * dedup-against-eval and data selection; a hashed linear classifier is
  * the fasttext-style quality filter of CCNet/FineWeb lineage).
  *
  * 100 TB shape: everything per-document is in-row (tf, length, feature
  * hashes — text never shuffles); corpus-level statistics reduce to a
  * ONE-ROW aggregate broadcast back; the final top-k rides the bounded
  * [[graft.functions.KBest]] aggregate, so the combine exchange carries
  * at most k rows per partition.
  */
object RankOps {

  /** The fixed 5-term query (vocabulary words of the synthetic corpus). */
  private val Terms = Seq("spark", "table", "row", "hash", "merge")
  private val K1 = "1.2D"
  private val B = "0.75D"

  /** BM25 top-10: classic Robertson/Okapi scoring with the +1 idf
    * (always positive). Plan: in-row tf per term → one single-row
    * stats aggregate (df per term, N, avgdl) broadcast back → in-row
    * score (fixed-order 5-term sum) → bounded global top-k.
    */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val tfCols = Terms.zipWithIndex.map { case (t, i) =>
      s"cast(size(filter(split(text, ' '), x -> x = '$t')) as double) as tf$i"
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr(Seq("doc_id", "cast(size(split(text, ' ')) as double) as dl") ++ tfCols: _*)
    val dfExprs = Terms.indices.map(i =>
      expr(s"sum(case when tf$i > 0 then 1.0 else 0.0 end) as df$i"))
    val stats = docs.agg(
      expr("cast(count(*) as double) as n"),
      (expr("avg(dl) as avgdl") +: dfExprs): _*)
    val scored = docs.crossJoin(broadcast(stats))
      .selectExpr("doc_id",
        Terms.indices.map { i =>
          s"ln((n - df$i + 0.5) / (df$i + 0.5) + 1.0) * tf$i * ($K1 + 1.0)" +
            s" / (tf$i + $K1 * (1.0 - $B + $B * dl / avgdl))"
        }.mkString("(", " + ", ") as score"))
      .where("score > 0")
    scored.groupBy()
      .agg(graft.functions.KBest.topk(10)(col("doc_id"), col("score")).as("top"))
      .select(posexplode(col("top")))
      .selectExpr("col.n_id as doc_id", "round(col.sim, 6) as score",
        "cast(pos + 1 as long) as rk")
  }

  val bm25TopKSql: String = {
    val termRows = Terms.map(t => s"('$t')").mkString(", ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws,
       |             CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
       |           FROM documents),
       |t(term) AS (VALUES $termRows),
       |tf AS (SELECT d.doc_id, d.dl, t.term,
       |         CAST(len(list_filter(d.ws, x -> x = t.term)) AS DOUBLE) AS tf
       |       FROM d CROSS JOIN t),
       |df AS (SELECT term, sum(CASE WHEN tf > 0 THEN 1.0 ELSE 0.0 END) AS df
       |       FROM tf GROUP BY term),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM d),
       |sc AS (SELECT tf.doc_id,
       |         sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
       |             * tf.tf * (1.2 + 1.0)
       |             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / st.avgdl))) AS score
       |       FROM tf JOIN df USING (term) CROSS JOIN st
       |       WHERE tf.tf > 0 GROUP BY tf.doc_id)
       |SELECT doc_id, round(score, 6) AS score, CAST(rk AS BIGINT) AS rk FROM (
       |  SELECT doc_id, score,
       |    row_number() OVER (ORDER BY score DESC, doc_id) AS rk FROM sc)
       |WHERE rk <= 10""".stripMargin
  }

  /** Hashed linear quality classifier — the fasttext-filter analog:
    * feature = word, weight(word) = md5-derived value in [-0.5, 0.5)
    * (first two hex chars / 256 - 0.5 — the same lowercase-hex md5 both
    * engines compute), score = mean weight over the document's words, a
    * left-to-right in-row fold. Pure map-side projection, zero shuffle;
    * a real model would swap the hash for a broadcast weight vector
    * with the identical plan shape.
    */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id",
        "aggregate(split(text, ' '), 0L, (a, w) -> a + " +
          "cast(conv(substring(md5(cast(w as binary)), 1, 2), 16, 10) as long)) as hsum",
        "cast(size(split(text, ' ')) as long) as n_words")
      // score = hsum/256n - 0.5 = (hsum - 128n) / (256n); keep the exact
      // integer numerator — a rounded float sits on .5-at-6-decimals
      // boundaries constantly (every value is a multiple of 1/(256n)),
      // where Spark (HALF_UP) and DuckDB disagree
      .selectExpr("doc_id", "hsum - 128 * n_words as score_num", "n_words",
        "hsum > 128 * n_words as pass")

  val qualityClassifierSql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    CAST(list_sum(list_transform(string_split(text, ' '),
      |      w -> ('0x' || substr(md5(w), 1, 2))::INT)) AS BIGINT) AS hsum,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
      |  FROM documents)
      |SELECT doc_id, hsum - 128 * n_words AS score_num, n_words,
      |  hsum > 128 * n_words AS pass
      |FROM s""".stripMargin

  /** Shared input for classifier-evaluation queries: each doc's hashed
    * classifier score (the [[qualityClassifier]] sum, kept as exact
    * integers) quantized to 16 fixed bins — bin = hsum div (16·n_words),
    * i.e. ⌊score·16⌋ over score = hsum/(256·n_words) ∈ [0,1) — plus a
    * deterministic gold label: stopword density ≥ 1/16 (the heuristic
    * gate a fasttext-style filter is typically evaluated against).
    * Fixed-precision quantization is what makes every downstream
    * evaluation constant-size: the per-bin table has ≤16 rows at ANY
    * corpus scale, so ranking windows over it are free.
    */
  private def scoredLabeled(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id",
        "aggregate(split(text, ' '), 0L, (a, w) -> a + " +
          "cast(conv(substring(md5(cast(w as binary)), 1, 2), 16, 10) as long)) as hsum",
        "cast(size(split(text, ' ')) as long) as n_words",
        "cast(size(filter(split(text, ' '), w -> w = 'the' or w = 'a')) as long) as n_stop")
      .selectExpr("doc_id", "hsum div (16 * n_words) as bin",
        "n_stop * 16 >= n_words as label")

  private val scoredLabeledSql: String =
    """s AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    CAST(list_sum(list_transform(string_split(text, ' '),
      |      w -> ('0x' || substr(md5(w), 1, 2))::INT)) AS BIGINT) AS hsum,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop
      |  FROM documents),
      |g AS (SELECT doc_id, hsum // (16 * n_words) AS bin,
      |    n_stop * 16 >= n_words AS label FROM s),
      |b AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS np
      |  FROM g GROUP BY bin)""".stripMargin

  /** Classifier reliability diagram (calibration bins): per score bin,
    * the doc count, gold-positive count, and exact integer positive rate
    * in ppm — the table a threshold choice is read off of before gating
    * a corpus on the classifier. One partial-agg'd shuffle on a ≤16-value
    * key; the ppm is floor division so both engines agree bit-for-bit.
    */
  def calibrationBins(spark: SparkSession, dir: String): DataFrame =
    scoredLabeled(spark, dir)
      .groupBy(col("bin").cast("long").as("bin"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("label"), 1L).otherwise(0L)).cast("long").as("n_pos"))
      .selectExpr("bin", "n", "n_pos", "(n_pos * 1000000L) div n as pos_ppm")

  val calibrationBinsSql: String =
    s"""WITH $scoredLabeledSql
       |SELECT CAST(bin AS BIGINT) AS bin, n, np AS n_pos,
       |  CAST((np * 1000000) // n AS BIGINT) AS pos_ppm
       |FROM b""".stripMargin

  /** Exact Mann–Whitney AUC of the quality classifier against the gold
    * gate, over the 16-bin quantized score (within-bin pairs count as
    * ties at weight ½ — the standard fixed-precision-score AUC).
    * u2 = 2·U = Σ_bins n_pos(b)·(2·cumNeg(<b) + n_neg(b)), all integer;
    * auc_ppm = ⌊u2·5·10⁵ / (n_pos·n_neg)⌋. The pair sum never
    * materializes pairs: it needs only per-bin counts and a running
    * negative total — a window over the ≤16-row bin table, then one
    * global one-row reduce. At 10^12 docs the only sized structure is
    * the 16-row distribution.
    */
  def qualityAuc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = scoredLabeled(spark, dir)
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(when(col("label"), 1L).otherwise(0L)).as("np"))
      .selectExpr("bin", "np", "n - np as nn")
    val w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    b.select(col("np"), col("nn"),
        coalesce(sum(col("nn")).over(w), lit(0L)).as("cum_nn"))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(expr("np * (2 * cum_nn + nn)")).as("u2"))
      .selectExpr("cast(n_pos as long) as n_pos", "cast(n_neg as long) as n_neg",
        "cast(u2 as long) as u2",
        "cast((u2 * 500000L) div (n_pos * n_neg) as long) as auc_ppm")
  }

  val qualityAucSql: String =
    s"""WITH $scoredLabeledSql,
       |c AS (SELECT np, n - np AS nn,
       |    COALESCE(sum(n - np) OVER (ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_nn
       |  FROM b)
       |SELECT CAST(sum(np) AS BIGINT) AS n_pos,
       |  CAST(sum(nn) AS BIGINT) AS n_neg,
       |  CAST(sum(np * (2 * cum_nn + nn)) AS BIGINT) AS u2,
       |  CAST((sum(np * (2 * cum_nn + nn)) * 500000)
       |    // (sum(np) * sum(nn)) AS BIGINT) AS auc_ppm
       |FROM c""".stripMargin

  /** Per-domain quality quota — keep each source's best documents up to
    * a token budget (the FineWeb/RefinedWeb-style domain balancing step:
    * quality-rank within domain, cut at the budget). The naive shape is
    * a running token sum over score-ordered docs PER DOMAIN — a hot
    * domain with 10^9 pages funnels through one task. This is the
    * scale shape instead: quantize the classifier score to the same 16
    * fixed bins [[calibrationBins]] uses, partial-agg (source, bin)
    * token/doc totals, run the cumulative pass over the ≤16-row per-
    * source histogram, and keep whole bins while the running total fits
    * the budget (bin-granular cut — the boundary bin is dropped, and
    * `thr_bin` makes the granularity observable). Every window input is
    * 16 rows per source at ANY corpus scale; the doc-level decision a
    * production job applies is then a broadcast threshold filter.
    */
  def domainQuota(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 20000L
    val h = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("source",
        "aggregate(split(text, ' '), 0L, (a, w) -> a + " +
          "cast(conv(substring(md5(cast(w as binary)), 1, 2), 16, 10) as long)) as hsum",
        "cast(size(split(text, ' ')) as long) as nt")
      .selectExpr("source", "hsum div (16 * nt) as bin", "nt")
      .groupBy("source", "bin")
      .agg(sum(col("nt")).as("bt"), count(lit(1)).as("bd"))
    val wCum = Window.partitionBy("source").orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("source")
    h.select(col("source"), col("bin"), col("bt"), col("bd"),
        sum(col("bt")).over(wCum).as("cum"), sum(col("bt")).over(wTot).as("tot"))
      .where(col("cum") <= budget)
      .groupBy("source")
      .agg(min(col("bin")).cast("long").as("thr_bin"),
        sum(col("bd")).cast("long").as("n_kept_docs"),
        sum(col("bt")).cast("long").as("n_kept_tokens"),
        min(col("tot")).cast("long").as("n_total_tokens"))
  }

  val domainQuotaSql: String =
    """WITH s AS (SELECT source,
      |    CAST(list_sum(list_transform(string_split(text, ' '),
      |      w -> ('0x' || substr(md5(w), 1, 2))::INT)) AS BIGINT) AS hsum,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |  FROM documents),
      |h AS (SELECT source, hsum // (16 * nt) AS bin,
      |    CAST(sum(nt) AS BIGINT) AS bt, CAST(count(*) AS BIGINT) AS bd
      |  FROM s GROUP BY 1, 2),
      |c AS (SELECT source, bin, bt, bd,
      |    sum(bt) OVER (PARTITION BY source ORDER BY bin DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(bt) OVER (PARTITION BY source) AS tot
      |  FROM h)
      |SELECT source, CAST(min(bin) AS BIGINT) AS thr_bin,
      |  CAST(sum(bd) AS BIGINT) AS n_kept_docs,
      |  CAST(sum(bt) AS BIGINT) AS n_kept_tokens,
      |  CAST(min(tot) AS BIGINT) AS n_total_tokens
      |FROM c WHERE cum <= 20000 GROUP BY source""".stripMargin

  /** Reciprocal-rank fusion (Cormack et al. 2009) of the two retrieval
    * paths this library ships: BM25 lexical top-10 and dense cosine
    * top-5 (query vector 0) — the standard hybrid-retrieval combiner,
    * score = Σ_lists 1/(60 + rank). Both input lists reuse the
    * production queries unchanged; the fused candidate set is ≤15 rows,
    * so the final ranking window is driver-scale by construction (the
    * heavy lifting — corpus scoring, bounded top-k — happened inside
    * the input queries' plans).
    */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val bm = bm25TopK(spark, dir).selectExpr("doc_id as b_id", "rk")
    val dn = SimilarityOps.annBrute(spark, dir)
      .where("q_id = 0 AND rn <= 5").selectExpr("n_id as a_id", "rn")
    bm.join(dn, col("b_id") === col("a_id"), "full")
      .selectExpr(
        "cast(coalesce(b_id, a_id) as bigint) as doc_id",
        "b_id is not null as in_bm25",
        "a_id is not null as in_dense",
        // D suffix: Spark's bare 1.0 literal is DECIMAL, like DuckDB's
        "coalesce(1.0D / (60 + rk), 0.0D) + coalesce(1.0D / (60 + rn), 0.0D) as rrf0")
      .selectExpr("doc_id", "in_bm25", "in_dense", "round(rrf0, 6) as rrf",
        "cast(row_number() over (order by rrf0 desc, doc_id) as bigint) as fused_rank")
  }

  val rrfFusionSql: String =
    s"""WITH b0 AS ($bm25TopKSql),
       |b AS (SELECT doc_id AS b_id, rk FROM b0),
       |a0 AS (${SimilarityOps.annBruteSql}),
       |a AS (SELECT n_id AS a_id, rn FROM a0 WHERE q_id = 0 AND rn <= 5),
       |f AS (SELECT coalesce(b_id, a_id) AS doc_id,
       |    b_id IS NOT NULL AS in_bm25, a_id IS NOT NULL AS in_dense,
       |    -- ::DOUBLE: DuckDB's bare 1.0 is DECIMAL and would carry
       |    -- decimal typing through round() into the hash compare
       |    coalesce(1.0::DOUBLE / (60 + rk), 0.0::DOUBLE)
       |      + coalesce(1.0::DOUBLE / (60 + rn), 0.0::DOUBLE) AS rrf0
       |  FROM b FULL JOIN a ON a_id = b_id)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id, in_bm25, in_dense,
       |  round(rrf0, 6) AS rrf,
       |  CAST(row_number() OVER (ORDER BY rrf0 DESC, doc_id) AS BIGINT) AS fused_rank
       |FROM f""".stripMargin

  /** DSIR-style data selection (Data Selection via Importance
    * Resampling, Xie et al. 2023 — public method): hashed unigram
    * features, a target distribution fit on the small high-quality
    * slice (source = src0) and a raw distribution on the rest, per-doc
    * importance weight = Σ_w log(p_target[b(w)] / p_raw[b(w)]) with
    * add-one smoothing; keep docs that look more target- than raw-like.
    *
    * 100 TB shape: the FIT is one explode → 64-key partial-agg'd
    * groupBy collected to the driver (the model artifact, like the IVF
    * codebook); SCORING is a pure zero-shuffle projection with the
    * 64-entry log-ratio table inlined as literals. Cross-engine
    * exactness: log-ratios quantize to integer micro-nats (HALF_UP both
    * engines) so each doc's score is an ORDER-INDEPENDENT exact integer
    * sum — only the 64 table entries involve floats at all.
    */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val B = 64
    val bucket = s"cast(conv(substring(md5(cast(w as binary)), 1, 2), 16, 10) as int) % $B"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nt = new Array[Long](B)
    val nr = new Array[Long](B)
    docs.selectExpr("source = 'src0' as tgt", "explode(split(text, ' ')) as w")
      .selectExpr("tgt", s"$bucket as b")
      .groupBy("b")
      .agg(expr("sum(case when tgt then 1L else 0L end) as nt"),
        expr("sum(case when tgt then 0L else 1L end) as nr"))
      .collect()
      .foreach(r => { nt(r.getInt(0)) = r.getLong(1); nr(r.getInt(0)) = r.getLong(2) })
    val tt = nt.sum.toDouble
    val tr = nr.sum.toDouble
    val llr = Array.tabulate(B) { b =>
      SimilarityOps.halfUp(1000000.0 * math.log(
        ((nt(b) + 1.0) / (tt + B)) / ((nr(b) + 1.0) / (tr + B))))
    }
    val llrLit = llr.mkString("array(", "L, ", "L)")
    docs.selectExpr("cast(doc_id as long) as doc_id", "text")
      .selectExpr("doc_id",
        s"aggregate(split(text, ' '), 0L, (a, w) -> a + element_at($llrLit, ($bucket) + 1)) as dsir_score")
      .selectExpr("doc_id", "dsir_score", "dsir_score > 0 as keep")
  }

  val dsirSelectSql: String =
    """WITH w AS (SELECT doc_id, source = 'src0' AS tgt,
      |    unnest(string_split(text, ' ')) AS w FROM documents),
      |bw AS (SELECT doc_id, tgt, ('0x' || substr(md5(w), 1, 2))::INT % 64 AS b FROM w),
      |ct AS (SELECT b, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS nt,
      |              sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS nr
      |       FROM bw GROUP BY b),
      |tot AS (SELECT CAST(sum(nt) AS DOUBLE) AS tt, CAST(sum(nr) AS DOUBLE) AS tr FROM ct),
      |llr AS (SELECT g.b,
      |    CAST(round(1000000.0 * ln(
      |      ((coalesce(ct.nt, 0) + 1.0) / (tot.tt + 64))
      |      / ((coalesce(ct.nr, 0) + 1.0) / (tot.tr + 64)))) AS BIGINT) AS v
      |  FROM (SELECT unnest(range(0, 64)) AS b) g
      |  LEFT JOIN ct ON ct.b = g.b CROSS JOIN tot),
      |sc AS (SELECT bw.doc_id, CAST(sum(llr.v) AS BIGINT) AS dsir_score
      |       FROM bw JOIN llr ON llr.b = bw.b GROUP BY bw.doc_id)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, dsir_score, dsir_score > 0 AS keep
      |FROM sc""".stripMargin

  private val PostingsHead = 8

  /** Inverted-index construction — the IR-native structure under BM25:
    * per term, exact document frequency plus the head of its postings
    * list (the [[graft.functions.KBest]] bounded aggregator ships ≤k
    * doc ids per partition per term, so a stop-word's postings never
    * materialize in one buffer — at 10^12 docs full postings are
    * written out partitioned by term range, and this head+df row is the
    * dictionary entry). One partial-agg'd shuffle of (term, id) pairs.
    */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr(
        "cast(doc_id as long) as doc_id",
        "explode(array_distinct(split(text, ' '))) as term")
      .where("length(term) > 0")
      // pad to max-long width: lpad TRUNCATES beyond its length, which
      // would misorder (and even collide) ids past 10^12
      .selectExpr("term", "lpad(cast(doc_id as string), 19, '0') as h", "doc_id")
      .groupBy("term")
      .agg(
        count(lit(1)).cast("long").as("df"),
        graft.functions.KBest.mink(PostingsHead)(col("h"), col("doc_id")).as("picks"))
      .selectExpr("term", "df",
        // serialized scalar, not ARRAY<BIGINT>: the driver's comparator
        // sorts columns with pandas, which cannot factorize list cells
        "array_join(transform(picks, p -> cast(p.id as string)), ',') as postings_head")

  val invertedIndexSql: String =
    s"""WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |                  unnest(list_distinct(string_split(text, ' '))) AS term
      |           FROM documents),
      |f AS (SELECT doc_id, term FROM t WHERE len(term) > 0)
      |SELECT term, CAST(count(*) AS BIGINT) AS df,
      |  array_to_string(list_transform((list_sort(list(doc_id)))[1:$PostingsHead],
      |    x -> CAST(x AS VARCHAR)), ',') AS postings_head
      |FROM f GROUP BY term""".stripMargin

  /** Per-document TF-IDF keywords — the classic per-doc descriptor the
    * corpus tooling hangs off retrieval (dataset-card term clouds,
    * cluster labeling, topic drift audits): top-3 terms per document by
    * `tf * ln(N / df)`, ties broken lexically. Rounded-6 score is the
    * ORDERING key on both engines, so rank ties resolve identically.
    *
    * 100 TB shape: per-doc (term, tf) pairs are computed IN-ROW
    * (distinct + count over the token array — text never shuffles);
    * the document-frequency table is vocabulary-sized and broadcast
    * back; corpus N is a one-row broadcast. The only wide exchange is
    * the per-doc top-3 window, partitioned by doc_id (bounded
    * partitions: a doc's distinct-term count).
    */
  def tfidfKeywords(spark: SparkSession, dir: String): DataFrame = {
    val tf = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id", "split(text, ' ') as ws")
      .selectExpr("doc_id",
        """explode(transform(array_distinct(filter(ws, x -> x <> '')),
          |  w -> struct(w as w, cast(size(filter(ws, x -> x = w)) as long) as tf))) as t""".stripMargin)
      .selectExpr("doc_id", "t.w as term", "t.tf as tf")
      .localCheckpoint(true)
    val dfT = tf.groupBy("term").agg(count(lit(1)).cast("long").as("df"))
    val n = spark.read.parquet(s"$dir/documents.parquet")
      .agg(expr("cast(count(*) as long) as n"))
    val scored = tf.join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(n))
      .selectExpr("doc_id", "term", "tf", "df",
        "round(cast(tf as double) * ln(cast(n as double) / cast(df as double)), 6) as score")
    scored
      .withColumn("rk", expr(
        "cast(row_number() over (partition by doc_id order by score desc, term) as bigint)"))
      .where("rk <= 3")
      .select("doc_id", "rk", "term", "tf", "df", "score")
  }

  val tfidfKeywordsSql: String =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
      |tf AS (SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf
      |  FROM d, LATERAL unnest(ws) AS t(w) GROUP BY 1, 2),
      |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      |s AS (SELECT doc_id, term, tf, df,
      |    round(CAST(tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS score
      |  FROM tf JOIN dft USING (term) CROSS JOIN n),
      |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
      |  FROM s)
      |SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tf, df, score
      |FROM r WHERE rk <= 3""".stripMargin

  /** Postings-compression planning next to [[invertedIndex]] — the
    * storage question an index build answers before writing shards: per
    * term, the exact byte cost of the sorted postings list under
    * delta + LEB128 varint coding vs raw fixed-width int64, and the
    * compression ratio. Gap sizes come from one lag window partitioned
    * by term (first entry encodes its absolute id); the varint width is
    * an integer CASE ladder, so both engines agree bit-for-bit.
    *
    * 100 TB shape: one (term, doc_id) exchange partitioned by term — the
    * same shuffle the index build itself pays; the window is per-term
    * (bounded by df; a production build range-partitions hot terms'
    * postings, which only splits the window). No floats except the
    * final shared ratio formula.
    */
  def postingSizes(spark: SparkSession, dir: String): DataFrame = {
    val varint = (v: String) =>
      s"""cast(case when $v < 128 then 1 when $v < 16384 then 2
         |  when $v < 2097152 then 3 when $v < 268435456 then 4
         |  when $v < 34359738368L then 5 else 9 end as long)""".stripMargin
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr(
        "cast(doc_id as long) as doc_id",
        "explode(array_distinct(split(text, ' '))) as term")
      .where("length(term) > 0")
      .withColumn("gap", expr(
        "doc_id - lag(doc_id) over (partition by term order by doc_id)"))
      .selectExpr("term", s"${varint("coalesce(gap, doc_id)")} as vbytes")
      .groupBy("term")
      .agg(count(lit(1)).cast("long").as("df"), sum("vbytes").cast("long").as("varint_bytes"))
      .selectExpr("term", "df", "8 * df as raw_bytes", "varint_bytes",
        "round(cast(8 * df as double) / varint_bytes, 6) as compression")
  }

  val postingSizesSql: String = {
    def varint(v: String) =
      s"""CAST(CASE WHEN $v < 128 THEN 1 WHEN $v < 16384 THEN 2
         |  WHEN $v < 2097152 THEN 3 WHEN $v < 268435456 THEN 4
         |  WHEN $v < 34359738368 THEN 5 ELSE 9 END AS BIGINT)""".stripMargin
    s"""WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    unnest(list_distinct(string_split(text, ' '))) AS term FROM documents),
      |f AS (SELECT doc_id, term FROM t WHERE len(term) > 0),
      |g AS (SELECT term,
      |    doc_id - lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id) AS gap,
      |    doc_id FROM f),
      |v AS (SELECT term, ${varint("coalesce(gap, doc_id)")} AS vbytes FROM g)
      |SELECT term, CAST(count(*) AS BIGINT) AS df,
      |  CAST(8 * count(*) AS BIGINT) AS raw_bytes,
      |  CAST(sum(vbytes) AS BIGINT) AS varint_bytes,
      |  round(CAST(8 * count(*) AS DOUBLE) / sum(vbytes), 6) AS compression
      |FROM v GROUP BY term""".stripMargin
  }

  /** Self-retrieval sanity eval — the planted-ground-truth retrieval
    * check an index rollout runs before any human relevance labels
    * exist: every 41st document donates its first 8 words as a query
    * (the same donor convention as the decontamination eval set); the
    * donor document itself is the known-relevant answer, scored by
    * EXACT distinct-term overlap with deterministic ties (higher
    * overlap first, then smaller doc_id). Emitted per query: the
    * donor's overlap, its strict rank, and the candidate count — a
    * donor ranking below its near-duplicates is visible data, not an
    * averaged-away float (no MRR mean: summing 1/rank floats is
    * order-sensitive across engines).
    *
    * 100 TB shape: the query set is eval-sized and broadcast; per-doc
    * overlap is a map-side join on the term key against the tiny query
    * term table; the rank is one partial-agg'd count per query — no
    * window over the corpus.
    */
  def selfRetrievalRank(spark: SparkSession, dir: String): DataFrame = {
    // slice the RAW (order-preserving) word list, distinct only after —
    // DuckDB's list_distinct does not preserve first-occurrence order,
    // so distinct-then-slice would pick different query terms per engine
    val docsT = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id",
        "filter(split(text, ' '), w -> w <> '') as ws")
      .localCheckpoint(true)
    val qTerms = docsT.where("doc_id % 41 = 0")
      .selectExpr("doc_id as qid", "explode(array_distinct(slice(ws, 1, 8))) as term")
    val docTerms = docsT.selectExpr("doc_id", "explode(array_distinct(ws)) as term")
    val overlaps = docTerms.join(broadcast(qTerms), Seq("term"))
      .groupBy("qid", "doc_id")
      .agg(count(lit(1)).cast("long").as("ov"))
      .localCheckpoint(true)
    val donor = overlaps.where("qid = doc_id")
      .selectExpr("qid", "ov as donor_ov")
    overlaps.join(broadcast(donor), Seq("qid"))
      .groupBy("qid")
      .agg(
        min("donor_ov").cast("long").as("donor_overlap"),
        expr("""cast(1 + sum(case when ov > donor_ov
               |  or (ov = donor_ov and doc_id < qid) then 1 else 0 end) as long)""".stripMargin)
          .as("rank"),
        count(lit(1)).cast("long").as("n_candidates"))
  }

  val selfRetrievalRankSql: String =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    list_filter(string_split(text, ' '), w -> w <> '') AS ws
      |  FROM documents),
      |q AS (SELECT doc_id AS qid, unnest(list_distinct(ws[1:8])) AS term
      |  FROM d WHERE doc_id % 41 = 0),
      |dt AS (SELECT doc_id, unnest(list_distinct(ws)) AS term FROM d),
      |ov AS (SELECT q.qid, dt.doc_id, CAST(count(*) AS BIGINT) AS ov
      |  FROM dt JOIN q USING (term) GROUP BY 1, 2),
      |donor AS (SELECT qid, ov AS donor_ov FROM ov WHERE qid = doc_id)
      |SELECT ov.qid,
      |  CAST(min(donor_ov) AS BIGINT) AS donor_overlap,
      |  CAST(1 + sum(CASE WHEN ov > donor_ov
      |    OR (ov = donor_ov AND doc_id < ov.qid) THEN 1 ELSE 0 END) AS BIGINT) AS rank,
      |  CAST(count(*) AS BIGINT) AS n_candidates
      |FROM ov JOIN donor ON donor.qid = ov.qid
      |GROUP BY ov.qid""".stripMargin

  def registry: Map[String, Gated] = Map(
    "q_bm25_topk" -> Gated(bm25TopK(_, _), bm25TopKSql),
    "q_tfidf_keywords" -> Gated(tfidfKeywords(_, _), tfidfKeywordsSql),
    "q_posting_sizes" -> Gated(postingSizes(_, _), postingSizesSql),
    "q_self_retrieval_rank" -> Gated(selfRetrievalRank(_, _), selfRetrievalRankSql),
    "q_quality_classifier" -> Gated(qualityClassifier(_, _), qualityClassifierSql),
    "q_calibration_bins" -> Gated(calibrationBins(_, _), calibrationBinsSql),
    "q_quality_auc" -> Gated(qualityAuc(_, _), qualityAucSql),
    "q_domain_quota" -> Gated(domainQuota(_, _), domainQuotaSql),
    "q_dsir_select" -> Gated(dsirSelect(_, _), dsirSelectSql),
    "q_rrf_fusion" -> Gated(rrfFusion(_, _), rrfFusionSql),
    "q_inverted_index" -> Gated(invertedIndex(_, _), invertedIndexSql))
}
