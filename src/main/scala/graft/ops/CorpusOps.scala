package graft.ops

import graft.Gated
import graft.ops.TextOps.docs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-level training-data operators over `documents`: cross-document
  * segment dedup (the CCNet paragraph-dedup shape), exact n-gram
  * duplication-rate gating (the Lee et al. "Deduplicating Training Data"
  * substring-dup signal), fixed-stride training-window chunking, and
  * corpus vocabulary top-k.
  *
  * 100 TB shape, shared across the family: document text NEVER rides a
  * shuffle. Segment/shingle hashes are computed in-row (md5 inside a
  * `transform` over word slices — the array of hashes is built without
  * ever exploding the text), so the global duplicate count exchanges
  * only (hash, doc_id) pairs; text re-derives in-row after the verdict
  * joins back on doc_id (bucket-joinable at 10^12 docs). Reference
  * behavior: the reference dedups uploads whole-file by queue identity
  * (endpoint_upload.py); cross-doc segment dedup is the corpus-scale
  * generalization a Common-Crawl pipeline needs.
  */
object CorpusOps {

  /** doc_id + words array, the shared narrow scan. */
  private def words(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).selectExpr(
      "cast(doc_id as long) as doc_id",
      "split(text, ' ') as words")

  // --------------------------------------------- cross-doc segment dedup

  /** Segment width for paragraph-analog dedup. The synthetic corpus has
    * no newline paragraphs, so "paragraph" = non-overlapping 8-word
    * window; real HTML would use the extractor's block boundaries.
    */
  private val SegWords = 8

  /** CCNet-style cross-document segment dedup: a segment that appears
    * (by content hash) in more than one document is boilerplate — drop
    * it everywhere; reassemble each document from its surviving
    * segments in order. Output: (doc_id, kept_text, n_kept, n_dropped).
    *
    * Plan: in-row hash array -> posexplode (doc_id, seg_idx, h) ->
    * groupBy(h) countDistinct(doc_id) -> unique-h semi side -> surviving
    * seg_idx list per doc -> join back on doc_id, slice text in-row.
    */
  def paraDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = words(spark, dir)
    // materialize the narrow signature table ONCE (the r2 LSH lesson:
    // feeding one lineage to both sides of a join re-executes the
    // expensive hash scan twice); the checkpoint holds (long, int, hex)
    // rows only — text is re-read from parquet solely for reassembly
    val segs = w.selectExpr(
      "doc_id",
      s"""posexplode(transform(
            sequence(0, (size(words)-1) div $SegWords),
            i -> md5(array_join(slice(words, i*$SegWords+1, $SegWords), ' '))))
          as (seg_idx, h)""")
      .localCheckpoint(true)
    val uniq = segs
      .groupBy("h")
      .agg(countDistinct("doc_id").as("ndocs"))
      .where("ndocs = 1")
      .select("h")
    val keep = segs
      .join(uniq, Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("seg_idx"))).as("idxs"))
    w.join(keep, Seq("doc_id"), "left").selectExpr(
      "doc_id",
      s"""coalesce(array_join(transform(idxs,
            i -> array_join(slice(words, i*$SegWords+1, $SegWords), ' ')), ' '), '')
          as kept_text""",
      "cast(coalesce(size(idxs), 0) as long) as n_kept",
      s"cast((size(words)-1) div $SegWords + 1 - coalesce(size(idxs), 0) as long) as n_dropped")
  }

  val paraDedupSql: String =
    s"""WITH w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS words
      |           FROM documents),
      |segs AS (SELECT doc_id, i AS seg_idx,
      |                md5(array_to_string(words[i*$SegWords+1 : i*$SegWords+$SegWords], ' ')) AS h
      |         FROM w, LATERAL (SELECT unnest(range(0, (len(words)-1)//$SegWords + 1)) AS i) t),
      |uniq AS (SELECT h FROM segs GROUP BY h HAVING count(DISTINCT doc_id) = 1),
      |keep AS (SELECT doc_id, list_sort(list(seg_idx)) AS idxs
      |         FROM segs JOIN uniq USING (h) GROUP BY doc_id)
      |SELECT w.doc_id,
      |  coalesce(array_to_string(
      |    [array_to_string(w.words[i*$SegWords+1 : i*$SegWords+$SegWords], ' ') for i in keep.idxs],
      |    ' '), '') AS kept_text,
      |  CAST(coalesce(len(keep.idxs), 0) AS BIGINT) AS n_kept,
      |  CAST((len(w.words)-1)//$SegWords + 1 - coalesce(len(keep.idxs), 0) AS BIGINT) AS n_dropped
      |FROM w LEFT JOIN keep USING (doc_id)""".stripMargin

  // ------------------------------------------------ n-gram dup-rate gate

  private val ShingleWords = 8

  /** Per-document exact-duplication signal: of the doc's overlapping
    * 8-word shingles, how many (by hash) also occur in another document.
    * Emitted as exact integer numerator/denominator (n_dup, n_shingles)
    * — the gate threshold (e.g. drop when n_dup/n_shingles > 0.3) is a
    * trivial downstream filter, and integers dodge cross-engine float
    * rounding. Docs shorter than the shingle width emit (0, 0).
    */
  def ngramDupRate(spark: SparkSession, dir: String): DataFrame = {
    val w = words(spark, dir)
    // same one-materialization shape as paraDedup: the shingle-hash scan
    // feeds both the dup-hash aggregation and the per-doc count
    val sh = w.selectExpr(
      "doc_id",
      s"""posexplode(case when size(words) >= $ShingleWords
            then transform(sequence(0, size(words)-$ShingleWords),
                           i -> md5(array_join(slice(words, i+1, $ShingleWords), ' ')))
            else array() end) as (i, h)""")
      .localCheckpoint(true)
    val dup = sh
      .groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .where("nd > 1")
      .select("h")
    val per = sh
      .join(dup, Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup"))
    w.select(
        col("doc_id"),
        greatest(expr(s"size(words) - ${ShingleWords - 1}"), lit(0)).cast("long").as("n_shingles"))
      .join(per, Seq("doc_id"), "left")
      .selectExpr("doc_id", "n_shingles", "cast(coalesce(n_dup, 0) as long) as n_dup")
  }

  val ngramDupRateSql: String =
    s"""WITH w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS words
      |           FROM documents),
      |sh AS (SELECT doc_id, md5(array_to_string(words[i+1 : i+$ShingleWords], ' ')) AS h
      |       FROM w, LATERAL (SELECT unnest(range(0, greatest(len(words)-${ShingleWords - 1}, 0))) AS i) t),
      |dup AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) > 1),
      |per AS (SELECT doc_id, count(*) AS n_dup FROM sh JOIN dup USING (h) GROUP BY doc_id)
      |SELECT w.doc_id,
      |  CAST(greatest(len(w.words)-${ShingleWords - 1}, 0) AS BIGINT) AS n_shingles,
      |  CAST(coalesce(per.n_dup, 0) AS BIGINT) AS n_dup
      |FROM w LEFT JOIN per USING (doc_id)""".stripMargin

  // ------------------------------------------- training-window chunking

  private val ChunkWords = 32
  private val ChunkStride = 24

  /** Fixed-stride training-window chunking: 32-word windows every 24
    * words (8-word overlap), the standard LM packing precursor. Pure
    * in-row projection + generator explode — zero shuffle at any scale.
    */
  def chunkWindows(spark: SparkSession, dir: String): DataFrame =
    words(spark, dir)
      .selectExpr(
        "doc_id",
        "size(words) as n_words",
        s"""posexplode(transform(
              sequence(0, (size(words)-1) div $ChunkStride),
              i -> array_join(slice(words, i*$ChunkStride+1, $ChunkWords), ' ')))
            as (chunk_idx, chunk_text)""")
      .selectExpr(
        "doc_id",
        "cast(chunk_idx as long) as chunk_idx",
        "chunk_text",
        s"cast(least($ChunkWords, n_words - chunk_idx*$ChunkStride) as long) as n_tokens")

  val chunkWindowsSql: String =
    s"""WITH w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS words
      |           FROM documents)
      |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
      |  array_to_string(words[i*$ChunkStride+1 : i*$ChunkStride+$ChunkWords], ' ') AS chunk_text,
      |  CAST(least($ChunkWords, len(words) - i*$ChunkStride) AS BIGINT) AS n_tokens
      |FROM w, LATERAL (SELECT unnest(range(0, (len(words)-1)//$ChunkStride + 1)) AS i) t""".stripMargin

  // ---------------------------------------------------------- vocab top-k

  private val VocabK = 32

  /** Corpus vocabulary head: top-32 words by frequency, deterministic
    * (count desc, word asc) tie-break. Partial-agg'd map-side; the final
    * order-by-limit is a TakeOrdered over the tiny word-count table, not
    * a full sort.
    */
  def vocabTopk(spark: SparkSession, dir: String): DataFrame =
    words(spark, dir)
      .select(explode(col("words")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word")
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy(desc("n"), asc("word"))
      .limit(VocabK)

  val vocabTopkSql: String =
    s"""SELECT word, CAST(count(*) AS BIGINT) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      |WHERE len(word) > 0
      |GROUP BY word
      |ORDER BY n DESC, word ASC
      |LIMIT $VocabK""".stripMargin

  // ------------------------------------------- content-defined chunking

  /** Content-defined chunk boundaries (the LBFS/rsync idea): a boundary
    * lands after word i whenever the rolling hash of the last 4 word
    * values hits a fixed residue — so an insertion early in a document
    * shifts only the chunks it touches, unlike fixed-stride windows
    * where every later chunk changes. This is the sub-document dedup
    * primitive: chunk hashes of near-identical documents collide except
    * around the edit. Pure in-row projection, zero shuffle; integer
    * arithmetic only, so the oracle is exact.
    */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .selectExpr(
        "cast(doc_id as long) as doc_id",
        "transform(split(text, ' '), w -> cast(37 * length(w) + ascii(w) as long)) as vals")
      .selectExpr(
        "doc_id",
        """case when size(vals) >= 4 then
          |  filter(transform(sequence(4, size(vals)), i ->
          |    case when pmod(element_at(vals, i-3) * 2248091L
          |                 + element_at(vals, i-2) * 17161L
          |                 + element_at(vals, i-1) * 131L
          |                 + element_at(vals, i), 1000000007L) % 16 = 0
          |         then cast(i as long) else -1L end), x -> x != -1L)
          |else array() end as boundaries""".stripMargin)
      .selectExpr("doc_id",
        "cast(size(boundaries) + 1 as long) as n_chunks",
        // serialized scalar, not ARRAY<BIGINT>: the driver's comparator
        // sorts columns with pandas, which cannot factorize list cells
        "array_join(transform(boundaries, b -> cast(b as string)), ',') as boundaries")

  val cdcChunksSql: String =
    """WITH v AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    list_transform(string_split(text, ' '),
      |      w -> CAST(37 * length(w) + ascii(w) AS BIGINT)) AS vals
      |  FROM documents)
      |SELECT doc_id, CAST(len(b) + 1 AS BIGINT) AS n_chunks,
      |  -- coalesce: DuckDB's array_to_string returns NULL on an empty list
      |  coalesce(array_to_string(list_transform(b, x -> CAST(x AS VARCHAR)), ','), '') AS boundaries
      |FROM (SELECT doc_id,
      |  CASE WHEN len(vals) >= 4 THEN
      |    [CAST(i AS BIGINT) FOR i IN range(4, len(vals) + 1)
      |       IF (vals[i-3] * 2248091 + vals[i-2] * 17161
      |           + vals[i-1] * 131 + vals[i]) % 1000000007 % 16 = 0]
      |  ELSE [] END AS b FROM v) t""".stripMargin

  // -------------------------------------- host-scoped boilerplate dedup

  /** Host-scoped boilerplate segment dedup — the site-chrome variant of
    * [[paraDedup]]: a segment repeated across DIFFERENT documents of the
    * SAME host (source) is navigation/footer chrome and is dropped; the
    * same segment appearing on two different hosts is left alone (that
    * is cross-site duplication, [[exactSubstrCut]]'s job). This is the
    * per-site half of CCNet-style line dedup — the one that actually
    * removes chrome without touching legitimately-quoted text.
    *
    * Plan: identical to paraDedup except the duplicate key is the
    * compound (source, hash) — a hot host does NOT hot-spot the
    * exchange, because the hash half of the key spreads its segments
    * across the full partition space.
    */
  def hostLineDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = docs(spark, dir).selectExpr(
      "cast(doc_id as long) as doc_id",
      "source",
      "split(text, ' ') as words")
    val segs = w.selectExpr(
      "doc_id",
      "source",
      s"""posexplode(transform(
            sequence(0, (size(words)-1) div $SegWords),
            i -> md5(array_join(slice(words, i*$SegWords+1, $SegWords), ' '))))
          as (seg_idx, h)""")
      .localCheckpoint(true)
    val uniq = segs
      .groupBy("source", "h")
      .agg(countDistinct("doc_id").as("ndocs"))
      .where("ndocs = 1")
      .select("source", "h")
    val keep = segs
      .join(uniq, Seq("source", "h"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("seg_idx"))).as("idxs"))
    w.join(keep, Seq("doc_id"), "left").selectExpr(
      "doc_id",
      "source",
      s"""coalesce(array_join(transform(idxs,
            i -> array_join(slice(words, i*$SegWords+1, $SegWords), ' ')), ' '), '')
          as kept_text""",
      s"cast((size(words)-1) div $SegWords + 1 - coalesce(size(idxs), 0) as long) as n_dropped")
  }

  val hostLineDedupSql: String =
    s"""WITH w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source, string_split(text, ' ') AS words
      |           FROM documents),
      |segs AS (SELECT doc_id, source, i AS seg_idx,
      |                md5(array_to_string(words[i*$SegWords+1 : i*$SegWords+$SegWords], ' ')) AS h
      |         FROM w, LATERAL (SELECT unnest(range(0, (len(words)-1)//$SegWords + 1)) AS i) t),
      |uniq AS (SELECT source, h FROM segs GROUP BY source, h HAVING count(DISTINCT doc_id) = 1),
      |keep AS (SELECT doc_id, list_sort(list(seg_idx)) AS idxs
      |         FROM segs JOIN uniq USING (source, h) GROUP BY doc_id)
      |SELECT w.doc_id, w.source,
      |  coalesce(array_to_string(
      |    [array_to_string(w.words[i*$SegWords+1 : i*$SegWords+$SegWords], ' ') for i in keep.idxs],
      |    ' '), '') AS kept_text,
      |  CAST((len(w.words)-1)//$SegWords + 1 - coalesce(len(keep.idxs), 0) AS BIGINT) AS n_dropped
      |FROM w LEFT JOIN keep USING (doc_id)""".stripMargin

  // ------------------------------------------- exact duplicated-span cut

  /** Exact substring-dedup rewrite (the apply step of Lee et al. 2022's
    * ExactSubstr dedup, at shingle granularity): every word position
    * covered by an 8-word shingle that also occurs in another document
    * is cut, and the document is reassembled from the surviving words.
    * [[ngramDupRate]] is the measurement half of this pair; this is the
    * rewrite half a training pipeline actually ships.
    *
    * Plan: one materialized (doc_id, pos, hash) scan feeds both the
    * cross-doc duplicate-hash aggregation and the per-doc start-position
    * rollup (the r2 double-compute lesson); the covered-position
    * expansion (start -> start..start+7), the positional word filter and
    * the rejoin are all in-row, so text never rides a shuffle — only
    * (hash, doc_id, pos) triples and the per-doc start list move.
    */
  def exactSubstrCut(spark: SparkSession, dir: String): DataFrame = {
    val w = words(spark, dir)
    val sh = w.selectExpr(
      "doc_id",
      s"""posexplode(case when size(words) >= $ShingleWords
            then transform(sequence(0, size(words)-$ShingleWords),
                           i -> md5(array_join(slice(words, i+1, $ShingleWords), ' ')))
            else array() end) as (i, h)""")
      .localCheckpoint(true)
    val dup = sh
      .groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .where("nd > 1")
      .select("h")
    val st = sh
      .join(dup, Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("i"))).as("starts"))
    w.join(st, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("words"),
        expr(s"array_distinct(coalesce(flatten(transform(starts, s -> sequence(s, s+${ShingleWords - 1}))), array()))")
          .as("cvd"))
      .selectExpr(
        "doc_id",
        // hash-based set subtraction (ArrayExcept builds a hash set of
        // cvd), not a per-position array_contains scan — a long fully
        // duplicated document (the exact doc this operator exists for)
        // stays linear in its length instead of quadratic
        "array_join(transform(array_except(sequence(0, size(words)-1), cvd), p -> element_at(words, p+1)), ' ') as cut_text",
        "cast(size(cvd) as long) as n_removed")
  }

  val exactSubstrCutSql: String =
    s"""WITH w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text,' ') AS ws FROM documents),
      |sh AS (SELECT doc_id, i, md5(array_to_string(ws[i+1:i+$ShingleWords],' ')) AS h
      |       FROM w, LATERAL (SELECT unnest(range(0, greatest(len(ws)-${ShingleWords - 1},0))) AS i) t),
      |dup AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) > 1),
      |st AS (SELECT doc_id, list_sort(list(i)) AS starts FROM sh JOIN dup USING (h) GROUP BY doc_id),
      |cov AS (SELECT w.doc_id, w.ws, coalesce(flatten([range(s, s+$ShingleWords) for s in st.starts]), []) AS cv
      |        FROM w LEFT JOIN st USING (doc_id))
      |SELECT doc_id,
      |  coalesce(array_to_string([ws[p+1] for p in range(0, len(ws)) if NOT list_contains(cv, p)], ' '), '') AS cut_text,
      |  CAST(len(list_distinct(cv)) AS BIGINT) AS n_removed
      |FROM cov""".stripMargin

  // ---------------------------------- exact-substring dedup at ≥50 tokens

  /** Published Lee et al. 2022 granularity: a span is cut iff it lies
    * inside a substring of ≥50 tokens that occurs MORE THAN ONCE in the
    * corpus — including twice inside the SAME document (self-repeats are
    * the paper's boilerplate case; [[exactSubstrCut]]'s 8-word
    * cross-document variant deliberately keeps them).
    *
    * Exactness: at word-token granularity the union of duplicated
    * 50-gram covers IS the union of all ≥50-token repeats — every
    * position in a repeat of length L ≥ 50 sits inside some 50-window of
    * that repeat (which then also occurs at the twin), and any
    * duplicated 50-gram is itself a 50-token repeat. So no suffix array
    * is needed for the REMOVE step; the distributed shape is the same
    * shuffle-light (hash, doc_id, pos) pipeline as the 8-gram op. The
    * honest deviation from the paper is tokenization (words here, BPE
    * bytes there), not the repeat semantics.
    *
    * The base corpus has no natural ≥50-token repeats, so the query
    * plants them deterministically on BOTH engines: docs ≡ 0 (mod 7)
    * append a shared 60-token block (cross-doc repeat — interior covered,
    * the unique seams survive), docs ≡ 3 (mod 11) with ≥55 words append
    * their own first 55 words (self-repeat — cut ONLY under the paper's
    * any-two-occurrences rule).
    */
  private val SubstrN = 50
  private val SharedBlock: String =
    (0 until 60).map(i => s"sharedblock$i").mkString(" ")

  def substrDedup50(spark: SparkSession, dir: String): DataFrame = {
    val w = words(spark, dir).selectExpr(
      "doc_id",
      s"""concat(words,
            case when doc_id % 7 = 0 then split('$SharedBlock', ' ')
                 else cast(array() as array<string>) end,
            case when doc_id % 11 = 3 and size(words) >= 55 then slice(words, 1, 55)
                 else cast(array() as array<string>) end) as words""")
    val sh = w.selectExpr(
      "doc_id",
      s"""posexplode(case when size(words) >= $SubstrN
            then transform(sequence(0, size(words)-$SubstrN),
                           i -> md5(array_join(slice(words, i+1, $SubstrN), ' ')))
            else cast(array() as array<string>) end) as (i, h)""")
      .localCheckpoint(true)
    val dup = sh
      .groupBy("h")
      .agg(count(lit(1)).as("nocc"))
      .where("nocc > 1")
      .select("h")
    val st = sh
      .join(dup, Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("i"))).as("starts"))
    w.join(st, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("words"),
        expr(s"array_distinct(coalesce(flatten(transform(starts, s -> sequence(s, s+${SubstrN - 1}))), array()))")
          .as("cvd"))
      .selectExpr(
        "doc_id",
        "array_join(transform(array_except(sequence(0, size(words)-1), cvd), p -> element_at(words, p+1)), ' ') as cut_text",
        "cast(size(cvd) as long) as n_removed")
  }

  val substrDedup50Sql: String =
    s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text,' ') AS base FROM documents),
      |w AS (SELECT doc_id,
      |    base ||
      |    (CASE WHEN doc_id % 7 = 0 THEN string_split('$SharedBlock',' ') ELSE []::VARCHAR[] END) ||
      |    (CASE WHEN doc_id % 11 = 3 AND len(base) >= 55 THEN base[1:55] ELSE []::VARCHAR[] END) AS ws
      |  FROM d),
      |sh AS (SELECT doc_id, i, md5(array_to_string(ws[i+1:i+$SubstrN],' ')) AS h
      |       FROM w, LATERAL (SELECT unnest(range(0, greatest(len(ws)-${SubstrN - 1},0))) AS i) t),
      |dup AS (SELECT h FROM sh GROUP BY h HAVING count(*) > 1),
      |st AS (SELECT doc_id, list_sort(list(i)) AS starts FROM sh JOIN dup USING (h) GROUP BY doc_id),
      |cov AS (SELECT w.doc_id, w.ws, coalesce(flatten([range(s, s+$SubstrN) for s in st.starts]), []) AS cv
      |        FROM w LEFT JOIN st USING (doc_id))
      |SELECT doc_id,
      |  coalesce(array_to_string([ws[p+1] for p in range(0, len(ws)) if NOT list_contains(cv, p)], ' '), '') AS cut_text,
      |  CAST(len(list_distinct(cv)) AS BIGINT) AS n_removed
      |FROM cov""".stripMargin

  // --------------------------------------------------- compaction planning

  /** First-fit-decreasing compaction PLAN — the bin-pack behind Iceberg
    * `rewrite_data_files` / Delta `OPTIMIZE`: each partition's small
    * files pack into the fewest target-size output bins (capacity 256
    * here, sizes closed-form per file; a file LARGER than the capacity
    * takes a singleton bin — real compaction leaves oversized files
    * as-is rather than splitting them). The algorithm is inherently
    * SEQUENTIAL per partition — each placement depends on every load so
    * far — so the distributed shape is `flatMapGroups` keyed by
    * partition: one ordered greedy pass per group, all partitions in
    * parallel, never a driver loop (the same "sequential inside the
    * compaction unit, parallel across units" structure real table
    * maintenance runs). The oracle replays the identical greedy as a
    * DuckDB recursive CTE carrying the bin-load list as state, so a
    * different fit choice on ANY file (first-fit order, tie handling,
    * new-bin numbering) fails the hash. [[graft.pipeline.TableFormat]]'s
    * `compact` executes a simpler ceil-based split; this is the
    * planner's answer for heterogeneous file sizes.
    */
  def compactPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cap = 256L
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id % 8 as long) as p", "cast(doc_id as long) as fid",
        "cast(100 + (doc_id * 37) % 200 as long) as sz")
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (p, it) =>
        val files = it.map { case (_, fid, sz) => (fid, sz) }.toArray
          .sortBy { case (fid, sz) => (-sz, fid) }
        val loads = scala.collection.mutable.ArrayBuffer.empty[Long]
        val out = Vector.newBuilder[(Long, Long, Long, Long)]
        files.foreach { case (fid, sz) =>
          val j = loads.indexWhere(_ + sz <= cap)
          val bin = if (j < 0) { loads += sz; loads.length } else { loads(j) += sz; j + 1 }
          out += ((p, fid, sz, bin.toLong))
        }
        out.result().iterator
      }
      .toDF("p", "fid", "sz", "bin")
      .withColumn("n_bins",
        max("bin").over(org.apache.spark.sql.expressions.Window.partitionBy("p"))
          .cast("long"))
  }

  val compactPlanSql: String =
    """WITH RECURSIVE items AS (
      |  SELECT p, row_number() OVER (PARTITION BY p ORDER BY sz DESC, fid) AS rn, fid, sz
      |  FROM (SELECT CAST(doc_id % 8 AS BIGINT) AS p, CAST(doc_id AS BIGINT) AS fid,
      |          CAST(100 + (doc_id * 37) % 200 AS BIGINT) AS sz FROM documents)),
      |ffd AS (
      |  SELECT p, 0::BIGINT AS rn, []::BIGINT[] AS loads, []::BIGINT[] AS assign
      |  FROM (SELECT DISTINCT p FROM items)
      |  UNION ALL
      |  SELECT i.p, i.rn,
      |    CASE WHEN list_filter(range(1, len(f.loads) + 1), j -> f.loads[j] + i.sz <= 256)[1] IS NULL
      |         THEN list_append(f.loads, i.sz)
      |         ELSE list_transform(f.loads, (x, k) -> CASE WHEN k = list_filter(range(1, len(f.loads) + 1), j -> f.loads[j] + i.sz <= 256)[1] THEN x + i.sz ELSE x END) END,
      |    list_append(f.assign, coalesce(list_filter(range(1, len(f.loads) + 1), j -> f.loads[j] + i.sz <= 256)[1], len(f.loads) + 1))
      |  FROM ffd f JOIN items i ON i.p = f.p AND i.rn = f.rn + 1),
      |fin AS (
      |  SELECT p, loads, assign FROM ffd f
      |  WHERE rn = (SELECT max(rn) FROM items i WHERE i.p = f.p))
      |SELECT i.p, i.fid, i.sz,
      |  CAST(fin.assign[CAST(i.rn AS INT)] AS BIGINT) AS bin,
      |  CAST(len(fin.loads) AS BIGINT) AS n_bins
      |FROM items i JOIN fin ON fin.p = i.p""".stripMargin

  // --------------------------------------------------------- dataset card

  /** Per-source dataset-card statistics — the datasheet table a corpus
    * release ships (Gebru et al. 2021 "Datasheets for Datasets" made
    * them standard practice): volume (docs/tokens/chars), language
    * spread, short-doc fraction, and the exact-duplicate exposure
    * (docs whose full text occurs more than once ANYWHERE in the
    * corpus, attributed to each source that carries a copy). Every
    * number a consumer needs before mixing the source into training.
    *
    * 100 TB shape: two shuffles — one partial-agg'd rollup keyed by
    * source, and one md5-fingerprint groupBy for the corpus-wide dup
    * set (16-byte keys, text never rides) semi-joined back. Averages
    * ship as exact integer (sum, count) pairs plus one rounded display
    * column, so the hash compare never meets a float sum.
    */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id", "source", "lang",
        "md5(cast(text as binary)) as fp",
        "cast(size(split(text, ' ')) as long) as n_tokens",
        "cast(length(text) as long) as n_chars")
      .localCheckpoint(true)
    val dupFps = d.groupBy("fp").agg(count(lit(1)).as("n"))
      .where("n > 1").select("fp")
    val flagged = d.join(dupFps, Seq("fp"), "left_semi")
      .groupBy("source").agg(count(lit(1)).cast("long").as("n_dup_docs"))
    d.groupBy("source")
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum("n_tokens").cast("long").as("n_tokens"),
        sum("n_chars").cast("long").as("n_chars"),
        countDistinct("lang").cast("long").as("n_langs"),
        sum(expr("case when n_tokens < 50 then 1 else 0 end")).cast("long").as("n_short"))
      .join(flagged, Seq("source"), "left")
      .selectExpr("source", "n_docs", "n_tokens", "n_chars", "n_langs", "n_short",
        "coalesce(n_dup_docs, 0L) as n_dup_docs",
        "round(cast(n_tokens as double) / n_docs, 4) as tokens_per_doc")
  }

  val datasetCardSql: String =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source, lang,
      |    md5(text) AS fp,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(len(text) AS BIGINT) AS n_chars
      |  FROM documents),
      |dup AS (SELECT fp FROM d GROUP BY fp HAVING count(*) > 1),
      |fl AS (SELECT source, CAST(count(*) AS BIGINT) AS n_dup_docs
      |  FROM d WHERE fp IN (SELECT fp FROM dup) GROUP BY source),
      |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |    CAST(sum(CASE WHEN n_tokens < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
      |  FROM d GROUP BY source)
      |SELECT s.source, n_docs, n_tokens, n_chars, n_langs, n_short,
      |  CAST(coalesce(fl.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
      |  round(CAST(n_tokens AS DOUBLE) / n_docs, 4) AS tokens_per_doc
      |FROM s LEFT JOIN fl ON fl.source = s.source""".stripMargin

  // ------------------------------------------------------- NFC normalize

  /** Unicode NFC canonicalization via the native `nfc` expression
    * (graft.functions.NfcNormalize — Spark has no built-in normalizer).
    * The corpus is ASCII, so both engines first build a decomposed
    * variant deterministically (every 'e' followed by U+0301 combining
    * acute); NFC must recompose it to precomposed U+00E9. DuckDB's
    * `nfc_normalize` is a true cross-engine ground-truth oracle. Narrow
    * in-row projection — zero shuffle; the kernel's isNormalized fast
    * path means already-NFC text (most of a real crawl) never allocates.
    */
  def nfcNormalize(spark: SparkSession, dir: String): DataFrame = {
    val acute = new String(Character.toChars(0x0301))
    docs(spark, dir)
      .select(
        col("doc_id").cast("long").as("doc_id"),
        regexp_replace(col("text"), "e", "e" + acute).as("decomposed"))
      .selectExpr(
        "doc_id",
        "nfc(decomposed) as norm_text",
        "cast(length(decomposed) as long) as n_chars_decomposed",
        "cast(length(nfc(decomposed)) as long) as n_chars_norm")
  }

  val nfcNormalizeSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  nfc_normalize(replace(text, 'e', 'e' || chr(769))) AS norm_text,
      |  CAST(length(replace(text, 'e', 'e' || chr(769))) AS BIGINT) AS n_chars_decomposed,
      |  CAST(length(nfc_normalize(replace(text, 'e', 'e' || chr(769)))) AS BIGINT) AS n_chars_norm
      |FROM documents""".stripMargin

  /** Effective (dedup-discounted) token counts per source — the number
    * mixing weights should actually be computed over: exact-duplicate
    * copies beyond the keeper contribute no new training signal, so a
    * source whose volume is half mirror-copies is half its apparent
    * size. Keeper = min doc_id per full-text fingerprint (the
    * [[DedupOps.exact]] rule); every non-keeper copy's tokens are
    * counted as duplicated and subtracted. Feeding `n_effective_tokens`
    * into [[SampleOps.tokenBudgetMix]] instead of raw totals is the
    * documented CCNet/RefinedWeb practice.
    *
    * 100 TB shape: identical to [[datasetCard]]'s dup leg — one 16-byte
    * fingerprint shuffle (map-side partial min), one join-back on fp,
    * one per-source rollup; text never rides an exchange.
    */
  def effectiveTokens(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id", "source",
        "md5(cast(text as binary)) as fp",
        "cast(size(split(text, ' ')) as long) as nt")
      .localCheckpoint(true) // one scan+hash feeds both agg and join-back
    val keep = d.groupBy("fp").agg(min(col("doc_id")).as("keeper"))
    d.join(keep, Seq("fp"))
      .selectExpr("source", "nt", "doc_id = keeper as is_keeper")
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("nt")).cast("long").as("n_tokens"),
        sum(when(!col("is_keeper"), 1L).otherwise(0L)).cast("long").as("n_dup_docs"),
        sum(when(!col("is_keeper"), col("nt")).otherwise(0L)).cast("long").as("n_dup_tokens"))
      .selectExpr("source", "n_docs", "n_tokens", "n_dup_docs", "n_dup_tokens",
        "n_tokens - n_dup_tokens as n_effective_tokens")
  }

  val effectiveTokensSql: String =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source, md5(text) AS fp,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents),
      |k AS (SELECT fp, min(doc_id) AS keeper FROM d GROUP BY fp),
      |j AS (SELECT d.source, d.nt, d.doc_id = k.keeper AS is_keeper
      |  FROM d JOIN k USING (fp))
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(nt) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN is_keeper THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_docs,
      |  CAST(sum(CASE WHEN is_keeper THEN 0 ELSE nt END) AS BIGINT) AS n_dup_tokens,
      |  CAST(sum(nt) - sum(CASE WHEN is_keeper THEN 0 ELSE nt END) AS BIGINT) AS n_effective_tokens
      |FROM j GROUP BY source""".stripMargin

  /** Template-spam exposure per source — the host-level view of
    * boilerplate duplication (chum boxes, tag pages, mirror templates):
    * a doc is "templated" when its 10-token prefix key is shared by ≥5
    * docs corpus-wide. Every doc with doc_id%13<3 gets a planted nav
    * boilerplate prefix (the template), so family membership is
    * deterministic in both engines; naturally-unique docs stay out.
    * Output per source: doc count, templated count, and the exact ppm
    * ratio — the number a crawler uses to demote template-farm hosts.
    *
    * 100 TB shape: one 16-byte prefix-key shuffle (partial-agg'd family
    * count), a semi-join-shaped join-back on the same key, one source
    * rollup. Prefix keys spread template families across tasks exactly
    * like [[DedupOps.splitLeakage]]'s dup keys.
    */
  def templateSpam(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id", "source",
        """case when doc_id % 13 < 3
          |  then concat('site nav home about contact login search terms privacy cookie ', text)
          |  else text end as t""".stripMargin)
      .selectExpr("doc_id", "source",
        "md5(cast(array_join(slice(split(t, ' '), 1, 10), ' ') as binary)) as pk")
      .localCheckpoint(true) // one scan feeds family counts and join-back
    val fam = d.groupBy("pk").agg(count(lit(1)).as("fn"))
    d.join(fam, Seq("pk"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("fn") >= 5, 1L).otherwise(0L)).cast("long").as("n_template_docs"))
      .selectExpr("source", "n_docs", "n_template_docs",
        "(n_template_docs * 1000000L) div n_docs as template_ppm")
  }

  val templateSpamSql: String =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
      |    CASE WHEN doc_id % 13 < 3
      |      THEN 'site nav home about contact login search terms privacy cookie ' || text
      |      ELSE text END AS t
      |  FROM documents),
      |k AS (SELECT doc_id, source,
      |    md5(array_to_string(list_slice(string_split(t, ' '), 1, 10), ' ')) AS pk
      |  FROM d),
      |f AS (SELECT pk, CAST(count(*) AS BIGINT) AS fn FROM k GROUP BY pk)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN f.fn >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_template_docs,
      |  CAST((sum(CASE WHEN f.fn >= 5 THEN 1 ELSE 0 END) * 1000000)
      |    // count(*) AS BIGINT) AS template_ppm
      |FROM k JOIN f USING (pk) GROUP BY source""".stripMargin

  // ------------------------------------------------------------- registry

  /** Corpus novelty curve — the dataset-growth saturation metric a
    * crawl program tracks release over release (how much genuinely NEW
    * content each crawl day adds, the curve that decides when more
    * crawling stops paying): per synthetic crawl day (doc_id % 30, the
    * same day key as the ExtractJob partitions), the number of distinct
    * 3-gram shingles whose FIRST corpus occurrence is that day, next to
    * the day's total distinct grams and the novelty ratio. First
    * occurrence = min(day) per gram — order-free and exact.
    *
    * 100 TB shape: one (gram-hash, day) pair stream with map-side
    * partial min — the gram dim is the only shuffled state (text never
    * rides); the per-day rollup is 30 rows.
    */
  def noveltyCurve(spark: SparkSession, dir: String): DataFrame = {
    val grams = docs(spark, dir)
      .selectExpr("cast(doc_id % 30 as long) as day",
        "filter(split(text, ' '), x -> x <> '') as ws")
      .selectExpr("day",
        """explode(case when size(ws) >= 3
          |  then array_distinct(transform(sequence(1, size(ws) - 2),
          |    i -> md5(concat(element_at(ws, i), ' ', element_at(ws, i + 1), ' ',
          |                    element_at(ws, i + 2)))))
          |  else cast(array() as array<string>) end) as g""".stripMargin)
      .localCheckpoint(true)
    val firstSeen = grams.groupBy("g").agg(min("day").as("first_day"))
      .groupBy("first_day").agg(count(lit(1)).cast("long").as("n_novel"))
      .withColumnRenamed("first_day", "day")
    val perDay = grams.distinct()
      .groupBy("day").agg(count(lit(1)).cast("long").as("n_grams"))
    perDay.join(firstSeen, Seq("day"), "left")
      .selectExpr("day", "n_grams", "coalesce(n_novel, 0L) as n_novel",
        "round(cast(coalesce(n_novel, 0L) as double) / n_grams, 6) as novelty")
  }

  val noveltyCurveSql: String =
    """WITH d AS (SELECT CAST(doc_id % 30 AS BIGINT) AS day,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
      |g0 AS (SELECT day, CASE WHEN len(ws) >= 3
      |    THEN list_distinct(list_transform(range(1, len(ws) - 1),
      |      i -> md5(ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])))
      |    ELSE [] END AS gs FROM d),
      |g AS (SELECT day, unnest(gs) AS g FROM g0),
      |fs AS (SELECT g, min(day) AS day FROM g GROUP BY g),
      |nv AS (SELECT day, CAST(count(*) AS BIGINT) AS n_novel FROM fs GROUP BY day),
      |pd AS (SELECT day, CAST(count(*) AS BIGINT) AS n_grams
      |  FROM (SELECT DISTINCT day, g FROM g) GROUP BY day)
      |SELECT pd.day, pd.n_grams, coalesce(nv.n_novel, 0) AS n_novel,
      |  round(CAST(coalesce(nv.n_novel, 0) AS DOUBLE) / pd.n_grams, 6) AS novelty
      |FROM pd LEFT JOIN nv ON nv.day = pd.day""".stripMargin

  /** Heaps' law growth table (Heaps 1978; the vocabulary-growth
    * V(n) ≈ K·n^β companion to [[noveltyCurve]]'s shingle novelty):
    * per crawl day, the CUMULATIVE token count and cumulative distinct
    * vocabulary — the curve whose flattening tells a crawl program the
    * lexicon is saturating even while raw tokens keep arriving. All
    * integers: per-day token sums and per-word first-occurrence days
    * roll up exactly; the cumulative window runs over 30 day-rows.
    * Each document also carries one long-tail token `r<doc_id div 7>`:
    * the generated text draws on a 31-word vocabulary that all appears
    * on day 0, so without it `cum_vocab` would be a constant.
    *
    * 100 TB shape: one (word, day) partial-min shuffle over the
    * dictionary-encoded word dim + one per-day token count — the
    * cumulative window never touches more rows than there are days.
    */
  def heapsLaw(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .selectExpr("cast(doc_id % 30 as long) as day",
        "concat(filter(split(text, ' '), x -> x <> ''), " +
          "array(concat('r', cast(doc_id div 7 as string)))) as ws")
      .localCheckpoint(true)
    val perDayTokens = toks.groupBy("day")
      .agg(sum(expr("size(ws)")).cast("long").as("d_tokens"))
    val perDayNewWords = toks.selectExpr("day", "explode(array_distinct(ws)) as w")
      .groupBy("w").agg(min("day").as("day"))
      .groupBy("day").agg(count(lit(1)).cast("long").as("d_new_words"))
    perDayTokens.join(perDayNewWords, Seq("day"), "left")
      .selectExpr("day", "d_tokens", "coalesce(d_new_words, 0L) as d_new")
      .selectExpr("day",
        "cast(sum(d_tokens) over (order by day) as long) as cum_tokens",
        "cast(sum(d_new) over (order by day) as long) as cum_vocab")
  }

  val heapsLawSql: String =
    """WITH d AS (SELECT CAST(doc_id % 30 AS BIGINT) AS day,
      |    list_append(list_filter(string_split(text, ' '), x -> x <> ''),
      |      'r' || CAST(doc_id // 7 AS VARCHAR)) AS ws FROM documents),
      |pt AS (SELECT day, CAST(sum(len(ws)) AS BIGINT) AS d_tokens FROM d GROUP BY day),
      |fw AS (SELECT w, min(day) AS day FROM (
      |    SELECT day, unnest(list_distinct(ws)) AS w FROM d) GROUP BY w),
      |nw AS (SELECT day, CAST(count(*) AS BIGINT) AS d_new FROM fw GROUP BY day),
      |j AS (SELECT pt.day, pt.d_tokens, coalesce(nw.d_new, 0) AS d_new
      |  FROM pt LEFT JOIN nw ON nw.day = pt.day)
      |SELECT day,
      |  CAST(sum(d_tokens) OVER (ORDER BY day) AS BIGINT) AS cum_tokens,
      |  CAST(sum(d_new) OVER (ORDER BY day) AS BIGINT) AS cum_vocab
      |FROM j""".stripMargin

  def registry: Map[String, Gated] = Map(
    "q_novelty_curve" -> Gated(noveltyCurve(_, _), noveltyCurveSql),
    "q_heaps_law" -> Gated(heapsLaw(_, _), heapsLawSql),
    "q_effective_tokens" -> Gated(effectiveTokens(_, _), effectiveTokensSql),
    "q_template_spam" -> Gated(templateSpam(_, _), templateSpamSql),
    "q_para_dedup" -> Gated(paraDedup(_, _), paraDedupSql),
    "q_ngram_dup_rate" -> Gated(ngramDupRate(_, _), ngramDupRateSql),
    "q_chunk_windows" -> Gated(chunkWindows(_, _), chunkWindowsSql),
    "q_vocab_topk" -> Gated(vocabTopk(_, _), vocabTopkSql),
    "q_nfc_normalize" -> Gated(nfcNormalize(_, _), nfcNormalizeSql),
    "q_cdc_chunks" -> Gated(cdcChunks(_, _), cdcChunksSql),
    "q_exact_substr_cut" -> Gated(exactSubstrCut(_, _), exactSubstrCutSql),
    "q_substr_dedup_50" -> Gated(substrDedup50(_, _), substrDedup50Sql),
    "q_dataset_card" -> Gated(datasetCard(_, _), datasetCardSql),
    "q_compact_plan" -> Gated(compactPlan(_, _), compactPlanSql),
    "q_host_line_dedup" -> Gated(hostLineDedup(_, _), hostLineDedupSql))
}
