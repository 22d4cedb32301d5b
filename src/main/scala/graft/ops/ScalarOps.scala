package graft.ops

import graft.Gated
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SURVEY §2.8 scalar-function ladder, re-expressed as pure Catalyst
  * column expressions (no UDFs — every query stays inside whole-stage
  * codegen) and DuckDB-cross-checked. Where the reference consumed OCR'd
  * form lines, the form-like input is synthesized *inside the query* from
  * the deterministic testdata tables with the identical expression on both
  * engines, so the oracle compare is exact.
  */
object ScalarOps {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // ------------------------------------------------------ checkbox ladder

  /** Checkbox normalization (process_checkboxes, convert_to_json.py:36-88):
    * `(x)` → true, `()` → false after a known checkbox field name.
    */
  def checkbox(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .selectExpr(
        "cast(doc_id as long) as doc_id",
        "concat('Single ', case when doc_id % 2 = 0 then '(x)' else '()' end, ' Married ', case when doc_id % 3 = 0 then '(x)' else '()' end) as line")
      .selectExpr(
        "doc_id",
        "regexp_replace(regexp_replace(line, '\\\\(x\\\\)', 'true'), '\\\\(\\\\)', 'false') as checkbox_line",
        "line rlike 'Single \\\\(x\\\\)' as single_flag")

  val checkboxSql: String =
    """WITH l AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    'Single ' || CASE WHEN doc_id % 2 = 0 THEN '(x)' ELSE '()' END ||
      |    ' Married ' || CASE WHEN doc_id % 3 = 0 THEN '(x)' ELSE '()' END AS line
      |  FROM documents)
      |SELECT doc_id,
      |  replace(replace(line, '(x)', 'true'), '()', 'false') AS checkbox_line,
      |  regexp_matches(line, 'Single \(x\)') AS single_flag
      |FROM l""".stripMargin

  // --------------------------------------------------- key-value formatting

  /** format_key_values (convert_to_json.py:90-114): split ' & '-joined
    * fields to rows (explode) and insert ':' after bare keys.
    */
  def keyValues(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .selectExpr(
        "cast(c_custkey as long) as c_custkey",
        "concat('Name ', c_name, ' & Status ', c_mktsegment) as s")
      .select(col("c_custkey"),
        posexplode(split(col("s"), " & ")).as(Seq("part_no", "part")))
      .selectExpr(
        "c_custkey", "cast(part_no as long) as part_no",
        "regexp_replace(part, '^(Name|Status) ', '$1: ') as kv")

  val keyValuesSql: String =
    """WITH s AS (SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
      |    'Name ' || c_name || ' & Status ' || c_mktsegment AS s FROM customer),
      |e AS (SELECT c_custkey,
      |    CAST(generate_subscripts(string_split(s, ' & '), 1) - 1 AS BIGINT) AS part_no,
      |    unnest(string_split(s, ' & ')) AS part FROM s)
      |SELECT c_custkey, part_no,
      |  regexp_replace(part, '^(Name|Status) ', '\1: ') AS kv
      |FROM e""".stripMargin

  // ------------------------------------------------------- camelCase split

  /** extract_key_words (endpoint_upload.py:60-85): camelCase split +
    * lowercase + generic-stopword drop.
    */
  def camelSplit(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .selectExpr(
        "cast(p_partkey as long) as p_partkey",
        "concat('preAuth', p_type, 'Request') as raw")
      .selectExpr(
        "p_partkey",
        "lower(regexp_replace(raw, '([a-z])([A-Z])', '$1 $2')) as lowered")
      .selectExpr(
        "p_partkey",
        "array_join(filter(split(lowered, ' '), w -> NOT array_contains(array('request', 'the', 'a'), w)), ' ') as keywords")

  val camelSplitSql: String =
    """WITH r AS (SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
      |    'preAuth' || p_type || 'Request' AS raw FROM part),
      |l AS (SELECT p_partkey,
      |    lower(regexp_replace(raw, '([a-z])([A-Z])', '\1 \2', 'g')) AS lowered FROM r)
      |SELECT p_partkey,
      |  array_to_string(list_filter(string_split(lowered, ' '),
      |    w -> NOT list_contains(['request', 'the', 'a'], w)), ' ') AS keywords
      |FROM l""".stripMargin

  // ------------------------------------- age parse / gender / DOB synthesis

  /** Demographics ladder (endpoint_upload.py:1328-1361): age-string parse,
    * gender normalization, DOB synthesis `make_date(year - age, 1, 1)`,
    * ID-prefix nationality rule (:1363-1365).
    */
  def demographics(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .selectExpr(
        "cast(c_custkey as long) as c_custkey",
        "concat(cast(c_custkey % 90 + 1 as string), ' years old') as age_raw",
        "case when c_custkey % 2 = 0 then 'Male' else 'female' end as gender_raw",
        "cast(c_custkey % 2 + 1 as string) as id_head")
      .selectExpr(
        "c_custkey",
        "cast(regexp_replace(age_raw, ' years old| years| year', '') as long) as age",
        "case lower(gender_raw) when 'male' then 'M' when 'female' then 'F' else 'O' end as gender",
        "date_format(make_date(2025 - cast(regexp_replace(age_raw, ' years old| years| year', '') as int), 1, 1), 'yyyy-MM-dd') as synth_dob",
        "case when id_head = '1' then 'Saudi' when id_head = '2' then 'Foreigner' else 'Unknown' end as nationality")

  val demographicsSql: String =
    """WITH r AS (SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
      |    CAST(c_custkey % 90 + 1 AS VARCHAR) || ' years old' AS age_raw,
      |    CASE WHEN c_custkey % 2 = 0 THEN 'Male' ELSE 'female' END AS gender_raw,
      |    CAST(c_custkey % 2 + 1 AS VARCHAR) AS id_head
      |  FROM customer)
      |SELECT c_custkey,
      |  CAST(regexp_replace(age_raw, ' years old| years| year', '', 'g') AS BIGINT) AS age,
      |  CASE lower(gender_raw) WHEN 'male' THEN 'M' WHEN 'female' THEN 'F' ELSE 'O' END AS gender,
      |  strftime(make_date(2025 - CAST(regexp_replace(age_raw, ' years old| years| year', '', 'g') AS INT), 1, 1), '%Y-%m-%d') AS synth_dob,
      |  CASE WHEN id_head = '1' THEN 'Saudi' WHEN id_head = '2' THEN 'Foreigner' ELSE 'Unknown' END AS nationality
      |FROM r""".stripMargin

  // ------------------------------------------------------ referral cleaning

  /** Referral-name clean (endpoint_upload.py:1374-1379): '#'/'-' → space,
    * drop digit-only words. ICD-style head extraction (:1381-1388): head of
    * the code before '-' or space.
    */
  def referralClean(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .selectExpr(
        "cast(c_custkey as long) as c_custkey",
        "array_join(filter(split(translate(c_name, '#', ' '), ' '), w -> NOT w rlike '^[0-9]+$'), ' ') as ref_name",
        "split(split(concat(c_mktsegment, '-', cast(c_custkey as string)), '-')[0], ' ')[0] as code_head")

  val referralCleanSql: String =
    """SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
      |  array_to_string(list_filter(string_split(replace(c_name, '#', ' '), ' '),
      |    w -> NOT regexp_matches(w, '^[0-9]+$')), ' ') AS ref_name,
      |  string_split(string_split(c_mktsegment || '-' || CAST(c_custkey AS VARCHAR), '-')[1], ' ')[1] AS code_head
      |FROM customer""".stripMargin

  // --------------------------------------------------------- fuzzy matching

  /** Fuzzy option match (endpoint_upload.py:211-235: best fuzzy score over
    * dropdown options): levenshtein-based top-1 per input against the
    * broadcast nation list, deterministic tiebreak. The broadcast join +
    * window argmax is exactly the 100 TB shape (dims are small, fact side
    * streams).
    */
  def fuzzyTop1(spark: SparkSession, dir: String): DataFrame = {
    val parts = t(spark, dir, "part")
      .selectExpr("cast(p_partkey as long) as p_partkey", "p_name")
    val options = t(spark, dir, "nation").select(col("n_name"))
    val w = Window.partitionBy(col("p_partkey"))
      .orderBy(col("dist").asc, col("n_name").asc)
    parts.join(broadcast(options))
      .withColumn("dist", levenshtein(col("p_name"), col("n_name")).cast("long"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("p_partkey"), col("n_name").as("best_option"), col("dist"))
  }

  val fuzzyTop1Sql: String =
    """WITH s AS (SELECT CAST(p_partkey AS BIGINT) AS p_partkey, n_name,
      |    CAST(levenshtein(p_name, n_name) AS BIGINT) AS dist
      |  FROM part, nation),
      |r AS (SELECT p_partkey, n_name, dist,
      |    row_number() OVER (PARTITION BY p_partkey ORDER BY dist, n_name) AS rn FROM s)
      |SELECT p_partkey, n_name AS best_option, dist FROM r WHERE rn = 1""".stripMargin

  // --------------------------------------------- token_sort_ratio parity

  /** The native token_sort_ratio expression running distributed, under a
    * VALUE-BEARING oracle. Construction: for single-token inputs
    * "X"*n vs "x"*m + "!", full_process lowercases and strips the
    * punctuation, difflib's longest-match over two runs of the same char
    * is min(n,m), so score = round(200*min/(n+m)). Rows are restricted to
    * (n,m) where 200*min(n,m) divides evenly by n+m, so both engines
    * compute an exact integer and no rounding-mode subtlety can hide a
    * bug — replacing the expression with lit(100) fails rows with
    * expected 40/50/80. perm_score additionally pins token-sort
    * order-invariance on real corpus words.
    */
  def tokenSortScores(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "documents")
      .selectExpr("cast(doc_id as long) as doc_id",
        "cast(doc_id % 7 + 1 as int) as n",
        "cast(doc_id % 11 + 1 as int) as m",
        "element_at(split(text, ' '), 1) as w1",
        "element_at(split(text, ' '), 2) as w2",
        "element_at(split(text, ' '), 3) as w3")
      .filter("(200 * least(n, m)) % (n + m) = 0")
      .selectExpr("doc_id", "n", "m",
        "token_sort_ratio(repeat('X', n), concat(repeat('x', m), '!')) as rep_score",
        "token_sort_ratio(concat_ws(' ', w1, w2, w3), concat_ws(' ', w3, w1, w2)) as perm_score")
  }

  val tokenSortScoresSql: String =
    """WITH s AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    CAST(doc_id % 7 + 1 AS INT) AS n, CAST(doc_id % 11 + 1 AS INT) AS m
      |  FROM documents)
      |SELECT doc_id, n, m,
      |  CAST((200 * LEAST(n, m)) // (n + m) AS INT) AS rep_score,
      |  100 AS perm_score
      |FROM s WHERE (200 * LEAST(n, m)) % (n + m) = 0""".stripMargin

  // ----------------------------------------------------- set ops (union)

  /** §2.7: unionByName merge of the HTML-branch and PDF-branch outputs
    * (same schema, different column order — unionByName realigns).
    */
  def unionBranches(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val htmlBranch = docs.filter(col("doc_id") % 2 === 0)
      .selectExpr("cast(doc_id as long) as doc_id", "'html' as branch", "text")
    val pdfBranch = docs.filter(col("doc_id") % 2 === 1)
      .selectExpr("text", "'pdf' as branch", "cast(doc_id as long) as doc_id")
    htmlBranch.unionByName(pdfBranch)
  }

  val unionBranchesSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id, 'html' AS branch, text
      |FROM documents WHERE doc_id % 2 = 0
      |UNION ALL
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, 'pdf' AS branch, text
      |FROM documents WHERE doc_id % 2 = 1""".stripMargin

  // ------------------------------------------------- rolling-hash fingerprint

  /** Rolling polynomial fingerprint over the word sequence (document
    * fingerprinting building block): h = (h*131 + (37*len(w) + ascii(w)))
    * mod 1e9+7, folded left-to-right — order-sensitive unlike the md5
    * content hash (TextOps.fingerprint), so shuffled word order changes it.
    * Engine-portable: integer arithmetic only.
    */
  def rollingFp(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .selectExpr(
        "cast(doc_id as long) as doc_id",
        """aggregate(
          |  transform(split(text, ' '), w -> cast(37 * length(w) + ascii(w) as long)),
          |  0L, (acc, x) -> pmod(acc * 131 + x, 1000000007L)) as roll_fp""".stripMargin)

  val rollingFpSql: String =
    """WITH v AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    list_transform(string_split(text, ' '),
      |      w -> CAST(37 * length(w) + ascii(w) AS BIGINT)) AS vals
      |  FROM documents)
      |SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), vals),
      |    (acc, x) -> (acc * 131 + x) % 1000000007) AS roll_fp
      |FROM v""".stripMargin

  // --------------------------------------------------------------- winnowing

  /** Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken 2003,
    * the MOSS algorithm; SIGMOD): hash every 3-word shingle, slide a
    * w=4 window over the hash sequence, and per window select the
    * MINIMUM hash — ties to the RIGHTMOST minimum (the paper's robust
    * winnowing rule, §5: re-selecting the same position across
    * overlapping windows is what guarantees density 2/(w+1) and makes
    * the fingerprint set position-robust for local plagiarism/copy
    * detection, the step [[rollingFp]]'s single whole-doc hash cannot
    * do). Selected positions dedup across overlapping windows; emitted
    * per doc: gram/fingerprint counts, selection density, and the
    * ordered fingerprint string (one wrong selection anywhere fails
    * the hash).
    *
    * 100 TB shape: pure in-row higher-order functions over the token
    * array — no shuffle at all; at corpus scale the emitted
    * (fingerprint, doc) pairs feed the same inverted-index bucket join
    * as [[graft.ops.DedupOps.shingleContainment]]'s candidates.
    */
  def winnowing(spark: SparkSession, dir: String): DataFrame = {
    val w = 4
    t(spark, dir, "documents")
      .selectExpr("cast(doc_id as long) as doc_id",
        "filter(split(text, ' '), x -> x <> '') as ws")
      .selectExpr("doc_id",
        """case when size(ws) >= 3
          |  then transform(sequence(1, size(ws) - 2),
          |    i -> cast(conv(substring(md5(concat(element_at(ws, i), ' ',
          |         element_at(ws, i + 1), ' ', element_at(ws, i + 2))), 1, 14), 16, 10) as long))
          |  else cast(array() as array<bigint>) end as h""".stripMargin)
      .selectExpr("doc_id", "h",
        s"""case when size(h) >= $w
           |  then array_sort(array_distinct(transform(sequence(1, size(h) - ${w - 1}),
           |    j -> j - 1 + ($w + 1L - array_position(reverse(slice(h, j, $w)),
           |                                           array_min(slice(h, j, $w)))))))
           |  else cast(array() as array<bigint>) end as sel""".stripMargin)
      .selectExpr("doc_id",
        "cast(size(h) as long) as n_grams",
        "cast(size(sel) as long) as n_fp",
        """case when size(h) = 0 then cast(0.0 as double)
          |  else round(cast(size(sel) as double) / size(h), 6) end as density""".stripMargin,
        "array_join(transform(sel, p -> cast(element_at(h, cast(p as int)) as string)), ',') as fp_str")
  }

  val winnowingSql: String = {
    val w = 4
    s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
      |g AS (SELECT doc_id, CASE WHEN len(ws) >= 3
      |    THEN list_transform(range(1, len(ws) - 1),
      |      i -> CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]), 1, 14))::BIGINT AS BIGINT))
      |    ELSE []::BIGINT[] END AS h FROM d),
      |s AS (SELECT doc_id, h, CASE WHEN len(h) >= $w
      |    THEN list_sort(list_distinct(list_transform(range(1, len(h) - ${w - 2}),
      |      j -> j - 1 + ($w + 1 - list_position(list_reverse(h[j:j + ${w - 1}]),
      |                                           list_min(h[j:j + ${w - 1}]))))))
      |    ELSE []::BIGINT[] END AS sel FROM g)
      |SELECT doc_id,
      |  CAST(len(h) AS BIGINT) AS n_grams,
      |  CAST(len(sel) AS BIGINT) AS n_fp,
      |  CASE WHEN len(h) = 0 THEN CAST(0.0 AS DOUBLE)
      |    ELSE round(CAST(len(sel) AS DOUBLE) / len(h), 6) END AS density,
      |  array_to_string(list_transform(sel, p -> CAST(h[CAST(p AS INT)] AS VARCHAR)), ',') AS fp_str
      |FROM s""".stripMargin
  }

  // -------------------------------------------------------------- registry

  def registry: Map[String, Gated] = Map(
    "q_checkbox" -> Gated(checkbox(_, _), checkboxSql),
    "q_key_values" -> Gated(keyValues(_, _), keyValuesSql),
    "q_camel_split" -> Gated(camelSplit(_, _), camelSplitSql),
    "q_demographics" -> Gated(demographics(_, _), demographicsSql),
    "q_referral_clean" -> Gated(referralClean(_, _), referralCleanSql),
    "q_fuzzy_top1" -> Gated(fuzzyTop1(_, _), fuzzyTop1Sql),
    "q_token_sort_scores" -> Gated(tokenSortScores(_, _), tokenSortScoresSql),
    "q_union_branches" -> Gated(unionBranches(_, _), unionBranchesSql),
    "q_rolling_fp" -> Gated(rollingFp(_, _), rollingFpSql),
    "q_winnowing" -> Gated(winnowing(_, _), winnowingSql))
}
