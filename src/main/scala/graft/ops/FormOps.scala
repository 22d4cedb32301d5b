package graft.ops

import graft.Gated
import graft.kernels.ScalarKernels
import graft.ops.TextOps.docs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second §2.8 batch: the form-normalization ladder ported 1:1 in
  * [[ScalarKernels]] (clean_ocr_text, process_checkboxes, fragment
  * re-join, clean_service_description — convert_to_json.py:16-34,36-88,
  * 647-664,453-478) driven through typed Dataset maps, plus the remaining
  * pure-Catalyst ladder ops (multi-format dates, ICD-10 heads,
  * chief-complaint, name split, base64, JSON carve, n-gram chunker,
  * payer-line aggregation).
  *
  * Form-like inputs are synthesized inside the query from the testdata
  * tables with the identical expression on both engines, so every oracle
  * compare is exact. All non-kernel queries are built-in expressions —
  * inside whole-stage codegen, column-pruned at the scan.
  */
object FormOps {

  // first three words as columns (documents always have >= 10 words)
  private def w3(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).selectExpr(
      "cast(doc_id as long) as doc_id",
      "element_at(split(text, ' '), 1) as w1",
      "element_at(split(text, ' '), 2) as w2",
      "element_at(split(text, ' '), 3) as w3")

  private val W3Sql =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  string_split(text, ' ')[1] AS w1,
      |  string_split(text, ' ')[2] AS w2,
      |  string_split(text, ' ')[3] AS w3
      |FROM documents""".stripMargin

  // ------------------------------------------------- clean_ocr_text kernel

  /** Two-line input exercising both branches: a fully-bracketed line
    * (bracket branch: quotes dropped, commas→space inside brackets) and a
    * trailing-text line (else branch).
    */
  def cleanOcr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    w3(spark, dir)
      .selectExpr("doc_id",
        "concat('[''', w1, ''', ''', w2, ''']', '\n', '[''', w1, ''', ''', w2, '''] ', w3, '''s,') as raw")
      .as[(Long, String)]
      .map { case (id, raw) => (id, ScalarKernels.cleanOcrText(raw)) }
      .toDF("doc_id", "cleaned")
  }

  val cleanOcrSql: String =
    s"""WITH b AS ($W3Sql)
       |SELECT doc_id,
       |  '[' || w1 || '  ' || w2 || ']' || chr(10) ||
       |  '[' || w1 || '  ' || w2 || '] ' || w3 || 's ' AS cleaned
       |FROM b""".stripMargin

  // --------------------------------------------- process_checkboxes kernel

  /** Exercises: Yes/No field rewrite (first-match-wins, early return),
    * paren checkbox with 3-token lookbehind ((x)→true, ()→false,
    * multi-char content kept), non-checkbox parens untouched.
    */
  def checkboxKernel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id",
        """concat('Married (',
          |  case cast(doc_id % 3 as int) when 0 then 'x' when 1 then '' else 'ab' end,
          |  ') Status (ok)', '\n',
          |  'refill: ', case when doc_id % 2 = 0 then 'Yes' else 'No' end, ' extra') as raw""".stripMargin)
      .as[(Long, String)]
      .map { case (id, raw) => (id, ScalarKernels.processCheckboxes(raw)) }
      .toDF("doc_id", "checked")
  }

  val checkboxKernelSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  'Married ' ||
      |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'true' WHEN 1 THEN 'false' ELSE '(ab)' END ||
      |  ' Status (ok)' || chr(10) ||
      |  'refill: ' || CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END || ' extra' AS checked
      |FROM documents""".stripMargin

  // ------------------------------------------------- fragment rejoin kernel

  /** Split suffixes off words with a mirrored injection expression, then
    * repair with the reference's 9-regex ladder (kernel); the oracle runs
    * the identical 9 replacements in the same order in DuckDB.
    */
  private val InjectSpark =
    "regexp_replace(text, '([a-z])(ing|ed|er|al)\\\\b', '$1 $2')"
  private val InjectDuck =
    """regexp_replace(text, '([a-z])(ing|ed|er|al)\b', '\1 \2', 'g')"""

  def fragmentRejoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id", s"$InjectSpark as injected")
      .as[(Long, String)]
      .map { case (id, inj) => (id, inj.length.toLong, ScalarKernels.rejoinFragments(inj)) }
      .toDF("doc_id", "injected_len", "rejoined")
  }

  val fragmentRejoinSql: String = {
    val rejoined = ScalarKernels.FragmentSuffixes.foldLeft(InjectDuck) { (acc, s) =>
      s"""regexp_replace($acc, '(\\w+)\\s+$s\\b', '\\1$s', 'g')"""
    }
    s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(length($InjectDuck) AS BIGINT) AS injected_len,
       |  $rejoined AS rejoined
       |FROM documents""".stripMargin
  }

  // ------------------------------------- clean_service_description kernel

  /** Cut at earliest marker ('Date' here), collapse whitespace runs, trim
    * — both the marker and the no-cut path.
    */
  def serviceDesc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    w3(spark, dir)
      .selectExpr("doc_id",
        """case when doc_id % 2 = 0
          |  then concat(w1, '   ', w2, ' Date 2025 ', w3)
          |  else concat(w1, '   ', w2, '  ', w3) end as raw""".stripMargin)
      .as[(Long, String)]
      .map { case (id, raw) => (id, ScalarKernels.cleanServiceDescription(raw)) }
      .toDF("doc_id", "description")
  }

  val serviceDescSql: String =
    s"""WITH b AS ($W3Sql)
       |SELECT doc_id,
       |  CASE WHEN doc_id % 2 = 0 THEN w1 || ' ' || w2
       |       ELSE w1 || ' ' || w2 || ' ' || w3 END AS description
       |FROM b""".stripMargin

  // ------------------------------------------------- service-code predicates

  /** Row-validity predicate ladder (convert_to_json.py:360,428,437-441):
    * code-cell regex `\((\d+[^)]*-\d+[^)]*)\)`, numeric-cell regex,
    * status vocabulary.
    */
  def serviceCodes(spark: SparkSession, dir: String): DataFrame =
    w3(spark, dir)
      .selectExpr("doc_id",
        "concat(w1, ' (', cast(doc_id as string), '-', cast(doc_id % 97 as string), 'X) ', w2) as line",
        "case cast(doc_id % 3 as int) when 0 then '42.5' when 1 then '17' else 'n/a' end as cell",
        "case cast(doc_id % 4 as int) when 0 then 'Approved' when 1 then 'Not Approved' when 2 then 'Pending' else w3 end as status")
      .selectExpr("doc_id",
        "regexp_extract(line, '\\\\(([0-9]+[^)]*-[0-9]+[^)]*)\\\\)', 1) as code",
        "cell rlike '^[0-9]+\\\\.?[0-9]*$' as is_numeric",
        "status in ('Approved', 'Not Approved', 'Pending') as is_status")

  val serviceCodesSql: String =
    s"""WITH b AS ($W3Sql),
       |r AS (SELECT doc_id,
       |    w1 || ' (' || CAST(doc_id AS VARCHAR) || '-' || CAST(doc_id % 97 AS VARCHAR) || 'X) ' || w2 AS line,
       |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '42.5' WHEN 1 THEN '17' ELSE 'n/a' END AS cell,
       |    CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'Approved' WHEN 1 THEN 'Not Approved' WHEN 2 THEN 'Pending' ELSE w3 END AS status
       |  FROM b)
       |SELECT doc_id,
       |  regexp_extract(line, '\\(([0-9]+[^)]*-[0-9]+[^)]*)\\)', 1) AS code,
       |  regexp_matches(cell, '^[0-9]+\\.?[0-9]*$$') AS is_numeric,
       |  status IN ('Approved', 'Not Approved', 'Pending') AS is_status
       |FROM r""".stripMargin

  // ------------------------------------------------ multi-format date parse

  /** endpoint_upload.py:1342-1354: try formats in order via coalesce of
    * try-parses — the Catalyst form of the reference's sequential
    * try/except ladder.
    */
  def dateMulti(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")
      .selectExpr("cast(o_orderkey as long) as o_orderkey",
        """case cast(o_orderkey % 3 as int)
          |  when 0 then date_format(o_orderdate, 'yyyy-MM-dd')
          |  when 1 then date_format(o_orderdate, 'dd/MM/yyyy')
          |  else date_format(o_orderdate, 'dd-MM-yyyy') end as raw_date""".stripMargin)
      .selectExpr("o_orderkey", "raw_date",
        """date_format(coalesce(
          |  try_to_timestamp(raw_date, 'yyyy-MM-dd'),
          |  try_to_timestamp(raw_date, 'dd/MM/yyyy'),
          |  try_to_timestamp(raw_date, 'dd-MM-yyyy')), 'yyyy-MM-dd') as parsed""".stripMargin)

  val dateMultiSql: String =
    """WITH r AS (SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
      |    CASE CAST(o_orderkey % 3 AS INT)
      |      WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
      |      WHEN 1 THEN strftime(o_orderdate, '%d/%m/%Y')
      |      ELSE strftime(o_orderdate, '%d-%m-%Y') END AS raw_date
      |  FROM orders)
      |SELECT o_orderkey, raw_date,
      |  strftime(coalesce(
      |    try_strptime(raw_date, '%Y-%m-%d'),
      |    try_strptime(raw_date, '%d/%m/%Y'),
      |    try_strptime(raw_date, '%d-%m-%Y')), '%Y-%m-%d') AS parsed
      |FROM r""".stripMargin

  // ------------------------------------------------------- ICD-10 assembly

  /** endpoint_upload.py:1381-1388: diagnosis fields → array; per code the
    * head before '-' then before ' '.
    */
  def icd10(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/part.parquet")
      .selectExpr("cast(p_partkey as long) as p_partkey",
        """concat_ws(',', transform(
          |  array(concat(cast(p_partkey as string), '-A1'),
          |        concat('X', cast(p_partkey as string), ' B2'),
          |        'NOCODE'),
          |  c -> element_at(split(element_at(split(c, '-'), 1), ' '), 1))) as icd_heads""".stripMargin)

  val icd10Sql: String =
    """SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
      |  array_to_string(list_transform(
      |    [CAST(p_partkey AS VARCHAR) || '-A1',
      |     'X' || CAST(p_partkey AS VARCHAR) || ' B2',
      |     'NOCODE'],
      |    c -> string_split(string_split(c, '-')[1], ' ')[1]), ',') AS icd_heads
      |FROM part""".stripMargin

  // ---------------------------------------------------- chief complaint

  /** endpoint_upload.py:1392-1404: split ' - ', drop the leading code
    * part, strip parens, re-join.
    */
  def chiefComplaint(spark: SparkSession, dir: String): DataFrame =
    w3(spark, dir)
      .selectExpr("doc_id", "concat('A12 - (', w1, ') ', w2, ' - ', w3) as cc")
      .selectExpr("doc_id",
        """array_join(transform(slice(split(cc, ' - '), 2, 100),
          |  p -> regexp_replace(p, '[()]', '')), ' - ') as complaint""".stripMargin)

  val chiefComplaintSql: String =
    s"""WITH b AS ($W3Sql),
       |c AS (SELECT doc_id, 'A12 - (' || w1 || ') ' || w2 || ' - ' || w3 AS cc FROM b)
       |SELECT doc_id,
       |  array_to_string(list_transform(
       |    list_slice(string_split(cc, ' - '), 2, len(string_split(cc, ' - '))),
       |    p -> regexp_replace(p, '[()]', '', 'g')), ' - ') AS complaint
       |FROM c""".stripMargin

  // --------------------------------------------------------- name split

  /** endpoint_upload.py:1323-1326 arity rules: 2 words → no middle;
    * 3+ words → second is middle, last is last.
    */
  def nameSplit(spark: SparkSession, dir: String): DataFrame =
    w3(spark, dir)
      .selectExpr("doc_id",
        "case when doc_id % 3 = 0 then concat(w1, ' ', w2) else concat(w1, ' ', w2, ' ', w3) end as full_name")
      .selectExpr("doc_id", "full_name",
        "element_at(split(full_name, ' '), 1) as first_name",
        "case when size(split(full_name, ' ')) > 2 then element_at(split(full_name, ' '), 2) else '' end as middle_name",
        "element_at(split(full_name, ' '), size(split(full_name, ' '))) as last_name")

  val nameSplitSql: String =
    s"""WITH b AS ($W3Sql),
       |n AS (SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN w1 || ' ' || w2
       |         ELSE w1 || ' ' || w2 || ' ' || w3 END AS full_name FROM b)
       |SELECT doc_id, full_name,
       |  string_split(full_name, ' ')[1] AS first_name,
       |  CASE WHEN len(string_split(full_name, ' ')) > 2
       |       THEN string_split(full_name, ' ')[2] ELSE '' END AS middle_name,
       |  string_split(full_name, ' ')[len(string_split(full_name, ' '))] AS last_name
       |FROM n""".stripMargin

  // ------------------------------------------------------------- base64

  /** endpoint_upload.py:834-855,899-913 base64 payload decode: encode →
    * decode round-trip must be exact.
    */
  def base64Roundtrip(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id",
        // Spark's base64 emits MIME-chunked output (CRLF every 76 chars);
        // strip the chunking for the canonical unchunked form
        "replace(base64(cast(text as binary)), '\r\n', '') as b64",
        "cast(cast(unbase64(base64(cast(text as binary))) as string) = text as boolean) as roundtrip_ok")

  val base64RoundtripSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  base64(encode(text)) AS b64,
      |  (decode(from_base64(base64(encode(text)))) = text) AS roundtrip_ok
      |FROM documents""".stripMargin

  // ---------------------------------------------------------- JSON carve

  /** convert_to_json.py:548-557: carve the {...} block out of a noisy
    * reply, then extract fields.
    */
  def jsonCarve(spark: SparkSession, dir: String): DataFrame =
    w3(spark, dir)
      .selectExpr("doc_id",
        """concat('noise {"k": ', cast(doc_id as string), ', "v": "', w1, '"} tail') as reply""".stripMargin)
      .selectExpr("doc_id",
        "regexp_extract(reply, '\\\\{.*\\\\}', 0) as carved")
      .selectExpr("doc_id",
        "cast(get_json_object(carved, '$.k') as long) as k",
        "get_json_object(carved, '$.v') as v")

  val jsonCarveSql: String =
    s"""WITH b AS ($W3Sql),
       |r AS (SELECT doc_id,
       |    'noise {"k": ' || CAST(doc_id AS VARCHAR) || ', "v": "' || w1 || '"}' || ' tail' AS reply
       |  FROM b),
       |c AS (SELECT doc_id, regexp_extract(reply, '\\{.*\\}') AS carved FROM r)
       |SELECT doc_id, CAST(carved->>'$$.k' AS BIGINT) AS k, carved->>'$$.v' AS v FROM c""".stripMargin

  // ------------------------------------------------------- n-gram chunker

  /** endpoint_upload.py:124-165 n-gram chunker (relational analog): all
    * 2-word chunks via sequence+slice.
    */
  def ngramChunks(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id", "split(text, ' ') as ws")
      .selectExpr("doc_id",
        "transform(sequence(1, size(ws) - 1), i -> concat_ws(' ', slice(ws, i, 2))) as grams")
      .selectExpr("doc_id",
        "cast(size(grams) as long) as n_bigrams",
        "element_at(grams, 1) as first_bigram",
        "element_at(grams, -1) as last_bigram")

  val ngramChunksSql: String =
    """WITH w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT doc_id,
      |    list_transform(range(1, len(ws)), i -> array_to_string(list_slice(ws, i, i + 1), ' ')) AS grams
      |  FROM w)
      |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_bigrams,
      |  grams[1] AS first_bigram, grams[len(grams)] AS last_bigram
      |FROM g""".stripMargin

  // ---------------------------------------------------- payer-line rollup

  /** find_payer_info (convert_to_json.py:268-292): chunk the doc into
    * 8-word lines, keep lines matching the payer vocabulary, concatenate
    * in document order — order-deterministic because the fold stays inside
    * one row's arrays (no collect_list).
    */
  def payerLines(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id", "split(text, ' ') as ws")
      .selectExpr("doc_id",
        """filter(
          |  transform(sequence(0, cast(ceil(size(ws) / 8.0) as int) - 1),
          |    i -> concat_ws(' ', slice(ws, i * 8 + 1, 8))),
          |  c -> array_contains(split(c, ' '), 'value') or array_contains(split(c, ' '), 'hash')) as hits""".stripMargin)
      .selectExpr("doc_id",
        "cast(size(hits) as long) as n_payer_lines",
        "array_join(hits, ' ') as payer_text")

  val payerLinesSql: String =
    """WITH w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws FROM documents),
      |c AS (SELECT doc_id,
      |    list_filter(
      |      list_transform(range(0, CAST(ceil(len(ws) / 8.0) AS INT)),
      |        i -> array_to_string(list_slice(ws, i * 8 + 1, i * 8 + 8), ' ')),
      |      c -> list_contains(string_split(c, ' '), 'value') OR list_contains(string_split(c, ' '), 'hash')) AS hits
      |  FROM w)
      |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_payer_lines,
      |  coalesce(array_to_string(hits, ' '), '') AS payer_text
      |FROM c""".stripMargin

  // ------------------------------------------------- service-table ladder

  /** The full service-extraction ladder (ServiceExtractor.extractLadder =
    * find_service_table_section → extract_simple_services → legacy
    * fallback) over a synthesized vertical headers-then-cells layout; the
    * parse result is deterministic by construction so the oracle composes
    * the expected row directly.
    */
  def serviceTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    w3(spark, dir)
      .selectExpr("doc_id", "w1", "w2")
      .as[(Long, String, String)]
      .map { case (id, w1, w2) =>
        val lines = IndexedSeq(
          "(Code) Service", "Type", "Req.Qty", "Req.Cost", "Gross Amount",
          "App.Qty", "App.Cost", "App.Gross", "Note",
          s"($id-00-01) $w1 scan", "Imaging", "1", "345.5", "600", "2",
          "340", "680", s"note $w2")
        val (rows, method) = graft.kernels.ServiceExtractor.extractLadder(lines)
        val r = rows.head
        (id, method, r("code").toString, r("description").toString,
          r("type").toString, r("reqQty").asInstanceOf[java.lang.Double].doubleValue,
          r("appGross").asInstanceOf[java.lang.Double].doubleValue,
          r("note").toString)
      }
      .toDF("doc_id", "method", "code", "description", "svc_type",
        "req_qty", "app_gross", "note")
  }

  val serviceTableSql: String =
    s"""WITH b AS ($W3Sql)
       |SELECT doc_id, 'vertical' AS method,
       |  CAST(doc_id AS VARCHAR) || '-00-01' AS code,
       |  w1 || ' scan' AS description,
       |  'imaging' AS svc_type,
       |  CAST(1.0 AS DOUBLE) AS req_qty,
       |  CAST(680.0 AS DOUBLE) AS app_gross,
       |  'note ' || w2 AS note
       |FROM b""".stripMargin

  // ------------------------------------------------- bracketed-list parse

  /** clean_line (test_extraction.py:18-37) parsed `['w1', 'w2']` OCR lines
    * with eval(!); the engine's analog is a pure string pipeline: strip the
    * outer `['...']`, split on `', '` (never eval).
    */
  def bracketParse(spark: SparkSession, dir: String): DataFrame =
    w3(spark, dir)
      .selectExpr("doc_id",
        "concat('[''', w1, ''', ''', w2, ''', ''', w3, ''']') as line")
      .selectExpr("doc_id",
        "split(regexp_replace(line, '^\\\\[''|''\\\\]$', ''), ''', ''') as words")
      .selectExpr("doc_id",
        "cast(size(words) as long) as n_words",
        "array_join(words, ' ') as joined")

  val bracketParseSql: String =
    s"""WITH b AS ($W3Sql),
       |l AS (SELECT doc_id,
       |    '[''' || w1 || ''', ''' || w2 || ''', ''' || w3 || ''']' AS line FROM b),
       |p AS (SELECT doc_id,
       |    string_split(regexp_replace(line, '^\\[''|''\\]$$', '', 'g'), ''', ''') AS words
       |  FROM l)
       |SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
       |  array_to_string(words, ' ') AS joined
       |FROM p""".stripMargin

  // ---------------------------------------------- clean_token / find_key

  /** clean_token kernel (convert_to_json.py:145-154) over a bracketed,
    * quoted, comma-ridden header line; oracle composes the normalized
    * expectation directly.
    */
  def cleanTokenQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    w3(spark, dir)
      .selectExpr("doc_id", "concat('  [''', upper(w1), ''', ''', w2, ''']  ') as raw")
      .as[(Long, String)]
      .map { case (id, raw) => (id, ScalarKernels.cleanToken(raw)) }
      .toDF("doc_id", "token")
  }

  val cleanTokenSql: String =
    s"""WITH b AS ($W3Sql)
       |SELECT doc_id, lower(w1) || ' ' || lower(w2) AS token FROM b""".stripMargin

  /** find_key_recursive kernel (automate_upload.py:956-974): DYNAMIC
    * recursive key search — the key's location rotates through top level
    * (case-mismatched), depth-2 dict, dict-inside-list, and absent, so
    * static-path extraction cannot fake it.
    */
  def findKeyRecursiveQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    w3(spark, dir)
      .selectExpr("doc_id",
        """case cast(doc_id % 4 as int)
          |  when 0 then concat('{"Payer":"', w1, '","other":1}')
          |  when 1 then concat('{"a":{"b":{"payer":"', w1, '"}},"c":2}')
          |  when 2 then concat('{"items":[{"x":1},{"payer":"', w1, '"}]}')
          |  else '{"a":{"b":2}}' end as json""".stripMargin)
      .as[(Long, String)]
      .map { case (id, json) =>
        (id, ScalarKernels.findKeyRecursive(json, Seq("payer")).orNull)
      }
      .toDF("doc_id", "payer")
  }

  val findKeyRecursiveSql: String =
    s"""WITH b AS ($W3Sql)
       |SELECT doc_id,
       |  CASE WHEN doc_id % 4 = 3 THEN NULL ELSE w1 END AS payer FROM b""".stripMargin

  // --------------------------------------------------- marital flags→enum

  /** Marital checkbox flags → enum projection: the Single/Married paren
    * checkboxes run through the REAL kernel, then collapse to the
    * Married-wins / Single / Unknown enum (an unknowable checkbox — the
    * multi-char paren — falls through to Unknown).
    */
  def maritalEnum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id")
      .as[Long]
      .map { id =>
        val singleMark = if (id % 2 == 0) "x" else ""
        val marriedMark = (id % 3) match { case 0 => "x"; case 1 => ""; case _ => "ab" }
        val checked = ScalarKernels.processCheckboxes(
          s"Single ($singleMark) Married ($marriedMark)")
        val marital =
          if (checked.contains("Married true")) "Married"
          else if (checked.contains("Single true")) "Single"
          else "Unknown"
        (id, marital)
      }
      .toDF("doc_id", "marital")
  }

  val maritalEnumSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'Married'
      |       WHEN doc_id % 2 = 0 THEN 'Single'
      |       ELSE 'Unknown' END AS marital
      |FROM documents""".stripMargin

  // ------------------------------------------------ flatten_json / find_field

  /** flatten_json + find_field kernels (automate_upload.py:657-680):
    * dynamic dot-path flattening with list indexing, then the
    * deepest-dotted-suffix field lookup — a shallow decoy "age" at the
    * top level must LOSE to the nested one (find_field requires the dot
    * before the field name and prefers depth).
    */
  def flattenFind(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    w3(spark, dir)
      .selectExpr("doc_id",
        """concat('{"age":"', w1,
          |  '","patient":{"info":{"age":"', cast(doc_id % 90 as string),
          |  '"}},"items":[{"qty":', cast(doc_id % 5 as string), '},7]}') as json""".stripMargin)
      .as[(Long, String)]
      .map { case (id, json) =>
        val flat = ScalarKernels.flattenJson(json)
        val m = flat.toMap
        (id, flat.size.toLong,
          ScalarKernels.findField(flat, "age").orNull,
          m.getOrElse("items[0].qty", null),
          m.getOrElse("items[1]", null))
      }
      .toDF("doc_id", "n_keys", "age_found", "qty", "scalar_item")
  }

  val flattenFindSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(4 AS BIGINT) AS n_keys,
      |  CAST(doc_id % 90 AS VARCHAR) AS age_found,
      |  CAST(doc_id % 5 AS VARCHAR) AS qty,
      |  '7' AS scalar_item
      |FROM documents""".stripMargin

  // ------------------------------------------------- assembled D6 record

  /** The reference's END PRODUCT: the assembled StructuredOCR document
    * (models.py:197-206 root; nested MedicalFormContent sections
    * models.py:182-195; golden shape test_convert_full.json:97-209) —
    * checkbox kernel output, demographics, payer rollup and the
    * service-table ladder composed into one nested struct and serialized
    * with `to_json` (Spark's default ignoreNullFields=true IS the
    * pydantic exclude-none behavior: an unknowable checkbox or absent
    * gender drops its key entirely).
    *
    * The real kernels run in the typed map (processCheckboxes with its
    * 3-token window + early-return Yes/No pass; ServiceExtractor's full
    * ladder); the oracle reconstructs the exact JSON byte string in
    * DuckDB, so key order, null-dropping, numeric formatting and the
    * kernel decisions are all under compare.
    */
  def structuredRecord(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id",
        "element_at(split(text, ' '), 1) as w1",
        "element_at(split(text, ' '), 2) as w2",
        "cast(n_chars as long) as n_chars", "text")
      .as[(Long, String, String, Long, String)]
      .map { case (id, w1, w2, nChars, text) =>
        val singleMark = if (id % 2 == 0) "x" else ""
        val marriedMark = (id % 3) match { case 0 => "x"; case 1 => ""; case _ => "ab" }
        val refillWord = if (id % 5 < 3) "Yes" else "No"
        val raw = s"Single ($singleMark) Married ($marriedMark) Status (ok)\nrefill: $refillWord extra"
        val checked = ScalarKernels.processCheckboxes(raw)
        val lines = IndexedSeq(
          "(Code) Service", "Type", "Req.Qty", "Req.Cost", "Gross Amount",
          "App.Qty", "App.Cost", "App.Gross", "Note",
          s"($id-00-01) $w1 scan", "Imaging", "1", "345.5", "600", "2",
          "340", "680", s"note $w2",
          s"($id-00-02) $w2 lab", "Laboratory", "3", "80", "240", "3",
          "75", "225", s"note $w1")
        val rs = graft.kernels.ServiceExtractor.extractLadder(lines)._1
        def f(i: Int, k: String): String = rs(i)(k).toString
        def d(i: Int, k: String): Double =
          rs(i)(k).asInstanceOf[java.lang.Double].doubleValue
        (id, w1, w2, nChars, text, checked,
          f(0, "code"), f(0, "description"), f(0, "type"),
          d(0, "reqQty"), d(0, "appGross"), f(0, "note"),
          f(1, "code"), f(1, "description"), f(1, "type"),
          d(1, "reqQty"), d(1, "appGross"), f(1, "note"))
      }
      .toDF("doc_id", "w1", "w2", "n_chars", "text", "checked",
        "code", "description", "svc_type", "req_qty", "app_gross", "note",
        "code2", "description2", "svc_type2", "req_qty2", "app_gross2", "note2")
      .selectExpr("doc_id",
        """to_json(named_struct(
          |  'file_name', concat('doc_', cast(doc_id as string), '.pdf'),
          |  'topics', array('medical_form'),
          |  'languages', case when doc_id % 2 = 0 then array('English')
          |                    else array('English', 'Arabic') end,
          |  'ocr_contents', named_struct(
          |    'provider', named_struct(
          |      'providerName', concat(w1, ' clinic'),
          |      'single', checked like '%Single true%',
          |      'married', case when checked like '%Married true%' then true
          |                      when checked like '%Married false%' then false end,
          |      'refill', checked like '%refill: true%'),
          |    'insured', named_struct(
          |      'insuredName', concat(w1, ' ', w2),
          |      'payer', nullif(array_join(filter(
          |        transform(sequence(0, cast(ceil(size(split(text, ' ')) / 8.0) as int) - 1),
          |          i -> concat_ws(' ', slice(split(text, ' '), i * 8 + 1, 8))),
          |        c -> array_contains(split(c, ' '), 'value')
          |          or array_contains(split(c, ' '), 'hash')), ' '), '')),
          |    'patient', named_struct(
          |      'sex', case when doc_id % 2 = 0 then 'M' else 'F' end,
          |      'age', cast(doc_id % 90 + 1 as string),
          |      'gender', case cast(doc_id % 3 as int) when 0 then 'M' when 1 then 'F' end),
          |    'services', array(
          |      named_struct(
          |        'code', code, 'description', description, 'type', svc_type,
          |        'reqQty', req_qty, 'appGross', app_gross, 'note', note),
          |      named_struct(
          |        'code', code2, 'description', description2, 'type', svc_type2,
          |        'reqQty', req_qty2, 'appGross', app_gross2, 'note', note2))),
          |  'page_count', cast(doc_id % 3 + 1 as int),
          |  'extracted_text_length', n_chars)) as record_json""".stripMargin)
  }

  val structuredRecordSql: String =
    """WITH b AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    string_split(text, ' ')[1] AS w1, string_split(text, ' ')[2] AS w2,
      |    CAST(n_chars AS BIGINT) AS n_chars, string_split(text, ' ') AS ws
      |  FROM documents),
      |h AS (SELECT doc_id,
      |    list_filter(
      |      list_transform(range(0, CAST(ceil(len(ws) / 8.0) AS INT)),
      |        i -> array_to_string(list_slice(ws, i * 8 + 1, i * 8 + 8), ' ')),
      |      c -> list_contains(string_split(c, ' '), 'value')
      |        OR list_contains(string_split(c, ' '), 'hash')) AS hits,
      |    w1, w2, n_chars FROM b)
      |SELECT doc_id,
      |  '{"file_name":"doc_' || CAST(doc_id AS VARCHAR) || '.pdf",' ||
      |  '"topics":["medical_form"],' ||
      |  '"languages":' || CASE WHEN doc_id % 2 = 0 THEN '["English"]'
      |                         ELSE '["English","Arabic"]' END || ',' ||
      |  '"ocr_contents":{' ||
      |    '"provider":{"providerName":"' || w1 || ' clinic",' ||
      |      '"single":' || CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END ||
      |      CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN ',"married":true'
      |           WHEN 1 THEN ',"married":false' ELSE '' END ||
      |      ',"refill":' || CASE WHEN doc_id % 5 < 3 THEN 'true' ELSE 'false' END || '},' ||
      |    '"insured":{"insuredName":"' || w1 || ' ' || w2 || '"' ||
      |      CASE WHEN len(hits) > 0
      |           THEN ',"payer":"' || array_to_string(hits, ' ') || '"' ELSE '' END || '},' ||
      |    '"patient":{"sex":"' || CASE WHEN doc_id % 2 = 0 THEN 'M' ELSE 'F' END || '",' ||
      |      '"age":"' || CAST(doc_id % 90 + 1 AS VARCHAR) || '"' ||
      |      CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN ',"gender":"M"'
      |           WHEN 1 THEN ',"gender":"F"' ELSE '' END || '},' ||
      |    '"services":[{"code":"' || CAST(doc_id AS VARCHAR) || '-00-01",' ||
      |      '"description":"' || w1 || ' scan","type":"imaging",' ||
      |      '"reqQty":1.0,"appGross":680.0,"note":"note ' || w2 || '"},' ||
      |      '{"code":"' || CAST(doc_id AS VARCHAR) || '-00-02",' ||
      |      '"description":"' || w2 || ' lab","type":"laboratory",' ||
      |      '"reqQty":3.0,"appGross":225.0,"note":"note ' || w1 || '"}]},' ||
      |  '"page_count":' || CAST(doc_id % 3 + 1 AS VARCHAR) || ',' ||
      |  '"extracted_text_length":' || CAST(n_chars AS VARCHAR) || '}' AS record_json
      |FROM h""".stripMargin

  // -------------------------------------------------------------- registry

  def registry: Map[String, Gated] = Map(
    "q_structured_record" -> Gated(structuredRecord(_, _), structuredRecordSql),
    "q_clean_token" -> Gated(cleanTokenQ(_, _), cleanTokenSql),
    "q_find_key_recursive" -> Gated(findKeyRecursiveQ(_, _), findKeyRecursiveSql),
    "q_marital_enum" -> Gated(maritalEnum(_, _), maritalEnumSql),
    "q_flatten_find" -> Gated(flattenFind(_, _), flattenFindSql),
    "q_clean_ocr" -> Gated(cleanOcr(_, _), cleanOcrSql),
    "q_checkbox_kernel" -> Gated(checkboxKernel(_, _), checkboxKernelSql),
    "q_fragment_rejoin" -> Gated(fragmentRejoin(_, _), fragmentRejoinSql),
    "q_service_desc" -> Gated(serviceDesc(_, _), serviceDescSql),
    "q_service_codes" -> Gated(serviceCodes(_, _), serviceCodesSql),
    "q_date_multi" -> Gated(dateMulti(_, _), dateMultiSql),
    "q_icd10" -> Gated(icd10(_, _), icd10Sql),
    "q_chief_complaint" -> Gated(chiefComplaint(_, _), chiefComplaintSql),
    "q_name_split" -> Gated(nameSplit(_, _), nameSplitSql),
    "q_base64" -> Gated(base64Roundtrip(_, _), base64RoundtripSql),
    "q_json_carve" -> Gated(jsonCarve(_, _), jsonCarveSql),
    "q_ngram_chunks" -> Gated(ngramChunks(_, _), ngramChunksSql),
    "q_payer_lines" -> Gated(payerLines(_, _), payerLinesSql),
    "q_bracket_parse" -> Gated(bracketParse(_, _), bracketParseSql),
    "q_service_table" -> Gated(serviceTable(_, _), serviceTableSql))
}
