package graft.ops

import graft.Gated
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token counting, language ID (marker-word heuristic),
  * quality scoring, document fingerprinting. Every query has a DuckDB
  * oracle (driver correctness gate); all functions are built-in Catalyst
  * expressions — no UDFs — so they stay inside whole-stage codegen and
  * push column pruning to the parquet scan.
  */
object TextOps {

  /** The `documents` table, untyped; shared by the text-side families. */
  private[ops] def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  // ----------------------------------------------------------- token count

  /** Whitespace tokens + a BPE-ish regex token count (letters runs, digit
    * runs, single other chars). Regex kept simple enough that Java and
    * DuckDB RE2 agree.
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).selectExpr(
      "cast(doc_id as long) as doc_id",
      "cast(size(split(text, ' ')) as long) as n_ws_tokens",
      "cast(size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)) as long) as n_re_tokens")

  val tokenCountSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_re_tokens
      |FROM documents""".stripMargin

  // ------------------------------------------------------------ language id

  // Marker vocabularies from PUBLIC stopword profiles (the top-frequency
  // function words every published stopword list agrees on — e.g. the
  // NLTK / Snowball / ranks.nl lists), 10 per language across 20
  // languages incl. Cyrillic + Arabic scripts; scoring = |distinct words
  // ∩ markers|. Shared words (de/nl "die", es/pt "de", da/no "og") are
  // deliberate: scoring is by TOTAL hits with a fixed tie order, the way
  // marker-profile LID heuristics are published. Space-separated scripts
  // only — CJK would need a char-n-gram profile, out of scope here.
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "was", "for", "with"),
    "fr" -> Seq("le", "la", "les", "des", "est", "que", "pour", "dans", "pas", "vous"),
    "es" -> Seq("el", "los", "las", "una", "por", "con", "para", "pero", "como", "más"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "von", "mit", "ist", "auf", "ein"),
    "it" -> Seq("il", "gli", "che", "per", "con", "sono", "della", "più", "anche", "questo"),
    "pt" -> Seq("os", "uma", "não", "com", "para", "por", "mais", "mas", "são", "foi"),
    "nl" -> Seq("de", "het", "een", "van", "niet", "met", "voor", "naar", "zijn", "dat"),
    "sv" -> Seq("och", "att", "det", "som", "en", "på", "är", "av", "för", "med"),
    "da" -> Seq("og", "det", "at", "en", "til", "er", "som", "på", "ikke", "med"),
    "no" -> Seq("og", "det", "at", "en", "til", "er", "som", "på", "ikke", "jeg"),
    "fi" -> Seq("ja", "on", "ei", "että", "se", "hän", "oli", "mutta", "niin", "kuin"),
    "pl" -> Seq("nie", "się", "jest", "na", "że", "do", "jak", "ale", "po", "co"),
    "cs" -> Seq("je", "se", "na", "že", "si", "ale", "jako", "už", "tak", "co"),
    "ro" -> Seq("și", "de", "la", "cu", "un", "este", "pentru", "care", "nu", "din"),
    "hu" -> Seq("az", "és", "hogy", "nem", "is", "egy", "van", "de", "ez", "volt"),
    "tr" -> Seq("bir", "ve", "bu", "da", "ne", "için", "ile", "ama", "gibi", "çok"),
    "id" -> Seq("yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "ini", "dari", "akan"),
    "ca" -> Seq("els", "les", "amb", "per", "una", "dels", "com", "més", "això", "també"),
    "ru" -> Seq("и", "в", "не", "на", "что", "с", "это", "как", "по", "но"),
    "ar" -> Seq("في", "من", "على", "أن", "إلى", "هذا", "التي", "كان", "مع", "عن"))

  private def hitsExpr(ws: Seq[String]): String = hitsExprOn("text", ws)

  private def hitsSqlExpr(ws: Seq[String]): String = hitsSqlExprOn("text", ws)

  private def hitsExprOn(c: String, ws: Seq[String]): String = {
    val arr = ws.map(w => s"'$w'").mkString("array(", ", ", ")")
    s"size(filter(array_distinct(split($c, ' ')), w -> array_contains($arr, w)))"
  }

  private def hitsSqlExprOn(c: String, ws: Seq[String]): String = {
    val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(list_distinct(string_split($c, ' ')), w -> list_contains($arr, w)))"
  }

  /** n-gram/marker-word language ID heuristic: most marker hits wins,
    * ties broken by fixed language order, zero hits → 'und'.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val hits = Markers.map { case (l, ws) => s"cast(${hitsExpr(ws)} as long) as hits_$l" }
    val best = Markers.map { case (l, _) => s"hits_$l" }
    val caseChain = Markers.map { case (l, _) =>
      s"when hits_$l = greatest(${best.mkString(", ")}) and hits_$l > 0 then '$l'"
    }.mkString(" ")
    docs(spark, dir)
      .selectExpr(Seq("cast(doc_id as long) as doc_id") ++ hits: _*)
      .selectExpr(Seq("doc_id") ++ best ++
        Seq(s"case $caseChain else 'und' end as lang_pred"): _*)
  }

  val langIdSql: String = {
    val hits = Markers.map { case (l, ws) => s"CAST(${hitsSqlExpr(ws)} AS BIGINT) AS hits_$l" }
    val best = Markers.map { case (l, _) => s"hits_$l" }
    val caseChain = Markers.map { case (l, _) =>
      s"WHEN hits_$l = greatest(${best.mkString(", ")}) AND hits_$l > 0 THEN '$l'"
    }.mkString(" ")
    s"""WITH h AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, ${hits.mkString(", ")} FROM documents)
       |SELECT doc_id, ${best.mkString(", ")},
       |  CASE $caseChain ELSE 'und' END AS lang_pred
       |FROM h""".stripMargin
  }

  // ------------------------------------------------ declared-vs-detected

  /** Planted marker prefix for [[langAgreement]]: every doc whose
    * declared `lang` has a word-marker profile gets 5 markers of that
    * language prepended (a correct declaration); every 4th doc instead
    * gets a ROTATED wrong-language prefix (en→fr, de→en, fr→es, es→de —
    * a mislabel plant). Declared-zh docs keep their raw Latin text on
    * the correct branch (no zh word markers exist — the realistic
    * "declared CJK, Latin body" shape the CJK path handles) and get an
    * en prefix on the mislabel branch. Shared literal between the Spark
    * and DuckDB sides so both engines score identical strings.
    */
  private val LangPrefixCase: String =
    """case when doc_id % 4 = 0 then
      |  case lang when 'en' then 'le la les des est'
      |            when 'de' then 'the and of to in'
      |            when 'fr' then 'el los las una por'
      |            when 'es' then 'der die das und nicht'
      |            else 'the and of to in' end
      |else
      |  case lang when 'en' then 'the and of to in'
      |            when 'de' then 'der die das und nicht'
      |            when 'fr' then 'le la les des est'
      |            when 'es' then 'el los las una por'
      |            else '' end
      |end""".stripMargin

  /** Declared-language vs detected-language agreement — the CCNet-style
    * audit a corpus pipeline runs before trusting the page's own `lang`
    * tag (Wenzek et al. 2020 keep docs where the LID agrees with the
    * declared language): a confusion matrix of (declared, predicted)
    * with exact doc counts and the agreement verdict per cell. The
    * mislabel plants (see [[LangPrefixCase]]) make disagreement rows
    * value-bearing at every SF.
    *
    * 100 TB shape: scoring is a pure in-row projection over the 21
    * marker profiles (text never shuffles); the only exchange is the
    * confusion-cell rollup — at most |langs|² tiny rows after map-side
    * partial agg.
    */
  def langAgreement(spark: SparkSession, dir: String): DataFrame = {
    val hits = Markers.map { case (l, ws) => s"cast(${hitsExprOn("txt", ws)} as long) as hits_$l" }
    val best = Markers.map { case (l, _) => s"hits_$l" }
    val caseChain = Markers.map { case (l, _) =>
      s"when hits_$l = greatest(${best.mkString(", ")}) and hits_$l > 0 then '$l'"
    }.mkString(" ")
    docs(spark, dir)
      .selectExpr("lang", s"concat($LangPrefixCase, ' ', text) as txt")
      .selectExpr(Seq("lang") ++ hits: _*)
      .selectExpr("lang", s"case $caseChain else 'und' end as lang_pred")
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).cast("long").as("n_docs"))
      .selectExpr("lang", "lang_pred", "n_docs", "lang = lang_pred as agree")
  }

  val langAgreementSql: String = {
    val hits = Markers.map { case (l, ws) => s"${hitsSqlExprOn("txt", ws)} AS hits_$l" }
    val best = Markers.map { case (l, _) => s"hits_$l" }
    val caseChain = Markers.map { case (l, _) =>
      s"WHEN hits_$l = greatest(${best.mkString(", ")}) AND hits_$l > 0 THEN '$l'"
    }.mkString(" ")
    s"""WITH t AS (SELECT lang, concat($LangPrefixCase, ' ', text) AS txt FROM documents),
       |h AS (SELECT lang, ${hits.mkString(", ")} FROM t),
       |p AS (SELECT lang, CASE $caseChain ELSE 'und' END AS lang_pred FROM h)
       |SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
       |  lang = lang_pred AS agree
       |FROM p GROUP BY lang, lang_pred""".stripMargin
  }

  /** Host language homogeneity — the crawl-side language signal next to
    * [[langAgreement]]'s per-doc gate: per host (doc_id % 20, the same
    * host key as the link/robots tiers), the declared-language
    * distribution and its Shannon entropy in integer micro-nats. A
    * multilingual host is a language-routing decision (per-lang
    * sub-corpora); a host whose entropy JUMPS between crawls is usually
    * a parked/hijacked domain. Exact: integer counts, one shared
    * -Σ p·ln(p) formula rounded once.
    *
    * 100 TB shape: one (host, lang) partial-agg'd count shuffle over
    * narrow keys, then a per-host rollup over ≤|langs| cells.
    */
  def hostLangEntropy(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .selectExpr("cast(doc_id % 20 as long) as host_id", "lang")
      .groupBy("host_id", "lang")
      .agg(count(lit(1)).cast("long").as("c"))
      .withColumn("n", expr("sum(c) over (partition by host_id)"))
      .groupBy("host_id")
      .agg(
        min("n").cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_langs"),
        expr("""cast(round(-1000000.0D * sum((cast(c as double) / n)
               |  * ln(cast(c as double) / n))) as bigint)""".stripMargin)
          .as("entropy_unats"))

  val hostLangEntropySql: String =
    """WITH cells AS (SELECT CAST(doc_id % 20 AS BIGINT) AS host_id, lang,
      |    CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY 1, 2),
      |w AS (SELECT host_id, c, sum(c) OVER (PARTITION BY host_id) AS n FROM cells)
      |SELECT host_id, CAST(min(n) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_langs,
      |  CAST(round(-1000000.0 * sum((CAST(c AS DOUBLE) / n)
      |    * ln(CAST(c AS DOUBLE) / n))) AS BIGINT) AS entropy_unats
      |FROM w GROUP BY host_id""".stripMargin

  // ----------------------------------------------------- CJK language id

  // Character profiles for the unsegmented scripts the word-marker LID
  // cannot handle: top function CHARACTERS (public frequency lists —
  // zh particles, ja kana particles, ko josa/eomi syllables). Kana is
  // uniquely Japanese and hangul uniquely Korean; shared han characters
  // just add to the total like shared stopwords do in [[Markers]].
  private val CjkProfiles: Seq[(String, Seq[String])] = Seq(
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"),
    "ja" -> Seq("の", "は", "を", "に", "が", "と", "で", "す", "ま", "し"),
    "ko" -> Seq("이", "다", "는", "을", "가", "에", "한", "하", "고", "지"))

  private val CjkSamples: Map[Long, (String, String)] = Map(
    0L -> ("zh", "我们在这里有一个很好的机会就是不要错过了人生"),
    1L -> ("ja", "これはテストのページですがとてもよいでしょうまた来ます"),
    2L -> ("ko", "이것은 한국어 문서이다 오늘을 좋게 하고 지낸다 그가 말한다"))

  /** Char-profile LID for unsegmented CJK text: score = number of
    * profile characters PRESENT in the text (substring containment, no
    * tokenization). The corpus text is Latin, so a deterministic CJK
    * sample rides in front by doc_id%3 and the oracle knows the answer
    * in closed form — the profiles are graded against ground truth.
    * Pure Catalyst projection, zero shuffle.
    */
  def langIdCjk(spark: SparkSession, dir: String): DataFrame = {
    val sampleCase = CjkSamples.map { case (k, (_, s)) => s"when $k then '$s'" }.mkString(" ")
    val hits = CjkProfiles.map { case (l, cs) =>
      val arr = cs.map(c => s"'$c'").mkString("array(", ", ", ")")
      s"cast(size(filter($arr, c -> instr(txt, c) > 0)) as long) as hits_$l"
    }
    val best = CjkProfiles.map { case (l, _) => s"hits_$l" }
    val caseChain = CjkProfiles.map { case (l, _) =>
      s"when hits_$l = greatest(${best.mkString(", ")}) and hits_$l > 0 then '$l'"
    }.mkString(" ")
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id",
        s"concat(case doc_id % 3 $sampleCase end, ' ', text) as txt")
      .selectExpr(Seq("doc_id") ++ hits: _*)
      .selectExpr(Seq("doc_id") ++ best ++
        Seq(s"case $caseChain else 'und' end as lang_pred"): _*)
  }

  val langIdCjkSql: String = {
    val sampleCase = CjkSamples.map { case (k, (_, s)) => s"WHEN $k THEN '$s'" }.mkString(" ")
    val hits = CjkProfiles.map { case (l, cs) =>
      val arr = cs.map(c => s"'$c'").mkString("[", ", ", "]")
      s"CAST(len(list_filter($arr, c -> strpos(txt, c) > 0)) AS BIGINT) AS hits_$l"
    }
    val best = CjkProfiles.map { case (l, _) => s"hits_$l" }
    val caseChain = CjkProfiles.map { case (l, _) =>
      s"WHEN hits_$l = greatest(${best.mkString(", ")}) AND hits_$l > 0 THEN '$l'"
    }.mkString(" ")
    s"""WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    concat(CASE doc_id % 3 $sampleCase END, ' ', text) AS txt FROM documents),
       |h AS (SELECT doc_id, ${hits.mkString(", ")} FROM t)
       |SELECT doc_id, ${best.mkString(", ")},
       |  CASE $caseChain ELSE 'und' END AS lang_pred
       |FROM h""".stripMargin
  }

  // ---------------------------------------------------------- quality score

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Quality scoring: length stats, stopword hits/ratio, mean word length.
    * Ratios rounded to 6 places so double addition-order differences
    * between engines can't flip the hash compare.
    */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val stop = hitsExpr(Stopwords)
    docs(spark, dir).selectExpr(
      "cast(doc_id as long) as doc_id",
      "cast(length(text) as long) as n_chars",
      "cast(size(split(text, ' ')) as long) as n_words",
      s"cast($stop as long) as stop_hits",
      s"round(cast($stop as double) / size(split(text, ' ')), 6) as stop_ratio",
      "round(cast(length(text) - size(split(text, ' ')) + 1 as double) / size(split(text, ' ')), 6) as avg_word_len",
      s"cast(size(split(text, ' ')) between 20 and 2000 and $stop > 0 as boolean) as quality_ok")
  }

  val qualitySql: String = {
    val stop = hitsSqlExpr(Stopwords)
    s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |  CAST($stop AS BIGINT) AS stop_hits,
       |  round(CAST($stop AS DOUBLE) / len(string_split(text, ' ')), 6) AS stop_ratio,
       |  round(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE) / len(string_split(text, ' ')), 6) AS avg_word_len,
       |  (len(string_split(text, ' ')) BETWEEN 20 AND 2000 AND $stop > 0) AS quality_ok
       |FROM documents""".stripMargin
  }


  // ------------------------------------------------- Gopher quality rules

  /** The published Gopher/Dolma-style document-shape filters (Rae et al.
    * 2021, Appendix A — public), the standard pre-training quality gate:
    * word-count window, mean-word-length window, symbol-to-word ratio,
    * alphabetic-word fraction, minimum stop-word hits. Every rule is a
    * codegen'd projection over one scan; at 10^12 docs this whole gate is
    * a map-side filter that never shuffles.
    */
  def gopherQuality(spark: SparkSession, dir: String): DataFrame = {
    val stop = hitsExpr(Stopwords)
    docs(spark, dir)
      .selectExpr(
        "cast(doc_id as long) as doc_id",
        "split(text, ' ') as ws",
        "text",
        s"cast($stop as long) as stop_hits")
      .selectExpr(
        "doc_id",
        "cast(size(ws) as long) as n_words",
        "round(cast(length(text) - size(ws) + 1 as double) / size(ws), 6) as mean_wlen",
        "round(cast(length(text) - length(replace(text, '#', '')) + " +
          "length(text) - length(replace(text, '…', '')) as double) / size(ws), 6) as symbol_ratio",
        "round(cast(size(filter(ws, w -> w rlike '[a-zA-Z]')) as double) / size(ws), 6) as alpha_frac",
        "stop_hits")
      .selectExpr("doc_id", "n_words", "mean_wlen", "symbol_ratio", "alpha_frac", "stop_hits",
        """cast(n_words between 50 and 100000
          |  and mean_wlen between 3 and 10
          |  and symbol_ratio <= 0.1
          |  and alpha_frac >= 0.8
          |  and stop_hits >= 2 as boolean) as gopher_ok""".stripMargin)
  }

  val gopherQualitySql: String = {
    val stop = hitsSqlExpr(Stopwords)
    s"""WITH w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
       |    string_split(text, ' ') AS ws, CAST($stop AS BIGINT) AS stop_hits
       |  FROM documents),
       |m AS (SELECT doc_id,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    round(CAST(length(text) - len(ws) + 1 AS DOUBLE) / len(ws), 6) AS mean_wlen,
       |    round(CAST(length(text) - length(replace(text, '#', '')) +
       |      length(text) - length(replace(text, '…', '')) AS DOUBLE) / len(ws), 6) AS symbol_ratio,
       |    round(CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE) / len(ws), 6) AS alpha_frac,
       |    stop_hits
       |  FROM w)
       |SELECT doc_id, n_words, mean_wlen, symbol_ratio, alpha_frac, stop_hits,
       |  (n_words BETWEEN 50 AND 100000
       |    AND mean_wlen BETWEEN 3 AND 10
       |    AND symbol_ratio <= 0.1
       |    AND alpha_frac >= 0.8
       |    AND stop_hits >= 2) AS gopher_ok
       |FROM m""".stripMargin
  }


  /** Character-distribution Shannon entropy — the gibberish/binary-junk
    * signal the shape filters miss: base64 blobs, minified JS and
    * hex dumps all pass word-count windows but sit far from natural
    * text's ~4.1 nats of character entropy. Computed ENTIRELY in-row
    * (distinct chars -> per-char frequency -> -Σ p·ln p over the SORTED
    * alphabet, so both engines sum in the same order and the rounded
    * double is bit-stable). Zero shuffle at any scale; per-row cost is
    * O(alphabet × length) with the alphabet a few dozen symbols.
    */
  def charEntropy(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id", "split(text, '') as cs")
      .selectExpr(
        "doc_id",
        "cast(size(cs) as long) as n_chars",
        """round(-aggregate(
          |  array_sort(array_distinct(cs)),
          |  0D,
          |  (acc, c) -> acc
          |    + (cast(size(filter(cs, x -> x = c)) as double) / size(cs))
          |      * ln(cast(size(filter(cs, x -> x = c)) as double) / size(cs))), 6)
          |as entropy""".stripMargin)

  val charEntropySql: String =
    """WITH c AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    string_split(text, '') AS cs
      |  FROM documents)
      |SELECT doc_id, CAST(len(cs) AS BIGINT) AS n_chars,
      |  round(-list_sum(list_transform(
      |    list_sort(list_distinct(cs)),
      |    c -> (CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE) / len(cs))
      |         * ln(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE) / len(cs)))), 6)
      |  AS entropy
      |FROM c""".stripMargin

  /** The other half of the Gopher gate: repetition filters. Duplicate
    * 2-gram mass (fraction of bigram occurrences beyond each bigram's
    * first) and top-bigram share, computed ENTIRELY in-row with
    * higher-order functions — no explode, no shuffle; a 10^12-doc
    * repetition pass stays map-side.
    */
  def repetitionGate(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id", "split(text, ' ') as ws")
      // sub-2-word docs have no bigrams: sequence(1, 0) would descend and
      // slice would throw — such docs are trivially non-repetitive, drop
      .filter("size(ws) >= 2")
      .selectExpr("doc_id",
        "transform(sequence(1, size(ws) - 1), i -> concat_ws(' ', slice(ws, i, 2))) as gs")
      .selectExpr("doc_id",
        "cast(size(gs) as long) as n_bigrams",
        "cast(size(array_distinct(gs)) as long) as n_distinct",
        // top-bigram count via sort + one run-length fold: O(d log d)
        // per row, not the O(d²) per-distinct filter scan that let one
        // pathological 100k-word doc stall a whole task
        """aggregate(array_sort(gs),
          |  named_struct('run', 0L, 'best', 0L, 'prev', cast(null as string)),
          |  (a, x) -> named_struct(
          |    'run',  case when a.prev = x then a.run + 1 else 1L end,
          |    'best', greatest(a.best, case when a.prev = x then a.run + 1 else 1L end),
          |    'prev', x),
          |  a -> a.best) as top_count""".stripMargin)
      .selectExpr("doc_id", "n_bigrams", "n_distinct", "top_count",
        "round(cast(n_bigrams - n_distinct as double) / n_bigrams, 6) as dup_bigram_frac",
        "round(cast(top_count as double) / n_bigrams, 6) as top_bigram_frac",
        """cast(round(cast(n_bigrams - n_distinct as double) / n_bigrams, 6) <= 0.5
          |  and round(cast(top_count as double) / n_bigrams, 6) <= 0.2 as boolean) as repetition_ok""".stripMargin)

  val repetitionGateSql: String =
    """WITH w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws
      |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
      |g AS (SELECT doc_id,
      |    list_transform(range(1, len(ws)), i -> array_to_string(list_slice(ws, i, i + 1), ' ')) AS gs
      |  FROM w),
      |m AS (SELECT doc_id,
      |    CAST(len(gs) AS BIGINT) AS n_bigrams,
      |    CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct,
      |    list_max(list_transform(list_distinct(gs),
      |      g -> len(list_filter(gs, x -> x = g)))) AS top_count
      |  FROM g)
      |SELECT doc_id, n_bigrams, n_distinct, CAST(top_count AS BIGINT) AS top_count,
      |  round(CAST(n_bigrams - n_distinct AS DOUBLE) / n_bigrams, 6) AS dup_bigram_frac,
      |  round(CAST(top_count AS DOUBLE) / n_bigrams, 6) AS top_bigram_frac,
      |  (round(CAST(n_bigrams - n_distinct AS DOUBLE) / n_bigrams, 6) <= 0.5
      |    AND round(CAST(top_count AS DOUBLE) / n_bigrams, 6) <= 0.2) AS repetition_ok
      |FROM m""".stripMargin


  // ------------------------------------------------- URL canonicalization

  /** Crawl-dedup URL canonicalization: lowercase scheme+host, strip the
    * default port, drop the fragment and utm_* tracking params, strip a
    * trailing path slash. The oracle does NOT mirror the regex chain —
    * it constructs the expected canonical form directly, so the chain is
    * validated against ground truth (a wrong regex cannot pass by being
    * wrong identically on both sides).
    */
  def urlCanon(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id",
        "element_at(split(text, ' '), 1) as w1")
      .selectExpr("doc_id", "w1",
        """concat('HTTPS://Host-', cast(doc_id % 50 as string), '.Example.COM:443/Path/', w1,
          |  case when doc_id % 2 = 0 then '/' else '' end,
          |  '?utm_source=x&id=', cast(doc_id as string),
          |  '&utm_campaign=y#s', cast(doc_id % 7 as string)) as raw_url""".stripMargin)
      .selectExpr("doc_id", "raw_url",
        "regexp_replace(regexp_replace(regexp_replace(raw_url, '#.*$', ''), 'utm_[^&#]*&', ''), '[?&]utm_[^&#]*$', '') as u3")
      .selectExpr("doc_id", "raw_url",
        "lower(regexp_extract(u3, '^([A-Za-z]+)://', 1)) as scheme",
        "lower(regexp_extract(u3, '^[A-Za-z]+://([^/?#]*)', 1)) as hostport",
        "regexp_replace(regexp_replace(u3, '^[A-Za-z]+://[^/?#]*', ''), '/(\\\\?|$)', '$1') as rest")
      .selectExpr("doc_id", "raw_url",
        """concat(scheme, '://',
          |  case when scheme = 'https' then regexp_replace(hostport, ':443$', '')
          |       when scheme = 'http' then regexp_replace(hostport, ':80$', '')
          |       else hostport end,
          |  rest) as canon_url""".stripMargin)

  val urlCanonSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  'HTTPS://Host-' || CAST(doc_id % 50 AS VARCHAR) || '.Example.COM:443/Path/'
      |    || string_split(text, ' ')[1]
      |    || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
      |    || '?utm_source=x&id=' || CAST(doc_id AS VARCHAR)
      |    || '&utm_campaign=y#s' || CAST(doc_id % 7 AS VARCHAR) AS raw_url,
      |  'https://host-' || CAST(doc_id % 50 AS VARCHAR) || '.example.com/Path/'
      |    || string_split(text, ' ')[1] || '?id=' || CAST(doc_id AS VARCHAR) AS canon_url
      |FROM documents""".stripMargin


  // ----------------------------------------------------------- PII scrub

  /** Training-data PII scrubbing: emails, dashed phone numbers and IPv4
    * literals replaced with typed placeholders. The input plants PII at
    * known positions so the oracle constructs the expected redacted
    * string directly — the scrubber is graded against ground truth, not
    * against a mirrored regex.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id",
        "element_at(split(text, ' '), 1) as w1",
        "element_at(split(text, ' '), 2) as w2")
      .selectExpr("doc_id",
        """concat(w1, ' mail user', cast(doc_id as string), '@example.com then call ',
          |  '555-', lpad(cast(doc_id % 10000 as string), 4, '0'),
          |  ' from 10.0.', cast(doc_id % 256 as string), '.1 says ', w2) as raw""".stripMargin)
      .selectExpr("doc_id",
        """regexp_replace(regexp_replace(regexp_replace(raw,
          |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]'),
          |  '\\b[0-9]{3}-[0-9]{4}\\b', '[PHONE]'),
          |  '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '[IP]') as scrubbed""".stripMargin)

  val piiScrubSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  string_split(text, ' ')[1] || ' mail [EMAIL] then call [PHONE] from [IP] says '
      |    || string_split(text, ' ')[2] AS scrubbed
      |FROM documents""".stripMargin

  // ----------------------------------------------- BPE-style pretokenizer

  /** GPT-2-family pretokenization (the public regex shape: contraction
    * suffixes, space-prefixed letter runs, digit runs, punctuation runs)
    * as a token-count signal — the count LLM data pipelines budget by.
    * Pure RE2-compatible pattern, identical in both engines; oracle
    * cross-checks count and the first/last token.
    */
  private val BpeTok = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ']+"

  def bpeTokens(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id",
        s"regexp_extract_all(text, \"$BpeTok\", 0) as toks")
      .selectExpr("doc_id",
        "cast(size(toks) as long) as n_tokens",
        "element_at(toks, 1) as first_tok",
        "element_at(toks, -1) as last_tok")

  val bpeTokensSql: String =
    s"""WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    regexp_extract_all(text, '${BpeTok.replace("'", "''")}') AS toks FROM documents)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  toks[1] AS first_tok, toks[len(toks)] AS last_tok
       |FROM t""".stripMargin

  // ----------------------------------------------------------- fingerprint

  /** Content fingerprint: md5 (hex) + 64-bit prefix. The md5 is also the
    * exact-dedup key (DedupOps).
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).selectExpr(
      "cast(doc_id as long) as doc_id",
      "md5(cast(text as binary)) as fp",
      "substring(md5(cast(text as binary)), 1, 16) as fp64")

  val fingerprintSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  md5(text) AS fp,
      |  substr(md5(text), 1, 16) AS fp64
      |FROM documents""".stripMargin

  // -------------------------------------------------------------- registry

  // ------------------------------------------------------------- url parse

  /** URL normalization — the first relational stage of any web-crawl
    * pipeline over the north-rule `url` column: host / path / registered
    * domain / path depth, all regexp_extract (codegen'd, no UDF). The
    * url itself is synthesized deterministically from documents columns
    * (the testdata tables carry no url; the shape is what matters).
    * At 100 TB this is a narrow projection fused into the scan stage.
    */
  def urlParse(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .selectExpr(
        "cast(doc_id as long) as doc_id",
        "concat('https://www.', source, '.example.com/', lang, '/doc-', cast(doc_id as string)) as url")
      .selectExpr(
        "doc_id",
        "url",
        "regexp_extract(url, '^https?://([^/]+)', 1) as host",
        "regexp_extract(url, '^https?://[^/]+(/.*)$', 1) as path",
        "regexp_extract(url, '^https?://(?:[^/.]+\\\\.)*([^/.]+\\\\.[^/.]+)/', 1) as reg_domain",
        "cast(size(split(regexp_extract(url, '^https?://[^/]+(/.*)$', 1), '/')) - 1 as long) as path_depth")

  val urlParseSql: String =
    """SELECT doc_id, url,
      |  regexp_extract(url, '^https?://([^/]+)', 1) AS host,
      |  regexp_extract(url, '^https?://[^/]+(/.*)$', 1) AS path,
      |  regexp_extract(url, '^https?://(?:[^/.]+\.)*([^/.]+\.[^/.]+)/', 1) AS reg_domain,
      |  CAST(len(string_split(regexp_extract(url, '^https?://[^/]+(/.*)$', 1), '/')) - 1 AS BIGINT) AS path_depth
      |FROM (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    concat('https://www.', source, '.example.com/', lang, '/doc-', CAST(doc_id AS VARCHAR)) AS url
      |  FROM documents)""".stripMargin

  // ----------------------------------------------------------- corpus clean

  /** The end-to-end training-data cleaning pass, composed as one plan:
    * quality gate (codegen'd, map-side — rejected rows never shuffle) →
    * exact-dedup keeper via `min_by` (partial+final agg on the 16-byte
    * md5 digest, never the text; no window sort) → per-(source, lang)
    * survivor stats. Two exchanges total, both on small keys, both with
    * map-side partial aggregation — the shape of the whole cleaning job
    * at 100 TB.
    */
  def corpusClean(spark: SparkSession, dir: String): DataFrame = {
    val stop = hitsExpr(Stopwords)
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id", "source", "lang",
        "cast(size(split(text, ' ')) as long) as n_words",
        s"cast($stop as long) as stop_hits",
        "md5(cast(text as binary)) as fp")
      .filter(col("n_words").between(20, 2000) && col("stop_hits") > 0)
      .groupBy(col("fp"))
      .agg(min_by(struct(col("source"), col("lang"), col("n_words")), col("doc_id")).as("k"))
      .groupBy(col("k.source").as("source"), col("k.lang").as("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("k.n_words")).as("total_words"))
  }

  val corpusCleanSql: String = {
    val stop = hitsSqlExpr(Stopwords)
    s"""WITH q AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id, source, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |    CAST($stop AS BIGINT) AS stop_hits,
       |    md5(text) AS fp
       |  FROM documents),
       |f AS (SELECT * FROM q WHERE n_words BETWEEN 20 AND 2000 AND stop_hits > 0),
       |k AS (SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keeper FROM f)
       |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS total_words
       |FROM k WHERE doc_id = keeper GROUP BY source, lang""".stripMargin
  }

  // --------------------------------------------- host-level quality gate

  /** Domain-level quality rollup (the C4/Gopher practice of gating whole
    * hosts, not just documents): per host, document count, short-doc
    * count, and total word volume, plus the blocked verdict (majority of
    * the host's docs under 40 words). Integer-only so the oracle is
    * exact; map-side partial agg into a host-sized rollup — the whole
    * corpus reduces to one row per host before anything shuffles.
    */
  def hostQuality(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .selectExpr(
        "cast(doc_id % 50 as long) as host_id",
        "size(split(text, ' ')) as n_words")
      .groupBy("host_id")
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("n_words") < 40, 1L).otherwise(0L)).cast("long").as("n_short"),
        sum(col("n_words").cast("long")).cast("long").as("total_words"))
      .withColumn("blocked", col("n_short") * 2 > col("n_docs"))

  val hostQualitySql: String =
    """WITH d AS (SELECT CAST(doc_id % 50 AS BIGINT) AS host_id,
      |                  len(string_split(text, ' ')) AS n_words
      |           FROM documents)
      |SELECT host_id,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN n_words < 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
      |  CAST(sum(n_words) AS BIGINT) AS total_words,
      |  sum(CASE WHEN n_words < 40 THEN 1 ELSE 0 END) * 2 > count(*) AS blocked
      |FROM d GROUP BY host_id""".stripMargin

  // --------------------------------------------------------------- mojibake

  /** Mojibake repair ([[graft.kernels.MojibakeKernel]], ftfy-style):
    * each doc's text is decorated with a fixed non-ASCII prefix
    * (multi-byte UTF-8 incl. bytes that are UNDEFINED in windows-1252 —
    * the latin-1 fallback is load-bearing), then mojibake'd 0/1/2
    * rounds by doc_id, then repaired. The oracle is the clean decorated
    * text — byte-identical repair or the hash fails; the d%3==2 rows
    * prove clean non-ASCII text passes through untouched.
    *
    * 100 TB shape: narrow per-row map, zero shuffle.
    */
  def mojibakeRepair(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.kernels.MojibakeKernel
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id", "text")
      .as[(Long, String)]
      .mapPartitions(_.map { case (d, t) =>
        val clean = "Café “№" + (d % 100) + "” — naïve эксперимент: " + t
        val rounds = (2 - d % 3).toInt
        var wrapped = clean
        var i = 0
        while (i < rounds) { wrapped = MojibakeKernel.encodeOnce(wrapped); i += 1 }
        (d, MojibakeKernel.repair(wrapped), rounds.toLong)
      })
      .toDF("doc_id", "text", "enc_rounds")
  }

  val mojibakeRepairSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  'Café “№' || (doc_id % 100) || '” — naïve эксперимент: ' || text AS text,
      |  CAST(2 - doc_id % 3 AS BIGINT) AS enc_rounds
      |FROM documents""".stripMargin

  /** Canonical dedup key ([[graft.kernels.UnicodeKernel.dedupKey]]):
    * NFKC + format-char strip + whitespace collapse + full case fold.
    * Each doc's text is uppercased and decorated with fullwidth forms, a
    * ligature, ß, an ideographic space, and a zero-width space — the
    * decoration's folded form is a closed-form constant, so the oracle
    * reconstructs the key without any Unicode machinery. Narrow
    * projection, zero shuffle.
    */
  def dedupKeyQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id", "upper(text) as t")
      .as[(Long, String)]
      .mapPartitions(_.map { case (d, t) =>
        // fullwidth "Test", ZWSP, ligature fi, ß, ideographic space,
        // fullwidth "NO." — folds to "testfiss no."
        val decor = "Ｔｅｓｔ​ﬁß　ＮＯ． "
        (d, graft.kernels.UnicodeKernel.dedupKey(decor + t))
      })
      .toDF("doc_id", "dedup_key")
  }

  val dedupKeySql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  'testfiss no. ' || lower(trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g'))) AS dedup_key
      |FROM documents""".stripMargin

  /** What canonical-key folding BUYS the dedup pass, measured: the
    * corpus gains an uppercased twin for every 7th doc (a case-variant
    * mirror — the most common real near-miss exact dedup can't see),
    * then both dedup keys run side by side — raw md5(text) vs
    * md5([[graft.kernels.UnicodeKernel.dedupKey]](text)). Output is the
    * one-row audit: docs removed by raw exact dedup, docs removed under
    * the folded key, and the gain. The folded key collapses each twin
    * onto its source (NFKC+casefold turns the uppercase copy back into
    * the original), so `gain_docs` ≥ the planted twin count; natural
    * exact dups count under both keys.
    *
    * 100 TB shape: two 16-byte-key partial-agg'd shuffles (one per key
    * flavor) over in-row hashes; text never rides.
    */
  def normGain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d0 = docs(spark, dir).selectExpr("cast(doc_id as long) as doc_id", "text")
    val corpus = d0.unionByName(
      d0.where("doc_id % 7 = 0")
        .selectExpr("doc_id + 20000000 as doc_id", "upper(text) as text"))
    val keyed = corpus.as[(Long, String)]
      .mapPartitions(_.map { case (_, t) =>
        (t, graft.kernels.UnicodeKernel.dedupKey(t))
      })
      .toDF("t", "fk")
      .selectExpr("md5(cast(t as binary)) as raw_fp",
        "md5(cast(fk as binary)) as fold_fp")
      .localCheckpoint(true) // one scan+fold feeds both rollups
    def removed(key: String) = keyed.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .agg(sum(expr("n - 1")).cast("long").as("removed"))
    removed("raw_fp").selectExpr("removed as raw_dup_docs")
      .crossJoin(removed("fold_fp").selectExpr("removed as fold_dup_docs"))
      .selectExpr("raw_dup_docs", "fold_dup_docs",
        "fold_dup_docs - raw_dup_docs as gain_docs")
  }

  val normGainSql: String =
    """WITH c AS (SELECT text FROM documents
      |  UNION ALL SELECT upper(text) FROM documents WHERE doc_id % 7 = 0),
      |k AS (SELECT md5(text) AS raw_fp,
      |    md5(lower(trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g')))) AS fold_fp
      |  FROM c),
      |r AS (SELECT CAST(sum(n - 1) AS BIGINT) AS raw_dup_docs
      |  FROM (SELECT count(*) AS n FROM k GROUP BY raw_fp)),
      |f AS (SELECT CAST(sum(n - 1) AS BIGINT) AS fold_dup_docs
      |  FROM (SELECT count(*) AS n FROM k GROUP BY fold_fp))
      |SELECT r.raw_dup_docs, f.fold_dup_docs,
      |  f.fold_dup_docs - r.raw_dup_docs AS gain_docs
      |FROM r CROSS JOIN f""".stripMargin

  /** Script-mix profile + homoglyph signal
    * ([[graft.kernels.UnicodeKernel.scriptMix]]): per-doc letter counts
    * by script and the count of words whose letters span ≥2 confusable
    * scripts ("pаypal"). Decoration by doc_id appends a Latin-
    * Cyrillic homoglyph word / pure Cyrillic / pure Greek so the oracle
    * is arithmetic over the base text's letter count. Narrow kernel
    * map, zero shuffle.
    */
  def scriptMixQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id", "text")
      .as[(Long, String)]
      .mapPartitions(_.map { case (d, t) =>
        val decorated = (d % 4) match {
          case 0 => t + " pаypal" // Latin + one Cyrillic а — mixed
          case 1 => t + " привет"
          case 2 => t + " λόγος"
          case _ => t
        }
        val m = graft.kernels.UnicodeKernel.scriptMix(decorated)
        (d, m.nLetters, m.nLatin, m.nCyrillic, m.nGreek, m.mixedWords)
      })
      .toDF("doc_id", "n_letters", "n_latin", "n_cyrillic", "n_greek", "mixed_words")
  }

  val scriptMixSql: String =
    """WITH base AS (SELECT doc_id,
      |    CAST(len(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS nl
      |  FROM documents)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  nl + CASE doc_id % 4 WHEN 0 THEN 6 WHEN 1 THEN 6 WHEN 2 THEN 5 ELSE 0 END AS n_letters,
      |  nl + CASE WHEN doc_id % 4 = 0 THEN 5 ELSE 0 END AS n_latin,
      |  CAST(CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 6 ELSE 0 END AS BIGINT) AS n_cyrillic,
      |  CAST(CASE WHEN doc_id % 4 = 2 THEN 5 ELSE 0 END AS BIGINT) AS n_greek,
      |  CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT) AS mixed_words
      |FROM base""".stripMargin

  /** C4 line-level cleaning ([[graft.kernels.C4Filter]], Raffel et al.
    * 2020 §2.2): each doc becomes a multi-line page built closed-form
    * from its own words so EVERY rule fires — a 5-word kept line, a
    * 3-word short line, a javascript line, a no-terminal-punct line, a
    * second kept line, and (d%7==0) a "lorem ipsum" line that trips the
    * page-level gate. The oracle reconstructs the kept text verbatim.
    * Narrow kernel map, zero shuffle.
    */
  def c4LineFilterQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id",
        "filter(split(text, ' '), w -> w != '') as ws")
      .as[(Long, Seq[String])]
      .mapPartitions(_.map { case (d, ws) =>
        def w(i: Int) = ws(i)
        val lines = scala.collection.mutable.ArrayBuffer(
          s"${w(0)} ${w(1)} ${w(2)} ${w(3)} ${w(4)}.",
          s"${w(5)} ${w(6)} ${w(7)}.",
          s"${w(8)} ${w(9)} javascript ${w(0)} ${w(1)}.",
          s"${w(2)} ${w(3)} ${w(4)} ${w(5)} ${w(6)}",
          s"${w(7)} ${w(8)} ${w(9)} ${w(0)} ${w(1)}?")
        if (d % 7 == 0) lines += "lorem ipsum dolor sit amet."
        val r = graft.kernels.C4Filter.filterLines(lines.mkString("\n"))
        (d, r.kept, r.nLines, r.nKept, r.droppedPunct, r.droppedShort,
          r.droppedJs, r.pageDropped)
      })
      .toDF("doc_id", "kept", "n_lines", "n_kept", "dropped_punct",
        "dropped_short", "dropped_js", "page_dropped")
  }

  val c4LineFilterSql: String =
    """WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      |  FROM documents)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CASE WHEN doc_id % 7 = 0 THEN '' ELSE
      |    ws[1] || ' ' || ws[2] || ' ' || ws[3] || ' ' || ws[4] || ' ' || ws[5] || '.' ||
      |    chr(10) ||
      |    ws[8] || ' ' || ws[9] || ' ' || ws[10] || ' ' || ws[1] || ' ' || ws[2] || '?'
      |  END AS kept,
      |  CAST(5 + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_lines,
      |  CAST(2 + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_kept,
      |  CAST(1 AS BIGINT) AS dropped_punct,
      |  CAST(1 AS BIGINT) AS dropped_short,
      |  CAST(1 AS BIGINT) AS dropped_js,
      |  doc_id % 7 = 0 AS page_dropped
      |FROM d""".stripMargin

  /** Type-token ratio — the vocabulary-diversity quality signal
    * (template/spam pages repeat a tiny vocabulary; TTR collapses on
    * them). Integer outputs only (percentage via integer division), so
    * the compare is exact; pure codegen projection, zero shuffle.
    */
  def typeTokenRatio(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).selectExpr(
      "cast(doc_id as long) as doc_id",
      "cast(size(filter(split(text, ' '), w -> w != '')) as bigint) as n_tokens",
      "cast(size(array_distinct(filter(split(text, ' '), w -> w != ''))) as bigint) as n_types")
      .selectExpr("doc_id", "n_tokens", "n_types",
        "cast(100 * n_types div greatest(n_tokens, 1L) as bigint) as ttr_pct",
        "n_tokens >= 20 and 100 * n_types div greatest(n_tokens, 1L) < 20 as repetitive")

  val typeTokenRatioSql: String =
    """WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))) AS BIGINT) AS n_types
      |  FROM documents)
      |SELECT doc_id, n_tokens, n_types,
      |  CAST(100 * n_types // greatest(n_tokens, 1) AS BIGINT) AS ttr_pct,
      |  n_tokens >= 20 AND 100 * n_types // greatest(n_tokens, 1) < 20 AS repetitive
      |FROM t""".stripMargin

  // ------------------------------------------------------- readability

  /** Flesch–Kincaid grade level (Kincaid et al. 1975) — the classic
    * readability gate a curriculum/mixture designer buckets documents
    * by. Sentences are genuinely PARSED from terminal punctuation
    * (split on [.!?]+, non-blank segments); the synthetic corpus has
    * none, so both engines first decorate it identically — every
    * (5 + doc_id % 4)-th word gains a period — and then parse what they
    * decorated. Syllables = vowel-group runs per word with a 1-minimum
    * (the standard dictionary-free heuristic). All three counts are
    * integral and the grade is one shared double formula over them, so
    * the hash compare is exact. Pure in-row projection — zero shuffle.
    */
  def readability(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id",
        "split(text, ' ') as ws", "5 + cast(doc_id % 4 as int) as stride")
      .selectExpr("doc_id",
        "array_join(transform(ws, (w, i) -> case when (i + 1) % stride = 0 then concat(w, '.') else w end), ' ') as d_text")
      .selectExpr("doc_id",
        "size(split(d_text, ' ')) as n_words_i",
        "size(filter(transform(split(d_text, '[.!?]+'), s -> trim(s)), s -> s != '')) as n_sentences_i",
        """aggregate(transform(split(d_text, ' '),
          |  w -> greatest(cast(size(regexp_extract_all(lower(w), '[aeiouy]+', 0)) as long), 1L)),
          |  0L, (acc, x) -> acc + x) as n_syll_i""".stripMargin)
      .selectExpr("doc_id",
        "cast(n_words_i as long) as n_words",
        "cast(n_sentences_i as long) as n_sentences",
        "n_syll_i as n_syllables",
        "round(0.39D * (cast(n_words_i as double) / n_sentences_i) + 11.8D * (cast(n_syll_i as double) / n_words_i) - 15.59D, 4) as fk_grade")

  val readabilitySql: String =
    """WITH w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws,
      |    5 + doc_id % 4 AS stride FROM documents),
      |t AS (SELECT doc_id, stride, generate_subscripts(ws, 1) AS ord, unnest(ws) AS wd FROM w),
      |d AS (SELECT doc_id, string_agg(CASE WHEN ord % stride = 0 THEN wd || '.' ELSE wd END, ' ' ORDER BY ord) AS d_text
      |  FROM t GROUP BY doc_id, stride),
      |c AS (SELECT doc_id,
      |    len(string_split(d_text, ' ')) AS n_words_i,
      |    len(list_filter(list_transform(regexp_split_to_array(d_text, '[.!?]+'), s -> trim(s)), s -> s <> '')) AS n_sentences_i,
      |    list_sum(list_transform(string_split(d_text, ' '),
      |      w -> greatest(len(regexp_extract_all(lower(w), '[aeiouy]+')), 1))) AS n_syll_i
      |  FROM d)
      |SELECT doc_id, CAST(n_words_i AS BIGINT) AS n_words,
      |  CAST(n_sentences_i AS BIGINT) AS n_sentences,
      |  CAST(n_syll_i AS BIGINT) AS n_syllables,
      |  round(0.39 * (CAST(n_words_i AS DOUBLE) / n_sentences_i) + 11.8 * (CAST(n_syll_i AS DOUBLE) / n_words_i) - 15.59, 4) AS fk_grade
      |FROM c""".stripMargin

  // ------------------------------------------------------ collocations

  /** PMI-scored bigram collocations (Church & Hanks 1990; the phrase
    * detection step word2vec/GloVe pipelines run before training:
    * "new_york" as one token): for adjacent word pairs occurring ≥ 5
    * times, pmi = ln(N·c(ab) / (c(a)·c(b))) — positive when the pair
    * sticks together more than its parts' frequencies predict.
    * Quantized to integer micro-nats with the same round-half-away rule
    * as the KL/DSIR/perplexity gates so the comparison is exact.
    *
    * 100 TB shape: bigram and unigram counts are partial-agg'd
    * shuffles on the token keys (counts only, text never rides); the
    * corpus token total is a one-row broadcast; the two unigram joins
    * key on vocabulary-sized tables. The ≥5 support filter runs BEFORE
    * the joins, so the joined candidate set is the collocation head,
    * not the long tail.
    */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val words = docs(spark, dir)
      .selectExpr("split(text, ' ') as ws")
      .localCheckpoint(true)
    val uni = words.selectExpr("explode(ws) as w")
      .groupBy("w").agg(count(lit(1)).cast("long").as("c"))
      .localCheckpoint(true)
    val n = uni.agg(sum("c").cast("long").as("n_total"))
    val bi = words
      .selectExpr(
        """explode(case when size(ws) >= 2
          |  then transform(sequence(1, size(ws) - 1),
          |         i -> struct(element_at(ws, i) as w1, element_at(ws, i + 1) as w2))
          |  else cast(array() as array<struct<w1: string, w2: string>>) end) as b""".stripMargin)
      .selectExpr("b.w1 as w1", "b.w2 as w2")
      .groupBy("w1", "w2").agg(count(lit(1)).cast("long").as("c_ab"))
      .where("c_ab >= 5")
    bi.join(uni.toDF("w1", "c_a"), Seq("w1"))
      .join(uni.toDF("w2", "c_b"), Seq("w2"))
      .crossJoin(broadcast(n))
      .selectExpr("w1", "w2", "c_ab",
        """cast(round(1000000.0D * ln((cast(c_ab as double) * n_total)
          |  / (cast(c_a as double) * c_b))) as bigint) as pmi_unats""".stripMargin)
  }

  val pmiCollocationsSql: String =
    """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
      |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(ws) AS w FROM w) GROUP BY w),
      |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni),
      |bi AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
      |  FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) t
      |  WHERE len(ws) >= 2),
      |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
      |  FROM bi GROUP BY w1, w2 HAVING count(*) >= 5)
      |SELECT bc.w1, bc.w2, bc.c_ab,
      |  CAST(round(1000000.0 * ln((CAST(bc.c_ab AS DOUBLE) * n.n_total)
      |    / (CAST(a.c AS DOUBLE) * b.c))) AS BIGINT) AS pmi_unats
      |FROM bc JOIN uni a ON a.w = bc.w1
      |        JOIN uni b ON b.w = bc.w2
      |        CROSS JOIN n""".stripMargin

  // -------------------------------------------------------- wordpiece

  /** Real subword TOKENIZATION under the gate
    * ([[graft.kernels.WordPieceKernel]]): BERT's greedy
    * longest-match-first WordPiece with a fixed literal vocabulary —
    * word-initial entries vs `##` continuations, `[UNK]` on any
    * unmatchable position. Emits per document the piece count AND the
    * full space-joined piece string, so a single wrong split anywhere
    * in the corpus fails the hash. The oracle replays the identical
    * greedy as a DuckDB recursive CTE per DISTINCT word (longest match
    * via ORDER BY len DESC LIMIT 1 over the literal vocab) and
    * reassembles documents in word order — the same
    * sequential-algorithm-as-recursive-CTE discipline as the FFD
    * compaction plan.
    *
    * 100 TB shape: segmentation runs per distinct word (a
    * dictionary-encode + broadcast-sized vocabulary dim on the real
    * web), the per-doc map is a narrow kernel pass, and the piece
    * counts feed the token-budget/packing operators downstream.
    */
  def wordpieceTokens(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id", "split(text, ' ') as ws")
      .as[(Long, Seq[String])]
      .mapPartitions(_.flatMap { case (d, ws) =>
        val words = ws.filter(_.nonEmpty)
        // a doc whose text splits to ONLY empty tokens contributes no
        // rows — mirrors the oracle's `WHERE w <> ''` + GROUP BY, which
        // drops such a doc entirely (r4 ADVICE: the old code emitted a
        // (doc_id, 0, '') row the oracle never produces)
        if (words.isEmpty) Iterator.empty
        else {
          val pieces = words.flatMap(graft.kernels.WordPieceKernel.segment)
          Iterator.single((d, pieces.length.toLong, pieces.mkString(" ")))
        }
      })
      .toDF("doc_id", "n_pieces", "piece_str")
  }

  val wordpieceTokensSql: String = {
    def lits(vs: Set[String]): String =
      vs.toSeq.sorted.map(v => s"'$v'").mkString("[", ", ", "]")
    s"""WITH RECURSIVE
      |tok AS (SELECT doc_id, ord, w FROM (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |         generate_subscripts(ws, 1) AS ord, unnest(ws) AS w
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
      |  WHERE w <> ''),
      |words AS (SELECT DISTINCT w FROM tok),
      |seg AS (
      |  SELECT w, 1::BIGINT AS pos, []::VARCHAR[] AS pieces, false AS dead FROM words
      |  UNION ALL
      |  SELECT s.w,
      |    CASE WHEN m.v IS NULL THEN len(s.w) + 1 ELSE s.pos + len(m.v) END,
      |    CASE WHEN m.v IS NULL THEN ['[UNK]']
      |         WHEN s.pos = 1 THEN list_append(s.pieces, m.v)
      |         ELSE list_append(s.pieces, '##' || m.v) END,
      |    m.v IS NULL
      |  FROM seg s LEFT JOIN LATERAL (
      |    SELECT v FROM (
      |      SELECT unnest(${lits(graft.kernels.WordPieceKernel.Base)}) AS v WHERE s.pos = 1
      |      UNION ALL
      |      SELECT unnest(${lits(graft.kernels.WordPieceKernel.Cont)}) AS v WHERE s.pos > 1)
      |    WHERE substr(s.w, CAST(s.pos AS INT), len(v)) = v
      |    ORDER BY len(v) DESC, v LIMIT 1) m ON true
      |  WHERE s.pos <= len(s.w) AND NOT s.dead),
      |fin AS (SELECT w, pieces FROM seg WHERE pos > len(w)),
      |wp AS (SELECT t.doc_id, t.ord, array_to_string(f.pieces, ' ') AS ps,
      |    len(f.pieces) AS np
      |  FROM tok t JOIN fin f USING (w))
      |SELECT doc_id, CAST(sum(np) AS BIGINT) AS n_pieces,
      |  string_agg(ps, ' ' ORDER BY ord) AS piece_str
      |FROM wp GROUP BY doc_id""".stripMargin
  }

  /** Per-source out-of-vocabulary exposure — the vocabulary-QA rollup a
    * tokenizer rollout checks first: how many WORDS per source fail to
    * segment ([[graft.kernels.WordPieceKernel]] `[UNK]`), and what
    * fraction of the source's token stream that is. A source whose OOV
    * rate spikes is the one whose text the tokenizer will butcher
    * (wrong script, mojibake, codey content). Exact integer counts; the
    * rate is one shared double formula rounded to 6 places. Words carry
    * a decorated marker (`#` prefix on every 11th doc's 3rd words) so
    * genuine UNKs exist and the rate is value-bearing.
    */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id", "source", "split(text, ' ') as ws")
      .as[(Long, String, Seq[String])]
      .mapPartitions(_.map { case (d, src, ws) =>
        var words = 0L
        var unk = 0L
        // the nonEmpty filter runs on the RAW token, BEFORE the '#'
        // decoration — matching the oracle's `WHERE w <> ''` on the raw
        // token (r4 ADVICE: decorating first would turn an empty token
        // at a decorated position into a counted word). The closed-form
        // oracle additionally assumes undecorated words never segment
        // to [UNK] — true because the generator emits single-space-
        // separated pure a-z text and WordPieceKernel.Base covers a-z.
        ws.zipWithIndex.foreach { case (w0, i) =>
          if (w0.nonEmpty) {
            val w = if (d % 11 == 0 && i % 3 == 2) "#" + w0 else w0
            words += 1
            val seg = graft.kernels.WordPieceKernel.segment(w)
            if (seg == Seq(graft.kernels.WordPieceKernel.Unk)) unk += 1
          }
        }
        (src, words, unk)
      })
      .toDF("source", "w", "u")
      .groupBy("source")
      .agg(sum("w").cast("long").as("n_words"), sum("u").cast("long").as("n_unk"))
      .selectExpr("source", "n_words", "n_unk",
        "round(cast(n_unk as double) / n_words, 6) as oov_rate")
  }

  val oovRateSql: String =
    """WITH t AS (SELECT doc_id, source, generate_subscripts(ws, 1) AS ord, unnest(ws) AS w
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents)),
      |m AS (SELECT source,
      |    CASE WHEN doc_id % 11 = 0 AND (ord - 1) % 3 = 2 THEN true ELSE false END AS unk
      |  FROM t WHERE w <> '')
      |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(sum(CASE WHEN unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
      |  round(CAST(sum(CASE WHEN unk THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS oov_rate
      |FROM m GROUP BY source""".stripMargin

  // -------------------------------------------------- learned BPE

  /** Distinct-word frequency table — the distributed heavy leg of BPE
    * training: one shuffle on the word key with map-side partial
    * counts; everything after runs on this dictionary-encoded dim
    * (tens of words here, low millions on the real web).
    */
  private def wordFreq(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .selectExpr("explode(split(text, ' ')) as w")
      .where("w <> ''")
      .groupBy("w")
      .agg(count(lit(1)).cast("long").as("c"))

  /** CORPUS-LEARNED BPE merge training under the gate (r4 ask #1 — the
    * tokenization tier's literal-vocab gap): [[graft.kernels.BpeKernel]]
    * semantics, run as N DISTRIBUTED rounds — each round one pair-count
    * aggregation over the dictionary-encoded word table (adjacent
    * symbol pairs weighted by word frequency, map-side partial sums)
    * and a 1-row argmax collect, then the merge re-applied in the next
    * round's narrow kernel map. Training is a pure function of the
    * word-frequency multiset (deterministic tie-break count DESC, lhs
    * ASC, rhs ASC), so the oracle replays all N rounds as unrolled
    * MATERIALIZED CTEs: pair counts via unnest, argmax via ORDER
    * BY/LIMIT 1, merge application via left-to-right `replace` on the
    * symbol string with every separator DOUBLED (each symbol owns its
    * own leading and trailing space, so two matches can never share
    * one) — character-identical semantics to the kernel's
    * non-overlapping scan. A single-pass `replace` over the plain
    * space-joined string would eat the delimiter two adjacent matches
    * share (`a b a b` merges (a,b) once); iterating it to a fixpoint
    * is no cure either, because it over-merges when lhs == rhs.
    *
    * 100 TB shape: the corpus is touched ONCE (the word-count shuffle);
    * the N per-round jobs aggregate the distinct-word dim only — the
    * standard industrial BPE-trainer split (aggregate counts
    * distributed, learn merges over the vocabulary table).
    */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeMerges(spark, dir)
      .map(m => (m.rank.toLong, m.lhs, m.rhs, m.pairCount))
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  /** The ≤ [[graft.kernels.BpeKernel.Rounds]] distributed training rounds
    * behind [[bpeTrain]], and the one merge table every learned-BPE
    * consumer broadcasts. Only the per-round argmax row reaches the
    * driver; the word table never does.
    */
  private[graft] def bpeMerges(spark: SparkSession, dir: String)
      : Seq[graft.kernels.BpeKernel.Merge] = {
    import spark.implicits._
    val wf = wordFreq(spark, dir).as[(String, Long)].localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[graft.kernels.BpeKernel.Merge]
    var done = false
    while (merges.length < graft.kernels.BpeKernel.Rounds && !done) {
      val ms = merges.toSeq.map(m => (m.lhs, m.rhs))
      val best = wf
        .mapPartitions(_.flatMap { case (w, c) =>
          val s = graft.kernels.BpeKernel.segment(w, ms)
          (0 until s.length - 1).iterator.map(i => (s(i), s(i + 1), c))
        })
        .toDF("lhs", "rhs", "c")
        .groupBy("lhs", "rhs")
        .agg(sum("c").cast("long").as("cnt"))
        .orderBy(desc("cnt"), asc("lhs"), asc("rhs"))
        .limit(1)
        .collect()
      if (best.isEmpty) done = true
      else {
        val b = best.head
        merges += graft.kernels.BpeKernel.Merge(
          merges.length + 1, b.getString(0), b.getString(1), b.getLong(2))
      }
    }
    merges.toSeq
  }

  /** Shared WITH body for the three BPE oracles: words → seg_0 (chars)
    * → N unrolled (pairs_k, best_k, seg_k) rounds. MATERIALIZED is
    * load-bearing: seg_{k-1} is referenced twice per round (pairs + the
    * merge application), so plain CTE inlining goes exponential across
    * rounds (the pagerank/HITS lesson) — materialization keeps the
    * chain linear, and the state is the distinct-word dim, tiny.
    */
  private def bpeTrainCtes: String = {
    val n = graft.kernels.BpeKernel.Rounds
    val head =
      """words AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w),
        |seg_0 AS MATERIALIZED (SELECT w, c,
        |  array_to_string(list_transform(range(1, len(w)+1), i -> w[i]), ' ') AS seg
        |  FROM words)""".stripMargin
    val rounds = (1 to n).map { k =>
      s"""pairs_$k AS MATERIALIZED (
        |  SELECT s[CAST(i AS INT)] AS l, s[CAST(i AS INT)+1] AS r, CAST(sum(c) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(seg, ' ') AS s, c FROM seg_${k - 1}) q,
        |       LATERAL (SELECT unnest(range(1, len(s))) AS i) t
        |  GROUP BY 1, 2),
        |best_$k AS MATERIALIZED (
        |  SELECT l, r, cnt FROM pairs_$k ORDER BY cnt DESC, l, r LIMIT 1),
        |seg_$k AS MATERIALIZED (
        |  SELECT w, c, trim(replace(replace(' ' || replace(seg, ' ', '  ') || ' ',
        |      ' ' || b.l || '  ' || b.r || ' ', ' ' || b.l || b.r || ' '), '  ', ' ')) AS seg
        |  FROM seg_${k - 1} CROSS JOIN best_$k b)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  val bpeTrainSql: String = {
    val n = graft.kernels.BpeKernel.Rounds
    val sel = (1 to n).map { k =>
      s"SELECT CAST($k AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, cnt AS pair_count FROM best_$k"
    }.mkString("\nUNION ALL\n")
    s"WITH $bpeTrainCtes\n$sel"
  }

  /** Re-segmentation with the LEARNED merges ([[bpeMerges]], the same
    * distributed training [[bpeTrain]] returns, broadcast). Per-doc
    * piece count + full space-joined piece string, so one wrong merge
    * application anywhere fails the hash; the oracle applies seg_N from
    * the same unrolled training chain. Zero-shuffle apply: merges
    * broadcast, the map is narrow per-row kernel work.
    */
  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(bpeMerges(spark, dir).map(m => (m.lhs, m.rhs)))
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id", "split(text, ' ') as ws")
      .as[(Long, Seq[String])]
      .mapPartitions(_.flatMap { case (d, ws) =>
        val words = ws.filter(_.nonEmpty)
        if (words.isEmpty) Iterator.empty
        else {
          val pieces = words.flatMap(w => graft.kernels.BpeKernel.segment(w, bc.value))
          Iterator.single((d, pieces.length.toLong, pieces.mkString(" ")))
        }
      })
      .toDF("doc_id", "n_pieces", "piece_str")
  }

  val bpeApplySql: String = {
    val n = graft.kernels.BpeKernel.Rounds
    s"""WITH $bpeTrainCtes,
      |tok AS (SELECT doc_id, ord, w FROM (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |         generate_subscripts(ws, 1) AS ord, unnest(ws) AS w
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
      |  WHERE w <> '')
      |SELECT t.doc_id, CAST(sum(len(string_split(s.seg, ' '))) AS BIGINT) AS n_pieces,
      |  string_agg(s.seg, ' ' ORDER BY t.ord) AS piece_str
      |FROM tok t JOIN seg_$n s USING (w)
      |GROUP BY t.doc_id""".stripMargin
  }

  /** [[oovRate]] re-run against the LEARNED vocabulary (the r4 ask's
    * third leg): BPE's base symbols are the corpus characters, so OOV
    * under the learned tokenizer is a character-coverage failure — the
    * `#`-decorated plants (every 11th doc's 3rd words) fall outside the
    * a-z alphabet and segment to `[UNK]`, counted as 1 piece; every
    * covered word contributes its learned-merge piece count. Per-source
    * word/UNK/piece totals are exact integers; the rate is one shared
    * rounded formula. The piece totals make the rollup value-bearing
    * beyond the plants: they move whenever the learned merge table
    * changes.
    */
  def oovRateBpe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(bpeMerges(spark, dir).map(m => (m.lhs, m.rhs)))
    docs(spark, dir)
      .selectExpr("cast(doc_id as long) as doc_id", "source", "split(text, ' ') as ws")
      .as[(Long, String, Seq[String])]
      .mapPartitions(_.map { case (d, src, ws) =>
        var words = 0L
        var unk = 0L
        var pieces = 0L
        ws.zipWithIndex.foreach { case (w0, i) =>
          if (w0.nonEmpty) {
            val w = if (d % 11 == 0 && i % 3 == 2) "#" + w0 else w0
            words += 1
            if (graft.kernels.BpeKernel.covered(w))
              pieces += graft.kernels.BpeKernel.segment(w, bc.value).length
            else { unk += 1; pieces += 1 }
          }
        }
        (src, words, unk, pieces)
      })
      .toDF("source", "w", "u", "p")
      .groupBy("source")
      .agg(sum("w").cast("long").as("n_words"), sum("u").cast("long").as("n_unk"),
        sum("p").cast("long").as("n_pieces"))
      .selectExpr("source", "n_words", "n_unk", "n_pieces",
        "round(cast(n_unk as double) / n_words, 6) as oov_rate")
  }

  val oovRateBpeSql: String = {
    val n = graft.kernels.BpeKernel.Rounds
    s"""WITH $bpeTrainCtes,
      |tok AS (SELECT doc_id, source, ord, w FROM (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
      |         generate_subscripts(ws, 1) AS ord, unnest(ws) AS w
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents))
      |  WHERE w <> ''),
      |m AS (SELECT t.source,
      |    CASE WHEN t.doc_id % 11 = 0 AND (t.ord - 1) % 3 = 2 THEN true ELSE false END AS unk,
      |    CASE WHEN t.doc_id % 11 = 0 AND (t.ord - 1) % 3 = 2 THEN 1
      |         ELSE len(string_split(s.seg, ' ')) END AS np
      |  FROM tok t JOIN seg_$n s USING (w))
      |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(sum(CASE WHEN unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
      |  CAST(sum(np) AS BIGINT) AS n_pieces,
      |  round(CAST(sum(CASE WHEN unk THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS oov_rate
      |FROM m GROUP BY source""".stripMargin
  }

  /** Tokenizer fertility per source — the compression-ratio QA metric a
    * tokenizer rollout reports next to OOV (chars per emitted piece;
    * fertility ≈ pieces per word): sources whose text the learned BPE
    * compresses poorly (low chars/piece) pay more sequence length per
    * byte of training signal and distort the token-budget mix. Exact
    * integer char/word/piece totals per source under the SAME learned
    * merge table as [[bpeApply]]; the two ratios are shared rounded
    * formulas.
    *
    * 100 TB shape: identical to [[oovRateBpe]] — the merge table is a
    * tiny broadcast model artifact, the per-doc pass is narrow kernel
    * work, and the only exchange is the per-source integer rollup.
    */
  def tokenFertility(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(bpeMerges(spark, dir).map(m => (m.lhs, m.rhs)))
    docs(spark, dir)
      .selectExpr("source", "split(text, ' ') as ws")
      .as[(String, Seq[String])]
      .mapPartitions(_.map { case (src, ws) =>
        var chars = 0L
        var words = 0L
        var pieces = 0L
        ws.foreach { w =>
          if (w.nonEmpty) {
            chars += w.length
            words += 1
            pieces += graft.kernels.BpeKernel.segment(w, bc.value).length
          }
        }
        (src, chars, words, pieces)
      })
      .toDF("source", "c", "w", "p")
      .groupBy("source")
      .agg(sum("c").cast("long").as("n_chars"), sum("w").cast("long").as("n_words"),
        sum("p").cast("long").as("n_pieces"))
      .selectExpr("source", "n_chars", "n_words", "n_pieces",
        "round(cast(n_chars as double) / n_pieces, 6) as chars_per_piece",
        "round(cast(n_pieces as double) / n_words, 6) as pieces_per_word")
  }

  val tokenFertilitySql: String = {
    val n = graft.kernels.BpeKernel.Rounds
    s"""WITH $bpeTrainCtes,
      |tok AS (SELECT source, w FROM (
      |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> ''),
      |m AS (SELECT t.source, len(t.w) AS nc, len(string_split(s.seg, ' ')) AS np
      |  FROM tok t JOIN seg_$n s USING (w)),
      |g AS (SELECT source, CAST(sum(nc) AS BIGINT) AS n_chars,
      |    CAST(count(*) AS BIGINT) AS n_words, CAST(sum(np) AS BIGINT) AS n_pieces
      |  FROM m GROUP BY source)
      |SELECT source, n_chars, n_words, n_pieces,
      |  round(CAST(n_chars AS DOUBLE) / n_pieces, 6) AS chars_per_piece,
      |  round(CAST(n_pieces AS DOUBLE) / n_words, 6) AS pieces_per_word
      |FROM g""".stripMargin
  }

  // ------------------------------------------------------ quality funnel

  /** Sequential quality-gate funnel — the per-snapshot release ledger
    * for the FILTER side of the pipeline, the twin of
    * [[graft.ops.DedupOps.dedupFunnel]]: how many documents survive
    * the gates a C4/Gopher-lineage cleaner applies in order — C4 page
    * drop ([[c4LineFilterQ]]), Gopher outlier rules ([[gopherQuality]]),
    * within-doc repetition ([[repetitionGate]]), stopword/word-shape
    * quality ([[quality]]). Each leg is the SAME flag the standalone
    * oracle-gated query emits, so the funnel catches any drift between
    * the gates' standalone and composed behavior; cumulative counts are
    * monotonically non-increasing by construction.
    *
    * 100 TB shape: each gate is an in-row projection; the composition
    * is three equi-joins on doc_id over (doc_id, flag) pairs — in a
    * fused production pass the four flags come from one scan, and this
    * audit intentionally re-derives them from the standalone legs to
    * pin standalone ≡ composed.
    */
  def qualityFunnel(spark: SparkSession, dir: String): DataFrame = {
    val c4 = c4LineFilterQ(spark, dir).selectExpr("doc_id", "not page_dropped as ok_c4")
    val g = gopherQuality(spark, dir).select("doc_id", "gopher_ok")
    val r = repetitionGate(spark, dir).select("doc_id", "repetition_ok")
    val q = quality(spark, dir).select("doc_id", "quality_ok")
    val j = c4.join(g, Seq("doc_id")).join(r, Seq("doc_id")).join(q, Seq("doc_id"))
      .localCheckpoint(true)
    j.agg(
      expr("cast(count(*) as long) as s1"),
      expr("cast(sum(case when ok_c4 then 1 else 0 end) as long) as s2"),
      expr("cast(sum(case when ok_c4 and gopher_ok then 1 else 0 end) as long) as s3"),
      expr("cast(sum(case when ok_c4 and gopher_ok and repetition_ok then 1 else 0 end) as long) as s4"),
      expr("cast(sum(case when ok_c4 and gopher_ok and repetition_ok and quality_ok then 1 else 0 end) as long) as s5"))
      .selectExpr(
        """explode(array(
          |  struct(cast(1 as bigint) as tier, 'all' as gate, s1 as survivors),
          |  struct(cast(2 as bigint) as tier, 'c4_page' as gate, s2 as survivors),
          |  struct(cast(3 as bigint) as tier, 'gopher' as gate, s3 as survivors),
          |  struct(cast(4 as bigint) as tier, 'repetition' as gate, s4 as survivors),
          |  struct(cast(5 as bigint) as tier, 'stopword_quality' as gate, s5 as survivors))) as t""".stripMargin)
      .selectExpr("t.tier as tier", "t.gate as gate", "t.survivors as survivors")
  }

  val qualityFunnelSql: String =
    s"""WITH c4 AS (SELECT doc_id, NOT page_dropped AS ok_c4 FROM ($c4LineFilterSql) t),
      |g AS (SELECT doc_id, gopher_ok FROM ($gopherQualitySql) t),
      |r AS (SELECT doc_id, repetition_ok FROM ($repetitionGateSql) t),
      |q AS (SELECT doc_id, quality_ok FROM ($qualitySql) t),
      |j AS (SELECT * FROM c4 JOIN g USING (doc_id) JOIN r USING (doc_id) JOIN q USING (doc_id)),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS s1,
      |    CAST(sum(CASE WHEN ok_c4 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
      |    CAST(sum(CASE WHEN ok_c4 AND gopher_ok THEN 1 ELSE 0 END) AS BIGINT) AS s3,
      |    CAST(sum(CASE WHEN ok_c4 AND gopher_ok AND repetition_ok THEN 1 ELSE 0 END) AS BIGINT) AS s4,
      |    CAST(sum(CASE WHEN ok_c4 AND gopher_ok AND repetition_ok AND quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS s5
      |  FROM j)
      |SELECT CAST(1 AS BIGINT) AS tier, 'all' AS gate, s1 AS survivors FROM s
      |UNION ALL SELECT CAST(2 AS BIGINT), 'c4_page', s2 FROM s
      |UNION ALL SELECT CAST(3 AS BIGINT), 'gopher', s3 FROM s
      |UNION ALL SELECT CAST(4 AS BIGINT), 'repetition', s4 FROM s
      |UNION ALL SELECT CAST(5 AS BIGINT), 'stopword_quality', s5 FROM s""".stripMargin

  def registry: Map[String, Gated] = Map(
    "q_bpe_train" -> Gated(bpeTrain(_, _), bpeTrainSql),
    "q_quality_funnel" -> Gated(qualityFunnel(_, _), qualityFunnelSql),
    "q_bpe_apply" -> Gated(bpeApply(_, _), bpeApplySql),
    "q_token_fertility" -> Gated(tokenFertility(_, _), tokenFertilitySql),
    "q_oov_rate_bpe" -> Gated(oovRateBpe(_, _), oovRateBpeSql),
    "q_readability" -> Gated(readability(_, _), readabilitySql),
    "q_pmi_collocations" -> Gated(pmiCollocations(_, _), pmiCollocationsSql),
    "q_oov_rate" -> Gated(oovRate(_, _), oovRateSql),
    "q_wordpiece_tokens" -> Gated(wordpieceTokens(_, _), wordpieceTokensSql),
    "q_corpus_clean" -> Gated(corpusClean(_, _), corpusCleanSql),
    "q_mojibake_repair" -> Gated(mojibakeRepair(_, _), mojibakeRepairSql),
    "q_dedup_key" -> Gated(dedupKeyQ(_, _), dedupKeySql),
    "q_norm_gain" -> Gated(normGain(_, _), normGainSql),
    "q_script_mix" -> Gated(scriptMixQ(_, _), scriptMixSql),
    "q_c4_line_filter" -> Gated(c4LineFilterQ(_, _), c4LineFilterSql),
    "q_type_token_ratio" -> Gated(typeTokenRatio(_, _), typeTokenRatioSql),
    "q_token_count" -> Gated(tokenCount(_, _), tokenCountSql),
    "q_lang_id" -> Gated(langId(_, _), langIdSql),
    "q_lang_agreement" -> Gated(langAgreement(_, _), langAgreementSql),
    "q_host_lang_entropy" -> Gated(hostLangEntropy(_, _), hostLangEntropySql),
    "q_lang_id_cjk" -> Gated(langIdCjk(_, _), langIdCjkSql),
    "q_quality" -> Gated(quality(_, _), qualitySql),
    "q_gopher_quality" -> Gated(gopherQuality(_, _), gopherQualitySql),
    "q_repetition_gate" -> Gated(repetitionGate(_, _), repetitionGateSql),
    "q_char_entropy" -> Gated(charEntropy(_, _), charEntropySql),
    "q_fingerprint" -> Gated(fingerprint(_, _), fingerprintSql),
    "q_url_parse" -> Gated(urlParse(_, _), urlParseSql),
    "q_url_canon" -> Gated(urlCanon(_, _), urlCanonSql),
    "q_pii_scrub" -> Gated(piiScrub(_, _), piiScrubSql),
    "q_bpe_tokens" -> Gated(bpeTokens(_, _), bpeTokensSql),
    "q_host_quality" -> Gated(hostQuality(_, _), hostQualitySql))
}
