package graft.kernels

import java.util.Locale
import scala.util.control.NonFatal

/** Exact 1:1 ports of the reference's deterministic text-normalization
  * ladder (SURVEY §2.8) — the functions whose byte-level semantics the
  * golden corpus binds to. Pure Scala, zero Spark imports; invoked from
  * typed Dataset transforms (FormOps) and unit-tested against cases lifted
  * from the reference's fixture corpus.
  *
  * Locale-independence: only ASCII-explicit case mapping
  * (`toLowerCase(Locale.ROOT)`), no default-locale calls (SURVEY §7.4
  * hard part #2).
  */
object ScalarKernels {

  /** clean_ocr_text (convert_to_json.py:16-34), per line: if the line is
    * `[...]`-bracketed, drop `'` and turn `,` into a space inside the
    * brackets; otherwise drop both `'` and `,`. Lines re-join with '\n'.
    */
  def cleanOcrText(text: String): String =
    text.split("\n", -1).map(cleanOcrLine).mkString("\n")

  def cleanOcrLine(line: String): String =
    if (line.startsWith("[") && line.endsWith("]") && line.length >= 2) {
      val inner = line.substring(1, line.length - 1)
      "[" + inner.replace("'", "").replace(",", " ") + "]"
    } else line.replace("'", "").replace(",", " ")
  // both branches turn ',' into a SPACE (convert_to_json.py:27,30) —
  // SURVEY §2.8's "drop" phrasing was imprecise; the code is the truth

  /** process_checkboxes (convert_to_json.py:36-88), per line:
    * 1. first matching checkbox field with `field[:]? (Yes|No)` rewrites
    *    that occurrence to `field: true/false` and RETURNS (no paren pass);
    * 2. otherwise every `(content)` group becomes true/false when a
    *    checkbox field name occurs within the 3 whitespace-tokens before
    *    the `(` — `()` → false, single-char content → true; other content
    *    (or no preceding field) keeps `(content)`.
    */
  val CheckboxFields: Seq[String] = Seq(
    "single", "married", "newVisit", "followUp", "refill", "walkIn",
    "inpatient", "outpatient", "emergencyCase", "chronic", "congenital",
    "rta", "workRelated", "vaccination", "checkUp", "psychiatric",
    "infertility", "pregnancy", "approved", "notApproved")

  private val yesNoPatterns = CheckboxFields.map { f =>
    f -> ("(?i)\\b" + java.util.regex.Pattern.quote(f) + ":?\\s+(Yes|No)\\b").r
  }
  private val parenRe = "\\((.*?)\\)".r
  private val lowerFields = CheckboxFields.map(_.toLowerCase(Locale.ROOT))

  def processCheckboxes(text: String): String =
    text.split("\n", -1).map(processCheckboxLine).mkString("\n")

  def processCheckboxLine(line: String): String = {
    // pass 1: explicit Yes/No — first field that matches wins, then return
    yesNoPatterns.foreach { case (field, re) =>
      re.findFirstMatchIn(line).foreach { m =>
        val value = m.group(1).toLowerCase(Locale.ROOT) == "yes"
        return line.replace(m.matched, s"$field: $value")
      }
    }
    // pass 2: parenthesis checkboxes with a 3-token lookbehind window
    parenRe.replaceAllIn(line, { m =>
      val content = m.group(1).trim
      val preContext =
        if (m.start > 0) line.substring(0, m.start).split("\\s+").filter(_.nonEmpty).takeRight(3)
        else Array.empty[String]
      val preLower = preContext.map(_.toLowerCase(Locale.ROOT))
      val isCheckbox = lowerFields.exists(f => preLower.exists(_.contains(f)))
      val out =
        if (isCheckbox && content.isEmpty) "false"
        else if (isCheckbox && content.length == 1) "true"
        else s"($content)"
      java.util.regex.Matcher.quoteReplacement(out)
    })
  }

  /** format_key_values (convert_to_json.py:90-114), per bracketed line:
    * PHARMACY- → PHARMACY:, insert ': ' after bare known keys (negative
    * lookahead — no colon already), ' & ' splits to a newline, true/false
    * lowercased. Non-bracketed lines pass through.
    */
  private val KeyColonRe =
    java.util.regex.Pattern.compile("\\b(Name|ID|No|Date|Status|Type|Sex|Age|Class)\\s+(?!:)")
  private val TfRe =
    java.util.regex.Pattern.compile("\\b(true|false)\\b", java.util.regex.Pattern.CASE_INSENSITIVE)

  def formatKeyValues(text: String): String =
    text.split("\n", -1).map { line0 =>
      var line = line0
      if (line.startsWith("[") && line.endsWith("]")) {
        if (line.contains("PHARMACY-") || line.contains("PHARMACY -"))
          line = line.replace("PHARMACY-", "PHARMACY:")
        line = KeyColonRe.matcher(line).replaceAll("$1: ")
        if (line.contains(" & ")) line = line.replace(" & ", "\n")
        val m = TfRe.matcher(line)
        val sb = new java.lang.StringBuffer
        while (m.find()) m.appendReplacement(sb, m.group(0).toLowerCase(Locale.ROOT))
        m.appendTail(sb)
        line = sb.toString
      }
      line
    }.mkString("\n")

  /** Fragment re-join ladder (convert_to_json.py:647-664): repair
    * OCR-split word suffixes `stem SUFFIX` → `stemSUFFIX` for the
    * reference's 9 suffixes, applied in its order.
    */
  val FragmentSuffixes: Seq[String] =
    Seq("um", "er", "ing", "ed", "al", "sis", "tion", "phy", "gram")

  private val fragmentRes =
    FragmentSuffixes.map(s => ("(\\w+)\\s+" + s + "\\b").r -> ("$1" + s))

  def rejoinFragments(s: String): String =
    fragmentRes.foldLeft(s) { case (acc, (re, rep)) => re.replaceAllIn(acc, rep) }

  /** find_payer_info (convert_to_json.py:268-292, dup ocr_json.py:139-163):
    * collect `payer:` tails and boilerplate payer-message lines, join with
    * a single space.
    */
  private val PayerPatterns = List(
    "please note", "amount of", "requested services", "do not require",
    "prior approval", "policy's terms", "kindly provide",
    "necessary medical services")

  def findPayerInfo(lines: IndexedSeq[String]): String = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    lines.foreach { line =>
      val ll = line.toLowerCase(Locale.ROOT)
      if (ll.contains("payer:")) {
        val parts = line.split("(?i)payer\\s*:", -1)
        if (parts.length > 1) out += parts(1).strip()
      } else if (PayerPatterns.exists(ll.contains)) out += line
    }
    out.mkString(" ")
  }

  /** extract_key_words (endpoint_upload.py:60-85, dup automate_upload.py:
    * 61-86): parens → spaces, 'Al' prefix re-spaced, camelCase split
    * (aB → a B; ABc → A Bc), generic insurance stopwords dropped.
    */
  private val GenericTerms = Set("the", "and", "company", "reinsurance",
    "cooperative", "complex", "insurance")

  def extractKeyWords(value: String): String = {
    if (value == null || value.isEmpty) return ""
    val v = value.replace("(", " ").replace(")", " ").strip()
    val result =
      if (v.toLowerCase(Locale.ROOT).startsWith("al") && v.length > 2)
        "Al " + v.substring(2).stripLeading()
      else v
    val sb = new java.lang.StringBuilder(result.length + 8)
    var i = 0
    while (i < result.length) {
      val c = result.charAt(i)
      val splitHere = i > 0 && Character.isUpperCase(c) &&
        (Character.isLowerCase(result.charAt(i - 1)) ||
          (Character.isUpperCase(result.charAt(i - 1)) &&
            i < result.length - 1 && Character.isLowerCase(result.charAt(i + 1))))
      if (splitHere) sb.append(' ')
      sb.append(c)
      i += 1
    }
    sb.toString.split("\\s+").filter(_.nonEmpty)
      .filter(w => !GenericTerms.contains(w.toLowerCase(Locale.ROOT)))
      .mkString(" ")
  }

  /** n-gram chunk priority order (endpoint_upload.py:124-165, the pure
    * core of select_or_type_dropdown): all 1..max-word chunks of the key
    * words, emitted 2-word first, then 3, singles last; within each size,
    * chunks derived from parenthesised content lead; paren singles lead
    * the single block.
    */
  def orderedChunks(value: String, maxChunkSize: Int): List[String] = {
    import scala.collection.mutable.ListBuffer
    val keyWords = extractKeyWords(value).split(" ").filter(_.nonEmpty)
    val parenChunks = ListBuffer.empty[String]
    val parenWords = scala.collection.mutable.Set.empty[String]
    val m = java.util.regex.Pattern.compile("\\((.*?)\\)").matcher(value)
    while (m.find()) {
      val mw = extractKeyWords(m.group(1)).split(" ").filter(_.nonEmpty)
      var size = 1
      while (size <= mw.length) {
        var i = 0
        while (i <= mw.length - size) {
          val c = mw.slice(i, i + size).mkString(" ")
          parenChunks += c
          if (size == 1) parenWords += c
          i += 1
        }
        size += 1
      }
    }
    val bySize: Map[Int, List[String]] = (1 to maxChunkSize).map { size =>
      size -> (0 to keyWords.length - size)
        .map(i => keyWords.slice(i, i + size).mkString(" ")).toList
    }.toMap
    var ordered = ListBuffer.empty[String]
    List(2, 3, 1).filter(_ <= maxChunkSize).foreach { size =>
      val (p, o) = bySize(size).partition(parenChunks.contains)
      ordered ++= p; ordered ++= o
    }
    (4 to maxChunkSize).foreach { size =>
      val (p, o) = bySize(size).partition(parenChunks.contains)
      ordered ++= p; ordered ++= o
    }
    if (bySize.contains(1)) {
      val (ps, os) = bySize(1).partition(parenWords.contains)
      ordered = ordered.filter(_.split(" ").length != 1) ++ ps ++ os
    }
    ordered.toList
  }

  /** clean_service_description (convert_to_json.py:453-478): cut the
    * description at the earliest occurrence of any marker substring, then
    * collapse whitespace runs to single spaces and trim.
    */
  val DescriptionMarkers: Seq[String] = Seq(
    "services Providers", "Providers Approval", "Approval/Coding",
    "Staff must", "review/code", "completethe following",
    "Completed/Coded", "Signature", "Date", "Medication",
    "Type Req", "Req. Qty", "Req. Cost", "Gross amount", "App. Qty",
    "App. Cost", "App. Gross", "Note",
    "Providers", "Staff", "Generic", "Signature", "Coded By")

  def cleanServiceDescription(desc: String): String = {
    val cut = DescriptionMarkers
      .map(desc.indexOf(_))
      .filter(_ >= 0)
      .minOption
      .fold(desc)(desc.substring(0, _))
    cut.replaceAll("\\s+", " ").trim
  }
  /** clean_token (convert_to_json.py:145-154): canonical entry — the
    * single port lives in [[ServiceExtractor.cleanToken]] (it predates
    * this alias); python-verified vectors in ScalarKernelsSpec pin it.
    */
  def cleanToken(token: String): String = ServiceExtractor.cleanToken(token)

  /** find_key_recursive (automate_upload.py:956-974, exact port): walk a
    * JSON tree depth-first in DICT-ENTRY ORDER — at each dict, first a
    * case-insensitive key match wins, then container values recurse;
    * lists recurse element-wise; depth > maxDepth returns None. Scalar
    * results stringify; container results render as JSON.
    */
  def findKeyRecursive(json: String, keys: Seq[String], maxDepth: Int = 10): Option[String] = {
    import com.fasterxml.jackson.databind.JsonNode
    val lowerKeys = keys.map(_.toLowerCase(Locale.ROOT)).toSet
    def walk(node: JsonNode, depth: Int): Option[String] = {
      if (depth > maxDepth) return None
      if (node.isObject) {
        val it = node.fields()
        while (it.hasNext) {
          val e = it.next()
          if (lowerKeys.contains(e.getKey.toLowerCase(Locale.ROOT)))
            return Some(if (e.getValue.isTextual) e.getValue.asText else e.getValue.toString)
          if (e.getValue.isContainerNode) {
            val r = walk(e.getValue, depth + 1)
            if (r.isDefined) return r
          }
        }
        None
      } else if (node.isArray) {
        val it = node.elements()
        while (it.hasNext) {
          val v = it.next()
          if (v.isContainerNode) {
            val r = walk(v, depth + 1)
            if (r.isDefined) return r
          }
        }
        None
      } else None
    }
    try walk(new com.fasterxml.jackson.databind.ObjectMapper().readTree(json), 0)
    catch { case _: StackOverflowError | NonFatal(_) => None }
  }
  /** flatten_json (automate_upload.py:657-671, exact port): dicts flatten
    * with `sep`, lists index as `key[i]` (dict elements recurse, scalar
    * elements emit), insertion order preserved, later duplicate keys win
    * (python dict(items) semantics). Values stringify: textual nodes as
    * their text, other scalars as JSON.
    */
  def flattenJson(json: String, sep: String = "."): Seq[(String, String)] = {
    import com.fasterxml.jackson.databind.JsonNode
    val out = new java.util.LinkedHashMap[String, String]()
    def scalar(v: JsonNode): String = if (v.isTextual) v.asText else v.toString
    def walk(node: JsonNode, parent: String): Unit = {
      val it = node.fields()
      while (it.hasNext) {
        val e = it.next()
        val key = if (parent.isEmpty) e.getKey else s"$parent$sep${e.getKey}"
        val v = e.getValue
        if (v.isObject) walk(v, key)
        else if (v.isArray) {
          var i = 0
          val els = v.elements()
          while (els.hasNext) {
            val el = els.next()
            if (el.isObject) walk(el, s"$key[$i]")
            else out.put(s"$key[$i]", scalar(el))
            i += 1
          }
        } else out.put(key, scalar(v))
      }
    }
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      if (root != null && root.isObject) walk(root, "")
    } catch { case _: StackOverflowError | NonFatal(_) => () }
    import scala.jdk.CollectionConverters._
    out.entrySet().iterator().asScala.map(e => (e.getKey, e.getValue)).toSeq
  }

  /** find_field (automate_upload.py:674-680, exact port): among flattened
    * keys ending in ".fieldname" (case-insensitive — top-level keys never
    * match, the dot is part of the suffix), prefer the deepest path
    * (most dots, first-wins on ties like python max).
    */
  def findField(flat: Seq[(String, String)], fieldName: String): Option[String] = {
    val suffix = "." + fieldName.toLowerCase(Locale.ROOT)
    val hits = flat.filter(_._1.toLowerCase(Locale.ROOT).endsWith(suffix))
    if (hits.isEmpty) None
    else Some(hits.maxBy(_._1.count(_ == '.'))._2)
  }
}
