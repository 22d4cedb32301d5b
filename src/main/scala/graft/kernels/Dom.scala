package graft.kernels

import java.util.regex.Pattern

/** Lightweight immutable array-backed DOM (SURVEY.md §7.1 "DOM builder").
  *
  * Nodes are stored in document order with parent pointers; traversal
  * reconstructs the ancestor stack linearly, so no per-node child lists are
  * allocated (allocation matters at 10^12 pages). Tag-name strings are the
  * tokenizer's interned lowercase names; `hint` carries the class/id
  * boilerplate signal (readability-style "unlikely candidates" heuristic).
  *
  * Parsing is factored as [[Dom.StreamParser]] — a tolerant-parse stack
  * (implied end tags, close-tag matching) that emits enter/exit/text
  * events to a [[Dom.NodeSink]]. Materializing a `Dom` is one sink;
  * the extraction hot path ([[MainTextExtractor]]) attaches its segmenter
  * directly, so per-page extraction never materializes node arrays — the
  * traversal semantics stay identical by construction because both paths
  * share the same parser.
  */
final class Dom(
    val size: Int,
    val kind: Array[Byte], // 0 = element, 1 = text
    val name: Array[String], // element name, null for text
    val hint: Array[Byte], // 0 none, 1 positive, 2 negative
    val parent: Array[Int], // -1 for roots
    val text: Array[String]) // text content, null for elements

object Dom {
  final val Elem: Byte = 0
  final val Text: Byte = 1
  final val HintNone: Byte = 0
  final val HintPos: Byte = 1
  final val HintNeg: Byte = 2

  // readability.js-style class/id vocabularies (public algorithm), tuned
  // down to the boilerplate families our corpus exercises. (?i) instead of
  // a lowercased copy: hint checks run once per element at 10^12 pages,
  // and the String copy + fresh Matcher per call dominate the cost.
  private val Neg = Pattern.compile(
    "(?i)nav|menu|footer|banner|cookie|consent|sidebar|share|social|comment|" +
      "breadcrumb|related|widget|promo|advert|\\bad\\b|\\bads\\b|sponsor|" +
      "masthead|pagination|pager|popup|modal|subscribe|newsletter|skip|" +
      "disclaimer|legal|copyright")
  private val Pos = Pattern.compile(
    "(?i)\\barticle\\b|\\bcontent\\b|\\bmain\\b|\\bpost\\b|\\bentry\\b|" +
      "\\bstory\\b|\\bbody-?text\\b|\\btext-?body\\b|\\bpage-?body\\b")

  /** Elements whose open implies closing an open `p` (HTML5 tolerance). */
  private val ClosesP: Set[String] = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "li",
    "table", "blockquote", "pre", "section", "article", "aside", "nav",
    "header", "footer", "main", "form", "hr", "figure", "dl")

  /** Receives the tolerant-parsed element event stream in document order.
    * `enter`/`exit` pair for every element (self-closing elements get an
    * immediate exit); `text` fires for non-empty text runs.
    */
  trait NodeSink {
    def enter(name: String, hint: Byte): Unit
    def exit(name: String, hint: Byte): Unit

    /** Transient view — consume synchronously, `toString` to retain. */
    def text(s: CharSequence): Unit
  }

  /** Tolerant-parsing stack shared by DOM materialization and streaming
    * extraction: implied end tags (HTML5 tolerance), close-tag matching
    * that ignores unmatched closes, class/id hint classification with
    * reusable matchers. Call `finish()` after tokenize to close dangling
    * elements.
    */
  final class StreamParser(down: NodeSink) extends HtmlTokenizer.Sink {
    private var stackNames = new Array[String](32)
    private var stackHints = new Array[Byte](32)
    private var sp = 0
    // reusable matchers: one Matcher per element-with-class otherwise
    private val negM = Neg.matcher("")
    private val posM = Pos.matcher("")

    private def hintFast(classId: String): Byte =
      if (classId == null || classId.isEmpty) HintNone
      else if (negM.reset(classId).find()) HintNeg
      else if (posM.reset(classId).find()) HintPos
      else HintNone

    private def top: String = if (sp == 0) null else stackNames(sp - 1)

    private def popOne(): Unit = {
      sp -= 1
      down.exit(stackNames(sp), stackHints(sp))
    }

    private def push(nm: String, h: Byte): Unit = {
      if (sp == stackNames.length) {
        stackNames = java.util.Arrays.copyOf(stackNames, sp * 2)
        stackHints = java.util.Arrays.copyOf(stackHints, sp * 2)
      }
      stackNames(sp) = nm; stackHints(sp) = h; sp += 1
    }

    override def open(name: String, classId: String, selfClosing: Boolean): Unit = {
      // implied end tags (tolerant parsing)
      if (sp > 0) {
        val t = top
        if (t == "p" && ClosesP.contains(name)) popOne()
        else if (t == "li" && name == "li") popOne()
        else if ((t == "td" || t == "th") && (name == "td" || name == "th" || name == "tr")) popOne()
        else if (t == "tr" && name == "tr") popOne()
        else if (t == "option" && name == "option") popOne()
        else if (t == "dd" && (name == "dd" || name == "dt")) popOne()
        else if (t == "dt" && (name == "dd" || name == "dt")) popOne()
      }
      val h = hintFast(classId)
      down.enter(name, h)
      if (selfClosing) down.exit(name, h) else push(name, h)
    }

    override def close(name: String): Unit = {
      // find matching open element; ignore unmatched close tags
      var i = sp - 1
      while (i >= 0 && stackNames(i) != name) i -= 1
      if (i >= 0) while (sp > i) popOne()
    }

    override def text(s: CharSequence): Unit =
      if (s.length > 0) down.text(s)

    def finish(): Unit = while (sp > 0) popOne()
  }

  /** NodeSink that materializes the array-backed Dom. Node columns are
    * growable PRIMITIVE arrays — a generic ArrayBuffer[Byte/Int] boxes
    * every element, and at 10^12 pages the per-node boxes dominate
    * young-gen churn.
    */
  private final class Storing extends NodeSink {
    private var n = 0
    private var kinds = new Array[Byte](64)
    private var names = new Array[String](64)
    private var hints = new Array[Byte](64)
    private var parents = new Array[Int](64)
    private var texts = new Array[String](64)
    // open-element stack: node indices
    private var stack = new Array[Int](32)
    private var sp = 0

    private def grow(): Unit = {
      val cap = n * 2
      kinds = java.util.Arrays.copyOf(kinds, cap)
      names = java.util.Arrays.copyOf(names, cap)
      hints = java.util.Arrays.copyOf(hints, cap)
      parents = java.util.Arrays.copyOf(parents, cap)
      texts = java.util.Arrays.copyOf(texts, cap)
    }

    private def addNode(k: Byte, nm: String, h: Byte, t: String): Int = {
      if (n == kinds.length) grow()
      val idx = n
      kinds(idx) = k; names(idx) = nm; hints(idx) = h
      parents(idx) = if (sp == 0) -1 else stack(sp - 1)
      texts(idx) = t
      n += 1
      idx
    }

    override def enter(name: String, hint: Byte): Unit = {
      val idx = addNode(Elem, name, hint, null)
      if (sp == stack.length) stack = java.util.Arrays.copyOf(stack, sp * 2)
      stack(sp) = idx; sp += 1
    }

    override def exit(name: String, hint: Byte): Unit =
      if (sp > 0) sp -= 1

    override def text(s: CharSequence): Unit = { addNode(Text, null, HintNone, s.toString); () }

    def result(): Dom = new Dom(n, kinds, names, hints, parents, texts)
  }

  def parse(html: String): Dom = {
    val storing = new Storing
    val p = new StreamParser(storing)
    HtmlTokenizer.tokenize(html, p)
    p.finish()
    storing.result()
  }
}
