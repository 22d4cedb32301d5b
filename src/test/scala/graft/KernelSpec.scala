package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kernels.{ExtractKernel, MainTextExtractor, PdfTextExtractor}
import graft.gen.PagesGen
import java.nio.charset.StandardCharsets.UTF_8

class KernelSpec extends AnyFunSuite {

  test("html: simple positive-hint content survives, chrome stripped") {
    val html = PagesGen.htmlPage(Seq("alpha beta gamma", "delta epsilon"), Some("head line"), 7L)
    val ex = MainTextExtractor.extract(html)
    assert(ex.text == "head line\nalpha beta gamma\ndelta epsilon")
    assert(ex.spans.length == 3)
    assert(ex.spans.head.kind == "heading")
  }

  test("html: corpus golden round-trip is byte-identical (500 rows)") {
    val pages = PagesGen.corpus(500, seed = 42L)
    pages.foreach { gp =>
      val doc = ExtractKernel.extract(gp.row.html, gp.row.text, Int.MaxValue)
      assert(doc.error == null, s"${gp.row.url}: ${doc.error}")
      val text = doc.text
      assert(text == gp.expected,
        s"${gp.kind} ${gp.row.url}\n--- got ---\n$text\n--- want ---\n${gp.expected}")
    }
  }

  test("100k-deep PDF nesting extracts its page on a 512 KB stack") {
    // the page-tree walk and the object parser keep their own stacks, so
    // no document depth reaches the task thread's
    for ((name, bytes) <- Seq("deep-kids" -> HostileDocs.deepKids,
        "deep-arrays" -> HostileDocs.deepArrays, "deep-dicts" -> HostileDocs.deepDicts)) {
      @volatile var doc: ExtractKernel.Result = null
      val t = new Thread(null, () => doc = ExtractKernel.extract(bytes, "", Int.MaxValue),
        "small-stack", 512L * 1024)
      t.start(); t.join()
      assert(doc != null, s"$name: the fault escaped the per-row catch")
      assert((doc.kind, doc.pageCount, doc.text, doc.error) ===
        (("pdf", 1, HostileDocs.DeepLeafText, null)), name)
    }
  }

  test("html: entity decoding round-trips special chars") {
    val ex = MainTextExtractor.extract(
      """<main class="content"><p>a &amp; b &lt;c&gt; &#x41;&#66;</p></main>""")
    assert(ex.text == "a & b <c> AB")
  }

  test("html: arabic text is byte-identical") {
    val para = PagesGen.sentence(99L, 8, arabic = true)
    val html = PagesGen.htmlPage(Seq(para), None, 3L)
    assert(MainTextExtractor.extract(html).text == para)
  }

  test("html: unhinted long paragraphs still extracted, nav links dropped") {
    val long = (1 to 30).map(i => s"w$i").mkString(" ")
    val html =
      s"""<html><body><nav><a href="/">home</a> <a href="/x">x</a></nav>
         |<div><p>$long</p><p>short tail here</p></div>
         |<footer>contact us at footer</footer></body></html>""".stripMargin
    val ex = MainTextExtractor.extract(html)
    assert(ex.text == long + "\nshort tail here")
  }

  test("html: tokenizer total on arbitrary input (never throws)") {
    val rnd = new scala.util.Random(42)
    val frags = Array("<", ">", "&", "</", "<p", "='", "\"", "<!--",
      "<script>", "</p>", "&#xff;", "&amp", "abc", "x y z", "<div class",
      "<a href='", "]]>", "<![CDATA[", "&#", "<br/>", "\u0000", "é漢字")
    (0 until 500).foreach { _ =>
      val s = (0 until rnd.nextInt(30)).map(_ => frags(rnd.nextInt(frags.length))).mkString
      val ex = MainTextExtractor.extract(s)
      assert(ex.text != null)
      // span invariants: sorted, non-overlapping, in-bounds
      var last = 0
      ex.spans.foreach { sp =>
        assert(sp.begin >= last && sp.end >= sp.begin && sp.end <= ex.text.length)
        last = sp.end
      }
    }
  }

  test("pdf: single + multi page, compressed + raw") {
    for (compress <- Seq(false, true)) {
      val pages = Seq(Seq("one two three", "four five"), Seq("second page line"))
      val bytes = PagesGen.pdfBytes(pages, compress)
      val res = PdfTextExtractor.extract(bytes)
      assert(res.pages.length == 2)
      assert(res.pages(0).text == "one two three\nfour five")
      assert(res.pages(1).text == "second page line")
      assert(res.pages(0).spans.length == 2)
    }
  }

  test("pdf: parens and backslashes round-trip via escapes") {
    val bytes = PagesGen.pdfBytes(Seq(Seq("a (b) c \\ d")), compress = false)
    val res = PdfTextExtractor.extract(bytes)
    assert(res.pages(0).text == "a (b) c \\ d")
  }

  test("pdf: total on arbitrary bytes") {
    val rnd = new scala.util.Random(7)
    (0 until 300).foreach { _ =>
      val bs = new Array[Byte](rnd.nextInt(400))
      rnd.nextBytes(bs)
      // sprinkle pdf-ish markers so stream-scan paths get exercised
      if (bs.length > 60) {
        System.arraycopy("stream".getBytes(UTF_8), 0, bs, 10, 6)
        System.arraycopy("<< /FlateDecode >>".getBytes(UTF_8), 0, bs, 30, 18)
      }
      val res = PdfTextExtractor.extract(bs)
      assert(res.pages != null)
    }
    // every prefix of a real file: it can end inside a string, dict or stream
    val whole = PagesGen.pdfBytesInfo(Seq(Seq("one two")), "t (x)", "a", "2024", utf16Author = true)
    (1 to whole.length).foreach { n =>
      assert(PdfTextExtractor.extract(whole.take(n)).pages != null)
      assert(PdfTextExtractor.docInfo(whole.take(n)) != null)
    }
    // an /ObjStm member with unbalanced parens stops at the next member,
    // which opens a line with a digit
    val (head, members) = ("10 0 11 5\n", "(a(b\n7 0 R")
    val objStm = (s"%PDF-1.5\n5 0 obj << /Type /ObjStm /N 2 /First ${head.length} " +
      s"/Length ${head.length + members.length} >> stream\n$head$members\nendstream endobj\n" +
      "trailer << /Info 10 0 R >>\n").getBytes(UTF_8)
    assert(PdfTextExtractor.extract(objStm).pages.isEmpty)
    assert(PdfTextExtractor.docInfo(objStm).title === "")
  }

  test("sniff dispatch: pdf magic vs html vs empty") {
    assert(ExtractKernel.sniff("%PDF-1.4".getBytes(UTF_8)) == "pdf")
    assert(ExtractKernel.sniff("<html>".getBytes(UTF_8)) == "html")
    assert(ExtractKernel.sniff(Array.emptyByteArray) == "passthrough")
    assert(ExtractKernel.sniff(null) == "passthrough")
  }

  test("boilerplate-strip monotonicity: adding chrome never changes main text") {
    val rnd = new scala.util.Random(13)
    (0 until 200).foreach { _ =>
      val n = 1 + rnd.nextInt(40)
      val s = rnd.nextLong()
      val para = PagesGen.sentence(s, n)
      val bare = s"""<main class="content"><p>${PagesGen.escapeHtml(para)}</p></main>"""
      val chromed = PagesGen.htmlPage(Seq(para), None, s)
      assert(MainTextExtractor.extract(bare).text ==
        MainTextExtractor.extract(chromed).text)
    }
  }
}
