package graft

import graft.gen.PagesGen
import graft.kernels.PdfTextExtractor
import java.nio.charset.StandardCharsets.ISO_8859_1
import org.scalatest.funsuite.AnyFunSuite

/** Each PDF token form has one reader: a literal or hex string decodes
  * the same in a content stream and in /Info, a ToUnicode CMap code never
  * fails the document, and the no-catalog fallback locates payloads like
  * the object index does. Fixtures are hand-written bytes.
  */
class PdfTokenReaderSpec extends AnyFunSuite {

  private def pdf(objs: String*): Array[Byte] =
    ("%PDF-1.4\n" + objs.mkString("\n") + "\ntrailer << /Root 1 0 R /Info 9 0 R >>\n%%EOF\n")
      .getBytes(ISO_8859_1)

  private def page(content: String, resources: String): Seq[String] = Seq(
    "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj",
    "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj",
    s"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R$resources >> endobj",
    s"4 0 obj << /Length ${content.length} >> stream\n$content\nendstream endobj")

  /** One page showing the string token `tok`, with the same token as /Title. */
  private def shown(tok: String): Array[Byte] =
    pdf(page(s"BT /F1 12 Tf 72 720 Td $tok Tj ET", "") :+ s"9 0 obj << /Title $tok >> endobj": _*)

  private def agree(tok: String, want: String): Unit = {
    val b = shown(tok)
    assert(PdfTextExtractor.docInfo(b).title === want, tok)
    assert(PdfTextExtractor.extract(b).pages.map(_.text).toSeq === Seq(want), tok)
  }

  test("a literal title reads as in a content stream: nested parens, LF/CR/CRLF continuation") {
    agree("(Report (draft) v2)", "Report (draft) v2")
    agree("(line\\\ncont)", "linecont")
    agree("(line\\\rcont)", "linecont")
    agree("(line\\\r\ncont)", "linecont")
  }

  test("a ToUnicode CMap code at or above 0x80000000 (or over 4 bytes) extracts, never errors") {
    val cmap = "beginbfchar\n<0058> <0058>\n<80000000> <0059>\n<0102030405> <005A>\nendbfchar\n" +
      "beginbfrange\n<FFFFFFF0> <FFFFFFFF> <0041>\nendbfrange"
    val b = pdf(page("BT /FC 12 Tf 72 720 Td <00580058> Tj ET",
      " /Resources << /Font << /FC 5 0 R >> >>") ++ Seq(
      "5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /Noto " +
        "/Encoding /Identity-H /ToUnicode 6 0 R >> endobj",
      s"6 0 obj << /Length ${cmap.length} >> stream\n$cmap\nendstream endobj"): _*)
    val r = PdfTextExtractor.extract(b)
    assert(r.pages.map(_.text).toSeq === Seq("XX"))
    assert(r.unsupported === 0)
  }

  test("hex strings with inner whitespace and an odd final digit read alike in content and /Info") {
    agree("<48 65 6C\n6C\t6F 3>", "Hello0")
    agree("<4 1 4>", "A@") // 0x41, then the odd digit 4 padded to 0x40
  }

  test("a /Length past Int.MaxValue falls back to the endstream scan, never errors") {
    val content = "BT /F1 12 Tf 72 720 Td (long length) Tj ET"
    val b = pdf(page(content, "").map(_.replace(s"/Length ${content.length}",
      "/Length 99999999999")): _*)
    assert(PdfTextExtractor.extract(b).pages.map(_.text).toSeq === Seq("long length"))
  }

  test("a /Length in a nested-dict stream holds `endstream` and `N 0 obj` text as payload") {
    val content = "BT /F1 12 Tf 72 720 Td (a endstream b) Tj (9 0 obj << /Title (phantom) >>) Tj ET"
    val b = pdf("9 0 obj << /Title (real) >> endobj" +: page(content, "").map(_.replace(
      s"/Length ${content.length}", s"/Length ${content.length} /DecodeParms << /Columns 1 >>")): _*)
    assert(PdfTextExtractor.extract(b).pages.map(_.text).toSeq ===
      Seq("a endstream b 9 0 obj << /Title (phantom) >>"))
    assert(PdfTextExtractor.docInfo(b).title === "real")
  }

  test("a `stream` that follows no dict is no keyword: a stray line, a word in /Title") {
    val content = "BT /F1 12 Tf 72 720 Td (body) Tj ET"
    val b = pdf("stream" +: "9 0 obj << /Title (a stream b) /Author (me) >> endobj" +:
      page(content, ""): _*)
    assert(PdfTextExtractor.extract(b).pages.map(_.text).toSeq === Seq("body"))
    val info = PdfTextExtractor.docInfo(b)
    assert((info.title, info.author) === (("a stream b", "me")))
  }

  test("`N G obj`, `stream` and `endobj` inside a /Title are text, and the keys after it stay") {
    for (title <- Seq("T 1 0 obj", "stream endstream obj endobj")) {
      val b = PagesGen.pdfBytesInfo(Seq(Seq("x")), title, "me", "2024", utf16Author = false)
      assert(PdfTextExtractor.docInfo(b) === PdfTextExtractor.DocInfo(title, "me", "2024-01-01T00:00:00"))
      assert(PdfTextExtractor.extract(b).pages.map(_.text).toSeq === Seq("x"))
    }
  }

  test("a page dict's `endobj` string reads whole; a string left open ends at the next header") {
    val content = "BT /F1 12 Tf 72 720 Td (kept page) Tj ET"
    val b = pdf(page(content, "").map(_.replace("/Parent 2 0 R",
      "/Parent 2 0 R /Note (see endobj 4 0 obj here)")): _*)
    assert(PdfTextExtractor.extract(b).pages.map(_.text).toSeq === Seq("kept page"))
    val open = pdf("9 0 obj << /Title (left open >> endobj" +: page(content, ""): _*)
    assert(PdfTextExtractor.extract(open).pages.map(_.text).toSeq === Seq("kept page"))
  }

  test("objects after the last stream cost linear time to index") {
    // a string left open ends at the next line's header; nesting never closed stays linear too
    val tails = Seq("null", "(x", "<x").map(body => (10 until 200010).map(n => s"$n 0 obj $body endobj").mkString("\n")) ++
      Seq("[" * 100000 + ">>" * 100000, (0 until 100000).map(k => s"<< /K$k ").mkString).map(b => s"10 0 obj $b endobj")
    for (tail <- tails) {
      val b = pdf(page("BT /F1 12 Tf 72 720 Td (first) Tj ET", "") :+ tail: _*)
      val t0 = System.nanoTime()
      assert(PdfTextExtractor.extract(b).pages.map(_.text).toSeq === Seq("first"), tail.take(12))
      assert((System.nanoTime() - t0) / 1e9 < 10.0, tail.take(12))
    }
  }

  test("a page dict keeps its keys past a lost `]`, an extra `>>` or a stray name") {
    val content = "BT /F1 12 Tf 72 720 Td (kept page) Tj ET"
    for (damage <- Seq("/MediaBox [0 0 612 792 /Parent 2 0 R", "/Parent 2 0 R /Resources << >> >>",
        "/Parent 2 0 R /Junk")) {
      val b = pdf(page(content, "").map(_.replace("/Parent 2 0 R", damage)): _*)
      assert(PdfTextExtractor.extract(b).pages.map(_.text).toSeq === Seq("kept page"), damage)
    }
  }

  test("the no-catalog fallback reads a raw and a Flate stream, CRLF before endstream") {
    val raw = "BT /F1 12 Tf 72 720 Td (raw page) Tj ET"
    val content = "BT /F1 12 Tf 72 720 Td (flate page) Tj ET".getBytes(ISO_8859_1)
    val flate = new String(PagesGen.deflate(content), ISO_8859_1)
    val b = ("%PDF-1.4\n" +
      s"5 0 obj << /Length ${raw.length} >> stream\r\n$raw\r\nendstream endobj\n" +
      s"6 0 obj << /Length ${flate.length} /Filter /FlateDecode >> stream\n" +
      s"$flate\r\nendstream endobj\n" +
      "%%EOF\n").getBytes(ISO_8859_1)
    val r = PdfTextExtractor.extract(b)
    assert(r.pages.map(p => (p.page_no, p.text)).toSeq === Seq(0 -> "raw page", 1 -> "flate page"))
    assert(r.unsupported === 0)
  }
}
