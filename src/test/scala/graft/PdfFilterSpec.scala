package graft

import graft.gen.PagesGen
import graft.kernels.{Inflate, PdfTextExtractor}
import java.nio.charset.StandardCharsets.ISO_8859_1
import org.scalatest.funsuite.AnyFunSuite

/** Stream-filter chains and crawl-realism object indexing. */
class PdfFilterSpec extends AnyFunSuite {

  private val lines = Seq("the quick brown fox", "jumps over the lazy dog",
    "aaaaaaaaaaaaaaaaaa repeated run content")

  test("PNG-predictor Flate round-trips byte-identically (all row tags)") {
    val pdf = PagesGen.pdfBytesFiltered(Seq(lines), "png")
    val r = PdfTextExtractor.extract(pdf)
    assert(r.unsupported === 0)
    assert(r.pages.map(_.text).mkString("\n") === lines.mkString("\n"))
  }

  test("TIFF-predictor Flate round-trips byte-identically") {
    val pdf = PagesGen.pdfBytesFiltered(Seq(lines), "tiff")
    val r = PdfTextExtractor.extract(pdf)
    assert(r.unsupported === 0)
    assert(r.pages.map(_.text).mkString("\n") === lines.mkString("\n"))
  }

  test("ASCIIHex -> Flate filter chain round-trips") {
    val pdf = PagesGen.pdfBytesFiltered(Seq(lines), "ahx")
    val r = PdfTextExtractor.extract(pdf)
    assert(r.unsupported === 0)
    assert(r.pages.map(_.text).mkString("\n") === lines.mkString("\n"))
  }

  test("ASCII85 -> Flate filter chain round-trips (incl. z groups and partial tail)") {
    val pdf = PagesGen.pdfBytesFiltered(Seq(lines), "a85")
    val r = PdfTextExtractor.extract(pdf)
    assert(r.unsupported === 0)
    assert(r.pages.map(_.text).mkString("\n") === lines.mkString("\n"))
  }

  test("RunLengthDecode (repeat + literal runs) round-trips") {
    val pdf = PagesGen.pdfBytesFiltered(Seq(lines), "rl")
    val r = PdfTextExtractor.extract(pdf)
    assert(r.unsupported === 0)
    assert(r.pages.map(_.text).mkString("\n") === lines.mkString("\n"))
  }

  test("/ObjStm compressed with predictor-Flate expands (the real-world PDF 1.5 shape)") {
    // structural objects live in an object stream whose payload is
    // Flate + PNG-predictor compressed — the exact combination real
    // producers emit for /ObjStm and XRef streams
    val members = Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    val bodies = members.map(_._2 + "\n")
    val offsets = bodies.scanLeft(0)(_ + _.length).init
    val header = members.map(_._1).zip(offsets)
      .map { case (n, o) => s"$n $o" }.mkString(" ") + "\n"
    val payloadRaw = (header + bodies.mkString)
      .getBytes(ISO_8859_1)
    val cols = 8
    val payload = PagesGen.deflate(
      PagesGen.pngFilter(PagesGen.padTo(payloadRaw, cols), cols, bpp = 1))
    val bytes = ("%PDF-1.5\n" +
      s"7 0 obj << /Type /ObjStm /N 3 /First ${header.length} /Length ${payload.length} " +
      s"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns $cols >> >> stream\n")
      .getBytes(ISO_8859_1) ++ payload ++
      ("\nendstream endobj\n" +
        "4 0 obj << /Length 46 >> stream\nBT /F1 12 Tf 72 720 Td (objstm page) Tj ET\nendstream endobj\n" +
        "trailer << /Root 1 0 R >>\n%%EOF\n").getBytes(ISO_8859_1)
    val r = PdfTextExtractor.extract(bytes)
    assert(r.unsupported === 0)
    assert(r.pages.map(_.text).toSeq === Seq("objstm page"))
  }

  test("indirect /Filter reference is unsupported, NOT silently raw") {
    // '/Filter 8 0 R' is legal; the name regex can't resolve it — the
    // stream must count as unsupported rather than feeding compressed
    // bytes to the lexer as a successful extraction
    val pdf = new String(PagesGen.pdfBytes(Seq(Seq("hello")), compress = true), ISO_8859_1)
      .replace("/Filter /FlateDecode", "/Filter 8 0 R")
      .getBytes(ISO_8859_1)
    val r = PdfTextExtractor.extract(pdf)
    assert(r.unsupported > 0)
    assert(r.pages.isEmpty)
  }

  test("unsupported filters stay honestly counted") {
    val pdf = new String(PagesGen.pdfBytes(Seq(Seq("hello"))
      .map(identity), compress = false), ISO_8859_1)
      .replace(">> stream", "/Filter /DCTDecode >> stream")
      .getBytes(ISO_8859_1)
    val r = PdfTextExtractor.extract(pdf)
    assert(r.unsupported > 0)
    assert(r.pages.isEmpty)
  }

  /** A zlib stream of `n` zero bytes (about 1 KiB per MiB), deflated in
    * 1 MiB writes so the test never holds the plain bytes.
    */
  private def deflatedZeros(n: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.DeflaterOutputStream(out)
    val mib = new Array[Byte](1 << 20)
    var left = n
    while (left > 0) {
      val k = math.min(left, mib.length.toLong).toInt
      z.write(mib, 0, k)
      left -= k
    }
    z.close()
    out.toByteArray
  }

  test("bounded inflate: 64 MiB inflates, one byte more is refused, truncation is partial") {
    val atCap = Inflate(deflatedZeros(Inflate.MaxOut)).get
    assert(atCap.finished && atCap.bytes.length === Inflate.MaxOut)
    assert(Inflate(deflatedZeros(Inflate.MaxOut + 1L)).isEmpty)
    val whole = PagesGen.deflate(lines.mkString("\n").getBytes(ISO_8859_1))
    val cut = Inflate(whole.take(whole.length - 6)).get
    assert(!cut.finished && lines.mkString("\n").startsWith(new String(cut.bytes, ISO_8859_1)))
    assert(Inflate("not a zlib stream".getBytes(ISO_8859_1)).isEmpty)
  }

  test("a Flate bomb past the output cap counts unsupported; the other page still extracts") {
    val bomb = deflatedZeros(Inflate.MaxOut + 1L)
    val bytes = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
      s"4 0 obj << /Length ${bomb.length} /Filter /FlateDecode >> stream\n")
      .getBytes(ISO_8859_1) ++ bomb ++
      ("\nendstream endobj\n" +
        "5 0 obj << /Type /Page /Parent 2 0 R /Contents 6 0 R >> endobj\n" +
        "6 0 obj << /Length 43 >> stream\nBT /F1 12 Tf 72 720 Td (after bomb) Tj ET\nendstream endobj\n" +
        "trailer << /Root 1 0 R >>\n%%EOF\n").getBytes(ISO_8859_1)
    val r = PdfTextExtractor.extract(bytes)
    assert(r.unsupported === 1)
    assert(r.pages.map(_.text).toSeq === Seq("after bomb"))
  }

  test("LZWDecode round-trips byte-identically") {
    val pdf = PagesGen.pdfBytesFiltered(Seq(lines), "lzw")
    val r = PdfTextExtractor.extract(pdf)
    assert(r.unsupported === 0)
    assert(r.pages.map(_.text).mkString("\n") === lines.mkString("\n"))
  }

  test("LZW encoder/decoder round-trip survives width growth, table clear and KwKwK") {
    // deterministic LCG bytes over a small alphabet: enough distinct
    // bigrams/trigrams to push the code width 9 -> 12 and force a
    // mid-stream ClearTable; the aaaa... prefix exercises code==next
    var seed = 0x2545f4914f6cdd1dL
    val n = 200000
    val raw = new Array[Byte](n)
    var i = 0
    while (i < n) {
      raw(i) =
        if (i < 20) 'a'.toByte
        else { seed = seed * 6364136223846793005L + 1442695040888963407L; ((seed >>> 33) % 17 + 'a').toByte }
      i += 1
    }
    val enc = PagesGen.lzwEncode(raw)
    assert(enc.length < n) // it actually compresses
    val dec = PdfTextExtractor.lzwDecode(enc, earlyChange = 1)
    assert(dec.isDefined)
    assert(java.util.Arrays.equals(dec.get, raw))
  }

  test("corrupt LZW stream is None, never garbage") {
    val enc = PagesGen.lzwEncode("some sample payload for corruption".getBytes(ISO_8859_1))
    // flip bits so an out-of-range code appears
    val bad = enc.clone()
    var i = 2
    while (i < bad.length) { bad(i) = 0xff.toByte; i += 1 }
    assert(PdfTextExtractor.lzwDecode(bad, earlyChange = 1).isEmpty)
  }

  test("phantom obj header inside a stream payload cannot shadow a real object") {
    // craft: object 4 (content) whose payload CONTAINS the bytes
    // "3 0 obj" + junk; the raw header scan would index a phantom object
    // 3 AFTER the real page object 3 → later-wins shadows the page
    val base = PagesGen.pdfBytes(Seq(Seq("real page text")), compress = false)
    val s = new String(base, ISO_8859_1)
    val poisoned = s.replace("(real page text) Tj",
      "(real page text) Tj\n% 3 0 obj << /Type /Junk >> endobj\n")
    val r = PdfTextExtractor.extract(poisoned.getBytes(ISO_8859_1))
    assert(r.pages.map(_.text).mkString === "real page text")
  }

  test("incremental update: the LAST /Root trailer governs") {
    // append an updated catalog (obj 10) pointing at a new page tree with
    // different text, plus a second trailer — later-object/last-trailer
    // semantics must surface the UPDATED text
    val base = new String(PagesGen.pdfBytes(Seq(Seq("original")), compress = false), ISO_8859_1)
    val stripped = base.stripSuffix("%%EOF\n")
    val update =
      """10 0 obj << /Type /Catalog /Pages 11 0 R >> endobj
        |11 0 obj << /Type /Pages /Kids [12 0 R] /Count 1 >> endobj
        |12 0 obj << /Type /Page /Parent 11 0 R /MediaBox [0 0 612 792] /Contents 13 0 R /Resources << /Font << /F1 << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> >> >> >> endobj
        |13 0 obj << /Length 44 >> stream
        |BT /F1 12 Tf 72 720 Td (updated text) Tj ET
        |endstream endobj
        |trailer << /Root 10 0 R >>
        |%%EOF
        |""".stripMargin
    val r = PdfTextExtractor.extract((stripped + update).getBytes(ISO_8859_1))
    assert(r.pages.map(_.text).mkString === "updated text")
  }
}
