package graft

import graft.HostileDocs.{gzip => gz, gzipMember, zstd => zst}
import graft.kernels.ExtractKernel
import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** gzip/zstd transport decode ahead of content sniffing. */
class GzipTransportSpec extends AnyFunSuite {

  private def extract(html: Array[Byte]) = ExtractKernel.extract(html, "", Int.MaxValue)

  test("gzip'd HTML decompresses then extracts normally") {
    val html = graft.gen.PagesGen.htmlPage(Seq("main content body here"), None, 1L)
    val out = extract(gz(html.getBytes(UTF_8)))
    assert(out.pageCount === 1)
    assert(out.error === null)
    assert(out.kind === "html")
    assert(out.text === "main content body here")
  }

  test("gzip'd PDF is sniffed as pdf AFTER decompression") {
    val pdf = graft.gen.PagesGen.pdfBytes(Seq(Seq("pdf inside gzip")), compress = false)
    val out = extract(gz(pdf))
    assert(out.kind === "pdf")
    assert(out.text === "pdf inside gzip")
  }

  test("corrupt gzip is an error row, never a task failure") {
    val corrupt = gz("hello".getBytes(UTF_8)).take(8) // truncated stream
    val out = extract(corrupt)
    assert(out.pageCount === 1)
    assert(out.error === "gzip_corrupt")
    assert(out.text === "")
  }

  test("zstd'd HTML decompresses then extracts normally") {
    val html = graft.gen.PagesGen.htmlPage(Seq("zstd main content"), None, 1L)
    val out = extract(zst(html.getBytes(UTF_8)))
    assert(out.pageCount === 1)
    assert(out.error === null)
    assert(out.kind === "html")
    assert(out.text === "zstd main content")
  }

  test("zstd'd PDF is sniffed as pdf AFTER decompression") {
    val pdf = graft.gen.PagesGen.pdfBytes(Seq(Seq("pdf inside zstd")), compress = false)
    val out = extract(zst(pdf))
    assert(out.kind === "pdf")
    assert(out.text === "pdf inside zstd")
  }

  test("corrupt zstd is an error row tagged with its codec") {
    val corrupt = zst("hello zstd stream content".getBytes(UTF_8)).take(6)
    val out = extract(corrupt)
    assert(out.pageCount === 1)
    assert(out.error === "zstd_corrupt")
    assert(out.text === "")
  }

  test("zstd bomb guard bounds output size") {
    val bomb = zst(new Array[Byte](4 * 1024 * 1024))
    assert(ExtractKernel.decompressTransport(bomb, maxOut = 1024 * 1024).isEmpty)
    assert(ExtractKernel.decompressTransport(bomb).isDefined)
  }

  test("gunzip bounds output size (decompression-bomb guard)") {
    val bomb = gz(new Array[Byte](4 * 1024 * 1024)) // 4MB of zeros, tiny gz
    assert(ExtractKernel.decompressTransport(bomb, maxOut = 1024 * 1024).isEmpty)
    assert(ExtractKernel.decompressTransport(bomb).isDefined) // default cap admits it
  }

  // gzip framing: the transport reads members as the JDK GZIPInputStream does

  private val a = ("<html><body><p>first member " + "alpha " * 40 + "</p>").getBytes(UTF_8)
  private val b = ("<p>second member " + "beta " * 40 + "</p></body></html>").getBytes(UTF_8)
  private def gunzip(in: Array[Byte], maxOut: Int = 64 * 1024 * 1024) =
    ExtractKernel.decompressTransport(in, maxOut).map(new String(_, UTF_8))
  private val ab = Some(new String(a ++ b, UTF_8))

  test("gzip transport: two members decode to their concatenation") {
    assert(gunzip(gz(a) ++ gz(b)) === ab)
    assert(gunzip(gz(a) ++ gz(Array.emptyByteArray) ++ gz(b)) === ab)
    assert(extract(gz(a) ++ gz(b)) === extract(a ++ b))
  }

  test("gzip transport: FEXTRA, FNAME, FCOMMENT and a matching FHCRC decode") {
    val fields = Seq(
      gzipMember(a, extra = Array[Byte](1, 2, 3)),
      gzipMember(a, name = "page.html"),
      gzipMember(a, comment = "a comment"),
      gzipMember(a, extra = Array.emptyByteArray, name = "n", comment = "c", hcrc = true),
      gzipMember(a, hcrc = true))
    fields.foreach(m => assert(gunzip(m) === Some(new String(a, UTF_8))))
    assert(gunzip(gzipMember(a, name = "a.html") ++ gzipMember(b, comment = "b", hcrc = true)) === ab)
  }

  test("gzip transport: non-gzip bytes after a whole member are ignored") {
    for (n <- Seq(5, 40)) {
      val tail = Array.tabulate[Byte](n)(i => ('a' + i % 26).toByte)
      assert(gunzip(gz(a) ++ tail) === Some(new String(a, UTF_8)), n)
      assert(gunzip(gz(a) ++ gz(b) ++ tail) === ab, n)
    }
    // a tail that starts like a header but is not one: bad method, cut short
    assert(gunzip(gz(a) ++ Array[Byte](0x1f, 0x8b.toByte, 7, 0) ++ new Array[Byte](40)) ===
      Some(new String(a, UTF_8)))
    assert(gunzip(gz(a) ++ gz(b).take(6)) === Some(new String(a, UTF_8)))
  }

  test("gzip transport: a header CRC that does not match refuses the first member, ends a later one") {
    assert(extract(gzipMember(a, hcrc = true, hcrcFlip = 1)).error === "gzip_corrupt")
    assert(gunzip(gz(a) ++ gzipMember(b, hcrc = true, hcrcFlip = 0x100)) ===
      Some(new String(a, UTF_8)))
  }

  test("gzip transport: a member truncated after a valid header is gzip_corrupt") {
    val m = gz(a)
    // inside the deflate data, inside the trailer, one byte short
    for (cut <- Seq(10, 11, m.length / 2, m.length - 8, m.length - 4, m.length - 1)) {
      val out = extract(m.take(cut))
      assert(out.error === "gzip_corrupt", cut)
      assert(out.kind === "html" && out.text === "", cut)
    }
    // the second member's header is whole, its data is cut short
    val m2 = gz(b)
    for (cut <- Seq(m2.length / 2, m2.length - 8, m2.length - 1))
      assert(extract(m ++ m2.take(cut)).error === "gzip_corrupt", cut)
  }

  test("gzip transport: a CRC32 or ISIZE trailer flip is gzip_corrupt") {
    val m = gz(a)
    for (at <- Seq(m.length - 8, m.length - 5, m.length - 4, m.length - 1)) {
      val bad = m.clone()
      bad(at) = (bad(at) ^ 0x01).toByte
      assert(extract(bad).error === "gzip_corrupt", at)
      assert(extract(bad ++ gz(b)).error === "gzip_corrupt", at)
      assert(extract(gz(b) ++ bad).error === "gzip_corrupt", at)
    }
  }

  test("gzip transport: members each under maxOut but over it together are refused") {
    val big = new Array[Byte](600 * 1024)
    val two = gz(big) ++ gz(big)
    assert(ExtractKernel.decompressTransport(gz(big), maxOut = 1024 * 1024).map(_.length) ===
      Some(big.length))
    assert(ExtractKernel.decompressTransport(two, maxOut = 1024 * 1024).isEmpty)
    assert(ExtractKernel.decompressTransport(two, maxOut = 2 * big.length).map(_.length) ===
      Some(2 * big.length))
    assert(ExtractKernel.decompressTransport(two, maxOut = 2 * big.length - 1).isEmpty)
  }

  test("gzip transport: a whole header after a member starts a member, however short its data") {
    // 10 bytes are a bare header; 18 also hold the first deflate bytes
    val m2 = gz(b)
    for (cut <- 10 to 18)
      assert(extract(gz(a) ++ m2.take(cut)).error === "gzip_corrupt", cut)
  }
}
