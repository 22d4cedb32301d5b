package graft

import com.github.luben.zstd.Zstd
import graft.HostileDocs.{gzip => gz, gzipMember, zstd => zst, zstdClaiming, zstdUnsized}
import graft.kernels.ExtractKernel
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

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

  // zstd bounds: the output buffer is pre-sized from the frame header only
  // up to maxOut and up to what the body could expand to

  private def allocated(): Long =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
      .getCurrentThreadAllocatedBytes

  test("zstd transport: output of exactly maxOut decodes, maxOut - 1 refuses, sized or not") {
    val page = ("<p>bounded zstd page " + "gamma delta " * 9000 + "</p>").getBytes(UTF_8)
    val sized = zst(page)
    val unsized = zstdUnsized(page)
    assert(Zstd.getFrameContentSize(sized) === page.length.toLong)
    assert(Zstd.getFrameContentSize(unsized) === -1L)
    for (body <- Seq(sized, unsized)) {
      assert(ExtractKernel.decompressTransport(body, maxOut = page.length).map(_.toSeq) ===
        Some(page.toSeq))
      assert(ExtractKernel.decompressTransport(body, maxOut = page.length - 1).isEmpty)
    }
  }

  test("zstd transport: a header claiming more than the body could hold is not allocated") {
    // 4 magic, descriptor (4-byte size, window byte), 128 KiB window, a
    // 60 MiB claim, two 128 KiB RLE blocks, then a block header cut short
    val rle = Array[Byte](0x02, 0x00, 0x10, 'a')
    val body = Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte, 0x80.toByte, 0x38) ++
      Array[Byte](0, 0, 0xc0.toByte, 0x03) ++ rle ++ rle ++ rle.take(2)
    assert(body.length === 20)
    assert(Zstd.getFrameContentSize(body) === 60L * 1024 * 1024)
    ExtractKernel.decompressTransport(zst(page2k(0))) // warm the stream's pooled buffer
    val before = allocated()
    assert(ExtractKernel.decompressTransport(body).isEmpty)
    val used = allocated() - before
    assert(used < 8L * 1024 * 1024, s"$used bytes allocated")
    // a claim the body can hold but the payload does not fill is corrupt
    val short = "a short payload".getBytes(UTF_8)
    assert(ExtractKernel.decompressTransport(zstdClaiming(short, short.length.toLong)).map(_.toSeq) ===
      Some(short.toSeq))
    assert(ExtractKernel.decompressTransport(zstdClaiming(short, short.length + 1L)).isEmpty)
  }

  private def page2k(i: Int): Array[Byte] =
    graft.gen.PagesGen.htmlPage(Seq.tabulate(8)(j => s"paragraph $j of page $i " * 6), None, i.toLong)
      .getBytes(UTF_8)

  test("zstd transport: decoding allocates little beyond the decoded bytes") {
    val bodies = (0 until 1000).map(i => zst(page2k(i)))
    val plain = (0 until 1000).map(i => page2k(i).length.toLong).sum
    assert(plain / 1000 > 1500 && plain / 1000 < 3000, plain / 1000)
    bodies.foreach(ExtractKernel.decompressTransport(_)) // warm-up: JIT and the buffer pool
    val before = allocated()
    var decoded = 0L
    bodies.foreach(b => decoded += ExtractKernel.decompressTransport(b).get.length)
    val perBody = (allocated() - before) / bodies.length
    assert(decoded === plain)
    assert(perBody < 16 * 1024, s"$perBody bytes allocated per body")
  }

  test("zstd transport: the finalizable zstd stream is not used in src/main") {
    val users = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => "ZstdInputStream(?!NoFinalizer)".r.findFirstIn(Files.readString(p)).isDefined)
      .toList
    assert(users.isEmpty, users)
  }
}
