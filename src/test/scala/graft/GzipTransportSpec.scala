package graft

import graft.HostileDocs.{gzip => gz, zstd => zst}
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
}
