package graft.kernels

import com.github.luben.zstd.{RecyclingBufferPool, Zstd, ZstdInputStreamNoFinalizer}
import graft.model.Span
import java.io.ByteArrayInputStream
import scala.util.control.NonFatal

/** Per-row extraction dispatch: content sniffing + kernel invocation +
  * poison-pill isolation (SURVEY §2.2 "extension dispatch" re-expressed as
  * content sniffing on magic bytes — the reference dispatched on filename
  * extension, api.py:123-125; we dispatch on `%PDF-` vs HTML-ish bytes).
  *
  * [[extract]] is the one copy of that decision: the typed path
  * (`ExtractPipeline.extractDoc`) and both SQL functions
  * (`extract_main_text`, `extract_doc`) are thin adapters over it.
  * Errors never fail the Spark task: a failing document emits a row with
  * `error` set and empty text (reference analog: per-request try/except,
  * api.py:291-336).
  */
object ExtractKernel {

  final val KindHtml = "html"
  final val KindPdf = "pdf"
  final val KindPassthrough = "passthrough"
  final val KindEmpty = "empty"

  def sniff(html: Array[Byte]): String = {
    if (html == null || html.length == 0) KindPassthrough
    else if (html.length >= 5 &&
      html(0) == '%' && html(1) == 'P' && html(2) == 'D' &&
      html(3) == 'F' && html(4) == '-') KindPdf
    else KindHtml
  }

  /** Transport codec sniff — crawl tables frequently store the raw
    * compressed response body; the payload is decompressed transparently
    * before content sniffing (the CONTENT type is whatever is inside).
    * gzip (1f 8b) and zstd (28 b5 2f fd — zstd-jni ships with Spark)
    * are the two codecs real crawl archives use.
    */
  def transportOf(b: Array[Byte]): String = {
    if (b == null || b.length < 4) null
    else if (b(0) == 0x1f.toByte && (b(1) & 0xff) == 0x8b) "gzip"
    else if (b(0) == 0x28.toByte && (b(1) & 0xff) == 0xb5 &&
      (b(2) & 0xff) == 0x2f && (b(3) & 0xff) == 0xfd) "zstd"
    else null
  }

  def isGzip(b: Array[Byte]): Boolean = transportOf(b) == "gzip"

  /** Bounded transport decompression; None on corrupt, truncated or
    * oversized bodies (decompression-bomb guard, `maxOut` bytes in all).
    * gzip is [[Inflate.gunzip]] read as the JDK gzip stream reads it:
    * the members concatenated, a tail after a whole member that parses
    * as no gzip header ignored, any failing member refusing the body.
    * zstd reads its frames as one stream, closed on every path: a
    * stream with no finalizer whose input buffer comes from zstd-jni's
    * recycling pool, read straight into one [[Inflate.Buf]]. The buffer
    * takes its size from the first frame header's content size where
    * that claim is within `maxOut` and within what the body could
    * expand to (one 4-byte RLE block yields at most 128 KiB); an
    * unsized frame, or any output past the claim, grows it by doubling.
    */
  def decompressTransport(bytes: Array[Byte],
      maxOut: Int = 64 * 1024 * 1024): Option[Array[Byte]] =
    try transportOf(bytes) match {
      case "gzip" =>
        val g = Inflate.gunzip(bytes, maxOut)
        if (g.members.nonEmpty && g.tail.forall(_ == Inflate.BadHeader)) Some(g.bytes) else None
      case "zstd" =>
        val claim = Zstd.getFrameContentSize(bytes)
        val out = new Inflate.Buf(
          if (claim >= 0 && claim <= maxOut && claim <= (bytes.length.toLong << 15)) claim
          else bytes.length * 4L,
          maxOut)
        val in = new ZstdInputStreamNoFinalizer(new ByteArrayInputStream(bytes), RecyclingBufferPool.INSTANCE)
        try if (out.fill(in)) Some(out.result()) else None
        finally in.close()
      case _ => None
    } catch { case _: StackOverflowError | NonFatal(_) => None }

  /** One document's merged extraction: `kind` is html | pdf |
    * passthrough | empty, `error` is null on success. PDF pages are
    * joined with '\n' in page order and their spans re-offset into the
    * joined text, the combined `{page_count, pages:[...]}` of the
    * reference (api.py:261-269).
    */
  final case class Result(kind: String, pageCount: Int, text: String, spans: Seq[Span],
      error: String) {
    /** The text the one-argument SQL functions return: null for an error
      * row and for a row with nothing to extract.
      */
    def textOrNull: String = if (error != null || kind == KindEmpty) null else text
  }

  private def noText(kind: String, pageCount: Int, error: String): Result =
    Result(kind, pageCount, "", Seq.empty, error)

  /** The per-document decision, shared by the typed path and both SQL
    * functions: size cap, transport decode, sniff, then the PDF or HTML
    * kernel. Crawl `text` stands in only when no `html` bytes were stored;
    * a coded body that decodes to nothing is `empty`. Every non-fatal
    * fault becomes an error row, and so would a stack overflow (the
    * kernels walk nested input on their own stacks; this is the guard
    * if one ever recurses); OOM and task-kill interrupts reach Spark.
    */
  def extract(html: Array[Byte], text: String, maxBytes: Int): Result = {
    val size = if (html == null) 0 else html.length
    if (size > maxBytes) return noText(sniff(html), 0, s"too_large:$size")
    val codec = transportOf(html)
    val bytes =
      if (codec == null) html
      else decompressTransport(html) match {
        case Some(b) => b
        case None => return noText(KindHtml, 1, s"${codec}_corrupt")
      }
    try {
      sniff(bytes) match {
        case KindPassthrough =>
          val t = if (codec != null || text == null) "" else text
          if (t.isEmpty) noText(KindEmpty, 1, null)
          else Result(KindPassthrough, 1, t, Seq(Span(0, t.length, "text")), null)
        case KindPdf =>
          val res = PdfTextExtractor.extract(bytes)
          val pages = res.pages
          if (pages.isEmpty)
            noText(KindPdf, 1,
              if (res.unsupported > 0) s"pdf_unsupported:${res.unsupported}" else "pdf_empty")
          else if (pages.length == 1) Result(KindPdf, 1, pages(0).text, pages(0).spans.toSeq, null)
          else {
            val sb = new java.lang.StringBuilder(256)
            val spans = Seq.newBuilder[Span]
            pages.foreach { p =>
              if (sb.length > 0) sb.append('\n')
              val off = sb.length
              sb.append(p.text)
              p.spans.foreach(s => spans += Span(s.begin + off, s.end + off, s.kind))
            }
            Result(KindPdf, pages.length, sb.toString, spans.result(), null)
          }
        case _ =>
          val ex = MainTextExtractor.extract(HtmlCharset.decode(bytes))
          Result(KindHtml, 1, ex.text, ex.spans.toSeq, null)
      }
    } catch {
      case e @ (_: StackOverflowError | NonFatal(_)) =>
        noText(sniff(bytes), 1,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    }
  }
}
