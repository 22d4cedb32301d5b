package graft

import graft.gen.PagesGen
import graft.model.PageRow
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** Rows no corpus generator produces: broken transport bodies and PDF /
  * HTML shapes that drive the extraction kernels into their failure
  * branches. Every row carries crawl text, which must never surface for a
  * row that has bytes.
  */
object HostileDocs {

  val CrawlText = "crawl text that must not surface"

  def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  def zstd(b: Array[Byte]): Array[Byte] = com.github.luben.zstd.Zstd.compress(b, 3)

  /** A PDF whose objects are numbered 1.. in the given order (1 = catalog). */
  private def pdf(objs: Seq[String]): Array[Byte] =
    ("%PDF-1.4\n" + objs.zipWithIndex.map { case (o, i) => s"${i + 1} 0 obj $o endobj\n" }.mkString +
      "trailer << /Root 1 0 R >>\n%%EOF\n").getBytes(ISO_8859_1)

  /** Page tree 2 → 3 → 2: the walk must not loop. */
  val cyclicKids: Array[Byte] = pdf(Seq(
    "<< /Type /Catalog /Pages 2 0 R >>",
    "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
    "<< /Type /Pages /Kids [2 0 R] /Count 1 >>"))

  /** A chain of 100k /Pages nodes above one text page: the recursive
    * page-tree walk overflows any default task-thread stack on it. At 10k
    * levels the JIT-compiled walk fits in a 1 MB stack and the interpreted
    * one does not, so the outcome would depend on JIT state.
    */
  val deepKids: Array[Byte] = {
    val depth = 100000
    val content = "BT /F1 12 Tf 72 720 Td (deep leaf page) Tj ET"
    pdf(("<< /Type /Catalog /Pages 2 0 R >>" +:
      (2 to depth + 1).map(n => s"<< /Type /Pages /Kids [${n + 1} 0 R] /Count 1 >>")) ++ Seq(
      s"<< /Type /Page /Contents ${depth + 3} 0 R >>",
      s"<< /Length ${content.length} >> stream\n$content\nendstream"))
  }

  val DeepDivText = "a paragraph nested under very many division elements of markup"

  /** 10k nested divisions around one paragraph: extracted like any
    * other page, on any task-thread stack.
    */
  val deepDivs: Array[Byte] =
    ("<html><body>" + "<div>" * 10000 + s"<p>$DeepDivText</p>" +
      "</div>" * 10000 + "</body></html>").getBytes(UTF_8)

  val rows: Seq[PageRow] = {
    val html = PagesGen.htmlPage(Seq("hostile main content body here"), None, 5L).getBytes(UTF_8)
    val gz = gzip(html)
    val zst = zstd(html)
    Seq(
      "truncated-gzip" -> gz.take(gz.length * 3 / 5),
      "truncated-zstd" -> zst.take(zst.length * 3 / 5),
      "empty-gzip" -> gzip(Array.emptyByteArray),
      "garbage-pdf" -> "%PDF-1.4 garbage".getBytes(UTF_8),
      "cyclic-kids" -> cyclicKids,
      "deep-kids" -> deepKids,
      "deep-divs" -> deepDivs,
      "no-bytes" -> Array.emptyByteArray
    ).map { case (name, b) =>
      PageRow(s"hostile://$name", new java.sql.Timestamp(0), b, CrawlText, "en")
    }
  }
}
