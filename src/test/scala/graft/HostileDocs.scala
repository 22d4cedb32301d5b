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

  /** One zstd frame as a streaming compressor writes it: no content size in its header. */
  def zstdUnsized(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new com.github.luben.zstd.ZstdOutputStream(bos)
    z.write(b); z.close()
    bos.toByteArray
  }

  private def le(v: Long, n: Int): Array[Byte] = Array.tabulate(n)(i => ((v >> (8 * i)) & 0xff).toByte)

  private val ZstdMagic = Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte)

  /** One single-segment zstd frame whose header claims `claim` content
    * bytes, holding `payload` (at most 128 KiB) as one raw last block.
    */
  def zstdClaiming(payload: Array[Byte], claim: Long): Array[Byte] =
    ZstdMagic ++ Array(0xa0.toByte) ++ le(claim, 4) ++ le((payload.length.toLong << 3) | 1, 3) ++ payload

  /** A skippable frame (magic 0x184D2A50, little-endian) with `n` bytes of user data. */
  def zstdSkippable(n: Int): Array[Byte] =
    Array[Byte](0x50, 0x2a, 0x4d, 0x18) ++ le(n.toLong, 4) ++ Array.tabulate[Byte](n)(i => (i % 7).toByte)

  /** One RFC 1952 member written field by field, with the optional
    * header fields the JDK writer never emits but real archivers do:
    * FEXTRA (`extra`), FNAME (`name`), FCOMMENT (`comment`) and FHCRC
    * (`hcrc`: the low 16 bits of the header's CRC32, XOR `hcrcFlip`).
    */
  def gzipMember(payload: Array[Byte], extra: Array[Byte] = null, name: String = null,
      comment: String = null, hcrc: Boolean = false, hcrcFlip: Int = 0): Array[Byte] = {
    val flg = (if (hcrc) 2 else 0) | (if (extra != null) 4 else 0) |
      (if (name != null) 8 else 0) | (if (comment != null) 16 else 0)
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Array[Byte](0x1f.toByte, 0x8b.toByte, 8, flg.toByte, 0, 0, 0, 0, 0, (-1).toByte))
    if (extra != null) { bos.write(le(extra.length.toLong, 2)); bos.write(extra) }
    if (name != null) { bos.write(name.getBytes(ISO_8859_1)); bos.write(0) }
    if (comment != null) { bos.write(comment.getBytes(ISO_8859_1)); bos.write(0) }
    if (hcrc) {
      val crc = new java.util.zip.CRC32
      crc.update(bos.toByteArray)
      bos.write(le((crc.getValue ^ hcrcFlip) & 0xffff, 2))
    }
    bos.write(PagesGen.deflate(payload, nowrap = true))
    val crc = new java.util.zip.CRC32
    crc.update(payload)
    bos.write(le(crc.getValue, 4))
    bos.write(le(payload.length.toLong, 4))
    bos.toByteArray
  }

  /** A PDF whose objects are numbered 1.. in the given order (1 = catalog). */
  private def pdf(objs: Seq[String]): Array[Byte] =
    ("%PDF-1.4\n" + objs.zipWithIndex.map { case (o, i) => s"${i + 1} 0 obj $o endobj\n" }.mkString +
      "trailer << /Root 1 0 R >>\n%%EOF\n").getBytes(ISO_8859_1)

  /** Page tree 2 → 3 → 2: the walk must not loop. */
  val cyclicKids: Array[Byte] = pdf(Seq(
    "<< /Type /Catalog /Pages 2 0 R >>",
    "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
    "<< /Type /Pages /Kids [2 0 R] /Count 1 >>"))

  val DeepLeafText = "deep leaf page"

  private val Depth = 100000

  /** Catalog (1), page-tree objects `tree` from 2, then one page dict
    * carrying `pageKeys` and its text stream.
    */
  private def leafPdf(tree: Seq[String], pageKeys: String = ""): Array[Byte] = {
    val content = s"BT /F1 12 Tf 72 720 Td ($DeepLeafText) Tj ET"
    val page = tree.length + 2
    pdf(("<< /Type /Catalog /Pages 2 0 R >>" +: tree) ++ Seq(
      s"<< /Type /Page /Contents ${page + 1} 0 R$pageKeys >>",
      s"<< /Length ${content.length} >> stream\n$content\nendstream"))
  }

  /** A chain of 100k /Pages nodes above one text page. A recursive
    * page-tree walk overflows any default task-thread stack on it; the
    * kernel walks it on an explicit stack and extracts the page.
    */
  val deepKids: Array[Byte] =
    leafPdf((2 to Depth + 1).map(n => s"<< /Type /Pages /Kids [${n + 1} 0 R] /Count 1 >>"))

  /** The page's /Kids entry nested in 100k arrays: no kid resolves, so
    * the file-order fallback reads the page.
    */
  val deepArrays: Array[Byte] =
    leafPdf(Seq(s"<< /Type /Pages /Kids ${"[" * Depth}3 0 R${"]" * Depth} /Count 1 >>"))

  /** A page dict holding 100k nested, unterminated dicts: they close at
    * `endobj` and the page keeps its own keys.
    */
  val deepDicts: Array[Byte] =
    leafPdf(Seq("<< /Type /Pages /Kids [3 0 R] /Count 1 >>"), " /Deep" + " << /A" * Depth)

  val DeepDivText = "a paragraph nested under very many division elements of markup"

  /** 10k nested divisions around one paragraph: extracted like any
    * other page, on any task-thread stack.
    */
  val deepDivs: Array[Byte] =
    ("<html><body>" + "<div>" * 10000 + s"<p>$DeepDivText</p>" +
      "</div>" * 10000 + "</body></html>").getBytes(UTF_8)

  /** Main text outside the Basic Multilingual Plane (an emoji and two
    * CJK Extension B ideographs): each is two UTF-16 units and one code
    * point, so a surface counting units instead of code points shows.
    */
  val AstralText = "astral plane main text \uD83D\uDE00 with \uD840\uDC00\uD840\uDC01 kept whole"

  val rows: Seq[PageRow] = {
    val html = PagesGen.htmlPage(Seq("hostile main content body here"), None, 5L).getBytes(UTF_8)
    val gz = gzip(html)
    val zst = zstd(html)
    Seq(
      "truncated-gzip" -> gz.take(gz.length * 3 / 5),
      "truncated-zstd" -> zst.take(zst.length * 3 / 5),
      "two-frame-zstd" -> (zstd(html.take(html.length / 2)) ++ zstd(html.drop(html.length / 2))),
      "unsized-zstd" -> zstdUnsized(html),
      "overclaim-zstd" -> zstdClaiming(html, html.length + 100L),
      "empty-zstd" -> zstd(Array.emptyByteArray),
      "skippable-zstd" -> (zstdSkippable(8) ++ zst),
      "empty-gzip" -> gzip(Array.emptyByteArray),
      "two-member-gzip" -> (gzip(html.take(html.length / 2)) ++ gzip(html.drop(html.length / 2))),
      "fname-gzip" -> gzipMember(html, name = "page.html"),
      "garbage-pdf" -> "%PDF-1.4 garbage".getBytes(UTF_8),
      "cyclic-kids" -> cyclicKids,
      "deep-kids" -> deepKids,
      "deep-divs" -> deepDivs,
      "astral" -> PagesGen.htmlPage(Seq(AstralText), None, 6L).getBytes(UTF_8),
      "no-bytes" -> Array.emptyByteArray
    ).map { case (name, b) =>
      PageRow(s"hostile://$name", new java.sql.Timestamp(0), b, CrawlText, "en")
    }
  }
}
