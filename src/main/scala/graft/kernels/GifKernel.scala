package graft.kernels

import graft.kernels.MediaKernel.BmpImage
import scala.util.control.NonFatal

/** Pure-JVM GIF (87a/89a) decoder — first frame to RGB. GIF's LZW is
  * the LSB-first variable-width variant (initial width = min code size
  * + 1, clear/EOI codes, growth to 12 bits when the decoder's next
  * code reaches the width limit) — a different bit order and growth
  * rule than the PDF LZWDecode filter this repo also implements, so the
  * two share nothing but the idea.
  *
  * Supported: global/local color tables, interlaced images (4-pass row
  * order), extension blocks skipped by sub-block chain (GCE/comment/
  * application), first image descriptor decoded, trailer optional.
  * Structural errors return None — honest failure, never garbage.
  */
object GifKernel {

  def decode(bytes: Array[Byte]): Option[BmpImage] =
    try decode0(bytes) catch { case _: StackOverflowError | NonFatal(_) => None }

  private def decode0(b: Array[Byte]): Option[BmpImage] = {
    if (b == null || b.length < 13) return None
    val sig = new String(b, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    if (sig != "GIF87a" && sig != "GIF89a") return None
    def u16(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    val flags = b(10) & 0xff
    var pos = 13
    var gct: Array[Int] = null // packed rgb per entry
    if ((flags & 0x80) != 0) {
      val n = 2 << (flags & 7)
      gct = readColorTable(b, pos, n).getOrElse(return None)
      pos += 3 * n
    }
    while (pos < b.length) {
      (b(pos) & 0xff) match {
        case 0x3b => return None // trailer before any image
        case 0x21 => // extension: label + sub-block chain
          pos += 2
          while (pos < b.length && (b(pos) & 0xff) != 0) pos += 1 + (b(pos) & 0xff)
          if (pos >= b.length) return None
          pos += 1 // block terminator
        case 0x2c => // image descriptor
          if (pos + 10 > b.length) return None
          val w = u16(pos + 5)
          val h = u16(pos + 7)
          val iFlags = b(pos + 9) & 0xff
          val interlaced = (iFlags & 0x40) != 0
          pos += 10
          var ct = gct
          if ((iFlags & 0x80) != 0) {
            val n = 2 << (iFlags & 7)
            ct = readColorTable(b, pos, n).getOrElse(return None)
            pos += 3 * n
          }
          if (ct == null || w <= 0 || h <= 0) return None
          if (w.toLong * h > 64L * 1024 * 1024) return None
          val minCode = b(pos) & 0xff
          pos += 1
          if (minCode < 2 || minCode > 8) return None
          // concatenate sub-blocks of LZW data
          val data = new java.io.ByteArrayOutputStream(b.length - pos)
          var n = b(pos) & 0xff
          pos += 1
          while (n != 0) {
            if (pos + n > b.length) return None
            data.write(b, pos, n)
            pos += n
            if (pos >= b.length) return None
            n = b(pos) & 0xff
            pos += 1
          }
          val idx = lzwDecode(data.toByteArray, minCode, w * h).getOrElse(return None)
          val order = if (interlaced) interlaceOrder(h) else (0 until h).toArray
          val px = new Array[Int](w * h * 3)
          var r = 0
          while (r < h) {
            val destY = order(r)
            var x = 0
            while (x < w) {
              val ci = idx(r * w + x)
              if (ci >= ct.length) return None
              val c = ct(ci)
              val d = (destY * w + x) * 3
              px(d) = (c >> 16) & 0xff
              px(d + 1) = (c >> 8) & 0xff
              px(d + 2) = c & 0xff
              x += 1
            }
            r += 1
          }
          return Some(BmpImage(w, h, px))
        case _ => return None
      }
    }
    None
  }

  private def readColorTable(b: Array[Byte], pos: Int, n: Int): Option[Array[Int]] = {
    if (pos + 3 * n > b.length) return None
    val t = new Array[Int](n)
    var i = 0
    while (i < n) {
      t(i) = ((b(pos + 3 * i) & 0xff) << 16) |
        ((b(pos + 3 * i + 1) & 0xff) << 8) | (b(pos + 3 * i + 2) & 0xff)
      i += 1
    }
    Some(t)
  }

  /** 4-pass interlace: row r of the stream lands at order(r) on screen. */
  private[graft] def interlaceOrder(h: Int): Array[Int] = {
    val out = new Array[Int](h)
    var r = 0
    Seq((0, 8), (4, 8), (2, 4), (1, 2)).foreach { case (start, step) =>
      var y = start
      while (y < h) { out(r) = y; r += 1; y += step }
    }
    out
  }

  /** GIF LZW: LSB-first packing, dictionary growth per received code,
    * width++ when next reaches 2^width (max 12), clear resets.
    */
  private def lzwDecode(data: Array[Byte], minCode: Int, nPixels: Int): Option[Array[Int]] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val out = new Array[Int](nPixels)
    var outN = 0
    // dictionary as (prefixCode, lastByte); roots implicit
    val prefix = new Array[Int](4096)
    val last = new Array[Int](4096)
    var next = eoi + 1
    var width = minCode + 1
    var bitPos = 0
    val totalBits = data.length * 8
    def read(): Int = {
      if (bitPos + width > totalBits) return -1
      var v = 0
      var i = 0
      while (i < width) {
        val bit = (data((bitPos + i) >> 3) >> ((bitPos + i) & 7)) & 1
        v |= bit << i
        i += 1
      }
      bitPos += width
      v
    }
    def expand(code0: Int, buf: Array[Int]): Int = { // returns length; buf filled reversed
      var code = code0
      var n = 0
      while (code >= clear + 2) {
        buf(n) = last(code); n += 1
        code = prefix(code)
      }
      buf(n) = code; n + 1
    }
    val buf = new Array[Int](4096)
    var prev = -1
    var code = read()
    while (code >= 0 && outN < nPixels) {
      if (code == clear) {
        next = eoi + 1
        width = minCode + 1
        prev = -1
      } else if (code == eoi) {
        return if (outN == nPixels) Some(out) else None
      } else {
        var firstChar = 0
        if (prev < 0) {
          if (code >= clear) return None // first code must be a root
          out(outN) = code; outN += 1
          firstChar = code
        } else {
          val known = code < next
          val lookup = if (known) code else prev
          val n = expand(lookup, buf)
          firstChar = buf(n - 1)
          var i = n - 1
          while (i >= 0 && outN < nPixels) { out(outN) = buf(i); outN += 1; i -= 1 }
          if (!known) {
            if (code != next) return None // KwKwK case only
            if (outN < nPixels) { out(outN) = firstChar; outN += 1 }
          }
          if (next < 4096) {
            prefix(next) = prev
            last(next) = firstChar
            next += 1
            if (next == (1 << width) && width < 12) width += 1
          }
        }
        prev = code
      }
      if (outN < nPixels) code = read() else return Some(out)
    }
    if (outN == nPixels) Some(out) else None
  }
}
