package graft.kernels

import scala.util.control.NonFatal

/** REAL pure-JVM media decoders for the multimodal pipeline — no codec
  * libraries exist in this container, but uncompressed containers need
  * none: BMP (BITMAPINFOHEADER, 24bpp, bottom-up, 4-byte row padding,
  * BGR order), PNG (8-bit RGB/RGBA non-interlaced, zlib + the five row
  * filters) and WAV (RIFF/WAVE, PCM 16-bit LE). These replace the
  * former deterministic stub for the formats a JVM can parse from bare
  * bytes; baseline JPEG lives in [[JpegKernel]]; formats that genuinely
  * need a codec library (MP4/video) still go through the stub seam and
  * say so.
  *
  * Decode failures return None — the caller surfaces an error column,
  * never a task failure (same poison-pill stance as ExtractKernel).
  */
object MediaKernel {

  final case class BmpImage(width: Int, height: Int,
      /** row-major top-down, 3 ints (r, g, b) per pixel */ px: Array[Int])
  final case class WavAudio(sampleRate: Int, samples: Array[Short])

  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  private def i32(b: Array[Byte], o: Int): Int = u32(b, o).toInt

  /** Parse an uncompressed 24bpp BMP. Supports the common
    * BITMAPINFOHEADER shape; top-down (negative height) too.
    */
  def decodeBmp(bytes: Array[Byte]): Option[BmpImage] =
    try decodeBmp0(bytes) catch { case _: StackOverflowError | NonFatal(_) => None }

  private def decodeBmp0(bytes: Array[Byte]): Option[BmpImage] = {
    if (bytes == null || bytes.length < 54) return None
    if (bytes(0) != 'B' || bytes(1) != 'M') return None
    // u32 fields stay Long: a 2^31-range offset must fail the bounds
    // check, not wrap negative and index backwards
    val dataOffsetL = u32(bytes, 10)
    val headerSize = i32(bytes, 14)
    if (headerSize < 40) return None
    val width = i32(bytes, 18)
    val rawHeight = i32(bytes, 22)
    val bottomUp = rawHeight > 0
    val height = math.abs(rawHeight)
    val planes = u16(bytes, 26)
    val bpp = u16(bytes, 28)
    val compression = u32(bytes, 30)
    if (width <= 0 || height == 0 || planes != 1 || bpp != 24 || compression != 0L)
      return None
    if (width.toLong * height > 64L * 1024 * 1024) return None // sanity cap
    val stride = (width * 3 + 3) & ~3
    if (dataOffsetL < 0 || dataOffsetL + stride.toLong * height > bytes.length) return None
    val dataOffset = dataOffsetL.toInt
    val px = new Array[Int](width * height * 3)
    var y = 0
    while (y < height) {
      val srcRow = if (bottomUp) height - 1 - y else y
      val ro = dataOffset + srcRow * stride
      var x = 0
      while (x < width) {
        val o = ro + x * 3
        val p = (y * width + x) * 3
        px(p) = bytes(o + 2) & 0xff     // R (stored BGR)
        px(p + 1) = bytes(o + 1) & 0xff // G
        px(p + 2) = bytes(o) & 0xff     // B
        x += 1
      }
      y += 1
    }
    Some(BmpImage(width, height, px))
  }

  /** Nearest-neighbor resize to (ow, oh): output pixel (i, j) samples the
    * source at (i*w/ow, j*h/oh) — pure integer math, so oracles can
    * reproduce it in closed form.
    */
  def resizeNearest(img: BmpImage, ow: Int, oh: Int): BmpImage = {
    val out = new Array[Int](ow * oh * 3)
    var j = 0
    while (j < oh) {
      val sy = j * img.height / oh
      var i = 0
      while (i < ow) {
        val sx = i * img.width / ow
        val s = (sy * img.width + sx) * 3
        val d = (j * ow + i) * 3
        out(d) = img.px(s); out(d + 1) = img.px(s + 1); out(d + 2) = img.px(s + 2)
        i += 1
      }
      j += 1
    }
    BmpImage(ow, oh, out)
  }

  /** Parse a non-interlaced 8-bit RGB (color type 2) or RGBA (6) PNG —
    * the shape virtually every screenshot/figure pipeline emits. Pure
    * JVM: chunk walk (IHDR → IDAT* → IEND, ancillary chunks skipped),
    * zlib inflate of the concatenated IDAT payload, then per-row PNG
    * filter reconstruction (None/Sub/Up/Average/Paeth — the same five
    * filters the PDF /Predictor path implements). CRCs are not verified
    * (a crawl decoder favors recovery); structural errors return None.
    */
  def decodePng(bytes: Array[Byte]): Option[BmpImage] =
    try decodePng0(bytes) catch { case _: StackOverflowError | NonFatal(_) => None }

  private def decodePng0(bytes: Array[Byte]): Option[BmpImage] = {
    if (bytes == null || bytes.length < 45) return None
    val sig = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    var k = 0
    while (k < 8) { if ((bytes(k) & 0xff) != sig(k)) return None; k += 1 }
    def be32(o: Int): Long =
      ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
        ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
    var pos = 8
    var width = -1; var height = -1; var colorType = -1; var bitDepth = -1
    val idat = new java.io.ByteArrayOutputStream(bytes.length)
    var ended = false
    while (pos + 8 <= bytes.length && !ended) {
      val lenL = be32(pos) // Long: a 2^31-range length must fail, not wrap
      if (lenL < 0 || pos + 12L + lenL > bytes.length) return None
      val len = lenL.toInt
      val ctype = new String(bytes, pos + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      ctype match {
        case "IHDR" =>
          if (len < 13) return None
          width = be32(pos + 8).toInt
          height = be32(pos + 12).toInt
          bitDepth = bytes(pos + 16) & 0xff
          colorType = bytes(pos + 17) & 0xff
          val interlace = bytes(pos + 20) & 0xff
          if (bitDepth != 8 || (colorType != 2 && colorType != 6) || interlace != 0)
            return None
        case "IDAT" => idat.write(bytes, pos + 8, len)
        case "IEND" => ended = true
        case _ => () // ancillary: tEXt, pHYs, gAMA, ...
      }
      pos += 12 + len // len + type + data + crc
    }
    if (width <= 0 || height <= 0 || idat.size() == 0) return None
    if (width.toLong * height > 64L * 1024 * 1024) return None
    val channels = if (colorType == 2) 3 else 4
    val raw = Inflate(idat.toByteArray).filter(_.finished).getOrElse(return None).bytes
    val rowLen = width * channels
    if (raw.length.toLong < (rowLen + 1).toLong * height) return None
    // shared PNG row-filter reconstruction (same math as PDF /Predictor)
    val flat = PngFilters.unfilter(
      java.util.Arrays.copyOfRange(raw, 0, (rowLen + 1) * height),
      rowLen, channels).getOrElse(return None)
    val px = new Array[Int](width * height * 3)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val s = y * rowLen + x * channels
        val d = (y * width + x) * 3
        px(d) = flat(s) & 0xff
        px(d + 1) = flat(s + 1) & 0xff
        px(d + 2) = flat(s + 2) & 0xff // alpha (if any) dropped
        x += 1
      }
      y += 1
    }
    Some(BmpImage(width, height, px))
  }

  /** Parse a PCM 16-bit LE mono/stereo WAV (RIFF chunk walk — fmt may be
    * followed by LIST/fact chunks before data, as real encoders emit).
    */
  def decodeWav(bytes: Array[Byte]): Option[WavAudio] =
    try decodeWav0(bytes) catch { case _: StackOverflowError | NonFatal(_) => None }

  private def decodeWav0(bytes: Array[Byte]): Option[WavAudio] = {
    if (bytes == null || bytes.length < 44) return None
    if (bytes(0) != 'R' || bytes(1) != 'I' || bytes(2) != 'F' || bytes(3) != 'F') return None
    if (bytes(8) != 'W' || bytes(9) != 'A' || bytes(10) != 'V' || bytes(11) != 'E') return None
    var pos = 12
    var sampleRate = -1
    var bits = -1
    var fmt = -1
    var channels = -1
    var data: Option[(Int, Int)] = None
    while (pos + 8 <= bytes.length && data.isEmpty) {
      val id = new String(bytes, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val sizeL = u32(bytes, pos + 4) // Long: no wrap past the bounds check
      if (sizeL < 0 || pos + 8L + sizeL > bytes.length) return None
      val size = sizeL.toInt
      id match {
        case "fmt " =>
          if (size < 16) return None
          fmt = u16(bytes, pos + 8)
          channels = u16(bytes, pos + 10)
          sampleRate = u32(bytes, pos + 12).toInt
          bits = u16(bytes, pos + 22)
        case "data" => data = Some((pos + 8, size))
        case _ => () // skip LIST/fact/cue...
      }
      pos += 8 + size + (size & 1) // chunks are word-aligned
    }
    val (off, size) = data.getOrElse(return None)
    if (fmt != 1 || bits != 16 || channels < 1 || sampleRate <= 0) return None
    val n = size / 2
    val samples = new Array[Short](n)
    var i = 0
    while (i < n) {
      samples(i) = ((bytes(off + 2 * i) & 0xff) | (bytes(off + 2 * i + 1) << 8)).toShort
      i += 1
    }
    Some(WavAudio(sampleRate, samples))
  }
}
