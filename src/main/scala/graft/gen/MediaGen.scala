package graft.gen

/** Deterministic media binaries for the multimodal oracle queries: every
  * pixel/sample is a closed-form function of (doc_id, position), so the
  * DuckDB oracle can compute the expected decode output WITHOUT parsing
  * bytes — the Spark side must parse the real container to agree.
  */
object MediaGen {

  def bmpWidth(d: Long): Int = (8 + d % 9).toInt
  def bmpHeight(d: Long): Int = (5 + d % 7).toInt
  def red(d: Long, x: Int, y: Int): Int = ((x * 7 + y * 13 + d) % 256).toInt
  def green(d: Long, x: Int, y: Int): Int = ((x * 3 + y * 5 + 2 * d) % 256).toInt
  def blue(d: Long, x: Int, y: Int): Int = ((x * 11 + y * 2 + 3 * d) % 256).toInt

  /** 24bpp bottom-up BMP with standard 4-byte row padding. */
  def bmpBytes(d: Long): Array[Byte] = {
    val w = bmpWidth(d)
    val h = bmpHeight(d)
    val stride = (w * 3 + 3) & ~3
    val dataSize = stride * h
    val out = new Array[Byte](54 + dataSize)
    def put16(o: Int, v: Int): Unit = { out(o) = v.toByte; out(o + 1) = (v >> 8).toByte }
    def put32(o: Int, v: Int): Unit = {
      out(o) = v.toByte; out(o + 1) = (v >> 8).toByte
      out(o + 2) = (v >> 16).toByte; out(o + 3) = (v >> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    put32(2, 54 + dataSize); put32(10, 54)
    put32(14, 40); put32(18, w); put32(22, h) // positive height = bottom-up
    put16(26, 1); put16(28, 24); put32(30, 0); put32(34, dataSize)
    var y = 0
    while (y < h) {
      val ro = 54 + (h - 1 - y) * stride // bottom-up: top row last
      var x = 0
      while (x < w) {
        out(ro + x * 3) = blue(d, x, y).toByte // BGR order
        out(ro + x * 3 + 1) = green(d, x, y).toByte
        out(ro + x * 3 + 2) = red(d, x, y).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** Real PNG (8-bit, RGB on even doc_ids / RGBA on odd, non-interlaced):
    * correct CRCs, a tEXt ancillary chunk the parser must skip, zlib
    * IDAT split into two chunks, and row filter tags cycling 0-4 so
    * every PNG filter is exercised. Pixel values share [[red]]/[[green]]/
    * [[blue]] with the BMP generator; alpha = (x + y + d) % 256.
    */
  def pngBytes(d: Long): Array[Byte] = {
    val w = bmpWidth(d)
    val h = bmpHeight(d)
    val rgba = d % 2 == 1
    val channels = if (rgba) 4 else 3
    val rowLen = w * channels
    val raw = new Array[Byte](rowLen * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = y * rowLen + x * channels
        raw(o) = red(d, x, y).toByte; raw(o + 1) = green(d, x, y).toByte
        raw(o + 2) = blue(d, x, y).toByte
        if (rgba) raw(o + 3) = ((x + y + d) % 256).toByte
        x += 1
      }
      y += 1
    }
    val z = PagesGen.deflate(PagesGen.pngFilter(raw, rowLen, bpp = channels))
    // assemble chunks with CRCs
    val out = new java.io.ByteArrayOutputStream(z.length + 128)
    out.write(Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), 0, 8)
    def writeChunk(ctype: String, payload: Array[Byte]): Unit = {
      def be32(v: Long): Array[Byte] = Array(
        ((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
        ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
      out.write(be32(payload.length.toLong), 0, 4)
      val tb = ctype.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out.write(tb, 0, 4)
      out.write(payload, 0, payload.length)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(payload)
      out.write(be32(crc.getValue), 0, 4)
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = (w >>> 24).toByte; ihdr(1) = (w >>> 16).toByte
    ihdr(2) = (w >>> 8).toByte; ihdr(3) = w.toByte
    ihdr(4) = (h >>> 24).toByte; ihdr(5) = (h >>> 16).toByte
    ihdr(6) = (h >>> 8).toByte; ihdr(7) = h.toByte
    ihdr(8) = 8 // bit depth
    ihdr(9) = (if (rgba) 6 else 2).toByte // color type
    writeChunk("IHDR", ihdr)
    writeChunk("tEXt", "Comment\u0000synthetic".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val split = z.length / 2
    writeChunk("IDAT", java.util.Arrays.copyOfRange(z, 0, split))
    writeChunk("IDAT", java.util.Arrays.copyOfRange(z, split, z.length))
    writeChunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  // ------------------------------------------------------------------ JPEG

  /** Closed-form JPEG fixture parameters. Even doc_ids are 4:4:4, odd are
    * 4:2:0. Every 8x8 luma block is a CONSTANT Y and every chroma block a
    * constant (Cb, Cr): with a uniform quant table of 8s the DC
    * coefficient quantizes exactly (F00 = 8*(s-128), step 8), so the
    * decoded pixels are closed-form in (doc_id, block) — the DuckDB
    * oracle never parses bytes, yet only a correct marker walk + Huffman
    * decode + dequant + IDCT + upsample + fixed-point color convert
    * reproduces the sums. Chroma values are generated >= 128 so the
    * oracle's >>16 mirrors as integer division without negative-floor
    * ambiguity.
    */
  def jpegIs420(d: Long): Boolean = d % 2 == 1
  /** luma grid (blocks): 4:4:4 wb in 2..4, hb in 1..2; 4:2:0 2*wm x 2*hm. */
  def jpegWb(d: Long): Int =
    if (jpegIs420(d)) 2 * (1 + ((d / 2) % 2)).toInt else (2 + ((d / 2) % 3)).toInt
  def jpegHb(d: Long): Int =
    if (jpegIs420(d)) 2 * (1 + ((d / 4) % 2)).toInt else (1 + ((d / 2) % 2)).toInt
  def jpegWidth(d: Long): Int = 8 * jpegWb(d)
  def jpegHeight(d: Long): Int = 8 * jpegHb(d)
  def jpegY(d: Long, bx: Int, by: Int): Int = ((bx * 37 + by * 19 + d * 5) % 256).toInt
  def jpegCb(d: Long, cx: Int, cy: Int): Int = 128 + ((cx * 11 + cy * 7 + d * 3) % 128).toInt
  def jpegCr(d: Long, cx: Int, cy: Int): Int = 128 + ((cx * 5 + cy * 23 + d * 7) % 128).toInt

  /** Entropy bit writer with 0xFF00 stuffing and 1-padding on flush. */
  private[graft] final class JpegBits(out: java.io.ByteArrayOutputStream) {
    private var buf = 0
    private var n = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        buf = (buf << 1) | ((code >> i) & 1)
        n += 1
        if (n == 8) {
          out.write(buf & 0xff)
          if ((buf & 0xff) == 0xff) out.write(0x00) // stuffing
          buf = 0; n = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = if (n > 0) { put(0xff, 8 - n) } // pads with 1s
  }

  /** Annex-K-style DC table: categories 0..11 at varying code lengths. */
  private[graft] val JpegDcBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private[graft] val JpegDcVals: Array[Int] = (0 to 11).toArray
  /** AC table: all 162 baseline symbols at a uniform 16-bit code length
    * (canonical code = symbol index) — spec-legal, trivially invertible
    * for the encoder, and a long-code stress for the decoder's table walk.
    */
  private[graft] val JpegAcVals: Array[Int] =
    Array(0x00, 0xF0) ++ (for (r <- 0 to 15; s <- 1 to 10) yield (r << 4) | s)
  private[graft] val JpegAcBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, JpegAcVals.length)

  /** Canonical (code, length) for a DC category under [[JpegDcBits]]. */
  private[graft] def dcCode(cat: Int): (Int, Int) = {
    var code = 0
    var idx = 0
    var l = 1
    while (l <= 16) {
      var j = 0
      while (j < JpegDcBits(l - 1)) {
        if (idx == cat) return (code, l) // vals are 0..11 in order
        code += 1; idx += 1; j += 1
      }
      code <<= 1
      l += 1
    }
    throw new IllegalStateException(s"dc cat $cat")
  }

  /** Baseline JFIF bytes for doc `d`: SOI, APP0, two DQTs (uniform 8s),
    * SOF0 (3 components, 4:4:4 or 4:2:0), one DHT segment carrying all
    * four tables, DRI=2 with RSTn every 2 MCUs, single interleaved scan
    * of DC-only blocks, EOI.
    */
  def jpegBytes(d: Long): Array[Byte] = {
    val is420 = jpegIs420(d)
    val w = jpegWidth(d)
    val h = jpegHeight(d)
    val out = new java.io.ByteArrayOutputStream(512)
    def m(marker: Int): Unit = { out.write(0xff); out.write(marker) }
    def u16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    m(0xd8) // SOI
    m(0xe0); u16(16) // APP0 JFIF
    out.write("JFIF".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write(0); out.write(1); out.write(1) // version 1.1
    out.write(0); u16(1); u16(1); out.write(0); out.write(0)
    m(0xdb); u16(2 + 2 * 65) // DQT: tables 0 and 1, all 8s
    for (tq <- 0 to 1) { out.write(tq); (0 until 64).foreach(_ => out.write(8)) }
    m(0xc0); u16(8 + 3 * 3) // SOF0
    out.write(8); u16(h); u16(w); out.write(3)
    val lumaHv = if (is420) 0x22 else 0x11
    out.write(1); out.write(lumaHv); out.write(0) // Y: tq0
    out.write(2); out.write(0x11); out.write(1)   // Cb: tq1
    out.write(3); out.write(0x11); out.write(1)   // Cr: tq1
    // DHT: DC0, AC0, DC1, AC1 in one segment
    val dhtLen = 2 + 2 * (17 + JpegDcVals.length) + 2 * (17 + JpegAcVals.length)
    m(0xc4); u16(dhtLen)
    for (th <- 0 to 1) {
      out.write(th) // DC
      JpegDcBits.foreach(out.write)
      JpegDcVals.foreach(out.write)
      out.write(0x10 | th) // AC
      JpegAcBits.foreach(out.write)
      JpegAcVals.foreach(out.write)
    }
    val restartInterval = 2
    m(0xdd); u16(4); u16(restartInterval) // DRI
    m(0xda); u16(6 + 2 * 3) // SOS
    out.write(3)
    out.write(1); out.write(0x00) // Y: td0/ta0
    out.write(2); out.write(0x11) // Cb: td1/ta1
    out.write(3); out.write(0x11) // Cr: td1/ta1
    out.write(0); out.write(63); out.write(0) // Ss/Se/AhAl
    // entropy-coded data
    val bits = new JpegBits(out)
    val preds = new Array[Int](3)
    def block(comp: Int, const: Int): Unit = {
      val dc = const - 128 // quantized DC == level-shifted constant (q=8)
      val diff = dc - preds(comp)
      preds(comp) = dc
      val cat = 32 - Integer.numberOfLeadingZeros(math.abs(diff)) // bit length
      val (c, l) = dcCode(cat)
      bits.put(c, l)
      if (cat > 0) bits.put(if (diff >= 0) diff else diff + (1 << cat) - 1, cat)
      bits.put(0, 16) // EOB: AC symbol 0x00 = canonical index 0, 16 bits
    }
    val mcusX = if (is420) jpegWb(d) / 2 else jpegWb(d)
    val mcusY = if (is420) jpegHb(d) / 2 else jpegHb(d)
    var mcu = 0
    var rstN = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (mcu > 0 && mcu % restartInterval == 0) {
          bits.flush()
          m(0xd0 + rstN)
          rstN = (rstN + 1) % 8
          preds(0) = 0; preds(1) = 0; preds(2) = 0
        }
        if (is420) {
          var v = 0
          while (v < 2) {
            var hh = 0
            while (hh < 2) { block(0, jpegY(d, 2 * mx + hh, 2 * my + v)); hh += 1 }
            v += 1
          }
        } else block(0, jpegY(d, mx, my))
        block(1, jpegCb(d, mx, my))
        block(2, jpegCr(d, mx, my))
        mcu += 1
        mx += 1
      }
      my += 1
    }
    bits.flush()
    m(0xd9) // EOI
    out.toByteArray
  }

  // ------------------------------------------------------------------- GIF

  /** Closed-form GIF fixture parameters: palette of 4/8/16 entries, pixel
    * = palette index (x*3 + y*7 + d) % size, interlaced on odd doc_ids.
    * Dimensions are deliberately NOT multiples of 8 — GIF has no block
    * grid, and odd sizes stress the interlace pass arithmetic.
    */
  def gifWidth(d: Long): Int = (5 + d % 11).toInt
  def gifHeight(d: Long): Int = (4 + d % 9).toInt
  def gifPaletteBits(d: Long): Int = (2 + d % 3).toInt // 4/8/16 colors
  def gifIndex(d: Long, x: Int, y: Int): Int =
    ((x * 3 + y * 7 + d) % (1 << gifPaletteBits(d))).toInt
  def gifPalR(d: Long, i: Int): Int = ((i * 53 + d) % 256).toInt
  def gifPalG(d: Long, i: Int): Int = ((i * 29 + 2 * d) % 256).toInt
  def gifPalB(d: Long, i: Int): Int = ((i * 97 + 3 * d) % 256).toInt

  /** GIF89a bytes: global color table, a graphic control extension + a
    * comment extension (sub-block chains the parser must skip), one
    * image (interlaced on odd ids), REAL LZW compression (LSB-first,
    * width growth synchronized one entry behind the decoder), sub-block
    * chunking, trailer.
    */
  def gifBytes(d: Long): Array[Byte] = {
    val w = gifWidth(d)
    val h = gifHeight(d)
    val bits = gifPaletteBits(d)
    val nColors = 1 << bits
    val interlaced = d % 2 == 1
    val out = new java.io.ByteArrayOutputStream(512)
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    u16(w); u16(h)
    out.write(0x80 | (bits - 1)) // GCT present, size 2^bits
    out.write(0); out.write(0)   // background, aspect
    (0 until nColors).foreach { i =>
      out.write(gifPalR(d, i)); out.write(gifPalG(d, i)); out.write(gifPalB(d, i))
    }
    // graphic control extension (89a) + comment extension: skip chains
    out.write(0x21); out.write(0xf9); out.write(4)
    out.write(0); u16(0); out.write(0); out.write(0)
    out.write(0x21); out.write(0xfe)
    val comment = "synthetic".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    out.write(comment.length); out.write(comment, 0, comment.length); out.write(0)
    // image descriptor
    out.write(0x2c); u16(0); u16(0); u16(w); u16(h)
    out.write(if (interlaced) 0x40 else 0x00)
    // pixel indices in stream order (interlaced row order when flagged)
    val rows =
      if (interlaced) graft.kernels.GifKernel.interlaceOrder(h)
      else (0 until h).toArray
    val px = new Array[Int](w * h)
    var r = 0
    while (r < h) {
      var x = 0
      while (x < w) { px(r * w + x) = gifIndex(d, x, rows(r)); x += 1 }
      r += 1
    }
    val minCode = math.max(2, bits)
    out.write(minCode)
    val lzw = gifLzwEncode(px, minCode)
    var off = 0
    while (off < lzw.length) { // ≤255-byte sub-blocks
      val n = math.min(255, lzw.length - off)
      out.write(n); out.write(lzw, off, n)
      off += n
    }
    out.write(0) // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** GIF-variant LZW (inverse of GifKernel.lzwDecode): LSB-first bit
    * packing; after adding a dictionary entry the width grows when
    * next == 2^width + 1 — one entry later than the decoder, whose table
    * lags the encoder's by one at each code boundary.
    */
  private[graft] def gifLzwEncode(px: Array[Int], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream(px.length)
    var bitBuf = 0L
    var bitCnt = 0
    var width = minCode + 1
    def emit(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt
      bitCnt += width
      while (bitCnt >= 8) { out.write((bitBuf & 0xff).toInt); bitBuf >>>= 8; bitCnt -= 8 }
    }
    var dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int] // (prefixCode, byte) -> code
    var next = eoi + 1
    emit(clear)
    var cur = -1
    var i = 0
    while (i < px.length) {
      val c = px(i)
      if (cur < 0) cur = c
      else dict.get((cur, c)) match {
        case Some(code) => cur = code
        case None =>
          emit(cur)
          if (next < 4095) {
            dict((cur, c)) = next
            next += 1
            if (width < 12 && next == (1 << width) + 1) width += 1
          } else { // table nearly full: reset like real encoders do
            emit(clear)
            dict = scala.collection.mutable.HashMap.empty
            next = eoi + 1
            width = minCode + 1
          }
          cur = c
      }
      i += 1
    }
    if (cur >= 0) emit(cur)
    emit(eoi)
    if (bitCnt > 0) out.write((bitBuf & 0xff).toInt)
    out.toByteArray
  }

  def wavRate(d: Long): Int = (8000 + 100 * (d % 5)).toInt
  def wavSampleCount(d: Long): Int = (50 + d % 100).toInt
  def wavSample(d: Long, i: Int): Int = ((i * 31 + d * 17) % 2048).toInt - 1024

  /** PCM 16-bit mono WAV with a LIST chunk between fmt and data (real
    * encoders emit metadata chunks there — the parser must chunk-walk).
    */
  def wavBytes(d: Long): Array[Byte] = {
    val n = wavSampleCount(d)
    val rate = wavRate(d)
    val listPayload = "INFOIART".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val dataSize = n * 2
    val riffSize = 4 + (8 + 16) + (8 + listPayload.length) + (8 + dataSize)
    val out = new Array[Byte](8 + riffSize)
    var p = 0
    def putStr(s: String): Unit = { s.foreach { c => out(p) = c.toByte; p += 1 } }
    def put16(v: Int): Unit = { out(p) = v.toByte; out(p + 1) = (v >> 8).toByte; p += 2 }
    def put32(v: Int): Unit = {
      out(p) = v.toByte; out(p + 1) = (v >> 8).toByte
      out(p + 2) = (v >> 16).toByte; out(p + 3) = (v >> 24).toByte; p += 4
    }
    putStr("RIFF"); put32(riffSize); putStr("WAVE")
    putStr("fmt "); put32(16)
    put16(1); put16(1); put32(rate); put32(rate * 2); put16(2); put16(16)
    putStr("LIST"); put32(listPayload.length)
    listPayload.foreach { b => out(p) = b; p += 1 }
    putStr("data"); put32(dataSize)
    var i = 0
    while (i < n) { put16(wavSample(d, i) & 0xffff); i += 1 }
    out
  }
}
