package graft.kernels

import graft.kernels.MediaKernel.BmpImage
import scala.util.control.NonFatal

/** Pure-JVM baseline JPEG (ITU-T T.81 / ISO 10918-1) decoder for the
  * multimodal tier — closes the biggest gap the former stub left: JPEG
  * is THE image format of the web, and decoding it needs no codec
  * library, just the published algorithm.
  *
  * Supported (the baseline profile that covers the overwhelming share
  * of crawled images): SOF0 baseline sequential DCT, 8-bit precision,
  * 1 (grayscale) or 3 (YCbCr) components, sampling factors 1 or 2 per
  * axis (4:4:4, 4:2:2, 4:2:0), general DQT/DHT tables (multi-table
  * segments), a single interleaved scan, restart markers (DRI/RSTn),
  * 0xFF00 byte stuffing, APPn/COM skipping. Unsupported shapes
  * (progressive SOF2, 12-bit, arithmetic coding, >2 sampling) return
  * None — honest failure, never garbage pixels.
  *
  * Chroma upsampling is nearest/replication; YCbCr→RGB uses the
  * libjpeg-style fixed-point constants (x65536: 1.40200→91881,
  * 0.34414→22554, 0.71414→46802, 1.77200→116130) with an arithmetic
  * >>16 — integer-exact, so oracles can mirror it in SQL.
  */
object JpegKernel {

  /** Row-major zigzag order: zigzag(k) = natural index of the k-th
    * coefficient in scan order (T.81 figure A.6).
    */
  private[kernels] val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** Canonical Huffman table built from a DHT segment's 16 length counts
    * + value list. Decode walks code length 1..16 comparing against the
    * running max code per length — the standard T.81 decode procedure.
    */
  private final class Huff(bits: Array[Int], vals: Array[Byte]) {
    // minCode(l), maxCode(l) (exclusive top), valPtr(l) for lengths 1..16
    private val minCode = new Array[Int](17)
    private val maxCode = new Array[Int](17)
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += bits(l - 1)
        k += bits(l - 1)
        maxCode(l) = code // exclusive
        code <<= 1
        l += 1
      }
    }
    def decode(in: BitReader): Int = {
      var code = 0
      var l = 1
      while (l <= 16) {
        code = (code << 1) | in.bit()
        if (code < maxCode(l)) return vals(valPtr(l) + (code - minCode(l))) & 0xff
        l += 1
      }
      throw new IllegalStateException("bad huffman code")
    }
  }

  /** Entropy-coded-segment bit reader with 0xFF00 unstuffing. Stops at
    * any non-stuffing marker (RSTn are consumed explicitly via
    * [[restart]]).
    */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var cur = 0
    private var nbits = 0
    def bit(): Int = {
      if (nbits == 0) {
        if (pos >= b.length) throw new IllegalStateException("eof in entropy data")
        var v = b(pos) & 0xff
        pos += 1
        if (v == 0xff) {
          if (pos >= b.length) throw new IllegalStateException("eof after ff")
          val m = b(pos) & 0xff
          if (m == 0x00) pos += 1 // stuffed data byte 0xFF
          else throw new IllegalStateException(f"marker ff$m%02x inside entropy data")
          v = 0xff
        }
        cur = v
        nbits = 8
      }
      nbits -= 1
      (cur >> nbits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    /** Byte-align, skip remaining entropy bytes (1-padding, stuffed
      * FF00 pairs) and consume the expected RSTn marker.
      */
    def restart(): Unit = {
      nbits = 0
      while (pos + 1 < b.length &&
        !((b(pos) & 0xff) == 0xff && (b(pos + 1) & 0xff) != 0x00)) pos += 1
      if (pos + 1 >= b.length)
        throw new IllegalStateException("expected restart marker")
      val m = b(pos + 1) & 0xff
      if (m < 0xd0 || m > 0xd7)
        throw new IllegalStateException(f"expected RSTn, got ff$m%02x")
      pos += 2
    }
  }

  /** EXTEND (T.81 F.2.2.1): map `v` in `n` bits to its signed value. */
  private def extend(v: Int, n: Int): Int =
    if (n == 0) 0 else if (v < (1 << (n - 1))) v - (1 << n) + 1 else v

  private val CosTable: Array[Double] = {
    val t = new Array[Double](64)
    var u = 0
    while (u < 8) {
      var x = 0
      while (x < 8) {
        t(u * 8 + x) = math.cos((2 * x + 1) * u * math.Pi / 16.0)
        x += 1
      }
      u += 1
    }
    t
  }
  private val C0 = 1.0 / math.sqrt(2.0)

  /** Separable 2-D IDCT of one dequantized block (natural order) into
    * clamped 0-255 samples (level shift +128 applied).
    */
  private def idct(coef: Array[Int], out: Array[Int]): Unit = {
    val tmp = new Array[Double](64)
    // rows: 1-D IDCT over u for each v-row of coefficients
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          val cu = if (u == 0) C0 else 1.0
          s += cu * coef(v * 8 + u) * CosTable(u * 8 + x)
          u += 1
        }
        tmp(v * 8 + x) = s
        x += 1
      }
      v += 1
    }
    // columns
    var x = 0
    while (x < 8) {
      var y = 0
      while (y < 8) {
        var s = 0.0
        var vv = 0
        while (vv < 8) {
          val cv = if (vv == 0) C0 else 1.0
          s += cv * tmp(vv * 8 + x) * CosTable(vv * 8 + y)
          vv += 1
        }
        val p = math.round(s / 4.0 + 128.0).toInt
        out(y * 8 + x) = if (p < 0) 0 else if (p > 255) 255 else p
        y += 1
      }
      x += 1
    }
  }

  /** libjpeg-style fixed-point YCbCr→RGB; arithmetic >>16 (floor). */
  private[graft] def ycbcrToRgb(y: Int, cb: Int, cr: Int): (Int, Int, Int) = {
    def clamp(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
    val r = clamp(y + ((91881 * (cr - 128)) >> 16))
    val g = clamp(y - ((22554 * (cb - 128) + 46802 * (cr - 128)) >> 16))
    val b = clamp(y + ((116130 * (cb - 128)) >> 16))
    (r, g, b)
  }

  private final case class Comp(id: Int, h: Int, v: Int, tq: Int) {
    var td = 0 // DC table id (from SOS)
    var ta = 0 // AC table id
    var pred = 0
    var plane: Array[Int] = null
    var blocksPerRow = 0
  }

  def decode(bytes: Array[Byte]): Option[BmpImage] =
    try decode0(bytes) catch { case _: StackOverflowError | NonFatal(_) => None }

  private def decode0(b: Array[Byte]): Option[BmpImage] = {
    if (b == null || b.length < 4) return None
    if ((b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None // SOI
    var pos = 2
    val qt = Array.ofDim[Int](4, 64) // natural order after de-zigzag
    val dcTables = new Array[Huff](4)
    val acTables = new Array[Huff](4)
    var comps: Array[Comp] = null
    var width = 0
    var height = 0
    var restartInterval = 0

    def u16(o: Int): Int = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

    while (pos + 4 <= b.length) {
      if ((b(pos) & 0xff) != 0xff) return None
      val marker = b(pos + 1) & 0xff
      pos += 2
      marker match {
        case 0xd9 => return None // EOI before SOS produced pixels
        case m if m >= 0xd0 && m <= 0xd7 => // stray RST: skip
        case 0xc0 => // SOF0 baseline
          val len = u16(pos)
          if ((b(pos + 2) & 0xff) != 8) return None // precision
          height = u16(pos + 3)
          width = u16(pos + 5)
          val n = b(pos + 7) & 0xff
          if (width <= 0 || height <= 0 || (n != 1 && n != 3)) return None
          if (width.toLong * height > 64L * 1024 * 1024) return None
          comps = (0 until n).map { i =>
            val o = pos + 8 + 3 * i
            val hv = b(o + 1) & 0xff
            Comp(b(o) & 0xff, hv >> 4, hv & 15, b(o + 2) & 0xff)
          }.toArray
          if (comps.exists(c => c.h < 1 || c.h > 2 || c.v < 1 || c.v > 2 || c.tq > 3))
            return None
          pos += len
        case 0xc4 => // DHT (possibly several tables)
          val len = u16(pos)
          var o = pos + 2
          while (o < pos + len) {
            val tcTh = b(o) & 0xff
            val bits = (0 until 16).map(i => b(o + 1 + i) & 0xff).toArray
            val nVals = bits.sum
            if (nVals > 256 || o + 17 + nVals > pos + len) return None
            val vals = java.util.Arrays.copyOfRange(b, o + 17, o + 17 + nVals)
            val t = new Huff(bits, vals)
            if ((tcTh >> 4) == 0) dcTables(tcTh & 3) = t else acTables(tcTh & 3) = t
            o += 17 + nVals
          }
          pos += len
        case 0xdb => // DQT (possibly several tables)
          val len = u16(pos)
          var o = pos + 2
          while (o < pos + len) {
            val pqTq = b(o) & 0xff
            if ((pqTq >> 4) != 0) return None // 16-bit tables unsupported
            var k = 0
            while (k < 64) { qt(pqTq & 3)(Zigzag(k)) = b(o + 1 + k) & 0xff; k += 1 }
            o += 65
          }
          pos += len
        case 0xdd => // DRI
          restartInterval = u16(pos + 2)
          pos += u16(pos)
        case 0xda => // SOS — single interleaved scan, then decode entropy
          val len = u16(pos)
          val ns = b(pos + 2) & 0xff
          if (comps == null || ns != comps.length) return None
          var i = 0
          while (i < ns) {
            val cid = b(pos + 3 + 2 * i) & 0xff
            val tdTa = b(pos + 4 + 2 * i) & 0xff
            val c = comps.find(_.id == cid).getOrElse(return None)
            c.td = tdTa >> 4
            c.ta = tdTa & 15
            i += 1
          }
          pos += len
          return decodeScan(b, pos, comps, width, height, qt, dcTables,
            acTables, restartInterval)
        case 0xc1 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca |
            0xcb | 0xcd | 0xce | 0xcf =>
          return None // non-baseline SOF: honest unsupported
        case _ => // APPn, COM, others: skip by length
          pos += u16(pos)
      }
    }
    None
  }

  private def decodeScan(b: Array[Byte], start: Int, comps: Array[Comp],
      width: Int, height: Int, qt: Array[Array[Int]],
      dcTables: Array[Huff], acTables: Array[Huff],
      restartInterval: Int): Option[BmpImage] = {
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
    comps.foreach { c =>
      c.blocksPerRow = mcusX * c.h
      c.plane = new Array[Int](mcusX * c.h * 8 * mcusY * c.v * 8)
      c.pred = 0
    }
    val in = new BitReader(b, start)
    val coef = new Array[Int](64)
    val px8 = new Array[Int](64)
    var mcu = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          in.restart()
          comps.foreach(_.pred = 0)
        }
        comps.foreach { c =>
          val dcT = dcTables(c.td)
          val acT = acTables(c.ta)
          val q = qt(c.tq)
          if (dcT == null || acT == null) return None
          var v = 0
          while (v < c.v) {
            var h = 0
            while (h < c.h) {
              java.util.Arrays.fill(coef, 0)
              // DC
              val t = dcT.decode(in)
              val diff = extend(in.receive(t), t)
              c.pred += diff
              coef(0) = c.pred * q(0)
              // AC run-length
              var k = 1
              var eob = false
              while (k < 64 && !eob) {
                val rs = acT.decode(in)
                val r = rs >> 4
                val s = rs & 15
                if (s == 0) {
                  if (r == 15) k += 16 // ZRL
                  else eob = true
                } else {
                  k += r
                  if (k > 63) return None
                  val z = Zigzag(k)
                  coef(z) = extend(in.receive(s), s) * q(z)
                  k += 1
                }
              }
              idct(coef, px8)
              // place into plane at block (mx*c.h + h, my*c.v + v)
              val rowPx = c.blocksPerRow * 8
              val ox = (mx * c.h + h) * 8
              val oy = (my * c.v + v) * 8
              var yy = 0
              while (yy < 8) {
                var xx = 0
                while (xx < 8) {
                  c.plane((oy + yy) * rowPx + ox + xx) = px8(yy * 8 + xx)
                  xx += 1
                }
                yy += 1
              }
              h += 1
            }
            v += 1
          }
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }
    // assemble RGB with nearest-replication chroma upsampling
    val px = new Array[Int](width * height * 3)
    val gray = comps.length == 1
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val d = (y * width + x) * 3
        if (gray) {
          val c = comps(0)
          val s = c.plane((y * c.v / vMax) * c.blocksPerRow * 8 + (x * c.h / hMax))
          px(d) = s; px(d + 1) = s; px(d + 2) = s
        } else {
          def sample(c: Comp): Int =
            c.plane((y * c.v / vMax) * c.blocksPerRow * 8 + (x * c.h / hMax))
          val (r, g, bb) = ycbcrToRgb(sample(comps(0)), sample(comps(1)), sample(comps(2)))
          px(d) = r; px(d + 1) = g; px(d + 2) = bb
        }
        x += 1
      }
      y += 1
    }
    Some(BmpImage(width, height, px))
  }
}
