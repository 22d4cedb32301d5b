package graft.kernels

import java.io.InputStream
import java.util.zip.{CRC32, DataFormatException, Inflater}

/** The one inflater: zlib / raw-deflate streams ([[apply]]: PDF
  * FlateDecode, PNG IDAT, HTTP `Content-Encoding: deflate`) and gzip
  * member walks ([[gunzip]]: the gzip arm of
  * `ExtractKernel.decompressTransport`, and `.warc.gz` in
  * `WarcKernel.split`). Both inflate through one drain loop straight
  * into one contiguous [[Buf]], the buffer the zstd transport decodes
  * into too, and every decode is bounded, so a few KiB cannot make a
  * task allocate hundreds of MiB: streams and the transport stop at
  * [[MaxOut]] (64 MiB), a `.warc.gz` at its own bound (1 GiB by
  * default, as one archive holds thousands of pages).
  */
object Inflate {

  final val MaxOut: Int = 1 << 26

  /** The inflated bytes, and whether the stream reached its end (false
    * for a truncated stream or one that needs a preset dictionary).
    */
  final case class Out(bytes: Array[Byte], finished: Boolean)

  /** None for a corrupt stream or one that inflates past [[MaxOut]] bytes. */
  def apply(data: Array[Byte], nowrap: Boolean = false): Option[Out] = {
    val inf = new Inflater(nowrap)
    try {
      inf.setInput(data)
      val out = new Buf(data.length * 4L, MaxOut)
      if (out.drain(inf)) Some(Out(out.result(), inf.finished())) else None
    } catch { case _: DataFormatException => None }
    finally inf.end()
  }

  /** Why a gzip walk stopped before the end of its input. */
  final val BadHeader = "bad_member_header"
  final val Truncated = "member_truncated"
  final val Corrupt = "member_corrupt"
  final val BadTrailer = "member_crc"
  final val TooLarge = "too_large"

  /** A whole member's compressed extents and the start of its bytes in the output. */
  final case class Member(offset: Long, compLen: Long, start: Long)

  /** The whole members' bytes, concatenated, their extents, and the
    * class of the failure that ended the walk early, if one did.
    */
  final case class Gunzipped(bytes: Array[Byte], members: Vector[Member], tail: Option[String])

  /** Decode the gzip members that fill `data` one after another: read
    * each header (FEXTRA, FNAME and FCOMMENT skipped, FHCRC verified),
    * inflate its raw deflate data from one `setInput` over the rest of
    * the array, and check its CRC32 + ISIZE trailer. The walk stops at
    * the first member that fails, or at more than `budget` bytes out.
    */
  def gunzip(data: Array[Byte], budget: Int): Gunzipped = {
    // a lone member's ISIZE sizes the output exactly; deflate expands at
    // most 1032-fold, so a larger claim is not a size
    val isize = if (data.length >= 18) le32(data, data.length - 4) else -1L
    val out = new Buf(if (isize >= 0 && isize <= 1032L * data.length) isize else data.length * 4L, budget)
    val members = Vector.newBuilder[Member]
    def stop(tail: String) = Gunzipped(out.result(), members.result(), Option(tail))
    val inf = new Inflater(true)
    val crc = new CRC32
    try {
      var off = 0
      while (off < data.length) {
        val body = headerEnd(data, off, crc)
        if (body < 0) return stop(BadHeader)
        val start = out.len
        inf.reset()
        inf.setInput(data, body, data.length - body)
        val failed =
          try {
            if (!out.drain(inf)) TooLarge
            else if (!inf.finished() || body + inf.getBytesRead + 8 > data.length) Truncated
            else {
              val end = body + inf.getBytesRead.toInt
              crc.reset()
              crc.update(out.bytes, start, out.len - start)
              val size = (out.len - start) & 0xffffffffL
              if (le32(data, end) == crc.getValue && le32(data, end + 4) == size) null else BadTrailer
            }
          } catch { case _: DataFormatException => Corrupt }
        if (failed != null) { out.len = start; return stop(failed) }
        val end = body + inf.getBytesRead.toInt + 8
        members += Member(off.toLong, (end - off).toLong, start.toLong)
        off = end
      }
      stop(null)
    } finally inf.end()
  }

  /** Where the deflate data of the member whose header starts at `off`
    * begins, or -1 where no RFC 1952 header parses: wrong magic or
    * method, cut short, or an FHCRC that is not the low 16 bits of the
    * header's CRC32 (as the JDK reader checks it).
    */
  private def headerEnd(b: Array[Byte], off: Int, crc: CRC32): Int = {
    if (off + 10 > b.length || (b(off) & 0xff) != 0x1f || (b(off + 1) & 0xff) != 0x8b || b(off + 2) != 8)
      return -1
    val flg = b(off + 3)
    def zeroEnd(p: Int): Int = { var q = p; while (q < b.length && b(q) != 0) q += 1; q + 1 }
    var p = off + 10
    if ((flg & 4) != 0) // FEXTRA: 2-byte little-endian length + payload
      p = if (p + 2 > b.length) b.length + 1 else p + 2 + ((b(p) & 0xff) | (b(p + 1) & 0xff) << 8)
    if ((flg & 8) != 0) p = zeroEnd(p) // FNAME
    if ((flg & 16) != 0) p = zeroEnd(p) // FCOMMENT
    if ((flg & 2) != 0) { // FHCRC
      if (p + 2 > b.length) return -1
      crc.reset()
      crc.update(b, off, p - off)
      if (((b(p) & 0xff) | (b(p + 1) & 0xff) << 8) != (crc.getValue & 0xffff)) return -1
      p += 2
    }
    if (p > b.length) -1 else p
  }

  private def le32(b: Array[Byte], at: Int): Long =
    (b(at) & 0xffL) | (b(at + 1) & 0xffL) << 8 | (b(at + 2) & 0xffL) << 16 | (b(at + 3) & 0xffL) << 24

  /** Output a decoder writes into directly, pre-sized from `sizeHint`;
    * it doubles up to `limit` + 1 bytes. The inflater and the zstd
    * transport each fill it through their own loop, so neither call site
    * sees the other's reader.
    */
  private[kernels] final class Buf(sizeHint: Long, limit: Int) {
    private val cap = math.min(limit + 1L, Int.MaxValue - 8L)
    var bytes = new Array[Byte](math.min(cap, math.max(64L, sizeHint)).toInt)
    var len = 0

    /** Inflate onto the end until the stream ends or stalls (its input ran
      * out, or it needs a preset dictionary); false past `limit`. */
    def drain(inf: Inflater): Boolean = {
      while (!inf.finished()) {
        if (len == bytes.length) {
          if (len >= cap) return false
          bytes = java.util.Arrays.copyOf(bytes, math.min(cap, len * 2L).toInt)
        }
        val n = inf.inflate(bytes, len, bytes.length - len)
        if (n == 0 && !inf.finished()) return true
        len += n
      }
      len <= limit
    }

    /** Append what `in` reads until it ends; false once more than `limit`
      * bytes are in. A full buffer grows only when one more byte comes,
      * so an exact size hint costs no copy.
      */
    def fill(in: InputStream): Boolean = {
      var n = 1
      while (n > 0) {
        if (len < bytes.length) {
          n = in.read(bytes, len, bytes.length - len)
          if (n > 0) len += n
        } else if (len >= cap) return false
        else {
          val b = in.read()
          if (b >= 0) {
            bytes = java.util.Arrays.copyOf(bytes, math.min(cap, len * 2L).toInt)
            bytes(len) = b.toByte
            len += 1
          } else n = b
        }
      }
      true
    }

    def result(): Array[Byte] = if (len == bytes.length) bytes else java.util.Arrays.copyOf(bytes, len)
  }
}
