package graft.kernels

/** Bounded zlib / raw-deflate inflate, shared by the PDF FlateDecode
  * filter, PNG IDAT and HTTP `Content-Encoding: deflate`. The output cap
  * is the decompression-bomb bound every other decoder here applies
  * (LZW, gzip/zstd transport): 64 MiB, so a stream of a few KiB cannot
  * make a task allocate hundreds of MiB.
  */
object Inflate {

  final val MaxOut: Int = 1 << 26

  /** The inflated bytes, and whether the stream reached its end (false
    * for a truncated stream or one that needs a preset dictionary).
    */
  final case class Out(bytes: Array[Byte], finished: Boolean)

  /** None for a corrupt stream or one that inflates past [[MaxOut]] bytes. */
  def apply(data: Array[Byte], nowrap: Boolean = false): Option[Out] = {
    val inf = new java.util.zip.Inflater(nowrap)
    try {
      inf.setInput(data)
      val buf = new java.io.ByteArrayOutputStream(math.min(data.length.toLong * 4, MaxOut).toInt)
      val chunk = new Array[Byte](8192)
      var total = 0L
      var n = -1
      // zero output means the input ran out, or a dictionary is needed
      while (n != 0 && !inf.finished() && total <= MaxOut) {
        n = inf.inflate(chunk)
        buf.write(chunk, 0, n)
        total += n
      }
      if (total > MaxOut) None else Some(Out(buf.toByteArray, inf.finished()))
    } catch { case _: java.util.zip.DataFormatException => None }
    finally inf.end()
  }
}
