package graft.kernels

/** WARC (ISO 28500 / WARC 1.0 — the Common Crawl container) record
  * splitter: turns one WARC file/segment (plain or .warc.gz with
  * per-record gzip members) into the response pages inside it.
  *
  * This is the crawl-native ingestion seam the north rule's
  * "Common-Crawl-style pages" table is produced FROM: at 100 TB the
  * upstream data lands as ~1 GB WARC files, and this kernel is the
  * flatMap that explodes each file into `(url, warc_ts, html)` rows —
  * no driver involvement, no shuffle, one pass over the bytes.
  *
  * Supported per the public spec:
  *  - record grammar: `WARC/1.x` version line, `Name: value` headers,
  *    CRLF blank line, Content-Length block, CRLF CRLF trailer;
  *  - `WARC-Type: response` blocks as HTTP/1.x messages — status line,
  *    headers, `Transfer-Encoding: chunked` de-chunking, body
  *    `Content-Encoding: gzip` decode;
  *  - `WARC-Type: resource` blocks as raw payload bytes;
  *  - request/warcinfo/metadata records are skipped (not errors);
  *  - gzip member concatenation, decoded MEMBER-WISE by the one gzip
  *    reader, [[Inflate.gunzip]], so each record carries the compressed
  *    byte extents of its member (the real Common Crawl CDX coordinate
  *    system — range-read one member out of a 1 GB archive). Body
  *    `Content-Encoding: gzip` goes through the same reader by way of
  *    `ExtractKernel.decompressTransport`.
  *
  * Malformed records abort the remainder of the file honestly (error
  * row, never a task failure) — a truncated tail is the common real
  * failure and silently dropping it would undercount.
  */
object WarcKernel {

  /** One parsed page (or a terminal error marker with url == null).
    * `revisit` records (Common Crawl's digest-dedup mechanism: a
    * re-crawl whose payload matched an earlier capture ships headers
    * only) carry no body; their pointer lives in `refersTo` +
    * `payloadDigest` so a dedup pass can resolve the canonical capture.
    *
    * Extents: `(offset, recLen)` index the DECOMPRESSED record stream;
    * `(gzOffset, gzLen)` are the COMPRESSED byte extents of the gzip
    * member the record lives in (-1 for plain input) — the coordinates a
    * real Common Crawl CDX row carries, so a wayback-style reader can
    * range-read and gunzip ONE member out of a 1 GB `.warc.gz`.
    */
  final case class WarcPage(url: String, ts: java.sql.Timestamp,
      body: Array[Byte], recType: String, error: String,
      refersTo: String = null, payloadDigest: String = null,
      offset: Long = -1L, recLen: Long = -1L,
      gzOffset: Long = -1L, gzLen: Long = -1L)

  /** Serialize extracted text as WARC/1.0 `conversion` records — the
    * WET layout (Common Crawl's extracted-text companion format): one
    * record per page, `Content-Type: text/plain`, UTF-8 payload. The
    * inverse seam to [[split]]: a crawl refinery emits its cleaned
    * corpus in the same container it ingested, so the next pipeline
    * stage reuses the same reader. Round-trip contract (spec-pinned):
    * split(writeConversion(pages)) yields the pages byte-identically.
    */
  def writeConversion(pages: Iterator[(String, java.sql.Timestamp, String)]): Array[Byte] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val bos = new java.io.ByteArrayOutputStream(4096)
    val crlf2 = "\r\n\r\n".getBytes(Ascii)
    var seq = 0L
    pages.foreach { case (url, ts, text) =>
      val body = text.getBytes(utf8)
      val date = java.time.Instant.ofEpochMilli(ts.getTime).toString
      val head = new StringBuilder(256)
      head ++= "WARC/1.0\r\n"
      head ++= "WARC-Type: conversion\r\n"
      // WARC-Record-ID is MANDATORY per ISO 28500; name-based UUIDv3
      // (correct version/variant bits, validates under RFC 4122
      // consumers), rerun-stable, and unique per record — the running
      // index disambiguates two pages sharing (url, date)
      val recName = url + "\n" + date + "\n" + seq
      head ++= s"WARC-Record-ID: <urn:uuid:${java.util.UUID.nameUUIDFromBytes(recName.getBytes(utf8))}>\r\n"
      seq += 1
      head ++= s"WARC-Target-URI: $url\r\n"
      head ++= s"WARC-Date: $date\r\n"
      head ++= "Content-Type: text/plain\r\n"
      head ++= s"Content-Length: ${body.length}\r\n\r\n"
      // header bytes are UTF-8 per the WARC spec — Latin-1 would silently
      // mangle non-ASCII target URIs into '?' and break the round trip
      bos.write(head.toString.getBytes(utf8))
      bos.write(body)
      bos.write(crlf2)
    }
    bos.toByteArray
  }


  private val Ascii = java.nio.charset.StandardCharsets.ISO_8859_1

  private def err(msg: String): WarcPage = WarcPage(null, null, null, null, msg)

  /** Parse ISO-8601 `WARC-Date` (second or milli precision, Z offset). */
  private def parseDate(s: String): java.sql.Timestamp =
    try {
      java.sql.Timestamp.from(java.time.Instant.parse(s))
    } catch { case _: Exception => new java.sql.Timestamp(0L) }

  /** Split a WARC file into response/resource pages.
    *
    * `.warc.gz` input decodes MEMBER-WISE (not as one concatenated
    * stream): each member's compressed extents ride into the records it
    * carries as `(gzOffset, gzLen)`, and a truncated/corrupt tail member
    * degrades honestly — every record from the complete members is
    * emitted, followed by one error row for the tail (mirrors the plain
    * truncated-tail contract; a whole-stream decode would lose the
    * entire file). Its class is `warc_gz_` + [[Inflate.gunzip]]'s: an
    * FHCRC mismatch is `bad_member_header`, over `maxOut` is `too_large`.
    */
  def split(bytes0: Array[Byte], maxOut: Int = 1 << 30): Iterator[WarcPage] = {
    if (ExtractKernel.isGzip(bytes0)) {
      val g = Inflate.gunzip(bytes0, maxOut)
      val starts = g.members.map(_.start).toArray
      val memberOf = (recStart: Long) => {
        val r = java.util.Arrays.binarySearch(starts, recStart)
        val m = g.members(if (r >= 0) r else -r - 2)
        (m.offset, m.compLen)
      }
      records(g.bytes, memberOf) ++ g.tail.iterator.map(t => err("warc_gz_" + t))
    } else records(bytes0, _ => (-1L, -1L))
  }

  /** Record iterator over a decompressed WARC stream; `memberOf` maps a
    * record's start offset to the compressed extents of its gzip member.
    */
  private def records(bytes: Array[Byte],
      memberOf: Long => (Long, Long)): Iterator[WarcPage] = {
    new Iterator[WarcPage] {
      private var pos = 0
      private var done = false
      private var pending: WarcPage = null

      private def advance(): Unit = {
        pending = null
        while (pending == null && !done) {
          // skip inter-record CRLFs
          while (pos < bytes.length &&
            (bytes(pos) == '\r' || bytes(pos) == '\n')) pos += 1
          if (pos >= bytes.length) { done = true; return }
          if (!startsWith(bytes, pos, "WARC/")) {
            pending = err("warc_bad_magic"); done = true; return
          }
          // record extents for CDX-style index rows: (recStart, recLen)
          // in the decompressed stream, (gzOff, gzMemberLen) = the
          // compressed extents of the gzip member this record starts in
          val recStart = pos.toLong
          val (gzOff, gzMemberLen) = memberOf(recStart)
          val headEnd = indexOfBlank(bytes, pos)
          if (headEnd < 0) { pending = err("warc_truncated_header"); done = true; return }
          // WARC headers are UTF-8 per ISO 28500 (Latin-1 would garble
          // non-ASCII target URIs); invalid sequences decode leniently
          val head = new String(bytes, pos, headEnd - pos,
            java.nio.charset.StandardCharsets.UTF_8)
          val len = headerOf(head, "Content-Length").flatMap(s =>
            try Some(s.trim.toLong) catch { case _: NumberFormatException => None })
            .getOrElse(-1L)
          val blockStart = headEnd + 4
          if (len < 0 || blockStart + len > bytes.length) {
            pending = err("warc_truncated_block"); done = true; return
          }
          val recType = headerOf(head, "WARC-Type").map(_.trim).getOrElse("")
          val uri = headerOf(head, "WARC-Target-URI").map(stripAngles).getOrElse("")
          val ts = headerOf(head, "WARC-Date").map(s => parseDate(s.trim))
            .getOrElse(new java.sql.Timestamp(0L))
          val block = java.util.Arrays.copyOfRange(
            bytes, blockStart, (blockStart + len).toInt)
          pos = (blockStart + len).toInt
          val recLen = pos - recStart
          recType match {
            case "response" =>
              pending = httpBody(block) match {
                case Right(body) => WarcPage(uri, ts, body, recType, null,
                  offset = recStart, recLen = recLen,
                  gzOffset = gzOff, gzLen = gzMemberLen)
                case Left(e) => WarcPage(uri, ts, Array.emptyByteArray, recType, e,
                  offset = recStart, recLen = recLen,
                  gzOffset = gzOff, gzLen = gzMemberLen)
              }
            case "resource" | "conversion" =>
              // conversion = extracted-text records (the WET layout this
              // kernel's writeConversion emits); payload is the raw block
              pending = WarcPage(uri, ts, block, recType, null,
                offset = recStart, recLen = recLen,
                gzOffset = gzOff, gzLen = gzMemberLen)
            case "revisit" =>
              pending = WarcPage(uri, ts, Array.emptyByteArray, recType, null,
                refersTo = headerOf(head, "WARC-Refers-To-Target-URI")
                  .map(stripAngles).getOrElse(""),
                payloadDigest = headerOf(head, "WARC-Payload-Digest")
                  .map(_.trim).getOrElse(""),
                offset = recStart, recLen = recLen,
                gzOffset = gzOff, gzLen = gzMemberLen)
            case _ => // request/warcinfo/metadata: not pages
          }
        }
      }

      advance()
      override def hasNext: Boolean = pending != null
      override def next(): WarcPage = {
        val r = pending
        advance()
        r
      }
    }
  }

  private def startsWith(b: Array[Byte], at: Int, s: String): Boolean = {
    if (at + s.length > b.length) return false
    var i = 0
    while (i < s.length) {
      if (b(at + i) != s.charAt(i)) return false
      i += 1
    }
    true
  }

  /** Index of the CRLFCRLF terminating a header section, or -1. */
  private def indexOfBlank(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')
        return i
      i += 1
    }
    -1
  }

  /** Case-insensitive header lookup in a CRLF-joined header section. */
  private def headerOf(head: String, name: String): Option[String] = {
    val lower = name.toLowerCase(java.util.Locale.ROOT) + ":"
    head.split("\r\n").iterator
      .find(_.toLowerCase(java.util.Locale.ROOT).startsWith(lower))
      .map(l => l.substring(l.indexOf(':') + 1).trim)
  }

  private def stripAngles(s0: String): String = {
    val s = s0.trim
    if (s.length >= 2 && s.charAt(0) == '<' && s.charAt(s.length - 1) == '>')
      s.substring(1, s.length - 1)
    else s
  }

  /** HTTP response block → body bytes: strip the status line + headers,
    * de-chunk, content-decode. Left(reason) on malformed messages.
    */
  private def httpBody(block: Array[Byte]): Either[String, Array[Byte]] = {
    val headEnd = indexOfBlank(block, 0)
    if (headEnd < 0) return Left("http_truncated_header")
    val head = new String(block, 0, headEnd, Ascii)
    if (!head.startsWith("HTTP/")) return Left("http_bad_status_line")
    var body = java.util.Arrays.copyOfRange(block, headEnd + 4, block.length)
    val te = headerOf(head, "Transfer-Encoding").map(_.toLowerCase(java.util.Locale.ROOT))
    if (te.exists(_.contains("chunked"))) dechunk(body) match {
      case Some(b) => body = b
      case None    => return Left("http_bad_chunking")
    }
    val ce = headerOf(head, "Content-Encoding").map(_.trim.toLowerCase(java.util.Locale.ROOT))
    if (ce.contains("gzip") || ce.contains("x-gzip")) {
      val gunzipped =
        if (ExtractKernel.isGzip(body)) ExtractKernel.decompressTransport(body) else None
      gunzipped match {
        case Some(b) => body = b
        case None    => return Left("http_gzip_corrupt")
      }
    } else if (ce.contains("deflate")) {
      inflate(body) match {
        case Some(b) => body = b
        case None    => return Left("http_deflate_corrupt")
      }
    }
    Right(body)
  }

  /** `Content-Encoding: deflate` per RFC 9110 is a zlib stream, but a
    * well-known population of real servers ships raw deflate; try zlib
    * first, fall back to raw (nowrap) — what every browser does.
    */
  private def inflate(b: Array[Byte]): Option[Array[Byte]] =
    Inflate(b).filter(_.finished)
      .orElse(Inflate(b, nowrap = true).filter(_.finished))
      .map(_.bytes)

  /** Decode HTTP/1.1 chunked transfer encoding (trailers ignored). */
  private def dechunk(b: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(b.length)
    var i = 0
    while (true) {
      // chunk-size line: hex digits, optional ;ext, CRLF
      var j = i
      while (j + 1 < b.length && !(b(j) == '\r' && b(j + 1) == '\n')) j += 1
      if (j + 1 >= b.length) return None
      val line = new String(b, i, j - i, Ascii)
      val hexPart = line.takeWhile(c => c != ';').trim
      val size =
        try java.lang.Long.parseLong(hexPart, 16)
        catch { case _: NumberFormatException => return None }
      if (size < 0 || size > Int.MaxValue) return None
      i = j + 2
      if (size == 0L) return Some(out.toByteArray) // trailers ignored
      if (i + size > b.length) return None
      out.write(b, i, size.toInt)
      i += size.toInt
      // chunk data is followed by CRLF
      if (i + 1 < b.length && b(i) == '\r' && b(i + 1) == '\n') i += 2
      else return None
    }
    None // unreachable
  }
}
