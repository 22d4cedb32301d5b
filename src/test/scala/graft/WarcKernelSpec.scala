package graft

import graft.gen.PagesGen
import graft.kernels.{ExtractKernel, Inflate, WarcKernel}
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite

/** WARC/1.0 record splitting (ISO 28500): response + resource payload
  * recovery across HTTP body modes, gzip member concatenation, and
  * honest error rows on malformed tails.
  */
class WarcKernelSpec extends AnyFunSuite {

  private val Ts = new Timestamp(1735689600000L)

  private def entries(n: Int): Seq[(String, Timestamp, Array[Byte])] =
    (0 until n).map(i =>
      (s"doc://w/$i", Ts, s"payload body number $i with some filler text".getBytes(UTF_8)))

  test("plain WARC round-trips all modes (plain/chunked/gzip-CE/deflate-CE/resource)") {
    val es = entries(10)
    val pages = WarcKernel.split(PagesGen.warcBytes(es, gzipMembers = false)).toSeq
    assert(pages.forall(_.error == null))
    assert(pages.map(_.url) === es.map(_._1))
    assert(pages.map(p => new String(p.body, UTF_8)) ===
      es.map(e => new String(e._3, UTF_8)))
    // mode coverage: i%5==4 resource, else response
    assert(pages.map(_.recType) ===
      (0 until 10).map(i => if (i % 5 == 4) "resource" else "response"))
    assert(pages.forall(_.ts == Ts))
  }

  test(".warc.gz (per-record gzip members) round-trips identically") {
    val es = entries(7)
    val pages = WarcKernel.split(PagesGen.warcBytes(es, gzipMembers = true)).toSeq
    assert(pages.forall(_.error == null))
    assert(pages.map(p => new String(p.body, UTF_8)) ===
      es.map(e => new String(e._3, UTF_8)))
  }

  test("writeConversion round-trips through split: multibyte, empty, gzip") {
    val acute = new String(Character.toChars(0xE9))
    val texts = Seq(
      s"caf$acute au lait — 8 bits per char it is not", // bytes != chars
      "", // empty payload: Content-Length 0
      "plain ascii line")
    val in = texts.zipWithIndex.map { case (t, i) =>
      (s"http://w$i.example/p$i", new java.sql.Timestamp(1736208000000L + i), t)
    }
    val bytes = WarcKernel.writeConversion(in.iterator)
    val pages = WarcKernel.split(bytes).toVector
    assert(pages.size === 3 && pages.forall(_.error == null))
    assert(pages.map(_.recType).distinct === Vector("conversion"))
    assert(pages.map(p => new String(p.body, java.nio.charset.StandardCharsets.UTF_8)) === texts)
    assert(pages.map(_.url) === in.map(_._1))
    assert(pages.map(_.ts) === in.map(_._2))
    // same buffer as a gzip member (.wet.gz layout) reads identically
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(bytes); gz.close()
    val gzPages = WarcKernel.split(bos.toByteArray).toVector
    assert(gzPages.map(p => new String(p.body, java.nio.charset.StandardCharsets.UTF_8)) === texts)
    // every record carries the MANDATORY WARC-Record-ID, deterministically
    val raw = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    assert("WARC-Record-ID: <urn:uuid:[0-9a-f-]{36}>".r.findAllIn(raw).size === 3)
    assert(java.util.Arrays.equals(bytes, WarcKernel.writeConversion(in.iterator)))
  }

  test("writeConversion round-trips non-ASCII target URIs (UTF-8 headers)") {
    val acute = new String(Character.toChars(0xE9))
    val cjk = new String(Character.toChars(0x4E2D))
    val url = s"http://caf$acute.example/$cjk/p1"
    val bytes = WarcKernel.writeConversion(
      Iterator((url, new java.sql.Timestamp(1736208000000L), "body text")))
    val pages = WarcKernel.split(bytes).toVector
    assert(pages.size === 1 && pages.head.error == null)
    assert(pages.head.url === url)
  }

  test("truncated tail yields an honest error row, keeping prior records") {
    val full = PagesGen.warcBytes(entries(6), gzipMembers = false)
    val cut = java.util.Arrays.copyOfRange(full, 0, full.length - 40)
    val pages = WarcKernel.split(cut).toSeq
    assert(pages.nonEmpty)
    assert(pages.last.error != null)
    assert(pages.init.forall(_.error == null))
  }

  test("garbage input is a single error row, not an exception") {
    val pages = WarcKernel.split("this is not a warc".getBytes(UTF_8)).toSeq
    assert(pages.map(_.error) === Seq("warc_bad_magic"))
    // gzip magic but CM != 8: not a decodable member header
    val pages2 = WarcKernel.split(Array[Byte](0x1f.toByte, 0x8b.toByte, 1, 2)).toSeq
    assert(pages2.map(_.error) === Seq("warc_gz_bad_member_header"))
  }

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  test("per-member extents tile the .warc.gz and range-read one member back") {
    val es = entries(7)
    val gz = PagesGen.warcBytes(es, gzipMembers = true)
    val pages = WarcKernel.split(gz).toVector
    assert(pages.size === 7 && pages.forall(_.error == null))
    // ALL members (incl. the skipped warcinfo/request records') tile the
    // file: start 0, contiguous, end at file length
    val g = Inflate.gunzip(gz, 1 << 30)
    assert(g.tail.isEmpty)
    val tiling = g.members.map(m => (m.offset, m.compLen))
    assert(tiling.head._1 === 0L)
    tiling.sliding(2).foreach {
      case Seq((o1, l1), (o2, _)) => assert(o1 + l1 === o2)
      case _                      =>
    }
    assert(tiling.last._1 + tiling.last._2 === gz.length.toLong)
    // every page's extent is exactly one member's extent
    val memberSet = tiling.toSet
    assert(pages.forall(p => memberSet((p.gzOffset, p.gzLen))))
    // the wayback contract: slice [gzOffset, gzOffset+gzLen) parses ALONE
    pages.foreach { p =>
      val slice = java.util.Arrays.copyOfRange(gz, p.gzOffset.toInt, (p.gzOffset + p.gzLen).toInt)
      val again = WarcKernel.split(slice).toVector
      assert(again.size === 1 && again.head.error == null)
      assert(again.head.url === p.url)
      assert(java.util.Arrays.equals(again.head.body, p.body))
    }
    // plain input reports no member extents
    val plain = WarcKernel.split(PagesGen.warcBytes(es, gzipMembers = false)).toVector
    assert(plain.forall(p => p.gzOffset == -1L && p.gzLen == -1L))
  }

  test("a whole file compressed as ONE member maps every record to member 0") {
    val es = entries(4)
    val one = gzip(PagesGen.warcBytes(es, gzipMembers = false))
    val pages = WarcKernel.split(one).toVector
    assert(pages.size === 4 && pages.forall(_.error == null))
    assert(pages.forall(p => p.gzOffset == 0L && p.gzLen == one.length.toLong))
  }

  test("truncated gz tail member keeps prior members' records plus one error row") {
    val es = entries(6)
    val gz = PagesGen.warcBytes(es, gzipMembers = true)
    val full = WarcKernel.split(gz).toVector
    val lastStart = full.map(_.gzOffset).max.toInt
    // cut inside the LAST member's deflate data
    val cut = java.util.Arrays.copyOfRange(gz, 0, lastStart + 12)
    val pages = WarcKernel.split(cut).toVector
    assert(pages.last.error === "warc_gz_member_truncated")
    val ok = pages.init
    assert(ok.forall(_.error == null))
    assert(ok.map(_.url) === full.init.map(_.url))
  }

  test("corrupt gz member trailer (CRC flip) is detected, prior members kept") {
    val es = entries(3)
    val gz = PagesGen.warcBytes(es, gzipMembers = true)
    val full = WarcKernel.split(gz).toVector
    val lastStart = full.map(_.gzOffset).max.toInt
    val lastLen = full.find(_.gzOffset == lastStart.toLong).get.gzLen.toInt
    val bad = gz.clone()
    bad(lastStart + lastLen - 5) = (bad(lastStart + lastLen - 5) ^ 0xff).toByte // CRC byte
    val pages = WarcKernel.split(bad).toVector
    assert(pages.last.error === "warc_gz_member_crc")
    assert(pages.init.map(_.url) === full.init.map(_.url))
  }

  test("gz member headers with FNAME/FCOMMENT/FEXTRA/FHCRC fields decode") {
    // hand-build an RFC 1952 member exercising the optional header
    // fields the JDK writer never emits but real archivers do
    val payload = ("WARC/1.0\r\nWARC-Type: resource\r\nWARC-Target-URI: u://f\r\n" +
      "WARC-Date: 2025-01-01T00:00:00Z\r\nContent-Length: 4\r\n\r\nBODY\r\n\r\n").getBytes(UTF_8)
    val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    deflater.setInput(payload); deflater.finish()
    val comp = new Array[Byte](payload.length + 64)
    val n = deflater.deflate(comp)
    deflater.end()
    val crc = new java.util.zip.CRC32
    crc.update(payload)
    val bos = new java.io.ByteArrayOutputStream()
    // FLG = FEXTRA|FNAME|FCOMMENT (no FHCRC: its value must match, and
    // the point here is field SKIPPING)
    bos.write(Array[Byte](0x1f.toByte, 0x8b.toByte, 8, (4 | 8 | 16).toByte, 0, 0, 0, 0, 0, 0))
    bos.write(Array[Byte](3, 0)); bos.write(Array[Byte](1, 2, 3)) // FEXTRA len=3
    bos.write("name.warc".getBytes(UTF_8)); bos.write(0) // FNAME
    bos.write("a comment".getBytes(UTF_8)); bos.write(0) // FCOMMENT
    bos.write(comp, 0, n)
    def le32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    bos.write(le32(crc.getValue))
    bos.write(le32(payload.length.toLong))
    val pages = WarcKernel.split(bos.toByteArray).toVector
    assert(pages.size === 1 && pages.head.error == null)
    assert(pages.head.url === "u://f")
    assert(new String(pages.head.body, UTF_8) === "BODY")
  }

  test("a gz member whose FHCRC does not match is a bad member header") {
    val rec = ("WARC/1.0\r\nWARC-Type: resource\r\nWARC-Target-URI: u://h\r\n" +
      "WARC-Date: 2025-01-01T00:00:00Z\r\nContent-Length: 4\r\n\r\nBODY\r\n\r\n").getBytes(UTF_8)
    val good = HostileDocs.gzipMember(rec, name = "a.warc", hcrc = true)
    val bad = HostileDocs.gzipMember(rec, name = "a.warc", hcrc = true, hcrcFlip = 0x8000)
    assert(WarcKernel.split(good).map(p => (p.url, p.error)).toSeq === Seq(("u://h", null)))
    assert(WarcKernel.split(bad).map(_.error).toSeq === Seq("warc_gz_bad_member_header"))
    // after a whole member it ends the walk with that member's records kept
    assert(WarcKernel.split(good ++ bad).map(p => (p.url, p.error)).toSeq ===
      Seq(("u://h", null), (null, "warc_gz_bad_member_header")))
  }

  test("differential: every prefix that decodes as whole members gunzips the same on the transport") {
    val gz = PagesGen.warcBytes(entries(5), gzipMembers = true)
    def jdkGunzip(b: Array[Byte]): Array[Byte] = {
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b))
      try in.readAllBytes() finally in.close()
    }
    var whole = 0
    (4 to gz.length).foreach { cut =>
      val prefix = java.util.Arrays.copyOfRange(gz, 0, cut)
      val g = Inflate.gunzip(prefix, 1 << 30)
      if (WarcKernel.split(prefix).forall(p => p.error == null || !p.error.startsWith("warc_gz_"))) {
        assert(g.tail.isEmpty, cut)
        whole += 1
        // each member read alone by the JDK, then concatenated
        val members = g.members.flatMap(m =>
          jdkGunzip(java.util.Arrays.copyOfRange(prefix, m.offset.toInt, (m.offset + m.compLen).toInt)))
        assert(ExtractKernel.decompressTransport(prefix).map(_.toSeq) === Some(members), cut)
        assert(g.bytes.toSeq === members, cut)
      }
    }
    assert(whole === Inflate.gunzip(gz, 1 << 30).members.size)
  }

  test("fuzz: every truncation of a .warc.gz parses totally, prior records intact") {
    val es = entries(5)
    val gz = PagesGen.warcBytes(es, gzipMembers = true)
    val full = WarcKernel.split(gz).toVector.map(_.url)
    (1 until gz.length by 3).foreach { cut =>
      val pages = WarcKernel.split(java.util.Arrays.copyOfRange(gz, 0, cut)).toVector
      // never throws; complete records are a prefix of the full parse
      val ok = pages.filter(_.error == null).map(_.url)
      assert(full.startsWith(ok), s"cut=$cut yielded non-prefix records $ok")
      assert(pages.size === ok.size || pages.last.error != null)
    }
    // trailing garbage after valid members: records survive + one error
    val garbage = gz ++ "not gzip at all".getBytes(UTF_8)
    val pages = WarcKernel.split(garbage).toVector
    assert(pages.filter(_.error == null).map(_.url) === full)
    assert(pages.last.error === "warc_gz_bad_member_header")
  }

  test("bad chunk framing is an error for that record only") {
    val body = "AAAA"
    val http = "HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nZZ\r\n" + body
    val rec = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u://x\r\n" +
      s"WARC-Date: 2025-01-01T00:00:00Z\r\nContent-Length: ${http.length}\r\n\r\n" +
      http + "\r\n\r\n").getBytes(UTF_8)
    val pages = WarcKernel.split(rec).toSeq
    assert(pages.length === 1)
    assert(pages.head.error === "http_bad_chunking")
    assert(pages.head.url === "u://x")
  }

  test("angle-bracketed target URIs are unwrapped") {
    val es = entries(5) // entry 4 is a resource record with <uri> form
    val pages = WarcKernel.split(PagesGen.warcBytes(es, gzipMembers = false)).toSeq
    assert(pages(4).recType === "resource")
    assert(pages(4).url === "doc://w/4")
  }
}
