package graft

import graft.gen.{MediaGen, PagesGen}
import graft.model.PageRow
import graft.ops.{DocPages, ExtractionOps}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.sql.Timestamp

/** Pins the bytes every fixture generator writes. The oracle-gated
  * extraction queries hold only because the wrapped fixtures stay exactly
  * invertible, and the bench cache keys on `PagesGen.CorpusVersion`; so a
  * writer refactor must reproduce these SHA-256 digests byte for byte,
  * and a deliberate change to generated output must bump `CorpusVersion`
  * and re-pin here.
  */
class FixtureDigestSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def utf8(s: String): Array[Byte] = String.valueOf(s).getBytes(UTF_8)

  /** SHA-256 over length-prefixed fields, so field boundaries count. */
  private def sha(fields: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    fields.foreach { f =>
      md.update(java.nio.ByteBuffer.allocate(4).putInt(f.length).array)
      md.update(f)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def rowFields(r: PageRow): Iterator[Array[Byte]] =
    Iterator(utf8(r.url), utf8(r.warc_ts.getTime.toString), r.html, utf8(r.text), utf8(r.lang))

  private def pinned(pins: Map[String, String], actual: Seq[(String, String)]): Unit = {
    val moved = actual.filter { case (k, v) => !pins.get(k).contains(v) }
    assert(moved.isEmpty, moved.map { case (k, v) => s"\"$k\" -> \"$v\"" }.mkString("moved:\n", ",\n", ""))
    assert(actual.map(_._1).toSet == pins.keySet, "pinned names")
  }

  // fixed writer inputs: escapes, repeat runs, several pages, non-ASCII
  private val Lines = Seq(
    Seq("alpha (beta) gamma \\ delta", "crawl shard byte fetch index cache score prune token"),
    Seq("second page line", "zzzzzzzzzzzzzzzzzzzzzzzz repeated run", "last"))
  private val Entries = (0 until 10).map { i =>
    (s"https://h${i % 3}.example/p/$i", new Timestamp(1735689600000L + i * 3600000L),
      utf8(PagesGen.htmlPage(Seq(PagesGen.sentence(i, 40 + 30 * i)), None, i)))
  }

  test("CorpusVersion is v2") {
    assert(PagesGen.CorpusVersion == "v2")
  }

  test("fixture writers on fixed inputs") {
    val pw = utf8("user secret")
    val writers: Seq[(String, () => Array[Byte])] = Seq(
      "pdfBytes/plain" -> (() => PagesGen.pdfBytes(Lines, compress = false)),
      "pdfBytes/flate" -> (() => PagesGen.pdfBytes(Lines, compress = true)),
      "pdfBytesAdv/winAnsi" -> (() => PagesGen.pdfBytesAdv(Seq("€ — «œuvre» ™ text" +: Lines.head, Lines(1)),
        compress = false, winAnsi = true, scramble = false)),
      "pdfBytesAdv/scramble" -> (() => PagesGen.pdfBytesAdv(Lines, compress = true,
        winAnsi = false, scramble = true)),
      "pdfBytesInfo/literal" -> (() => PagesGen.pdfBytesInfo(Lines, "A (title) \\ here",
        "Zoe (author)", "20250101120000Z", utf16Author = false)),
      "pdfBytesInfo/utf16" -> (() => PagesGen.pdfBytesInfo(Lines, "A (title) \\ here",
        "Zoë Ωμέγα", "20250101120000Z", utf16Author = true)),
      "pdfBytesCid" -> (() => PagesGen.pdfBytesCid(Seq(Seq("نص Arabic text"), Seq("page two é")))),
      "warcBytes/plain" -> (() => PagesGen.warcBytes(Entries, gzipMembers = false)),
      "warcBytes/gzipMembers" -> (() => PagesGen.warcBytes(Entries, gzipMembers = true)),
      "pngBytes/rgb" -> (() => MediaGen.pngBytes(4)),
      "pngBytes/rgba" -> (() => MediaGen.pngBytes(7))) ++
      Seq("png", "tiff", "ahx", "a85", "rl", "lzw").map(m =>
        s"pdfBytesFiltered/$m" -> (() => PagesGen.pdfBytesFiltered(Lines, m))) ++
      Seq("rc4-40", "rc4-128", "aes128", "aes256").flatMap(m => Seq(
        s"pdfBytesEncrypted/$m" -> (() => PagesGen.pdfBytesEncrypted(Lines, m, seed = 7)),
        s"pdfBytesEncrypted/$m/userPw" -> (() => PagesGen.pdfBytesEncrypted(Lines, m, seed = 7, pw))))
    pinned(WriterPins, writers.map { case (k, f) => k -> sha(Iterator(f())) })
  }

  test("PagesGen.corpus(2000, 42)") {
    val got = sha(PagesGen.corpus(2000, 42).iterator.flatMap(g =>
      rowFields(g.row) ++ Iterator(utf8(g.expected), utf8(g.kind))))
    pinned(Map("corpus" -> CorpusPin), Seq("corpus" -> got))
  }

  test("DocPages adapters over sf0.001 documents") {
    val adapters: Seq[(String, () => Array[PageRow])] = Seq(
      "htmlSingle" -> (() => DocPages.htmlSingle(spark, dir).collect()),
      "htmlChunked" -> (() => DocPages.htmlChunked(spark, dir).collect()),
      "pdfSingle/plain" -> (() => DocPages.pdfSingle(spark, dir, compress = false).collect()),
      "pdfSingle/flate" -> (() => DocPages.pdfSingle(spark, dir, compress = true).collect()),
      "pdfMulti" -> (() => DocPages.pdfMulti(spark, dir).collect()),
      "pdfScrambled" -> (() => DocPages.pdfScrambled(spark, dir).collect()),
      "pdfFiltered" -> (() => DocPages.pdfFiltered(spark, dir).collect()),
      "pdfEncrypted" -> (() => DocPages.pdfEncrypted(spark, dir).collect()),
      "pdfWinAnsi" -> (() => DocPages.pdfWinAnsi(spark, dir).collect()),
      "pdfCid" -> (() => DocPages.pdfCid(spark, dir).collect()),
      "htmlArabic" -> (() => DocPages.htmlArabic(spark, dir).collect()),
      "htmlWin1252" -> (() => DocPages.htmlWin1252(spark, dir).collect()),
      "htmlUtf16" -> (() => DocPages.htmlUtf16(spark, dir).collect()),
      "gzipped" -> (() => DocPages.gzipped(spark, dir).collect()),
      "zstded" -> (() => DocPages.zstded(spark, dir).collect()),
      "passthrough" -> (() => DocPages.passthrough(spark, dir).collect()),
      "errorMix" -> (() => DocPages.errorMix(spark, dir).collect()),
      "mixed" -> (() => DocPages.mixed(spark, dir).collect()))
    val rows = adapters.map { case (k, f) =>
      k -> sha(f().sortBy(_.url).iterator.flatMap(rowFields))
    }
    val warc = "warcFiles" -> sha(DocPages.warcFiles(spark, dir).collect().sortBy(_._1)
      .iterator.flatMap { case (id, bytes) => Iterator(utf8(id.toString), bytes) })
    pinned(AdapterPins, rows :+ warc)
  }

  test("WARC-archive query inputs over sf0.001 documents") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    // the per-doc archive builders are private to the queries; reach them
    // by name so the pin does not widen their visibility
    def archives(name: String): String = {
      val m = ExtractionOps.getClass.getDeclaredMethod(name, classOf[Long], classOf[String])
      m.setAccessible(true)
      sha(docs.iterator.map { case (d, t) =>
        m.invoke(ExtractionOps, Long.box(d), t).asInstanceOf[Array[Byte]]
      })
    }
    pinned(ArchivePins, Seq("twoRecordArchive", "twoMemberGzArchive").map(n => n -> archives(n)))
  }

  // re-pin only together with a CorpusVersion bump
  private val WriterPins: Map[String, String] = Map(
    "pdfBytes/plain" ->
      "aa8cbc25643523330302aa9dc579ce9c764baaac12461df64a0003ab4b431308",
    "pdfBytes/flate" ->
      "095540a3d574cac45718a007198a2a8e2a203b6fb991c4b4f31f47add1b27097",
    "pdfBytesAdv/winAnsi" ->
      "9982251d8bb1f1db773af334c600baa9bd3730ce86e3948ae11547b9d759390a",
    "pdfBytesAdv/scramble" ->
      "d1718310ad91d85c85934e947437cb03def01df4df6202a378c37bf8f04e28c9",
    "pdfBytesInfo/literal" ->
      "243d473386f074c5deda8acb0b844961a60bb324ebda691e978ff27197081e00",
    "pdfBytesInfo/utf16" ->
      "6ee9ebbf2cb3ff44af3da73d12ea729de7ced5e027411e04a1f18227ccdfeaa3",
    "pdfBytesCid" ->
      "8ab78603f0af7efe089aefd609cf0241c48598b597911bc32f1c069d062dc57a",
    "warcBytes/plain" ->
      "e1fefa46945d7b5d8ce7e6b6545a1d876bab335d1f3b9accc1428f2b8cef0c0c",
    "warcBytes/gzipMembers" ->
      "ca642475c1e994652f0c0d56d6d425a7bed7f94d82b8aee827c6d4fe0c83ff6a",
    "pngBytes/rgb" ->
      "37403fee814e780c4cb5413721b7c271d6296cfe88e944aad1890bab9223a20e",
    "pngBytes/rgba" ->
      "f68094ad222dc682d0122881441a1efc35b09d4ac1ddfef5cf6162fb8278bbc5",
    "pdfBytesFiltered/png" ->
      "9074c36c174045008019dc0e1d7235156b68bca451f3949052574583f3e9d48d",
    "pdfBytesFiltered/tiff" ->
      "c7ea18ebb993f4c5fd99d2f095eff9f76a354fcc504294bd3687694687a52bb3",
    "pdfBytesFiltered/ahx" ->
      "59b0adba1b0c7269cb3be879a51e46938101b760c4aeb8e70ddf9a78bd40d60e",
    "pdfBytesFiltered/a85" ->
      "b04b6e7f0b64c6407977c8d9e4baf934885e7e60df2b1221321748d0bdde5cb5",
    "pdfBytesFiltered/rl" ->
      "e8ae999fe30caee7c15f2fdd24013d84e4bd81c112271a01adecf7ec0eb8de94",
    "pdfBytesFiltered/lzw" ->
      "fe27bade6ffe0d97d29718440b93d558af6f66c27e9472fd9a9154c93ffd2b33",
    "pdfBytesEncrypted/rc4-40" ->
      "8dde0300c8e8076cc85a0be474b0ca1a22e83c0cda6b46340912c3a7b5b515d4",
    "pdfBytesEncrypted/rc4-40/userPw" ->
      "78d38571773661f3fe1cad2d3123a2bb08d27019de887056e41ac1e75b78fea6",
    "pdfBytesEncrypted/rc4-128" ->
      "912990bbe0f9a2d7a638c6d8c9acba7fcb0a3ed144de6e60beddd2c3e9d4f4cf",
    "pdfBytesEncrypted/rc4-128/userPw" ->
      "bd709949d1c36b5ab4e7e2fa1a97029c1b41ef52aa92bf98e80b55891a6a830a",
    "pdfBytesEncrypted/aes128" ->
      "201449837a41d2aa1cb5123a4c63fb9c43f2136faad5a763ab0b34c085f8fb4c",
    "pdfBytesEncrypted/aes128/userPw" ->
      "9d1983ee0d3b8a5d841167a063b0c92d5b78eb79e0582d85ead4728a959fe69e",
    "pdfBytesEncrypted/aes256" ->
      "9d012f1e0575418efc691799a9afd2c43baf3bfa6393e57de969e2ee1ac0ab3d",
    "pdfBytesEncrypted/aes256/userPw" ->
      "23b5a4fb306e1a421254c46f515f9dbe475dc190e268ad343d2047d2b547c378")

  private val CorpusPin = "f8ab6cb1f5147a268ac65dd03e3db688833eec55712a95f93f6910f8f76e279c"

  private val AdapterPins: Map[String, String] = Map(
    "htmlSingle" ->
      "a45170a2a9d23b0822545f445e3501eb0f10136776ef2d9e3ed0f0b69d5cc565",
    "htmlChunked" ->
      "70f2025b768450c78b3558d440fc00555b3ea16dc22f9b23f33dfd62e671b877",
    "pdfSingle/plain" ->
      "348f7926fd188ae5592a3605729fe3aab8f3f08712c6830d307604545ece51ca",
    "pdfSingle/flate" ->
      "0dd4620717204854969ad8d3e3a9e24d46342d901b11f7155db665e7d8303295",
    "pdfMulti" ->
      "ed65355edb98009da7813a4d44de7d38d48cf383d6478ab20b84751ca146ea0b",
    "pdfScrambled" ->
      "05d46251a1ce7bc8aa8bb107e193a10db0ecc862d19f9c1c5ae73a28ecbcd9ac",
    "pdfFiltered" ->
      "aa5f8c7dbe2f9039e2405617e9be00dab431eb4528c2eb28767d1bb329561843",
    "pdfEncrypted" ->
      "aea02c5b7ab095d44b6062d463f7d848e01a5e6790f2b76a87548074341fbd1a",
    "pdfWinAnsi" ->
      "bcbec38a0cc5c68d2985426aeac5408ca3753a3d1433989f731b1784e3bda525",
    "pdfCid" ->
      "2c0a54512fda15c0974429933ff6a4993cb9c6f4b717b9785894080252e14c6b",
    "htmlArabic" ->
      "1d7ebc1592df76dee9aae133efcbf0ad7b3ebe72888e54fcba1dc71ca36a517c",
    "htmlWin1252" ->
      "ab576542da693f74b865d430c4619c1982f538a31d4b504fa4aeb67ef0d09b6d",
    "htmlUtf16" ->
      "a6cc704d8bfd043a54b178837503928920a340cbe2a3a2953ea8382b25aca85c",
    "gzipped" ->
      "95107dec555771fb13746aed6c3434a020600a5e617676850b4351f7073bd464",
    "zstded" ->
      "ee52b7ddc8cadf7dd997e25d98462b19dd6039bcd5e3c32bfbd43ba05ae07d27",
    "passthrough" ->
      "e8a0c76114aa617a60491092ee4094c5de1c51481b348b81cade508bcf4daeb3",
    "errorMix" ->
      "cfe3ccec23fa8df1287fc6aee2aba017d110d8ade62e9d7aed3122c5d8112ef3",
    "mixed" ->
      "00a99b206a981d474dab0694ba43cb48af165c6547e29509f354260fd730e773",
    "warcFiles" ->
      "86aa8837c691ec96027615222ff81888ba55329836fea2e3f72cfe57ce596bc2")

  private val ArchivePins: Map[String, String] = Map(
    "twoRecordArchive" ->
      "a0914520a694dc867d7de62ea8492d5804261b07c8e3104481030dcd37b852f0",
    "twoMemberGzArchive" ->
      "89a28ff470e4a9b7f4ac32ce46b39f8cd0848516c75b0272c9db55fede681432")
}
