package graft.ops

import graft.Gated
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed in partition-batched
  * typed transforms (the Scala analog of `mapInPandas` batches).
  *
  * Two tiers of decode:
  *  - REAL pure-JVM decoders: BMP, PNG, PCM WAV
  *    ([[graft.kernels.MediaKernel]]) and baseline JPEG
  *    ([[graft.kernels.JpegKernel]] — full Huffman/DCT entropy decode),
  *    each graded against closed-form oracles that never see the bytes
  *    (`q_media_decode_{bmp,png,jpeg,wav}`);
  *  - a clearly-marked STUB for formats that genuinely need a codec
  *    library (MP4/video): [[decodeStub]] derives deterministic fake
  *    width/height/features from the bytes, and the Spark-side plumbing
  *    — binary schema, batch shape, partition amortization,
  *    feature-array output — is real and tested (MultimodalSpec).
  */
object MultimodalOps {

  final case class MediaRow(media_id: Long, payload: Array[Byte])
  final case class MediaFeatures(
      media_id: Long,
      byte_len: Long,
      width: Long,
      height: Long,
      fmt: String,
      features: Array[Float])

  /** STUB decoder: a real implementation would parse the container format
    * (JPEG/PNG/WAV...) here; this fake is deterministic in the payload
    * bytes so tests and oracles can bind to it.
    */
  def decodeStub(r: MediaRow): MediaFeatures = {
    val len = if (r.payload == null) 0L else r.payload.length.toLong
    val fmt = (len % 3) match {
      case 0 => "img"
      case 1 => "audio"
      case _ => "video"
    }
    // fake feature vector: 8 bucketed byte-histogram counts
    val hist = new Array[Float](8)
    if (r.payload != null) {
      var i = 0
      while (i < r.payload.length) {
        hist(((r.payload(i) & 0xFF) >> 5)) += 1f
        i += 1
      }
    }
    MediaFeatures(r.media_id, len, 320L + len % 320L, 240L + len % 240L, fmt, hist)
  }

  /** Batched decode over a binary column; one stub-decoder per partition
    * (amortization point for a real codec's native context).
    */
  def decodeAll(spark: SparkSession, media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions(it => it.map(decodeStub))
  }

  /** Oracle-checkable metadata projection: documents' text bytes stand in
    * for media payloads (ASCII ⇒ byte_len == char length, which is what
    * makes the DuckDB mirror exact).
    */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as media_id", "cast(text as binary) as payload")
      .as[MediaRow]
    decodeAll(spark, media)
      .select(col("media_id"), col("byte_len"), col("width"), col("height"), col("fmt"))
  }

  val mediaMetaSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS media_id,
      |  CAST(length(text) AS BIGINT) AS byte_len,
      |  320 + CAST(length(text) AS BIGINT) % 320 AS width,
      |  240 + CAST(length(text) AS BIGINT) % 240 AS height,
      |  CASE CAST(length(text) AS BIGINT) % 3 WHEN 0 THEN 'img' WHEN 1 THEN 'audio' ELSE 'video' END AS fmt
      |FROM documents""".stripMargin

  /** Frame-sampling plumbing (video frame-sample analog): every 16th byte
    * of the payload is a "frame"; emit frame count + a deterministic
    * checksum over the sampled bytes. Pure higher-order functions — the
    * batch shape a real frame sampler (mapInPandas equivalent) would use,
    * with the decode swapped for byte indexing.
    */
  def mediaFrames(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as media_id", "text as payload")
      .selectExpr("media_id",
        "cast(floor((length(payload) + 15) / 16) as long) as n_frames",
        """aggregate(
          |  transform(sequence(0, cast(floor((length(payload) + 15) / 16) as int) - 1),
          |    i -> cast(ascii(substring(payload, i * 16 + 1, 1)) as long)),
          |  0L, (acc, x) -> acc + x) as frame_checksum""".stripMargin)

  val mediaFramesSql: String =
    """WITH p AS (SELECT CAST(doc_id AS BIGINT) AS media_id, text AS payload FROM documents)
      |SELECT media_id,
      |  CAST((length(payload) + 15) // 16 AS BIGINT) AS n_frames,
      |  CAST(list_sum(list_transform(range(0, CAST((length(payload) + 15) // 16 AS INT)),
      |    i -> ascii(substr(payload, i * 16 + 1, 1)))) AS BIGINT) AS frame_checksum
      |FROM p""".stripMargin

  /** Feature-extraction plumbing: the stub decoder's 8-bucket byte
    * histogram exposed as columns (a real embedding model slots into
    * decodeStub's partition-batched seam). Sampled (doc_id % 50) so the
    * char-at-a-time DuckDB mirror stays cheap; the Spark side is the
    * full typed mapPartitions path.
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 50 === 0)
      .selectExpr("cast(doc_id as long) as media_id", "cast(text as binary) as payload")
      .as[MediaRow]
    decodeAll(spark, media)
      .select(col("media_id") +:
        (0 until 8).map(b => element_at(col("features"), b + 1).cast("long").as(s"f$b")): _*)
  }

  val mediaFeaturesSql: String = {
    val buckets = (0 until 8)
      .map(b => s"  CAST(len(list_filter(bs, x -> x = $b)) AS BIGINT) AS f$b")
      .mkString(",\n")
    s"""WITH s AS (SELECT CAST(doc_id AS BIGINT) AS media_id, text
       |           FROM documents WHERE doc_id % 50 = 0),
       |h AS (SELECT media_id,
       |        list_transform(range(1, length(text) + 1),
       |          i -> ascii(substr(text, i, 1)) // 32) AS bs
       |      FROM s)
       |SELECT media_id,
       |$buckets
       |FROM h""".stripMargin
  }

  /** Resize plumbing (image-resize analog): fit the stub dimensions into
    * a 224-box preserving aspect ratio, integer math only (identical in
    * both engines — no float rounding to disagree on). A real resizer
    * operates on the binary payload in the same batched seam.
    */
  def mediaResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as media_id", "cast(text as binary) as payload")
      .as[MediaRow]
    decodeAll(spark, media)
      .selectExpr("media_id", "width", "height",
        "width * 224L div greatest(width, height) as out_w",
        "height * 224L div greatest(width, height) as out_h")
  }

  val mediaResizeSql: String =
    """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
      |  320 + CAST(length(text) AS BIGINT) % 320 AS width,
      |  240 + CAST(length(text) AS BIGINT) % 240 AS height
      |FROM documents)
      |SELECT media_id, width, height,
      |  width * 224 // greatest(width, height) AS out_w,
      |  height * 224 // greatest(width, height) AS out_h
      |FROM d""".stripMargin

  // ----------------------------------------------- REAL decoders (no stub)

  /** REAL image decode: a deterministic 24bpp BMP is generated per doc
    * (MediaGen — every pixel a closed-form function of (doc_id, x, y)),
    * parsed by the pure-JVM [[graft.kernels.MediaKernel]] (row padding,
    * bottom-up flip, BGR order), and reduced to exact integer channel
    * sums plus a 4×4 nearest-neighbor resize checksum. The DuckDB oracle
    * computes the expected values from the pixel formula WITHOUT parsing
    * bytes — only a correct container parse can agree.
    */
  def mediaDecodeBmp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as media_id")
      .as[Long]
      .mapPartitions { it =>
        it.map { d =>
          val img = graft.kernels.MediaKernel
            .decodeBmp(graft.gen.MediaGen.bmpBytes(d))
            .getOrElse(throw new IllegalStateException(s"bmp decode failed for $d"))
          var sr = 0L; var sg = 0L; var sb = 0L
          var k = 0
          while (k < img.px.length) { sr += img.px(k); sg += img.px(k + 1); sb += img.px(k + 2); k += 3 }
          val small = graft.kernels.MediaKernel.resizeNearest(img, 4, 4)
          var rs = 0L
          var j = 0
          while (j < small.px.length) { rs += small.px(j); j += 3 } // red channel
          (d, img.width.toLong, img.height.toLong, sr, sg, sb, rs)
        }
      }
      .toDF("media_id", "width", "height", "sum_r", "sum_g", "sum_b", "resized_r_sum")
  }

  val mediaDecodeBmpSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS media_id,
      |  CAST(8 + doc_id % 9 AS BIGINT) AS width,
      |  CAST(5 + doc_id % 7 AS BIGINT) AS height,
      |  CAST(list_sum(list_transform(range(0, (8 + doc_id % 9) * (5 + doc_id % 7)),
      |    k -> ((k % (8 + doc_id % 9)) * 7 + (k // (8 + doc_id % 9)) * 13 + doc_id) % 256)) AS BIGINT) AS sum_r,
      |  CAST(list_sum(list_transform(range(0, (8 + doc_id % 9) * (5 + doc_id % 7)),
      |    k -> ((k % (8 + doc_id % 9)) * 3 + (k // (8 + doc_id % 9)) * 5 + 2 * doc_id) % 256)) AS BIGINT) AS sum_g,
      |  CAST(list_sum(list_transform(range(0, (8 + doc_id % 9) * (5 + doc_id % 7)),
      |    k -> ((k % (8 + doc_id % 9)) * 11 + (k // (8 + doc_id % 9)) * 2 + 3 * doc_id) % 256)) AS BIGINT) AS sum_b,
      |  CAST(list_sum(list_transform(range(0, 16),
      |    k -> (((k % 4) * (8 + doc_id % 9) // 4) * 7 + ((k // 4) * (5 + doc_id % 7) // 4) * 13 + doc_id) % 256)) AS BIGINT) AS resized_r_sum
      |FROM documents""".stripMargin

  /** REAL PNG decode: deterministic 8-bit PNGs (RGB/RGBA by parity, row
    * filters cycling all 5 tags, split IDAT, tEXt ancillary chunk) are
    * parsed by the pure-JVM chunk-walk + inflate + filter-reconstruction
    * decoder; same closed-form pixel oracle as the BMP query — identical
    * channel sums prove every filter reconstructed every byte.
    */
  def mediaDecodePng(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as media_id")
      .as[Long]
      .mapPartitions { it =>
        it.map { d =>
          val img = graft.kernels.MediaKernel
            .decodePng(graft.gen.MediaGen.pngBytes(d))
            .getOrElse(throw new IllegalStateException(s"png decode failed for $d"))
          var sr = 0L; var sg = 0L; var sb = 0L
          var k = 0
          while (k < img.px.length) { sr += img.px(k); sg += img.px(k + 1); sb += img.px(k + 2); k += 3 }
          (d, img.width.toLong, img.height.toLong, sr, sg, sb)
        }
      }
      .toDF("media_id", "width", "height", "sum_r", "sum_g", "sum_b")
  }

  val mediaDecodePngSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS media_id,
      |  CAST(8 + doc_id % 9 AS BIGINT) AS width,
      |  CAST(5 + doc_id % 7 AS BIGINT) AS height,
      |  CAST(list_sum(list_transform(range(0, (8 + doc_id % 9) * (5 + doc_id % 7)),
      |    k -> ((k % (8 + doc_id % 9)) * 7 + (k // (8 + doc_id % 9)) * 13 + doc_id) % 256)) AS BIGINT) AS sum_r,
      |  CAST(list_sum(list_transform(range(0, (8 + doc_id % 9) * (5 + doc_id % 7)),
      |    k -> ((k % (8 + doc_id % 9)) * 3 + (k // (8 + doc_id % 9)) * 5 + 2 * doc_id) % 256)) AS BIGINT) AS sum_g,
      |  CAST(list_sum(list_transform(range(0, (8 + doc_id % 9) * (5 + doc_id % 7)),
      |    k -> ((k % (8 + doc_id % 9)) * 11 + (k // (8 + doc_id % 9)) * 2 + 3 * doc_id) % 256)) AS BIGINT) AS sum_b
      |FROM documents""".stripMargin

  /** REAL audio decode: a deterministic PCM-16 WAV (with a LIST metadata
    * chunk between fmt and data, so the parser must chunk-walk) decoded
    * to exact sample stats; closed-form oracle like the BMP query.
    */
  def mediaDecodeWav(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as media_id")
      .as[Long]
      .mapPartitions { it =>
        it.map { d =>
          val au = graft.kernels.MediaKernel
            .decodeWav(graft.gen.MediaGen.wavBytes(d))
            .getOrElse(throw new IllegalStateException(s"wav decode failed for $d"))
          var absSum = 0L
          var peak = 0L
          au.samples.foreach { s =>
            val a = math.abs(s.toLong); absSum += a; if (a > peak) peak = a
          }
          (d, au.sampleRate.toLong, au.samples.length.toLong, absSum, peak)
        }
      }
      .toDF("media_id", "sample_rate", "n_samples", "abs_sum", "peak")
  }

  val mediaDecodeWavSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS media_id,
      |  CAST(8000 + 100 * (doc_id % 5) AS BIGINT) AS sample_rate,
      |  CAST(50 + doc_id % 100 AS BIGINT) AS n_samples,
      |  CAST(list_sum(list_transform(range(0, CAST(50 + doc_id % 100 AS INT)),
      |    i -> abs((i * 31 + doc_id * 17) % 2048 - 1024))) AS BIGINT) AS abs_sum,
      |  CAST(list_max(list_transform(range(0, CAST(50 + doc_id % 100 AS INT)),
      |    i -> abs((i * 31 + doc_id * 17) % 2048 - 1024))) AS BIGINT) AS peak
      |FROM documents""".stripMargin

  /** REAL JPEG decode: deterministic baseline JFIFs (4:4:4 on even ids,
    * 4:2:0 on odd; DC-exact block-constant planes; restart markers and
    * byte stuffing in the entropy stream) decoded by the pure-JVM
    * [[graft.kernels.JpegKernel]] — marker walk, general Huffman tables,
    * dequant + zigzag + IDCT, chroma upsampling, fixed-point YCbCr→RGB.
    * Closed-form channel-sum oracle: DuckDB recomputes the expected
    * pixels from (doc_id, block) arithmetic without touching bytes.
    */
  def mediaDecodeJpeg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as media_id")
      .as[Long]
      .mapPartitions { it =>
        it.map { d =>
          val img = graft.kernels.JpegKernel
            .decode(graft.gen.MediaGen.jpegBytes(d))
            .getOrElse(throw new IllegalStateException(s"jpeg decode failed for $d"))
          var sr = 0L; var sg = 0L; var sb = 0L
          var k = 0
          while (k < img.px.length) { sr += img.px(k); sg += img.px(k + 1); sb += img.px(k + 2); k += 3 }
          (d, img.width.toLong, img.height.toLong, sr, sg, sb)
        }
      }
      .toDF("media_id", "width", "height", "sum_r", "sum_g", "sum_b")
  }

  val mediaDecodeJpegSql: String =
    """WITH p AS (
      |  SELECT CAST(doc_id AS BIGINT) AS d,
      |    CASE WHEN doc_id % 2 = 1 THEN 2 * (1 + (doc_id // 2) % 2)
      |         ELSE 2 + (doc_id // 2) % 3 END AS wb,
      |    CASE WHEN doc_id % 2 = 1 THEN 2 * (1 + (doc_id // 4) % 2)
      |         ELSE 1 + (doc_id // 2) % 2 END AS hb
      |  FROM documents),
      |b AS (SELECT d, wb, hb, unnest(range(0, wb * hb)) AS k FROM p),
      |v AS (
      |  SELECT d, wb, hb, k % wb AS bx, k // wb AS by,
      |    CASE WHEN d % 2 = 1 THEN (k % wb) // 2 ELSE k % wb END AS cx,
      |    CASE WHEN d % 2 = 1 THEN (k // wb) // 2 ELSE k // wb END AS cy
      |  FROM b),
      |c AS (
      |  SELECT d, wb, hb,
      |    (bx * 37 + by * 19 + d * 5) % 256 AS y,
      |    (cx * 11 + cy * 7 + d * 3) % 128 AS cbm,
      |    (cx * 5 + cy * 23 + d * 7) % 128 AS crm
      |  FROM v),
      |px AS (
      |  SELECT d, wb, hb,
      |    least(255, greatest(0, y + (91881 * crm) // 65536)) AS r,
      |    least(255, greatest(0, y - (22554 * cbm + 46802 * crm) // 65536)) AS g,
      |    least(255, greatest(0, y + (116130 * cbm) // 65536)) AS bl
      |  FROM c)
      |SELECT d AS media_id,
      |  CAST(8 * max(wb) AS BIGINT) AS width,
      |  CAST(8 * max(hb) AS BIGINT) AS height,
      |  CAST(64 * sum(r) AS BIGINT) AS sum_r,
      |  CAST(64 * sum(g) AS BIGINT) AS sum_g,
      |  CAST(64 * sum(bl) AS BIGINT) AS sum_b
      |FROM px GROUP BY d""".stripMargin

  /** REAL GIF decode: deterministic GIF89a fixtures (4/8/16-color
    * palettes, REAL LZW compression, interlaced on odd ids, extension
    * blocks to skip) through the pure-JVM [[graft.kernels.GifKernel]];
    * same closed-form channel-sum oracle scheme as BMP/PNG/JPEG.
    */
  def mediaDecodeGif(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("cast(doc_id as long) as media_id")
      .as[Long]
      .mapPartitions { it =>
        it.map { d =>
          val img = graft.kernels.GifKernel
            .decode(graft.gen.MediaGen.gifBytes(d))
            .getOrElse(throw new IllegalStateException(s"gif decode failed for $d"))
          var sr = 0L; var sg = 0L; var sb = 0L
          var k = 0
          while (k < img.px.length) { sr += img.px(k); sg += img.px(k + 1); sb += img.px(k + 2); k += 3 }
          (d, img.width.toLong, img.height.toLong, sr, sg, sb)
        }
      }
      .toDF("media_id", "width", "height", "sum_r", "sum_g", "sum_b")
  }

  val mediaDecodeGifSql: String =
    """WITH p AS (
      |  SELECT CAST(doc_id AS BIGINT) AS d,
      |    5 + doc_id % 11 AS w, 4 + doc_id % 9 AS h,
      |    CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 8 ELSE 16 END AS nc
      |  FROM documents),
      |q AS (SELECT d, w, h, nc, unnest(range(0, w * h)) AS k FROM p),
      |i AS (SELECT d, w, h, ((k % w) * 3 + (k // w) * 7 + d) % nc AS ci FROM q)
      |SELECT d AS media_id,
      |  CAST(max(w) AS BIGINT) AS width, CAST(max(h) AS BIGINT) AS height,
      |  CAST(sum((ci * 53 + d) % 256) AS BIGINT) AS sum_r,
      |  CAST(sum((ci * 29 + 2 * d) % 256) AS BIGINT) AS sum_g,
      |  CAST(sum((ci * 97 + 3 * d) % 256) AS BIGINT) AS sum_b
      |FROM i GROUP BY d""".stripMargin

  def registry: Map[String, Gated] = Map(
    "q_media_meta" -> Gated(mediaMeta(_, _), mediaMetaSql),
    "q_media_frames" -> Gated(mediaFrames(_, _), mediaFramesSql),
    "q_media_features" -> Gated(mediaFeatures(_, _), mediaFeaturesSql),
    "q_media_resize" -> Gated(mediaResize(_, _), mediaResizeSql),
    "q_media_decode_bmp" -> Gated(mediaDecodeBmp(_, _), mediaDecodeBmpSql),
    "q_media_decode_png" -> Gated(mediaDecodePng(_, _), mediaDecodePngSql),
    "q_media_decode_jpeg" -> Gated(mediaDecodeJpeg(_, _), mediaDecodeJpegSql),
    "q_media_decode_gif" -> Gated(mediaDecodeGif(_, _), mediaDecodeGifSql),
    "q_media_decode_wav" -> Gated(mediaDecodeWav(_, _), mediaDecodeWavSql))
}
