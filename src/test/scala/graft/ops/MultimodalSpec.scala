package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("ingest attaches typed metadata with byte-accurate n_bytes") {
    val df = Seq((1L, "hello")).toDF("id", "txt")
      .select(col("id"), encode(col("txt"), "UTF-8").as("payload"))
    val got = Multimodal.ingest(df, "payload", "image", "image/png")
    val r = got.select("meta.modality", "meta.mime", "meta.n_bytes").collect()(0)
    assert(r.getString(0) === "image")
    assert(r.getString(1) === "image/png")
    assert(r.getLong(2) === 5L)
  }

  test("embedStub: deterministic payload embeddings feed the near-dup family") {
    val df = ((1 to 40).map(i => (i.toLong, s"unique document number $i")) ++
      Seq((100L, "unique document number 7"), (101L, "unique document number 9")))
      .toDF("id", "txt")
      .select(col("id"), encode(col("txt"), "UTF-8").as("payload"))
      .withColumn("emb", Multimodal.embedStub(col("payload"), 8))
    // identical payloads → identical embeddings; all components in [-1, 1)
    val vals = df.select(explode(col("emb"))).collect().map(_.getDouble(0))
    assert(vals.forall(v => v >= -1.0 && v < 1.0))
    // composition: exact-duplicate payloads found by bucketed near-dup
    val pairs = Similarity.cosineNearDupBucketed(df, "id", "emb", 0.9999999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((7L, 100L), (9L, 101L)))
  }

  test("decode pass fills deterministic stub dimensions in valid ranges") {
    val df = Seq((1L, "abc"), (2L, "abc"), (3L, "other")).toDF("id", "txt")
      .select(col("id"), encode(col("txt"), "UTF-8").as("payload"))
    val got = Multimodal.decode(Multimodal.ingest(df, "payload", "image", "image/png"), "payload")
      .select(col("id"), col("decoded.width"), col("decoded.height"), col("decoded.duration_ms"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
    assert(got(1L) === got(2L))        // same payload → same decode
    assert(got(1L) !== got(3L))
    got.values.foreach { case (w, h, d) =>
      assert(w >= 64 && w < 64 + 1985); assert(h >= 64 && h < 64 + 1985)
      assert(d >= 1000L && d < 601000L)
    }
  }

  test("parseImageHeader reads real PNG and JPEG headers; rejects non-images") {
    assert(Multimodal.parseImageHeader(Multimodal.pngFixture(640, 480))
      === Some(("image/png", 640, 480)))
    assert(Multimodal.parseImageHeader(Multimodal.jpegFixture(1920, 1080))
      === Some(("image/jpeg", 1920, 1080)))
    // extreme dims survive the byte packing
    assert(Multimodal.parseImageHeader(Multimodal.pngFixture(1, 65535))
      === Some(("image/png", 1, 65535)))
    assert(Multimodal.parseImageHeader(Multimodal.jpegFixture(65535, 1))
      === Some(("image/jpeg", 65535, 1)))
    // JPEG with a leading APPn segment before the SOF still parses
    val jf = Multimodal.jpegFixture(320, 240)
    val app0 = Array(0xff, 0xe0, 0x00, 0x04, 0x4a, 0x46).map(_.toByte)
    val withApp = jf.take(2) ++ app0 ++ jf.drop(2)
    assert(Multimodal.parseImageHeader(withApp) === Some(("image/jpeg", 320, 240)))
    // non-images reject → stub fallback path
    assert(Multimodal.parseImageHeader("plain text".getBytes("UTF-8")) === None)
    assert(Multimodal.parseImageHeader(null) === None)
    assert(Multimodal.parseImageHeader(Array[Byte](0xff.toByte, 0xd8.toByte)) === None)
    // truncated payload ending in 0xff fill bytes must reject, not AIOOBE
    assert(Multimodal.parseImageHeader(
      Array(0xff, 0xd8, 0xff, 0xff, 0xff, 0xff).map(_.toByte)) === None)
    assert(Multimodal.parseImageHeader(
      Array(0xff, 0xd8, 0xff, 0xc0, 0x00).map(_.toByte)) === None)
    // a real PNG encoder agrees: round-trip through javax.imageio
    val img = new java.awt.image.BufferedImage(17, 23,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    assert(Multimodal.parseImageHeader(bos.toByteArray) === Some(("image/png", 17, 23)))
  }

  test("parseImageHeader reads GIF and BMP headers (imageio cross-check)") {
    // GIF: hand-rolled header (LE u16 dims)
    val gif = ("GIF89a".getBytes("US-ASCII") ++
      Array(0x40, 0x01, 0xf0, 0x00).map(_.toByte)) // 320 x 240
    assert(Multimodal.parseImageHeader(gif) === Some(("image/gif", 320, 240)))
    assert(Multimodal.parseImageHeader("GIF89a".getBytes("US-ASCII")) === None)
    // real encoders agree
    for ((fmt, mime) <- Seq("gif" -> "image/gif", "bmp" -> "image/bmp")) {
      val img = new java.awt.image.BufferedImage(33, 21,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      assert(Multimodal.parseImageHeader(bos.toByteArray) === Some((mime, 33, 21)), fmt)
    }
    // top-down BMP (negative height) reports |h|
    val img = new java.awt.image.BufferedImage(8, 6,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    val bmp = bos.toByteArray
    val negH = -6
    bmp(22) = (negH & 0xff).toByte; bmp(23) = ((negH >> 8) & 0xff).toByte
    bmp(24) = ((negH >> 16) & 0xff).toByte; bmp(25) = ((negH >> 24) & 0xff).toByte
    assert(Multimodal.parseImageHeader(bmp) === Some(("image/bmp", 8, 6)))
  }

  test("parseImageHeader reads TIFF (both endiannesses, imageio cross-check)") {
    // real encoder round-trip (ImageIO writes little-endian TIFF)
    val img = new java.awt.image.BufferedImage(47, 31,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "tiff", bos)
    assert(Multimodal.parseImageHeader(bos.toByteArray) === Some(("image/tiff", 47, 31)))
    // hand-rolled big-endian: MM + 42, IFD at 8 with width/height SHORTs
    val out = new java.io.ByteArrayOutputStream()
    def be16(v: Int): Unit = { out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
    def be32(v: Int): Unit = { be16(v >>> 16); be16(v & 0xffff) }
    out.write('M'); out.write('M'); be16(42); be32(8)
    be16(2) // two IFD entries
    be16(256); be16(3); be32(1); be16(640); be16(0)   // width SHORT
    be16(257); be16(3); be32(1); be16(480); be16(0)   // height SHORT
    be32(0) // next-IFD terminator
    assert(Multimodal.parseImageHeader(out.toByteArray) === Some(("image/tiff", 640, 480)))
    // truncated / bad magic reject
    assert(Multimodal.parseTiffHeader(out.toByteArray.take(10)) === None)
    assert(Multimodal.parseImageHeader("IIxx".getBytes("US-ASCII")) === None)
  }

  test("decode parses real image payloads and stubs the rest (mixed batch)") {
    val rows = Seq(
      (1L, Multimodal.pngFixture(800, 600)),
      (2L, Multimodal.jpegFixture(101, 99)),
      (3L, "not an image".getBytes("UTF-8")))
      .toDF("id", "payload")
    val got = Multimodal.decode(
        Multimodal.ingest(rows, "payload", "image", "image/*"), "payload")
      .select(col("id"), col("decoded.width"), col("decoded.height"),
        col("decoded.duration_ms"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(got(1L) === ((800, 600, None)))   // parsed, no duration
    assert(got(2L) === ((101, 99, None)))
    val (sw, sh, sd) = Multimodal.stubDecode("not an image".getBytes("UTF-8"))
    assert(got(3L) === ((sw, sh, Some(sd)))) // stub fallback
  }

  test("wav header: fixture round-trips, durations exact, garbage rejected") {
    // 2ch 16 kHz, 3.5 s → dataBytes = 64000 * 3.5 = 224000
    val wav = Multimodal.wavFixture(2, 16000, 224000L)
    assert(wav.length === 44)
    assert(Multimodal.parseWavHeader(wav) === Some(("audio/wav", 2, 16000, 3500L)))
    // 1ch 8 kHz, 1 ms resolution
    assert(Multimodal.parseWavHeader(Multimodal.wavFixture(1, 8000, 16L)) ===
      Some(("audio/wav", 1, 8000, 1L)))
    // not RIFF / truncated / non-PCM → None (falls to stub in decode)
    assert(Multimodal.parseWavHeader("RIFFnope".getBytes("UTF-8")) === None)
    assert(Multimodal.parseWavHeader(wav.take(43)) === None)
    val nonPcm = wav.clone(); nonPcm(20) = 3 // IEEE-float format tag
    assert(Multimodal.parseWavHeader(nonPcm) === None)
  }

  test("decode routes wav payloads through the real audio parser") {
    val rows = Seq(
      (1L, Multimodal.wavFixture(1, 48000, 96000L * 2)), // 2 s mono 48 kHz
      (2L, Multimodal.pngFixture(10, 20)),
      (3L, "neither".getBytes("UTF-8")))
      .toDF("id", "payload")
    val got = Multimodal.decode(rows, "payload")
      .select(col("id"), col("decoded.duration_ms"), col("decoded.channels"),
        col("decoded.sample_rate"), col("decoded.width"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))).toMap
    assert(got(1L) === ((Some(2000L), Some(1), Some(48000), None)))
    assert(got(2L)._4 === Some(10))          // image path untouched
    assert(got(2L)._2 === None)              // no channels for images
    assert(got(3L)._2 === None)              // stub: no channels either
    assert(got(3L)._1.isDefined)             // stub fills a duration
  }

  test("flac header: fixture round-trips, durations exact, garbage rejected") {
    val flac = Multimodal.flacFixture(2, 48000, 48000L * 7 / 2) // 3.5 s stereo
    assert(flac.length === 42)
    assert(Multimodal.parseFlacHeader(flac) === Some(("audio/flac", 2, 48000, 3500L)))
    // 36-bit sample counts survive
    assert(Multimodal.parseFlacHeader(Multimodal.flacFixture(1, 8000, (1L << 35) + 8))
      === Some(("audio/flac", 1, 8000, ((1L << 35) + 8) * 1000L / 8000)))
    assert(Multimodal.parseFlacHeader("fLaCnope".getBytes("UTF-8")) === None)
    assert(Multimodal.parseFlacHeader(flac.take(41)) === None)
    val nonInfo = flac.clone(); nonInfo(4) = 0x84.toByte // first block type 4
    assert(Multimodal.parseFlacHeader(nonInfo) === None)
    // decode routes it down the audio column set
    val got = Multimodal.decode(Seq((1L, flac)).toDF("id", "payload"), "payload")
      .select(col("decoded.channels"), col("decoded.sample_rate"),
        col("decoded.duration_ms"), col("decoded.width")).collect()(0)
    assert((got.getInt(0), got.getInt(1), got.getLong(2), got.isNullAt(3))
      === ((2, 48000, 3500L, true)))
  }

  test("mp4 header: fixture round-trips, malformed boxes terminate, garbage rejected") {
    val mp4 = Multimodal.mp4Fixture(1920, 1080, 73500L)
    assert(mp4.length === 232)
    assert(Multimodal.parseMp4Header(mp4) === Some(("video/mp4", 1920, 1080, 73500L)))
    // millisecond resolution survives (timescale 1000)
    assert(Multimodal.parseMp4Header(Multimodal.mp4Fixture(160, 90, 1001L)) ===
      Some(("video/mp4", 160, 90, 1001L)))
    // not BMFF / truncated / missing moov → None (falls to stub in decode)
    assert(Multimodal.parseMp4Header("not a video at all ...".getBytes("UTF-8")) === None)
    assert(Multimodal.parseMp4Header(mp4.take(40)) === None)
    assert(Multimodal.parseMp4Header(mp4.take(16)) === None) // ftyp alone: no mvhd/tkhd
    // malformed box size (0xFFFFFFF8 would truncate negative in Int
    // arithmetic) must terminate the walk, not loop or throw
    val bad = mp4.clone()
    bad(16) = 0xff.toByte; bad(17) = 0xff.toByte
    bad(18) = 0xff.toByte; bad(19) = 0xf8.toByte // moov size → garbage
    assert(Multimodal.parseMp4Header(bad) === None)
    // size-0 (to-end) moov still parses: walk bounded by payload end
    val toEnd = mp4.clone()
    toEnd(16) = 0; toEnd(17) = 0; toEnd(18) = 0; toEnd(19) = 0
    assert(Multimodal.parseMp4Header(toEnd) === Some(("video/mp4", 1920, 1080, 73500L)))
  }

  test("decode routes mp4 payloads through the real video parser") {
    val rows = Seq(
      (1L, Multimodal.mp4Fixture(640, 360, 15000L)),
      (2L, Multimodal.wavFixture(1, 8000, 16000L)),
      (3L, "neither".getBytes("UTF-8")))
      .toDF("id", "payload")
    val got = Multimodal.decode(rows, "payload")
      .select(col("id"), col("decoded.width"), col("decoded.height"),
        col("decoded.duration_ms"), col("decoded.channels"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))).toMap
    assert(got(1L) === ((Some(640), Some(360), Some(15000L), None)))
    assert(got(2L) === ((None, None, Some(1000L), Some(1)))) // audio untouched
    assert(got(3L)._1.isDefined && got(3L)._4 === None)      // stub fallback
  }

  test("decodePngLuma: pixel-exact round-trip across encoder filter types") {
    for (ft <- 0 to 2) {
      val png = Multimodal.pngPixelFixture(13, 7, seed0 = 91, seed1 = 17, filterType = ft)
      val Some((w, h, lum)) = Multimodal.decodePngLuma(png)
      assert((w, h) === ((13, 7)))
      val want = (0 until 13 * 7).map(i => ((91 + i * 17) % 256).toByte)
      assert(lum.toSeq === want, s"filterType=$ft")
    }
    // garbage / header-only / truncated → None (md5 fallback path)
    assert(Multimodal.decodePngLuma("not a png".getBytes("UTF-8")) === None)
    assert(Multimodal.decodePngLuma(Multimodal.pngFixture(4, 4)) === None) // no IDAT
    val png = Multimodal.pngPixelFixture(8, 8, 0, 1)
    assert(Multimodal.decodePngLuma(png.take(png.length - 20)) === None)
  }

  test("decodePngLuma agrees with a real encoder (javax.imageio, gray + RGB)") {
    // gray: checkerboard of known bytes; ImageIO picks its own filters,
    // exercising the Up/Average/Paeth reversal paths
    val gimg = new java.awt.image.BufferedImage(19, 11,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 11; x <- 0 until 19) {
      val v = (x * 13 + y * 31) % 256
      gimg.getRaster.setSample(x, y, 0, v)
    }
    val gbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(gimg, "png", gbos)
    val Some((gw, gh, glum)) = Multimodal.decodePngLuma(gbos.toByteArray)
    assert((gw, gh) === ((19, 11)))
    val gwant = for (y <- 0 until 11; x <- 0 until 19) yield ((x * 13 + y * 31) % 256).toByte
    assert(glum.toSeq === gwant)
    // RGB: BT.709 integer luminance of known channels
    val cimg = new java.awt.image.BufferedImage(9, 5,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 9)
      cimg.setRGB(x, y, ((x * 20) << 16) | ((y * 40) << 8) | 200)
    val cbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(cimg, "png", cbos)
    val Some((cw, ch, clum)) = Multimodal.decodePngLuma(cbos.toByteArray)
    assert((cw, ch) === ((9, 5)))
    val cwant = for (y <- 0 until 5; x <- 0 until 9)
      yield ((2126 * (x * 20) + 7152 * (y * 40) + 722 * 200) / 10000).toByte
    assert(clum.toSeq === cwant)
  }

  test("embedImage: content-real histograms bridge byte-distinct twins to near-dup") {
    // same pixels, different encoder filters → different payload bytes
    val twinA = Multimodal.pngPixelFixture(16, 16, 40, 7, filterType = 0)
    val twinB = Multimodal.pngPixelFixture(16, 16, 40, 7, filterType = 1)
    assert(!java.util.Arrays.equals(twinA, twinB)) // md5 embedding would split them
    val rows = (Seq((1L, twinA), (2L, twinB),
      // step 32 shares a factor with 256 → only 8 luminance residues, a
      // genuinely different (non-uniform) histogram from the twins'
      (3L, Multimodal.pngPixelFixture(16, 16, 200, 32)),
      (4L, "not an image".getBytes("UTF-8"))))             // md5 fallback
      .toDF("id", "payload")
      .withColumn("emb", Multimodal.embedImage(col("payload"), 16))
    val embs = rows.select(col("id"), col("emb")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(embs(1L) === embs(2L))            // visually identical → identical vectors
    assert(embs(1L) !== embs(3L))
    assert(math.abs(embs(1L).sum - 1.0) < 1e-9) // fractions sum to 1
    assert(embs(4L).size === 16)             // fallback keeps the contract
    val pairs = Similarity.cosineNearDupBucketed(rows, "id", "emb", 0.9999999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))          // the twins bucket together
  }

  test("decodeWavPcm + embedAudio: sample-exact round-trip; content-real " +
    "histograms bridge byte-distinct twins; header-only payloads fall back") {
    // same seeded sample stream, different container metadata → the
    // payload bytes differ but the content does not
    val twinA = Multimodal.wavPcmFixture(1, 8000, 300, 40, 7)
    val twinB = Multimodal.wavPcmFixture(2, 16000, 300, 40, 7)
    assert(!java.util.Arrays.equals(twinA, twinB))
    val (ch, rate, samples) = Multimodal.decodeWavPcm(twinA).get
    assert(ch === 1 && rate === 8000 && samples.length === 300)
    samples.zipWithIndex.foreach { case (s, i) =>
      assert(s === ((40L + i.toLong * 7) % 65536).toInt - 32768)
    }
    // a header-only wav declaring an absent body must NOT pixel-decode
    // (the metadata readers own those), and garbage must not either
    assert(Multimodal.decodeWavPcm(Multimodal.wavFixture(1, 8000, 1000)).isEmpty)
    assert(Multimodal.decodeWavPcm("not audio".getBytes("UTF-8")).isEmpty)
    val rows = Seq((1L, twinA), (2L, twinB),
      // seed1 = 4096 shares a factor with 65536 → only 16 amplitude
      // residues, a genuinely different (non-uniform) histogram
      (3L, Multimodal.wavPcmFixture(1, 8000, 300, 7, 4096)),
      (4L, Multimodal.flacFixture(1, 8000, 100)),  // no frames: md5 fallback
      (5L, "not audio".getBytes("UTF-8")))         // md5 fallback
      .toDF("id", "payload")
      .withColumn("emb", Multimodal.embedAudio(col("payload"), 16))
    val embs = rows.select(col("id"), col("emb")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(embs(1L) === embs(2L))           // same samples → identical vectors
    assert(embs(1L) !== embs(3L))
    assert(math.abs(embs(1L).sum - 1.0) < 1e-9)
    assert(embs(4L).size === 16 && embs(5L).size === 16) // fallback contract
    val pairs = Similarity.cosineNearDupBucketed(rows, "id", "emb", 0.9999999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))         // the twins bucket together
  }

  test("decodeY4mLuma + embedVideo: pixel-exact round-trip across frames; " +
    "content-real histograms bridge container-distinct twins; " +
    "compressed codecs fall back") {
    // same seeded frame rasters, different container parameters (frame
    // rate, X tag) → md5-distinct payloads, identical content
    val twinA = Multimodal.y4mFixture(12, 10, 3, 40, 7, fpsNum = 25)
    val twinB = Multimodal.y4mFixture(12, 10, 3, 40, 7, fpsNum = 30, xtag = "GRAFT")
    assert(!java.util.Arrays.equals(twinA, twinB))
    val (w, h, nf, luma) = Multimodal.decodeY4mLuma(twinA).get
    assert(w === 12 && h === 10 && nf === 3 && luma.length === 360)
    luma.zipWithIndex.foreach { case (b, j) =>
      assert((b & 0xff) === ((40L + j.toLong * 7) % 256).toInt)
    }
    // header metadata: duration = nFrames / fps; rate-only twins differ
    // in DURATION but not in content
    assert(Multimodal.parseY4mHeader(twinA).get === ("video/x-yuv4mpeg", 12, 10, 120L))
    assert(Multimodal.parseY4mHeader(twinB).get === ("video/x-yuv4mpeg", 12, 10, 100L))
    // 420 chroma planes are skipped, not decoded: a C420 stream with
    // the same luma decodes to the same pixels
    val c420 = {
      val head = s"YUV4MPEG2 W12 H10 F25:1 Ip A1:1 C420jpeg\n"
        .getBytes("US-ASCII")
      val out = new java.io.ByteArrayOutputStream()
      out.write(head, 0, head.length)
      (0 until 3).foreach { f =>
        out.write("FRAME\n".getBytes("US-ASCII"), 0, 6)
        (0 until 120).foreach(i => out.write(((40L + (f * 120 + i).toLong * 7) % 256).toInt))
        (0 until 60).foreach(_ => out.write(128)) // U + V planes
      }
      out.toByteArray
    }
    assert(Multimodal.decodeY4mLuma(c420).get._4.toSeq === luma.toSeq)
    // truncated frame body and zero-frame streams are corrupt, not content
    assert(Multimodal.decodeY4mLuma(twinA.dropRight(1)).isEmpty)
    assert(Multimodal.parseY4mHeader(twinA.dropRight(1)).isEmpty)
    assert(Multimodal.decodeY4mLuma(
      "YUV4MPEG2 W12 H10 F25:1 Cmono\n".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.decodeY4mLuma("not video".getBytes("UTF-8")).isEmpty)
    val rows = Seq((1L, twinA), (2L, twinB),
      // seed1 = 32 shares a factor with 256 → only 8 luminance
      // residues, a genuinely different (non-uniform) histogram
      (3L, Multimodal.y4mFixture(12, 10, 3, 200, 32)),
      (4L, Multimodal.mp4Fixture(640, 360, 5000)), // compressed container: md5 fallback
      (5L, "not video".getBytes("UTF-8")))         // md5 fallback
      .toDF("id", "payload")
      .withColumn("emb", Multimodal.embedVideo(col("payload"), 16))
    val embs = rows.select(col("id"), col("emb")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(embs(1L) === embs(2L))           // same frames → identical vectors
    assert(embs(1L) !== embs(3L))
    assert(math.abs(embs(1L).sum - 1.0) < 1e-9)
    assert(embs(4L).size === 16 && embs(5L).size === 16) // fallback contract
    val pairs = Similarity.cosineNearDupBucketed(rows, "id", "emb", 0.9999999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))         // the twins bucket together
  }

  test("decodePngLuma rejects a preset-dictionary (FDICT) zlib stream instead of spinning") {
    // valid PNG framing, IDAT = zlib header 0x78 0x20 (FDICT set, check
    // bits valid: (0x78*256+0x20) % 31 == 0) + dict id + garbage; the
    // inflater reports needsDictionary() with zero progress — must
    // return None, not loop
    val good = Multimodal.pngPixelFixture(4, 4, 0, 1)
    val out = new java.io.ByteArrayOutputStream()
    out.write(good, 0, 33) // signature + IHDR chunk (8 + 25)
    val idat = Array(0x78, 0x20, 0x01, 0x02, 0x03, 0x04, 0x55, 0x66).map(_.toByte)
    def be32(v: Int): Unit = {
      out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
      out.write((v >>> 8) & 0xff); out.write(v & 0xff)
    }
    be32(idat.length); out.write("IDAT".getBytes("US-ASCII")); out.write(idat); be32(0)
    be32(0); out.write("IEND".getBytes("US-ASCII")); be32(0)
    assert(Multimodal.decodePngLuma(out.toByteArray) === None)
  }

  test("parseMp4Header rejects a v1 duration that would overflow the ms conversion") {
    // hand-rolled ftyp + moov{mvhd v1} with duration 2^60: duration*1000
    // wraps Long — must reject, not emit garbage metadata
    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Long): Unit = {
      out.write(((v >>> 24) & 0xff).toInt); out.write(((v >>> 16) & 0xff).toInt)
      out.write(((v >>> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
    def be64(v: Long): Unit = { be32(v >>> 32); be32(v & 0xffffffffL) }
    def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    be32(16L); ascii("ftyp"); ascii("isom"); be32(0x200L)
    // mvhd v1 payload: ver/flags 4 + times 16 + timescale 4 + duration 8
    // + rate/vol/rsvd/matrix/predef/next 76 = 108 → box 116; moov 124
    be32(124L); ascii("moov")
    be32(116L); ascii("mvhd"); out.write(1); out.write(0); out.write(0); out.write(0)
    be64(0L); be64(0L); be32(1000L); be64(1L << 60)
    (0 until 19).foreach(_ => be32(0L))
    // tkhd absent → width 0 rejects anyway, but the duration bound must
    // trip FIRST on the Long arithmetic, not after a wrap
    assert(Multimodal.parseMp4Header(out.toByteArray) === None)
    // sane v0 fixture still parses (guard didn't over-reject)
    assert(Multimodal.parseMp4Header(Multimodal.mp4Fixture(64, 64, 2000L)).isDefined)
  }

  test("stubDecode matches the JVM-side ground truth of the oracle formula") {
    val (w, h, d) = Multimodal.stubDecode("hello".getBytes("UTF-8"))
    val digest = java.security.MessageDigest.getInstance("MD5").digest("hello".getBytes("UTF-8"))
    def u(i: Int) = digest(i) & 0xff
    assert(w === 64 + (u(0) * 256 + u(1)) % 1985)
    assert(h === 64 + (u(2) * 256 + u(3)) % 1985)
    assert(d === 1000L + (u(4).toLong * 65536 + u(5) * 256 + u(6)) % 600000L)
  }
}
