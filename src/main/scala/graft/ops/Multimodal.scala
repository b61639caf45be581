package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads carried as
  * opaque `binary` columns with a typed metadata struct, processed in
  * batches via `mapPartitions`.
  *
  * Image decode is REAL: [[parseImageHeader]] reads PNG IHDR and JPEG
  * SOFn headers byte-by-byte (public formats, deterministic, no
  * library needed). Modalities whose codecs this container genuinely
  * lacks (audio/video) fall back to [[stubDecode]], which derives
  * deterministic fake metadata from the payload's md5 — so the
  * Spark-side contract (schema, batch shape, partitioning, null
  * behavior) is real and tested while those codecs stay swappable.
  *
  * Scale notes: payloads never enter a shuffle key (metadata-only
  * projections are pushed before any groupBy/join).
  */
object Multimodal {

  /** Wrap a raw binary column into (payload, meta) with byte-accurate
    * n_bytes and everything codec-derived left null (to be filled by a
    * decode pass). meta = (modality: image | audio | video | text, mime,
    * n_bytes, width, height, duration_ms); width/height are set for
    * image/video, duration_ms for audio/video. */
  def ingest(df: DataFrame, binCol: String, modality: String, mime: String): DataFrame =
    df.withColumn("meta", struct(
      lit(modality).as("modality"), lit(mime).as("mime"),
      octet_length(col(binCol)).cast(LongType).as("n_bytes"),
      lit(null).cast(IntegerType).as("width"),
      lit(null).cast(IntegerType).as("height"),
      lit(null).cast(LongType).as("duration_ms")))

  /** Parse image dimensions from REAL payload headers — the public
    * byte layouts of PNG (8-byte signature, then the mandatory first
    * IHDR chunk: width/height as big-endian u32 at offsets 16/20),
    * JPEG (SOI, then a marker-segment walk to the first SOFn frame
    * header: height/width as big-endian u16 at segment offsets 5/7),
    * GIF87a/89a (LE u16 logical-screen dims at offsets 6/8) and BMP
    * (BITMAPINFOHEADER: LE i32 dims at 18/22, top-down negative
    * heights normalized to |h|). Returns (mime, width, height); None
    * for anything that is not a recognizable image — callers fall back
    * to [[stubDecode]]. CRCs are not validated — this is a header
    * reader, not a verifier. */
  def parseImageHeader(p: Array[Byte]): Option[(String, Int, Int)] = {
    if (p == null || p.length < 4) return None
    def u(i: Int): Int = p(i) & 0xff
    // GIF87a/89a: 6-byte signature then LE u16 logical-screen w/h
    if (p.length >= 10 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F' &&
        p(3) == '8' && (p(4) == '7' || p(4) == '9') && p(5) == 'a') {
      val w = u(6) | (u(7) << 8)
      val h = u(8) | (u(9) << 8)
      return if (w > 0 && h > 0) Some(("image/gif", w, h)) else None
    }
    // TIFF: endian-marked IFD walk (II/MM + magic 42)
    if ((p(0) == 'I' && p(1) == 'I') || (p(0) == 'M' && p(1) == 'M'))
      return parseTiffHeader(p)
    // BMP: "BM" + BITMAPINFOHEADER (size ≥ 40 at offset 14): LE i32 w/h
    // at 18/22; height may be negative (top-down rows) — take |h|
    if (p.length >= 26 && p(0) == 'B' && p(1) == 'M' &&
        (u(14) | (u(15) << 8) | (u(16) << 16) | (u(17) << 24)) >= 40) {
      val w = u(18) | (u(19) << 8) | (u(20) << 16) | (u(21) << 24)
      val h = u(22) | (u(23) << 8) | (u(24) << 16) | (u(25) << 24)
      return if (w > 0 && h != 0 && h != Int.MinValue)
        Some(("image/bmp", w, math.abs(h))) else None
    }
    if (p.length >= 24 &&
        u(0) == 0x89 && u(1) == 0x50 && u(2) == 0x4e && u(3) == 0x47 &&
        u(4) == 0x0d && u(5) == 0x0a && u(6) == 0x1a && u(7) == 0x0a &&
        p(12) == 'I' && p(13) == 'H' && p(14) == 'D' && p(15) == 'R') {
      val w = (u(16) << 24) | (u(17) << 16) | (u(18) << 8) | u(19)
      val h = (u(20) << 24) | (u(21) << 16) | (u(22) << 8) | u(23)
      Some(("image/png", w, h))
    } else if (u(0) == 0xff && u(1) == 0xd8) {
      var i = 2
      while (i + 3 < p.length) {
        if (u(i) != 0xff) return None
        var m = u(i + 1)
        while (m == 0xff && i + 2 < p.length) { i += 1; m = u(i + 1) }
        // a trailing run of 0xff fill bytes (truncated payload) must
        // reject, not read past the array
        if (m == 0xff || i + 3 >= p.length) return None
        if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2 // standalone markers
        else if (m == 0xd9 || m == 0xda) return None      // EOI/SOS before any SOF
        else {
          val len = (u(i + 2) << 8) | u(i + 3)
          if (len < 2) return None
          // SOF0..SOF15 minus DHT(C4)/JPG(C8)/DAC(CC)
          if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
            if (i + 8 >= p.length) return None
            val h = (u(i + 5) << 8) | u(i + 6)
            val w = (u(i + 7) << 8) | u(i + 8)
            return Some(("image/jpeg", w, h))
          }
          i += 2 + len
        }
      }
      None
    } else None
  }

  /** Parse TIFF dimensions — the public layout: a 2-char byte-order
    * mark ("II" little / "MM" big endian), magic 42, then the first
    * image file directory (IFD): a u16 entry count and 12-byte entries
    * of (tag u16, type u16, count u32, value-or-offset u32). Width is
    * tag 256, height tag 257, carried inline as SHORT (type 3, first
    * two value bytes in file endianness) or LONG (type 4). Returns
    * (mime, width, height); None for anything malformed — same
    * header-reader contract as [[parseImageHeader]], which dispatches
    * here. */
  def parseTiffHeader(p: Array[Byte]): Option[(String, Int, Int)] = {
    if (p == null || p.length < 14) return None
    def u(i: Int): Int = p(i) & 0xff
    val le =
      if (p(0) == 'I' && p(1) == 'I') true
      else if (p(0) == 'M' && p(1) == 'M') false
      else return None
    def u16(i: Int): Int =
      if (le) u(i) | (u(i + 1) << 8) else (u(i) << 8) | u(i + 1)
    def u32(i: Int): Long =
      if (le) u(i).toLong | (u(i + 1).toLong << 8) | (u(i + 2).toLong << 16) | (u(i + 3).toLong << 24)
      else (u(i).toLong << 24) | (u(i + 1).toLong << 16) | (u(i + 2).toLong << 8) | u(i + 3).toLong
    if (u16(2) != 42) return None
    val ifd = u32(4)
    if (ifd < 8 || ifd > p.length - 2) return None
    val base = ifd.toInt
    val nEntries = u16(base)
    if (base + 2 + nEntries * 12 > p.length) return None
    var w = 0; var h = 0
    var e = 0
    while (e < nEntries && (w == 0 || h == 0)) {
      val off = base + 2 + e * 12
      val tag = u16(off)
      if (tag == 256 || tag == 257) {
        val typ = u16(off + 2)
        val cnt = u32(off + 4)
        val v: Long =
          if (typ == 3 && cnt == 1) u16(off + 8).toLong // SHORT rides the first 2 value bytes
          else if (typ == 4 && cnt == 1) u32(off + 8)
          else return None
        if (v <= 0 || v > Int.MaxValue) return None
        if (tag == 256) w = v.toInt else h = v.toInt
      }
      e += 1
    }
    if (w > 0 && h > 0) Some(("image/tiff", w, h)) else None
  }

  /** Minimal VALID PNG (signature + 8-bit grayscale IHDR with a real
    * CRC32 + empty IEND; 45 bytes) — the deterministic image fixture
    * for specs and the oracle-replayable q31 parse check. */
  def pngFixture(width: Int, height: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(45)
    def be32(v: Long): Unit = {
      out.write(((v >>> 24) & 0xff).toInt); out.write(((v >>> 16) & 0xff).toInt)
      out.write(((v >>> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
    def chunk(tag: String, data: Array[Byte]): Unit = {
      be32(data.length.toLong)
      val body = tag.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ data
      out.write(body, 0, body.length)
      val crc = new java.util.zip.CRC32
      crc.update(body)
      be32(crc.getValue)
    }
    out.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), 0, 8)
    val ihdr = new Array[Byte](13)
    ihdr(0) = ((width >>> 24) & 0xff).toByte; ihdr(1) = ((width >>> 16) & 0xff).toByte
    ihdr(2) = ((width >>> 8) & 0xff).toByte; ihdr(3) = (width & 0xff).toByte
    ihdr(4) = ((height >>> 24) & 0xff).toByte; ihdr(5) = ((height >>> 16) & 0xff).toByte
    ihdr(6) = ((height >>> 8) & 0xff).toByte; ihdr(7) = (height & 0xff).toByte
    ihdr(8) = 8 // bit depth; color type/compression/filter/interlace = 0
    chunk("IHDR", ihdr)
    chunk("IEND", Array.empty)
    out.toByteArray
  }

  /** Minimal JPEG (SOI + one-component SOF0 + EOI; 17 bytes) — the
    * marker-walk twin of [[pngFixture]]. */
  def jpegFixture(width: Int, height: Int): Array[Byte] =
    Array(0xff, 0xd8, 0xff, 0xc0, 0x00, 0x0b, 0x08,
      (height >>> 8) & 0xff, height & 0xff,
      (width >>> 8) & 0xff, width & 0xff,
      0x01, 0x01, 0x11, 0x00, 0xff, 0xd9).map(_.toByte)

  /** Parse audio metadata from a REAL RIFF/WAVE header — the public
    * byte layout: "RIFF" + LE chunk size + "WAVE", then a word-aligned
    * subchunk walk; the "fmt " subchunk carries channels (LE u16 at
    * +10), sample rate (LE u32 at +12) and byte rate (LE u32 at +16),
    * and the "data" subchunk's declared size over the byte rate gives
    * the duration. Returns (mime, channels, sampleRate, durationMs);
    * None for anything that is not a recognizable PCM WAV — callers
    * fall back to [[stubDecode]]. A header reader, not a verifier: the
    * sample body is never touched (and may be absent/truncated). */
  def parseWavHeader(p: Array[Byte]): Option[(String, Int, Int, Long)] = {
    if (p == null || p.length < 44) return None
    def u(i: Int): Int = p(i) & 0xff
    def le16(i: Int): Int = u(i) | (u(i + 1) << 8)
    def le32(i: Int): Long =
      (u(i) | (u(i + 1) << 8) | (u(i + 2) << 16)).toLong | (u(i + 3).toLong << 24)
    if (!(p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E')) return None
    var i = 12
    var channels = -1; var rate = -1L; var byteRate = -1L; var dataBytes = -1L
    while (i + 8 <= p.length && (channels < 0 || dataBytes < 0)) {
      val tag = new String(p, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val sz = le32(i + 4)
      if (tag == "fmt " && sz >= 16 && i + 8 + 16 <= p.length) {
        if (le16(i + 8) != 1) return None // PCM only
        channels = le16(i + 10)
        rate = le32(i + 12)
        byteRate = le32(i + 16)
      } else if (tag == "data") {
        dataBytes = sz
      }
      // subchunks are word-aligned; a size that walks past the array is
      // fine for "data" (header-only payloads declare their body), but
      // ends the walk. Advance in Long: a malformed u32 size near 2^32
      // must terminate the walk, not truncate to a zero/negative step.
      val next = i.toLong + 8L + sz + (sz & 1L)
      if (next <= i || next > Int.MaxValue) i = p.length else i = next.toInt
    }
    if (channels <= 0 || channels > 65535 || rate <= 0 || rate > Int.MaxValue ||
        byteRate <= 0 || byteRate > Int.MaxValue || dataBytes < 0) None
    else Some(("audio/wav", channels, rate.toInt, dataBytes * 1000L / byteRate))
  }

  /** Minimal canonical 44-byte PCM WAV header declaring `dataBytes` of
    * 16-bit samples (body omitted — [[parseWavHeader]] never reads it)
    * — the audio twin of [[pngFixture]]/[[jpegFixture]]. */
  def wavFixture(channels: Int, sampleRate: Int, dataBytes: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(44)
    def ascii(s: String): Unit =
      out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def le32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
      out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
    }
    val byteRate = sampleRate.toLong * channels * 2
    ascii("RIFF"); le32(36L + dataBytes); ascii("WAVE")
    ascii("fmt "); le32(16L); le16(1); le16(channels)
    le32(sampleRate.toLong); le32(byteRate); le16(channels * 2); le16(16)
    ascii("data"); le32(dataBytes)
    out.toByteArray
  }

  /** Decode a 16-bit PCM RIFF/WAVE payload to (channels, sampleRate,
    * interleaved 16-bit samples) — a FULL body decode, not just the
    * [[parseWavHeader]] header read: the "data" subchunk's bytes are
    * actually read as little-endian signed 16-bit values. Returns None
    * for anything that is not recognizable 16-bit PCM WAV with a
    * present (non-truncated) sample body, or whose declared body
    * exceeds the memory bound — callers fall back to the md5
    * embedding, same contract as [[decodePngLuma]]. */
  def decodeWavPcm(p: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (p == null || p.length < 44) return None
    def u(i: Int): Int = p(i) & 0xff
    def le16(i: Int): Int = u(i) | (u(i + 1) << 8)
    def le32(i: Int): Long =
      (u(i) | (u(i + 1) << 8) | (u(i + 2) << 16)).toLong | (u(i + 3).toLong << 24)
    if (!(p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E')) return None
    var i = 12
    var channels = -1; var rate = -1L; var bits = -1
    var dataOff = -1; var dataBytes = -1L
    while (i + 8 <= p.length && (channels < 0 || dataOff < 0)) {
      val tag = new String(p, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val sz = le32(i + 4)
      if (tag == "fmt " && sz >= 16 && i + 8 + 16 <= p.length) {
        if (le16(i + 8) != 1) return None // PCM only
        channels = le16(i + 10)
        rate = le32(i + 12)
        bits = le16(i + 22) // fmt data: format 0, channels 2, rate 4, byteRate 8, align 12, bits 14
      } else if (tag == "data") {
        dataOff = i + 8
        dataBytes = sz
      }
      val next = i.toLong + 8L + sz + (sz & 1L)
      if (next <= i || next > Int.MaxValue) i = p.length else i = next.toInt
    }
    if (channels <= 0 || channels > 64 || rate <= 0 || rate > Int.MaxValue ||
        bits != 16 || dataOff < 0 || dataBytes < 2) return None
    // an odd body size cannot be whole 16-bit samples — corrupt, not
    // content: reject rather than silently flooring to n-1 samples
    if ((dataBytes & 1L) != 0L) return None
    // body must be PRESENT: a header-only payload declaring absent
    // samples decodes nothing (metadata readers handle those)
    if (dataOff.toLong + dataBytes > p.length) return None
    val n = (dataBytes / 2).toInt
    if (n > (1 << 24)) return None // bound memory
    val out = new Array[Int](n)
    var j = 0
    while (j < n) {
      out(j) = (le16(dataOff + 2 * j) << 16) >> 16 // sign-extend
      j += 1
    }
    Some((channels, rate.toInt, out))
  }

  /** WAV fixture WITH a 16-bit PCM sample body: interleaved value
    * `sample(i) = ((seed0 + i·seed1) mod 65536) − 32768` — the audio
    * twin of [[pngPixelFixture]]: deterministic, so an oracle
    * re-derives the full sample stream from (n, seeds) without seeing
    * a payload byte. */
  def wavPcmFixture(channels: Int, sampleRate: Int, nValues: Int,
                    seed0: Int, seed1: Int): Array[Byte] = {
    require(channels >= 1 && nValues >= 0 && seed0 >= 0 && seed1 >= 0,
      s"bad PCM fixture args ($channels, $nValues, $seed0, $seed1)")
    val header = wavFixture(channels, sampleRate, nValues.toLong * 2)
    val out = java.util.Arrays.copyOf(header, header.length + nValues * 2)
    var i = 0
    while (i < nValues) {
      val v = ((seed0.toLong + i.toLong * seed1) % 65536L).toInt - 32768
      out(header.length + 2 * i) = (v & 0xff).toByte
      out(header.length + 2 * i + 1) = ((v >>> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Parse audio metadata from a REAL FLAC header — the public layout:
    * "fLaC" magic, then the mandatory first STREAMINFO metadata block
    * (type 0, 34 bytes): after 10 bytes of block/frame sizes, a packed
    * 64-bit field carries sample rate (20 bits), channels−1 (3),
    * bits-per-sample−1 (5) and total samples (36). Returns
    * (mime, channels, sampleRate, durationMs); None for anything that
    * is not recognizable FLAC — same header-reader contract as
    * [[parseWavHeader]] (audio frames never touched). */
  def parseFlacHeader(p: Array[Byte]): Option[(String, Int, Int, Long)] = {
    if (p == null || p.length < 42) return None
    if (!(p(0) == 'f' && p(1) == 'L' && p(2) == 'a' && p(3) == 'C')) return None
    def u(i: Int): Int = p(i) & 0xff
    if ((u(4) & 0x7f) != 0) return None // first block must be STREAMINFO
    val len = (u(5) << 16) | (u(6) << 8) | u(7)
    if (len < 34) return None
    val base = 8 + 10 // skip min/max blocksize (2+2) + min/max framesize (3+3)
    val rate = (u(base) << 12) | (u(base + 1) << 4) | (u(base + 2) >>> 4)
    val channels = ((u(base + 2) >>> 1) & 0x7) + 1
    val totalSamples =
      ((u(base + 3) & 0xf).toLong << 32) | (u(base + 4).toLong << 24) |
        (u(base + 5).toLong << 16) | (u(base + 6).toLong << 8) | u(base + 7).toLong
    if (rate <= 0) None
    else Some(("audio/flac", channels, rate, totalSamples * 1000L / rate))
  }

  /** Minimal canonical FLAC header (42 bytes: magic + last-block
    * STREAMINFO) declaring `totalSamples` at `sampleRate` — the FLAC
    * twin of [[wavFixture]]. */
  def flacFixture(channels: Int, sampleRate: Int, totalSamples: Long): Array[Byte] = {
    require(channels >= 1 && channels <= 8, s"bad channels $channels")
    require(sampleRate > 0 && sampleRate < (1 << 20), s"bad rate $sampleRate")
    require(totalSamples >= 0 && totalSamples < (1L << 36), s"bad samples $totalSamples")
    val out = new Array[Byte](42)
    out(0) = 'f'; out(1) = 'L'; out(2) = 'a'; out(3) = 'C'
    out(4) = 0x80.toByte // last-metadata-block flag + type 0 (STREAMINFO)
    out(7) = 34          // block length
    // min/max blocksize 4096 (spec minimum is 16; 4096 is the common value)
    out(8) = 0x10; out(9) = 0x00; out(10) = 0x10; out(11) = 0x00
    // min/max framesize 0 = unknown (bytes 12..17 stay zero)
    val base = 18
    out(base) = ((sampleRate >>> 12) & 0xff).toByte
    out(base + 1) = ((sampleRate >>> 4) & 0xff).toByte
    out(base + 2) = (((sampleRate & 0xf) << 4) | ((channels - 1) << 1) |
      (15 >>> 4)).toByte // bps-1 = 15 (16-bit): top bit 0
    out(base + 3) = (((15 & 0xf) << 4) | ((totalSamples >>> 32) & 0xf).toInt).toByte
    out(base + 4) = ((totalSamples >>> 24) & 0xff).toByte
    out(base + 5) = ((totalSamples >>> 16) & 0xff).toByte
    out(base + 6) = ((totalSamples >>> 8) & 0xff).toByte
    out(base + 7) = (totalSamples & 0xff).toByte
    // md5 signature bytes 26..41 stay zero (unknown)
    out
  }

  /** Parse video metadata from a REAL MP4/ISO-BMFF header — the public
    * box layout (ISO/IEC 14496-12): big-endian u32 size + 4-char type,
    * `size==1` promoting to a 64-bit largesize, `size==0` meaning
    * to-end-of-payload; containers (`moov`, `trak`) nest children. The
    * movie header `moov/mvhd` carries timescale + duration (v0: u32s
    * after 8 bytes of times; v1: u64 duration after 16), and the first
    * track header `moov/trak/tkhd` with a nonzero visual size carries
    * width/height as 16.16 fixed-point at the end of its payload.
    * Returns (mime, width, height, durationMs); None for anything that
    * is not a recognizable MP4 (first box must be `ftyp`) — callers
    * fall back to [[stubDecode]]. A header reader, not a verifier:
    * `mdat` sample data is never touched. Malformed sizes (overflow,
    * non-advancing, past-the-end) terminate the walk, same contract as
    * [[parseWavHeader]]. */
  def parseMp4Header(p: Array[Byte]): Option[(String, Int, Int, Long)] = {
    if (p == null || p.length < 24) return None
    def u(i: Int): Int = p(i) & 0xff
    def be32(i: Int): Long =
      (u(i).toLong << 24) | (u(i + 1).toLong << 16) | (u(i + 2).toLong << 8) | u(i + 3).toLong
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def typ(i: Int): String = new String(p, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (typ(4) != "ftyp") return None
    var timescale = 0L; var duration = -1L; var width = 0; var height = 0
    def walk(start: Int, end: Int, depth: Int): Unit = {
      var i = start
      while (i + 8 <= end) {
        val sz0 = be32(i)
        var hdr = 8
        val sz: Long =
          if (sz0 == 1L) { if (i + 16 > end) return; hdr = 16; be64(i + 8) }
          else if (sz0 == 0L) (end - i).toLong
          else sz0
        val next = i.toLong + sz
        if (sz < hdr || next > end || next <= i) return // malformed: stop the walk
        val t = typ(i + 4)
        val body = i + hdr // payload start (version/flags for full boxes)
        t match {
          case "moov" | "trak" | "mdia" if depth < 4 =>
            walk(body, next.toInt, depth + 1)
          case "mvhd" =>
            val v = u(body)
            if (v == 1 && body + 32 <= next) {
              timescale = be32(body + 20) // ver/flags 4 + times 2×8
              duration = be64(body + 24)
            } else if (v == 0 && body + 20 <= next) {
              timescale = be32(body + 12) // ver/flags 4 + times 2×4
              duration = be32(body + 16)
            }
          case "tkhd" if width == 0 =>
            val v = u(body)
            // v0 payload: ver/flags 4, times/id/rsvd/duration 20, rsvd 8,
            // layer/alt/volume/rsvd 8, matrix 36 → width @76, height @80
            // (16.16 fixed); v1's 64-bit times shift both by 12
            val wOff = if (v == 1) 88 else 76
            if (body + wOff + 8 <= next) {
              width = (be32(body + wOff) >>> 16).toInt
              height = (be32(body + wOff + 4) >>> 16).toInt
            }
          case _ => () // leaf we don't need (ftyp, mdat, free, ...)
        }
        i = next.toInt
      }
    }
    walk(0, p.length, 0)
    // duration bound: a v1 u64 duration above Long.MaxValue/1000 would
    // overflow the ms conversion into garbage — malformed, reject
    if (timescale <= 0 || duration < 0 || duration > Long.MaxValue / 1000L ||
        width <= 0 || height <= 0) None
    else Some(("video/mp4", width, height, duration * 1000L / timescale))
  }

  /** Minimal canonical MP4: `ftyp` + `moov{mvhd + trak{tkhd}}` (232
    * bytes, timescale 1000 so the declared duration round-trips to the
    * millisecond) — the video twin of [[pngFixture]]/[[wavFixture]].
    * Box sizes and payload layouts follow ISO/IEC 14496-12 v0 boxes
    * exactly, so any compliant reader parses it. */
  def mp4Fixture(width: Int, height: Int, durationMs: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(232)
    def be16(v: Int): Unit = { out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
    def be32(v: Long): Unit = {
      out.write(((v >>> 24) & 0xff).toInt); out.write(((v >>> 16) & 0xff).toInt)
      out.write(((v >>> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
    def ascii(s: String): Unit =
      out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    // ftyp: major brand isom, minor version 0x200, no compat list
    be32(16L); ascii("ftyp"); ascii("isom"); be32(0x200L)
    be32(216L); ascii("moov")
    // mvhd v0 (108 bytes): ver/flags, creation, modification, timescale,
    // duration, rate 1.0, volume 1.0, reserved, matrix = identity,
    // pre_defined ×6, next_track_ID
    be32(108L); ascii("mvhd"); be32(0L); be32(0L); be32(0L)
    be32(1000L); be32(durationMs)
    be32(0x00010000L); be16(0x0100); be16(0); be32(0L); be32(0L)
    Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L, 0x40000000L).foreach(be32)
    (1 to 6).foreach(_ => be32(0L))
    be32(2L)
    be32(100L); ascii("trak")
    // tkhd v0 (92 bytes): ver/flags (track enabled), creation,
    // modification, track_ID, reserved, duration, reserved ×2,
    // layer/alternate_group/volume/reserved, matrix, width/height 16.16
    be32(92L); ascii("tkhd"); be32(7L); be32(0L); be32(0L)
    be32(1L); be32(0L); be32(durationMs)
    be32(0L); be32(0L); be16(0); be16(0); be16(0); be16(0)
    Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L, 0x40000000L).foreach(be32)
    be32(width.toLong << 16); be32(height.toLong << 16)
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // Y4M (YUV4MPEG2): the standard UNCOMPRESSED video container
  // (mjpegtools; what ffmpeg/x264 pipe raw video through). This is
  // the video content path that needs no codec: a plain-text header
  // line, then per frame a "FRAME" marker and raw YUV planes. MP4
  // stays the compressed-container metadata path ([[parseMp4Header]]);
  // Y4M frames decode pixel-for-real, the same split as PNG-vs-JPEG
  // on the image side and WAV-vs-FLAC on the audio side.
  // ---------------------------------------------------------------

  /** Shared Y4M stream-header walk: returns (width, height, lumaBytes,
    * frameBytes, fpsNum, fpsDen, firstFrameOffset) or None if the
    * payload is not recognizable YUV4MPEG2 with a colorspace whose
    * plane layout we know (mono / 420 family / 422 / 444, 8-bit). */
  private def y4mStreamHeader(p: Array[Byte])
  : Option[(Int, Int, Int, Int, Int, Int, Int)] = {
    val magic = "YUV4MPEG2 "
    if (p == null || p.length < magic.length + 4) return None
    var i = 0
    while (i < magic.length) {
      if (p(i) != magic.charAt(i).toByte) return None
      i += 1
    }
    var nl = magic.length
    while (nl < p.length && p(nl) != '\n') nl += 1
    if (nl >= p.length) return None
    val header = new String(p, magic.length, nl - magic.length,
      java.nio.charset.StandardCharsets.US_ASCII)
    var w = -1; var h = -1; var cs = "420jpeg" // spec default colorspace
    var fpsNum = -1; var fpsDen = -1
    header.split(' ').withFilter(_.nonEmpty).foreach { t =>
      (t.charAt(0), t.drop(1)) match {
        case ('W', v) => w = v.toIntOption.getOrElse(-1)
        case ('H', v) => h = v.toIntOption.getOrElse(-1)
        case ('C', v) => cs = v
        case ('F', v) => v.split(':') match {
          case Array(n, d) =>
            fpsNum = n.toIntOption.getOrElse(-1)
            fpsDen = d.toIntOption.getOrElse(-1)
          case _ => ()
        }
        case _ => () // I (interlacing), A (aspect), X (extension) — ignored
      }
    }
    if (w <= 0 || h <= 0 || w.toLong * h > (1L << 24)) return None
    if (fpsNum <= 0 || fpsDen <= 0) return None
    val ySize = w * h
    val frameSize = cs match {
      case "mono" => ySize
      case s if s.startsWith("420") =>
        if (w % 2 != 0 || h % 2 != 0) return None
        ySize + 2 * ((w / 2) * (h / 2))
      case "422" =>
        if (w % 2 != 0) return None
        ySize + 2 * ((w / 2) * h)
      case "444" => 3 * ySize
      case _ => return None // 10/12-bit, alpha etc.: unknown plane layout
    }
    Some((w, h, ySize, frameSize, fpsNum, fpsDen, nl + 1))
  }

  /** Step over one frame starting at `i`: validates the "FRAME" marker
    * and its newline-terminated parameter tail, returns the offset of
    * the frame's first plane byte, or -1 if malformed/truncated. */
  private def y4mFrameBody(p: Array[Byte], i: Int): Int = {
    if (i + 6 > p.length || p(i) != 'F' || p(i + 1) != 'R' ||
        p(i + 2) != 'A' || p(i + 3) != 'M' || p(i + 4) != 'E') return -1
    var j = i + 5
    while (j < p.length && p(j) != '\n') j += 1
    if (j >= p.length) -1 else j + 1
  }

  /** Header-level Y4M read: (mime, width, height, durationMs). The
    * frame WALK runs (marker + plane-size steps — duration needs the
    * frame count) but no plane byte is read. A stream with zero
    * complete frames, or any malformed/truncated frame, is rejected —
    * same strictness as [[decodeWavPcm]]'s body contract. */
  def parseY4mHeader(p: Array[Byte]): Option[(String, Int, Int, Long)] = {
    y4mStreamHeader(p).flatMap { case (w, h, _, frameSize, num, den, start) =>
      var i = start
      var frames = 0L
      while (i < p.length) {
        val body = y4mFrameBody(p, i)
        if (body < 0 || body.toLong + frameSize > p.length) return None
        frames += 1
        i = body + frameSize
      }
      if (frames == 0) None
      else {
        // untrusted header: frames * 1000 * den can overflow Long for a
        // crafted rate (e.g. F1:2147483647) over millions of tiny
        // frames, yielding a negative duration — compute exactly and
        // reject anything that can't round-trip through a Long
        val ms = (BigInt(frames) * 1000 * den) / num
        if (!ms.isValidLong) None
        else Some(("video/x-yuv4mpeg", w, h, ms.toLong))
      }
    }
  }

  /** FULL Y4M pixel decode: (width, height, nFrames, luma) with the
    * 8-bit luma planes of all frames concatenated frame-major — chroma
    * planes are skipped, not read. Total luma is memory-bounded; None
    * for anything unrecognizable, truncated, or over the bound —
    * callers fall back to the md5 embedding, the [[decodePngLuma]] /
    * [[decodeWavPcm]] contract. */
  def decodeY4mLuma(p: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
    y4mStreamHeader(p).flatMap { case (w, h, ySize, frameSize, _, _, start) =>
      val luma = new java.io.ByteArrayOutputStream()
      var i = start
      var frames = 0
      while (i < p.length) {
        val body = y4mFrameBody(p, i)
        if (body < 0 || body.toLong + frameSize > p.length) return None
        if (luma.size.toLong + ySize > (1L << 24)) return None // bound memory
        luma.write(p, body, ySize)
        frames += 1
        i = body + frameSize
      }
      if (frames == 0) None else Some((w, h, frames, luma.toByteArray))
    }
  }

  /** Y4M fixture WITH pixel content: `nFrames` monochrome (`Cmono`)
    * frames whose frame-major luma raster is
    * `luma(j) = (seed0 + j·seed1) mod 256`, j over all
    * width·height·nFrames pixels — the video twin of
    * [[pngPixelFixture]]/[[wavPcmFixture]]: an oracle re-derives every
    * pixel arithmetically from (w, h, nFrames, seeds) without seeing a
    * payload byte. `fpsNum`/`xtag` vary the CONTAINER without touching
    * a pixel (md5-distinct payloads, identical content) — the
    * near-dup-bridge pair, like [[pngPixelFixture]]'s filterType. */
  def y4mFixture(width: Int, height: Int, nFrames: Int,
                 seed0: Int, seed1: Int, fpsNum: Int = 25,
                 xtag: String = ""): Array[Byte] = {
    require(width > 0 && height > 0 && nFrames > 0 && fpsNum > 0,
      s"bad Y4M fixture args (${width}x$height, $nFrames frames, F$fpsNum)")
    require(seed0 >= 0 && seed1 >= 0, s"bad seeds ($seed0, $seed1)")
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit =
      out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val x = if (xtag.isEmpty) "" else s" X$xtag"
    ascii(s"YUV4MPEG2 W$width H$height F$fpsNum:1 Ip A1:1 Cmono$x\n")
    val ySize = width * height
    var f = 0
    while (f < nFrames) {
      ascii("FRAME\n")
      var i = 0
      while (i < ySize) {
        // Long arithmetic: the flat pixel index times seed1 can pass
        // Int range on big rasters, and the oracle replays this in
        // 64-bit — overflow here would diverge the two
        out.write(((seed0.toLong + (f.toLong * ySize + i) * seed1) % 256L).toInt)
        i += 1
      }
      f += 1
    }
    out.toByteArray
  }

  /** Decode an 8-bit non-interlaced PNG (grayscale or truecolor RGB)
    * payload to (width, height, luminance bytes) — a FULL pixel decode,
    * not just a header read: IDAT chunks are concatenated, inflated
    * (`java.util.zip.Inflater` — zlib is in the JDK, no new deps) and
    * the five public scanline filters (None/Sub/Up/Average/Paeth, PNG
    * spec §9) are reversed byte-exactly. RGB reduces to integer BT.709
    * luminance (2126·R + 7152·G + 722·B)/10000. Returns None for
    * anything else (16-bit, palette, interlaced, malformed, truncated,
    * oversized) — callers fall back to the md5 embedding. */
  def decodePngLuma(p: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (p == null || p.length < 45) return None
    def u(i: Int): Int = p(i) & 0xff
    def be32(i: Int): Long =
      (u(i).toLong << 24) | (u(i + 1).toLong << 16) | (u(i + 2).toLong << 8) | u(i + 3).toLong
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    if (!(0 until 8).forall(i => u(i) == sig(i))) return None
    if (!(p(12) == 'I' && p(13) == 'H' && p(14) == 'D' && p(15) == 'R')) return None
    val w = be32(16).toInt; val h = be32(20).toInt
    if (w <= 0 || h <= 0 || w.toLong * h > (1L << 24)) return None // bound memory
    val colorType = u(25)
    if (u(24) != 8 || (colorType != 0 && colorType != 2) ||
        u(26) != 0 || u(27) != 0 || u(28) != 0) return None
    val bpp = if (colorType == 0) 1 else 3
    val idat = new java.io.ByteArrayOutputStream()
    var i = 8
    var sawEnd = false
    while (!sawEnd && i + 8 <= p.length) {
      val len = be32(i)
      if (i.toLong + 12 + len > p.length) return None
      val tag = new String(p, i + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      if (tag == "IDAT") idat.write(p, i + 8, len.toInt)
      if (tag == "IEND") sawEnd = true
      i += 12 + len.toInt
    }
    if (idat.size == 0) return None
    val stride = w * bpp
    val rawLen = (stride + 1) * h
    val raw = new Array[Byte](rawLen)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var off = 0
    try {
      while (off < rawLen && !inf.finished()) {
        val n = inf.inflate(raw, off, rawLen - off)
        // zero progress = truncated stream OR a preset-dictionary (FDICT)
        // zlib header we can't serve — both must reject, not spin
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
        off += n
      }
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.end()
    if (off < rawLen) return None
    val px = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      val ft = raw(y * (stride + 1)) & 0xff
      val rowIn = y * (stride + 1) + 1
      val rowOut = y * stride
      var x = 0
      while (x < stride) {
        val rv = raw(rowIn + x) & 0xff
        val a = if (x >= bpp) px(rowOut + x - bpp) & 0xff else 0
        val b = if (y > 0) px(rowOut - stride + x) & 0xff else 0
        val c = if (x >= bpp && y > 0) px(rowOut - stride + x - bpp) & 0xff else 0
        val v = ft match {
          case 0 => rv
          case 1 => rv + a
          case 2 => rv + b
          case 3 => rv + (a + b) / 2
          case 4 =>
            val pr = a + b - c
            val pa = math.abs(pr - a); val pb = math.abs(pr - b); val pc = math.abs(pr - c)
            rv + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case _ => return None
        }
        px(rowOut + x) = (v & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val lum =
      if (bpp == 1) px
      else {
        val out = new Array[Byte](w * h)
        var j = 0
        while (j < w * h) {
          val r = px(3 * j) & 0xff; val g = px(3 * j + 1) & 0xff; val bl = px(3 * j + 2) & 0xff
          out(j) = ((2126 * r + 7152 * g + 722 * bl) / 10000).toByte
          j += 1
        }
        out
      }
    Some((w, h, lum))
  }

  /** PNG fixture WITH pixel content: 8-bit grayscale, row-major pixel
    * raster `pixel(i) = (seed0 + i·seed1) mod 256` — deterministic, so
    * an oracle can re-derive the full pixel stream from (w, h, seeds)
    * without seeing a byte of the payload. `filterType` picks the
    * scanline filter the ENCODER uses (0=None, 1=Sub, 2=Up): same
    * pixels, different compressed bytes — the near-dup-bridge fixture
    * pair (visually identical, md5-distinct). */
  def pngPixelFixture(width: Int, height: Int, seed0: Int, seed1: Int,
                      filterType: Int = 0): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    require(filterType >= 0 && filterType <= 2, s"encoder filter 0-2 only, got $filterType")
    def pix(i: Int): Int = (seed0 + i * seed1) % 256
    val raw = new Array[Byte]((width + 1) * height)
    var y = 0
    while (y < height) {
      raw(y * (width + 1)) = filterType.toByte
      var x = 0
      while (x < width) {
        val i = y * width + x
        val enc = filterType match {
          case 0 => pix(i)
          case 1 => (pix(i) - (if (x > 0) pix(i - 1) else 0)) & 0xff
          case 2 => (pix(i) - (if (y > 0) pix(i - width) else 0)) & 0xff
        }
        raw(y * (width + 1) + 1 + x) = enc.toByte
        x += 1
      }
      y += 1
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val zbuf = new Array[Byte](raw.length + 64)
    val z = new java.io.ByteArrayOutputStream()
    while (!defl.finished()) z.write(zbuf, 0, defl.deflate(zbuf))
    defl.end()
    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Long): Unit = {
      out.write(((v >>> 24) & 0xff).toInt); out.write(((v >>> 16) & 0xff).toInt)
      out.write(((v >>> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
    def chunk(tag: String, data: Array[Byte]): Unit = {
      be32(data.length.toLong)
      val body = tag.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ data
      out.write(body, 0, body.length)
      val crc = new java.util.zip.CRC32
      crc.update(body)
      be32(crc.getValue)
    }
    out.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), 0, 8)
    val ihdr = new Array[Byte](13)
    ihdr(0) = ((width >>> 24) & 0xff).toByte; ihdr(1) = ((width >>> 16) & 0xff).toByte
    ihdr(2) = ((width >>> 8) & 0xff).toByte; ihdr(3) = (width & 0xff).toByte
    ihdr(4) = ((height >>> 24) & 0xff).toByte; ihdr(5) = ((height >>> 16) & 0xff).toByte
    ihdr(6) = ((height >>> 8) & 0xff).toByte; ihdr(7) = (height & 0xff).toByte
    ihdr(8) = 8 // bit depth; color type/compression/filter/interlace = 0
    chunk("IHDR", ihdr)
    chunk("IDAT", z.toByteArray)
    chunk("IEND", Array.empty)
    out.toByteArray
  }

  /** CONTENT-REAL image embedding: a `dim`-bucket luminance histogram
    * (fractions summing to 1) over the fully-decoded pixels of a PNG
    * payload — two visually-identical images embed identically no
    * matter how their bytes were encoded. Payloads that are not
    * decodable PNGs fall back to the engine-portable md5 embedding
    * ([[embedStub]]), keeping the column total and the ANN/near-dup
    * bridge well-defined over mixed corpora. */
  def embedImage(payload: Column, dim: Int): Column = {
    require(dim > 0 && dim <= 256, s"dim must be in 1..256, got $dim")
    val hist = udf { (p: Array[Byte]) =>
      decodePngLuma(p).map { case (w, h, lum) =>
        val counts = new Array[Double](dim)
        lum.foreach { b => counts(((b & 0xff) * dim) / 256) += 1.0 }
        val n = (w.toLong * h).toDouble
        counts.map(_ / n)
      }.orNull
    }
    coalesce(hist(payload), embedStub(payload, dim))
  }

  /** CONTENT-REAL audio embedding: a `dim`-bucket amplitude histogram
    * (fractions summing to 1) over the fully-decoded 16-bit PCM
    * samples of a WAV payload — the audio twin of [[embedImage]]: two
    * streams with the same samples embed identically regardless of
    * container bytes. Payloads that are not decodable 16-bit PCM WAV
    * (compressed FLAC frames, video, truncated bodies) fall back to
    * the engine-portable md5 embedding ([[embedStub]]) — that fallback
    * slot is now down to compressed-codec content only. */
  def embedAudio(payload: Column, dim: Int): Column = {
    require(dim > 0 && dim <= 65536, s"dim must be in 1..65536, got $dim")
    val hist = udf { (p: Array[Byte]) =>
      decodeWavPcm(p).collect { case (_, _, samples) if samples.nonEmpty =>
        val counts = new Array[Double](dim)
        samples.foreach { s =>
          counts(((s + 32768) * dim.toLong / 65536L).toInt) += 1.0
        }
        counts.map(_ / samples.length.toDouble)
      }.orNull
    }
    coalesce(hist(payload), embedStub(payload, dim))
  }

  /** CONTENT-REAL video embedding: a `dim`-bucket luminance histogram
    * (fractions summing to 1) over the fully-decoded luma planes of
    * ALL frames of a Y4M payload — the video member of the
    * [[embedImage]]/[[embedAudio]] family: two streams with the same
    * frames embed identically no matter how the container was
    * parameterized (frame rate, aspect, X tags). Payloads that are not
    * decodable uncompressed Y4M (H.264-in-MP4 and every other
    * compressed codec, truncated streams) fall back to the
    * engine-portable md5 embedding ([[embedStub]]) — the fallback slot
    * is compressed-codec content only, matching the audio contract. */
  def embedVideo(payload: Column, dim: Int): Column = {
    require(dim > 0 && dim <= 256, s"dim must be in 1..256, got $dim")
    val hist = udf { (p: Array[Byte]) =>
      decodeY4mLuma(p).map { case (w, h, nf, luma) =>
        val counts = new Array[Double](dim)
        luma.foreach { b => counts(((b & 0xff) * dim) / 256) += 1.0 }
        val n = w.toLong * h * nf
        counts.map(_ / n.toDouble)
      }.orNull
    }
    coalesce(hist(payload), embedStub(payload, dim))
  }

  /** Deterministic fake decode of a payload: width/height/duration are
    * functions of the md5 digest — the UNKNOWN-FORMAT fallback only;
    * every modality with a public byte layout parses for real
    * ([[parseImageHeader]] PNG/JPEG, [[parseWavHeader]] WAV/RIFF,
    * [[parseMp4Header]] MP4/ISO-BMFF). [[decode]] composes them. */
  def stubDecode(payload: Array[Byte]): (Int, Int, Long) = {
    if (payload == null || payload.isEmpty) return (0, 0, 0L)
    val d = graft.Digests.md5(payload)
    def u(i: Int) = d(i) & 0xff
    val width = 64 + (u(0) * 256 + u(1)) % 1985          // 64..2048
    val height = 64 + (u(2) * 256 + u(3)) % 1985
    val dur = 1000L + (u(4).toLong * 65536 + u(5) * 256 + u(6)) % 600000L
    (width, height, dur)
  }

  /** Batch decode pass over `mapPartitions` — payloads streamed, output
    * schema fixed. Recognized image headers (PNG/JPEG/GIF/BMP) parse
    * for REAL via [[parseImageHeader]] (duration/channels/rate null —
    * images have none); recognized audio headers parse for REAL via
    * [[parseWavHeader]] then [[parseFlacHeader]] (width/height null);
    * recognized MP4 headers parse for REAL via [[parseMp4Header]] and
    * uncompressed Y4M streams via [[parseY4mHeader]] (channels/rate
    * null); only unrecognized formats fall back to the deterministic
    * [[stubDecode]] stand-in. This remains the slot where further
    * codecs drop in per partition. */
  def decode(df: DataFrame, binCol: String): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("decoded", StructType(Seq(
        StructField("width", IntegerType), StructField("height", IntegerType),
        StructField("duration_ms", LongType),
        StructField("channels", IntegerType),
        StructField("sample_rate", IntegerType)))))
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = Encoders.row(outSchema)
    df.mapPartitions { it =>
      // per-partition codec init would go here
      it.map { r =>
        val payload = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
        val dec = parseImageHeader(payload) match {
          case Some((_, w, h)) => Row(w, h, null, null, null)
          case None => parseWavHeader(payload).orElse(parseFlacHeader(payload)) match {
            case Some((_, ch, rate, dur)) => Row(null, null, dur, ch, rate)
            case None => parseMp4Header(payload).orElse(parseY4mHeader(payload)) match {
              case Some((_, w, h, dur)) => Row(w, h, dur, null, null)
              case None =>
                val (w, h, dur) = stubDecode(payload)
                Row(w, h, dur, null, null)
            }
          }
        }
        Row.fromSeq(r.toSeq :+ dec)
      }
    }(enc)
  }

  /** Stub feature extractor: payload → dim-dimensional embedding,
    * deterministic in the payload bytes (components derived from md5 —
    * engine-portable, so the DuckDB oracle replays it exactly).
    * FALLBACK slot only: decodable PNG pixels embed for real via
    * [[embedImage]] and decodable PCM WAV samples via [[embedAudio]];
    * what remains here is compressed-codec content (FLAC/MP4 frames)
    * and unknown formats. The signature (binary column → Array[Double]
    * column) is the real contract, and the output feeds the
    * Similarity/Dedup family directly (near-dup over payloads =
    * embed → cosineNearDupBucketed). Pure codegen expressions — no
    * UDF, no driver state. */
  def embedStub(payload: Column, dim: Int): Column = {
    val digest = md5(payload) // hex string, 128 bits of payload identity
    array((0 until dim).map { j =>
      // 28-bit integer from md5(digest || "#j") → uniform [-1, 1)
      graft.expressions.Kernels.hexSliceLong(
          md5(concat(digest, lit(s"#$j")).cast(BinaryType)), 1, 7)
        .cast(DoubleType) / 268435456.0 * 2.0 - 1.0
    }: _*)
  }
}
