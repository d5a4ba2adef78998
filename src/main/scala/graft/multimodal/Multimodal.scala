package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata. The Spark-side contract — schema, partitioning,
  * batch iteration shape — is real and tested. The METADATA path is real:
  * `imageHeader`/`withImageMeta` parse PNG (IHDR) and JPEG (SOFn) headers,
  * `audioHeader` parses RIFF/WAVE — all pure-JVM byte slicing, no codec
  * dependency. The PIXEL path is real too (`decodePixels`): hand-rolled
  * 24-bit BMP and binary PPM decoders plus the JDK's bundled
  * `javax.imageio` PNG/JPEG readers — all standard-library, asserted
  * against checked-in fixtures and cross-container equality. The AUDIO
  * sample path is real for 16-bit PCM WAV plus the COMPRESSED in-WAV
  * codecs G.711 μ-law/A-law and IMA ADPCM (`audioSamples` →
  * [[AudioCodecs]]; exact round-trip / JDK-cross-validated). MP3 gets
  * real METADATA decode (`mp3Header`: full frame walk, VBR-correct
  * duration — what a scan-time pipeline extracts at 100 TB).
  *
  * SEAM (final): full PCM synthesis for perceptual codecs (MP3/Vorbis
  * subband+IMDCT reconstruction) and video falls back to the
  * clearly-marked deterministic `decodeStub`. Those decoders are
  * thousands of lines of DSP with no JDK support — the production
  * answer is a heavyweight library (e.g. javacv) plugged in behind the
  * SAME `audioSamples`/`decodePixels` Option contract, which changes
  * nothing about the pipeline shape tested here. Every container and
  * codec the JDK standard library can reach is decoded for real.
  */
object Multimodal {

  /** STUB decode for payloads in formats [[decodePixels]] does not cover
    * (audio/video codecs, exotic images): deterministic
    * pseudo-features from the payload bytes so the pipeline
    * (partition-wise batch iteration, fixed-length feature output)
    * is fully exercisable. Feature f(i) = (Σ bytes at positions ≡ i mod
    * dim) / 255 / len · dim — integer byte accumulation with a SINGLE
    * float rounding per feature, which keeps the fake exactly
    * SQL-expressible so q39's derived stats can be oracled in DuckDB. */
  def decodeStub(payload: Array[Byte], featureDim: Int): Array[Float] = {
    val out = new Array[Float](featureDim)
    if (payload != null && payload.nonEmpty) {
      val sums = new Array[Long](featureDim)
      var i = 0
      while (i < payload.length) { sums(i % featureDim) += payload(i) & 0xff; i += 1 }
      var j = 0
      while (j < featureDim) {
        out(j) = (sums(j).toDouble / 255.0 / payload.length * featureDim).toFloat
        j += 1
      }
    }
    out
  }

  /** REAL pixel decode, pure JVM end to end:
    *  - 24-bit uncompressed BMP (BITMAPINFOHEADER or larger, BI_RGB):
    *    'BM' magic, little-endian pixel-array offset at 10, width/height
    *    at 18/22 (negative height = top-down), 4-byte-aligned BGR rows,
    *    bottom-up row order flipped to top-down on decode — hand-rolled
    *    byte slicing;
    *  - binary PPM (P6, maxval ≤ 255): ASCII header with '#' comments,
    *    then raw top-down RGB — hand-rolled;
    *  - PNG / JPEG / GIF: the JDK's bundled `javax.imageio` readers
    *    (standard library, no external dependency), attempted only when
    *    [[imageHeader]] or the GIF87a/89a magic recognizes the payload so
    *    arbitrary binary/text bytes skip the reader probe.
    * Returns (width, height, rgb) with rgb row-major TOP-DOWN, 3 bytes
    * per pixel, BMP's BGR already swapped to RGB. Unrecognized formats,
    * other bit depths, and truncated payloads → None (callers fall back
    * to header-only metadata + [[decodeStub]] features). */
  def decodePixels(payload: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (payload == null) return None
    def le32(o: Int): Int = (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8) |
      ((payload(o + 2) & 0xff) << 16) | ((payload(o + 3) & 0xff) << 24)
    def le16(o: Int): Int = (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8)
    // --- BMP ---
    if (payload.length >= 54 && payload(0) == 'B' && payload(1) == 'M') {
      val pixOff = le32(10)
      val dibSize = le32(14)
      val width = le32(18)
      val rawHeight = le32(22)
      val bpp = le16(28)
      val compression = le32(30)
      val topDown = rawHeight < 0
      val height = math.abs(rawHeight)
      // height <= 0 also rejects rawHeight == Int.MinValue (abs stays negative)
      if (dibSize < 40 || width <= 0 || height <= 0 || bpp != 24 || compression != 0)
        return None
      // stride/size arithmetic in Long: width near 2^31/3 overflows Int,
      // yielding a tiny stride that slips past the bounds check and a
      // negative/undersized pixel allocation.
      val strideL = ((width.toLong * 3 + 3) / 4) * 4
      val pixBytes = width.toLong * height * 3
      if (pixOff < 0 || pixBytes > Int.MaxValue ||
          pixOff.toLong + strideL * height > payload.length) return None
      val stride = strideL.toInt
      val rgb = new Array[Byte](pixBytes.toInt)
      var y = 0
      while (y < height) {
        val srcRow = pixOff + (if (topDown) y else height - 1 - y) * stride
        var x = 0
        while (x < width) {
          val s = srcRow + x * 3
          val d = (y * width + x) * 3
          rgb(d) = payload(s + 2)     // R (BMP stores BGR)
          rgb(d + 1) = payload(s + 1) // G
          rgb(d + 2) = payload(s)     // B
          x += 1
        }
        y += 1
      }
      return Some((width, height, rgb))
    }
    // --- PNG / JPEG via the JDK's bundled ImageIO readers (pure JVM,
    // part of the standard library — no external codec). Gated on the
    // header parse so non-image payloads (the common case in a mixed
    // corpus) never pay the reader-probe cost; a truncated or corrupt
    // stream lands in the catch and falls through to None. ---
    val isGif = payload.length >= 6 && payload(0) == 'G' && payload(1) == 'I' &&
      payload(2) == 'F' && payload(3) == '8'
    if (imageHeader(payload).isDefined || isGif) {
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        if (img != null) {
          val w = img.getWidth; val h = img.getHeight
          val px = img.getRGB(0, 0, w, h, null, 0, w) // packed ARGB, top-down
          val rgb = new Array[Byte](w * h * 3)
          var i = 0
          while (i < w * h) {
            val p = px(i)
            rgb(i * 3) = ((p >> 16) & 0xff).toByte
            rgb(i * 3 + 1) = ((p >> 8) & 0xff).toByte
            rgb(i * 3 + 2) = (p & 0xff).toByte
            i += 1
          }
          return Some((w, h, rgb))
        }
      } catch { case _: Throwable => () }
    }
    // --- PPM P6 ---
    if (payload.length >= 2 && payload(0) == 'P' && payload(1) == '6') {
      var i = 2
      // read 3 whitespace-separated decimal fields, skipping '#' comments
      val fields = new Array[Int](3)
      var f = 0
      while (f < 3) {
        while (i < payload.length &&
               (payload(i) == ' ' || payload(i) == '\t' || payload(i) == '\n' || payload(i) == '\r' ||
                payload(i) == '#')) {
          if (payload(i) == '#') { while (i < payload.length && payload(i) != '\n') i += 1 }
          else i += 1
        }
        var v = -1L
        while (i < payload.length && payload(i) >= '0' && payload(i) <= '9') {
          v = (if (v < 0) 0 else v) * 10 + (payload(i) - '0')
          if (v > 1000000000L) return None // cap: prevents silent Int overflow
          i += 1
        }
        if (v < 0) return None
        fields(f) = v.toInt; f += 1
      }
      val Array(width, height, maxval) = fields
      if (width <= 0 || height <= 0 || maxval <= 0 || maxval > 255) return None
      i += 1 // the single whitespace byte after maxval
      // Long arithmetic: width*height*3 can overflow Int to negative (throws
      // in copyOfRange) or small-positive (returns rgb shorter than w*h*3).
      val nL = width.toLong * height * 3
      if (nL <= 0 || nL > Int.MaxValue || i.toLong + nL > payload.length) return None
      val n = nL.toInt
      return Some((width, height, java.util.Arrays.copyOfRange(payload, i, i + n)))
    }
    None
  }

  /** Per-channel pixel means of a decodable payload — the assertion
    * surface for real decodes (and a usable brightness/color-cast
    * signal). */
  def pixelMeans(payload: Array[Byte]): Option[(Double, Double, Double)] =
    decodePixels(payload).map { case (_, _, rgb) =>
      var r = 0L; var g = 0L; var b = 0L
      var i = 0
      val n = rgb.length / 3
      while (i < n) {
        r += rgb(i * 3) & 0xff; g += rgb(i * 3 + 1) & 0xff; b += rgb(i * 3 + 2) & 0xff
        i += 1
      }
      (r.toDouble / n, g.toDouble / n, b.toDouble / n)
    }

  /** Feature extraction entry: REAL decoded content when the payload is
    * a format this engine reads — pixels via [[decodePixels]] (identical
    * images in different containers — BMP vs PPM vs PNG — produce
    * identical features) or PCM samples via [[audioSamples]] (features
    * invariant to WAV header/chunk layout) — with [[decodeStub]] over the
    * raw bytes as the fallback for everything else. */
  def decodeFeatures(payload: Array[Byte], featureDim: Int): Array[Float] =
    decodePixels(payload) match {
      case Some((_, _, rgb)) => decodeStub(rgb, featureDim)
      case None => audioSamples(payload) match {
        case Some((_, _, samples)) =>
          val bytes = new Array[Byte](samples.length * 2)
          var i = 0
          while (i < samples.length) {
            bytes(i * 2) = (samples(i) & 0xff).toByte
            bytes(i * 2 + 1) = ((samples(i) >> 8) & 0xff).toByte
            i += 1
          }
          decodeStub(bytes, featureDim)
        case None => decodeStub(payload, featureDim)
      }
    }

  /** Real image-header decode: (width, height, codec) from the payload
    * bytes. PNG: 8-byte signature, then the IHDR chunk's big-endian
    * width/height at offsets 16/20. JPEG: FF D8 SOI, then a marker walk
    * skipping segments by their big-endian length until a SOFn frame
    * header (C0-CF minus C4/C8/CC) yields precision(1) height(2) width(2).
    * Unrecognized/truncated payloads → None. Pure byte slicing — no
    * library, no allocation beyond the result. */
  def imageHeader(payload: Array[Byte]): Option[(Int, Int, String)] = {
    if (payload == null) return None
    def be32(o: Int): Int = ((payload(o) & 0xff) << 24) | ((payload(o + 1) & 0xff) << 16) |
      ((payload(o + 2) & 0xff) << 8) | (payload(o + 3) & 0xff)
    def be16(o: Int): Int = ((payload(o) & 0xff) << 8) | (payload(o + 1) & 0xff)
    val pngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    if (payload.length >= 24 && pngSig.indices.forall(i => (payload(i) & 0xff) == pngSig(i)) &&
        payload(12) == 'I' && payload(13) == 'H' && payload(14) == 'D' && payload(15) == 'R')
      return Some((be32(16), be32(20), "png"))
    if (payload.length >= 4 && (payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8) {
      var i = 2
      while (i + 9 <= payload.length && (payload(i) & 0xff) == 0xff) {
        val marker = payload(i + 1) & 0xff
        if (marker >= 0xc0 && marker <= 0xcf && marker != 0xc4 && marker != 0xc8 && marker != 0xcc)
          return Some((be16(i + 7), be16(i + 5), "jpeg"))
        else if (marker == 0xff) i += 1 // spec-legal fill byte (B.1.1.2) before the real marker
        else if (marker == 0xd9) return None // EOI: no frame header found
        else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd8)) i += 2 // standalone markers
        else i += 2 + be16(i + 2) // skip segment by declared length
      }
    }
    None
  }

  /** Real audio-header decode: (sample_rate, channels, bits_per_sample,
    * duration_ms) from a RIFF/WAVE payload. Chunk walk: 'RIFF' size
    * 'WAVE', then little-endian chunks until 'fmt ' (format fields) and
    * 'data' (payload size → duration = data_bytes / byte_rate). Same
    * pure-byte-slicing contract as [[imageHeader]] — no codec library,
    * truncated/foreign payloads → None. */
  def audioHeader(payload: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (payload == null || payload.length < 44) return None
    def tag(o: Int): String = new String(payload.slice(o, o + 4), "US-ASCII")
    def le32(o: Int): Long = (payload(o) & 0xffL) | ((payload(o + 1) & 0xffL) << 8) |
      ((payload(o + 2) & 0xffL) << 16) | ((payload(o + 3) & 0xffL) << 24)
    def le16(o: Int): Int = (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8)
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var i = 12
    var fmt: Option[(Int, Int, Int, Long)] = None // rate, ch, bits, byteRate
    var dataBytes = -1L
    while (i + 8 <= payload.length && (fmt.isEmpty || dataBytes < 0)) {
      val id = tag(i)
      val sz = le32(i + 4)
      if (id == "fmt " && i + 24 <= payload.length)
        fmt = Some((le32(i + 12).toInt, le16(i + 10), le16(i + 22), le32(i + 16)))
      else if (id == "data") dataBytes = sz
      // word-aligned step in Long: sz is unsigned 32-bit, so sz.toInt can be
      // negative (i walks backwards / crashes) or make the step 0 (infinite
      // loop on a crafted 0xFFFFFFF8 size). Stop when the walk leaves the
      // payload instead.
      val next = i.toLong + 8L + sz + (sz & 1L)
      i = if (next > payload.length) payload.length else next.toInt
    }
    fmt.collect { case (rate, ch, bits, byteRate)
        if rate > 0 && byteRate > 0 && dataBytes >= 0 =>
      (rate, ch, bits, dataBytes * 1000L / byteRate)
    }
  }

  // -- MP3 (MPEG-1/2/2.5 audio) frame-header tables, ISO/IEC 11172-3 §2.4.2.3
  //    (public spec values; layout AAAAAAAA AAABBCCD EEEEFFGH IIJJKLMM)
  private val mp3RatesV1 = Array(44100, 48000, 32000)
  private val mp3RatesV2 = Array(22050, 24000, 16000)
  private val mp3RatesV25 = Array(11025, 12000, 8000)
  private val mp3BitV1L1 = Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)
  private val mp3BitV1L2 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
  private val mp3BitV1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val mp3BitV2L1 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256)
  private val mp3BitV2L23 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)

  /** One MP3 frame header at `o`: (frameBytes, samplesPerFrame,
    * sampleRate, channels, bitrateKbps), or None if the 4 bytes at `o`
    * are not a valid sync + field combination. */
  private def mp3Frame(p: Array[Byte], o: Int): Option[(Int, Int, Int, Int, Int)] = {
    if (o + 4 > p.length) return None
    val b1 = p(o) & 0xff; val b2 = p(o + 1) & 0xff
    val b3 = p(o + 2) & 0xff; val b4 = p(o + 3) & 0xff
    if (b1 != 0xff || (b2 & 0xe0) != 0xe0) return None
    val version = (b2 >> 3) & 0x3 // 0=MPEG2.5, 2=MPEG2, 3=MPEG1 (1 reserved)
    val layer = (b2 >> 1) & 0x3   // 1=III, 2=II, 3=I (0 reserved)
    val bitIdx = (b3 >> 4) & 0xf
    val rateIdx = (b3 >> 2) & 0x3
    if (version == 1 || layer == 0 || bitIdx == 0 || bitIdx == 15 || rateIdx == 3)
      return None // reserved fields / free-format / bad index
    val rate = (version match {
      case 3 => mp3RatesV1; case 2 => mp3RatesV2; case _ => mp3RatesV25
    })(rateIdx)
    val kbps = (if (version == 3) layer match {
      case 3 => mp3BitV1L1; case 2 => mp3BitV1L2; case _ => mp3BitV1L3
    } else if (layer == 3) mp3BitV2L1 else mp3BitV2L23)(bitIdx)
    val padding = (b3 >> 1) & 0x1
    val channels = if (((b4 >> 6) & 0x3) == 3) 1 else 2
    val (samples, frameBytes) = layer match {
      case 3 => (384, (12 * kbps * 1000 / rate + padding) * 4) // Layer I
      case 2 => (1152, 144 * kbps * 1000 / rate + padding)     // Layer II
      case _ => // Layer III: 1152 samples (MPEG1) or 576 (MPEG2/2.5)
        val s = if (version == 3) 1152 else 576
        (s, s / 8 * kbps * 1000 / rate + padding)
    }
    if (frameBytes < 4) None else Some((frameBytes, samples, rate, channels, kbps))
  }

  /** REAL MP3 metadata decode — (sample_rate, channels, first-frame
    * bitrate kbps, duration_ms) — pure byte slicing against the public
    * ISO/IEC 11172-3 header layout, no codec library. An ID3v2 tag
    * (syncsafe size) is skipped; the payload must then start at a valid
    * frame header (no blind sync scan: arbitrary binary with a stray
    * 0xFFEx must not read as audio). Every frame header is walked —
    * duration is Σ samples/rate over ACTUAL frames (per-frame rate, so
    * VBR and rate-switching streams measure correctly) — stopping at a
    * RECOGNIZED trailer (ID3v1 'TAG', 'APETAGEX', Lyrics3
    * 'LYRICSBEGIN', or zero padding optionally followed by one of
    * those) or payload end. ANY other post-frame residue — a corrupted
    * sync pattern or unrecognized bytes (mid-stream corruption,
    * truncation at a non-0xFF byte) — fails the whole parse (None)
    * rather than silently understating the duration. Full PCM synthesis for MP3 stays at the
    * [[decodeStub]] seam; headers and duration are what a scan-time
    * metadata pipeline needs. */
  def mp3Header(payload: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (payload == null || payload.length < 4) return None
    var i = 0
    // ID3v2: "ID3" ver(2) flags(1) syncsafe-size(4), then the tag body
    if (payload.length >= 10 && payload(0) == 'I' && payload(1) == 'D' && payload(2) == '3') {
      val sz = ((payload(6) & 0x7f) << 21) | ((payload(7) & 0x7f) << 14) |
        ((payload(8) & 0x7f) << 7) | (payload(9) & 0x7f)
      val skip = 10L + sz
      if (skip + 4 > payload.length) return None
      i = skip.toInt
    }
    val first = mp3Frame(payload, i).getOrElse(return None)
    var frames = 0L
    var durationUs = 0L // Σ per-frame samples/rate — exact under VBR and rate switches
    var ok = true
    while (ok && i + 4 <= payload.length) {
      if (payload(i) == 'T' && payload(i + 1) == 'A' && payload(i + 2) == 'G') {
        ok = false // ID3v1 trailer: clean end of audio frames
      } else mp3Frame(payload, i) match {
        case Some((bytes, samples, rate, _, _)) =>
          frames += 1; durationUs += samples * 1000000L / rate; i += bytes
        case None =>
          // only RECOGNIZED trailers end the walk cleanly; everything
          // else (corrupted sync, unknown residue) refuses — a stream
          // truncated or corrupted mid-file must not read as a shorter
          // valid one
          if (!mp3Trailer(payload, i)) return None
          ok = false
      }
    }
    // a sub-4-byte tail past the last frame gets the same rule: zero
    // padding only (no recognized tag fits in < 4 bytes)
    if (ok && i < payload.length && !mp3Trailer(payload, i)) return None
    if (frames == 0) None
    else Some((first._3, first._4, first._5, durationUs / 1000L))
  }

  /** Recognized post-frame trailer at `o`: zero padding (to payload end
    * or up to a tag), then optionally ID3v1 ('TAG'), APE ('APETAGEX'),
    * or Lyrics3 ('LYRICSBEGIN'). Anything else is residue that must
    * fail the parse. */
  private def mp3Trailer(p: Array[Byte], o: Int): Boolean = {
    var i = o
    while (i < p.length && p(i) == 0) i += 1
    if (i == p.length) return true
    def at(s: String): Boolean =
      i + s.length <= p.length &&
        s.indices.forall(j => p(i + j) == s.charAt(j).toByte)
    at("TAG") || at("APETAGEX") || at("LYRICSBEGIN")
  }

  /** REAL audio sample decode for RIFF/WAVE: the same chunk walk as
    * [[audioHeader]], then the data chunk decoded per format tag —
    * 16-bit PCM (tag 1, little-endian shorts), G.711 μ-law/A-law
    * (tags 7/6, COMPRESSED 2:1, expanded via [[AudioCodecs]]), and
    * IMA/DVI ADPCM (tag 0x11, COMPRESSED 4:1, block decode). Returns
    * (sample_rate, channels, samples) with samples interleaved when
    * multi-channel. Unsupported format tags, other bit depths, and
    * truncated payloads → None — the same fallback contract as
    * [[decodePixels]]. */
  def audioSamples(payload: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    if (payload == null || payload.length < 44) return None
    def tag(o: Int): String = new String(payload.slice(o, o + 4), "US-ASCII")
    def le32(o: Int): Long = (payload(o) & 0xffL) | ((payload(o + 1) & 0xffL) << 8) |
      ((payload(o + 2) & 0xffL) << 16) | ((payload(o + 3) & 0xffL) << 24)
    def le16(o: Int): Int = (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8)
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var i = 12
    var fmt: Option[(Int, Int, Int)] = None // formatCode, rate, channels
    var bits = -1
    var blockAlign = -1
    var dataOff = -1
    var dataBytes = -1L
    while (i + 8 <= payload.length && (fmt.isEmpty || dataOff < 0)) {
      val id = tag(i)
      val sz = le32(i + 4)
      if (id == "fmt " && i + 24 <= payload.length) {
        fmt = Some((le16(i + 8), le32(i + 12).toInt, le16(i + 10)))
        blockAlign = le16(i + 20)
        bits = le16(i + 22)
      } else if (id == "data") { dataOff = i + 8; dataBytes = sz }
      // same Long-stepped, strictly-advancing walk as [[audioHeader]]
      val next = i.toLong + 8L + sz + (sz & 1L)
      i = if (next > payload.length) payload.length else next.toInt
    }
    val dataOk = dataOff >= 0 && dataBytes >= 0 &&
      dataOff.toLong + dataBytes <= payload.length
    fmt match {
      case Some((1, rate, ch)) if bits == 16 && rate > 0 && ch > 0 && dataOk =>
        val n = (dataBytes / 2).toInt
        val out = new Array[Short](n)
        var j = 0
        while (j < n) { out(j) = le16(dataOff + j * 2).toShort; j += 1 }
        Some((rate, ch, out))
      // G.711 companded (REAL compressed codecs, 2:1): one byte per
      // sample, expanded through [[AudioCodecs]]
      case Some((fc, rate, ch)) if (fc == 6 || fc == 7) && bits == 8 &&
          rate > 0 && ch > 0 && dataOk =>
        val n = dataBytes.toInt
        val out = new Array[Short](n)
        var j = 0
        if (fc == 7)
          while (j < n) { out(j) = AudioCodecs.ulawToLinear(payload(dataOff + j) & 0xff); j += 1 }
        else
          while (j < n) { out(j) = AudioCodecs.alawToLinear(payload(dataOff + j) & 0xff); j += 1 }
        Some((rate, ch, out))
      // IMA/DVI ADPCM (4:1): block-structured 4-bit adaptive coding
      case Some((17, rate, ch)) if bits == 4 && rate > 0 && ch > 0 &&
          dataOk && blockAlign >= 4 * ch =>
        Some((rate, ch,
          AudioCodecs.decodeIma(payload, dataOff, dataBytes.toInt, ch, blockAlign)))
      case _ => None
    }
  }

  /** Fill meta.duration_ms/codec from real WAV or MP3 headers where
    * recognized; other payloads keep their meta untouched. */
  def withAudioMeta(media: DataFrame): DataFrame = {
    val hdr = udf { payload: Array[Byte] => audioHeader(payload).orNull }
    val mp3 = udf { payload: Array[Byte] => mp3Header(payload).orNull }
    media.withColumn("_ahdr", hdr(col("payload")))
      .withColumn("_mp3", mp3(col("payload")))
      .withColumn("meta", struct(
        col("meta.width").as("width"),
        col("meta.height").as("height"),
        coalesce(col("_ahdr._4"), col("_mp3._4"), col("meta.duration_ms"))
          .as("duration_ms"),
        coalesce(when(col("_ahdr").isNotNull, lit("wav")),
          when(col("_mp3").isNotNull, lit("mp3")), col("meta.codec"))
          .as("codec")))
      .drop("_ahdr", "_mp3")
  }

  /** Fill meta.width/height/codec from real payload headers where
    * recognized (PNG/JPEG); unrecognized payloads keep their existing
    * meta untouched. UDF is appropriate here: a marker walk with early
    * exit isn't expressible as a Column, and metadata extraction is not
    * a hot loop (one small header scan per media row). */
  def withImageMeta(media: DataFrame): DataFrame = {
    val hdr = udf { payload: Array[Byte] => imageHeader(payload).orNull }
    media.withColumn("_hdr", hdr(col("payload")))
      .withColumn("meta", struct(
        coalesce(col("_hdr._1"), col("meta.width")).as("width"),
        coalesce(col("_hdr._2"), col("meta.height")).as("height"),
        col("meta.duration_ms").as("duration_ms"),
        coalesce(col("_hdr._3"), col("meta.codec")).as("codec")))
      .drop("_hdr")
  }

  /** Partition-wise feature extraction — the mapInPandas shape: the
    * partition iterator is consumed in fixed-size BATCHES (a real decoder
    * amortizes codec/model setup per batch, exactly like an Arrow batch
    * crossing into pandas), one output row per input row.
    * Output: (media_id, kind, n_bytes, features[featureDim]).
    * The `decoder` seam defaults to the real [[decodeFeatures]] routing;
    * callers whose oracle contract is the raw-byte stub (q39) pin
    * [[decodeStub]] explicitly, so the oracle stays structural rather
    * than depending on corpus content never matching a decoder magic. */
  def extractFeatures(media: DataFrame, featureDim: Int = 16,
                      batchSize: Int = 64,
                      decoder: (Array[Byte], Int) => Array[Float] = decodeFeatures): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("n_bytes", IntegerType, nullable = false),
      StructField("features", ArrayType(FloatType), nullable = false)))
    val rdd = media.select("media_id", "kind", "payload").rdd.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // per-batch setup seam: a real impl opens the codec/model ONCE here
        batch.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          Row(r.getAs[Long]("media_id"), r.getAs[String]("kind"),
            if (payload == null) 0 else payload.length,
            decoder(payload, featureDim).toSeq)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Resize stub: a real implementation rescales decoded pixels; the
    * deterministic stand-in downsamples payload bytes by stride so output
    * size contracts exactly like a resize would. Pure expression. */
  def resizeStub(media: DataFrame, factor: Int): DataFrame = {
    import org.apache.spark.sql.Column
    val payload = col("payload")
    val resized = // every factor-th byte via substr+concat at binary level
      org.apache.spark.sql.functions.expr(
        s"cast(array_join(transform(sequence(1, length(payload), $factor), " +
        s"i -> substring(cast(payload as string), i, 1)), '') as binary)")
    media.withColumn("payload", resized)
      .withColumn("meta", struct(
        (col("meta.width") / factor).cast("int").as("width"),
        (col("meta.height") / factor).cast("int").as("height"),
        col("meta.duration_ms"), col("meta.codec")))
  }

  /** Frame sampling for video-like payloads: every `stride`-th fixed-size
    * window of the payload becomes a "frame" row (explode shape). */
  def sampleFrames(media: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    media
      .withColumn("n_frames",
        greatest(floor(length(col("payload")) / lit(frameBytes * stride)).cast("int"), lit(0)))
      .select(col("media_id"), col("kind"),
        posexplode(transform(sequence(lit(0), col("n_frames") - 1),
          i => substring(col("payload"), (i * frameBytes * stride + 1).cast("int"), lit(frameBytes)))))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "frame_payload")
  }

  /** Build a media table from any (id, string) source — lets the synthetic
    * documents table stand in for binary payloads in tests/queries. */
  def fromText(df: DataFrame, idCol: String, textCol: String, kind: String = "image"): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"), lit(kind).as("kind"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
        lit(null).cast("long").as("duration_ms"), lit("utf8-stub").as("codec")).as("meta"))
}
