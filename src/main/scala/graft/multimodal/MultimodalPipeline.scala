package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal column plumbing: image/audio/video payloads travel as
 * opaque `binary` columns next to typed metadata, processed in
 * executor-side batches via `mapPartitions` (the JVM analog of
 * `mapInPandas` batch plumbing — schema in/schema out, batch-at-a-time
 * codec invocation, partition-parallel).
 *
 * What decodes for REAL in pure JVM code, no external library:
 *  - IMAGES: `javax.imageio` (PNG/JPEG/BMP/GIF) backs
 *    [[MultimodalPipeline.ImageIoCodec]] / [[MultimodalPipeline.ImageIoResize]];
 *  - PCM AUDIO: `javax.sound.sampled` (WAV/AIFF/AU) backs
 *    [[MultimodalPipeline.WavCodec]];
 *  - FLAC: SAMPLE-real through [[Flac.decode]] (rice coding, fixed +
 *    LPC predictors, CRCs — the full public bitstream format) via
 *    [[MultimodalPipeline.FlacCodec]];
 *  - MJPEG-AVI VIDEO: FRAME-real through [[Avi.extractVideoFrames]]
 *    (RIFF walk → per-frame JPEG → pixel decode);
 *  - container METADATA for the rest: OGG Vorbis/Opus + MP3 headers
 *    ([[MultimodalPipeline.CompressedAudioMetaCodec]]), MP4 box walk /
 *    WebM EBML walk / AVI header
 *    ([[MultimodalPipeline.VideoMetaCodec]]) — rate/channels/
 *    duration/dims, the fields curation filters on first.
 *
 * Only inter-coded video (H.264/VP9/AV1) and lossy-audio (MP3/Vorbis)
 * SAMPLE decode remain stubbed — those genuinely need codec libraries
 * this container doesn't ship — behind the same `Codec`/`PayloadCodec`
 * seams, with deterministic fakes so the distributed plumbing (schema,
 * batching, partitioning, memory shape) is tested end-to-end either
 * way; swap in a JNI/library-backed codec for those in production.
 */
object MultimodalPipeline {

  /** Typed metadata schema carried next to the raw bytes. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),      // image | audio | video
    StructField("mime", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("content", BinaryType, nullable = true)))

  /** Output schema of the feature-extraction stage. */
  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("feature", ArrayType(FloatType), nullable = true)))

  /**
   * Pluggable per-batch codec. `decodeBatch` receives all payloads of
   * one executor batch at once, mirroring vectorized UDF semantics.
   */
  trait Codec extends Serializable {
    def decodeBatch(payloads: Iterator[Array[Byte]]): Iterator[Array[Float]]
  }

  /**
   * Deterministic stand-in: 8-dim "feature" from byte statistics —
   * the codec for payload kinds with no in-JVM decoder here (audio,
   * video). For images use [[ImageIoCodec]], which decodes for real.
   */
  object StubCodec extends Codec {
    def decodeBatch(payloads: Iterator[Array[Byte]]): Iterator[Array[Float]] =
      payloads.map { bytes =>
        if (bytes == null || bytes.isEmpty) Array.fill(8)(0.0f)
        else {
          val n = bytes.length
          Array(
            n.toFloat,
            bytes.map(_ & 0xFF).sum.toFloat / n,
            bytes.map(b => (b & 0xFF).toFloat).max,
            bytes.map(b => (b & 0xFF).toFloat).min,
            bytes.count(b => (b & 0xFF) > 127).toFloat / n,
            bytes.take(4).map(_ & 0xFF).sum.toFloat,
            bytes.takeRight(4).map(_ & 0xFF).sum.toFloat,
            (java.util.Arrays.hashCode(bytes) & 0x7FFFFFFF).toFloat / Int.MaxValue)
        }
      }
  }

  /**
   * REAL image codec over the JDK's own decoders — `javax.imageio`
   * ships PNG/JPEG/BMP/GIF readers in every JVM, so the "no media
   * libraries in this container" constraint only applies to
   * audio/video (still stubbed). Decodes each payload and emits an
   * 8-dim feature: [width, height, channels, meanR, meanG, meanB,
   * meanLuma, aspect]. Pixel means sample at most a 64×64 grid so
   * per-image work is bounded regardless of resolution — the feature
   * is a triage signal (solid-color banners, thumbnails, aspect
   * outliers), not a model embedding. Undecodable/empty payloads emit
   * a null feature (crawl bytes lie about their MIME type routinely;
   * a poison payload must not kill the partition).
   */
  object ImageIoCodec extends Codec {
    def decodeBatch(payloads: Iterator[Array[Byte]]): Iterator[Array[Float]] =
      payloads.map { bytes =>
        if (bytes == null || bytes.isEmpty) null
        else try {
          val img = ImageHash.readImage(bytes)
          if (img == null) null
          else {
            val w = img.getWidth; val h = img.getHeight
            val sx = math.max(1, w / 64); val sy = math.max(1, h / 64)
            var r = 0L; var g = 0L; var b = 0L; var n = 0
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = img.getRGB(x, y)
                r += (p >> 16) & 0xFF; g += (p >> 8) & 0xFF; b += p & 0xFF
                n += 1; x += sx
              }
              y += sy
            }
            val mr = r.toFloat / n; val mg = g.toFloat / n; val mb = b.toFloat / n
            Array(w.toFloat, h.toFloat,
              img.getColorModel.getNumComponents.toFloat,
              mr, mg, mb,
              0.299f * mr + 0.587f * mg + 0.114f * mb,
              w.toFloat / h)
          }
        } catch { case _: Exception => null }
      }
  }

  /**
   * REAL audio codec over the JDK's own decoders — `javax.sound.sampled`
   * ships WAV/AIFF/AU readers in every JVM. Decodes PCM and emits an
   * 8-dim triage feature: [sampleRateHz, channels, bitsPerSample,
   * durationMs, rms, peak, zeroCrossRate, dcOffset] — the signals an
   * audio-corpus curation pass filters on (silence, clipping, mono/
   * stereo, sample-rate outliers) without any model. Frames stream
   * through a bounded buffer (one read block at a time — an hour-long
   * WAV never materializes as a sample array). Undecodable or
   * compressed-format payloads (MP3/OGG need external codecs) emit a
   * null feature, never a task failure.
   */
  object WavCodec extends Codec {
    def decodeBatch(payloads: Iterator[Array[Byte]]): Iterator[Array[Float]] =
      payloads.map { bytes =>
        if (bytes == null || bytes.isEmpty) null
        else try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            val fmt = in.getFormat
            val bits = fmt.getSampleSizeInBits
            if (bits != 16 && bits != 8) null // PCM 8/16-bit only here
            else {
              val ch = fmt.getChannels
              val frameBytes = fmt.getFrameSize
              val buf = new Array[Byte](frameBytes * 4096)
              var n = 0L; var sumSq = 0.0; var sum = 0.0
              var peak = 0.0; var crossings = 0L; var prevSign = 0
              var read = in.read(buf)
              while (read > 0) {
                var off = 0
                while (off + frameBytes <= read) {
                  // first channel's sample, normalized to [-1, 1]
                  val s =
                    if (bits == 16) {
                      val lo = buf(off) & 0xFF; val hi = buf(off + 1)
                      (if (fmt.isBigEndian) ((buf(off) << 8) | (buf(off + 1) & 0xFF))
                       else ((hi << 8) | lo)).toShort / 32768.0
                    } else (buf(off) & 0xFF) / 128.0 - 1.0 // 8-bit unsigned
                  n += 1; sumSq += s * s; sum += s
                  val a = math.abs(s); if (a > peak) peak = a
                  val sign = if (s > 0) 1 else if (s < 0) -1 else prevSign
                  if (prevSign != 0 && sign != prevSign) crossings += 1
                  prevSign = sign
                  off += frameBytes
                }
                read = in.read(buf)
              }
              if (n == 0) null
              else Array(
                fmt.getSampleRate,
                ch.toFloat, bits.toFloat,
                (n * 1000.0 / fmt.getSampleRate).toFloat,
                math.sqrt(sumSq / n).toFloat,
                peak.toFloat,
                (crossings.toDouble / n).toFloat,
                (sum / n).toFloat)
            }
          } finally in.close()
        } catch { case _: Exception => null }
      }
  }

  /**
   * Metadata-real codec for the two compressed audio containers a web
   * crawl actually carries — FLAC and OGG (Vorbis/Opus) — parsed from
   * their PUBLIC container headers in pure JVM code (no codec
   * library): full sample decode stays behind the seam, but sample
   * rate / channels / bits-per-sample / duration — the fields an
   * audio-curation pass filters on FIRST — are read for real.
   *
   *  - FLAC: `fLaC` magic + the mandatory STREAMINFO metadata block
   *    (type 0, 34 bytes): 20-bit sample rate, 3-bit channels-1,
   *    5-bit bps-1, 36-bit total samples.
   *  - OGG: first page carries the id packet — Vorbis (`\x01vorbis`:
   *    u8 channels, u32-LE rate) or Opus (`OpusHead`: u8 channels,
   *    u16-LE pre-skip, 48 kHz granule clock); duration comes from
   *    the LAST page's 64-bit granule position (samples), found by a
   *    backward scan for `OggS`.
   *
   * Emits the [[WavCodec]] 8-dim shape with the four waveform stats
   * (rms/peak/zcr/dc) as NaN — undecoded, not zero — so WAV and
   * compressed rows stay union-compatible and downstream filters can
   * tell "silent" from "not decoded". Unknown/corrupt payloads emit
   * null, never a task failure.
   */
  object CompressedAudioMetaCodec extends Codec {
    private def u32le(b: Array[Byte], i: Int): Long =
      (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) | ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)
    private def u64le(b: Array[Byte], i: Int): Long = {
      var v = 0L; var k = 7
      while (k >= 0) { v = (v << 8) | (b(i + k) & 0xFFL); k -= 1 }
      v
    }

    private[multimodal] def parseFlac(b: Array[Byte]): Array[Float] = {
      // ONE STREAMINFO unpack in the repo: delegate to the sample
      // decoder's parser and map to the feature shape
      try {
        val si = Flac.parseStreamInfo(b)
        if (si.sampleRate <= 0) null
        else Array(si.sampleRate.toFloat, si.channels.toFloat, si.bitsPerSample.toFloat,
          if (si.totalSamples > 0) (si.totalSamples * 1000.0 / si.sampleRate).toFloat
          else Float.NaN,
          Float.NaN, Float.NaN, Float.NaN, Float.NaN)
      } catch { case _: Exception => null }
    }

    /** Last `OggS` page's granule position (total samples on the
      * stream's clock), or -1. Backward scan — the tail page is what
      * carries the end-of-stream granule. */
    private def lastGranule(b: Array[Byte]): Long = {
      var i = b.length - 27 // minimal page header size
      while (i >= 0) {
        // validate beyond the capture pattern: compressed payload can
        // contain the literal bytes 'OggS', and reading 8 garbage
        // bytes as the granule would emit a wildly wrong duration.
        // version must be 0 and header-type flags fit in 3 bits.
        if (b(i) == 'O' && b(i + 1) == 'g' && b(i + 2) == 'g' && b(i + 3) == 'S' &&
            b(i + 4) == 0 && (b(i + 5) & 0xF8) == 0)
          return u64le(b, i + 6)
        i -= 1
      }
      -1L
    }

    private[multimodal] def parseOgg(b: Array[Byte]): Array[Float] = {
      if (b.length < 58) return null
      val nSegs = b(26) & 0xFF
      val p = 27 + nSegs // first packet start
      if (p + 19 > b.length) return null
      val isVorbis = b(p) == 0x01 && b(p + 1) == 'v' && b(p + 2) == 'o' &&
        b(p + 3) == 'r' && b(p + 4) == 'b' && b(p + 5) == 'i' && b(p + 6) == 's'
      val isOpus = b(p) == 'O' && b(p + 1) == 'p' && b(p + 2) == 'u' &&
        b(p + 3) == 's' && b(p + 4) == 'H' && b(p + 5) == 'e' &&
        b(p + 6) == 'a' && b(p + 7) == 'd'
      if (isVorbis) {
        val channels = b(p + 11) & 0xFF
        val rate = u32le(b, p + 12)
        if (rate == 0) return null
        val g = lastGranule(b)
        val durMs = if (g > 0) (g * 1000.0 / rate).toFloat else Float.NaN
        Array(rate.toFloat, channels.toFloat, 0f, durMs,
          Float.NaN, Float.NaN, Float.NaN, Float.NaN)
      } else if (isOpus) {
        val channels = b(p + 9) & 0xFF
        val preSkip = (b(p + 10) & 0xFF) | ((b(p + 11) & 0xFF) << 8)
        val inputRate = u32le(b, p + 12)
        val g = lastGranule(b)
        // opus granules tick at 48 kHz regardless of the input rate
        val durMs = if (g > 0) ((g - preSkip) * 1000.0 / 48000.0).toFloat else Float.NaN
        Array(inputRate.toFloat, channels.toFloat, 0f, durMs,
          Float.NaN, Float.NaN, Float.NaN, Float.NaN)
      } else null
    }

    // MPEG-1/2 Layer III (the public frame-header layout). Tables are
    // the spec's: bitrate kbps by (version, index), sample rate by
    // (version, index); Layer III samples/frame = 1152 (MPEG1) / 576
    // (MPEG2/2.5).
    private val Mp3BitrateV1 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    private val Mp3BitrateV2 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
    private val Mp3RateV1 = Array(44100, 48000, 32000)
    private val Mp3RateV2 = Array(22050, 24000, 16000)
    private val Mp3RateV25 = Array(11025, 12000, 8000)

    private[multimodal] def parseMp3(b: Array[Byte]): Array[Float] = {
      // skip an ID3v2 container if present (syncsafe 28-bit size)
      var i = 0
      if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
        val size = ((b(6) & 0x7F) << 21) | ((b(7) & 0x7F) << 14) |
          ((b(8) & 0x7F) << 7) | (b(9) & 0x7F)
        i = 10 + size
      }
      // hunt for the first VALID frame header: leading junk can
      // contain sync-looking bytes (0xFF 0xEx), so a candidate whose
      // version/layer/rate fields are reserved resumes the scan at
      // the next byte, the way real demuxers resync
      var h1 = 0; var h2 = 0; var h3 = 0
      var found = false
      while (!found && i + 4 < b.length) {
        if ((b(i) & 0xFF) == 0xFF && (b(i + 1) & 0xE0) == 0xE0) {
          h1 = b(i + 1) & 0xFF; h2 = b(i + 2) & 0xFF; h3 = b(i + 3) & 0xFF
          val vb = (h1 >> 3) & 0x3
          val lb = (h1 >> 1) & 0x3
          val ri = (h2 >> 2) & 0x3
          if (vb != 1 && lb == 1 && ri != 3) found = true else i += 1
        } else i += 1
      }
      if (!found) return null
      val versionBits = (h1 >> 3) & 0x3 // 0=2.5, 2=MPEG2, 3=MPEG1
      val rateIdx = (h2 >> 2) & 0x3
      val rate = versionBits match {
        case 3 => Mp3RateV1(rateIdx)
        case 2 => Mp3RateV2(rateIdx)
        case _ => Mp3RateV25(rateIdx)
      }
      val channels = if (((h3 >> 6) & 0x3) == 3) 1 else 2
      val samplesPerFrame = if (versionBits == 3) 1152 else 576
      // Xing/Info VBR header: total frame count -> exact duration
      val sideInfo =
        if (versionBits == 3) { if (channels == 2) 32 else 17 }
        else { if (channels == 2) 17 else 9 }
      // protection bit CLEAR means a 2-byte CRC sits between the
      // header and the side info
      val crcBytes = if ((h1 & 0x01) == 0) 2 else 0
      val xingOff = i + 4 + crcBytes + sideInfo
      var durMs = Float.NaN
      if (xingOff + 12 <= b.length) {
        val tag = new String(b, xingOff, 4, "US-ASCII")
        if ((tag == "Xing" || tag == "Info") && (b(xingOff + 7) & 0x01) == 1) {
          val frames = ((b(xingOff + 8) & 0xFFL) << 24) | ((b(xingOff + 9) & 0xFFL) << 16) |
            ((b(xingOff + 10) & 0xFFL) << 8) | (b(xingOff + 11) & 0xFFL)
          durMs = (frames * samplesPerFrame * 1000.0 / rate).toFloat
        }
      }
      if (durMs.isNaN) {
        // CBR estimate from the first frame's bitrate and payload size
        val brIdx = (h2 >> 4) & 0xF
        if (brIdx != 0 && brIdx != 15) {
          val kbps = if (versionBits == 3) Mp3BitrateV1(brIdx) else Mp3BitrateV2(brIdx)
          durMs = ((b.length - i).toDouble * 8.0 / (kbps * 1000.0) * 1000.0).toFloat
        }
      }
      Array(rate.toFloat, channels.toFloat, 0f, durMs,
        Float.NaN, Float.NaN, Float.NaN, Float.NaN)
    }

    private[multimodal] def looksLikeMp3(b: Array[Byte]): Boolean =
      (b.length >= 3 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') ||
        (b.length >= 2 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xE0) == 0xE0)

    def decodeBatch(payloads: Iterator[Array[Byte]]): Iterator[Array[Float]] =
      payloads.map { b =>
        try {
          if (b == null || b.length < 8) null
          else if (b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C') parseFlac(b)
          else if (b(0) == 'O' && b(1) == 'g' && b(2) == 'g' && b(3) == 'S') parseOgg(b)
          else if (looksLikeMp3(b)) parseMp3(b)
          else null
        } catch { case _: Exception => null }
      }
  }

  /**
   * Metadata-real codec for the two video containers a web crawl
   * actually carries — MP4 (ISO BMFF, the public ISO/IEC 14496-12 box
   * structure) and WebM/Matroska (the public EBML structure) — parsed
   * in pure JVM code. Frame DECODE stays behind the seam (no codec
   * library in-env); width / height / track count / duration — the
   * fields a video-curation pass filters on FIRST — are read for
   * real.
   *
   *  - MP4: top-level box walk to `moov`; `mvhd` (v0/v1) carries
   *    timescale + duration; each `trak`/`tkhd` carries 16.16-fixed
   *    width/height (video tracks have nonzero dims; the largest
   *    wins).
   *  - WebM: EBML vint walk into Segment → Info (TimecodeScale,
   *    Duration) and Tracks → TrackEntry → Video (PixelWidth,
   *    PixelHeight). Unknown-size Segment (streaming) extends to EOF.
   *
   * Emits an 8-dim feature `[width, height, n_tracks, duration_ms,
   * NaN, NaN, NaN, NaN]` — the waveform-stat slots stay NaN
   * (undecoded, not zero), mirroring [[CompressedAudioMetaCodec]].
   * Corrupt/unknown payloads emit null, never a task failure.
   */
  object VideoMetaCodec extends Codec {
    private def u32be(b: Array[Byte], i: Int): Long =
      ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
        ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
    private def u64be(b: Array[Byte], i: Int): Long = {
      var v = 0L; var k = 0
      while (k < 8) { v = (v << 8) | (b(i + k) & 0xFFL); k += 1 }
      v
    }

    /** Top-level-or-nested box scan over [start,end): (type, payload
      * start, box end). Corrupt sizes clamp to the window. */
    private def boxes(b: Array[Byte], start: Int, end: Int): Iterator[(String, Int, Int)] =
      new Iterator[(String, Int, Int)] {
        private var i = start
        override def hasNext: Boolean = i + 8 <= end
        override def next(): (String, Int, Int) = {
          val sz = u32be(b, i)
          val tpe = new String(b, i + 4, 4, "ISO-8859-1")
          val (payload, boxEnd) =
            if (sz == 1 && i + 16 <= end) (i + 16, i + u64be(b, i + 8))
            else if (sz == 0) (i + 8, end.toLong)
            else (i + 8, i + sz)
          if (boxEnd <= i || boxEnd > end) { val r = (tpe, payload, end); i = end; r }
          else { val r = (tpe, payload, boxEnd.toInt); i = boxEnd.toInt; r }
        }
      }

    private[multimodal] def parseMp4(b: Array[Byte]): Array[Float] = {
      val moov = boxes(b, 0, b.length).find(_._1 == "moov").orNull
      if (moov == null) return null
      var timescale = 0L; var duration = -1L
      var width = 0f; var height = 0f; var nTracks = 0
      boxes(b, moov._2, moov._3).foreach {
        case ("mvhd", p, _) =>
          val v = b(p) & 0xFF
          if (v == 1) { timescale = u32be(b, p + 20); duration = u64be(b, p + 24) }
          else {
            timescale = u32be(b, p + 12); duration = u32be(b, p + 16)
            // all-ones is the ISO 14496-12 'unknown' sentinel (the v1
            // path lands there via u64be = -1 already)
            if (duration == 0xFFFFFFFFL) duration = -1L
          }
        case ("trak", p, e) =>
          nTracks += 1
          boxes(b, p, e).foreach {
            case ("tkhd", tp, te) =>
              val v = b(tp) & 0xFF
              // fullbox(4) + creation/mod/trackID/reserved/duration
              val wOff = (if (v == 1) tp + 4 + 32 else tp + 4 + 20) + 52
              if (wOff + 8 <= te) {
                val w = (u32be(b, wOff) / 65536.0).toFloat
                val h = (u32be(b, wOff + 4) / 65536.0).toFloat
                if (w > width) { width = w; height = h }
              }
            case _ => ()
          }
        case _ => ()
      }
      if (timescale <= 0) return null
      val durMs = if (duration >= 0) (duration * 1000.0 / timescale).toFloat
        else Float.NaN
      Array(width, height, nTracks.toFloat, durMs,
        Float.NaN, Float.NaN, Float.NaN, Float.NaN)
    }

    /** EBML element id (marker bits kept) + its encoded length. */
    private def vintId(b: Array[Byte], i: Int): (Long, Int) = {
      val first = b(i) & 0xFF
      val len = java.lang.Integer.numberOfLeadingZeros(first) - 24 + 1
      if (len < 1 || len > 4 || i + len > b.length) return (-1L, 0)
      var v = 0L; var k = 0
      while (k < len) { v = (v << 8) | (b(i + k) & 0xFFL); k += 1 }
      (v, len)
    }

    /** EBML size vint (marker bit stripped); all-ones = unknown (-1). */
    private def vintSize(b: Array[Byte], i: Int): (Long, Int) = {
      val first = b(i) & 0xFF
      if (first == 0) return (-1L, 0)
      val len = java.lang.Integer.numberOfLeadingZeros(first) - 24 + 1
      if (len > 8 || i + len > b.length) return (-1L, 0)
      var v = (first & (0xFF >> len)).toLong
      var ones = first == (0xFF >> (len - 1) | (1 << (8 - len))) // first byte all value-ones
      var k = 1
      while (k < len) {
        val t = b(i + k) & 0xFF
        if (t != 0xFF) ones = false
        v = (v << 8) | t
        k += 1
      }
      val max = (1L << (7 * len)) - 1
      (if (v == max && ones) -1L else v, len)
    }

    private def ebmlUint(b: Array[Byte], i: Int, len: Int): Long = {
      var v = 0L; var k = 0
      while (k < len) { v = (v << 8) | (b(i + k) & 0xFFL); k += 1 }
      v
    }

    private def ebmlFloat(b: Array[Byte], i: Int, len: Int): Double =
      if (len == 4) java.lang.Float.intBitsToFloat(ebmlUint(b, i, 4).toInt).toDouble
      else if (len == 8) java.lang.Double.longBitsToDouble(ebmlUint(b, i, 8))
      else Double.NaN

    /** Walk one EBML level, calling `f(id, payloadStart, payloadEnd)`.
      * Unknown-size elements extend to the window end. */
    private def ebmlWalk(b: Array[Byte], start: Int, end: Int)
                        (f: (Long, Int, Int) => Unit): Unit = {
      var i = start
      while (i + 2 <= end) {
        val (id, idLen) = vintId(b, i)
        if (idLen == 0) return
        val (sz, szLen) = vintSize(b, i + idLen)
        if (szLen == 0) return
        val p = i + idLen + szLen
        val e = if (sz < 0) end else math.min(end.toLong, p + sz).toInt
        if (e < p) return
        f(id, p, e)
        i = e
      }
    }

    private[multimodal] def parseWebm(b: Array[Byte]): Array[Float] = {
      var timescaleNs = 1000000L // EBML default: 1 ms ticks
      var durationTicks = Double.NaN
      var width = 0f; var height = 0f; var nTracks = 0
      ebmlWalk(b, 0, b.length) { (id, p, e) =>
        if (id == 0x18538067L) { // Segment
          ebmlWalk(b, p, e) { (id2, p2, e2) =>
            if (id2 == 0x1549A966L) { // Info
              ebmlWalk(b, p2, e2) { (id3, p3, e3) =>
                if (id3 == 0x2AD7B1L) timescaleNs = ebmlUint(b, p3, e3 - p3)
                else if (id3 == 0x4489L) durationTicks = ebmlFloat(b, p3, e3 - p3)
              }
            } else if (id2 == 0x1654AE6BL) { // Tracks
              ebmlWalk(b, p2, e2) { (id3, p3, e3) =>
                if (id3 == 0xAEL) { // TrackEntry
                  nTracks += 1
                  ebmlWalk(b, p3, e3) { (id4, p4, e4) =>
                    if (id4 == 0xE0L) { // Video
                      ebmlWalk(b, p4, e4) { (id5, p5, e5) =>
                        if (id5 == 0xB0L) width = ebmlUint(b, p5, e5 - p5).toFloat
                        else if (id5 == 0xBAL) height = ebmlUint(b, p5, e5 - p5).toFloat
                      }
                    }
                  }
                }
              }
            }
          }
        }
      }
      if (nTracks == 0 && width == 0f) return null
      val durMs = if (durationTicks.isNaN) Float.NaN
        else (durationTicks * timescaleNs / 1e6).toFloat
      Array(width, height, nTracks.toFloat, durMs,
        Float.NaN, Float.NaN, Float.NaN, Float.NaN)
    }

    def decodeBatch(payloads: Iterator[Array[Byte]]): Iterator[Array[Float]] =
      payloads.map { b =>
        try {
          if (b == null || b.length < 12) null
          else if (b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p') parseMp4(b)
          else if ((b(0) & 0xFF) == 0x1A && (b(1) & 0xFF) == 0x45 &&
            (b(2) & 0xFF) == 0xDF && (b(3) & 0xFF) == 0xA3) parseWebm(b)
          else if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
            b(8) == 'A' && b(9) == 'V' && b(10) == 'I') Avi.metaFeature(b)
          else null
        } catch { case _: Exception => null }
      }
  }

  /** Format-dispatching audio codec: WAV/AIFF/AU decode for REAL
    * through [[WavCodec]]; FLAC/OGG read their container metadata
    * through [[CompressedAudioMetaCodec]]; anything else nulls. One
    * codec a mixed audio corpus runs end to end. */
  object AudioCodec extends Codec {
    def decodeBatch(payloads: Iterator[Array[Byte]]): Iterator[Array[Float]] =
      payloads.map { b =>
        if (b == null || b.length < 12) null
        else if (b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C') {
          // FLAC is SAMPLE-real ([[Flac.decode]]); a bitstream the
          // decoder can't handle degrades to the metadata row (NaN
          // waveform stats) rather than nulling the whole record
          val full = FlacCodec.decodeBatch(Iterator(b)).next()
          if (full != null) full
          else CompressedAudioMetaCodec.decodeBatch(Iterator(b)).next()
        }
        else if ((b(0) == 'O' && b(1) == 'g' && b(2) == 'g' && b(3) == 'S') ||
                 CompressedAudioMetaCodec.looksLikeMp3(b))
          CompressedAudioMetaCodec.decodeBatch(Iterator(b)).next()
        else WavCodec.decodeBatch(Iterator(b)).next()
      }
  }

  /** Sample-real FLAC codec: full bitstream decode ([[Flac]] —
    * rice coding, fixed + LPC predictors, channel decorrelation, both
    * CRCs, from the public RFC 9639 format) folding the SAME 8-dim
    * waveform feature [[WavCodec]] emits for PCM, so a mixed corpus's
    * silence/clipping/rate filters see FLAC and WAV identically.
    * Memory stays bounded at one decoded block per file. Corrupt
    * payloads emit null, never a task failure. */
  object FlacCodec extends Codec {
    def decodeBatch(payloads: Iterator[Array[Byte]]): Iterator[Array[Float]] =
      payloads.map { b =>
        if (b == null || b.length < 42 ||
            !(b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')) null
        else try {
          val d = Flac.decode(b)
          Array(
            d.info.sampleRate.toFloat,
            d.info.channels.toFloat,
            d.info.bitsPerSample.toFloat,
            (d.samplesDecoded * 1000.0 / d.info.sampleRate).toFloat,
            d.rms.toFloat, d.peak.toFloat,
            d.zeroCrossRate.toFloat, d.dcOffset.toFloat)
        } catch { case _: Exception => null }
      }
  }

  /**
   * Batched feature extraction: binary column → fixed-dim float
   * feature vector. Runs the codec over bounded `batchSize`-row groups
   * pulled lazily from the partition iterator — peak executor memory
   * is one batch of payloads, NOT the whole partition (a partition of
   * real media at 100 TB can be gigabytes; buffering it whole is an
   * OOM). Repartitions first so decode parallelism matches the
   * cluster, not the file layout.
   */
  def extractFeatures(media: DataFrame, codec: Codec = StubCodec,
                      parallelism: Option[Int] = None,
                      batchSize: Int = 64): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val spark = media.sparkSession
    val prepared = parallelism.fold(media)(media.repartition(_))
    val rdd = prepared.select("media_id", "kind", "content").rdd.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val feats = codec.decodeBatch(batch.iterator.map(_.getAs[Array[Byte]]("content")))
        batch.iterator.zip(feats).map { case (r, f) =>
          val bytes = r.getAs[Array[Byte]]("content")
          Row(r.getAs[Long]("media_id"), r.getAs[String]("kind"),
            if (bytes == null) 0L else bytes.length.toLong, f)
        }
      }
    }
    spark.createDataFrame(rdd, featureSchema)
  }

  /** Deterministic REAL FLAC media (ids 30000+): sine tones encoded
    * through [[Flac.encode]] — alternating FIXED and LPC subframes —
    * so the sample-real FLAC decode path runs inside gates on real
    * bitstreams. No RNG; unions cleanly with the other tables. */
  def syntheticFlacMedia(spark: SparkSession, n: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      val rate = 8000
      val frames = 600 + (i % 4) * 300
      val freq = 150.0 + i * 15
      val pcm = Array.tabulate(frames)(j =>
        (0.5 * math.sin(2 * math.Pi * freq * j / rate) * 32767).toInt)
      val bytes = Flac.encode(Array(pcm), rate, blockSize = 512, lpc = i % 2 == 1)
      Row(30000L + i, "audio", "audio/flac", null, null,
        java.lang.Long.valueOf(frames * 1000L / rate), bytes)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq), mediaMetaSchema)
  }

  /** Deterministic sample media table (fake payloads) for tests. */
  def syntheticMedia(spark: SparkSession, n: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      val bytes = Array.tabulate[Byte](64 + i % 64)(j => ((i * 31 + j * 7) % 256).toByte)
      Row(i.toLong, Seq("image", "audio", "video")(i % 3), "application/octet-stream",
        if (i % 3 == 0) Integer.valueOf(640) else null,
        if (i % 3 == 0) Integer.valueOf(480) else null,
        if (i % 3 != 0) java.lang.Long.valueOf(1000L * (i % 60)) else null,
        bytes)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq), mediaMetaSchema)
  }

  /** Deterministic REAL media table: even ids carry actual PNGs
    * (gradient pixels via ImageIO), odd ids actual 16-bit PCM WAVs
    * (sine tones via AudioSystem) — both synthesized with the JDK's
    * own encoders, no RNG, ids offset to 10000+ so the table unions
    * cleanly with [[syntheticMedia]]. */
  def syntheticRealMedia(spark: SparkSession, n: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      if (i % 2 == 0) {
        val w = 16 + (i % 4) * 8; val h = 12 + (i % 3) * 4
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { img.setRGB(x, y, (x * 31 + y * 17 + i * 97) & 0xFFFFFF); x += 1 }
          y += 1
        }
        Row(10000L + i, "image", "image/png",
          Integer.valueOf(w), Integer.valueOf(h), null, ImageHash.writeImage(img, "png"))
      } else {
        val rate = 8000f
        val frames = 800 + (i % 5) * 200
        val freq = 200.0 + i * 10
        val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
        val pcm = new Array[Byte](frames * 2)
        var j = 0
        while (j < frames) {
          val s = (0.4 * math.sin(2 * math.Pi * freq * j / rate) * 32767).toInt.toShort
          pcm(j * 2) = (s & 0xFF).toByte
          pcm(j * 2 + 1) = ((s >> 8) & 0xFF).toByte
          j += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        Row(10000L + i, "audio", "audio/wav", null, null,
          java.lang.Long.valueOf((frames * 1000L / rate.toLong)), bos.toByteArray)
      }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq), mediaMetaSchema)
  }

  /** Deterministic VIDEO media table: even ids carry minimal MP4s
    * (ftyp + moov/mvhd/trak/tkhd, alternating v0/v1 boxes), odd ids
    * minimal WebMs (EBML header + Segment/Info/Tracks) — real
    * container bytes built from the public box/EBML structures, no
    * RNG, ids offset to 20000+ so the table unions cleanly with the
    * other synthetic tables. Dims/durations are pure functions of the
    * id, so an oracle can replay what [[VideoMetaCodec]] must read
    * back out of the bytes. */
  def syntheticVideoMedia(spark: SparkSession, n: Int): DataFrame = {
    def u32(v: Long) = Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def u64(v: Long) = u32(v >>> 32) ++ u32(v & 0xFFFFFFFFL)
    def box(tpe: String, payload: Array[Byte]): Array[Byte] =
      u32(payload.length + 8L) ++ tpe.getBytes("ISO-8859-1") ++ payload
    def mp4(ts: Long, dur: Long, w: Int, h: Int, v1: Boolean): Array[Byte] = {
      val mvhd =
        if (v1) Array[Byte](1, 0, 0, 0) ++ u64(0) ++ u64(0) ++ u32(ts) ++ u64(dur) ++
          Array.fill[Byte](80)(0)
        else Array[Byte](0, 0, 0, 0) ++ u32(0) ++ u32(0) ++ u32(ts) ++ u32(dur) ++
          Array.fill[Byte](80)(0)
      val tkhd = Array[Byte](0, 0, 0, 0) ++ u32(0) ++ u32(0) ++ u32(1) ++ u32(0) ++
        u32(dur) ++ Array.fill[Byte](52)(0) ++ u32(w.toLong << 16) ++ u32(h.toLong << 16)
      box("ftyp", "isomiso2".getBytes("ISO-8859-1")) ++
        box("moov", box("mvhd", mvhd) ++ box("trak", box("tkhd", tkhd)))
    }
    def el(id: Array[Byte], payload: Array[Byte]): Array[Byte] = {
      require(payload.length < 0x7F)
      id ++ Array((0x80 | payload.length).toByte) ++ payload
    }
    def webm(durMs: Double, w: Int, h: Int): Array[Byte] = {
      val tcs = el(Array(0x2A.toByte, 0xD7.toByte, 0xB1.toByte),
        Array(0x0F.toByte, 0x42.toByte, 0x40.toByte)) // 1,000,000 ns/tick
      val bits = java.lang.Float.floatToIntBits(durMs.toFloat)
      val dur = el(Array(0x44.toByte, 0x89.toByte), u32(bits & 0xFFFFFFFFL))
      val video = el(Array(0xE0.toByte),
        el(Array(0xB0.toByte), Array((w >> 8).toByte, w.toByte)) ++
          el(Array(0xBA.toByte), Array((h >> 8).toByte, h.toByte)))
      val info = el(Array(0x15.toByte, 0x49.toByte, 0xA9.toByte, 0x66.toByte), tcs ++ dur)
      val tracks = el(Array(0x16.toByte, 0x54.toByte, 0xAE.toByte, 0x6B.toByte),
        el(Array(0xAE.toByte), video))
      el(Array(0x1A.toByte, 0x45.toByte, 0xDF.toByte, 0xA3.toByte), Array[Byte]()) ++
        el(Array(0x18.toByte, 0x53.toByte, 0x80.toByte, 0x67.toByte), info ++ tracks)
    }
    val rows = (0 until n).map { i =>
      val w = 320 + (i % 8) * 160
      val h = 240 + (i % 8) * 120
      val durMs = 1000L * (i % 30 + 1)
      val bytes =
        if (i % 2 == 0) mp4(1000L, durMs, w, h, v1 = i % 4 == 0)
        else webm(durMs.toDouble, w, h)
      Row(20000L + i, "video", if (i % 2 == 0) "video/mp4" else "video/webm",
        Integer.valueOf(w), Integer.valueOf(h), java.lang.Long.valueOf(durMs), bytes)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq), mediaMetaSchema)
  }

  /** Frame-sampling plan for video rows: explode k sample offsets per
   * row (the Spark-side shape of frame extraction; decode stubbed). */
  def sampleFrames(media: DataFrame, everyMs: Long): DataFrame =
    media.where(col("kind") === "video" && col("duration_ms").isNotNull)
      .withColumn("frame_ts_ms",
        explode(sequence(lit(0L), col("duration_ms"), lit(everyMs))))
      .select(col("media_id"), col("frame_ts_ms"), col("content"))

  /** Pluggable payload→payload batch transform (resize, transcode,
    * re-encode) — binary in, binary out, batch-at-a-time like
    * [[Codec]]. */
  trait PayloadCodec extends Serializable {
    def transformBatch(payloads: Iterator[Array[Byte]]): Iterator[Array[Byte]]
  }

  /** Deterministic resize stand-in: folds the payload into a
    * width×height/256-byte pseudo-bitmap (real deployment: an image
    * library decode → scale → re-encode). */
  final case class StubResize(width: Int, height: Int) extends PayloadCodec {
    def transformBatch(payloads: Iterator[Array[Byte]]): Iterator[Array[Byte]] =
      payloads.map { bytes =>
        val out = new Array[Byte](math.max(1, width * height / 256))
        if (bytes != null) {
          var i = 0
          while (i < bytes.length) { out(i % out.length) = (out(i % out.length) ^ bytes(i)).toByte; i += 1 }
        }
        out
      }
  }

  /**
   * REAL image resize over the JDK decoders: decode → bilinear
   * `Graphics2D` scale into an RGB canvas → re-encode (`png` default;
   * any `ImageIO.write`-supported format). Headless-safe (BufferedImage
   * needs no display). Undecodable payloads PASS THROUGH unchanged —
   * the metadata rewrite in [[resizeImages]] then records the target
   * dims optimistically, so pair this with [[ImageIoCodec]] triage
   * upstream when the corpus carries junk bytes.
   */
  final case class ImageIoResize(width: Int, height: Int,
                                 format: String = "png") extends PayloadCodec {
    require(width > 0 && height > 0, s"target dims must be positive: ${width}x$height")
    def transformBatch(payloads: Iterator[Array[Byte]]): Iterator[Array[Byte]] =
      payloads.map { bytes =>
        if (bytes == null || bytes.isEmpty) bytes
        else try {
          val img = ImageHash.readImage(bytes)
          if (img == null) bytes
          else {
            val out = new java.awt.image.BufferedImage(width, height,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val gph = out.createGraphics()
            gph.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            gph.drawImage(img, 0, 0, width, height, null)
            gph.dispose()
            ImageHash.writeImage(out, format)
          }
        } catch { case _: Exception => bytes }
      }
  }

  /**
   * Resize stage: IMAGE payloads run through the codec in bounded
   * batches (same lazy `grouped` iterator memory shape as
   * [[extractFeatures]] — peak memory is one batch, never a
   * partition); width/height metadata is rewritten to the target;
   * audio/video rows pass through untouched. Schema in = schema out
   * ([[mediaMetaSchema]]), so stages chain.
   */
  def resizeImages(media: DataFrame, width: Int, height: Int,
                   codec: PayloadCodec = null,
                   batchSize: Int = 64): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val c = Option(codec).getOrElse(StubResize(width, height))
    val spark = media.sparkSession
    val cols = mediaMetaSchema.fieldNames
    val rdd = media.select(cols.map(col).toIndexedSeq: _*).rdd.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val (images, others) = batch.partition(_.getAs[String]("kind") == "image")
        val resized = c.transformBatch(
          images.iterator.map(_.getAs[Array[Byte]]("content"))).toArray
        // a codec that under-emits would silently TRUNCATE the zip and
        // drop trailing rows — enforce the 1:1 contract loudly instead
        require(resized.length == images.size,
          s"PayloadCodec returned ${resized.length} outputs for ${images.size} " +
            "inputs; transformBatch must emit exactly one payload per input " +
            "(filtering is a separate stage's decision)")
        val newImages = images.iterator.zip(resized.iterator).map { case (r, bytes) =>
          Row(r.getAs[Long]("media_id"), "image", r.getAs[String]("mime"),
            Integer.valueOf(width), Integer.valueOf(height),
            r.getAs[java.lang.Long]("duration_ms"), bytes)
        }
        newImages ++ others.iterator
      }
    }
    spark.createDataFrame(rdd, mediaMetaSchema)
  }
}
