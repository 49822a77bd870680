package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * MJPEG-in-AVI video FRAME decode, pure JVM — the video seam's
 * sample-real leg. Modern inter-coded codecs (H.264/VP9/AV1) need a
 * codec library this environment doesn't ship, but Motion-JPEG — the
 * format surveillance cams, webcams and many scientific instruments
 * upload — is an AVI container (the public RIFF structure, Microsoft
 * "AVI RIFF File Reference") whose every video chunk is a standalone
 * JPEG the JDK's ImageIO decodes. So frame extraction here is REAL:
 * container walk → per-frame JPEG slice → actual pixel decode.
 *
 * Scale shape: [[extractVideoFrames]] is per-row imperative byte work
 * (a legitimate mapPartitions site, like the codecs); each task holds
 * ONE container's byte array and decodes only the SAMPLED frames —
 * a 30 fps hour at one frame every 10 s decodes 360 JPEGs, not
 * 108,000.
 */
object Avi {

  private def u32le(b: Array[Byte], i: Int): Long =
    (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) | ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)
  private def fourcc(b: Array[Byte], i: Int): String =
    new String(b, i, 4, "US-ASCII")

  /** Parsed container: dimensions and frame period from `avih`, video
    * chunk (offset, length) slices from the `movi` list. */
  final case class AviMeta(width: Int, height: Int, usPerFrame: Long,
                           totalFrames: Long, frames: Vector[(Int, Int)]) {
    def durationMs: Long = usPerFrame * frames.length / 1000
    def frameTsMs(idx: Int): Long = usPerFrame * idx / 1000
  }

  def parse(b: Array[Byte]): AviMeta = {
    require(b.length >= 12 && fourcc(b, 0) == "RIFF" && fourcc(b, 8) == "AVI ",
      "not an AVI (RIFF/AVI ) container")
    var width = 0; var height = 0; var usPerFrame = 0L; var total = 0L
    val frames = Vector.newBuilder[(Int, Int)]

    def walk(from: Int, until: Int): Unit = {
      var i = from
      while (i + 8 <= until) {
        val id = fourcc(b, i)
        val size = u32le(b, i + 4).toInt
        // Long arithmetic: a crafted size near Int.MaxValue must fail
        // the bound check, not wrap negative past it
        require(size >= 0 && i.toLong + 8 + size <= until,
          s"AVI: chunk '$id' overruns its parent (size $size at $i)")
        id match {
          case "LIST" =>
            val listType = fourcc(b, i + 8)
            // descend into header and movie lists, including the
            // 'rec ' groups interleaved muxers nest inside movi;
            // skip index/unknown
            if (listType == "hdrl" || listType == "strl" ||
                listType == "movi" || listType == "rec ")
              walk(i + 12, i + 8 + size)
          case "avih" =>
            usPerFrame = u32le(b, i + 8)
            total = u32le(b, i + 8 + 16)
            width = u32le(b, i + 8 + 32).toInt
            height = u32le(b, i + 8 + 36).toInt
          case c if (c.endsWith("dc") || c.endsWith("db")) &&
                    c(0).isDigit && c(1).isDigit =>
            // video data chunk (compressed / uncompressed), stream NN
            frames += ((i + 8, size))
          case _ =>
        }
        i += 8 + size + (size & 1) // chunks are word-aligned
      }
    }
    walk(12, b.length)
    require(usPerFrame > 0, "AVI: no avih header found")
    AviMeta(width, height, usPerFrame, total, frames.result())
  }

  /** One frame's bytes (a standalone JPEG for MJPEG streams). */
  def frameBytes(b: Array[Byte], meta: AviMeta, idx: Int): Array[Byte] = {
    val (off, len) = meta.frames(idx)
    java.util.Arrays.copyOfRange(b, off, off + len)
  }

  /** The [[MultimodalPipeline.VideoMetaCodec]] 8-dim shape from the
    * container header alone. */
  def metaFeature(b: Array[Byte]): Array[Float] = {
    val m = parse(b)
    Array(m.width.toFloat, m.height.toFloat, 1f, m.durationMs.toFloat,
      Float.NaN, Float.NaN, Float.NaN, Float.NaN)
  }

  private val frameSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_index", IntegerType, nullable = false),
    StructField("frame_ts_ms", LongType, nullable = false),
    StructField("frame_feature", ArrayType(FloatType), nullable = true)))

  /**
   * REAL frame sampling + decode over a media table: for each MJPEG
   * AVI row, slice one frame every `everyMs` and run it through the
   * actual ImageIO pixel decode ([[MultimodalPipeline.ImageIoCodec]]'s
   * 8-dim image feature — dims, channel means, luma, aspect). Rows
   * whose payload isn't a parseable AVI are dropped (mixed corpora
   * route video kinds here after MIME sniffing); frames whose JPEG
   * is corrupt emit a null feature, never a task failure.
   */
  def extractVideoFrames(media: DataFrame, everyMs: Long,
                         idCol: String = "media_id",
                         contentCol: String = "content"): DataFrame = {
    require(everyMs > 0, "everyMs must be positive")
    val spark = media.sparkSession
    val rdd = media.select(col(idCol).cast(LongType), col(contentCol)).rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.isNullAt(0)) Nil // an uncastable/null id drops the row, never the task
        else {
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        val metaOpt =
          try { if (bytes == null) None else Some(parse(bytes)) }
          catch { case _: Exception => None }
        metaOpt.toSeq.flatMap { meta =>
          val framePeriodMs = math.max(1L, meta.usPerFrame / 1000L)
          val step = math.max(1, (everyMs / framePeriodMs).toInt)
          (0 until meta.frames.length by step).map { idx =>
            val feature =
              try MultimodalPipeline.ImageIoCodec
                .decodeBatch(Iterator(frameBytes(bytes, meta, idx))).next()
              catch { case _: Exception => null }
            Row(id, idx, meta.frameTsMs(idx), feature)
          }
        }
        }
      }
    }
    spark.createDataFrame(rdd, frameSchema)
  }

  // ── fixture encoder ──────────────────────────────────────────────

  /**
   * Minimal conformant MJPEG-AVI encoder for fixtures and gates:
   * RIFF(AVI ) → LIST hdrl(avih) → LIST movi(00dc = one JPEG per
   * frame), word-aligned. JPEGs come from ImageIO, so the bytes under
   * test are the JDK's own encoder output, not hand-rolled.
   */
  def encodeMjpeg(framesRgb: Seq[java.awt.image.BufferedImage], fps: Int): Array[Byte] = {
    require(framesRgb.nonEmpty && fps > 0)
    val w = framesRgb.head.getWidth; val h = framesRgb.head.getHeight
    def le32(v: Long): Array[Byte] =
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val pad = if (payload.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray
      id.getBytes("US-ASCII") ++ le32(payload.length) ++ payload ++ pad
    }
    def list(listType: String, payload: Array[Byte]): Array[Byte] =
      chunk("LIST", listType.getBytes("US-ASCII") ++ payload)

    val jpegs = framesRgb.map(ImageHash.writeImage(_, "jpg"))
    val avih = le32(1000000L / fps) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(jpegs.length) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val hdrl = list("hdrl", chunk("avih", avih))
    val movi = list("movi", jpegs.flatMap(j => chunk("00dc", j)).toArray)
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }
}
