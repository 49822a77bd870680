package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Perceptual image hashing + image near-duplicate detection — the
 * image leg of the dedup family (the LAION-style multimodal curation
 * step). Byte-exact dedup misses the normal shape of image
 * duplication on the web: the SAME picture re-encoded (JPEG quality
 * ladders), resized (thumbnails), or minimally edited. The 64-bit
 * DCT perceptual hash (the public pHash algorithm) survives exactly
 * those transforms: decode → 32×32 grayscale → 2D DCT-II → keep the
 * low-frequency 8×8 block → threshold each coefficient against the
 * block's median (DC excluded from the median — it is pure average
 * brightness). Hamming distance between hashes ranks perceptual
 * similarity.
 *
 * Scale shape: hashing is per-row byte work inside the scan
 * (mapPartitions, one decoded 32×32 plane per image in flight);
 * candidate generation reuses [[graft.operators.Dedup]]'s hamming
 * banding — after the hash column exists, everything that shuffles
 * is (id, 8-byte hash), never pixels. A 100 TB image corpus dedups
 * with the same plan discipline as the text corpus.
 */
object ImageHash {

  // ImageIO's default stream cache is FILE-backed: every read/write of
  // an in-memory image creates and deletes a temp file. The media
  // pipelines en/decode thousands of small frames per task (r20
  // profile: the per-clip syscall churn dominated the decode stage),
  // so every codec call passes an explicit memory-backed stream — the
  // JVM-wide `ImageIO.setUseCache` flag stays untouched.

  /** Decodes encoded image bytes; null when no reader recognizes them. */
  def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    // ImageIO.read closes the stream itself unless it returns null
    val img = javax.imageio.ImageIO.read(in)
    if (img == null) in.close()
    img
  }

  /** Encodes `img` in `format` (any ImageIO writer format name). */
  def writeImage(img: java.awt.image.RenderedImage, format: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try javax.imageio.ImageIO.write(img, format, out) finally out.close()
    bos.toByteArray
  }

  private val Size = 32
  // DCT-II basis, precomputed once per JVM: C[u][x] = cos((2x+1)uπ/64)
  private lazy val cosTable: Array[Array[Double]] = Array.tabulate(Size, Size) {
    (u, x) => math.cos((2 * x + 1) * u * math.Pi / (2.0 * Size))
  }

  /** 64-bit perceptual hash of encoded image bytes; null for
    * undecodable payloads (crawl bytes lie — a poison image must not
    * kill the partition). */
  def phash64(bytes: Array[Byte]): java.lang.Long = {
    if (bytes == null || bytes.length < 8) return null
    try {
      val img = readImage(bytes)
      if (img == null) return null
      // progressive 2x halving before the final resize: one-shot
      // bilinear to 32x32 only READS a 2x2 neighborhood per output
      // pixel, so a 4000px photo would be point-sampled (aliased) and
      // its 800px thumbnail would not — the two 32x32 planes would
      // differ by aliasing noise that flips near-median DCT bits. Each
      // bilinear halving IS a 2x2 box average, so the chain is a
      // proper area-averaging pyramid at any source resolution.
      var cur: java.awt.image.BufferedImage = img
      while (cur.getWidth >= Size * 2 || cur.getHeight >= Size * 2) {
        // halve each axis independently so a 4000x100 banner keeps
        // averaging on its long axis after the short one bottoms out
        val half = new java.awt.image.BufferedImage(
          if (cur.getWidth >= Size * 2) cur.getWidth / 2 else cur.getWidth,
          if (cur.getHeight >= Size * 2) cur.getHeight / 2 else cur.getHeight,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val hg = half.createGraphics()
        hg.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        hg.drawImage(cur, 0, 0, half.getWidth, half.getHeight, null)
        hg.dispose()
        cur = half
      }
      val small = new java.awt.image.BufferedImage(Size, Size,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = small.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(cur, 0, 0, Size, Size, null)
      g.dispose()
      val gray = Array.ofDim[Double](Size, Size)
      var y = 0
      while (y < Size) {
        var x = 0
        while (x < Size) {
          val p = small.getRGB(x, y)
          gray(y)(x) = 0.299 * ((p >> 16) & 0xFF) + 0.587 * ((p >> 8) & 0xFF) + 0.114 * (p & 0xFF)
          x += 1
        }
        y += 1
      }
      // separable 2D DCT-II, low-frequency 8×8 block only
      val ct = cosTable
      val rows = Array.ofDim[Double](8, Size) // DCT over x for u < 8
      var u = 0
      while (u < 8) {
        var yy = 0
        while (yy < Size) {
          var acc = 0.0; var x = 0
          while (x < Size) { acc += gray(yy)(x) * ct(u)(x); x += 1 }
          rows(u)(yy) = acc
          yy += 1
        }
        u += 1
      }
      val coef = new Array[Double](64)
      var v = 0
      while (v < 8) {
        u = 0
        while (u < 8) {
          var acc = 0.0; var yy = 0
          while (yy < Size) { acc += rows(u)(yy) * ct(v)(yy); yy += 1 }
          coef(v * 8 + u) = acc
          u += 1
        }
        v += 1
      }
      // median of the 63 AC coefficients; DC is average brightness
      val ac = coef.drop(1).sorted
      val median = (ac(30) + ac(31)) / 2.0
      var h = 0L
      var i = 0
      while (i < 64) {
        if (coef(i) > median) h |= (1L << i)
        i += 1
      }
      java.lang.Long.valueOf(h)
    } catch { case _: Exception => null }
  }

  /** Hamming distance between two pHashes. */
  def distance(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Add a `phash` column (null for undecodable rows). Per-row byte
    * work — a legitimate mapPartitions site, like the codecs. */
  def withPhash(media: DataFrame, contentCol: String = "content",
                idCol: String = "media_id"): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("sh", LongType, nullable = true)))
    val rdd = media.select(col(idCol).cast(LongType), col(contentCol)).rdd.mapPartitions {
      rows =>
        rows.flatMap { r =>
          if (r.isNullAt(0)) Nil
          else Seq(Row(r.getLong(0), phash64(r.getAs[Array[Byte]](1))))
        }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /**
   * Image near-duplicate candidate pairs: pHash per row, then the
   * SAME hamming-banding plan text SimHash uses (pigeonhole block
   * buckets over (id, hash) — zero cross joins, pixels never
   * shuffle). Undecodable rows drop out. The pair set is transitively
   * complete; feed it to [[graft.operators.DupGroups]] exactly like
   * the text families.
   */
  def nearDups(media: DataFrame, contentCol: String = "content",
               idCol: String = "media_id",
               maxHamming: Int = 8, maxBucket: Int = 1000): DataFrame = {
    val hashed = withPhash(media, contentCol, idCol).where(col("sh").isNotNull)
    graft.operators.Dedup.hammingCandidates(hashed, maxHamming, maxBucket)
  }

  // ---- deterministic fixtures ------------------------------------

  /** Deterministic photo-statistics test image: 8×8 blocky "content"
    * from a strong per-cell mix, plus a gentle gradient. A
    * single-frequency sinusoid would be pHash's degenerate case
    * (nearly all AC coefficients ~0, median thresholding unstable) —
    * real photographs are not. The block granularity scales with the
    * output size, so the same (seed, variant) at any resolution
    * pHashes within a bit or two — the re-encode family. Mixing is
    * splitmix64 per cell: the weaker multiplicative formula this
    * replaced produced EXACT pHash collisions across different
    * (seed, variant) pairs at fixture scale, which breaks
    * planted-pair oracles. */
  def patternImage(w: Int, h: Int, seed: Long, variant: Long = 0L): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var mix = seed * 0x9E3779B97F4A7C15L + variant * 0xBF58476D1CE4E5B9L +
          ((x * 8 / w) * 8 + (y * 8 / h)).toLong * 0x94D049BB133111EBL
        mix ^= (mix >>> 31); mix *= 0x94D049BB133111EBL; mix ^= (mix >>> 29)
        val base = (mix >>> 24 & 0xFF).toInt
        val c = math.min(255, base * 2 / 3 + (64 * x) / w + (64 * y) / h)
        img.setRGB(x, y, (c << 16) | (c << 8) | c)
        x += 1
      }
      y += 1
    }
    img
  }
}
