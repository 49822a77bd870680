package graft.multimodal

import graft.SparkSpec

/** pHash: invariance to re-encode/resize, separation of distinct
  * content, and the banded near-dup plan over media tables. */
class ImageHashSpec extends SparkSpec {

  /** The shared deterministic photo-statistics fixture. */
  private def pattern(w: Int, h: Int, seed: Int): java.awt.image.BufferedImage =
    ImageHash.patternImage(w, h, seed.toLong)

  private def png(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
  }
  private def jpeg(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos); bos.toByteArray
  }

  test("codec calls leave the JVM-wide ImageIO cache setting alone; hashes unchanged") {
    val before = javax.imageio.ImageIO.getUseCache
    val h = ImageHash.phash64(png(pattern(64, 64, 42)))
    val avi = Avi.encodeMjpeg(Seq(ImageHash.patternImage(64, 48, 7L),
      ImageHash.patternImage(64, 48, 8L)), fps = 5)
    val meta = Avi.parse(avi)
    val frames = (0 until 2).map(i => ImageHash.phash64(Avi.frameBytes(avi, meta, i)))
    assert(javax.imageio.ImageIO.getUseCache == before,
      "phash and the AVI frame round trip must not flip ImageIO's process-wide cache flag")
    // values the file-cache-flag implementation produced for the same inputs
    assert(h == -828668625686083495L, s"png phash moved: $h")
    assert(frames == Seq(7202101541472926325L, 1913535434693342877L),
      s"AVI frame phashes moved: $frames")
    assert(avi.length == 2368 && java.util.Arrays.hashCode(avi) == 1678385016,
      "MJPEG container bytes moved")
  }

  test("identical bytes hash identically; determinism across calls") {
    val b = png(pattern(64, 64, 42))
    val h1 = ImageHash.phash64(b); val h2 = ImageHash.phash64(b.clone())
    assert(h1 != null && h1 == h2)
  }

  test("JPEG re-encoding and resizing keep the hash close; distinct content stays far") {
    val base = pattern(128, 96, 7)
    val h = ImageHash.phash64(png(base))
    val reEncoded = ImageHash.phash64(jpeg(base))
    assert(ImageHash.distance(h, reEncoded) <= 6,
      s"re-encode moved the hash ${ImageHash.distance(h, reEncoded)} bits")
    // thumbnail: half resolution
    val thumb = new java.awt.image.BufferedImage(64, 48, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = thumb.createGraphics(); g.drawImage(base, 0, 0, 64, 48, null); g.dispose()
    assert(ImageHash.distance(h, ImageHash.phash64(png(thumb))) <= 8)
    // genuinely different content
    val other = ImageHash.phash64(png(pattern(128, 96, 99)))
    assert(ImageHash.distance(h, other) > 16,
      s"distinct patterns only ${ImageHash.distance(h, other)} bits apart")
  }

  test("undecodable payloads hash to null, never throw") {
    assert(ImageHash.phash64(null) == null)
    assert(ImageHash.phash64("not an image".getBytes("UTF-8")) == null)
    assert(ImageHash.phash64(Array[Byte](1, 2, 3)) == null)
  }

  test("nearDups finds re-encoded copies across a media table and nothing else; pixels never shuffle") {
    import spark.implicits._
    // 12 distinct patterns; ids 100.. get a JPEG near-copy at id+1000
    val rows = (0 until 12).flatMap { i =>
      val img = pattern(96, 96, i)
      val orig = (100L + i, png(img))
      if (i % 3 == 0) Seq(orig, (1100L + i, jpeg(img))) else Seq(orig)
    } :+ ((9999L, "junk bytes, not an image".getBytes("UTF-8")))
    val media = rows.toDF("media_id", "content")
    val pairs = ImageHash.nearDups(media, maxHamming = 8)
    val got = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 12).filter(_ % 3 == 0).map(i => (100L + i, 1100L + i)).toSet
    assert(got == expected, s"expected $expected, got $got")
    // the hamming column reports the distance the pair was admitted at
    assert(pairs.select("hamming").collect().forall(_.getInt(0) <= 8))
  }

  test("exact-copy mass duplication pre-groups into stars (hamming 0)") {
    import spark.implicits._
    val b = png(pattern(80, 80, 5))
    val media = (0 until 6).map(i => (i.toLong, b)).toDF("media_id", "content")
    val pairs = ImageHash.nearDups(media, maxHamming = 4).collect()
    // 5 star pairs to the minimum id, all hamming 0
    assert(pairs.length == 5)
    assert(pairs.forall(r => r.getAs[Long]("id_a") == 0L && r.getAs[Int]("hamming") == 0))
  }

  test("wide thresholds use more pigeonhole blocks (maxHamming up to 15)") {
    import spark.implicits._
    val a = pattern(96, 96, 11)
    val media = Seq((1L, png(a)), (2L, jpeg(a))).toDF("media_id", "content")
    // 8 balanced blocks (width 8)
    assert(ImageHash.nearDups(media, maxHamming = 7).count() == 1)
    // 13 balanced blocks (widths 5 and 4)
    assert(ImageHash.nearDups(media, maxHamming = 12).count() == 1)
    intercept[IllegalArgumentException](ImageHash.nearDups(media, maxHamming = 16).count())
  }

  test("a grainy 4-megapixel photo and its thumbnail hash together (no aliasing)") {
    // one-shot bilinear to 32x32 point-samples a large source (2x2
    // neighborhood per output pixel), so pixel-rate grain survives as
    // aliasing noise in the 32x32 plane; the progressive halving
    // pyramid averages it out, like the thumbnail encoder did
    val large = pattern(2048, 2048, 33)
    var y = 0
    while (y < 2048) {
      var x = 0
      while (x < 2048) {
        var m = x * 0x9E3779B97F4A7C15L + y * 0xBF58476D1CE4E5B9L
        m ^= (m >>> 31); m *= 0x94D049BB133111EBL; m ^= (m >>> 29)
        val noise = ((m >>> 32) % 65).toInt - 32 // ±32 grain at pixel rate
        val c0 = large.getRGB(x, y) & 0xFF
        val c = math.max(0, math.min(255, c0 + noise))
        large.setRGB(x, y, (c << 16) | (c << 8) | c)
        x += 1
      }
      y += 1
    }
    // a real thumbnail: the encoder's own area-averaged downscale
    val thumb = new java.awt.image.BufferedImage(128, 128,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = thumb.createGraphics()
    g.drawImage(large.getScaledInstance(128, 128, java.awt.Image.SCALE_AREA_AVERAGING),
      0, 0, null)
    g.dispose()
    val d = ImageHash.distance(ImageHash.phash64(png(large)), ImageHash.phash64(png(thumb)))
    assert(d <= 8, s"grainy large-vs-thumbnail drifted $d bits")
    val other = ImageHash.phash64(png(pattern(2048, 2048, 34)))
    assert(ImageHash.distance(ImageHash.phash64(png(large)), other) > 16)
  }
}
