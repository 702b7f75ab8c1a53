package graft

import java.awt.image.BufferedImage
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam, ImageWriter}

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.{Multimodal, PixelDecoder}
import graft.multimodal.PixelDecoder.Pixels

/**
 * Pins the pure-JVM pixel decoders against the JDK's own codecs: for every
 * format javax.imageio can WRITE, the hand-rolled byte-level decoder must
 * recover the identical raster that `ImageIO.read` does from the same bytes.
 * JPEG, which decodes through the ImageIO fallback, is pinned in JpegSpec.
 * (Reference scope: `snappy-aqp` has no media path at all — this family is
 * part of the training-data-pipeline surface the rebuild adds on top.)
 */
class PixelDecodeSpec extends AnyFunSuite {

  private def imageIoPixels(bytes: Array[Byte]): Pixels = PixelDecoder.viaImageIO(bytes)

  private def assertSameRaster(got: Pixels, want: Pixels, ctx: String): Unit = {
    assert(got != null, s"$ctx: pure decode returned null")
    assert(got.width == want.width && got.height == want.height, ctx)
    assert(got.channels == want.channels, s"$ctx: channels ${got.channels} vs ${want.channels}")
    assert(java.util.Arrays.equals(got.data, want.data), s"$ctx: raster bytes differ")
  }

  test("PNG pure-byte decode (inflate + all filters) equals ImageIO pixel-for-pixel") {
    for ((w, h, seed) <- Seq((1, 1, 7L), (13, 9, 42L), (64, 48, 99L), (200, 3, 5L))) {
      val bytes = Multimodal.SyntheticMedia.image("png", w, h, seed)
      val pure = PixelDecoder.png(bytes)
      assertSameRaster(pure, imageIoPixels(bytes), s"png $w x $h")
      assert(pure.width == w && pure.height == h && pure.channels == 3)
    }
  }

  test("PNG gradient rows decode to the closed-form values the oracle predicts") {
    val (w, h, base) = (17, 21, 250) // crosses the 256 wrap
    val bytes = Multimodal.SyntheticMedia.gradientImage("png", w, h, base)
    val p = PixelDecoder.decode(bytes)
    assert(p.width == w && p.height == h)
    var sum = 0L
    p.data.foreach(b => sum += b & 0xFF)
    val expect = 3L * w * (0 until h).map(y => (y + base) % 256).sum
    assert(sum == expect)
  }

  test("BMP pure-byte decode (bottom-up padded rows, BGR) equals ImageIO") {
    for ((w, h, seed) <- Seq((1, 1, 3L), (14, 10, 11L), (33, 7, 23L))) {
      val bytes = Multimodal.SyntheticMedia.image("bmp", w, h, seed)
      assertSameRaster(PixelDecoder.bmp(bytes), imageIoPixels(bytes), s"bmp $w x $h")
    }
  }

  test("GIF pure-byte LZW decode equals ImageIO on the identical palette frame") {
    for ((w, h, seed) <- Seq((8, 8, 1L), (40, 25, 77L))) {
      val bytes = Multimodal.SyntheticMedia.image("gif", w, h, seed)
      val want = imageIoPixels(bytes)
      val got = PixelDecoder.gif(bytes)
      assert(got != null, s"gif $w x $h: pure decode returned null")
      assert(got.width == want.width && got.height == want.height)
      // ImageIO may surface the palette frame with an alpha channel; compare RGB
      val wantRgb = new Array[Byte](want.width * want.height * 3)
      var i = 0
      while (i < want.width * want.height) {
        wantRgb(i * 3) = want.data(i * want.channels)
        wantRgb(i * 3 + 1) = want.data(i * want.channels + 1)
        wantRgb(i * 3 + 2) = want.data(i * want.channels + 2)
        i += 1
      }
      assert(java.util.Arrays.equals(got.data, wantRgb), s"gif $w x $h raster differs")
    }
  }

  test("GIF interlaced tiny-height frame: pure decode beats the JDK reader") {
    // The JDK GIF WRITER emits this 100x2 frame interlaced; the JDK READER
    // then mis-places the pass-4 row and returns a constant fill for row 1
    // (observed on 17.0.20). Ground truth is therefore the original raster:
    // 200 distinct pixels fit the 256-entry palette, so the encode is
    // lossless and the pure decoder must reproduce the source exactly.
    val (w, h, seed) = (100, 2, 13L)
    val bytes = Multimodal.SyntheticMedia.image("gif", w, h, seed)
    val got = PixelDecoder.gif(bytes)
    assert(got != null && got.width == w && got.height == h)
    var s = seed
    for (y <- 0 until h; x <- 0 until w) {
      s = s * 6364136223846793005L + 1442695040888963407L
      val rgb = ((s >>> 40) & 0xFFFFFF).toInt
      val o = (y * w + x) * 3
      assert((got.data(o) & 0xFF) == ((rgb >> 16) & 0xFF), s"r at ($x,$y)")
      assert((got.data(o + 1) & 0xFF) == ((rgb >> 8) & 0xFF), s"g at ($x,$y)")
      assert((got.data(o + 2) & 0xFF) == (rgb & 0xFF), s"b at ($x,$y)")
    }
  }

  test("JPEG dispatches to the ImageIO fallback and yields the right shape") {
    val bytes = Multimodal.SyntheticMedia.image("jpg", 32, 20, 5L)
    val p = PixelDecoder.decode(bytes)
    assert(p != null && p.width == 32 && p.height == 20 && p.channels == 3)
    assert(p.data.length == 32 * 20 * 3)
  }

  private def write(w: ImageWriter, p: ImageWriteParam, img: BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    w.setOutput(ios)
    w.write(null, new IIOImage(img, null, null), p)
    ios.close(); w.dispose()
    bos.toByteArray
  }

  /** 33x17 gray ramp written through the raster: setRGB on TYPE_BYTE_GRAY
   * would apply the sRGB → linear-gray transform to the samples. */
  private def grayRamp(): BufferedImage = {
    val img = new BufferedImage(33, 17, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 17; x <- 0 until 33) img.getRaster.setSample(x, y, 0, (x * 255) / 32)
    img
  }

  test("crafted 20000x20000 PNG header decodes to null fast, without an Error") {
    val bigPng = Multimodal.SyntheticMedia.image("png", 16, 16, 3L).clone()
    // IHDR width and height, big-endian u32 (0x4E20 = 20000)
    for (o <- Seq(16, 20)) { bigPng(o + 2) = 0x4E; bigPng(o + 3) = 0x20 }
    assert(Multimodal.HeaderDecoder.decode(bigPng).width == 20000)
    val t0 = System.nanoTime()
    val p = try PixelDecoder.decode(bigPng)
      catch { case e: Throwable => fail(s"decode threw $e") }
    assert(p == null, "a 20000x20000 header must be refused")
    assert((System.nanoTime() - t0) / 1e9 < 2.0, "must refuse before decoding")
  }

  test("interlaced gray PNG (ImageIO fallback) decodes like the plain one: one raw channel") {
    def png(interlaced: Boolean): Array[Byte] = {
      val w = ImageIO.getImageWritersByFormatName("png").next()
      val p = w.getDefaultWriteParam
      if (interlaced) p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
      write(w, p, grayRamp())
    }
    val plain = png(interlaced = false)
    val adam7 = png(interlaced = true)
    assert(plain(28) == 0 && adam7(28) == 1, "IHDR interlace method")
    assert(PixelDecoder.png(adam7) == null, "Adam7 must take the ImageIO fallback")
    val want = PixelDecoder.decode(plain)
    assert(want.channels == 1 && (want.data(10) & 0xFF) == 79)
    assertSameRaster(PixelDecoder.decode(adam7), want, "interlaced gray png")
  }

  test("MP4 container metadata: dimensions from tkhd, frame count from stsz") {
    val m = Multimodal.HeaderDecoder.decode(Multimodal.SyntheticMedia.mp4(640, 360, 250))
    assert(m.format == "mp4" && m.width == 640 && m.height == 360 && m.nFrames == 250)
    // truncations must not throw and must still identify the container
    val full = Multimodal.SyntheticMedia.mp4(64, 48, 10)
    for (cut <- Seq(12, 20, 40, full.length / 2, full.length - 3)) {
      val t = Multimodal.HeaderDecoder.decode(java.util.Arrays.copyOf(full, cut))
      assert(t.format == "mp4", s"cut $cut")
    }
    // frame-index sampling rides the real frame count
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq((1L, Multimodal.SyntheticMedia.mp4(320, 240, 30))).toDF("id", "blob")
    val sampled = Multimodal.sampleFrameIndices(
      Multimodal.decodeMeta(df, "blob"), "media_meta", stride = 10)
      .select("frame_indices").collect()(0).getSeq[Int](0)
    assert(sampled == Seq(0, 10, 20))
  }

  test("header-decoder crash regressions: FF-padded JPEG, 2GiB WAV chunk, MP4 edge boxes") {
    import Multimodal.HeaderDecoder
    def be32(v: Int): Array[Byte] =
      Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
        ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def box(tpe: String, payload: Array[Byte]*): Array[Byte] = {
      val body = payload.flatten.toArray
      be32(8 + body.length) ++ tpe.getBytes("US-ASCII") ++ body
    }
    // JPEG whose tail is 0xFF padding: marker byte missing after fill loop
    val jpegPad = Array[Byte](0xFF.toByte, 0xD8.toByte,
      0xFF.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte)
    assert(HeaderDecoder.decode(jpegPad).format == "jpeg") // must not throw
    // RIFF/WAVE whose first chunk claims ~2 GiB: cursor must not wrap
    val wavHuge = ("RIFF".getBytes("US-ASCII") ++ be32(36).reverse ++
      "WAVE".getBytes("US-ASCII") ++ "junk".getBytes("US-ASCII") ++
      Array[Byte](0xF4.toByte, 0xFF.toByte, 0xFF.toByte, 0x7F.toByte) ++
      new Array[Byte](24))
    assert(HeaderDecoder.decode(wavHuge).format == "wav") // must not throw
    // MP4 with a size==1 (64-bit largesize) mdat BEFORE moov: metadata must
    // still be found past it
    val tkhd = box("tkhd", new Array[Byte](4), be32(0), be32(0), be32(1), be32(0),
      be32(0), new Array[Byte](8), new Array[Byte](8),
      be32(0x00010000), be32(0), be32(0), be32(0), be32(0x00010000), be32(0),
      be32(0), be32(0), be32(0x40000000), be32(320 << 16), be32(240 << 16))
    val stsz = box("stsz", new Array[Byte](4), be32(1024), be32(42))
    val videoTrak = box("trak", tkhd, box("mdia", box("minf", box("stbl", stsz))))
    val mdatBody = new Array[Byte](16)
    val mdatLarge = be32(1) ++ "mdat".getBytes("US-ASCII") ++
      be32(0) ++ be32(16 + mdatBody.length) ++ mdatBody
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII"), be32(512))
    val withLarge = ftyp ++ mdatLarge ++ box("moov", videoTrak)
    val mL = HeaderDecoder.decode(withLarge)
    assert(mL.format == "mp4" && mL.width == 320 && mL.height == 240 && mL.nFrames == 42)
    // audio trak's stsz must NOT be adopted as the video frame count when
    // the video trak has no stsz
    val videoNoStsz = box("trak", tkhd, box("mdia", box("minf", box("stbl"))))
    val audioTkhd = box("tkhd", new Array[Byte](4), be32(0), be32(0), be32(2), be32(0),
      be32(0), new Array[Byte](8), new Array[Byte](8),
      be32(0x00010000), be32(0), be32(0), be32(0), be32(0x00010000), be32(0),
      be32(0), be32(0), be32(0x40000000), be32(0), be32(0)) // 0x0 dims = audio
    val audioTrak = box("trak", audioTkhd,
      box("mdia", box("minf", box("stbl", box("stsz", new Array[Byte](4),
        be32(4), be32(480000))))))
    val mixed = ftyp ++ box("moov", videoNoStsz, audioTrak)
    val mM = HeaderDecoder.decode(mixed)
    assert(mM.width == 320 && mM.nFrames == 1,
      s"audio stsz leaked into video frames: ${mM.nFrames}")
    // a short (truncated-payload) tkhd must not read sibling boxes' bytes
    val shortTkhd = box("tkhd", new Array[Byte](8))
    val junkSibling = box("free", Array.fill[Byte](96)(0x7F))
    val corrupt = ftyp ++ box("moov", box("trak", shortTkhd, junkSibling))
    val mC = HeaderDecoder.decode(corrupt)
    assert(mC.width == 0 && mC.height == 0, s"short tkhd read sibling bytes: ${mC.width}")
    // header-ONLY tkhd (zero payload) as the very last bytes of the blob:
    // its content bounds are ts == te == bytes.length, and the version-byte
    // read must be guarded, not crash with ArrayIndexOutOfBounds
    val emptyTkhdAtEnd = ftyp ++ box("moov", box("trak", box("tkhd")))
    val mE = HeaderDecoder.decode(emptyTkhdAtEnd)
    assert(mE.format == "mp4" && mE.width == 0 && mE.height == 0)
  }

  test("WAV PCM decode recovers exact square-wave samples, rms and peak") {
    val amp = 12000
    val bytes = Multimodal.SyntheticMedia.squareWav(1, 16000, 101, amp)
    val a = PixelDecoder.wav(bytes)
    assert(a.channels == 1 && a.sampleRate == 16000 && a.frames == 101)
    val expected = amp / 32768.0f
    a.samples.zipWithIndex.foreach { case (s, i) =>
      assert(s == (if ((i & 1) == 0) expected else -expected), s"sample $i")
    }
    // 8-bit unsigned and stereo layouts
    val b8 = Multimodal.SyntheticMedia.wav(2, 8000, 8, 40)
    val a8 = PixelDecoder.wav(b8)
    assert(a8.channels == 2 && a8.frames == 40 && a8.samples.forall(_ == -1.0f)) // silence = 0x00 → -128/128
  }

  test("nearest-neighbor resize maps source rows/cols exactly") {
    // 4x4 quadrant image: resize to 2x2 must pick one pixel from each quadrant
    val data = new Array[Byte](4 * 4 * 3)
    for (y <- 0 until 4; x <- 0 until 4) {
      val v = ((if (y < 2) 0 else 2) + (if (x < 2) 0 else 1)) * 60
      val o = (y * 4 + x) * 3
      data(o) = v.toByte; data(o + 1) = v.toByte; data(o + 2) = v.toByte
    }
    val r = PixelDecoder.resizeNearest(Pixels(4, 4, 3, data), 2, 2)
    val vals = (0 until 4).map(i => r.data(i * 3) & 0xFF)
    assert(vals == Seq(0, 60, 120, 180))
  }

  test("decodePixels / pixelStats / audioStats DataFrame ops (batched, null-safe)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = (0 until 7).map { i =>
      val blob =
        if (i == 6) null
        else if (i % 2 == 0) Multimodal.SyntheticMedia.gradientImage("png", 10 + i, 5 + i, i * 40)
        else Multimodal.SyntheticMedia.squareWav(1, 16000, 50 + i, 1000 * (i + 1))
      (i.toLong, blob)
    }
    val df = rows.toDF("id", "blob")

    val px = Multimodal.pixelStats(df, "blob").select("id", "pixel_stats.*")
      .where($"pixel_stats".isNotNull).collect()
    assert(px.length == 3)
    px.foreach { r =>
      val id = r.getLong(0).toInt
      assert(r.getInt(1) == 10 + id && r.getInt(2) == 5 + id)
      val expect = 3L * (10 + id) * (0 until (5 + id)).map(y => (y + id * 40) % 256).sum
      assert(r.getLong(4) == expect, s"id $id pixel_sum")
    }

    val au = Multimodal.audioStats(df, "blob").select("id", "audio_stats.*")
      .where($"audio_stats".isNotNull).collect()
    assert(au.length == 3)
    au.foreach { r =>
      val id = r.getLong(0).toInt
      assert(r.getInt(3) == 50 + id)
      assert(math.round(r.getDouble(4) * 32768) == 1000 * (id + 1), s"id $id rms")
    }

    val full = Multimodal.decodePixels(df, "blob")
      .select($"id", $"pixels.width", $"pixels.data").where($"pixels".isNotNull).collect()
    assert(full.length == 3 && full.forall(r =>
      r.getAs[Array[Byte]](2).length % (r.getInt(1) * 3) == 0))
  }

  test("random-shape round-trip property: pure PNG/BMP decode equals ImageIO") {
    val rnd = new java.util.Random(2026)
    for (_ <- 0 until 40) {
      val w = 1 + rnd.nextInt(97)
      val h = 1 + rnd.nextInt(53)
      val seed = rnd.nextLong()
      val png = Multimodal.SyntheticMedia.image("png", w, h, seed)
      assertSameRaster(PixelDecoder.png(png), imageIoPixels(png), s"png $w x $h seed $seed")
      val bmpB = Multimodal.SyntheticMedia.image("bmp", w, h, seed)
      assertSameRaster(PixelDecoder.bmp(bmpB), imageIoPixels(bmpB), s"bmp $w x $h seed $seed")
    }
  }

  test("corrupt and truncated blobs decode to null, never throw") {
    val png = Multimodal.SyntheticMedia.image("png", 20, 10, 3L)
    val wavB = Multimodal.SyntheticMedia.squareWav(1, 16000, 30, 500)
    // truncations at every stage boundary
    for (cut <- Seq(0, 4, 8, 16, 24, 33, png.length / 2, png.length - 5)) {
      val t = java.util.Arrays.copyOf(png, cut)
      assert(PixelDecoder.decode(t) == null || cut > 33, s"png cut $cut")
      PixelDecoder.decode(t) // must not throw
    }
    // flipped bytes inside the IDAT zlib stream → inflate fails → null
    val mangled = png.clone()
    for (i <- 40 until math.min(60, mangled.length)) mangled(i) = (mangled(i) ^ 0x5A).toByte
    PixelDecoder.decode(mangled) // must not throw (null or best-effort)
    // absurd dimensions in the IHDR are rejected before allocation
    val bigDims = png.clone()
    bigDims(16) = 0x7F.toByte; bigDims(17) = 0xFF.toByte // width ~2^31
    assert(PixelDecoder.decode(bigDims) == null)
    for (cut <- Seq(0, 4, 12, 20, 43, wavB.length - 3)) {
      PixelDecoder.wav(java.util.Arrays.copyOf(wavB, cut)) // must not throw
    }
    assert(PixelDecoder.decode(Array[Byte](1, 2, 3)) == null)
    assert(PixelDecoder.decode(null) == null)
  }

  test("format-invariant image dedup: PNG/BMP re-encodes of one image cluster together") {
    // the real-decode payoff composed end-to-end: pixel-stat embeddings feed
    // the embedding-dedup operator, so the same raster saved as PNG and BMP
    // (byte-level completely different files) deduplicates by CONTENT
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = (0 until 12).flatMap { i =>
      val fmt = if (i % 2 == 0) "png" else "bmp"
      // 6 distinct rasters; each appears twice (PNG as id, BMP as id+100)
      Seq((i.toLong, Multimodal.SyntheticMedia.image(fmt, 16 + i / 2, 12, (i / 2).toLong)))
    }
    // pair layout: ids (0,1) share raster 0, (2,3) share raster 1, ...
    val df = rows.toDF("id", "blob")
    val feats = Multimodal.extractFeatures(df, "blob",
      extractor = new Multimodal.PixelStatExtractor(8))
    val pairs = graft.ann.Ann.cosineDedupPairs(feats, idCol = "id",
      vecCol = "features", threshold = 0.9999, numPlanes = 4)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (k <- 0 until 6) {
      val (a, b) = (2L * k, 2L * k + 1)
      assert(pairs.contains((a, b)) || pairs.contains((b, a)),
        s"cross-format duplicate pair ($a,$b) not found; got $pairs")
    }
  }

  test("pixel-decoder crash regressions: FDICT zlib, overflow dims, truncated GIF, 32-bit BMP") {
    // PNG whose zlib stream demands a preset dictionary (FDICT set, valid
    // FCHECK): inflate makes zero progress forever unless the loop bails
    val png = Multimodal.SyntheticMedia.image("png", 12, 8, 5L)
    var idat = -1
    for (i <- 0 until png.length - 4 if idat < 0)
      if (png(i) == 'I' && png(i + 1) == 'D' && png(i + 2) == 'A' && png(i + 3) == 'T') idat = i
    val fdict = png.clone()
    fdict(idat + 4) = 0x78; fdict(idat + 5) = 0x3F // CMF/FLG with FDICT, FCHECK valid
    assert(PixelDecoder.png(fdict) == null) // must return, not hang
    // palette PNG claiming width 2^30 x 1: the 3-byte/pixel OUTPUT overflows
    // Int even though the 1-byte/pixel filtered stream does not
    val hdr = new Array[Byte](33)
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).copyToArray(hdr)
    hdr(11) = 13 // IHDR length
    "IHDR".getBytes("US-ASCII").copyToArray(hdr, 12)
    hdr(16) = 0x40 // width = 2^30 big-endian
    hdr(23) = 1 // height = 1
    hdr(24) = 8 // bit depth
    hdr(25) = 3 // palette color type
    assert(PixelDecoder.png(hdr) == null) // must not allocate/overflow
    // GIF truncated mid-sub-block: length byte promises more than remains
    val gif = Multimodal.SyntheticMedia.image("gif", 30, 20, 9L)
    for (cut <- Seq(gif.length - 3, gif.length / 2, gif.length / 2 + 7)) {
      PixelDecoder.gif(java.util.Arrays.copyOf(gif, cut)) // must not throw
    }
    // BMP with height = Int.MinValue (abs() is a no-op on it)
    val bmp = Multimodal.SyntheticMedia.image("bmp", 4, 4, 1L)
    val evil = bmp.clone()
    evil(22) = 0; evil(23) = 0; evil(24) = 0; evil(25) = 0x80.toByte
    assert(PixelDecoder.bmp(evil) == null)
    // 32-bit BI_RGB: 4th byte is reserved, not alpha → opaque 3-channel RGB
    val px = Array[Byte](
      10, 20, 30, 0, 40, 50, 60, 0) // two BGRX pixels, reserved byte zero
    val bb = java.nio.ByteBuffer.allocate(54 + px.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + px.length).putInt(0).putInt(54)
    bb.putInt(40).putInt(2).putInt(1).putShort(1).putShort(32).putInt(0)
      .putInt(px.length).putInt(0).putInt(0).putInt(0).putInt(0)
    bb.put(px)
    val p32 = PixelDecoder.bmp(bb.array())
    assert(p32 != null && p32.channels == 3 && p32.width == 2 && p32.height == 1)
    assert((p32.data(0) & 0xFF) == 30 && (p32.data(1) & 0xFF) == 20 && (p32.data(2) & 0xFF) == 10)
  }

  test("PixelStatExtractor embeds image content, not bytes: same image, different files") {
    val ex = new Multimodal.PixelStatExtractor(8)
    // identical raster written as PNG and BMP must embed identically
    val png = Multimodal.SyntheticMedia.gradientImage("png", 24, 16, 30)
    val bmpB = Multimodal.SyntheticMedia.gradientImage("bmp", 24, 16, 30)
    val Array(a, b) = ex.extract(Array(png, bmpB))
    assert(a != null && b != null && a.sameElements(b))
    assert(ex.extract(Array[Array[Byte]](null))(0) == null)
    // histogram sums to ~1
    assert(math.abs(a.drop(4).sum - 1.0f) < 1e-5)
  }
}
