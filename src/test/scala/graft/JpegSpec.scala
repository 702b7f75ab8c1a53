package graft

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier, ImageWriteParam}
import javax.imageio.metadata.IIOMetadataNode

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.PixelDecoder

/**
 * JPEG through `PixelDecoder.decode`, which hands every JPEG to the JDK's
 * reader (`viaImageIO`). Two references: the JDK's own `ImageIO.read` +
 * `getRGB` on the same bytes, which the decode must equal exactly (it pins
 * the band-order raster copy), and the pre-encode raster, which the decode
 * must approach within JPEG loss on smooth content. ImageIO's gray path is
 * NOT usable as a reference: `getRGB` on TYPE_BYTE_GRAY runs the
 * linear-gray → sRGB color transform, distorting raw sample values — gray
 * compares go against the raster directly.
 */
class JpegSpec extends AnyFunSuite {

  private def writeJpeg(img: BufferedImage, quality: Float, progressive: Boolean,
      restartInterval: Int): Array[Byte] = {
    val w = ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    if (progressive) p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
    val meta =
      if (restartInterval <= 0) null
      else {
        // a DRI segment, so the scans hold RSTn markers every `interval` MCUs
        val m = w.getDefaultImageMetadata(ImageTypeSpecifier.createFromRenderedImage(img), p)
        val fmt = "javax_imageio_jpeg_image_1.0"
        val tree = m.getAsTree(fmt).asInstanceOf[org.w3c.dom.Element]
        val seq = tree.getElementsByTagName("markerSequence").item(0)
        val dri = new IIOMetadataNode("dri")
        dri.setAttribute("interval", restartInterval.toString)
        seq.insertBefore(dri, seq.getFirstChild)
        m.setFromTree(fmt, tree)
        m
      }
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    w.setOutput(ios)
    w.write(null, new IIOImage(img, null, meta), p)
    ios.close(); w.dispose()
    bos.toByteArray
  }

  private def encode(img: BufferedImage, quality: Float): Array[Byte] =
    writeJpeg(img, quality, progressive = false, restartInterval = 0)

  private def encodeProgressive(img: BufferedImage, quality: Float): Array[Byte] =
    writeJpeg(img, quality, progressive = true, restartInterval = 0)

  private def encodeWithDri(img: BufferedImage, interval: Int,
      progressive: Boolean = false): Array[Byte] =
    writeJpeg(img, 0.9f, progressive, interval)

  private def gradient(w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 255) / math.max(1, w - 1)
      val g = (y * 255) / math.max(1, h - 1)
      val b = ((x + y) * 255) / math.max(1, w + h - 2)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    img
  }

  private def noise(rnd: scala.util.Random, w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rnd.nextInt() & 0xFFFFFF)
    img
  }

  /** 33x17 gray ramp written through the raster: setRGB on TYPE_BYTE_GRAY
   * would apply the sRGB → linear-gray transform to the samples. */
  private def grayRamp(): BufferedImage = {
    val img = new BufferedImage(33, 17, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 17; x <- 0 until 33) img.getRaster.setSample(x, y, 0, (x * 255) / 32)
    img
  }

  private def findMarker(b: Array[Byte], marker: Int): Int = {
    var i = 2
    while (i + 3 < b.length) {
      val m = b(i + 1) & 0xFF
      if (b(i) == 0xFF.toByte && m == marker) return i
      if (b(i) == 0xFF.toByte && m != 0xD8 && !(m >= 0xD0 && m <= 0xD7))
        i += 2 + (((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF))
      else i += 2
    }
    -1
  }

  private def hasRestartMarkers(b: Array[Byte]): Boolean =
    b.sliding(2).exists(s => s(0) == 0xFF.toByte &&
      (s(1) & 0xFF) >= 0xD0 && (s(1) & 0xFF) <= 0xD7)

  /** (ss, se, ah, al) of every SOS in the stream — proves which progressive
   * features (spectral bands, successive approximation, refinements) a
   * fixture actually exercises. Entropy data is walked byte-wise (it only
   * ever contains stuffed FF00 and RSTn); marker segments skip by length. */
  private def scanHeaders(b: Array[Byte]): Seq[(Int, Int, Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int, Int, Int)]()
    var i = 2
    while (i + 3 < b.length) {
      val m = b(i + 1) & 0xFF
      val isMarker = b(i) == 0xFF.toByte && m != 0x00 && m != 0xFF &&
        m != 0xD8 && !(m >= 0xD0 && m <= 0xD7)
      if (isMarker && m == 0xD9) i = b.length
      else if (isMarker && m == 0xDA) {
        val seg = i + 4
        val ns = b(seg) & 0xFF
        out += ((b(seg + 1 + 2 * ns) & 0xFF, b(seg + 2 + 2 * ns) & 0xFF,
          (b(seg + 3 + 2 * ns) & 0xFF) >> 4, b(seg + 3 + 2 * ns) & 0x0F))
        i = seg + 4 + 2 * ns // into entropy data; byte-walk to next marker
      } else if (isMarker) {
        i += 2 + (((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF))
      } else i += 1
    }
    out.toSeq
  }

  /** Asserts the RGB decode has the exact size and equals what
   * `ImageIO.read(bytes).getRGB` yields for the same bytes, sample for sample. */
  private def assertMatchesImageIO(bytes: Array[Byte], w: Int, h: Int, ctx: String): Unit = {
    val p = PixelDecoder.decode(bytes)
    assert(p != null && p.width == w && p.height == h && p.channels == 3 &&
      p.data.length == w * h * 3, s"$ctx: decode shape")
    val ref = ImageIO.read(new ByteArrayInputStream(bytes))
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
      val want = (ref.getRGB(x, y) >> ((2 - c) * 8)) & 0xFF
      val got = p.data((y * w + x) * 3 + c) & 0xFF
      assert(got == want, s"$ctx: sample ($x,$y,$c) is $got, ImageIO reads $want")
    }
  }

  /** (max, mean) per-sample abs diff of the RGB decode vs the ORIGINAL raster */
  private def diffVsOriginal(bytes: Array[Byte], img: BufferedImage): (Int, Double) = {
    val p = PixelDecoder.decode(bytes)
    assert(p != null && p.channels == 3 && p.width == img.getWidth && p.height == img.getHeight)
    var maxD = 0
    var sum = 0L
    for (y <- 0 until p.height; x <- 0 until p.width; c <- 0 until 3) {
      val d = math.abs((p.data((y * p.width + x) * 3 + c) & 0xFF) -
        ((img.getRGB(x, y) >> ((2 - c) * 8)) & 0xFF))
      maxD = math.max(maxD, d)
      sum += d
    }
    (maxD, sum.toDouble / (p.width * p.height * 3))
  }

  /** Max abs diff of a one-channel decode from the gray ramp it was encoded from. */
  private def grayDiffVsRamp(bytes: Array[Byte]): Int = {
    val p = PixelDecoder.decode(bytes)
    assert(p != null && p.channels == 1 && p.width == 33 && p.height == 17)
    (for (y <- 0 until 17; x <- 0 until 33)
      yield math.abs((p.data(y * 33 + x) & 0xFF) - (x * 255) / 32)).max
  }

  test("gradient: matches ImageIO within sampling-aware bounds, original within loss") {
    for (q <- Seq(0.97f, 0.8f, 0.5f)) {
      val img = gradient(64, 48)
      val bytes = encode(img, q)
      assert(findMarker(bytes, 0xC0) > 0, "writer must emit SOF0")
      assertMatchesImageIO(bytes, 64, 48, s"q=$q")
      // absolute pin: smooth content at q>=0.5 stays close to the source
      val (maxO, meanO) = diffVsOriginal(bytes, img)
      assert(maxO <= 24 && meanO <= 4.0,
        s"q=$q decode strays from the original: max $maxO mean $meanO")
    }
  }

  test("uniform color decodes to (almost) exactly that color") {
    val img = new BufferedImage(40, 24, BufferedImage.TYPE_INT_RGB)
    val g2 = img.createGraphics()
    g2.setColor(new java.awt.Color(180, 90, 40))
    g2.fillRect(0, 0, 40, 24)
    g2.dispose()
    val p = PixelDecoder.decode(encode(img, 0.9f))
    assert(p != null && p.channels == 3 && p.width == 40 && p.height == 24)
    for (i <- 0 until p.width * p.height; (want, c) <- Seq(180, 90, 40).zipWithIndex)
      assert(math.abs((p.data(i * 3 + c) & 0xFF) - want) <= 3, s"pixel $i channel $c")
  }

  test("grayscale JPEG decodes raw samples to one channel") {
    val maxD = grayDiffVsRamp(encode(grayRamp(), 0.95f))
    assert(maxD <= 6, s"gray max diff vs source raster $maxD")
  }

  test("non-baseline and non-JPEG inputs return null (fallback contract)") {
    assert(PixelDecoder.decode(null) == null)
    assert(PixelDecoder.decode(Array[Byte](1, 2, 3, 4)) == null)
    // a JPEG signature over junk: no reader takes it
    val notJpeg = Array[Byte](0xFF.toByte, 0xD8.toByte) ++ Array.fill[Byte](40)(0x42)
    assert(PixelDecoder.decode(notJpeg) == null)
    // cut in the header, or right before the first scan: nothing to decode
    val bytes = encode(gradient(16, 16), 0.9f)
    for (cut <- Seq(10, findMarker(bytes, 0xDA)))
      assert(PixelDecoder.decode(java.util.Arrays.copyOf(bytes, cut)) == null, s"cut $cut")
    assert(PixelDecoder.decode(bytes) != null)
  }

  test("grayscale scan is non-interleaved whatever the declared sampling factors") {
    // T.81 A.2: a one-component scan has one data unit per MCU; the frame
    // header's factors only govern multi-component interleave. A declared
    // 2x2 on a gray frame is semantically inert — patched bytes must
    // decode IDENTICALLY to the original
    val bytes = encode(grayRamp(), 0.95f)
    val sof = findMarker(bytes, 0xC0)
    assert(sof > 0 && (bytes(sof + 4 + 7) & 0xFF) == 0x11)
    val p0 = PixelDecoder.decode(bytes)
    val patched = bytes.clone()
    patched(sof + 4 + 7) = 0x22.toByte
    val p1 = PixelDecoder.decode(patched)
    assert(p1 != null && p1.channels == 1 && p1.width == 33 && p1.height == 17)
    assert(java.util.Arrays.equals(p0.data, p1.data),
      "declared gray sampling factors must not change the decode")
  }

  test("restart markers (DRI) decode within the usual tolerance") {
    val img = gradient(48, 32)
    val bytes = encodeWithDri(img, 2)
    assert(findMarker(bytes, 0xDD) > 0, "stream must actually carry a DRI segment")
    assert(hasRestartMarkers(bytes), "stream must actually carry RSTn markers")
    assertMatchesImageIO(bytes, 48, 32, "restart stream")
    val (maxO, meanO) = diffVsOriginal(bytes, img)
    assert(maxO <= 24 && meanO <= 4.0, s"restart stream strays: max $maxO mean $meanO")
  }

  test("crafted huge-dimension headers reject fast instead of allocating") {
    val bytes = encode(gradient(16, 16), 0.9f)
    val sof = findMarker(bytes, 0xC0)
    val patched = bytes.clone()
    // height/width -> 46000x46000: ~8 GB of RGBA raster
    patched(sof + 5) = 0xB3.toByte; patched(sof + 6) = 0xB0.toByte
    patched(sof + 7) = 0xB3.toByte; patched(sof + 8) = 0xB0.toByte
    val t0 = System.nanoTime()
    val p = try PixelDecoder.decode(patched)
      catch { case e: Throwable => fail(s"decode threw $e") }
    assert(p == null)
    assert((System.nanoTime() - t0) / 1e9 < 2.0, "must reject before decoding")
  }

  test("noise fuzz: random rasters at random sizes/qualities decode sanely") {
    // white noise maximizes AC energy — long Huffman codes, ZRL runs, EOB
    // at every position. Structure must be exact and the raster must be
    // the JDK's own read of the same bytes.
    val rnd = new scala.util.Random(20260814L)
    (1 to 8).foreach { i =>
      val w = 1 + rnd.nextInt(70)
      val h = 1 + rnd.nextInt(70)
      val img = noise(rnd, w, h)
      val q = 0.3f + rnd.nextFloat() * 0.65f
      assertMatchesImageIO(encode(img, q), w, h, s"fuzz $i ${w}x$h q=$q")
    }
  }

  test("odd dimensions (partial edge MCUs) decode with exact dims") {
    for ((w, h) <- Seq((1, 1), (7, 5), (17, 9), (9, 17)))
      assertMatchesImageIO(encode(gradient(w, h), 0.8f), w, h, s"dims ${w}x$h")
  }

  // ---------------------------------------------------- progressive (SOF2) ----

  test("progressive gradient: SOF2 decodes pure-JVM within the usual bounds") {
    for (q <- Seq(0.97f, 0.8f, 0.5f)) {
      val img = gradient(64, 48)
      val bytes = encodeProgressive(img, q)
      assert(findMarker(bytes, 0xC2) > 0, "writer must emit SOF2")
      val scans = scanHeaders(bytes)
      assert(scans.length >= 3, s"progressive stream should be multi-scan: $scans")
      assert(scans.exists(s => s._1 > 0), s"no AC scan found: $scans")
      assert(scans.exists(s => s._3 > 0),
        s"fixture never exercises refinement scans (Ah>0): $scans")
      assertMatchesImageIO(bytes, 64, 48, s"progressive q=$q")
      val (maxO, meanO) = diffVsOriginal(bytes, img)
      assert(maxO <= 24 && meanO <= 4.0,
        s"q=$q progressive decode strays from the original: max $maxO mean $meanO")
    }
  }

  test("progressive grayscale decodes raw samples to one channel") {
    val bytes = encodeProgressive(grayRamp(), 0.95f)
    assert(findMarker(bytes, 0xC2) > 0)
    val maxD = grayDiffVsRamp(bytes)
    assert(maxD <= 6, s"progressive gray max diff vs source raster $maxD")
  }

  test("progressive noise fuzz: random rasters decode sanely") {
    // noise maximizes AC scan work: EOB runs of every length, ZRL in both
    // first and refinement passes, long correction-bit stretches
    val rnd = new scala.util.Random(41001L)
    (1 to 8).foreach { i =>
      val w = 1 + rnd.nextInt(70)
      val h = 1 + rnd.nextInt(70)
      val img = noise(rnd, w, h)
      val q = 0.3f + rnd.nextFloat() * 0.65f
      val bytes = encodeProgressive(img, q)
      assert(findMarker(bytes, 0xC2) > 0, s"fuzz $i not progressive")
      assertMatchesImageIO(bytes, w, h, s"fuzz $i ${w}x$h q=$q")
    }
  }

  test("progressive mid-frame DQT redefinition cannot rewrite decoded scans") {
    // T.81 allows DQT between scans; each component's quant table is
    // latched at that component's FIRST scan, so a later redefinition only
    // affects later-STARTING components — never already-coded data. Splice
    // a hostile table-0 redefinition just before EOI: the output must be
    // bit-identical to the unspliced stream.
    val bytes = encodeProgressive(gradient(40, 24), 0.85f)
    assert(findMarker(bytes, 0xC2) > 0)
    val want = PixelDecoder.decode(bytes)
    assert(want != null)
    // FFDB, len 67, PqTq=0x00 (8-bit, table 0), 64 entries of 255 — an
    // extreme table so any EOI-time dequantize visibly corrupts pixels
    val dqt = Array[Byte](0xFF.toByte, 0xDB.toByte, 0x00, 0x43, 0x00) ++
      Array.fill[Byte](64)(0xFF.toByte)
    val eoi = bytes.length - 2
    assert(bytes(eoi) == 0xFF.toByte && (bytes(eoi + 1) & 0xFF) == 0xD9)
    val got = PixelDecoder.decode(bytes.take(eoi) ++ dqt ++ bytes.drop(eoi))
    assert(got != null, "DQT-before-EOI is legal; must still decode")
    assert(got.width == want.width && got.height == want.height &&
      got.channels == want.channels)
    assert(java.util.Arrays.equals(got.data, want.data),
      "a post-scan DQT redefinition must be inert for decoded components")
  }

  test("progressive with restart markers decodes; truncation returns null or partial") {
    val img = gradient(48, 32)
    val bytes = encodeWithDri(img, 2, progressive = true)
    assert(findMarker(bytes, 0xC2) > 0 && findMarker(bytes, 0xDD) > 0)
    assert(hasRestartMarkers(bytes), "stream must actually carry RSTn markers")
    assertMatchesImageIO(bytes, 48, 32, "progressive restart stream")
    val (maxO, meanO) = diffVsOriginal(bytes, img)
    assert(maxO <= 24 && meanO <= 4.0,
      s"progressive restart stream strays: max $maxO mean $meanO")
    // truncated mid-stream: must terminate without throwing; the JDK reader
    // returns what the scans before the cut hold (a progressive stream's
    // first scans are a whole, coarser image), so a partial keeps the frame
    val part = PixelDecoder.decode(java.util.Arrays.copyOf(bytes, bytes.length / 3))
    assert(part == null || (part.width == 48 && part.height == 32),
      "a partial decode keeps the frame size")
  }

  test("progressive odd dimensions decode with exact dims") {
    for ((w, h) <- Seq((1, 1), (7, 5), (17, 9), (9, 17))) {
      val bytes = encodeProgressive(gradient(w, h), 0.8f)
      assert(findMarker(bytes, 0xC2) > 0)
      assertMatchesImageIO(bytes, w, h, s"progressive dims ${w}x$h")
    }
  }
}
