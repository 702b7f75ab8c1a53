package graft.multimodal

import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream
import java.util.zip.Inflater
import javax.imageio.ImageIO
import javax.imageio.stream.MemoryCacheImageInputStream

/**
 * Pixel and sample decode for the multimodal column path. PNG (zlib
 * inflate + unfilter), BMP rows, GIF LZW and WAV PCM are decoded from the
 * bytes by the container specs (PNG RFC 2083, BMP BITMAPINFOHEADER,
 * GIF89a, RIFF/WAVE); JPEG, and the PNG/BMP/GIF variants those decoders
 * return null for, go to the JDK's `javax.imageio` readers through
 * [[viaImageIO]], which checks the header's dimensions before the reader
 * allocates. Decoding runs per row inside `mapPartitions`.
 */
object PixelDecoder {

  /** Decoded raster: `data` is row-major interleaved, one byte per sample,
   * `channels` ∈ {1 gray, 2 gray+alpha, 3 RGB, 4 RGBA}. */
  final case class Pixels(width: Int, height: Int, channels: Int, data: Array[Byte])

  /** Decoded PCM audio: `samples` interleaved, normalized to [-1, 1]. */
  final case class AudioPcm(channels: Int, sampleRate: Int, frames: Int,
      samples: Array[Float])

  private def beU32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 24) | ((b(i + 1) & 0xFF) << 16) |
      ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)
  private def leU32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) |
      ((b(i + 2) & 0xFF) << 16) | ((b(i + 3) & 0xFF) << 24)
  private def leU16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)

  private val PngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)

  /** Dispatch on magic bytes; null when the payload is not a decodable image. */
  def decode(bytes: Array[Byte]): Pixels = {
    if (bytes == null || bytes.length < 12) return null
    if (bytes.length >= 24 && PngSig.indices.forall(i => bytes(i) == PngSig(i))) {
      val p = png(bytes)
      return if (p != null) p else viaImageIO(bytes)
    }
    if (bytes(0) == 'B' && bytes(1) == 'M') {
      val p = bmp(bytes)
      return if (p != null) p else viaImageIO(bytes)
    }
    if (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == '8') {
      val p = gif(bytes)
      return if (p != null) p else viaImageIO(bytes)
    }
    if (bytes(0) == 0xFF.toByte && bytes(1) == 0xD8.toByte) viaImageIO(bytes)
    else null
  }

  // ---------------------------------------------------------------- PNG ----

  /** PNG: chunk walk → IDAT concat → zlib inflate → per-scanline unfilter.
   * Direct path covers bit depth 8, color types 0/2/3/4/6, non-interlaced —
   * the overwhelming majority of real corpora; anything else returns null
   * (caller falls back to ImageIO). */
  def png(b: Array[Byte]): Pixels = {
    if (b.length < 33) return null
    val width = beU32(b, 16)
    val height = beU32(b, 20)
    val bitDepth = b(24) & 0xFF
    val colorType = b(25) & 0xFF
    val interlace = b(28) & 0xFF
    if (width <= 0 || height <= 0 || bitDepth != 8 || interlace != 0) return null
    val srcChannels = colorType match {
      case 0 => 1 case 2 => 3 case 3 => 1 case 4 => 2 case 6 => 4
      case _ => return null
    }
    // overflow-safe size checks BEFORE any allocation: a corrupt IHDR can
    // claim dimensions whose raster (or whose palette-expanded RGB OUTPUT,
    // 3 bytes/pixel vs 1 in the filtered stream) exceeds Int.MaxValue bytes
    if (height.toLong * (1L + width.toLong * srcChannels) > Int.MaxValue) return null
    if (width.toLong * height * math.max(srcChannels, 3) > Int.MaxValue) return null
    // gather PLTE + IDAT
    var palette: Array[Byte] = null
    var idatLen = 0
    var i = 8
    while (i + 8 <= b.length) {
      val len = beU32(b, i)
      if (len < 0 || len > b.length - i - 12) return null // corrupt/truncated chunk
      val ctype = new String(b, i + 4, 4, "US-ASCII")
      if (ctype == "IDAT") idatLen += len
      i += 12 + len
    }
    if (idatLen == 0) return null
    // deflate expands at most 1032:1: a header claiming more filtered bytes
    // than the IDAT stream can inflate to is refused before `raw` exists
    val rawLen = height.toLong * (1 + width.toLong * srcChannels)
    if (rawLen > idatLen * 1032L) return null
    val idat = new Array[Byte](idatLen)
    var off = 0
    i = 8
    while (i + 8 <= b.length) {
      val len = beU32(b, i)
      val ctype = new String(b, i + 4, 4, "US-ASCII")
      if (ctype == "IDAT") { System.arraycopy(b, i + 8, idat, off, len); off += len }
      else if (ctype == "PLTE") { palette = java.util.Arrays.copyOfRange(b, i + 8, i + 8 + len) }
      i += 12 + len
    }
    if (colorType == 3 && palette == null) return null
    val bpp = srcChannels // bytes per pixel at depth 8
    val rowBytes = width * bpp
    val raw = new Array[Byte](rawLen.toInt)
    val inf = new Inflater()
    try {
      inf.setInput(idat)
      var got = 0
      while (got < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, got, raw.length - got)
        // zero progress with room left means the stream is truncated, wants
        // a preset dictionary (FDICT — never valid in PNG), or is otherwise
        // stuck; looping again would spin forever on the same state
        if (n == 0) return null
        got += n
      }
      if (got < raw.length) return null
    } catch { case _: java.util.zip.DataFormatException => return null }
    finally inf.end()
    // unfilter in place into the output buffer
    val out = new Array[Byte](height * rowBytes)
    var y = 0
    while (y < height) {
      val filter = raw(y * (1 + rowBytes)) & 0xFF
      val src = y * (1 + rowBytes) + 1
      val dst = y * rowBytes
      val prior = dst - rowBytes
      var x = 0
      filter match {
        case 0 => System.arraycopy(raw, src, out, dst, rowBytes)
        case 1 => // Sub: left
          while (x < rowBytes) {
            val left = if (x >= bpp) out(dst + x - bpp) & 0xFF else 0
            out(dst + x) = ((raw(src + x) & 0xFF) + left).toByte
            x += 1
          }
        case 2 => // Up
          while (x < rowBytes) {
            val up = if (y > 0) out(prior + x) & 0xFF else 0
            out(dst + x) = ((raw(src + x) & 0xFF) + up).toByte
            x += 1
          }
        case 3 => // Average
          while (x < rowBytes) {
            val left = if (x >= bpp) out(dst + x - bpp) & 0xFF else 0
            val up = if (y > 0) out(prior + x) & 0xFF else 0
            out(dst + x) = ((raw(src + x) & 0xFF) + ((left + up) >> 1)).toByte
            x += 1
          }
        case 4 => // Paeth
          while (x < rowBytes) {
            val a = if (x >= bpp) out(dst + x - bpp) & 0xFF else 0
            val c0 = if (y > 0) out(prior + x) & 0xFF else 0
            val c = if (y > 0 && x >= bpp) out(prior + x - bpp) & 0xFF else 0
            val p = a + c0 - c
            val pa = math.abs(p - a); val pb = math.abs(p - c0); val pc = math.abs(p - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) c0 else c
            out(dst + x) = ((raw(src + x) & 0xFF) + pred).toByte
            x += 1
          }
        case _ => return null
      }
      y += 1
    }
    if (colorType == 3) {
      // palette indices → RGB
      val rgb = new Array[Byte](width * height * 3)
      var k = 0
      while (k < width * height) {
        val idx = (out(k) & 0xFF) * 3
        if (idx + 2 >= palette.length) return null
        rgb(k * 3) = palette(idx); rgb(k * 3 + 1) = palette(idx + 1)
        rgb(k * 3 + 2) = palette(idx + 2)
        k += 1
      }
      Pixels(width, height, 3, rgb)
    } else Pixels(width, height, srcChannels, out)
  }

  // ---------------------------------------------------------------- BMP ----

  /** BMP: uncompressed (BI_RGB) 24/32-bit BITMAPINFOHEADER rasters; rows
   * bottom-up (negative height = top-down), 4-byte padded, BGR(A) order. */
  def bmp(b: Array[Byte]): Pixels = {
    if (b.length < 54) return null
    val dataOff = leU32(b, 10)
    val hdrSize = leU32(b, 14)
    if (hdrSize < 40) return null
    val width = leU32(b, 18)
    val rawH = leU32(b, 22)
    if (rawH == Int.MinValue) return null // abs() would return MinValue itself
    val height = math.abs(rawH)
    val topDown = rawH < 0
    val bpp = leU16(b, 28)
    val compression = leU32(b, 30)
    if (width <= 0 || height == 0 || compression != 0 || (bpp != 24 && bpp != 32)) return null
    val srcPixBytes = bpp / 8
    if (width.toLong * srcPixBytes + 3 > Int.MaxValue ||
      width.toLong * height * 4 > Int.MaxValue) return null
    val rowStride = (width * srcPixBytes + 3) & ~3
    if (dataOff < 0 || dataOff.toLong + rowStride.toLong * height > b.length) return null
    // in BI_RGB the 32-bit form's 4th byte is RESERVED (must-be-zero), not
    // alpha — emit opaque 3-channel RGB like ImageIO does, so the direct
    // and fallback paths embed identically (true alpha needs the V4/V5
    // header's masks, out of scope)
    val channels = 3
    val out = new Array[Byte](width * height * channels)
    var y = 0
    while (y < height) {
      val srcRow = dataOff + rowStride * (if (topDown) y else height - 1 - y)
      var x = 0
      while (x < width) {
        val s = srcRow + x * srcPixBytes
        val d = (y * width + x) * channels
        out(d) = b(s + 2); out(d + 1) = b(s + 1); out(d + 2) = b(s) // BGR(X)→RGB
        x += 1
      }
      y += 1
    }
    Pixels(width, height, channels, out)
  }

  // ---------------------------------------------------------------- GIF ----

  /** GIF87a/89a first frame: palette + variable-width LZW, with deinterlace.
   * Transparency and later frames are out of scope (first-frame RGB is what
   * a training-data thumbnail path wants). */
  def gif(b: Array[Byte]): Pixels = {
    if (b.length < 13) return null
    // (logical-screen dimensions at offsets 6/8 are ignored: the frame's
    // own descriptor dimensions are what the decode reports)
    val flags = b(10) & 0xFF
    var i = 13
    var globalPal: Array[Byte] = null
    if ((flags & 0x80) != 0) {
      val n = 2 << (flags & 7)
      if (i + 3 * n > b.length) return null
      globalPal = java.util.Arrays.copyOfRange(b, i, i + 3 * n)
      i += 3 * n
    }
    while (i < b.length) {
      (b(i) & 0xFF) match {
        case 0x21 => // extension: label + sub-blocks
          i += 2
          while (i < b.length && (b(i) & 0xFF) != 0) i += 1 + (b(i) & 0xFF)
          i += 1
        case 0x2C => // image descriptor
          if (i + 10 > b.length) return null
          val w = leU16(b, i + 5)
          val h = leU16(b, i + 7)
          val iflags = b(i + 9) & 0xFF
          i += 10
          var pal = globalPal
          if ((iflags & 0x80) != 0) {
            val n = 2 << (iflags & 7)
            if (i + 3 * n > b.length) return null
            pal = java.util.Arrays.copyOfRange(b, i, i + 3 * n)
            i += 3 * n
          }
          if (pal == null || w <= 0 || h <= 0) return null
          if (w.toLong * h * 3 > Int.MaxValue) return null
          val interlaced = (iflags & 0x40) != 0
          if (i >= b.length) return null
          val minCode = b(i) & 0xFF
          i += 1
          // concatenate the data sub-blocks; a truncated final sub-block
          // (length byte promising more than the buffer holds) contributes
          // only its available bytes — decoding then fails cleanly on the
          // short LZW stream instead of reading past the array
          var total = 0
          var j = i
          while (j < b.length && (b(j) & 0xFF) != 0) {
            val n = math.min(b(j) & 0xFF, b.length - j - 1)
            total += n; j += 1 + n
          }
          val lzw = new Array[Byte](total)
          var off = 0
          j = i
          while (j < b.length && (b(j) & 0xFF) != 0) {
            val n = math.min(b(j) & 0xFF, b.length - j - 1)
            System.arraycopy(b, j + 1, lzw, off, n); off += n; j += 1 + n
          }
          val indices = lzwDecode(lzw, minCode, w * h)
          if (indices == null) return null
          val rows =
            if (!interlaced) (0 until h).toArray
            else { // pass order 0,8.. 4,8.. 2,4.. 1,2..
              val order = new Array[Int](h)
              var r = 0
              for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2)); y <- start until h by step) {
                order(r) = y; r += 1
              }
              order
            }
          val out = new Array[Byte](w * h * 3)
          var r = 0
          while (r < h) {
            val y = rows(r)
            var x = 0
            while (x < w) {
              val idx = (indices(r * w + x) & 0xFF) * 3
              if (idx + 2 >= pal.length) return null
              val d = (y * w + x) * 3
              out(d) = pal(idx); out(d + 1) = pal(idx + 1); out(d + 2) = pal(idx + 2)
              x += 1
            }
            r += 1
          }
          // frames may be a sub-rectangle of the logical screen; for the
          // common full-frame case report the frame's own dimensions
          return Pixels(w, h, 3, out)
        case 0x3B => return null // trailer before any image
        case _ => return null
      }
    }
    null
  }

  /** GIF-variant LZW (LSB-first codes, grows to 12 bits, CLEAR/EOI codes). */
  private def lzwDecode(data: Array[Byte], minCodeSize: Int, maxPixels: Int): Array[Byte] = {
    if (minCodeSize < 2 || minCodeSize > 11) return null
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4097)
    val out = new Array[Byte](maxPixels)
    var outPos = 0
    var codeSize = minCodeSize + 1
    var dictSize = eoi + 1
    var prev = -1
    var bits = 0
    var bitBuf = 0
    var pos = 0
    var k = 0
    while (k < clear) { prefix(k) = -1; suffix(k) = k.toByte; k += 1 }
    while (outPos < maxPixels) {
      while (bits < codeSize && pos < data.length) {
        bitBuf |= (data(pos) & 0xFF) << bits; bits += 8; pos += 1
      }
      if (bits < codeSize) return if (outPos == maxPixels) out else null
      val code = bitBuf & ((1 << codeSize) - 1)
      bitBuf >>>= codeSize; bits -= codeSize
      if (code == clear) {
        codeSize = minCodeSize + 1; dictSize = eoi + 1; prev = -1
      } else if (code == eoi) {
        return if (outPos == maxPixels) out else null
      } else {
        if (code > dictSize || (code == dictSize && prev < 0)) return null
        var sp = 0
        var cur = code
        if (code == dictSize) { // KwKwK case
          // emit prev's expansion + its first byte
          var c = prev
          while (c >= 0) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
          // first byte of prev's expansion is at stack top (sp-1)
          val first = stack(sp - 1)
          // reverse-emit then append first
          var t = sp - 1
          while (t >= 0) { if (outPos < maxPixels) { out(outPos) = stack(t); outPos += 1 }; t -= 1 }
          if (outPos < maxPixels) { out(outPos) = first; outPos += 1 }
          if (dictSize < 4096) {
            prefix(dictSize) = prev; suffix(dictSize) = first; dictSize += 1
          }
        } else {
          var c = cur
          while (c >= 0) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
          val first = stack(sp - 1)
          var t = sp - 1
          while (t >= 0) { if (outPos < maxPixels) { out(outPos) = stack(t); outPos += 1 }; t -= 1 }
          if (prev >= 0 && dictSize < 4096) {
            prefix(dictSize) = prev; suffix(dictSize) = first; dictSize += 1
          }
        }
        prev = code
        if (dictSize >= (1 << codeSize) && codeSize < 12) codeSize += 1
      }
    }
    out
  }

  // ------------------------------------------------------------- ImageIO ----

  /** Largest raster [[viaImageIO]] decodes, counted at 4 bytes per pixel
   * (RGBA, the widest output). */
  private val MaxRasterBytes = 1L << 30

  /** Decode through the JDK's `ImageIO` readers. The reader's header
   * dimensions are checked against [[MaxRasterBytes]] before `read`
   * allocates anything. Byte-interleaved rasters are copied as they are:
   * BGR becomes RGB, ABGR becomes RGBA, and gray stays one raw channel.
   * Any other image type goes through `getRGB`: sRGB, plus alpha when the
   * color model has it. Null when no reader takes the bytes or the read
   * fails. Headless-safe: raster ops only. */
  def viaImageIO(bytes: Array[Byte]): Pixels = {
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
    try {
      val readers = ImageIO.getImageReaders(in)
      if (!readers.hasNext) return null
      val reader = readers.next()
      try {
        reader.setInput(in, true, true)
        val w = reader.getWidth(0)
        val h = reader.getHeight(0)
        if (w <= 0 || h <= 0 || w.toLong * h * 4 > MaxRasterBytes) null
        else copyRaster(reader.read(0))
      } finally reader.dispose()
    } catch { case _: Exception => null }
    finally in.close()
  }

  private def copyRaster(img: BufferedImage): Pixels = {
    val w = img.getWidth
    val h = img.getHeight
    img.getType match {
      case BufferedImage.TYPE_3BYTE_BGR | BufferedImage.TYPE_4BYTE_ABGR |
          BufferedImage.TYPE_BYTE_GRAY =>
        // the raster's bands are R, G, B[, A] (or gray) whatever their
        // byte order in the buffer; getDataElements returns band order
        val raster = img.getRaster
        Pixels(w, h, raster.getNumBands,
          raster.getDataElements(0, 0, w, h, null).asInstanceOf[Array[Byte]])
      case _ =>
        val hasAlpha = img.getColorModel.hasAlpha
        val channels = if (hasAlpha) 4 else 3
        val out = new Array[Byte](w * h * channels)
        val row = new Array[Int](w)
        var y = 0
        while (y < h) {
          img.getRGB(0, y, w, 1, row, 0, w)
          var x = 0
          while (x < w) {
            val argb = row(x)
            val d = (y * w + x) * channels
            out(d) = ((argb >> 16) & 0xFF).toByte
            out(d + 1) = ((argb >> 8) & 0xFF).toByte
            out(d + 2) = (argb & 0xFF).toByte
            if (hasAlpha) out(d + 3) = ((argb >>> 24) & 0xFF).toByte
            x += 1
          }
          y += 1
        }
        Pixels(w, h, channels, out)
    }
  }

  // ---------------------------------------------------------------- WAV ----

  /** RIFF/WAVE PCM decode: integer PCM 8 (unsigned) / 16 / 24 / 32-bit and
   * 32-bit IEEE float, normalized to [-1, 1]. */
  def wav(b: Array[Byte]): AudioPcm = {
    if (b.length < 44 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
      b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return null
    var fmt = 0
    var channels = 0
    var sampleRate = 0
    var bits = 0
    var dataOff = -1
    var dataLen = 0
    var i = 12
    while (i + 8 <= b.length) {
      val id = new String(b, i, 4, "US-ASCII")
      val size = leU32(b, i + 4)
      if (id == "fmt " && i + 8 + 16 <= b.length) {
        fmt = leU16(b, i + 8)
        channels = leU16(b, i + 10)
        sampleRate = leU32(b, i + 12)
        bits = leU16(b, i + 22)
      } else if (id == "data") {
        dataOff = i + 8
        dataLen = math.max(0, math.min(size, b.length - dataOff))
      }
      // a corrupt size that is negative (u32 past 2 GiB) or runs past the
      // buffer ends the walk — keep whatever chunks parsed so far, the data
      // length is already clamped to the real bytes
      if (size < 0 || size > b.length - i - 8) i = b.length
      else i += 8 + size + (size & 1)
    }
    if (dataOff < 0 || channels <= 0 || bits <= 0) return null
    val bytesPerSample = bits / 8
    if (bytesPerSample == 0) return null
    val nSamples = dataLen / bytesPerSample
    val frames = nSamples / channels
    val isFloat = fmt == 3
    if (fmt != 1 && !isFloat) return null
    val samples = new Array[Float](nSamples)
    var s = 0
    while (s < nSamples) {
      val o = dataOff + s * bytesPerSample
      samples(s) = (bits, isFloat) match {
        case (8, false) => ((b(o) & 0xFF) - 128) / 128.0f
        case (16, false) => (leU16(b, o).toShort) / 32768.0f
        case (24, false) =>
          val v = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) | (b(o + 2) << 16)
          v / 8388608.0f
        case (32, false) => leU32(b, o) / 2147483648.0f
        case (32, true) => java.lang.Float.intBitsToFloat(leU32(b, o))
        case _ => return null
      }
      s += 1
    }
    AudioPcm(channels, sampleRate, frames, samples)
  }

  // -------------------------------------------------------------- resize ----

  /** Nearest-neighbor resize — the cheap real transform (area-average is a
   * drop-in if smoothness matters more than cost). */
  def resizeNearest(p: Pixels, tw: Int, th: Int): Pixels = {
    if (p == null || tw <= 0 || th <= 0) return null
    val out = new Array[Byte](tw * th * p.channels)
    var y = 0
    while (y < th) {
      val sy = (y.toLong * p.height / th).toInt
      var x = 0
      while (x < tw) {
        val sx = (x.toLong * p.width / tw).toInt
        val s = (sy * p.width + sx) * p.channels
        val d = (y * tw + x) * p.channels
        var c = 0
        while (c < p.channels) { out(d + c) = p.data(s + c); c += 1 }
        x += 1
      }
      y += 1
    }
    Pixels(tw, th, p.channels, out)
  }
}
