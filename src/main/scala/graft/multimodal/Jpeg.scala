package graft.multimodal

/**
 * Pure-JVM JPEG decoder (ITU-T T.81, Huffman entropy coding) — the last
 * image format that rode the `javax.imageio` fallback. Covers the
 * overwhelming majority of real corpora: SOF0/SOF1 baseline/extended
 * sequential frames AND SOF2 progressive frames — spectral
 * selection, successive approximation, EOB runs, AC refinement per T.81
 * G.2 — with 8-bit samples, 1 (grayscale) or 3 (YCbCr) components at any
 * of the standard sampling factors (4:4:4, 4:2:2, 4:2:0, 4:1:1), restart
 * markers, 8- and 16-bit quantization tables. Anything else — arithmetic
 * coding, 12-bit, lossless/differential, CMYK/4-component — returns null
 * and [[PixelDecoder.decode]] falls back to ImageIO, exactly like the
 * other decoders' unsupported corners.
 *
 * Decode pipeline per the public spec: marker walk → per-MCU Huffman
 * block decode (DECODE/RECEIVE/EXTEND of T.81 F.2.2) → dequantize in
 * zigzag order → separable 8x8 float IDCT → +128 level shift → nearest-
 * neighbor chroma upsample → JFIF YCbCr→RGB. Hot loops are allocation-
 * free per block; like the PNG/GIF/BMP decoders this runs batched inside
 * `mapPartitions`, a narrow map at any scale.
 *
 * Note JPEG decoding is not bit-exact across implementations (the spec
 * bounds IDCT error, it does not fix it): outputs may differ from
 * ImageIO by a couple of code values per sample, which is why the spec
 * pins agreement within a tolerance, not equality.
 */
object Jpeg {
  import PixelDecoder.Pixels

  def decode(bytes: Array[Byte]): Pixels =
    try decode0(bytes)
    catch { case e: Exception =>
      // malformed/unsupported stream → fallback; the property surfaces the
      // throw site when debugging a decode that silently falls back
      if (System.getProperty("graft.jpeg.debug") != null) e.printStackTrace()
      null
    }

  // zigzag index -> natural (row-major) index
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  // 8x8 DCT basis: C(u) * cos((2x+1) u pi / 16) / 2, so an 8x1 IDCT is a
  // plain matrix product with this
  private val Cos: Array[Array[Double]] = Array.tabulate(8, 8) { (x, u) =>
    val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    0.5 * cu * math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  /** Canonical Huffman table, decoded with T.81 F.16's
   * mincode/maxcode/valptr walk. */
  private final class Huff(counts: Array[Int], vals: Array[Byte]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += counts(l - 1)
        k += counts(l - 1)
        maxCode(l) = if (counts(l - 1) == 0) -1 else code - 1
        code <<= 1
        l += 1
      }
    }
    def decode(br: BitReader): Int = {
      var len = 1
      var code = br.bit()
      while (maxCode(len) < 0 || code > maxCode(len)) {
        code = (code << 1) | br.bit()
        len += 1
        if (len > 16) throw new IllegalStateException("bad huffman code")
      }
      vals(valPtr(len) + code - minCode(len)) & 0xFF
    }
  }

  /** Entropy-segment bit reader: handles 0xFF00 stuffing; stops at any
   * real marker (the MCU loop consumes RSTn explicitly via reset()). */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0
    private var cnt = 0
    def bit(): Int = {
      if (cnt == 0) {
        if (pos >= b.length) throw new IllegalStateException("eof in entropy data")
        var v = b(pos) & 0xFF
        pos += 1
        if (v == 0xFF) {
          val m = if (pos < b.length) b(pos) & 0xFF else 0xD9
          if (m == 0x00) pos += 1 // stuffed byte
          else {
            // real marker inside entropy data: missing-sample territory —
            // feed zero bits so truncated streams decode what they have
            pos -= 1
            v = 0
          }
        }
        acc = v
        cnt = 8
      }
      cnt -= 1
      (acc >> cnt) & 1
    }
    def receive(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    /** T.81 EXTEND: map a RECEIVEd magnitude to its signed value. */
    def extend(v: Int, n: Int): Int =
      if (n == 0) 0
      else if (v < (1 << (n - 1))) v - (1 << n) + 1
      else v
    /** Byte-align and consume an expected RSTn marker. The modulo-8
     * sequence number is CHECKED (E.1.4 cycles D0..D7): a dropped or
     * duplicated restart marker would otherwise resync to the wrong
     * interval and decode misaligned MCUs as plausible-looking garbage —
     * throwing instead routes the stream to the ImageIO fallback. */
    def restart(expected: Int): Unit = {
      cnt = 0
      // skip any fill bytes up to the marker
      while (pos + 1 < b.length && !((b(pos) & 0xFF) == 0xFF &&
        ((b(pos + 1) & 0xFF) >= 0xD0 && (b(pos + 1) & 0xFF) <= 0xD7))) pos += 1
      if (pos + 1 < b.length) {
        val n = (b(pos + 1) & 0xFF) - 0xD0
        if (n != expected) throw new IllegalStateException(
          s"restart marker out of sequence: expected RST$expected, got RST$n")
        pos += 2
      }
    }
  }

  private final case class Component(id: Int, h: Int, v: Int, tq: Int) {
    var dcTab = 0
    var acTab = 0
    var pred = 0 // DC predictor
    var plane: Array[Byte] = _
    var planeW = 0
    var planeH = 0
  }

  private def u16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)

  /** Dequantized 8×8 block (natural order) → separable IDCT → +128 level
   * shift → clamped into `plane` at (ox, oy). One shared kernel for the
   * baseline and progressive paths — the numerically sensitive piece must
   * not fork. `tmp`/`block` are caller-owned scratch (allocation-free hot
   * loop). */
  private def idctBlockInto(coef: Array[Int], tmp: Array[Double],
      block: Array[Double], plane: Array[Byte], planeW: Int,
      ox: Int, oy: Int): Unit = {
    var x = 0
    while (x < 8) {
      var v = 0
      while (v < 8) {
        var s2 = 0.0
        var u = 0
        while (u < 8) { s2 += Cos(x)(u) * coef(u * 8 + v); u += 1 }
        tmp(x * 8 + v) = s2
        v += 1
      }
      x += 1
    }
    x = 0
    while (x < 8) {
      var y = 0
      while (y < 8) {
        var s2 = 0.0
        var v = 0
        while (v < 8) { s2 += tmp(x * 8 + v) * Cos(y)(v); v += 1 }
        block(x * 8 + y) = s2
        y += 1
      }
      x += 1
    }
    var yy = 0
    while (yy < 8) {
      val rowBase = (oy + yy) * planeW + ox
      var xx = 0
      while (xx < 8) {
        val v2 = math.rint(block(yy * 8 + xx) + 128.0).toInt
        plane(rowBase + xx) =
          (if (v2 < 0) 0 else if (v2 > 255) 255 else v2).toByte
        xx += 1
      }
      yy += 1
    }
  }

  private def decode0(b: Array[Byte]): Pixels = {
    if (b == null || b.length < 4 ||
      b(0) != 0xFF.toByte || b(1) != 0xD8.toByte) return null
    val quant = new Array[Array[Int]](4)
    val dcHuff = new Array[Huff](4)
    val acHuff = new Array[Huff](4)
    var comps: Array[Component] = null
    var width = 0
    var height = 0
    var restartInterval = 0
    var adobeTransform = -1
    var progressive = false
    var prog: ProgState = null
    var pos = 2
    // pos+1: EOI is a bare 2-byte marker and (progressive) must be SEEN —
    // it is what triggers the final IDCT pass
    while (pos + 1 < b.length) {
      if (b(pos) != 0xFF.toByte) return null
      // fill bytes: any number of 0xFF may pad before a marker (B.1.1.2)
      while (pos + 2 < b.length && b(pos + 1) == 0xFF.toByte) pos += 1
      val marker = b(pos + 1) & 0xFF
      if (marker == 0xD8 || (marker >= 0xD0 && marker <= 0xD7)) { pos += 2 }
      else if (marker == 0xD9) {
        // EOI: a progressive frame finishes here — dequantize the
        // accumulated coefficients and run the shared IDCT/color tail
        return if (progressive && prog != null)
          finishProgressive(prog, comps, width, height) else null
      }
      else {
        if (pos + 3 >= b.length) return null // truncated segment header
        val len = u16(b, pos + 2)
        val seg = pos + 4
        var nextPos = pos + 4 + len - 2
        marker match {
          case 0xC0 | 0xC1 | 0xC2 => // baseline / ext. sequential / progressive
            if ((b(seg) & 0xFF) != 8) return null // 12-bit not supported
            progressive = marker == 0xC2
            height = u16(b, seg + 1)
            width = u16(b, seg + 3)
            val n = b(seg + 5) & 0xFF
            if (n != 1 && n != 3) return null // CMYK etc -> ImageIO
            comps = Array.tabulate(n) { i =>
              val o = seg + 6 + 3 * i
              Component(b(o) & 0xFF, (b(o + 1) & 0xFF) >> 4,
                b(o + 1) & 0x0F, b(o + 2) & 0xFF)
            }
            if (comps.exists(c => c.h < 1 || c.h > 4 || c.v < 1 || c.v > 4))
              return null
          case 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA | 0xCB |
               0xCD | 0xCE | 0xCF =>
            return null // lossless/arithmetic/differential -> ImageIO
          case 0xC4 => // DHT — possibly several tables in one segment
            var o = seg
            while (o < seg + len - 2) {
              val tc = (b(o) & 0xFF) >> 4
              val th = b(o) & 0x0F
              val counts = Array.tabulate(16)(i => b(o + 1 + i) & 0xFF)
              val total = counts.sum
              val vals = java.util.Arrays.copyOfRange(b, o + 17, o + 17 + total)
              if (tc == 0) dcHuff(th) = new Huff(counts, vals)
              else acHuff(th) = new Huff(counts, vals)
              o += 17 + total
            }
          case 0xDB => // DQT — possibly several tables in one segment
            var o = seg
            while (o < seg + len - 2) {
              val pq = (b(o) & 0xFF) >> 4
              val tq = b(o) & 0x0F
              val t = new Array[Int](64)
              var i = 0
              while (i < 64) {
                t(i) = if (pq == 0) b(o + 1 + i) & 0xFF
                  else u16(b, o + 1 + 2 * i)
                i += 1
              }
              quant(tq) = t
              o += 1 + (if (pq == 0) 64 else 128)
            }
          case 0xDD =>
            restartInterval = u16(b, seg)
          case 0xEE => // APP14 (Adobe): transform 0 = components are RGB
            if (len >= 14 && b(seg) == 'A' && b(seg + 1) == 'd' &&
              b(seg + 2) == 'o' && b(seg + 3) == 'b' && b(seg + 4) == 'e')
              adobeTransform = b(seg + 11) & 0xFF
          case 0xDA => // SOS
            if (comps == null || width <= 0 || height <= 0) return null
            // Adobe transform=0 stores raw RGB — our YCbCr matrix would
            // scramble it; let ImageIO (which honors APP14) handle it
            if (comps.length == 3 && adobeTransform == 0) return null
            val ns = b(seg) & 0xFF
            if (!progressive && ns != comps.length) return null
            if (ns < 1 || ns > comps.length) return null
            // MCU interleave follows the SCAN's component order; color
            // conversion uses the FRAME order (Y first)
            val scanOrder = new Array[Component](ns)
            var i = 0
            while (i < ns) {
              val cid = b(seg + 1 + 2 * i) & 0xFF
              val c = comps.find(_.id == cid).getOrElse(return null)
              c.dcTab = (b(seg + 2 + 2 * i) & 0xFF) >> 4
              c.acTab = b(seg + 2 + 2 * i) & 0x0F
              scanOrder(i) = c
              i += 1
            }
            if (!progressive) {
              return decodeScan(b, pos + 4 + len - 2, comps, scanOrder, quant,
                dcHuff, acHuff, width, height, restartInterval)
            }
            // progressive: one of many scans — accumulate coefficients and
            // keep walking markers from wherever its entropy data ends
            if (prog == null) prog = ProgState.allocate(comps, width, height)
            if (prog == null) return null // exotic sampling / absurd dims
            // latch each component's quant table at its FIRST scan (see
            // ProgState.qtSnap) — later DQT markers define tables for
            // later-starting components only, never rewrite history
            var qi = 0
            while (qi < scanOrder.length) {
              val ci = comps.indexWhere(_ eq scanOrder(qi))
              if (prog.qtSnap(ci) == null && quant(scanOrder(qi).tq) != null)
                prog.qtSnap(ci) = quant(scanOrder(qi).tq).clone()
              qi += 1
            }
            val ss = b(seg + 1 + 2 * ns) & 0xFF
            val se = b(seg + 2 + 2 * ns) & 0xFF
            val ahAl = b(seg + 3 + 2 * ns) & 0xFF
            nextPos = decodeProgressiveScan(b, pos + 4 + len - 2, prog,
              comps, scanOrder, dcHuff, acHuff,
              ss, se, ahAl >> 4, ahAl & 0x0F, restartInterval)
          case _ => // APPn / COM / others: skip
        }
        pos = nextPos
      }
    }
    null
  }

  private def decodeScan(b: Array[Byte], scanStart: Int,
      comps: Array[Component], scanOrder: Array[Component],
      quant: Array[Array[Int]],
      dcHuff: Array[Huff], acHuff: Array[Huff],
      width: Int, height: Int, restartInterval: Int): Pixels = {
    // a ONE-component scan is non-interleaved per T.81 A.2: one data unit
    // per MCU on a ceil(w/8) x ceil(h/8) grid, whatever sampling factors
    // the frame header declares (they only govern multi-component
    // interleave) — honoring the declared 2x2 here would decode 4x the
    // blocks the stream holds and return silent garbage
    val single = comps.length == 1
    def hOf(c: Component): Int = if (single) 1 else c.h
    def vOf(c: Component): Int = if (single) 1 else c.v
    val hMax = comps.map(hOf).max
    val vMax = comps.map(vOf).max
    // the color conversion below samples Y at full resolution: a legal-
    // but-exotic stream with chroma sampled ABOVE luma goes to ImageIO
    if (!single && (hOf(comps(0)) != hMax || vOf(comps(0)) != vMax)) return null
    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
    // validate BEFORE allocating, and bound the total allocation: a
    // handful of crafted header bytes must not drive multi-GB plane
    // allocations (an OutOfMemoryError would kill the task instead of
    // falling back)
    var totalBytes = width.toLong * height * 3
    comps.foreach { c =>
      if (quant(c.tq) == null || dcHuff(c.dcTab) == null ||
        acHuff(c.acTab) == null) return null
      totalBytes += mcusX.toLong * hOf(c) * 8 * mcusY * vOf(c) * 8
    }
    if (totalBytes > (1L << 30)) return null
    comps.foreach { c =>
      c.planeW = mcusX * hOf(c) * 8
      c.planeH = mcusY * vOf(c) * 8
      c.plane = new Array[Byte](c.planeW * c.planeH)
    }
    val br = new BitReader(b, scanStart)
    val coef = new Array[Int](64)
    val tmp = new Array[Double](64)
    val block = new Array[Double](64)
    var mcu = 0
    val totalMcus = mcusX * mcusY
    while (mcu < totalMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        br.restart((mcu / restartInterval - 1) & 7)
        comps.foreach(_.pred = 0)
      }
      val mx = mcu % mcusX
      val my = mcu / mcusX
      var ci = 0
      while (ci < scanOrder.length) {
        val c = scanOrder(ci)
        val qt = quant(c.tq)
        val dh = dcHuff(c.dcTab)
        val ah = acHuff(c.acTab)
        var by = 0
        while (by < vOf(c)) {
          var bx = 0
          while (bx < hOf(c)) {
            // ---- Huffman block decode (T.81 F.2.2) ----
            java.util.Arrays.fill(coef, 0)
            val t = dh.decode(br)
            val diff = br.extend(br.receive(t), t)
            c.pred += diff
            coef(0) = c.pred * qt(0)
            var k = 1
            while (k < 64) {
              val rs = ah.decode(br)
              val r = rs >> 4
              val s = rs & 0x0F
              if (s == 0) {
                if (r == 15) k += 16 // ZRL
                else k = 64 // EOB
              } else {
                k += r
                if (k > 63) throw new IllegalStateException("AC overrun")
                coef(Zigzag(k)) = br.extend(br.receive(s), s) * qt(k)
                k += 1
              }
            }
            // ---- IDCT + level shift + clamp into the component plane ----
            idctBlockInto(coef, tmp, block, c.plane, c.planeW,
              (mx * hOf(c) + bx) * 8, (my * vOf(c) + by) * 8)
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      mcu += 1
    }

    toPixels(comps, width, height, hMax, vMax)
  }

  /**
   * Accumulated coefficient state for a progressive (SOF2) frame: per
   * component, one int per coefficient over the MCU-padded block grid,
   * natural (row-major) order within each 64-coefficient block. Scans add
   * successive spectral bands and approximation bits into this; the IDCT
   * runs once, at EOI. For a single-component frame every scan is
   * non-interleaved (T.81 A.2), so the grid ignores declared sampling
   * factors — same rule the baseline path applies.
   */
  private final class ProgState(
      val coefs: Array[Array[Int]],
      val bw: Array[Int], val bh: Array[Int], // padded blocks per row/col
      val realBW: Array[Int], val realBH: Array[Int], // non-interleaved grid
      val effH: Array[Int], val effV: Array[Int],
      val mcusX: Int, val mcusY: Int, val hMax: Int, val vMax: Int) {
    // per-component quant table, LATCHED at the component's first scan
    // (libjpeg's latch_quant_tables): dequantizing from the EOI-time DQT
    // state would let a legal-but-rare mid-frame DQT redefinition
    // retroactively change already-decoded scans — silently wrong pixels
    // where libjpeg uses the table each scan was actually coded against
    val qtSnap: Array[Array[Int]] = new Array[Array[Int]](coefs.length)
  }

  private object ProgState {
    def allocate(comps: Array[Component], width: Int, height: Int): ProgState = {
      val single = comps.length == 1
      val effH = comps.map(c => if (single) 1 else c.h)
      val effV = comps.map(c => if (single) 1 else c.v)
      val hMax = effH.max
      val vMax = effV.max
      // same exotic-stream fence as baseline: chroma sampled above luma
      // would break the full-resolution-Y color tail
      if (!single && (effH(0) != hMax || effV(0) != vMax)) return null
      val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
      val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
      // bound BEFORE allocating (coefficients are 4 bytes apiece, padded
      // grid): crafted headers must fall back, not OOM the task
      var totalBytes = width.toLong * height * 3
      var i = 0
      while (i < comps.length) {
        totalBytes += mcusX.toLong * effH(i) * 8 * mcusY * effV(i) * 8 * 5
        i += 1
      }
      if (totalBytes > (1L << 30)) return null
      val bw = Array.tabulate(comps.length)(i => mcusX * effH(i))
      val bh = Array.tabulate(comps.length)(i => mcusY * effV(i))
      val realBW = Array.tabulate(comps.length) { i =>
        ((width * effH(i) + hMax - 1) / hMax + 7) / 8
      }
      val realBH = Array.tabulate(comps.length) { i =>
        ((height * effV(i) + vMax - 1) / vMax + 7) / 8
      }
      val coefs = Array.tabulate(comps.length)(i => new Array[Int](bw(i) * bh(i) * 64))
      new ProgState(coefs, bw, bh, realBW, realBH, effH, effV,
        mcusX, mcusY, hMax, vMax)
    }
  }

  /**
   * One progressive scan (T.81 G.2): DC first/refinement (interleaved or
   * not), AC first with EOB runs, AC refinement with correction bits.
   * Returns the byte offset of the next marker after the scan's entropy
   * data so the caller's marker walk continues.
   */
  private def decodeProgressiveScan(b: Array[Byte], start: Int,
      prog: ProgState, comps: Array[Component], scanOrder: Array[Component],
      dcHuff: Array[Huff], acHuff: Array[Huff],
      ss: Int, se: Int, ah: Int, al: Int, restartInterval: Int): Int = {
    val ns = scanOrder.length
    if (ss == 0) { if (se != 0) throw new IllegalStateException("bad DC band") }
    else if (ns != 1 || ss > se || se > 63) {
      throw new IllegalStateException("bad AC scan header")
    }
    val br = new BitReader(b, start)
    var eobrun = 0
    val pred = new Array[Int](ns)
    var unit = 0 // restart counting: MCUs (interleaved) or blocks

    def maybeRestart(): Unit =
      if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
        br.restart((unit / restartInterval - 1) & 7)
        java.util.Arrays.fill(pred, 0)
        eobrun = 0
      }

    def dcDecode(coef: Array[Int], off: Int, si: Int): Unit =
      if (ah == 0) {
        val t = dcHuff(scanOrder(si).dcTab).decode(br)
        pred(si) += br.extend(br.receive(t), t)
        coef(off) = pred(si) << al
      } else if (br.bit() == 1) {
        coef(off) |= (1 << al)
      }

    if (ss == 0 && ns > 1) {
      // interleaved DC scan over the padded MCU grid
      var mcu = 0
      val total = prog.mcusX * prog.mcusY
      while (mcu < total) {
        maybeRestart()
        val mx = mcu % prog.mcusX
        val my = mcu / prog.mcusX
        var si = 0
        while (si < ns) {
          val c = scanOrder(si)
          val ci = comps.indexWhere(_ eq c)
          var by = 0
          while (by < prog.effV(ci)) {
            var bx = 0
            while (bx < prog.effH(ci)) {
              val blk = (my * prog.effV(ci) + by) * prog.bw(ci) +
                (mx * prog.effH(ci) + bx)
              dcDecode(prog.coefs(ci), blk * 64, si)
              bx += 1
            }
            by += 1
          }
          si += 1
        }
        unit += 1; mcu += 1
      }
    } else {
      // non-interleaved scan (single component): REAL block grid only —
      // padding blocks are not coded (T.81 A.2.2)
      val c = scanOrder(0)
      val ci = comps.indexWhere(_ eq c)
      val coefs = prog.coefs(ci)
      val ac = if (ss > 0) acHuff(c.acTab) else null
      var row = 0
      while (row < prog.realBH(ci)) {
        var colI = 0
        while (colI < prog.realBW(ci)) {
          maybeRestart()
          val off = (row * prog.bw(ci) + colI) * 64
          if (ss == 0) {
            dcDecode(coefs, off, 0)
          } else if (ah == 0) {
            // ---- AC first pass (G.2.2): EOB runs span whole blocks ----
            if (eobrun > 0) eobrun -= 1
            else {
              var k = ss
              while (k <= se) {
                val rs = ac.decode(br)
                val r = rs >> 4
                val s = rs & 0x0F
                if (s == 0) {
                  if (r < 15) {
                    eobrun = (1 << r) - 1
                    if (r > 0) eobrun += br.receive(r)
                    k = 64
                  } else k += 16 // ZRL
                } else {
                  k += r
                  if (k > se) throw new IllegalStateException("AC band overrun")
                  coefs(off + Zigzag(k)) = br.extend(br.receive(s), s) << al
                  k += 1
                }
              }
            }
          } else {
            // ---- AC refinement (G.1.2.3): one correction bit for every
            // already-nonzero coefficient visited; new ±1s placed after
            // skipping `r` zero-history positions ----
            val one = 1 << al
            def correct(idx: Int): Unit =
              if (br.bit() == 1 && (coefs(idx) & one) == 0) {
                coefs(idx) += (if (coefs(idx) >= 0) one else -one)
              }
            if (eobrun > 0) {
              eobrun -= 1
              var k = ss
              while (k <= se) {
                val idx = off + Zigzag(k)
                if (coefs(idx) != 0) correct(idx)
                k += 1
              }
            } else {
              var k = ss
              while (k <= se) {
                val rs = ac.decode(br)
                var r = rs >> 4
                val s = rs & 0x0F
                var newval = 0
                if (s == 0) {
                  if (r < 15) {
                    eobrun = (1 << r) - 1
                    if (r > 0) eobrun += br.receive(r)
                    // correction bits through the rest of the band, then done
                    while (k <= se) {
                      val idx = off + Zigzag(k)
                      if (coefs(idx) != 0) correct(idx)
                      k += 1
                    }
                  }
                  // r == 15: skip 16 zero-history coefficients below
                } else {
                  if (s != 1) throw new IllegalStateException("bad AC refine size")
                  newval = if (br.bit() == 1) one else -one
                }
                if (k <= se) {
                  var placed = false
                  while (k <= se && !placed) {
                    val idx = off + Zigzag(k)
                    if (coefs(idx) != 0) correct(idx)
                    else {
                      if (r == 0) {
                        if (newval != 0) coefs(idx) = newval
                        placed = true
                      } else r -= 1
                    }
                    k += 1
                  }
                }
              }
            }
          }
          unit += 1; colI += 1
        }
        row += 1
      }
    }
    // hand the marker walk the next real marker after this scan's data
    var p = br.pos
    while (p + 1 < b.length && !((b(p) & 0xFF) == 0xFF && {
      val m = b(p + 1) & 0xFF
      m != 0x00 && m != 0xFF && !(m >= 0xD0 && m <= 0xD7)
    })) p += 1
    p
  }

  /** Dequantize the accumulated progressive coefficients (against each
   * component's first-scan-latched table, ProgState.qtSnap), IDCT every
   * padded block into component planes, and run the shared color tail. */
  private def finishProgressive(prog: ProgState, comps: Array[Component],
      width: Int, height: Int): Pixels = {
    val coef = new Array[Int](64)
    val tmp = new Array[Double](64)
    val block = new Array[Double](64)
    var ci = 0
    while (ci < comps.length) {
      val c = comps(ci)
      // null = the component never appeared in any scan, or its table was
      // undefined at its first scan — undecodable, fall back
      if (prog.qtSnap(ci) == null) return null
      val qt = prog.qtSnap(ci)
      c.planeW = prog.bw(ci) * 8
      c.planeH = prog.bh(ci) * 8
      c.plane = new Array[Byte](c.planeW * c.planeH)
      val src = prog.coefs(ci)
      var row = 0
      while (row < prog.bh(ci)) {
        var colI = 0
        while (colI < prog.bw(ci)) {
          val off = (row * prog.bw(ci) + colI) * 64
          var k = 0
          while (k < 64) {
            val n = Zigzag(k)
            coef(n) = src(off + n) * qt(k)
            k += 1
          }
          idctBlockInto(coef, tmp, block, c.plane, c.planeW, colI * 8, row * 8)
          colI += 1
        }
        row += 1
      }
      ci += 1
    }
    toPixels(comps, width, height, prog.hMax, prog.vMax)
  }

  /** Shared tail for both frame types: crop the MCU-padded planes, nearest
   * chroma upsample, JFIF YCbCr→RGB. */
  private def toPixels(comps: Array[Component], width: Int, height: Int,
      hMax: Int, vMax: Int): Pixels = {
    if (comps.length == 1) {
      val c = comps(0)
      val out = new Array[Byte](width * height)
      var y = 0
      while (y < height) {
        System.arraycopy(c.plane, y * c.planeW, out, y * width, width)
        y += 1
      }
      Pixels(width, height, 1, out)
    } else {
      val cy = comps(0); val cb = comps(1); val cr = comps(2)
      val out = new Array[Byte](width * height * 3)
      var y = 0
      while (y < height) {
        val ybRow = y * cy.planeW
        val cbRow = (y * cb.v / vMax) * cb.planeW
        val crRow = (y * cr.v / vMax) * cr.planeW
        var x = 0
        while (x < width) {
          val yy = cy.plane(ybRow + x) & 0xFF
          val cbv = (cb.plane(cbRow + x * cb.h / hMax) & 0xFF) - 128
          val crv = (cr.plane(crRow + x * cr.h / hMax) & 0xFF) - 128
          val r = math.rint(yy + 1.402 * crv).toInt
          val g = math.rint(yy - 0.344136 * cbv - 0.714136 * crv).toInt
          val bl = math.rint(yy + 1.772 * cbv).toInt
          val d = (y * width + x) * 3
          out(d) = (if (r < 0) 0 else if (r > 255) 255 else r).toByte
          out(d + 1) = (if (g < 0) 0 else if (g > 255) 255 else g).toByte
          out(d + 2) = (if (bl < 0) 0 else if (bl > 255) 255 else bl).toByte
          x += 1
        }
        y += 1
      }
      Pixels(width, height, 3, out)
    }
  }
}
