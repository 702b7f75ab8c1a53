package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal (image/audio/video) columns for training-data pipelines: media
 * travel as opaque `binary` columns with typed metadata structs; decode /
 * feature-extraction runs batched inside `mapPartitions`.
 *
 * [[HeaderDecoder]] reads metadata (format, dimensions, audio frame
 * counts) from the PNG / JPEG / GIF / BMP / WAV / MP4 container headers.
 * [[PixelDecoder]] decodes pixel and PCM payloads: PNG, BMP, GIF and WAV
 * from the bytes, JPEG and the other formats' leftover variants through
 * the JDK's ImageIO readers. See [[decodePixels]], [[pixelStats]],
 * [[audioStats]] and [[PixelStatExtractor]]. Neural feature extraction is
 * a stub ([[StubExtractor]]: there is no NN runtime); its batch contract is
 * what an ONNX/JNI encoder needs.
 */
object Multimodal {

  /** Typed metadata produced by decode. */
  val mediaMetaType: StructType = StructType(Seq(
    StructField("n_bytes", LongType, nullable = false),
    StructField("format", StringType),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("content_hash", LongType, nullable = false)))

  /** One decoded batch element. */
  final case class MediaMeta(nBytes: Long, format: String, width: Int,
      height: Int, nFrames: Int, contentHash: Long)

  trait Decoder extends Serializable {
    /** Decode one blob. Production implementations plug in here. */
    def decode(bytes: Array[Byte]): MediaMeta
  }

  /**
   * STUB decoder — deterministic fake: dimensions and frame count derived
   * from byte length and a content hash, format sniffed from magic bytes.
   * Replace with a real codec for production use.
   */
  object StubDecoder extends Decoder {
    override def decode(bytes: Array[Byte]): MediaMeta = {
      val n = bytes.length.toLong
      val format =
        if (bytes.length >= 3 && bytes(0) == 0xFF.toByte && bytes(1) == 0xD8.toByte) "jpeg"
        else if (bytes.length >= 4 && bytes(0) == 0x89.toByte && bytes(1) == 'P') "png"
        else if (bytes.length >= 4 && bytes(0) == 'R' && bytes(1) == 'I') "wav"
        else "bin"
      var h = 1125899906842597L
      var i = 0
      while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
      MediaMeta(n, format, (n % 640).toInt, (n % 480).toInt, (n % 30).toInt + 1, h)
    }
  }

  /**
   * Real header decoder: parses the container headers of the common media
   * formats byte-for-byte (dimensions from PNG IHDR / JPEG SOF / GIF
   * logical-screen / BMP info header; sample counts from WAV fmt+data
   * chunks). No external codec library — the header layouts are public
   * container specs. Unknown formats fall back to [[StubDecoder]]'s
   * deterministic derivation so the operator stays total.
   */
  object HeaderDecoder extends Decoder {

    private def beU32(b: Array[Byte], i: Int): Long =
      ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
        ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
    private def beU16(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
    private def leU32(b: Array[Byte], i: Int): Long =
      (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) |
        ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)
    private def leU16(b: Array[Byte], i: Int): Int =
      (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)

    private def contentHash(bytes: Array[Byte]): Long = {
      var h = 1125899906842597L
      var i = 0
      while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
      h
    }

    private val PngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)

    override def decode(bytes: Array[Byte]): MediaMeta = {
      val n = bytes.length.toLong
      val hash = contentHash(bytes)
      // PNG: 8-byte signature, then the IHDR chunk (always first) carries
      // width/height as big-endian u32 at offsets 16 and 20.
      if (bytes.length >= 24 && PngSig.indices.forall(i => bytes(i) == PngSig(i))) {
        return MediaMeta(n, "png", beU32(bytes, 16).toInt, beU32(bytes, 20).toInt, 1, hash)
      }
      // JPEG: SOI then a marker stream; the frame header (SOF0..SOF15 minus
      // DHT/JPG/DAC) carries height then width as big-endian u16.
      if (bytes.length >= 4 && bytes(0) == 0xFF.toByte && bytes(1) == 0xD8.toByte) {
        var i = 2
        while (i + 3 < bytes.length) {
          if (bytes(i) != 0xFF.toByte) return MediaMeta(n, "jpeg", 0, 0, 1, hash)
          while (i + 1 < bytes.length && bytes(i + 1) == 0xFF.toByte) i += 1 // fill bytes
          // a blob ending in a run of 0xFF padding leaves no marker byte
          if (i + 1 >= bytes.length) return MediaMeta(n, "jpeg", 0, 0, 1, hash)
          val marker = bytes(i + 1) & 0xFF
          if (marker == 0xD9 || (marker >= 0xD0 && marker <= 0xD7)) {
            i += 2 // standalone marker, no segment length
          } else {
            if (i + 3 >= bytes.length) return MediaMeta(n, "jpeg", 0, 0, 1, hash)
            val segLen = beU16(bytes, i + 2)
            val isSof = marker >= 0xC0 && marker <= 0xCF &&
              marker != 0xC4 && marker != 0xC8 && marker != 0xCC
            if (isSof && i + 8 < bytes.length) {
              return MediaMeta(n, "jpeg", beU16(bytes, i + 7), beU16(bytes, i + 5), 1, hash)
            }
            if (marker == 0xDA) return MediaMeta(n, "jpeg", 0, 0, 1, hash) // entropy data
            i += 2 + segLen
          }
        }
        return MediaMeta(n, "jpeg", 0, 0, 1, hash)
      }
      // GIF: "GIF87a"/"GIF89a", logical-screen width/height little-endian
      // u16 at offsets 6/8.
      if (bytes.length >= 10 && bytes(0) == 'G' && bytes(1) == 'I' &&
          bytes(2) == 'F' && bytes(3) == '8') {
        return MediaMeta(n, "gif", leU16(bytes, 6), leU16(bytes, 8), 1, hash)
      }
      // BMP: "BM", BITMAPINFOHEADER width/height little-endian s32 at 18/22
      // (height may be negative for top-down rows).
      if (bytes.length >= 26 && bytes(0) == 'B' && bytes(1) == 'M') {
        val w = leU32(bytes, 18).toInt
        val h = math.abs(leU32(bytes, 22).toInt)
        return MediaMeta(n, "bmp", w, h, 1, hash)
      }
      // MP4 (ISO base media): box walk — dimensions from the video trak's
      // tkhd (16.16 fixed point), frame count from THAT trak's stbl/stsz
      // sample_count. Pure container metadata; codec payloads stay opaque.
      if (bytes.length >= 12 && bytes(4) == 'f' && bytes(5) == 't' &&
          bytes(6) == 'y' && bytes(7) == 'p') {
        // (contentStart, contentEnd) of a box at `i`, honoring the spec's
        // size==1 (64-bit largesize follows the type) and size==0 (box runs
        // to the end of its container) forms; None on a corrupt size
        def boxBounds(i: Int, to: Int): Option[(Int, Int)] = {
          val size = beU32(bytes, i)
          if (size == 0L) Some((i + 8, to))
          else if (size == 1L && i + 16 <= to) {
            val large = (beU32(bytes, i + 8) << 32) | beU32(bytes, i + 12)
            if (large < 16 || large > to - i) None else Some((i + 16, i + large.toInt))
          }
          else if (size < 8 || size > to - i) None
          else Some((i + 8, i + size.toInt))
        }
        // first direct child of [from,to) with the given type → its bounds
        def child(from: Int, to: Int, tpe: String): Option[(Int, Int)] = {
          var i = from
          while (i + 8 <= to) {
            boxBounds(i, to) match {
              case None => return None
              case Some((cs, ce)) =>
                if (new String(bytes, i + 4, 4, "US-ASCII") == tpe) return Some((cs, ce))
                i = ce
            }
          }
          None
        }
        def chain(from: Int, to: Int, path: String*): Option[(Int, Int)] =
          path.foldLeft(Option((from, to))) { (acc, tpe) =>
            acc.flatMap { case (f, t) => child(f, t, tpe) }
          }
        var w = 0
        var h = 0
        var frames = 0
        child(0, bytes.length, "moov").foreach { case (ms, me) =>
          // iterate traks; the video track is the one whose tkhd has
          // nonzero dimensions, and the frame count must come from the
          // SAME trak (an audio trak's stsz holds audio sample counts)
          var i = ms
          var done = false
          while (!done && i + 8 <= me) {
            boxBounds(i, me) match {
              case None => done = true
              case Some((cs, ce)) =>
                if (new String(bytes, i + 4, 4, "US-ASCII") == "trak") {
                  // ts < te also guards the version-byte read: a header-only
                  // tkhd (size 8) ending at the buffer's edge has ts == te
                  // == bytes.length, and bytes(ts) would index past the end
                  child(cs, ce, "tkhd").filter(b => b._1 < b._2)
                      .foreach { case (ts, te) =>
                    // v0 content: ver/flags 4, times 8, id 4, rsvd 4,
                    // duration 4, rsvd 8, layer/group/volume/rsvd 8,
                    // matrix 36 → width at content offset 76 (v1: 88);
                    // bounds against the tkhd box's OWN end
                    val ver = bytes(ts) & 0xFF
                    val woff = ts + (if (ver == 1) 88 else 76)
                    if (woff + 8 <= te) {
                      val tw = (beU32(bytes, woff) >> 16).toInt
                      val th = (beU32(bytes, woff + 4) >> 16).toInt
                      if (tw > 0 && th > 0 && w == 0) {
                        w = tw; h = th
                        chain(cs, ce, "mdia", "minf", "stbl", "stsz")
                          .foreach { case (ss, se) =>
                            if (ss + 12 <= se) frames = beU32(bytes, ss + 8).toInt
                          }
                      }
                    }
                  }
                }
                i = ce
            }
          }
        }
        return MediaMeta(n, "mp4", w, h, math.max(frames, 1), hash)
      }
      // WAV: RIFF/WAVE chunk walk — channels+bits from `fmt `, total sample
      // frames from the `data` chunk size.
      if (bytes.length >= 44 && bytes(0) == 'R' && bytes(1) == 'I' &&
          bytes(2) == 'F' && bytes(3) == 'F' &&
          bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E') {
        var channels = 0
        var bitsPerSample = 0
        var dataBytes = 0L
        var i = 12
        var walking = true
        while (walking && i + 8 <= bytes.length) {
          val id = new String(bytes, i, 4, "US-ASCII")
          val size = leU32(bytes, i + 4)
          if (id == "fmt " && i + 8 + 16 <= bytes.length) {
            channels = leU16(bytes, i + 10)
            bitsPerSample = leU16(bytes, i + 22)
          } else if (id == "data") {
            dataBytes = size
          }
          // a corrupt size that is negative-as-int or runs past the buffer
          // would wrap the cursor (then read at a negative offset) — end
          // the walk and keep the chunks parsed so far
          if (size > bytes.length - i - 8L) walking = false
          else i += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
        }
        val frameBytes = channels * (bitsPerSample / 8)
        val frames = if (frameBytes > 0) (dataBytes / frameBytes).toInt else 0
        return MediaMeta(n, "wav", 0, 0, frames, hash)
      }
      StubDecoder.decode(bytes)
    }
  }

  /**
   * Deterministic REAL media generator for tests and gate queries: renders
   * an actual PNG/JPEG/BMP via `javax.imageio` (JDK-only, headless-safe for
   * raster ops) with pixels seeded from `seed` — so a decoder must truly
   * parse the container to recover the dimensions.
   */
  object SyntheticMedia {
    def image(format: String, width: Int, height: Int, seed: Long): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        math.max(width, 1), math.max(height, 1),
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var s = seed
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          s = s * 6364136223846793005L + 1442695040888963407L
          img.setRGB(x, y, ((s >>> 40) & 0xFFFFFF).toInt)
          x += 1
        }
        y += 1
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, format, baos)
      baos.toByteArray
    }

    /** A PNG whose rows carry a known gradient — row `y` is the constant
     * gray value `(y + base) % 256` on all three channels — so pixel sums
     * are closed-form in the row index (the DuckDB oracle can state them)
     * while the decoder still has to run the real zlib+unfilter path to
     * recover them. */
    def gradientImage(format: String, width: Int, height: Int, base: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        math.max(width, 1), math.max(height, 1),
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < img.getHeight) {
        val v = (y + base) & 0xFF
        val rgb = (v << 16) | (v << 8) | v
        var x = 0
        while (x < img.getWidth) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, format, baos)
      baos.toByteArray
    }

    /** A 16-bit PCM square wave at amplitude `amp` (alternating +amp/-amp
     * per frame): RMS and peak are exactly `amp`, closed-form for oracles. */
    def squareWav(channels: Int, sampleRate: Int, frames: Int, amp: Int): Array[Byte] = {
      val dataBytes = frames * channels * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(channels.toShort).putInt(sampleRate)
        .putInt(sampleRate * channels * 2)
        .putShort((channels * 2).toShort).putShort(16)
      bb.put("data".getBytes("US-ASCII")).putInt(dataBytes)
      var f = 0
      while (f < frames) {
        val v = (if ((f & 1) == 0) amp else -amp).toShort
        var c = 0
        while (c < channels) { bb.putShort(v); c += 1 }
        f += 1
      }
      bb.array()
    }

    /** A minimal spec-compliant ISO-BMFF (MP4) container: ftyp + moov
     * holding one video trak whose tkhd carries the dimensions (16.16
     * fixed) and whose stbl/stsz carries the frame count (constant
     * sample_size form, so no per-sample table), plus a stub mdat. The
     * codec payload is opaque by design — this generates the container
     * shape a metadata scan sees. */
    def mp4(width: Int, height: Int, frames: Int): Array[Byte] = {
      def be32(v: Int): Array[Byte] =
        Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
          ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
      def box(tpe: String, payload: Array[Byte]*): Array[Byte] = {
        val body = payload.flatten.toArray
        be32(8 + body.length) ++ tpe.getBytes("US-ASCII") ++ body
      }
      val ftyp = box("ftyp", "isom".getBytes("US-ASCII"), be32(512),
        "isommp42".getBytes("US-ASCII"))
      val mvhd = box("mvhd", new Array[Byte](12), be32(1000), be32(frames * 40),
        be32(0x00010000), Array[Byte](1, 0), new Array[Byte](10),
        be32(0x00010000), be32(0), be32(0), be32(0), be32(0x00010000), be32(0),
        be32(0), be32(0), be32(0x40000000), new Array[Byte](24), be32(2))
      val tkhd = box("tkhd",
        new Array[Byte](4), // version 0 + flags
        be32(0), be32(0), // times
        be32(1), be32(0), // track id, reserved
        be32(frames * 40), // duration
        new Array[Byte](8), // reserved
        new Array[Byte](8), // layer, alt group, volume, reserved
        be32(0x00010000), be32(0), be32(0), be32(0), be32(0x00010000), be32(0),
        be32(0), be32(0), be32(0x40000000), // identity matrix
        be32(width << 16), be32(height << 16))
      val stsz = box("stsz", new Array[Byte](4), be32(1024), be32(frames))
      val stbl = box("stbl", stsz)
      val minf = box("minf", stbl)
      val mdia = box("mdia", minf)
      val trak = box("trak", tkhd, mdia)
      val moov = box("moov", mvhd, trak)
      val mdat = box("mdat", Array[Byte](0, 0, 0, 0))
      ftyp ++ moov ++ mdat
    }

    /** A minimal valid PCM WAV with the given shape (silence payload). */
    def wav(channels: Int, sampleRate: Int, bitsPerSample: Int,
        frames: Int): Array[Byte] = {
      val dataBytes = frames * channels * (bitsPerSample / 8)
      val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(channels.toShort).putInt(sampleRate)
        .putInt(sampleRate * channels * bitsPerSample / 8)
        .putShort((channels * bitsPerSample / 8).toShort)
        .putShort(bitsPerSample.toShort)
      bb.put("data".getBytes("US-ASCII")).putInt(dataBytes)
      bb.array()
    }
  }

  /**
   * Batched decode: appends a `media_meta` struct column. Batches of
   * `batchSize` blobs are decoded together inside each partition (the shape
   * a vectorized/NN decoder needs), preserving row order.
   */
  def decodeMeta(df: DataFrame, binCol: String, decoder: Decoder = HeaderDecoder,
      batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("media_meta", mediaMetaType, nullable = true))
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = RowEncoder.encoderFor(outSchema)
    graft.core.Fanout(df).mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // batch-shaped decode: a real implementation would hand the whole
        // Array[Array[Byte]] to the codec at once
        val blobs = batch.map(r =>
          if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx))
        val metas = blobs.map {
          case null => null
          case b =>
            val m = decoder.decode(b)
            Row(m.nBytes, m.format, m.width, m.height, m.nFrames, m.contentHash)
        }
        batch.zip(metas).map { case (r, m) => Row.fromSeq(r.toSeq :+ m) }
      }
    }(enc)
  }

  trait FeatureExtractor extends Serializable {
    def dim: Int
    /** Encode a whole batch at once — the shape a vectorized / neural
     * encoder needs (one forward pass per batch, not per row). */
    def extract(batch: Array[Array[Byte]]): Array[Array[Float]]
  }

  /** STUB extractor — deterministic pseudo-embedding derived from rolling
   * content hashes (unit-normalized). Replace with a real encoder (ONNX /
   * JNI) for production; the batch contract is what such an encoder needs. */
  final class StubExtractor(override val dim: Int) extends FeatureExtractor {
    override def extract(batch: Array[Array[Byte]]): Array[Array[Float]] =
      batch.map { bytes =>
        if (bytes == null) null
        else {
          val v = new Array[Float](dim)
          var h = 1469598103934665603L
          var i = 0
          while (i < bytes.length) { h = (h ^ bytes(i)) * 1099511628211L; i += 1 }
          var d = 0
          var norm = 0.0
          while (d < dim) {
            h = h * 6364136223846793005L + 1442695040888963407L
            v(d) = ((h >>> 40).toInt / 8388608.0f) - 1.0f
            norm += v(d) * v(d)
            d += 1
          }
          val inv = (1.0 / math.sqrt(math.max(norm, 1e-12))).toFloat
          d = 0
          while (d < dim) { v(d) *= inv; d += 1 }
          v
        }
      }
  }

  /**
   * Batched feature extraction: appends a `features array<float>` column
   * (the embedding column the dedup/ANN operators consume). Blobs are
   * encoded `batchSize` at a time inside each partition — the whole
   * `Array[Array[Byte]]` is handed to the extractor in one call, so a
   * real neural encoder amortizes its forward pass across the batch.
   */
  def extractFeatures(df: DataFrame, binCol: String,
      extractor: FeatureExtractor = new StubExtractor(64),
      batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("features", ArrayType(FloatType), nullable = true))
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = RowEncoder.encoderFor(outSchema)
    graft.core.Fanout(df).mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val blobs = batch.map(r =>
          if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)).toArray
        val feats = extractor.extract(blobs)
        batch.zip(feats).map { case (r, f) =>
          Row.fromSeq(r.toSeq :+ (if (f == null) null else f.toSeq))
        }
      }
    }(enc)
  }

  /** STUB frame sampler: every `stride`-th frame index of a decoded video —
   * real pipelines replace the index list with actual frame tensors. */
  def sampleFrameIndices(df: DataFrame, metaCol: String, stride: Int): DataFrame =
    df.withColumn("frame_indices",
      sequence(lit(0), greatest(col(s"$metaCol.n_frames") - 1, lit(0)), lit(stride)))

  /** STUB resize: recomputes target dimensions preserving aspect ratio —
   * a real implementation would transform pixel buffers. */
  def resizeMeta(df: DataFrame, metaCol: String, targetWidth: Int): DataFrame =
    df.withColumn("resized",
      struct(
        lit(targetWidth).as("width"),
        when(col(s"$metaCol.width") > 0,
          (col(s"$metaCol.height") * targetWidth / col(s"$metaCol.width")).cast("int"))
          .otherwise(lit(0)).as("height")))

  // ------------------------------------------------------ real pixel path ----

  /** Decoded-raster struct appended by [[decodePixels]]. */
  val pixelsType: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("data", BinaryType, nullable = false)))

  /** REAL batched pixel decode ([[PixelDecoder]]): appends a `pixels` struct
   * with the row-major interleaved raster. Narrow map, no shuffle; at 100 TB
   * the decoded column is transient (consumed by the next fused stage), so
   * prefer [[pixelStats]]/[[audioStats]] when only aggregates are needed. */
  def decodePixels(df: DataFrame, binCol: String): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("pixels", pixelsType, nullable = true))
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = RowEncoder.encoderFor(outSchema)
    // strictly per-row streaming (the decoder is per-blob): a grouped()
    // stage here would only buffer decoded rasters -- MBs apiece -- with
    // no batch-amortized work to pay for it
    graft.core.Fanout(df).mapPartitions { it =>
      it.map { r =>
        val p = if (r.isNullAt(binIdx)) null
          else PixelDecoder.decode(r.getAs[Array[Byte]](binIdx))
        val out = if (p == null) null else Row(p.width, p.height, p.channels, p.data)
        Row.fromSeq(r.toSeq :+ out)
      }
    }(enc)
  }

  /** Struct appended by [[pixelStats]]. */
  val pixelStatsType: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("pixel_sum", LongType, nullable = false),
    StructField("resized_sum", LongType, nullable = false)))

  /** Fused decode → stats: decodes each blob and reduces it to scalar pixel
   * statistics (plus the same sums over a nearest-neighbor `resizeTo`
   * thumbnail) without materializing rasters into rows — the 100 TB shape
   * for "score every image in the corpus". */
  def pixelStats(df: DataFrame, binCol: String,
      resizeTo: (Int, Int) = (8, 8)): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("pixel_stats", pixelStatsType, nullable = true))
    val binIdx = df.schema.fieldIndex(binCol)
    val (tw, th) = resizeTo
    val enc = RowEncoder.encoderFor(outSchema)
    graft.core.Fanout(df).mapPartitions { it =>
      it.map { r =>
          val p = if (r.isNullAt(binIdx)) null
            else PixelDecoder.decode(r.getAs[Array[Byte]](binIdx))
          val out = if (p == null) null else {
            var sum = 0L
            var i = 0
            while (i < p.data.length) { sum += p.data(i) & 0xFF; i += 1 }
            val rp = PixelDecoder.resizeNearest(p, tw, th)
            var rsum = 0L
            i = 0
            while (i < rp.data.length) { rsum += rp.data(i) & 0xFF; i += 1 }
            Row(p.width, p.height, p.channels, sum, rsum)
        }
        Row.fromSeq(r.toSeq :+ out)
      }
    }(enc)
  }

  /** Struct appended by [[audioStats]]. */
  val audioStatsType: StructType = StructType(Seq(
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("frames", IntegerType, nullable = false),
    StructField("rms", DoubleType, nullable = false),
    StructField("peak", DoubleType, nullable = false)))

  /** Fused PCM decode → stats: RMS and peak over the normalized samples,
   * plus the true frame/channel/rate shape from the `fmt ` chunk. */
  def audioStats(df: DataFrame, binCol: String): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("audio_stats", audioStatsType, nullable = true))
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = RowEncoder.encoderFor(outSchema)
    graft.core.Fanout(df).mapPartitions { it =>
      it.map { r =>
          val a = if (r.isNullAt(binIdx)) null
            else PixelDecoder.wav(r.getAs[Array[Byte]](binIdx))
          val out = if (a == null) null else {
            var sumSq = 0.0
            var peak = 0.0
            var i = 0
            while (i < a.samples.length) {
              val v = a.samples(i).toDouble
              sumSq += v * v
              val av = math.abs(v)
              if (av > peak) peak = av
              i += 1
            }
            val rms = if (a.samples.length == 0) 0.0
              else math.sqrt(sumSq / a.samples.length)
            Row(a.channels, a.sampleRate, a.frames, rms, peak)
        }
        Row.fromSeq(r.toSeq :+ out)
      }
    }(enc)
  }

  /** REAL pixel-statistic feature extractor: decodes each blob and emits
   * [mean R, mean G, mean B, luma std] ++ a `bins`-bucket luma histogram
   * (L1-normalized) — a deterministic, genuinely content-derived embedding
   * (unlike [[StubExtractor]]'s hash), suitable for the ANN/dedup operators
   * downstream. Non-image blobs embed as null. */
  final class PixelStatExtractor(bins: Int = 8) extends FeatureExtractor {
    override val dim: Int = 4 + bins
    override def extract(batch: Array[Array[Byte]]): Array[Array[Float]] =
      batch.map { bytes =>
        val p = if (bytes == null) null else PixelDecoder.decode(bytes)
        if (p == null || p.width * p.height == 0) null
        else {
          val n = p.width * p.height
          val ch = p.channels
          var sr = 0L; var sg = 0L; var sb = 0L
          var sumL = 0.0; var sumL2 = 0.0
          val hist = new Array[Long](bins)
          var i = 0
          while (i < n) {
            val o = i * ch
            val r = p.data(o) & 0xFF
            val g = if (ch >= 3) p.data(o + 1) & 0xFF else r
            val b = if (ch >= 3) p.data(o + 2) & 0xFF else r
            sr += r; sg += g; sb += b
            val luma = 0.299 * r + 0.587 * g + 0.114 * b
            sumL += luma; sumL2 += luma * luma
            hist((luma * bins / 256.0).toInt.min(bins - 1)) += 1
            i += 1
          }
          val meanL = sumL / n
          val v = new Array[Float](dim)
          v(0) = (sr.toDouble / n / 255.0).toFloat
          v(1) = (sg.toDouble / n / 255.0).toFloat
          v(2) = (sb.toDouble / n / 255.0).toFloat
          v(3) = (math.sqrt(math.max(0.0, sumL2 / n - meanL * meanL)) / 255.0).toFloat
          var k = 0
          while (k < bins) { v(4 + k) = (hist(k).toDouble / n).toFloat; k += 1 }
          v
        }
      }
  }

  /**
   * Perceptual DCT featurizer — the engine's REAL "neural-extractor-shaped"
   * embedding (the pHash family: resize → luma → 2D DCT-II → keep the
   * `keep`×`keep` low-frequency block, drop DC, unit-normalize). Fully
   * deterministic pure JVM, and genuinely PERCEPTUAL where [[StubExtractor]]
   * is a byte hash: the same raster encoded as PNG vs BMP embeds
   * identically, a rescaled or lightly-noised copy embeds nearby, and
   * different content embeds far — so cosine similarity over these vectors
   * drives the downstream ANN/dedup operators the way a learned image
   * embedding would. An actual NN encoder (ONNX/JNI, absent in this
   * container) drops in behind the same [[FeatureExtractor]] batch
   * contract.
   *
   * Cost per blob: decode + nearest resize to `size`² + separable DCT
   * (2·size³ mults ≈ 65k at size=32) — decode-dominated, rides the same
   * batched `mapPartitions` pass as every other extractor; no shuffle.
   */
  final class DctFeatureExtractor(size: Int = 32, keep: Int = 8)
      extends FeatureExtractor {
    require(keep > 0 && keep <= size, s"keep=$keep must be in [1, $size]")
    // keep²-1 AC coefficients + 2 reserved dims for flat (zero-AC) images.
    // Textured images always carry 0 in the reserved dims, flat images are
    // non-zero ONLY there — the two populations are exactly orthogonal, so
    // a flat frame can never alias a textured image whose AC energy
    // happens to concentrate in one kept coefficient (a smooth horizontal
    // ramp puts ~0.99 of its normalized energy in coefficient (0,1) — on
    // a shared simplex that would cosine-match a near-black flat's
    // one-hot above any practical dedup threshold).
    override val dim: Int = keep * keep + 1
    // DCT-II basis, row u of length `size`: cos((2x+1)·u·π / (2·size))
    @transient private lazy val basis: Array[Array[Double]] = {
      val t = Array.ofDim[Double](size, size)
      var u = 0
      while (u < size) {
        var x = 0
        while (x < size) {
          t(u)(x) = math.cos((2 * x + 1) * u * math.Pi / (2.0 * size))
          x += 1
        }
        u += 1
      }
      t
    }
    override def extract(batch: Array[Array[Byte]]): Array[Array[Float]] =
      batch.map { bytes =>
        val p0 = if (bytes == null) null else PixelDecoder.decode(bytes)
        if (p0 == null || p0.width * p0.height == 0) null
        else {
          val p = PixelDecoder.resizeNearest(p0, size, size)
          val luma = new Array[Double](size * size)
          val ch = p.channels
          var lumaMin = Double.MaxValue
          var lumaMax = Double.MinValue
          var i = 0
          while (i < size * size) {
            val o = i * ch
            val r = p.data(o) & 0xFF
            val g = if (ch >= 3) p.data(o + 1) & 0xFF else r
            val b = if (ch >= 3) p.data(o + 2) & 0xFF else r
            val l = 0.299 * r + 0.587 * g + 0.114 * b
            luma(i) = l
            if (l < lumaMin) lumaMin = l
            if (l > lumaMax) lumaMax = l
            i += 1
          }
          // FLAT ANCHOR + CONTINUOUS BLEND. The zero vector would be the
          // noise-safe embed for a flat (all-equal-luma) image, but cosine
          // of two zero vectors is 0 — byte-identical solid-color images
          // would then NEVER pair in cosineDedupPairs. Normalizing the
          // residual AC noise instead embeds a flat and its lightly-noised
          // copy in RANDOM directions (amplitude ~1e-6 noise deciding the
          // whole direction). And any HARD routing threshold between the
          // two paths just moves that cliff (review-probed twice: a ptp≤2
          // rule made one-pixel δ3 noise orthogonal to its flat original).
          // So the embedding is a continuous blend:
          //
          //   v = √w · (unit AC block)  ⊕  √(1−w) · (cos θ, sin θ)
          //
          // with θ the mean-luma angle over [0, π] (reserved dims — see
          // `dim`) and w = min(1, ‖AC‖²/T²), T = size²/5: a CONTENT-energy
          // gate, not a pixel-range gate, because the kept low-frequency
          // block separates what a range test cannot — localized noise has
          // tiny kept-block energy (one-pixel δ3 at size 32: ‖AC‖ ≈ 13 →
          // w ≈ 0.004, cosine ≈ 0.998 to its clean flat) while visible
          // low-frequency structure of the same pixel range (wide Δ2
          // banding, ‖AC‖ in the hundreds) saturates to w = 1. Flats:
          // pure anchor, same brightness ⇒ cosine 1, Δluma 11 ⇒ ~0.99,
          // black vs white antipodal. Textured (w = 1): reserved dims
          // exactly 0, orthogonal to every flat. Near-flat: cosine to the
          // clean flat degrades smoothly as √(1−w) — no cliff anywhere.
          // (Period-2 Δ2 dithering aliases to the flat anchor — correct
          // for a pHash: the kept 8×8 block cannot see it, and at viewing
          // distance neither can a person.)
          val v = new Array[Float](dim)
          var sum = 0.0
          i = 0
          while (i < luma.length) { sum += luma(i); i += 1 }
          val theta = (sum / luma.length) / 255.0 * math.Pi
          var w01 = 0.0
          if (lumaMax > lumaMin) {
            // separable 2D DCT-II, low-frequency block only: rows first
            // (all `size` columns, `keep` output rows), then columns.
            // Skipped entirely for exact flats (ptp 0 ⇒ every AC
            // coefficient is identically 0) — the common solid-color case
            // pays the luma scan only.
            val rows = Array.ofDim[Double](keep, size)
            var u = 0
            while (u < keep) {
              var x = 0
              while (x < size) {
                var s = 0.0
                var y2 = 0
                while (y2 < size) { s += luma(y2 * size + x) * basis(u)(y2); y2 += 1 }
                rows(u)(x) = s
                x += 1
              }
              u += 1
            }
            var norm = 0.0
            u = 0
            var k = 0
            while (u < keep) {
              var w = 0
              while (w < keep) {
                if (u != 0 || w != 0) { // drop DC: brightness offsets vanish
                  var s = 0.0
                  var x = 0
                  while (x < size) { s += rows(u)(x) * basis(w)(x); x += 1 }
                  v(k) = s.toFloat
                  norm += s * s
                  k += 1
                }
                w += 1
              }
              u += 1
            }
            val t = size.toDouble * size / 5.0
            w01 = if (norm > 1e-12) math.min(1.0, norm / (t * t)) else 0.0
            if (w01 > 0) {
              val scale = (math.sqrt(w01 / norm)).toFloat
              k = 0
              while (k < dim - 2) { v(k) *= scale; k += 1 }
            } else java.util.Arrays.fill(v, 0, dim - 2, 0.0f)
          }
          val anchor = math.sqrt(1.0 - w01)
          v(dim - 2) = (anchor * math.cos(theta)).toFloat
          v(dim - 1) = (anchor * math.sin(theta)).toFloat
          v
        }
      }
  }
}
