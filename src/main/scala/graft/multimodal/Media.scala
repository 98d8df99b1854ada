package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus a batched per-partition
  * decode/feature-extract pipeline.
  *
  * Image decode is REAL for every format the JDK ships a reader for
  * (PNG, JPEG, GIF, BMP, WBMP — [[ImageCodec.decodeDims]] reads true
  * dimensions from the header, and [[ImageCodec.decodePixels]] runs
  * the full codec path to per-channel pixel sums, via `javax.imageio`,
  * no external codec libraries needed), and audio decode is REAL for 16-bit PCM in any
  * JDK container — WAV, AIFF, AU, either byte order
  * ([[AudioCodec.decode]] reads true sample rate / channel count /
  * frame count and computes the PCM RMS via `javax.sound.sampled`;
  * other bit depths stub).
  * Video decode is real twice over: [[VideoCodec.decodeMeta]] walks
  * the RIFF/AVI chunk tree to the true avih geometry and frame count,
  * and [[VideoCodec.decodeFrames]] pixel-decodes uncompressed BI_RGB
  * 24-bit frames (bottom-up padded BGR rows — the one pixel format
  * whose decode is a defined byte layout, hence pure JDK). Payloads no
  * parser recognises (proprietary formats, COMPRESSED video streams —
  * codecs genuinely absent from this container) fall back to the
  * clearly-marked deterministic [[StubCodec]]; a production codec
  * drops into that fallback unchanged.
  *
  * Scale posture: decode runs via `mapPartitions` on a typed Dataset, so
  * the (expensive, non-columnar) codec amortizes per-partition
  * initialization and streams record batches without collecting; binary
  * payloads never pass through the driver. `spark.sql.files.maxPartitionBytes`
  * bounds per-task memory for large blobs; for very large media a real
  * deployment would store pointers + range-read in the decoder, which this
  * signature also supports.
  */
object Media {

  case class MediaRow(media_id: Long, format: String, payload: Array[Byte])
  case class MediaFeatures(media_id: Long, format: String, n_bytes: Long,
                           checksum: Long, width: Int, height: Int,
                           decoded: Boolean)

  /** Real image codec on the JDK's `javax.imageio` — available in every
    * JVM, no external libraries.
    */
  object ImageCodec {
    // ImageIO's default stream cache writes temp FILES per decode; the
    // registry tweak is global + idempotent, done once per executor JVM
    private lazy val noDiskCache: Unit = javax.imageio.ImageIO.setUseCache(false)

    /** Header-only decode: the true (width, height) of any payload a JDK
      * ImageIO reader recognises. `reader.getWidth(0)` parses the header
      * (IHDR / SOF / logical screen descriptor) without decoding pixels —
      * constant work per blob regardless of image size. None when no
      * reader claims the payload.
      */
    def decodeDims(payload: Array[Byte]): Option[(Int, Int)] = {
      noDiskCache
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis, true, true)
            Some((r.getWidth(0), r.getHeight(0)))
          } catch {
            // a reader may CLAIM a malformed payload and then blow up
            // parsing it (runtime exceptions included) — any such blob
            // degrades to the stub fallback instead of killing the task
            case scala.util.control.NonFatal(_) => None
          }
          finally r.dispose()
        }
      } finally iis.close()
    }

    /** Deterministic PNG of the given dimensions (seeded corner pixel) —
      * the executor-side encode path for fixtures and the q43
      * encode→decode roundtrip oracle.
      */
    def encodePng(width: Int, height: Int, seed: Long): Array[Byte] = {
      noDiskCache
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, (seed & 0xFFFFFFL).toInt)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** Solid-fill PNG with the top-left pixel channel-inverted (the
      * [[VideoCodec.encodeAviFrames]] convention): a decoder must read
      * actual pixels — not the header, not one sample — to get the
      * channel sums right. PNG is lossless and TYPE_INT_RGB exact, so
      * the roundtrip is bit-deterministic.
      */
    def encodePngFill(width: Int, height: Int, r: Int, g: Int,
                      b: Int): Array[Byte] = {
      noDiskCache
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (r << 16) | (g << 8) | b
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      img.setRGB(0, 0, ((255 - r) << 16) | ((255 - g) << 8) | (255 - b))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** FULL pixel decode via the JDK's real codecs (PNG inflate, JPEG
      * IDCT, GIF LZW — whatever reader claims the payload): per-channel
      * sums over every pixel in exact Longs, the image analog of
      * [[AudioCodec.decode]]'s sample walk and
      * [[VideoCodec.decodeFrames]]'s row walk. None when no reader
      * claims the payload or decoding fails — the stub fallback path.
      */
    def decodePixels(payload: Array[Byte]): Option[(Int, Int, Long, Long, Long)] = {
      noDiskCache
      try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        if (img == null) None
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          var r = 0L; var g = 0L; var b = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = img.getRGB(x, y)
              r += (p >> 16) & 0xFF; g += (p >> 8) & 0xFF; b += p & 0xFF
              x += 1
            }
            y += 1
          }
          Some((w, h, r, g, b))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Bit-grid PNG for the perceptual-hash gates: an 8s×8s image whose
      * 8×8 cell (i, j) is a solid white/black fill by bit 8i+j of
      * `bits` — constructed so [[averageHash64]] of the image IS `bits`
      * back (for any popcount < 64), making near-dup pairs pure id
      * arithmetic in the q152/q153 oracles. PNG is lossless, so the
      * roundtrip is exact at every scale.
      */
    def encodePngBits(scale: Int, bits: Long): Array[Byte] = {
      noDiskCache
      require(scale >= 1, s"scale must be >= 1, got $scale")
      val wh = 8 * scale
      val img = new java.awt.image.BufferedImage(
        wh, wh, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < wh) {
        var x = 0
        while (x < wh) {
          val cell = 8 * (y / scale) + (x / scale)
          img.setRGB(x, y, if (((bits >>> cell) & 1L) == 1L) 0xFFFFFF else 0)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** 64-bit average-hash (aHash) — the standard perceptual near-dup
      * signature: partition the decoded image into the 8×8 perceptual
      * grid (integer cell bounds `⌊k·dim/8⌋`, so any geometry ≥ 8×8
      * works and equal-content images at different scales hash alike),
      * sum per-cell luma (r+g+b — no weights, no division), and set
      * bit 8·row+col iff the cell's mean EXCEEDS the global mean. The
      * compare cross-multiplies in exact Longs (cellSum·totalN >
      * totalSum·cellN) — no double quotient, so every engine and every
      * pixel order agrees bit-for-bit; the products stay inside a Long
      * for images up to 8K². None for non-images, failed decodes, or
      * images under 8×8 (empty cells have no mean).
      */
    def averageHash64(payload: Array[Byte]): Option[Long] = {
      noDiskCache
      try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        if (img == null || img.getWidth < 8 || img.getHeight < 8) None
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          val sums = new Array[Long](64)
          val counts = new Array[Long](64)
          var y = 0
          while (y < h) {
            val row = y * 8 / h
            var x = 0
            while (x < w) {
              val p = img.getRGB(x, y)
              val luma = ((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)
              val cell = 8 * row + x * 8 / w
              sums(cell) += luma
              counts(cell) += 1
              x += 1
            }
            y += 1
          }
          var totalSum = 0L
          var k = 0
          while (k < 64) { totalSum += sums(k); k += 1 }
          val totalN = w.toLong * h
          var hash = 0L
          k = 0
          while (k < 64) {
            if (sums(k) * totalN > totalSum * counts(k)) hash |= 1L << k
            k += 1
          }
          Some(hash)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Real audio codec on the JDK's `javax.sound.sampled` — WAV/AIFF/AU
    * ship with every JVM, no external libraries (the audio analog of
    * [[ImageCodec]]; [[VideoCodec]] covers AVI containers, so only
    * proprietary formats remain on the stub).
    */
  object AudioCodec {
    case class AudioMeta(sampleRate: Int, channels: Int, bits: Int,
                         nSamples: Long)

    /** Header probe + full PCM decode → (meta, RMS amplitude of the
      * 16-bit signed samples, all channels interleaved). Handles BOTH
      * byte orders — WAV is little-endian but AIFF/AU PCM is big-endian,
      * and rejecting `isBigEndian` would silently stub two of the three
      * formats the JDK reads. None when no JDK reader claims the
      * payload (images, video, garbage) or the PCM is not 16-bit — the
      * caller falls back to the stub, exactly like
      * [[ImageCodec.decodeDims]]. `nSamples` counts FRAMES derived from
      * the DECODED byte length (bytes / (2·channels)), never the
      * header's claim, so the meta and the RMS always describe the same
      * data even for truncated containers; RMS is sqrt(Σs²/n) over the
      * interleaved samples with the sum in exact Longs, so two engines
      * looking at the same samples agree bit-for-bit on the double.
      */
    def decode(payload: Array[Byte]): Option[(AudioMeta, Double)] = {
      val in = new java.io.ByteArrayInputStream(payload)
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(in)
        try {
          val f = ais.getFormat
          if (f.getSampleSizeInBits != 16 || f.getChannels < 1) None
          else {
            val big = f.isBigEndian
            val bytes = ais.readAllBytes()
            val n = bytes.length / 2 // interleaved 16-bit samples
            var i = 0
            var ss = 0L // Σs²: n ≤ 2^31 16-bit samples fits comfortably
            while (i < n) {
              val (hi, lo) = if (big) (bytes(2 * i), bytes(2 * i + 1))
                             else (bytes(2 * i + 1), bytes(2 * i))
              val s = ((hi << 8) | (lo & 0xFF)).toShort
              ss += s.toLong * s
              i += 1
            }
            val rms = if (n == 0) 0.0
              else BigDecimal(math.sqrt(ss.toDouble / n))
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            Some((AudioMeta(f.getSampleRate.toInt, f.getChannels,
              f.getSampleSizeInBits, (n / f.getChannels).toLong), rms))
          }
        } finally ais.close()
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => None
        case scala.util.control.NonFatal(_) => None
      }
    }

    /** Deterministic mono 16-bit 8 kHz WAV: `nSamples` samples of the
      * seeded ramp `s_i = ((seed + i) mod 17 − 8) · 1000` — arithmetic
      * simple enough that an oracle recomputes the RMS from the seed
      * alone (the audio analog of [[ImageCodec.encodePng]]'s
      * id-derived dimensions).
      */
    def encodeWav(nSamples: Int, seed: Long): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
        true /*signed*/, false /*little-endian*/)
      val pcm = new Array[Byte](nSamples * 2)
      var i = 0
      while (i < nSamples) {
        val s = ((java.lang.Math.floorMod(seed + i, 17L) - 8) * 1000).toShort
        pcm(2 * i) = (s & 0xFF).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
        i += 1
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** 64-bit energy hash — the audio analog of
      * [[ImageCodec.averageHash64]]: partition the interleaved sample
      * stream into 64 windows (integer bounds `⌊k·n/64⌋`, so any
      * duration works and equal energy PATTERNS at different lengths
      * hash alike), sum per-window energy Σs², and set bit k iff the
      * window's mean energy EXCEEDS the global mean. The compare
      * cross-multiplies in BigInt (window energies reach 2⁶¹ on long
      * audio, past what a Long product holds) — exact, so the hash is
      * bit-deterministic on any engine. The standard loudness-envelope
      * near-dup signature: re-encoded or resampled copies of the same
      * material keep their energy shape. None for non-audio, non-16-bit
      * PCM, or streams under 64 samples (empty windows have no mean).
      */
    def energyHash64(payload: Array[Byte]): Option[Long] = {
      val in = new java.io.ByteArrayInputStream(payload)
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(in)
        try {
          val f = ais.getFormat
          if (f.getSampleSizeInBits != 16 || f.getChannels < 1) None
          else {
            val big = f.isBigEndian
            val bytes = ais.readAllBytes()
            val n = bytes.length / 2
            if (n < 64) None
            else {
              val sums = new Array[Long](64)
              val counts = new Array[Long](64)
              var i = 0
              while (i < n) {
                val (hi, lo) = if (big) (bytes(2 * i), bytes(2 * i + 1))
                               else (bytes(2 * i + 1), bytes(2 * i))
                val s = ((hi << 8) | (lo & 0xFF)).toShort
                val w = (i.toLong * 64 / n).toInt
                sums(w) += s.toLong * s
                counts(w) += 1
                i += 1
              }
              var total = BigInt(0)
              var k = 0
              while (k < 64) { total += sums(k); k += 1 }
              val totalN = BigInt(n)
              var hash = 0L
              k = 0
              while (k < 64) {
                if (BigInt(sums(k)) * totalN > total * counts(k))
                  hash |= 1L << k
                k += 1
              }
              Some(hash)
            }
          }
        } finally ais.close()
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => None
        case scala.util.control.NonFatal(_) => None
      }
    }

    /** Bit-pattern WAV for the perceptual-hash gates: 64 windows of
      * `samplesPerWindow` mono 16-bit samples, window k a constant
      * ±16384 tone if bit k of `bits` is set and silence otherwise —
      * constructed so [[energyHash64]] of the stream is `bits` back
      * (for any popcount < 64): a loud window's energy exceeds the
      * global mean exactly when any silent window exists, and silence
      * can never exceed a positive mean. The audio face of
      * [[ImageCodec.encodePngBits]]; WAV PCM is lossless, so the
      * roundtrip is exact at every window width.
      */
    def encodeWavBits(samplesPerWindow: Int, bits: Long): Array[Byte] = {
      require(samplesPerWindow >= 1,
        s"samplesPerWindow must be >= 1, got $samplesPerWindow")
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val nSamples = 64 * samplesPerWindow
      val pcm = new Array[Byte](nSamples * 2)
      var i = 0
      while (i < nSamples) {
        val bit = (bits >>> (i / samplesPerWindow)) & 1L
        val s: Short = if (bit == 1L) 16384 else 0
        pcm(2 * i) = (s & 0xFF).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
        i += 1
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
  }

  object VideoCodec {
    case class VideoMeta(width: Int, height: Int, nFrames: Long,
                         microsPerFrame: Long)

    private def u32(b: Array[Byte], off: Int): Long =
      (b(off) & 0xFFL) | (b(off + 1) & 0xFFL) << 8 |
        (b(off + 2) & 0xFFL) << 16 | (b(off + 3) & 0xFFL) << 24
    private def cc(b: Array[Byte], off: Int): String =
      new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** REAL RIFF/AVI container parse — the video analog of
      * [[ImageCodec.decodeDims]]'s header-only read: walks the RIFF
      * chunk tree to the `avih` main header and reads the true width /
      * height / frame count / frame interval out of its little-endian
      * fields. The walk descends ONLY into `hdrl` LISTs — the header
      * lives nowhere else in a conforming file, and descending into
      * `movi` would let an avih-shaped run of FRAME DATA masquerade as
      * the header — and skips every other chunk by its declared+padded
      * size. Geometry is validated: a dwWidth/dwHeight of zero or past
      * 2³¹ (a negative after the Int narrowing) marks the payload
      * non-decodable rather than shipping impossible dimensions with
      * `decoded = true`, mirroring how the JDK image/audio parsers
      * reject invalid containers. This is the header-only probe (the
      * image-dims analog); [[decodeFrames]] additionally pixel-decodes
      * uncompressed BI_RGB frames. Corrupt or non-AVI payloads return
      * None and fall back to the stub exactly like the image and audio
      * paths.
      */
    def decodeMeta(payload: Array[Byte]): Option[VideoMeta] = {
      if (payload.length < 12 || cc(payload, 0) != "RIFF" ||
        cc(payload, 8) != "AVI ") None
      else {
        var pos = 12
        while (pos + 8 <= payload.length) {
          val id = cc(payload, pos)
          val size = u32(payload, pos + 4)
          if (id == "LIST" && pos + 12 <= payload.length &&
            cc(payload, pos + 8) == "hdrl") {
            pos += 12 // descend into the header list only
          } else if (id == "avih" && pos + 8 + 56 <= payload.length) {
            val width = u32(payload, pos + 8 + 32)
            val height = u32(payload, pos + 8 + 36)
            return if (width < 1 || width > Int.MaxValue ||
              height < 1 || height > Int.MaxValue) None
            else Some(VideoMeta(width.toInt, height.toInt,
              nFrames = u32(payload, pos + 8 + 16),
              microsPerFrame = u32(payload, pos + 8)))
          } else {
            val skip = size + (size & 1L) // RIFF chunks pad to even
            if (skip > payload.length) return None // corrupt size field
            pos += 8 + skip.toInt
          }
        }
        None
      }
    }

    /** Structurally valid minimal AVI: RIFF header, LIST hdrl with a
      * real 56-byte `avih` main header, empty LIST movi — 100 bytes
      * total, every size field correct, so ANY conforming RIFF parser
      * (not just ours) reads the same meta back out.
      */
    def encodeAvi(width: Int, height: Int, nFrames: Int,
                  microsPerFrame: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(100)
      def w32(v: Long): Unit = {
        bos.write((v & 0xFF).toInt); bos.write(((v >> 8) & 0xFF).toInt)
        bos.write(((v >> 16) & 0xFF).toInt); bos.write(((v >> 24) & 0xFF).toInt)
      }
      def tag(s: String): Unit =
        bos.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      tag("RIFF"); w32(92); tag("AVI ")
      tag("LIST"); w32(68); tag("hdrl")
      tag("avih"); w32(56)
      w32(microsPerFrame); w32(0); w32(0); w32(0)
      w32(nFrames); w32(0); w32(1); w32(0)
      w32(width); w32(height); w32(0); w32(0); w32(0); w32(0)
      tag("LIST"); w32(4); tag("movi")
      bos.toByteArray
    }

    /** Per-frame channel sums from a REAL pixel decode. `idx` is the
      * frame's position in the `movi` stream; the sums are exact Longs
      * over every pixel's 8-bit channel (bounded: 255·w·h ≤ 2⁴⁰ even at
      * 8K), so any engine reading the same bytes agrees bit-for-bit.
      */
    case class FrameStats(idx: Int, rSum: Long, gSum: Long, bSum: Long)

    /** Full AVI decode: container walk PLUS uncompressed-DIB frame
      * PIXEL decode — pure JDK, no codec libraries, which is exactly
      * why the supported pixel format is BI_RGB 24-bit (the one format
      * whose "decode" is a defined byte layout rather than a codec):
      * `strf` must carry a BITMAPINFOHEADER with biCompression=0 and
      * biBitCount=24, and each `00db`/`00dc` chunk must be exactly
      * `h` bottom-up rows of BGR triplets padded to 4-byte row
      * boundaries (the padding bytes are skipped — a decoder that
      * naively averages the whole chunk gets different sums, which the
      * q142 oracle would catch). MJPEG streams (biCompression 'MJPG')
      * pixel-decode too: each movi chunk is a complete baseline JPEG,
      * read through the JDK's ImageIO (q150). Other compressions,
      * other bit depths, or size-inconsistent frames return None and
      * the caller falls back to the header-only [[decodeMeta]] / stub
      * path, mirroring how the JDK image/audio parsers reject what
      * they can't decode.
      */
    def decodeFrames(payload: Array[Byte]): Option[(VideoMeta, Vector[FrameStats])] = {
      if (payload.length < 12 || cc(payload, 0) != "RIFF" ||
        cc(payload, 8) != "AVI ") return None
      var meta: Option[VideoMeta] = None
      var bmp: Option[(Int, Int, Int, Long)] = None // w, h, bitCount, compression
      val frames = Vector.newBuilder[FrameStats]
      var nf = 0
      def walk(start: Int, end: Int): Boolean = { // false ⇒ corrupt
        var pos = start
        while (pos + 8 <= end) {
          val id = cc(payload, pos)
          val size = u32(payload, pos + 4)
          val dataStart = pos + 8
          if (dataStart + size > end) return false
          val dataEnd = (dataStart + size).toInt
          if (id == "LIST" && size >= 4) {
            val ltype = cc(payload, dataStart)
            // descend only into the lists that can hold headers/frames
            if (ltype == "hdrl" || ltype == "strl" || ltype == "movi") {
              if (!walk(dataStart + 4, dataEnd)) return false
            }
          } else if (id == "avih" && size >= 56) {
            val width = u32(payload, dataStart + 32)
            val height = u32(payload, dataStart + 36)
            if (width < 1 || width > Int.MaxValue ||
              height < 1 || height > Int.MaxValue) return false
            meta = Some(VideoMeta(width.toInt, height.toInt,
              nFrames = u32(payload, dataStart + 16),
              microsPerFrame = u32(payload, dataStart)))
          } else if (id == "strf" && size >= 40) {
            bmp = Some((u32(payload, dataStart + 4).toInt,
              u32(payload, dataStart + 8).toInt,
              (payload(dataStart + 14) & 0xFF) |
                ((payload(dataStart + 15) & 0xFF) << 8),
              u32(payload, dataStart + 16)))
          } else if (id == "00db" || id == "00dc") {
            bmp match {
              case Some((w, h, _, 0x47504A4DL)) if w > 0 && h > 0 =>
                // MJPEG ('MJPG' biCompression): each movi chunk is a
                // complete baseline JPEG — decoded through the JDK's own
                // ImageIO reader (pure JDK, no codec libraries), which
                // makes MJPEG the second REAL frame decode next to
                // BI_RGB. Reader failure or a geometry mismatch against
                // the stream header rejects the payload (the caller
                // falls back to the header-only/stub path) rather than
                // shipping wrong sums as decoded=true.
                val img =
                  try javax.imageio.ImageIO.read(
                    new java.io.ByteArrayInputStream(payload, dataStart,
                      size.toInt))
                  catch { case _: Throwable => null }
                if (img == null || img.getWidth != w || img.getHeight != h)
                  return false
                var r = 0L; var g = 0L; var b = 0L
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) {
                    val px = img.getRGB(x, y)
                    r += (px >> 16) & 0xFF
                    g += (px >> 8) & 0xFF
                    b += px & 0xFF
                    x += 1
                  }
                  y += 1
                }
                frames += FrameStats(nf, r, g, b)
                nf += 1
              case Some((w, h, 24, 0L)) if w > 0 && h > 0 =>
                val rowBytes = (3 * w + 3) & ~3
                if (size != rowBytes.toLong * h) return false
                var r = 0L; var g = 0L; var b = 0L
                var y = 0
                while (y < h) {
                  val ro = dataStart + y * rowBytes
                  var x = 0
                  while (x < w) {
                    b += payload(ro + 3 * x) & 0xFF
                    g += payload(ro + 3 * x + 1) & 0xFF
                    r += payload(ro + 3 * x + 2) & 0xFF
                    x += 1
                  }
                  y += 1
                }
                frames += FrameStats(nf, r, g, b)
                nf += 1
              case _ => return false // not BI_RGB-24: no pixel decode
            }
          }
          pos = dataStart + (size + (size & 1L)).toInt
        }
        true
      }
      if (!walk(12, payload.length)) None
      else meta.map(m => (m, frames.result()))
    }

    /** Conforming AVI WITH uncompressed frames: full `hdrl` (avih +
      * one `vids`/`DIB ` stream with a real BITMAPINFOHEADER) and a
      * `movi` LIST of `00db` chunks holding bottom-up padded BGR rows.
      * Frame f is a solid `frameColors(f)` fill EXCEPT the first
      * stored pixel, whose channels are inverted (255−c) — so a
      * decoder must walk actual pixels (and skip row padding) to get
      * the sums right; a header-only or solid-color shortcut produces
      * different numbers.
      */
    def encodeAviFrames(width: Int, height: Int, microsPerFrame: Int,
                        frameColors: Seq[(Int, Int, Int)]): Array[Byte] = {
      val rowBytes = (3 * width + 3) & ~3
      val frameBytes = rowBytes * height
      val nFrames = frameColors.size
      val strlContent = 4 + (8 + 56) + (8 + 40)            // 'strl' + strh + strf
      val hdrlContent = 4 + (8 + 56) + (8 + strlContent)   // 'hdrl' + avih + LIST strl
      val moviContent = 4 + nFrames * (8 + frameBytes)     // frames are 4-aligned
      val riffSize = 4 + (8 + hdrlContent) + (8 + moviContent)
      val bos = new java.io.ByteArrayOutputStream(8 + riffSize)
      def w32(v: Long): Unit = {
        bos.write((v & 0xFF).toInt); bos.write(((v >> 8) & 0xFF).toInt)
        bos.write(((v >> 16) & 0xFF).toInt); bos.write(((v >> 24) & 0xFF).toInt)
      }
      def w16(v: Int): Unit = { bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF) }
      def tag(s: String): Unit =
        bos.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      tag("RIFF"); w32(riffSize); tag("AVI ")
      tag("LIST"); w32(hdrlContent); tag("hdrl")
      tag("avih"); w32(56)
      w32(microsPerFrame); w32(0); w32(0); w32(0)
      w32(nFrames); w32(0); w32(1); w32(0)
      w32(width); w32(height); w32(0); w32(0); w32(0); w32(0)
      tag("LIST"); w32(strlContent); tag("strl")
      tag("strh"); w32(56)
      tag("vids"); tag("DIB "); w32(0); w32(0); w32(0)
      w32(1); w32(1000000L / math.max(1, microsPerFrame)) // scale, rate
      w32(0); w32(nFrames); w32(frameBytes); w32(0xFFFFFFFFL) // bufSize, quality
      w32(0); w32(0); w32(0) // sampleSize, rcFrame (4 × 16-bit = 8 bytes)
      tag("strf"); w32(40)
      w32(40); w32(width); w32(height); w16(1); w16(24)
      w32(0) /* BI_RGB */; w32(frameBytes); w32(0); w32(0); w32(0); w32(0)
      tag("LIST"); w32(moviContent); tag("movi")
      frameColors.foreach { case (r, g, b) =>
        tag("00db"); w32(frameBytes)
        val row = new Array[Byte](rowBytes)
        var x = 0
        while (x < width) {
          row(3 * x) = b.toByte; row(3 * x + 1) = g.toByte
          row(3 * x + 2) = r.toByte; x += 1
        }
        var y = 0
        while (y < height) {
          if (y == 0) { // invert the first stored pixel, restore after
            val inv = row.clone()
            inv(0) = (255 - b).toByte; inv(1) = (255 - g).toByte
            inv(2) = (255 - r).toByte
            bos.write(inv)
          } else bos.write(row)
          y += 1
        }
      }
      bos.toByteArray
    }

    /** One baseline JPEG of a gray (R=G=B) `body` fill with a distinct
      * gray 8×8 top-left `patch`, written by the JDK's ImageIO at
      * quality 1.0 (all-ones quantization tables). EXACTNESS ARGUMENT
      * (pinned empirically in MediaSpec): grayscale keeps the chroma
      * planes constant at 128 (immune to subsampling), the 8-aligned
      * geometry keeps every luma block CONSTANT, and a constant block
      * carries only a DC coefficient — integer, quantized by 1, so the
      * DCT→quant→IDCT round trip reproduces each pixel exactly and the
      * decoded channel sums are id-arithmetic, not merely approximate.
      */
    private[multimodal] def encodeJpegGray(width: Int, height: Int,
                                           patch: Int, body: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(width, height,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val g = if (x < 8 && y < 8) patch else body
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      val writer =
        javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val params = writer.getDefaultWriteParam
      params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(1.0f)
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
      } finally { writer.dispose(); ios.close() }
      bos.toByteArray
    }

    /** Conforming MJPEG AVI: the [[encodeAviFrames]] container skeleton
      * with an `MJPG` stream (biCompression = 'MJPG') whose `00dc`
      * chunks each hold a complete [[encodeJpegGray]] baseline JPEG.
      * Frame f is a gray `grays(f)._2` fill with a gray `grays(f)._1`
      * 8×8 top-left patch, so the per-channel sum is exactly
      * 64·patch + (w·h−64)·body — a header-only or solid-color
      * shortcut gets different numbers, and ONLY a real per-frame JPEG
      * decode reproduces them. Width/height must be multiples of 8
      * (block-grid alignment is what makes the fixture exact — a
      * straddling patch would smear through the DCT).
      */
    def encodeAviMjpeg(width: Int, height: Int, microsPerFrame: Int,
                       grays: Seq[(Int, Int)]): Array[Byte] = {
      require(width % 8 == 0 && height % 8 == 0,
        s"MJPEG fixture geometry must align to the 8x8 grid, got ${width}x$height")
      val jpegs = grays.map { case (u, v) => encodeJpegGray(width, height, u, v) }
      val nFrames = jpegs.size
      val strlContent = 4 + (8 + 56) + (8 + 40)
      val hdrlContent = 4 + (8 + 56) + (8 + strlContent)
      val moviContent = 4 + jpegs.map(j => 8 + j.length + (j.length & 1)).sum
      val riffSize = 4 + (8 + hdrlContent) + (8 + moviContent)
      val bos = new java.io.ByteArrayOutputStream(8 + riffSize)
      def w32(v: Long): Unit = {
        bos.write((v & 0xFF).toInt); bos.write(((v >> 8) & 0xFF).toInt)
        bos.write(((v >> 16) & 0xFF).toInt); bos.write(((v >> 24) & 0xFF).toInt)
      }
      def w16(v: Int): Unit = { bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF) }
      def tag(s: String): Unit =
        bos.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      tag("RIFF"); w32(riffSize); tag("AVI ")
      tag("LIST"); w32(hdrlContent); tag("hdrl")
      tag("avih"); w32(56)
      w32(microsPerFrame); w32(0); w32(0); w32(0)
      w32(nFrames); w32(0); w32(1); w32(0)
      w32(width); w32(height); w32(0); w32(0); w32(0); w32(0)
      tag("LIST"); w32(strlContent); tag("strl")
      tag("strh"); w32(56)
      tag("vids"); tag("MJPG"); w32(0); w32(0); w32(0)
      w32(1); w32(1000000L / math.max(1, microsPerFrame))
      w32(0); w32(nFrames); w32(jpegs.map(_.length).max.toLong); w32(0xFFFFFFFFL)
      w32(0); w32(0); w32(0)
      tag("strf"); w32(40)
      w32(40); w32(width); w32(height); w16(1); w16(24)
      w32(0x47504A4DL) /* 'MJPG' */; w32(0); w32(0); w32(0); w32(0); w32(0)
      tag("LIST"); w32(moviContent); tag("movi")
      jpegs.foreach { j =>
        tag("00dc"); w32(j.length)
        bos.write(j)
        if ((j.length & 1) == 1) bos.write(0) // RIFF even padding
      }
      bos.toByteArray
    }
  }

  case class VideoFeatures(media_id: Long, n_bytes: Long, width: Int,
                           height: Int, n_frames: Long, duration_ms: Long,
                           decoded: Boolean)

  /** Deterministic video table over an id column — one minimal AVI per
    * id with id-derived geometry ([[imageTable]]'s convention), so the
    * RIFF parse is oracle-gated end-to-end: width, height, frame count,
    * and duration are all SQL-expressible from the ids alone.
    */
  def videoTable(spark: SparkSession, ids: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          MediaRow(id, "avi", VideoCodec.encodeAvi(
            160 + java.lang.Math.floorMod(id, 160L).toInt,
            90 + java.lang.Math.floorMod(id, 90L).toInt,
            1 + java.lang.Math.floorMod(id, 250L).toInt,
            microsPerFrame = 40000))
        }
      }.toDF()
  }

  /** Batched video container decode → features: REAL RIFF/AVI header
    * parse (`decoded = true`, true geometry / frame count / duration),
    * zeroed stub row for payloads that aren't AVI. `duration_ms` is
    * exact integer arithmetic (frames × µs-per-frame ÷ 1000).
    */
  def extractVideoFeatures(spark: SparkSession,
                           media: DataFrame): Dataset[VideoFeatures] = {
    import spark.implicits._
    media.select(col("media_id"), col("format"), col("payload")).as[MediaRow]
      .mapPartitions { it =>
        it.map { m =>
          VideoCodec.decodeMeta(m.payload) match {
            case Some(meta) =>
              VideoFeatures(m.media_id, m.payload.length.toLong,
                meta.width, meta.height, meta.nFrames,
                meta.nFrames * meta.microsPerFrame / 1000L,
                decoded = true)
            case None =>
              VideoFeatures(m.media_id, m.payload.length.toLong,
                0, 0, 0L, 0L, decoded = false)
          }
        }
      }
  }

  case class ImagePixelFeatures(media_id: Long, width: Int, height: Int,
                                r_sum: Long, g_sum: Long, b_sum: Long,
                                decoded: Boolean)

  /** Deterministic pixel-bearing image table: one solid-fill PNG per id
    * with id-derived geometry and color (inverted top-left pixel), so
    * per-channel sums are SQL-expressible from the ids — the q142 video
    * gate design applied to images.
    */
  def imagePixelTable(spark: SparkSession, ids: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          def m(x: Long, n: Long) = java.lang.Math.floorMod(x, n).toInt
          MediaRow(id, "png", ImageCodec.encodePngFill(
            8 + m(id, 8), 6 + m(id, 6),
            m(5 * id + 11, 256), m(7 * id + 3, 256), m(11 * id + 7, 256)))
        }
      }.toDF()
  }

  /** Batched image PIXEL decode → per-channel sums: the JDK's real
    * codec path end to end (`decoded = true`), zeroed stub row when no
    * reader claims the payload.
    */
  def extractImagePixels(spark: SparkSession,
                         media: DataFrame): Dataset[ImagePixelFeatures] = {
    import spark.implicits._
    media.select(col("media_id"), col("format"), col("payload")).as[MediaRow]
      .mapPartitions { it =>
        it.map { m =>
          ImageCodec.decodePixels(m.payload) match {
            case Some((w, h, r, g, b)) =>
              ImagePixelFeatures(m.media_id, w, h, r, g, b, decoded = true)
            case None =>
              ImagePixelFeatures(m.media_id, 0, 0, 0L, 0L, 0L,
                decoded = false)
          }
        }
      }
  }

  case class VideoFrameFeatures(media_id: Long, width: Int, height: Int,
                                n_frames: Long, r_sum: Long, g_sum: Long,
                                b_sum: Long, decoded: Boolean)

  /** Deterministic frame-bearing video table: one BI_RGB AVI per id,
    * small id-derived geometry and 1-4 frames whose fill colors are
    * modular functions of (id, frame) — so per-channel pixel sums are
    * SQL-expressible from the ids alone and the q142 gate proves the
    * PIXEL decode (the q124 audio-RMS move applied to video).
    */
  def videoFrameTable(spark: SparkSession, ids: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          def m(x: Long, n: Long) = java.lang.Math.floorMod(x, n).toInt
          val nf = 1 + m(id, 4)
          val colors = (0 until nf).map { f =>
            (m(7 * id + 13 * f, 256), m(11 * id + 17 * f, 256),
              m(3 * id + 19 * f, 256))
          }
          MediaRow(id, "avi", VideoCodec.encodeAviFrames(
            8 + m(id, 8), 6 + m(id, 6), 40000, colors))
        }
      }.toDF()
  }

  /** Deterministic MJPEG video table: one MJPEG AVI per id — 8-aligned
    * id-derived geometry, 1-3 JPEG frames each a gray fill with a
    * distinct gray 8×8 patch ([[VideoCodec.encodeAviMjpeg]]'s exactness
    * fixture) — so every channel sum is id-arithmetic
    * (Σ_f 64·u_f + (w·h−64)·v_f) and the q150 gate proves the
    * per-frame JPEG decode, the q142 move for the compressed-frame
    * path.
    */
  def videoMjpegTable(spark: SparkSession, ids: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          def m(x: Long, n: Long) = java.lang.Math.floorMod(x, n).toInt
          val nf = 1 + m(id, 3)
          val grays = (0 until nf).map { f =>
            (m(7 * id + 13 * f, 256), m(11 * id + 5 * f, 256))
          }
          MediaRow(id, "avi", VideoCodec.encodeAviMjpeg(
            16 + 8 * m(id, 3), 8 + 8 * m(id, 2), 40000, grays))
        }
      }.toDF()
  }

  /** Deterministic image table for the perceptual-hash gates: one
    * bit-grid PNG per id at an id-derived scale
    * ([[ImageCodec.encodePngBits]]), each image hashing to a FIXED
    * BIT-PERMUTATION of its id (bit k → bit 5k mod 64). The
    * permutation spreads small ids' low bits across all four 16-bit
    * blocking chunks — without it every high chunk would be zero and
    * the banded join would degenerate into one universal hot bucket —
    * while leaving the oracle untouched: permuting positions commutes
    * with xor, so hamming(π(a), π(b)) = popcount(a xor b) and the
    * q152/q153 pair surface stays pure id arithmetic. The varying
    * scale pins scale-invariance: equal patterns hash alike at
    * s = 1, 2, 3.
    */
  def imageHashTable(spark: SparkSession, ids: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    // spread the id scan (guide §2.2): the per-row PNG encode below and
    // the decode+hash downstream both run on these partitions — one
    // task end-to-end on a single-file input; identity at scale
    graft.engine.Layout.spreadForCompute(
        ids.select(col(idCol).cast("long"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          MediaRow(id, "png", ImageCodec.encodePngBits(
            1 + java.lang.Math.floorMod(id, 3L).toInt, spreadBits(id)))
        }
      }.toDF()
  }

  case class ImageHash(media_id: Long, phash: Long)

  /** Batched perceptual hashing through any 64-bit signature codec:
    * undecodable payloads drop (near-dup semantics exclude what has no
    * signature, the zero-vector convention of
    * [[graft.vector.Similarity]]).
    */
  private def perceptualHashes(spark: SparkSession, media: DataFrame,
                               hash: Array[Byte] => Option[Long]): Dataset[ImageHash] = {
    import spark.implicits._
    // no spread HERE: the hashTable generators already spread their id
    // scan (so encode + this decode share those partitions), and
    // spreadForCompute on a frame that already carries that exchange
    // would execute the upstream stage eagerly at plan time under AQE
    // — measured as a ~2× regression on the audio pair queries
    media.select(col("media_id"), col("format"), col("payload")).as[MediaRow]
      .mapPartitions(_.flatMap(m => hash(m.payload).map(ImageHash(m.media_id, _))))
  }

  /** [[ImageCodec.averageHash64]] per payload in executors. */
  def imageHashes(spark: SparkSession, media: DataFrame): Dataset[ImageHash] =
    perceptualHashes(spark, media, ImageCodec.averageHash64)

  /** Shared exact-pair engine over any (media_id, phash) signature
    * frame: every (a < b) with hamming <= maxDist. All-pairs BY DESIGN
    * (the oracle twin), guarded like
    * [[graft.vector.Similarity.embedNearDup]] — refuses past `maxExact`
    * rows instead of launching a corpus² product.
    */
  private def hammingExactPairs(hashes0: DataFrame, maxDist: Int,
                                maxExact: Long, opName: String,
                                alt: String): DataFrame = {
    val hashes = graft.engine.Caches.persisted(s"$opName.hashes", hashes0)
    val n = hashes.count() // materializes the reused hashes too
    if (n > maxExact) {
      hashes.unpersist()
      throw new IllegalArgumentException(
        s"$opName: $n signatures is ${n * (n - 1) / 2} pairs " +
          s"(maxExact=$maxExact); use $alt")
    }
    hashes.as("a").join(hashes.as("b"),
        col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash")))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** Chunk a 64-bit signature frame into its four 16-bit blocking keys
    * and apply the hot-chunk refusal — ONE definition shared by the
    * symmetric and incremental banded joins so the guard semantics
    * cannot desync. Returns the persisted chunk relation (self-joined
    * downstream: hash each payload once, not twice; tracked in
    * [[graft.engine.Caches]] — caller releases via releaseAll).
    *
    * Hot-chunk guard (the knnGraphBucketed posture): a degenerate
    * signature distribution — a corpus of solid-color images or silent
    * audio all hashing to the same value — turns one (chunk, value)
    * bucket into k² candidate pairs. Past `maxChunkBucket` hashes in
    * one bucket the operator REFUSES with the offender named (capping
    * would silently break the pigeonhole completeness claim; a corpus
    * that hot is telling you its near-dup OUTPUT is quadratic, which
    * wants exact-group dedup first, not a bigger pair join). The count
    * runs off the already-persisted chunk frame — one cheap aggregate.
    * `scope`: for the incremental join, only buckets the BATCH touches
    * can blow up (candidates = newInBucket × bucketSize), so the guard
    * restricts to the scoped (chunk, ck) keys — a hot standing-corpus
    * bucket the batch never probes must not wedge every append.
    */
  private def chunkAndGuard(hashes: DataFrame, maxChunkBucket: Long,
                            opName: String,
                            scope: Option[DataFrame] = None): DataFrame = {
    val chunked = chunkSignaturesPersisted(hashes)
    refuseHotBuckets(chunked, maxChunkBucket, opName, scope)
    chunked
  }

  private[graft] def chunkSignatures(hashes: DataFrame): DataFrame = hashes
    .select(col("media_id"), col("phash"), explode(array(
      (0 until 4).map(j => struct(lit(j).as("chunk"),
        shiftright(col("phash"), 16 * j).bitwiseAND(lit(0xFFFFL))
          .as("ck"))): _*)).as("c"))
    .select(col("media_id"), col("phash"),
      col("c.chunk").as("chunk"), col("c.ck").as("ck"))

  private def chunkSignaturesPersisted(hashes: DataFrame): DataFrame =
    graft.engine.Caches.persisted("media.chunks", chunkSignatures(hashes))

  private def refuseHotBuckets(chunked: DataFrame, maxChunkBucket: Long,
                               opName: String,
                               scope: Option[DataFrame]): Unit = {
    val counts = chunked.groupBy(col("chunk"), col("ck"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > maxChunkBucket)
    val hot = scope.fold(counts)(s =>
        counts.join(s.select("chunk", "ck").distinct(), Seq("chunk", "ck")))
      .orderBy(col("n").desc).limit(1).collect()
    if (hot.nonEmpty) {
      val r = hot.head
      chunked.unpersist()
      throw new IllegalArgumentException(
        s"$opName: chunk ${r.getInt(0)} value ${r.getLong(1)} holds " +
          s"${r.getLong(2)} signatures (maxChunkBucket=$maxChunkBucket) " +
          "— a bucket that hot is a quadratic near-dup group; run exact " +
          "dedup on it first or raise the bound deliberately")
    }
  }

  /** Shared banded-pair engine — the 100 TB path: block the 64-bit
    * hash into four 16-bit chunks; a pair within hamming `maxDist` <= 3
    * differs in at most 3 bits, so by PIGEONHOLE at least one chunk
    * matches exactly — the chunk equi-join loses NOTHING (a provable
    * law, unlike the probabilistic LSH recall premises
    * `oracleMeasuredOn` has to corpus-tie), and the exact hamming
    * verify on candidates makes precision exact. The
    * [[graft.text.Dedup.simhashPairs]] shape for any 64-bit signature.
    * Guard semantics: [[chunkAndGuard]].
    */
  private[graft] def hammingBandedPairs(hashes: DataFrame, maxDist: Int,
                                 maxChunkBucket: Long,
                                 opName: String): DataFrame = {
    require(maxDist <= 3, "chunk blocking is only complete for hamming <= 3")
    val chunked = chunkAndGuard(hashes, maxChunkBucket, opName)
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash")))
          .cast("int").as("hamming"))
      // filter BEFORE distinct: chunk-colliding far pairs (birthday
      // collisions on 16-bit chunks) must die before the dedup shuffle,
      // which then only carries true near-dups
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Banded hamming pairs restricted to >=1 NEW side — the corpus
    * APPEND form of [[hammingBandedPairs]] (the
    * [[graft.text.Dedup.incrementalJaccardPairs]] asymmetry applied to
    * the chunk join): chunk(new) equi-joins chunk(all), so candidate
    * cost scales with the batch's chunk footprint times bucket
    * selectivity while the corpus contributes only its linear chunking
    * pass. Pigeonhole completeness is unchanged — one side of every
    * wanted pair is new, and its matching chunk is in the new-side
    * relation. The hot-chunk refusal measures full bucket sizes but
    * fires only for buckets the BATCH touches (candidates here are
    * newInBucket × bucketSize, so a hot standing-corpus bucket no new
    * signature probes cannot wedge the append). Unordered-normalized
    * pairs, exact verified hamming — identical rows to the symmetric
    * join filtered to >=1 new side, whenever that one runs.
    */
  private[graft] def hammingBandedPairsIncremental(hashes: DataFrame,
                                            newIds: DataFrame, maxDist: Int,
                                            maxChunkBucket: Long,
                                            opName: String): DataFrame = {
    require(maxDist <= 3, "chunk blocking is only complete for hamming <= 3")
    val chunked = chunkSignaturesPersisted(hashes)
    val fresh = newIds.select(
      col(newIds.columns.head).cast("long").as("media_id")).distinct()
    val chunkedNew = chunked.join(broadcast(fresh), Seq("media_id"), "left_semi")
    refuseHotBuckets(chunked, maxChunkBucket, opName, Some(chunkedNew))
    chunkedNew.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
          col("a.media_id") =!= col("b.media_id"))
      .select(least(col("a.media_id"), col("b.media_id")).as("id_a"),
        greatest(col("a.media_id"), col("b.media_id")).as("id_b"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash")))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Incremental (append-time) banded image near-dup pairs — see
    * [[hammingBandedPairsIncremental]]. `newIds`' first column carries
    * the batch's media ids.
    */
  def phashBandedPairsIncremental(spark: SparkSession, media: DataFrame,
                                  newIds: DataFrame, maxDist: Int = 3,
                                  maxChunkBucket: Long = graft.ops.GuardBounds.MaxChunkBucket): DataFrame =
    hammingBandedPairsIncremental(imageHashes(spark, media).toDF(), newIds,
      maxDist, maxChunkBucket, "phashBandedPairsIncremental")

  /** Incremental (append-time) banded audio near-dup pairs. */
  def audioHashBandedPairsIncremental(spark: SparkSession, media: DataFrame,
                                      newIds: DataFrame, maxDist: Int = 3,
                                      maxChunkBucket: Long = graft.ops.GuardBounds.MaxChunkBucket): DataFrame =
    hammingBandedPairsIncremental(audioHashes(spark, media).toDF(), newIds,
      maxDist, maxChunkBucket, "audioHashBandedPairsIncremental")

  /** Exact perceptual image near-dup pairs — the all-pairs oracle twin
    * of [[phashBandedPairs]] over [[imageHashes]].
    */
  def phashExactPairs(spark: SparkSession, media: DataFrame,
                      maxDist: Int = 3, maxExact: Long = graft.ops.GuardBounds.MaxExactPairs): DataFrame =
    hammingExactPairs(imageHashes(spark, media).toDF(), maxDist, maxExact,
      "phashExactPairs", "phashBandedPairs")

  /** Banded perceptual image near-dup pairs over [[imageHashes]] — see
    * [[hammingBandedPairs]] for the pigeonhole completeness argument
    * and the hot-chunk refusal.
    */
  def phashBandedPairs(spark: SparkSession, media: DataFrame,
                       maxDist: Int = 3,
                       maxChunkBucket: Long = graft.ops.GuardBounds.MaxChunkBucket): DataFrame =
    hammingBandedPairs(imageHashes(spark, media).toDF(), maxDist,
      maxChunkBucket, "phashBandedPairs")

  /** Exact perceptual audio near-dup pairs — the all-pairs oracle twin
    * of [[audioHashBandedPairs]] over [[audioHashes]].
    */
  def audioHashExactPairs(spark: SparkSession, media: DataFrame,
                          maxDist: Int = 3,
                          maxExact: Long = graft.ops.GuardBounds.MaxExactPairs): DataFrame =
    hammingExactPairs(audioHashes(spark, media).toDF(), maxDist, maxExact,
      "audioHashExactPairs", "audioHashBandedPairs")

  /** Banded perceptual audio near-dup pairs over [[audioHashes]]. */
  def audioHashBandedPairs(spark: SparkSession, media: DataFrame,
                           maxDist: Int = 3,
                           maxChunkBucket: Long = graft.ops.GuardBounds.MaxChunkBucket): DataFrame =
    hammingBandedPairs(audioHashes(spark, media).toDF(), maxDist,
      maxChunkBucket, "audioHashBandedPairs")

  /** Transitive perceptual dup clusters over the image column: banded
    * hamming pairs → connected components → (media_id, cluster_id,
    * is_canonical) — the image face of
    * [[graft.text.Clusters.dupClusters]], whose min-id-canonical
    * convention it reuses, and the keep/delete list a multimodal
    * curation pipeline actually consumes (pairs alone are not
    * actionable: transitive groups must collapse to ONE kept image).
    * Scale posture inherits both guards (hot-chunk refusal on the pair
    * join, the hybrid driver/star CC dispatch) — nothing here is new
    * plan surface, which is the point.
    */
  def phashClusters(spark: SparkSession, media: DataFrame,
                    maxDist: Int = 3,
                    maxChunkBucket: Long = graft.ops.GuardBounds.MaxChunkBucket): DataFrame = {
    // hash ONCE: the persisted signature frame feeds both the banded
    // pair join and the membership side (decode+hash dominates at
    // scale; a fresh imageHashes lineage would pay it twice). Cache
    // contract: caller releases, as for every persist here.
    val hashes = graft.engine.Caches.persisted("phashClusters.hashes",
      imageHashes(spark, media).toDF())
    val pairs = hammingBandedPairs(hashes, maxDist, maxChunkBucket,
        "phashClusters")
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val comp = graft.text.Clusters.connectedComponents(pairs, "src", "dst")
    hashes
      .select(col("media_id"))
      .join(comp.withColumnRenamed("node", "media_id"), Seq("media_id"), "left")
      .select(col("media_id"),
        coalesce(col("component"), col("media_id")).as("cluster_id"))
      .withColumn("is_canonical", col("media_id") === col("cluster_id"))
  }

  /** Quality-aware canonical selection per perceptual image cluster —
    * the image face of [[graft.text.Clusters.canonicalByQuality]]:
    * where [[phashClusters]] keeps the min-id member (cheap but
    * arbitrary), this keeps the HIGHEST-RESOLUTION one (argmax
    * pixel count from the header-only [[ImageCodec.decodeDims]] probe —
    * no second full decode — min id on ties), which is what an image
    * curation pipeline actually wants: near-dup groups are usually the
    * same picture at different sizes, and keeping the largest preserves
    * the most signal. Emits every image with its cluster, pixel count,
    * and the keep/drop verdict — the drop list IS the dedup delete set.
    * Cost over [[phashClusters]]: one header probe per payload (bytes,
    * not pixels) and a rank window per cluster.
    */
  def phashCanonicalByPixels(spark: SparkSession, media: DataFrame,
                             maxDist: Int = 3,
                             maxChunkBucket: Long = graft.ops.GuardBounds.MaxChunkBucket): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val clusters = phashClusters(spark, media, maxDist, maxChunkBucket)
    val dims = media.select(col("media_id"), col("format"), col("payload"))
      .as[MediaRow]
      .mapPartitions(_.flatMap(m => ImageCodec.decodeDims(m.payload)
        .map(d => (m.media_id, d._1.toLong * d._2))))
      .toDF("media_id", "n_pixels")
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_pixels").desc, col("media_id").asc)
    clusters.join(dims, "media_id")
      .withColumn("_rk", row_number().over(w))
      .select(col("media_id"), col("cluster_id"), col("n_pixels"),
        (col("_rk") === 1).as("keep"))
  }

  /** [[AudioCodec.energyHash64]] per payload in executors. */
  def audioHashes(spark: SparkSession, media: DataFrame): Dataset[ImageHash] =
    perceptualHashes(spark, media, AudioCodec.energyHash64)

  /** Deterministic audio table for the perceptual-hash gates: one WAV
    * per id whose [[AudioCodec.energyHash64]] is the same fixed
    * bit-permutation of its id the image fixture uses — so q154/q155
    * share the q152/q153 popcount oracle verbatim. The id-derived
    * window width (2-4 samples) pins duration invariance: equal energy
    * patterns hash alike at any length.
    */
  def audioHashTable(spark: SparkSession, ids: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    // deliberately NOT spread (r15 A/B, measured in c40b0d0): every WAV
    // encode/decode goes through javax.sound.sampled.AudioSystem, whose
    // provider lookup serializes on a global registry lock — 32
    // concurrent decode tasks measured 2.5× SLOWER than one (0.6 s →
    // 1.5 s), the opposite of the image path where parallel PNG decode
    // measured 3× faster
    ids.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          MediaRow(id, "wav", AudioCodec.encodeWavBits(
            2 + java.lang.Math.floorMod(id, 3L).toInt, spreadBits(id)))
        }
      }.toDF()
  }

  /** Fixed bit-position permutation (bit k → bit 5k mod 64) shared by
    * the perceptual-hash fixtures: spreads small ids' low bits across
    * all four 16-bit blocking chunks (no degenerate universal bucket)
    * while COMMUTING with xor — hamming(π(a), π(b)) = popcount(a xor b)
    * — so the pair oracles stay pure id arithmetic.
    */
  private[graft] def spreadBitsDev(x: Long): Long = spreadBits(x)

  private[multimodal] def spreadBits(x: Long): Long = {
    var out = 0L
    var k = 0
    while (k < 64) {
      if (((x >>> k) & 1L) == 1L) out |= 1L << ((5 * k) & 63)
      k += 1
    }
    out
  }

  /** Batched frame decode → per-media channel sums: REAL BI_RGB pixel
    * walk ([[VideoCodec.decodeFrames]] — `decoded = true`, exact Long
    * sums over every frame's pixels), zeroed stub row for payloads
    * whose frames can't be pixel-decoded. Sums accumulate across a
    * video's frames in Longs (255·w·h·frames ≪ 2⁶³).
    */
  def extractVideoFrameFeatures(spark: SparkSession,
                                media: DataFrame): Dataset[VideoFrameFeatures] = {
    import spark.implicits._
    media.select(col("media_id"), col("format"), col("payload")).as[MediaRow]
      .mapPartitions { it =>
        it.map { m =>
          VideoCodec.decodeFrames(m.payload) match {
            case Some((meta, frames)) =>
              VideoFrameFeatures(m.media_id, meta.width, meta.height,
                frames.size.toLong, frames.map(_.rSum).sum,
                frames.map(_.gSum).sum, frames.map(_.bSum).sum,
                decoded = true)
            case None =>
              VideoFrameFeatures(m.media_id, 0, 0, 0L, 0L, 0L, 0L,
                decoded = false)
          }
        }
      }
  }

  /** Deterministic stand-in for codecs genuinely absent from this
    * container (proprietary formats with no JVM parser — images, audio,
    * and the AVI container graduated to real decodes above). A real
    * implementation replaces `decode` with e.g. an FFmpeg
    * probe — signature: bytes in, fixed-shape features out.
    */
  object StubCodec {
    /** STUB fallback: produces deterministic fake dimensions from the
      * payload so tests are stable. Only reached when
      * [[ImageCodec.decodeDims]] finds no JDK reader for the payload.
      */
    def decode(payload: Array[Byte]): (Int, Int) = {
      val h = payload.foldLeft(1469598103934665603L)((a, b) => (a ^ b) * 1099511628211L)
      (math.floorMod(h, 1920).toInt + 1, math.floorMod(h >>> 32, 1080).toInt + 1)
    }
  }

  /** Wrap a string column as a binary payload with typed metadata —
    * the pattern for landing media in a table (opaque bytes + metadata
    * struct, SURVEY north-star).
    */
  def attachPayload(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit("bin").as("format"),
      col(contentCol).cast("binary").as("payload"))
      .withColumn("meta", struct(
        length(col("payload")).as("n_bytes"),
        xxhash64(col("payload")).as("checksum")))

  /** Batched decode → features. One codec "session" per partition;
    * iterator-to-iterator (no materialization). Real header decode for
    * JDK-readable images (`decoded = true`), [[StubCodec]] fallback for
    * everything else (`decoded = false`).
    */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("media_id"), col("format"), col("payload")).as[MediaRow]
      .mapPartitions { it =>
        // per-partition codec init would happen here (amortized)
        it.map { m =>
          val real = ImageCodec.decodeDims(m.payload)
          val (w, h) = real.getOrElse(StubCodec.decode(m.payload))
          MediaFeatures(m.media_id, m.format, m.payload.length.toLong,
            m.payload.foldLeft(0L)((a, b) => a * 31 + b), w, h,
            decoded = real.isDefined)
        }
      }
  }

  /** Deterministic image table over an id column: one PNG per id with
    * dimensions derived from the id (`1 + id % 64` × `1 + id % 48`),
    * encoded executor-side. Exists so the decode path can be
    * oracle-gated end-to-end: the dimensions [[extractFeatures]] reads
    * back out of the PNG headers are SQL-expressible from the ids alone,
    * which makes a real encode→decode roundtrip hash-checkable against
    * DuckDB (q43).
    */
  def imageTable(spark: SparkSession, ids: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          // floorMod: Scala % takes the dividend's sign, and a negative
          // id would otherwise ask BufferedImage for a 0-width image
          MediaRow(id, "png",
            ImageCodec.encodePng(1 + java.lang.Math.floorMod(id, 64L).toInt,
              1 + java.lang.Math.floorMod(id, 48L).toInt, id))
        }
      }.toDF()
  }

  case class AudioFeatures(media_id: Long, n_bytes: Long, sample_rate: Int,
                           channels: Int, n_samples: Long, rms: Double,
                           decoded: Boolean)

  /** Deterministic audio table over an id column: one WAV per id with
    * `1 + id mod 256` samples of the seeded ramp — the audio twin of
    * [[imageTable]], existing so the decode path is oracle-gated
    * end-to-end (sample count AND the RMS of the ramp are
    * SQL-expressible from the ids alone).
    */
  def audioTable(spark: SparkSession, ids: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          MediaRow(id, "wav", AudioCodec.encodeWav(
            1 + java.lang.Math.floorMod(id, 256L).toInt, id))
        }
      }.toDF()
  }

  /** Batched audio decode → features, the [[extractFeatures]] shape for
    * sound: REAL header + PCM decode for JDK-readable audio
    * (`decoded = true`, true sample rate / channel count / sample count
    * / RMS amplitude), zeroed stub row for payloads no reader claims.
    */
  def extractAudioFeatures(spark: SparkSession,
                           media: DataFrame): Dataset[AudioFeatures] = {
    import spark.implicits._
    media.select(col("media_id"), col("format"), col("payload")).as[MediaRow]
      .mapPartitions { it =>
        it.map { m =>
          AudioCodec.decode(m.payload) match {
            case Some((meta, rms)) =>
              AudioFeatures(m.media_id, m.payload.length.toLong,
                meta.sampleRate, meta.channels, meta.nSamples, rms,
                decoded = true)
            case None =>
              AudioFeatures(m.media_id, m.payload.length.toLong,
                0, 0, 0L, 0.0, decoded = false)
          }
        }
      }
  }

  case class ResizedMedia(media_id: Long, format: String,
                          width: Int, height: Int, payload: Array[Byte])

  /** Resize: 1-row-in → 1-row-out payload transform. STUB resample (every
    * k-th byte, deterministic); a real bilinear/area resampler replaces
    * the body. Same per-partition batching as [[extractFeatures]].
    */
  def resize(spark: SparkSession, media: DataFrame,
             targetW: Int, targetH: Int): Dataset[ResizedMedia] = {
    import spark.implicits._
    media.select(col("media_id"), col("format"), col("payload")).as[MediaRow]
      .mapPartitions { it =>
        it.map { m =>
          // STUB: real resample unavailable (no codec libs in container)
          val stride = math.max(1, m.payload.length / math.max(1, targetW * targetH))
          val out = m.payload.indices.by(stride).map(m.payload).toArray
          ResizedMedia(m.media_id, m.format, targetW, targetH, out)
        }
      }
  }

  case class Frame(media_id: Long, frame_idx: Int, offset_bytes: Long,
                   payload: Array[Byte])

  /** Frame sampling for video payloads: 1-row-in → N-rows-out expansion
    * (the flatMap shape a video pipeline needs — each sampled frame
    * becomes its own row, so downstream per-frame ops parallelize).
    * STUB framing: fixed `frameBytes` chunks stand in for demuxed frames;
    * emits every `everyN`-th.
    */
  def sampleFrames(spark: SparkSession, media: DataFrame,
                   frameBytes: Int = 64, everyN: Int = 2): Dataset[Frame] = {
    import spark.implicits._
    media.select(col("media_id"), col("format"), col("payload")).as[MediaRow]
      .mapPartitions { it =>
        it.flatMap { m =>
          m.payload.grouped(frameBytes).zipWithIndex
            .filter { case (_, i) => i % everyN == 0 }
            .map { case (chunk, i) =>
              Frame(m.media_id, i, i.toLong * frameBytes, chunk) }
        }
      }
  }
}
