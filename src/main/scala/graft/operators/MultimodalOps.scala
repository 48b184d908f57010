package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.reflect.runtime.universe.TypeTag
import scala.util.control.NonFatal

/** Multimodal-column operators: image/audio/video as opaque `binary` columns
  * with typed metadata, plus sniff / decode / feature-extract / frame-sample
  * stages.
  *
  * Container sniffing ([[sniffContainer]]: magic-byte format detection and
  * PNG IHDR dimensions) is pure expressions over header bytes. Pixel decode
  * ([[decodeImage]]) is REAL: the JDK's `javax.imageio` ships PNG/JPEG/GIF/
  * BMP codecs with zero external dependencies, so decoded width/height,
  * grayscale rasters and the perceptual aHash/dHash fingerprints are
  * computed from actual pixels. Audio/video codecs are NOT in the JDK, so
  * non-image media flows through the byte-level stages (sniff, exact dedup,
  * frame slicing) and [[decodeImage]] returns None for it.
  *
  * Scale shape: binary columns travel in columnar batches; decode runs as a
  * narrow per-partition pass (one codec context per partition, disk cache
  * off, not per row), and nothing widens the binary payload through a
  * shuffle — downstream joins and groupings see only (id, dims, 64-bit
  * fingerprint). At 100 TB the binary column stays pruned away unless a
  * stage actually touches it (nested-schema pruning on the parquet scan).
  */
object MultimodalOps {

  /** A decoded raster: real dimensions plus the 8-bit grayscale plane
    * (row-major), via the integer ITU-R 601-ish luma (77R+150G+29B)>>8 —
    * exact for gray inputs (77+150+29 = 256) and deterministic everywhere
    * (no floating point, no platform color management). */
  final case class DecodedImage(width: Int, height: Int, gray: Array[Int])

  /** The typed decode pass every binary-column stage runs: (id, payload)
    * rows through `decode` one partition at a time, with ImageIO's disk
    * cache off for the partition's codec contexts; the output columns are
    * `idCol`, then `out`. Only the tuples `decode` emits leave the pass. */
  private def binaryPass[T <: Product : TypeTag](df: DataFrame, binCol: String, idCol: String,
                                                 out: String*)(
      decode: ((Long, Array[Byte])) => IterableOnce[T]): DataFrame =
    df.select(col(idCol).cast("long"), col(binCol))
      .as(Encoders.product[(Long, Array[Byte])])
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.flatMap(decode)
      }(Encoders.product[T])
      .toDF(idCol +: out: _*)

  /** REAL image decode via the JDK's built-in `javax.imageio` codecs
    * (PNG/JPEG/GIF/BMP — no external library). Returns None for bytes no
    * installed reader accepts (text, audio, video, truncated images), so
    * undecodable payloads classify instead of crash. */
  def decodeImage(bytes: Array[Byte]): Option[DecodedImage] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None else grayOf(img)
    } catch { case NonFatal(_) => None }

  /** BufferedImage → deterministic gray raster (shared by [[decodeImage]]
    * and the single-reader multi-frame path). */
  private def grayOf(img: java.awt.image.BufferedImage): Option[DecodedImage] =
    if (img == null) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      val gray = new Array[Int](w * h)
      val cm = img.getColorModel
      // Grayscale images (1 component, or 2 = gray+alpha): read raster
      // band 0 directly — getRGB would route them through AWT color
      // management (linear gray → sRGB gamma), silently remapping
      // 37 → 106, so two exports of the SAME raster (gray vs gray+alpha,
      // 8- vs 16-bit) would hash far apart. Raw samples are what the
      // codec decoded; 16-bit gray scales to 8 by dropping the low byte.
      val grayBits = if (cm.getNumComponents <= 2) cm.getComponentSize(0) else 0
      if (grayBits == 8 || grayBits == 16) {
        val raster = img.getRaster
        val shift = grayBits - 8
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            gray(y * w + x) = raster.getSample(x, y, 0) >> shift
            x += 1
          }
          y += 1
        }
      } else {
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val r = (rgb >> 16) & 0xFF
            val g = (rgb >> 8) & 0xFF
            val b = rgb & 0xFF
            gray(y * w + x) = (77 * r + 150 * g + 29 * b) >> 8
            x += 1
          }
          y += 1
        }
      }
      Some(DecodedImage(w, h, gray))
    }

  /** Deterministic area-average downsample to `w2` × `h2`: target cell
    * (i, j) averages the integer-floored source box [i·w/w2, (i+1)·w/w2) ×
    * [j·h/h2, (j+1)·h/h2) (clamped to ≥ 1 pixel, so upscaling repeats
    * pixels). All-integer arithmetic — bit-identical on every platform,
    * unlike Graphics2D interpolation. */
  private[operators] def downsample(img: DecodedImage, w2: Int, h2: Int): Array[Int] = {
    val out = new Array[Int](w2 * h2)
    var j = 0
    while (j < h2) {
      val y0 = j * img.height / h2
      val y1 = math.max((j + 1) * img.height / h2, y0 + 1)
      var i = 0
      while (i < w2) {
        val x0 = i * img.width / w2
        val x1 = math.max((i + 1) * img.width / w2, x0 + 1)
        var s = 0
        var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += img.gray(y * img.width + x); n += 1; x += 1 }
          y += 1
        }
        out(j * w2 + i) = s / n
        i += 1
      }
      j += 1
    }
    out
  }

  /** Average hash: 8×8 grayscale downsample, bit k = y·8+x set iff the cell
    * exceeds the integer mean of all 64 cells. Robust to uniform
    * brightness/scale changes; the classic first-cut perceptual
    * fingerprint. */
  def aHash64(img: DecodedImage): Long = {
    val d = downsample(img, 8, 8)
    var sum = 0L
    var k = 0
    while (k < 64) { sum += d(k); k += 1 }
    val mean = sum / 64
    var h = 0L
    k = 0
    while (k < 64) { if (d(k) > mean) h |= (1L << k); k += 1 }
    h
  }

  /** Difference hash: 9×8 grayscale downsample, bit k = y·8+x set iff cell
    * (x+1, y) exceeds cell (x, y) — gradient signs, which survive global
    * brightness and contrast shifts better than absolute levels. */
  def dHash64(img: DecodedImage): Long = {
    val d = downsample(img, 9, 8)
    var h = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (d(y * 9 + x + 1) > d(y * 9 + x)) h |= (1L << (y * 8 + x))
        x += 1
      }
      y += 1
    }
    h
  }

  /** Encode an 8-bit grayscale raster as a real PNG via the JDK encoder —
    * the fixture/ingest helper for the decode path (PNG is lossless, so
    * decode∘encode recovers pixels exactly). */
  def encodeGrayPng(width: Int, height: Int, pixel: (Int, Int) => Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(grayImage(width, height, pixel), "png", out)
    out.toByteArray
  }

  /** An 8-bit grayscale image whose sample at (x, y) is `pixel(x, y)`'s
    * low byte. */
  private def grayImage(width: Int, height: Int,
                        pixel: (Int, Int) => Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { raster.setSample(x, y, 0, pixel(x, y) & 0xFF); x += 1 }
      y += 1
    }
    img
  }

  // ---------------------------------------------------------------- audio

  /** A decoded PCM clip: rate/channel layout plus 16-bit samples in
    * channel-interleaved frame order. */
  final case class DecodedAudio(sampleRate: Int, channels: Int, samples: Array[Int])

  /** REAL audio decode via the JDK's built-in `javax.sound.sampled` WAV
    * codec (no external library — the audio analog of [[decodeImage]]).
    * Accepts signed 16-bit PCM (either endianness); anything else —
    * non-audio bytes, compressed codecs the JDK lacks (MP3/AAC/OGG) —
    * classifies as None. At 100 TB the compressed formats route to a
    * dedicated decode service by [[sniffContainer]] format; WAV/PCM is
    * the interchange format a pipeline normalizes into. */
  def decodeWav(bytes: Array[Byte]): Option[DecodedAudio] = {
    // Fast path: the canonical 44-byte RIFF/WAVE header [[encodePcmWav]]
    // writes (PCM, 16-bit, little-endian). javax.sound's provider lookup
    // takes process-global locks on EVERY getAudioInputStream call, so a
    // 32-thread decode stage spends more time contending than decoding
    // (measured: fanOut made the audio tier 2× SLOWER until this path) —
    // parse the canonical layout lock-free and fall back to the JDK
    // reader for anything else, which keeps the acceptance envelope
    // (non-audio bytes, other encodings, big-endian PCM) bit-identical.
    // Catch-all like the JDK path: decodeWav is documented total (None for
    // malformed bytes); an adversarial header must never fail the task.
    val fast = try decodeCanonicalWav(bytes) catch { case NonFatal(_) => None }
    if (fast.isDefined) fast else decodeWavJdk(bytes)
  }

  private def le16(b: Array[Byte], o: Int): Int = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
  private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) | ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)

  /** Strict parser for exactly the header layout the JDK writer (and the
    * fast [[encodePcmWav]]) emits: 44-byte header, fmt chunk of 16,
    * PCM (1), 16-bit, data chunk last and sized to the payload. Anything
    * else → None (the caller then defers to the JDK reader, so this is a
    * pure fast path, never a semantic fork). */
  private def decodeCanonicalWav(bytes: Array[Byte]): Option[DecodedAudio] = {
    if (bytes.length < 44) return None
    if (!(bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
        bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E' &&
        bytes(12) == 'f' && bytes(13) == 'm' && bytes(14) == 't' && bytes(15) == ' '))
      return None
    if (le32(bytes, 16) != 16) return None        // fmt chunk size
    if (le16(bytes, 20) != 1) return None         // PCM
    val channels = le16(bytes, 22)
    val rate = le32(bytes, 24)
    if (le16(bytes, 34) != 16) return None        // bits per sample
    if (!(bytes(36) == 'd' && bytes(37) == 'a' && bytes(38) == 't' && bytes(39) == 'a'))
      return None
    val dataLen = le32(bytes, 40)
    // overflow-safe bound: `44 + dataLen > bytes.length` wraps negative for
    // dataLen ≥ Int.MaxValue − 43, letting a crafted header through to a
    // ~4 GB allocation; bytes.length ≥ 44 is guaranteed above
    if (dataLen < 0 || dataLen > bytes.length - 44 || dataLen % 2 != 0) return None
    if (channels <= 0 || rate <= 0) return None
    // strictly canonical: the writer derives byteRate/blockAlign from
    // (rate, channels) with the same int arithmetic — inconsistent headers
    // defer to the JDK reader instead of being accepted on the fast path
    if (le32(bytes, 28) != rate * channels * 2 || le16(bytes, 32) != channels * 2) return None
    val n = dataLen / 2
    val samples = new Array[Int](n)
    var i = 0
    while (i < n) {
      samples(i) = ((bytes(44 + 2 * i) & 0xFF) | ((bytes(45 + 2 * i) & 0xFF) << 8)).toShort.toInt
      i += 1
    }
    Some(DecodedAudio(rate, channels, samples))
  }

  private[operators] def decodeWavJdk(bytes: Array[Byte]): Option[DecodedAudio] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val f = ais.getFormat
        if (f.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
          f.getSampleSizeInBits != 16) None
        else {
          val data = ais.readAllBytes()
          val n = data.length / 2
          val samples = new Array[Int](n)
          val be = f.isBigEndian
          var i = 0
          while (i < n) {
            val lo = data(2 * i) & 0xFF
            val hi = data(2 * i + 1) & 0xFF
            samples(i) = (if (be) (lo << 8) | hi else (hi << 8) | lo).toShort.toInt
            i += 1
          }
          Some(DecodedAudio(f.getSampleRate.toInt, f.getChannels, samples))
        }
      } finally ais.close()
    } catch { case NonFatal(_) => None }

  /** Encode signed 16-bit PCM samples (interleaved if multi-channel) as a
    * real WAV container via the JDK encoder — the fixture/normalize
    * helper paired with [[decodeWav]] (PCM is lossless, so decode∘encode
    * recovers samples exactly). */
  def encodePcmWav(sampleRate: Int, channels: Int, samples: Array[Int]): Array[Byte] = {
    require(samples.length % channels == 0, "samples must be whole frames")
    // Canonical 44-byte RIFF/WAVE header + LE PCM, written directly —
    // byte-identical to the JDK writer's output (pinned against
    // [[encodePcmWavJdk]] in ScalaTest) without AudioSystem.write's
    // provider lookup + stream copy, whose process-global locks serialize
    // concurrent encode stages (see [[decodeWav]]).
    val dataLen = samples.length * 2
    val out = new Array[Byte](44 + dataLen)
    def w32(o: Int, v: Int): Unit = {
      out(o) = (v & 0xFF).toByte; out(o + 1) = ((v >> 8) & 0xFF).toByte
      out(o + 2) = ((v >> 16) & 0xFF).toByte; out(o + 3) = ((v >> 24) & 0xFF).toByte
    }
    def w16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xFF).toByte; out(o + 1) = ((v >> 8) & 0xFF).toByte
    }
    out(0) = 'R'; out(1) = 'I'; out(2) = 'F'; out(3) = 'F'
    w32(4, 36 + dataLen)
    out(8) = 'W'; out(9) = 'A'; out(10) = 'V'; out(11) = 'E'
    out(12) = 'f'; out(13) = 'm'; out(14) = 't'; out(15) = ' '
    w32(16, 16)                    // fmt chunk size
    w16(20, 1)                     // PCM
    w16(22, channels)
    w32(24, sampleRate)
    w32(28, sampleRate * channels * 2) // byte rate
    w16(32, channels * 2)          // block align
    w16(34, 16)                    // bits per sample
    out(36) = 'd'; out(37) = 'a'; out(38) = 't'; out(39) = 'a'
    w32(40, dataLen)
    var i = 0
    while (i < samples.length) {
      out(44 + 2 * i) = (samples(i) & 0xFF).toByte
      out(45 + 2 * i) = ((samples(i) >> 8) & 0xFF).toByte
      i += 1
    }
    out
  }

  /** The JDK-writer form [[encodePcmWav]] replaced — kept as the
    * byte-identity reference for the ScalaTest pin (FormatRoundTripSpec):
    * the fast writer must produce EXACTLY these bytes or content-hash
    * queries over encoded fixtures would silently change. */
  private[operators] def encodePcmWavJdk(sampleRate: Int, channels: Int,
                                         samples: Array[Int]): Array[Byte] = {
    require(samples.length % channels == 0, "samples must be whole frames")
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = (samples(i) & 0xFF).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, channels, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length / channels)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Decoded-audio features over a binary column: real rate/channels/frame
    * count plus EXACT integer energy statistics (sum of squared samples,
    * peak magnitude) — integers end-to-end, so results are engine- and
    * layout-independent with no floating-point rounding contract. NULL
    * columns for undecodable payloads. Per-partition decode; downstream
    * sees (id, 5 scalars), never sample arrays. */
  def audioFeatures(df: DataFrame, binCol: String, idCol: String): DataFrame =
    binaryPass(df, binCol, idCol,
        "decoded", "sample_rate", "channels", "n_frames", "sum_sq", "peak_abs") {
      case (id, bytes) =>
        Some(decodeWav(bytes) match {
          case Some(a) =>
            var sumSq = 0L
            var peak = 0L
            var i = 0
            while (i < a.samples.length) {
              val s = a.samples(i).toLong
              sumSq += s * s
              if (math.abs(s) > peak) peak = math.abs(s)
              i += 1
            }
            (id, true, Some(a.sampleRate), Some(a.channels),
              Some(a.samples.length.toLong / a.channels), Some(sumSq), Some(peak))
          case None => (id, false, None: Option[Int], None: Option[Int],
            None: Option[Long], None: Option[Long], None: Option[Long])
        })
    }

  /** Windowed audio energy: decode, then one row per `windowFrames`-frame
    * window with its EXACT integer sum of squared samples — the audio
    * counterpart of [[frameSlices]] (feature extraction over time, e.g.
    * silence detection / voice-activity gating ahead of an ASR stage).
    * Tail windows are short and report their own frame count. Channel
    * samples within a frame fold into that frame's window. */
  def audioWindowEnergy(df: DataFrame, binCol: String, idCol: String,
                        windowFrames: Int): DataFrame = {
    require(windowFrames > 0, s"windowFrames must be positive, got $windowFrames")
    binaryPass(df, binCol, idCol, "win", "n_frames", "sum_sq") { case (id, bytes) =>
      decodeWav(bytes).iterator.flatMap { a =>
        val frames = a.samples.length / a.channels
        Iterator.range(0, frames, windowFrames).map { w0 =>
          val w1 = math.min(w0 + windowFrames, frames)
          var sumSq = 0L
          var i = w0 * a.channels
          while (i < w1 * a.channels) {
            val s = a.samples(i).toLong
            sumSq += s * s
            i += 1
          }
          (id, (w0 / windowFrames).toLong, (w1 - w0).toLong, sumSq)
        }
      }
    }
  }

  /** 64-bit windowed-energy-envelope signature over decoded PCM — the audio
    * analog of [[dHash64]]'s gradient signs. The clip's samples split into
    * 65 equal spans (sample i → span i·65/n, integer division — mirrors in
    * SQL as `i * 65 // n`), each span's energy is the EXACT integer sum of
    * squared samples, and bit k is set iff E(k+1) > E(k). Uniform gain
    * scaling multiplies every span energy by the same factor, preserving
    * order — so a re-encoded or volume-changed copy of the same clip lands
    * at Hamming ≈ 0 while unrelated clips sit near 32, and the signature
    * feeds [[hammingPairs]] unchanged. Empty/undecodable clips are the
    * caller's concern (this is the pure kernel). */
  def audioEnvelopeHash(a: DecodedAudio): Long = {
    val n = a.samples.length
    val e = new Array[Long](65)
    var i = 0
    while (i < n) {
      val s = a.samples(i).toLong
      e((i.toLong * 65 / n).toInt) += s * s
      i += 1
    }
    var h = 0L
    var k = 0
    while (k < 64) { if (e(k + 1) > e(k)) h |= (1L << k); k += 1 }
    h
  }

  /** Trim/shift-robust audio signature: the distinct set of overlapping
    * window-sign shingles over the SILENCE-STRIPPED clip.
    * [[audioEnvelopeHash]]'s 65 spans are RELATIVE to clip length, so a
    * 100 ms leading-silence trim shifts every span — the most common real
    * near-dup transform after re-encoding escaped it. Here:
    *
    *  1. leading and trailing silence (|sample| ≤ [[SilenceEps]]) strips
    *     FIRST, so windowing anchors at the content onset — the signature
    *     is EXACTLY invariant to any silence pad/trim, at any offset, not
    *     just whole-window multiples;
    *  2. windows are ABSOLUTE (`windowSamples` samples each, tail partial
    *     dropped): E(w) is the exact integer sum of squares, sign
    *     s(w) = 1 iff E(w+1) > E(w), and shingle j packs
    *     s(j)..s(j+shingleBits−1) LSB-first. A NON-silence shift (content
    *     prepended) still lands at window granularity: the copy's content
    *     shingles remain a near-superset of the original's (the hop-size
    *     granularity every landmark/constellation fingerprint shares);
    *  3. uniform gain scaling multiplies every energy by the same
    *     positive factor, preserving all signs (and maps silence to
    *     silence at eps 0).
    *
    * Distinct + sorted, so the signature is a pure function of the clip.
    * Clips shorter than (shingleBits+1) full windows after stripping
    * yield no shingles. */
  /** The largest |sample| audioShingles still counts as silence. */
  private val SilenceEps = 0

  def audioShingles(a: DecodedAudio, windowSamples: Int = 4,
                    shingleBits: Int = 16): Array[Long] = {
    require(windowSamples > 0, s"windowSamples must be positive, got $windowSamples")
    require(shingleBits >= 1 && shingleBits <= 63,
      s"shingleBits must be in [1, 63], got $shingleBits")
    var lo = 0
    var hi = a.samples.length
    while (lo < hi && math.abs(a.samples(lo)) <= SilenceEps) lo += 1
    while (hi > lo && math.abs(a.samples(hi - 1)) <= SilenceEps) hi -= 1
    val nW = (hi - lo) / windowSamples
    if (nW < shingleBits + 1) return Array.empty[Long]
    val e = new Array[Long](nW)
    var w = 0
    while (w < nW) {
      var sumSq = 0L
      var i = lo + w * windowSamples
      val end = i + windowSamples
      while (i < end) { val s = a.samples(i).toLong; sumSq += s * s; i += 1 }
      e(w) = sumSq
      w += 1
    }
    val nS = nW - 1
    val out = new Array[Long](nS - shingleBits + 1)
    var j = 0
    while (j < out.length) {
      var v = 0L
      var i = 0
      while (i < shingleBits) {
        if (e(j + i + 1) > e(j + i)) v |= (1L << i)
        i += 1
      }
      out(j) = v
      j += 1
    }
    out.distinct.sorted
  }

  /** Shift-robust audio fingerprints over a binary column: decode, then
    * one (id, shingle) row per DISTINCT [[audioShingles]] value — only
    * (long, long) rows leave the decode pass, so downstream containment
    * joins shuffle shingle ids, never samples. Undecodable or too-short
    * payloads yield no rows. */
  def audioShingleFingerprints(df: DataFrame, binCol: String, idCol: String,
                               windowSamples: Int = 4,
                               shingleBits: Int = 16): DataFrame =
    binaryPass(df, binCol, idCol, "shingle") { case (id, bytes) =>
      decodeWav(bytes).iterator.flatMap(a =>
        audioShingles(a, windowSamples, shingleBits).iterator.map(v => (id, v)))
    }

  /** Near-dup pairs by shingle-set containment over (id, shingle) rows
    * ([[audioShingleFingerprints]] output): candidates are the shingle-value
    * equi-join (the audio analog of an n-gram posting join — never
    * all-pairs), a pair survives when the common-shingle count covers at
    * least `minContainment` of the SMALLER side's set (containment, not
    * Jaccard: a trimmed copy is a strict subset of its original, and
    * min-side coverage scores it 1.0). Emits (ida, idb, n_common,
    * containment). All exchanges carry (long, long) rows; per-id set sizes
    * are clip-length-bounded (one shingle per window hop). */
  def shingleContainmentPairs(shingles: DataFrame, minContainment: Double,
                              idCol: String = "id"): DataFrame = {
    val s = shingles.select(col(idCol).as("id"), col("shingle").as("v"))
    val counts = s.groupBy(col("id")).agg(count(lit(1)).as("n"))
    s.as("a").join(s.as("b"),
        col("a.v") === col("b.v") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("ida"), col("b.id").as("idb"))
      .agg(count(lit(1)).as("n_common"))
      .join(counts.select(col("id").as("ida"), col("n").as("na")), Seq("ida"))
      .join(counts.select(col("id").as("idb"), col("n").as("nb")), Seq("idb"))
      // threshold on the UNROUNDED ratio (mirroring the oracle's WHERE);
      // rounding happens only on output — a pair whose true containment sits
      // within 5e-7 below the threshold must fail on both engines
      .withColumn("raw_c", col("n_common").cast("double") / least(col("na"), col("nb")))
      .where(col("raw_c") >= minContainment)
      .select(col("ida"), col("idb"), col("n_common"),
        round(col("raw_c"), 6).as("containment"))
  }

  /** Perceptual audio fingerprints over a binary column: decode, then the
    * [[audioEnvelopeHash]] envelope signature — (id, decoded, afp) only, so
    * downstream near-dup bucketing shuffles 64-bit fingerprints, never
    * samples (the audio mirror of [[imageFeatures]]). NULL fingerprint for
    * undecodable payloads. */
  def audioFingerprints(df: DataFrame, binCol: String, idCol: String): DataFrame =
    binaryPass(df, binCol, idCol, "decoded", "afp") { case (id, bytes) =>
      Some(decodeWav(bytes) match {
        case Some(a) if a.samples.nonEmpty => (id, true, Some(audioEnvelopeHash(a)))
        case _ => (id, false, None: Option[Long])
      })
    }

  /** Deterministic audio decimation by an integer factor: each non-
    * overlapping `factor`-frame block collapses to its per-channel integer
    * mean (TRUNCATING division toward zero — Java `/`, which is also what
    * SQL integer division `//` does on negative sums; floorDiv would
    * diverge on negatives), the boxcar-average downsample that is the
    * audio analog of [[downsample]]'s area averaging. All-integer arithmetic —
    * bit-identical on every platform; the tail block averages its own
    * (shorter) length. Output rate = rate/factor. */
  def decimatePcm(a: DecodedAudio, factor: Int): DecodedAudio = {
    require(factor > 0, s"factor must be positive, got $factor")
    val frames = a.samples.length / a.channels
    val outFrames = (frames + factor - 1) / factor
    val out = new Array[Int](outFrames * a.channels)
    var f = 0
    while (f < outFrames) {
      val f0 = f * factor
      val f1 = math.min(f0 + factor, frames)
      var c = 0
      while (c < a.channels) {
        var s = 0L
        var i = f0
        while (i < f1) { s += a.samples(i * a.channels + c); i += 1 }
        out(f * a.channels + c) = (s / (f1 - f0)).toInt
        c += 1
      }
      f += 1
    }
    DecodedAudio(a.sampleRate / factor, a.channels, out)
  }

  /** REAL audio resample over a binary column: decode, [[decimatePcm]],
    * re-encode as WAV — the audio mirror of [[resizeImages]] (decode →
    * deterministic integer downsample → re-encode; payloads that do not
    * decode pass through untouched). Per-partition map; binary in, smaller
    * binary out, no shuffle. */
  def resampleAudio(df: DataFrame, binCol: String, idCol: String,
                    factor: Int): DataFrame = {
    require(factor > 0, s"factor must be positive, got $factor")
    binaryPass(df, binCol, idCol, binCol) { case (id, bytes) =>
      Some(decodeWav(bytes) match {
        case Some(a) =>
          val d = decimatePcm(a, factor)
          (id, encodePcmWav(d.sampleRate, d.channels, d.samples))
        case None => (id, bytes)
      })
    }
  }

  // --------------------------------------------------------- multi-frame

  /** Encode an animated grayscale GIF (one global 256-gray palette per
    * frame, lossless for 8-bit gray) via the JDK writer — the multi-frame
    * fixture helper for the frame-walking operators ([[frameHashes]]). */
  def encodeGrayGifFrames(width: Int, height: Int, frames: Int,
                          pixel: (Int, Int, Int) => Int): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < frames) {
        val frame = f
        val img = grayImage(width, height, (x, y) => pixel(x, y, frame))
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Multi-frame container summary: REAL frame count plus frame-0 decoded
    * dimensions and exact gray-sum checksum — the routing metadata a video/
    * animation ingest records before per-frame feature extraction. NULLs
    * for undecodable payloads; one per-partition decode pass. */
  def frameSummary(df: DataFrame, binCol: String, idCol: String): DataFrame =
    binaryPass(df, binCol, idCol, "n_frames", "width", "height", "f0_gray_sum") {
      case (id, bytes) =>
        Some(frameCountAndFirst(bytes) match {
          case Some((n, d)) =>
            (id, Some(n), Some(d.width), Some(d.height), Some(d.gray.foldLeft(0L)(_ + _)))
          case None => (id, None: Option[Int], None: Option[Int],
            None: Option[Int], None: Option[Long])
        })
    }

  /** One ImageReader serves both the frame-directory walk and the frame-0
    * decode — parsing the container twice (separate count + decode calls)
    * roughly doubles decode CPU on the ingest path for multi-frame
    * payloads. */
  private def frameCountAndFirst(bytes: Array[Byte]): Option[(Int, DecodedImage)] =
    withReader(bytes, None: Option[(Int, DecodedImage)]) { (r, n) =>
      grayOf(r.read(0)).map(d => (n, d))
    }

  /** `read` over the one ImageReader that accepts `bytes`, with the frame
    * count from its directory walk; the reader and stream are disposed
    * after `read` returns, so `read` materializes what it keeps. `none`
    * for bytes no reader accepts or a decode that throws. */
  private def withReader[T](bytes: Array[Byte], none: T)(
      read: (javax.imageio.ImageReader, Int) => T): T =
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) none
        else {
          val r = readers.next()
          try {
            r.setInput(iis)
            read(r, r.getNumImages(true))
          } finally r.dispose()
        }
      } finally iis.close()
    } catch { case NonFatal(_) => none }

  /** Per-frame perceptual hashes for multi-frame containers: ONE ImageReader
    * walk per payload (the [[frameCountAndFirst]] single-reader discipline —
    * decode CPU stays one container parse regardless of how many frames are
    * hashed) emitting (id, frame_idx, width, height, dhash) for every
    * frame. Frames are hashed AS STORED (each frame's own raster); GIF
    * disposal/offset composition is out of scope — full-frame containers
    * (the ingest normal form) hash exactly. Undecodable payloads yield no
    * rows.
    *
    * Scale shape: a narrow per-partition flatMap; fan-out is the frame count
    * per payload, and only 8-byte hashes leave the stage — the per-frame
    * mirror of [[imageFeatures]], feeding [[animationNearDup]]. */
  def frameHashes(df: DataFrame, binCol: String, idCol: String): DataFrame =
    binaryPass(df, binCol, idCol, "frame_idx", "width", "height", "dhash") {
      case (id, bytes) => readFrameHashes(id, bytes)
    }

  /** Single-reader frame walk: directory count + per-frame decode + dHash,
    * materialized BEFORE the reader is disposed. */
  private def readFrameHashes(id: Long, bytes: Array[Byte]): Seq[(Long, Int, Int, Int, Long)] =
    withReader(bytes, Seq.empty[(Long, Int, Int, Int, Long)]) { (r, n) =>
      (0 until n).flatMap { f =>
        grayOf(r.read(f)).map(d => (id, f, d.width, d.height, dHash64(d)))
      }
    }

  /** Animation near-dup over per-frame hashes ([[frameHashes]] output):
    * two payloads are near-duplicates when they have the SAME frame count
    * and EVERY aligned frame pair sits within `maxHamming` — the
    * re-encoded-animation detector (per-frame dHash survives palette and
    * brightness re-encodes exactly as it does for stills). Emits
    * (ida, idb, n_frames, max_hamming).
    *
    * Scale shape: candidates come from [[hammingPairs]] banded on
    * (frame_idx, 16-bit chunk) equi-keys — frame alignment rides the join
    * key, so band buckets never mix frames and nothing is all-pairs; the
    * per-pair rollup and the two frame-count joins are id-keyed,
    * hash-distributed, AQE-splittable. */
  def animationNearDup(frameHashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    val fh = frameHashes.select(col("doc_id").as("id"), col("frame_idx").as("frame_idx"),
      col("dhash").as("h"))
    val counts = fh.groupBy(col("id")).agg(count(lit(1)).as("nf"))
    hammingPairs(fh, maxHamming, alignKeys = Seq("frame_idx"))
      .groupBy("ida", "idb")
      .agg(count(lit(1)).as("n_matched"), max(col("hamming")).as("max_hamming"))
      .join(counts.select(col("id").as("ida"), col("nf").as("na")), Seq("ida"))
      .join(counts.select(col("id").as("idb"), col("nf").as("nb")), Seq("idb"))
      .where(col("n_matched") === col("na") && col("n_matched") === col("nb"))
      .select(col("ida"), col("idb"), col("na").as("n_frames"), col("max_hamming"))
  }

  /** Frame-RATE-robust animation near-dup: [[animationNearDup]] requires
    * equal frame counts and aligned indices, so a 30→15fps re-encode of the
    * same animation escapes it. Here each animation's hash series first
    * normalizes to `slots` keyframes sampled at RELATIVE positions — slot q
    * takes frame ⌊q·nf/slots⌋ — and a pair is a near-dup when every aligned
    * SLOT pair sits within `maxHamming`, regardless of frame counts. An
    * integer-factor frame decimation maps slot q of the decimated copy to
    * the same source frame as slot q of the original whenever the original
    * count is a multiple of `slots` (⌊q·(nf/d)/S⌋·d = ⌊q·nf/S⌋ when S | nf),
    * so rate-halved copies land in identical buckets — pinned in ScalaTest.
    * Emits (ida, idb, n_frames_a, n_frames_b, max_hamming): the two counts
    * are reported, not required equal.
    *
    * Scale shape: the nf join is id-keyed, the slot fan-out is a ×slots
    * constant, and candidates ride [[hammingPairs]]' (slot, 16-bit-band)
    * equi-keys — hashes shuffle, pixels never do. */
  def animationNearDupNormalized(frameHashes: DataFrame, slots: Int = 4,
                                 maxHamming: Int = 3): DataFrame = {
    require(slots > 0, s"slots must be positive, got $slots")
    val fh = frameHashes.select(col("doc_id").as("id"),
      col("frame_idx").cast("long").as("frame_idx"), col("dhash").as("h"))
    val counts = fh.groupBy(col("id")).agg(count(lit(1)).as("nf"))
    val keyed = fh.join(counts, Seq("id"))
      .withColumn("slot", explode(sequence(lit(0L), lit(slots - 1L))))
      // non-negative operands: integer div == floor
      .where(col("frame_idx") === call_function("div", col("slot") * col("nf"), lit(slots.toLong)))
      .select(col("id"), col("slot"), col("h"))
    hammingPairs(keyed, maxHamming, alignKeys = Seq("slot"))
      .groupBy("ida", "idb")
      .agg(count(lit(1)).as("n_matched"), max(col("hamming")).as("max_hamming"))
      .where(col("n_matched") === slots)
      .join(counts.select(col("id").as("ida"), col("nf").as("n_frames_a")), Seq("ida"))
      .join(counts.select(col("id").as("idb"), col("nf").as("n_frames_b")), Seq("idb"))
      .select(col("ida"), col("idb"), col("n_frames_a"), col("n_frames_b"),
        col("max_hamming"))
  }

  /** Decoded-image features over a binary column: real dimensions plus the
    * aHash/dHash perceptual fingerprints, NULL columns for undecodable
    * payloads. The narrow per-partition decode pass — output is (id, flag,
    * 2 ints, 2 longs), so everything downstream (near-dup bucketing,
    * grouping) shuffles fingerprints, never pixels. */
  def imageFeatures(df: DataFrame, binCol: String, idCol: String): DataFrame =
    binaryPass(df, binCol, idCol, "decoded", "width", "height", "ahash", "dhash") {
      case (id, bytes) =>
        Some(decodeImage(bytes) match {
          case Some(d) =>
            (id, true, Some(d.width), Some(d.height), Some(aHash64(d)), Some(dHash64(d)))
          case None => (id, false, None: Option[Int], None: Option[Int],
            None: Option[Long], None: Option[Long])
        })
    }

  /** Near-duplicate pairs over a 64-bit perceptual hash column by Hamming
    * distance — pigeonhole banding (the chunk blocking of
    * [[DedupOps.simhashNearDup]] without probes): candidates must match
    * exactly on one of four 16-bit bands (any pair within Hamming 3
    * shares a band; `maxHamming` above 3 trades recall for speed), then
    * the full 64-bit Hamming verifies. Band buckets are equi-join keys —
    * hash-distributed, AQE-splittable; nothing all-pairs.
    *
    * `alignKeys` names extra columns that must match EXACTLY for a pair to
    * be a candidate (e.g. `frame_idx` for per-frame animation alignment) —
    * they ride the band equi-join key, so misaligned rows never even meet
    * in a bucket, and they are carried (from the a-side) on the output. */
  def hammingPairs(hashes: DataFrame, maxHamming: Int = 3,
                   alignKeys: Seq[String] = Nil): DataFrame = {
    val chunked = hashes
      .select(col("id").as("id") +: col("h").as("h") +: alignKeys.map(col): _*)
      .where(col("h").isNotNull)
      .select(col("id") +: col("h") +: alignKeys.map(col) :+
        posexplode(array((0 until 4).map(c =>
          shiftright(col("h"), c * 16).bitwiseAND(0xFFFFL)): _*)): _*)
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_val")
    val joinCond = (Seq(
      col("a.chunk") === col("b.chunk"), col("a.chunk_val") === col("b.chunk_val"),
      col("a.id") < col("b.id")) ++
      alignKeys.map(k => col(s"a.$k") === col(s"b.$k"))).reduce(_ && _)
    chunked.as("a").join(chunked.as("b"), joinCond)
      .withColumn("hamming", bit_count(col("a.h").bitwiseXOR(col("b.h"))))
      .where(col("hamming") <= maxHamming)
      .select(col("a.id").as("ida") +: col("b.id").as("idb") +:
        alignKeys.map(k => col(s"a.$k")) :+ col("hamming"): _*)
      .distinct()
  }

  /** Column-level frame sampling: every `stride`-th `frameLen`-byte slice
    * of a binary column, as (id, frame_offset, frame_hex) rows — the
    * video-keyframe access pattern over an opaque payload, expressed with
    * `sequence`+`explode`+`substr`, so it stays inside whole-stage codegen
    * and needs no typed serialization. Payloads shorter than one frame
    * yield no rows. The explode fan-out is bounded by payload/stride — a
    * narrow generator, no shuffle. */
  def frameSlices(df: DataFrame, binCol: String, idCol: String,
                  frameLen: Int, stride: Int): DataFrame = {
    require(frameLen > 0 && stride > 0, s"need frameLen>0, stride>0; got $frameLen, $stride")
    val step = stride.toLong * frameLen
    df.select(col(idCol), col(binCol),
        length(col(binCol)).cast("long").as("n"))
      .where(col("n") >= frameLen)
      .select(col(idCol),
        explode(sequence(lit(0L), col("n") - frameLen, lit(step))).as("frame_offset"),
        col(binCol))
      .select(col(idCol), col("frame_offset"),
        upper(hex(col(binCol).substr(col("frame_offset").cast("int") + 1,
          lit(frameLen)))).as("frame_hex"))
  }

  /** Container sniffing over an opaque binary column — pure codegen'd
    * expressions, no codec library: magic-byte format detection
    * (PNG/JPEG/GIF/RIFF/MP4) plus PNG dimensions parsed from the IHDR
    * chunk (PNG's first chunk is always IHDR, so width/height are
    * big-endian uint32s at fixed offsets 16/20 — parseable without a
    * decoder). Narrow per-row map over the first 24 bytes; at 100 TB this
    * is the "route by container type" dispatch ahead of the per-format
    * decode stage ([[imageFeatures]]' mapPartitions pattern), and the
    * binary column's tail never leaves the scan. */
  def sniffContainer(df: DataFrame, binCol: String, idCol: String): DataFrame = {
    val hdr = upper(hex(substring(col(binCol), 1, 12))) // 24 hex chars
    val fmt = when(hdr.startsWith("89504E470D0A1A0A"), "png")
      .when(hdr.startsWith("FFD8FF"), "jpeg")
      .when(hdr.startsWith("474946383"), "gif") // GIF87a / GIF89a
      .when(hdr.startsWith("52494646"), "riff") // WAV / AVI / WebP envelope
      .when(substring(hdr, 9, 8) === "66747970", "mp4") // "ftyp" at byte 4
      .otherwise("unknown")
    df.select(
      col(idCol),
      fmt.as("format"),
      when(fmt === "png",
        conv(hex(substring(col(binCol), 17, 4)), 16, 10).cast("long")).as("png_width"),
      when(fmt === "png",
        conv(hex(substring(col(binCol), 21, 4)), 16, 10).cast("long")).as("png_height"))
  }

  /** Exact media deduplication over an opaque binary column — the
    * multimodal analog of [[DedupOps.exact]]: byte-identical payloads
    * (re-uploads, mirrored assets) collapse to one keeper. Content-hash
    * equality is BYTE equality, so two containers with the same inner
    * media but different envelopes (or PNGs differing only in metadata)
    * correctly stay distinct — exact dedup routes; near-dup lives in
    * [[imageFeatures]]' perceptual-hash land ([[hammingPairs]]). The hash
    * is md5 over the uppercase hex encoding (not the raw bytes) so any
    * engine without blob hashing can recompute it. One narrow hash pass,
    * then a hash-partitioned window for keeper and group size — one
    * shuffle on the digest, the same plan as text exact-dedup: at 100 TB
    * hashing happens in the scan and only (id, 32-char digest) rows reach
    * the exchange, never payload bytes. */
  def exactBinaryDedup(df: DataFrame, binCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash"))
    df.select(col(idCol), md5(upper(hex(col(binCol)))).as("content_hash"))
      .withColumn("keeper_id", min(col(idCol)).over(w))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("is_dup", col(idCol) =!= col("keeper_id"))
  }

  /** Column-level byte metadata over any DataFrame with a binary column —
    * the oracle-checkable subset (length, digest, header bytes). Decoded
    * dimensions live in [[imageFeatures]] (they need a real decoder, not
    * an expression). */
  def binaryMeta(df: DataFrame, binCol: String, idCol: String): DataFrame =
    df.select(
      col(idCol),
      length(col(binCol)).cast("long").as("byte_len"),
      md5(col(binCol)).as("digest"),
      upper(hex(substring(col(binCol), 1, 8))).as("header_hex"))
}
