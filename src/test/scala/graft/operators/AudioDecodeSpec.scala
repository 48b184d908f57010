package graft.operators

import graft.SparkSpec
import graft.operators.MultimodalOps._

/** Real JDK `javax.sound.sampled` audio path and the multi-frame ImageIO
  * path: WAV PCM roundtrips, exact integer energy features, windowing,
  * channel handling, and animated-GIF frame counting.
  */
class AudioDecodeSpec extends SparkSpec {
  import spark.implicits._

  /** Frame count of a multi-image container via the JDK `ImageReader`
    * (`getNumImages(true)` walks the frame directory); None when no
    * installed reader accepts the bytes. */
  private def imageFrameCount(bytes: Array[Byte]): Option[Int] =
    scala.util.Try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try { r.setInput(iis); Some(r.getNumImages(true)) }
          finally r.dispose()
        }
      } finally iis.close()
    }.toOption.flatten

  test("WAV encode→decode roundtrip recovers exact 16-bit samples, rate, channels") {
    val samples = Array.tabulate(100)(i => (i * 31) % 2003 - 1001)
    val wav = encodePcmWav(8000, 1, samples)
    // a real RIFF/WAVE container
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val d = decodeWav(wav).get
    assert(d.sampleRate == 8000 && d.channels == 1)
    assert(d.samples.toSeq == samples.toSeq)
    // full signed range survives (min/max 16-bit values)
    val extremes = Array(-32768, 32767, 0, -1, 1)
    assert(decodeWav(encodePcmWav(44100, 1, extremes)).get.samples.toSeq == extremes.toSeq)
  }

  test("stereo: interleaved samples, frame count = samples / channels") {
    val interleaved = Array(10, -20, 30, -40, 50, -60) // 3 frames × 2 channels
    val d = decodeWav(encodePcmWav(16000, 2, interleaved)).get
    assert(d.channels == 2 && d.samples.toSeq == interleaved.toSeq)
    val feats = audioFeatures(
      Seq((1L, encodePcmWav(16000, 2, interleaved))).toDF("id", "wav"), "wav", "id")
      .collect().head
    assert(feats.getInt(2) == 16000 && feats.getInt(3) == 2)
    assert(feats.getLong(4) == 3L, "n_frames must be samples/channels")
    assert(feats.getLong(5) == interleaved.map(s => s.toLong * s).sum)
    assert(feats.getLong(6) == 60L)
  }

  test("undecodable payloads classify as NULL rows, never crash") {
    val df = Seq(
      (1L, "not audio".getBytes("UTF-8")),
      (2L, Array.empty[Byte]),
      (3L, encodePcmWav(8000, 1, Array(5, -5)))).toDF("id", "wav")
    val out = audioFeatures(df, "wav", "id").orderBy("id").collect()
    assert(!out(0).getBoolean(1) && out(0).isNullAt(2) && out(0).isNullAt(5))
    assert(!out(1).getBoolean(1))
    assert(out(2).getBoolean(1) && out(2).getLong(5) == 50L)
  }

  test("windowed energy: exact sums per window, short tail reports its own size") {
    // 10 frames, window 4 → windows of 4, 4, 2
    val samples = Array.tabulate(10)(i => i + 1) // 1..10
    val df = Seq((7L, encodePcmWav(8000, 1, samples))).toDF("id", "wav")
    val out = audioWindowEnergy(df, "wav", "id", windowFrames = 4)
      .orderBy("win").as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (7L, 0L, 4L, (1 + 4 + 9 + 16).toLong),
      (7L, 1L, 4L, (25 + 36 + 49 + 64).toLong),
      (7L, 2L, 2L, (81 + 100).toLong)))
  }

  test("animated GIF: real frame count via the reader; frame 0 decodes losslessly") {
    val gif = encodeGrayGifFrames(7, 5, frames = 3,
      pixel = (x, y, f) => (x * 20 + y * 10 + f * 40) % 256)
    assert(imageFrameCount(gif).contains(3))
    // single-frame formats count 1; garbage counts None
    assert(imageFrameCount(encodeGrayPng(4, 4, (_, _) => 9)).contains(1))
    assert(imageFrameCount("nope".getBytes("UTF-8")).isEmpty)
    // frame 0 pixels roundtrip exactly through the gray palette
    val d = decodeImage(gif).get
    assert(d.width == 7 && d.height == 5)
    for (y <- 0 until 5; x <- 0 until 7)
      assert(d.gray(y * 7 + x) == (x * 20 + y * 10) % 256, s"pixel ($x,$y)")
    val summary = frameSummary(Seq((1L, gif)).toDF("id", "blob"), "blob", "id")
      .collect().head
    assert(summary.getInt(1) == 3 && summary.getInt(2) == 7 && summary.getInt(3) == 5)
    assert(summary.getLong(4) == (for (y <- 0 until 5; x <- 0 until 7)
      yield (x * 20 + y * 10) % 256).sum.toLong)
  }

  test("fast WAV writer is byte-identical to the JDK writer; fast reader matches JDK decode") {
    val cases = Seq(
      (8000, 1, Array.tabulate(64)(i => (i * 31 % 2003) - 1001)),
      (8000, 1, Array[Int]()),
      (44100, 2, Array.tabulate(30)(i => if (i % 2 == 0) 32767 else -32768)),
      (2000, 1, Array.tabulate(95)(i => ((i * 7 + 3) % 65536) - 32768)),
      (16000, 3, Array.tabulate(9)(i => i - 4)))
    cases.foreach { case (rate, ch, samples) =>
      val fast = encodePcmWav(rate, ch, samples)
      val jdk = encodePcmWavJdk(rate, ch, samples)
      assert(java.util.Arrays.equals(fast, jdk),
        s"writer bytes diverge at rate=$rate ch=$ch n=${samples.length}")
      // fast-path reader decodes its own bytes and the JDK's identically
      val d = decodeWav(fast).get
      assert(d.sampleRate == rate && d.channels == ch && d.samples.toSeq == samples.toSeq)
    }
    // the fast reader must REJECT non-canonical layouts and defer (None
    // here means the JDK fallback also rejected: acceptance envelope kept)
    assert(decodeWav("RIFFgarbage".getBytes("UTF-8")).isEmpty)
    assert(decodeWav(Array[Byte]()).isEmpty)
    assert(decodeWav(encodeGrayPng(4, 4, (_, _) => 7)).isEmpty)
  }

  test("adversarial headers never crash and never allocate from a forged dataLen") {
    def le32At(b: Array[Byte], o: Int, v: Int): Unit = {
      b(o) = (v & 0xFF).toByte; b(o + 1) = ((v >> 8) & 0xFF).toByte
      b(o + 2) = ((v >> 16) & 0xFF).toByte; b(o + 3) = ((v >> 24) & 0xFF).toByte
    }
    def le16At(b: Array[Byte], o: Int, v: Int): Unit = {
      b(o) = (v & 0xFF).toByte; b(o + 1) = ((v >> 8) & 0xFF).toByte
    }
    val base = encodePcmWav(8000, 1, Array.tabulate(16)(identity))
    // forged dataLen near Int.MaxValue: `44 + dataLen` wraps negative, so a
    // non-overflow-safe fast-path bound check would pass and allocate a
    // ~4 GB array (or crash the task). The fast path must DEFER instead;
    // whatever the JDK reader does with the forged header is the preserved
    // acceptance envelope (it tolerates a truncated data chunk).
    for (forged <- Seq(Int.MaxValue - 40, Int.MaxValue - 43, Int.MaxValue, 2147483604)) {
      val evil = base.clone()
      le32At(evil, 40, forged)
      val viaFast = decodeWav(evil) // must not throw / not allocate from dataLen
      val viaJdk = decodeWavJdk(evil)
      assert(viaFast.map(d => (d.sampleRate, d.channels, d.samples.toSeq)) ==
        viaJdk.map(d => (d.sampleRate, d.channels, d.samples.toSeq)),
        s"forged dataLen=$forged: fast path must defer to the JDK envelope")
    }
    // inconsistent byteRate / blockAlign: not the canonical writer's layout,
    // so the fast path must defer (JDK also rejects these mangled headers
    // here — either way, never a fast-path accept of a non-canonical header)
    val badRate = base.clone(); le32At(badRate, 28, 1234)
    val badAlign = base.clone(); le16At(badAlign, 32, 7)
    for (evil <- Seq(badRate, badAlign)) {
      val viaFast = decodeWav(evil)
      val viaJdk = decodeWavJdk(evil)
      assert(viaFast.map(d => (d.sampleRate, d.channels, d.samples.toSeq)) ==
        viaJdk.map(d => (d.sampleRate, d.channels, d.samples.toSeq)),
        "fast path must agree with the JDK on inconsistent headers")
    }
  }
}
