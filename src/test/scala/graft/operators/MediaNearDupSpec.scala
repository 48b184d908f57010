package graft.operators

import graft.SparkSpec
import graft.operators.MultimodalOps._
import org.apache.spark.sql.functions._

/** Round-12 perceptual tier: the windowed-energy-envelope audio fingerprint
  * (gain invariance, WAV roundtrip, banded pairing) and per-frame hashes for
  * multi-frame containers feeding the frame-aligned animation near-dup.
  */
class MediaNearDupSpec extends SparkSpec {
  import spark.implicits._

  private def clip(levels: Int => Int, gain: Int, perSpan: Int = 4): Array[Int] =
    Array.tabulate(65 * perSpan)(i => levels(i / perSpan) * gain)

  test("audioEnvelopeHash: gain scaling is signature-invariant, reordering is not") {
    def lvl(w: Int) = 1 + (w * 37 + 11) % 100
    val a = DecodedAudio(8000, 1, clip(lvl, 1))
    val scaled = DecodedAudio(8000, 1, clip(lvl, 7))
    assert(audioEnvelopeHash(a) == audioEnvelopeHash(scaled),
      "uniform gain preserves span-energy order, so the signature must not move")
    // swapping two adjacent spans' levels flips the gradient sign between them
    val swapped = DecodedAudio(8000, 1, clip(w => lvl(if (w == 10) 11 else if (w == 11) 10 else w), 1))
    assert(audioEnvelopeHash(a) != audioEnvelopeHash(swapped))
  }

  test("audioEnvelopeHash matches a hand-computed envelope") {
    // 65 spans of 1 sample each: energies are the squared levels directly
    val levels = Array.tabulate(65)(w => if (w % 2 == 0) 3 else 5)
    val a = DecodedAudio(8000, 1, levels)
    // E alternates 9,25,9,25… → bit k set iff k even (E(k+1)=25 > E(k)=9)
    var want = 0L
    (0 until 64).foreach(k => if (k % 2 == 0) want |= (1L << k))
    assert(audioEnvelopeHash(a) == want)
  }

  test("audioFingerprints: WAV roundtrip signature; NULL for non-audio") {
    def lvl(w: Int) = 1 + (w * 53 + 7) % 128
    val samples = clip(lvl, 2)
    val wav = encodePcmWav(8000, 1, samples)
    val df = Seq((1L, wav), (2L, "not audio".getBytes("UTF-8"))).toDF("id", "blob")
    val out = audioFingerprints(df, "blob", "id").orderBy("id").collect()
    assert(out(0).getBoolean(1) &&
      out(0).getLong(2) == audioEnvelopeHash(DecodedAudio(8000, 1, samples)),
      "decode∘encode is lossless PCM, so the fingerprint must match the kernel")
    assert(!out(1).getBoolean(1) && out(1).isNullAt(2))
  }

  test("audio near-dup end-to-end: re-encoded gain-changed copies pair; others don't") {
    def lvlA(w: Int) = 1 + (w * 37 + 11) % 100
    def lvlB(w: Int) = 1 + (w * 91 + 3) % 100
    val rows = Seq(
      (1L, encodePcmWav(8000, 1, clip(lvlA, 1))),
      (2L, encodePcmWav(8000, 1, clip(lvlA, 5))), // louder copy of 1
      (3L, encodePcmWav(8000, 1, clip(lvlB, 1)))) // different envelope
    val fps = audioFingerprints(rows.toDF("id", "blob"), "blob", "id")
      .select(col("id"), col("afp").as("h"))
    val pairs = hammingPairs(fps, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 0)), s"expected exactly the gain pair: $pairs")
  }

  test("frameHashes: one reader walk yields every frame's dHash") {
    def pix(x: Int, y: Int, f: Int) = (x * 31 + y * 17 + f * 97) % 256
    val gif = encodeGrayGifFrames(9, 8, frames = 4, pixel = pix)
    val df = Seq((7L, gif), (8L, "not an image".getBytes("UTF-8"))).toDF("id", "blob")
    val out = frameHashes(df, "blob", "id").orderBy("id", "frame_idx")
      .as[(Long, Int, Int, Int, Long)].collect().toSeq
    assert(out.map(_._1).forall(_ == 7L) && out.map(_._2) == Seq(0, 1, 2, 3),
      s"undecodable payloads yield no rows; 4 frames expected: $out")
    // palette-gray GIF roundtrips losslessly: each frame's hash equals the
    // closed-form dHash of its source raster
    out.foreach { case (_, f, w, h, dh) =>
      assert(w == 9 && h == 8)
      val expected = DecodedImage(9, 8, Array.tabulate(72)(k => pix(k % 9, k / 9, f)))
      assert(dh == dHash64(expected), s"frame $f hash drifted")
    }
  }

  test("animationNearDup: every frame must match AND frame counts must agree") {
    def pix(x: Int, y: Int, f: Int) = (x * 31 + y * 17 + f * 97) % 256
    val a = encodeGrayGifFrames(9, 8, 3, pix)
    val b = encodeGrayGifFrames(9, 8, 3, (x, y, f) =>
      if (x == 2 && y == 3) (pix(x, y, f) + 1) % 256 else pix(x, y, f)) // near-copy
    val c = encodeGrayGifFrames(9, 8, 2, pix)                            // truncated
    val d = encodeGrayGifFrames(9, 8, 3, (x, y, f) =>
      if (f == 1) ((x + 3) * (y + 5) * 97) % 256 else pix(x, y, f))      // one frame replaced
    val fh = frameHashes(Seq((1L, a), (2L, b), (3L, c), (4L, d)).toDF("doc_id", "blob"),
      "blob", "doc_id")
    val out = animationNearDup(fh, maxHamming = 3)
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(out.map(p => (p._1, p._2)) == Seq((1L, 2L)),
      s"only the all-frames near-copy pairs — not the truncated or one-frame-off: $out")
    assert(out.head._3 == 3L, "pair reports the shared frame count")
  }

  test("decimatePcm: truncating block means, short tail, channel separation") {
    // mono: blocks (1,2,3,4) -> 2 (10/4), (-1,-2) tail -> trunc(-3/2) = -1
    // (truncation toward zero matches SQL integer division on negatives)
    val mono = DecodedAudio(8000, 1, Array(1, 2, 3, 4, -1, -2))
    val d = decimatePcm(mono, 4)
    assert(d.sampleRate == 2000 && d.samples.toSeq == Seq(2, -1))
    // stereo: channels decimate independently over interleaved frames
    val st = DecodedAudio(8000, 2, Array(1, 100, 3, 300)) // frames (1,100),(3,300)
    val d2 = decimatePcm(st, 2)
    assert(d2.channels == 2 && d2.samples.toSeq == Seq(2, 200))
    // WAV roundtrip through resampleAudio preserves the decimated samples
    val wav = encodePcmWav(8000, 1, Array(1, 2, 3, 4, -1, -2))
    val out = resampleAudio(Seq((1L, wav)).toDF("id", "blob"), "blob", "id", 4)
      .collect().head.getAs[Array[Byte]]("blob")
    val back = decodeWav(out).get
    assert(back.sampleRate == 2000 && back.samples.toSeq == Seq(2, -1))
  }

  test("hammingPairs alignKeys: identical hashes at different frames never meet") {
    val rows = Seq((1L, 0, 42L), (2L, 1, 42L), (3L, 1, 42L)).toDF("id", "frame_idx", "h")
    val out = hammingPairs(rows, maxHamming = 3, alignKeys = Seq("frame_idx"))
      .select("ida", "idb", "frame_idx", "hamming")
      .as[(Long, Long, Int, Int)].collect().toSeq
    assert(out == Seq((2L, 3L, 1, 0)),
      s"only the frame-aligned pair is a candidate: $out")
  }

  test("audioShingles matches a hand-computed shingle set") {
    // 1-sample windows, 2-bit shingles: samples (1,2,1,2,1) -> E (1,4,1,4,1)
    // -> signs (1,0,1,0) -> shingles 1+2·0=1, 0+2·1=2, 1+2·0=1 -> {1,2}
    val a = DecodedAudio(8000, 1, Array(1, 2, 1, 2, 1))
    assert(audioShingles(a, windowSamples = 1, shingleBits = 2).toSeq == Seq(1L, 2L))
    // the tail partial window is dropped, never a short unstable span:
    // appending ONE extra sample (6 samples, window=1 keeps all) vs a
    // 5-sample clip at window=2 (2 full windows, 1 sign, too short)
    assert(audioShingles(DecodedAudio(8000, 1, Array(1, 2, 1, 2, 1)),
      windowSamples = 2, shingleBits = 2).isEmpty)
  }

  test("audioShingles: any-offset silence pad + gain leaves the signature IDENTICAL") {
    def lvl(w: Int) = 1 + (w * 37 + 11) % 100
    val content = Array.tabulate(320)(i => lvl(i / 4))
    val orig = audioShingles(DecodedAudio(8000, 1, content), 4, 16).toSeq
    // 13 leading + 5 trailing zeros — deliberately NOT window multiples —
    // plus 5x gain: silence strips before windowing, so the windows anchor
    // at the content onset and the signature reproduces exactly
    val padded = audioShingles(
      DecodedAudio(8000, 1,
        Array.fill(13)(0) ++ content.map(_ * 5) ++ Array.fill(5)(0)), 4, 16).toSeq
    assert(padded == orig,
      "silence-stripped windowing must make any-offset pads/trims invisible")
    // the envelope hash, by contrast, DOES die on the same transform — the
    // gap this signature exists to close
    assert(audioEnvelopeHash(DecodedAudio(8000, 1, content)) !=
      audioEnvelopeHash(DecodedAudio(8000, 1, Array.fill(13)(0) ++ content)),
      "if the relative-span envelope survived trims this kernel would be redundant")
    // a CONTENT shift (non-silence prefix) still degrades gracefully: the
    // original's shingles survive as a subset when the prefix pads to a
    // whole window (hop granularity — the constellation-fingerprint contract)
    val contentShift = audioShingles(
      DecodedAudio(8000, 1, Array.fill(4)(9) ++ content), 4, 16).toSet
    assert(orig.toSet.subsetOf(contentShift),
      "whole-window content prefix must leave the original set a subset")
    // too-short clips yield no shingles rather than unstable partial ones
    assert(audioShingles(DecodedAudio(8000, 1, Array.fill(67)(1)), 4, 16).isEmpty)
  }

  test("audio shingle containment end-to-end: trimmed+gain copies pair at 1.0") {
    def lvlA(w: Int) = 1 + (w * 37 + 11) % 100
    def lvlB(w: Int) = 1 + (w * 91 + 3) % 100
    def wav(lvl: Int => Int, gain: Int, padSamples: Int) =
      encodePcmWav(8000, 1,
        Array.fill(padSamples)(0) ++ Array.tabulate(320)(i => lvl(i / 4) * gain))
    val rows = Seq(
      (1L, wav(lvlA, 1, 0)),
      (2L, wav(lvlA, 5, 13)), // louder, 13 samples of silence (no window multiple)
      (3L, wav(lvlB, 1, 0)))  // unrelated envelope
    val fps = audioShingleFingerprints(rows.toDF("id", "blob"), "blob", "id")
    val out = shingleContainmentPairs(fps, minContainment = 0.5)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out.map(p => (p._1, p._2)) == Seq((1L, 2L)),
      s"exactly the trimmed+gain pair: $out")
    assert(out.head._4 == 1.0,
      s"the untrimmed clip's set is a subset, so min-side containment is exactly 1.0: $out")
  }

  test("animationNearDupNormalized pairs a frame-rate-halved copy; aligned join cannot") {
    def pix(x: Int, y: Int, fSrc: Int) = (x * 31 + y * 17 + fSrc * 97) % 256
    val full = encodeGrayGifFrames(9, 8, 8, (x, y, f) => pix(x, y, f))
    val halved = encodeGrayGifFrames(9, 8, 4, (x, y, f) => pix(x, y, f * 2))
    val other = encodeGrayGifFrames(9, 8, 8, (x, y, f) => ((x + 3) * (y + 5) + f * 53) % 256)
    val fh = frameHashes(Seq((1L, full), (2L, halved), (3L, other)).toDF("doc_id", "blob"),
      "blob", "doc_id")
    val out = animationNearDupNormalized(fh, slots = 4, maxHamming = 3)
      .as[(Long, Long, Long, Long, Int)].collect().toSeq
    assert(out.map(p => (p._1, p._2)) == Seq((1L, 2L)),
      s"exactly the rate-halved pair: $out")
    assert(out.head._3 == 8L && out.head._4 == 4L && out.head._5 == 0,
      s"counts reported unequal, slots identical: $out")
    // the equal-count aligned-index form is structurally blind to this pair
    assert(animationNearDup(fh, maxHamming = 3).collect().isEmpty,
      "animationNearDup matching a rate-halved copy would make the normalized form redundant")
  }
}
