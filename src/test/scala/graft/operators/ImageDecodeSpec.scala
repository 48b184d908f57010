package graft.operators

import graft.SparkSpec
import graft.operators.MultimodalOps._
import org.apache.spark.sql.functions._

/** Real JDK `javax.imageio` decode path: PNG/JPEG roundtrips over genuine
  * encoded bytes, the deterministic grayscale/downsample/perceptual-hash
  * chain, and the banded Hamming near-dup join.
  */
class ImageDecodeSpec extends SparkSpec {
  import spark.implicits._

  test("PNG encode→decode roundtrip recovers exact pixels and dimensions") {
    def pix(x: Int, y: Int) = (x * 37 + y * 101) % 256
    val png = encodeGrayPng(9, 5, pix)
    // a real PNG container, not a fake: magic bytes present
    assert((png(0) & 0xFF) == 0x89 && png(1) == 'P'.toByte)
    val d = decodeImage(png).get
    assert(d.width == 9 && d.height == 5)
    // PNG is lossless and luma of gray (r=g=b=p) is exactly p
    for (y <- 0 until 5; x <- 0 until 9)
      assert(d.gray(y * 9 + x) == pix(x, y), s"pixel ($x,$y)")
  }

  test("JPEG decode: real dims from the JDK codec; pixels approximate the source") {
    val img = new java.awt.image.BufferedImage(
      16, 12, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 12; x <- 0 until 16)
      img.setRGB(x, y, if (x < 8) 0x000000 else 0xFFFFFF)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", out)
    val d = decodeImage(out.toByteArray).get
    assert(d.width == 16 && d.height == 12)
    // lossy codec: check structure, not exact bytes — dark left, bright right
    assert(d.gray(5 * 16 + 1) < 64 && d.gray(5 * 16 + 14) > 191)
  }

  test("gray, gray+alpha, and 16-bit gray exports of the same raster decode identically") {
    def pix(x: Int, y: Int) = (x * 37 + y * 101) % 256
    // gray+alpha export (TYPE_BYTE_GRAY has no alpha — build a 2-band image)
    val ga = {
      val cs = java.awt.color.ColorSpace.getInstance(java.awt.color.ColorSpace.CS_GRAY)
      val cm = new java.awt.image.ComponentColorModel(cs, true, false,
        java.awt.Transparency.TRANSLUCENT, java.awt.image.DataBuffer.TYPE_BYTE)
      val raster = cm.createCompatibleWritableRaster(6, 4)
      for (y <- 0 until 4; x <- 0 until 6) {
        raster.setSample(x, y, 0, pix(x, y)); raster.setSample(x, y, 1, 255)
      }
      val img = new java.awt.image.BufferedImage(cm, raster, false, null)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    // 16-bit gray export of the same raster (high byte = the 8-bit value)
    val g16 = {
      val img = new java.awt.image.BufferedImage(6, 4,
        java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
      for (y <- 0 until 4; x <- 0 until 6)
        img.getRaster.setSample(x, y, 0, pix(x, y) << 8)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val expected = (for (y <- 0 until 4; x <- 0 until 6) yield pix(x, y)).toSeq
    assert(decodeImage(encodeGrayPng(6, 4, pix)).get.gray.toSeq == expected)
    assert(decodeImage(ga).get.gray.toSeq == expected,
      "gray+alpha must read raster band 0, not go through sRGB color management")
    assert(decodeImage(g16).get.gray.toSeq == expected,
      "16-bit gray must scale to 8 bits, not gamma-remap")
  }

  test("undecodable payloads classify as None, never crash") {
    assert(decodeImage("not an image at all".getBytes("UTF-8")).isEmpty)
    assert(decodeImage(Array.empty[Byte]).isEmpty)
    // a truncated PNG (header only, no IDAT) must not throw either
    assert(decodeImage(encodeGrayPng(4, 4, (_, _) => 7).take(20)).isEmpty)
  }

  test("downsample is exact integer area averaging with floored box bounds") {
    // 4×4 → 2×2: each cell averages a 2×2 box
    val img = DecodedImage(4, 4, Array(
      0, 10, 100, 110,
      20, 30, 120, 130,
      200, 210, 40, 50,
      220, 230, 60, 70))
    assert(downsample(img, 2, 2).toSeq == Seq(15, 115, 215, 55))
    // 9→8 in x: columns 0..6 map 1:1, column 7 averages source cols 7+8
    val row = Array(0, 10, 20, 30, 40, 50, 60, 70, 81)
    val img2 = DecodedImage(9, 1, row)
    assert(downsample(img2, 8, 1).toSeq == Seq(0, 10, 20, 30, 40, 50, 60, 75))
    // upscale repeats pixels (boxes clamp to ≥1 source pixel)
    assert(downsample(DecodedImage(2, 1, Array(3, 9)), 4, 1).toSeq == Seq(3, 3, 9, 9))
  }

  test("aHash/dHash pack bits exactly as specified (hand-computed cases)") {
    // left half 0, right half 255 on an 8×8: mean 127, bits set iff x ≥ 4
    val half = DecodedImage(8, 8, Array.tabulate(64)(k => if (k % 8 < 4) 0 else 255))
    assert(aHash64(half) == java.lang.Long.parseUnsignedLong("F0F0F0F0F0F0F0F0", 16))
    // strictly increasing columns on 9×8: every dHash comparison true → all ones
    val inc = DecodedImage(9, 8, Array.tabulate(72)(k => (k % 9) * 10))
    assert(dHash64(inc) == -1L)
    // aHash of the same: 8×8 downsample row = (0,10,..,60,75), mean 35 → x ≥ 4
    assert(aHash64(inc) == java.lang.Long.parseUnsignedLong("F0F0F0F0F0F0F0F0", 16))
    // constant image: no cell exceeds the mean, no gradient — both hashes 0
    val flat = DecodedImage(8, 8, Array.fill(64)(42))
    assert(aHash64(flat) == 0L && dHash64(flat) == 0L)
  }

  test("imageFeatures: real dims + hashes for images, NULL row for non-images") {
    val png = encodeGrayPng(9, 8, (x, y) => (x * 29 + y * 53) % 256)
    val df = Seq((1L, png), (2L, "plain text bytes".getBytes("UTF-8")))
      .toDF("id", "blob")
    val out = imageFeatures(df, "blob", "id").orderBy("id").collect()
    val img = out(0)
    assert(img.getBoolean(1) && img.getInt(2) == 9 && img.getInt(3) == 8)
    val expected = decodeImage(png).get
    assert(img.getLong(4) == aHash64(expected) && img.getLong(5) == dHash64(expected))
    val txt = out(1)
    assert(!txt.getBoolean(1) && txt.isNullAt(2) && txt.isNullAt(4) && txt.isNullAt(5))
  }

  test("hammingPairs: banded candidates + popcount verify; exact for maxHamming ≤ 3") {
    val hashes = Seq(
      1L -> 0L,
      2L -> 7L,                       // hamming 3 from id 1 → pair
      3L -> ((1L << 0) | (1L << 16) | (1L << 32) | (1L << 48)), // 1 bit per band:
      4L -> 0L                        // hamming 4 from ids 1/4, no shared band
    ).toDF("id", "h")
    val pairs = hammingPairs(hashes, maxHamming = 3)
      .orderBy("ida", "idb").as[(Long, Long, Int)].collect().toSeq
    // (1,4) identical → hamming 0; (1,2) and (2,4) at hamming 3;
    // id 3 differs from everyone in every band → absent
    assert(pairs == Seq((1L, 2L, 3), (1L, 4L, 0), (2L, 4L, 3)))
  }

  test("perceptual near-dup finds a one-pixel-perturbed image; distinct patterns stay apart") {
    def base(x: Int, y: Int) = ((x * 131 + y * 17 + (x * y) % 7) * 41) % 256
    val original = encodeGrayPng(32, 24, base)
    val nudged = encodeGrayPng(32, 24, (x, y) =>
      if (x == 11 && y == 7) (base(x, y) + 2) % 256 else base(x, y))
    val other = encodeGrayPng(32, 24, (x, y) => ((x + 3) * (y + 5) * 97) % 256)
    val feats = imageFeatures(
      Seq((1L, original), (2L, nudged), (3L, other)).toDF("id", "blob"), "blob", "id")
    val pairs = hammingPairs(feats.select(col("id"), col("dhash").as("h")), maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L)),
      s"expected only the perturbed pair, got $pairs")
  }
}
