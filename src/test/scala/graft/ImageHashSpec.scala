package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ImageHash

/** Pinned-fixture properties of the perceptual image hash the DuckDB
  * oracle cannot express: the hash is computed from REAL decoded PNG
  * pixels (codec round-trip exact), two known-similar images (one
  * perturbed pixel) stay within the hamming gate AND share a band (so
  * the banded join actually finds them), and a known-distinct pair is
  * far outside it. Plus the resize leg: a 2× upscaled image box-averages
  * back to the identical signature.
  */
class ImageHashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // monotone ramp: every adjacent comparison is "greater" → all 56 bits
  private val ramp: Array[Byte] = Array.tabulate(64)(k => (k * 4).toByte)

  test("dhash of the rendered PNG equals the hash of the raw samples") {
    // independent recompute straight from the byte pattern — the PNG
    // encode → ImageIO decode round trip must not move a single sample
    val s = ImageHash.dhash56(ImageHash.grayPng(ramp))
    var expect = 0L
    for (r <- 0 until 8; c <- 0 until 7) {
      val a = ramp(r * 8 + c) & 0xff
      val b = ramp(r * 8 + c + 1) & 0xff
      if (b > a) expect |= 1L << (r * 7 + c)
    }
    assert(s == expect)
    assert(s == (1L << 56) - 1, "monotone ramp must set all 56 bits")
  }

  test("the vertical half mirrors the horizontal on the transposed raster") {
    // dhash112's v-bits on the ramp: bit (c·7+r) = gray(r+1,c) > gray(r,c)
    val (h, v) = ImageHash.dhash112(ImageHash.grayPng(ramp))
    assert(h == ImageHash.dhash56(ImageHash.grayPng(ramp)))
    var expectV = 0L
    for (c <- 0 until 8; r <- 0 until 7) {
      if ((ramp((r + 1) * 8 + c) & 0xff) > (ramp(r * 8 + c) & 0xff))
        expectV |= 1L << (c * 7 + r)
    }
    assert(v == expectV)
  }

  test("the 7x16-bit bands are disjoint and cover all 112 bits") {
    // flipping any single bit of (h, v) must change exactly one band
    val (h0, v0) = (0x00aa55aa55aa55aaL, 0x0055aa55aa55aa55L)
    for (bit <- 0 until 56) {
      val base = (0 until 7).map(i => ImageHash.bandVal(h0, v0, i))
      val hFlip = (0 until 7).map(i => ImageHash.bandVal(h0 ^ (1L << bit), v0, i))
      val vFlip = (0 until 7).map(i => ImageHash.bandVal(h0, v0 ^ (1L << bit), i))
      assert(base.zip(hFlip).count { case (x, y) => x != y } == 1)
      assert(base.zip(vFlip).count { case (x, y) => x != y } == 1)
    }
  }

  test("a one-pixel perturbation stays inside the hamming gate and shares a band") {
    val perturbed = ramp.clone()
    // dip pixel (3,4): flips its two horizontal and two vertical
    // adjacent comparisons at most, nothing else
    perturbed(3 * 8 + 4) = 0
    val (ah, av) = ImageHash.dhash112(ImageHash.grayPng(ramp))
    val (bh, bv) = ImageHash.dhash112(ImageHash.grayPng(perturbed))
    val ham = java.lang.Long.bitCount(ah ^ bh) + java.lang.Long.bitCount(av ^ bv)
    assert(ham > 0, "perturbation must actually change the hash")
    assert(ham <= 4, s"one-pixel change flips at most 4 of 112 bits, hamming $ham")
    // the pigeonhole that makes the banded join lossless: ≤6 differing
    // bits over 7 disjoint 16-bit bands leaves at least one band equal
    assert((0 until 7).exists(i =>
      ImageHash.bandVal(ah, av, i) == ImageHash.bandVal(bh, bv, i)))
  }

  test("a distinct image is far outside the gate") {
    val reversed = ramp.reverse
    val (ah, av) = ImageHash.dhash112(ImageHash.grayPng(ramp))
    val (bh, bv) = ImageHash.dhash112(ImageHash.grayPng(reversed))
    assert(java.lang.Long.bitCount(ah ^ bh) +
      java.lang.Long.bitCount(av ^ bv) > 6)
  }

  test("area-average resize: a 2x upscale hashes identically") {
    // 16×16 RGB image, each 2×2 block a constant gray (v,v,v) — the
    // integer luma is exactly v, so the box average reproduces the 8×8
    // original and the signature must match bit for bit
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) {
      val v = ramp((y / 2) * 8 + (x / 2)) & 0xff
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    assert(ImageHash.dhash56(out.toByteArray) ==
      ImageHash.dhash56(ImageHash.grayPng(ramp)))
  }

  test("catalog query equals brute-force 112-bit hamming pairs at sf0.001") {
    val rows = SparkEntry.queries("q_image_neardup").run(spark, "/root/testdata/sf0.001")(_.collect())
    // brute-force recompute over the hashed signatures: the banded plan
    // must return EXACTLY the 112-bit hamming ≤ 6 pair set
    val sig = ImageHash.dhashes(spark,
        graft.core.Tables.documents(spark, "/root/testdata/sf0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = (for {
      (ida, ha, va) <- sig; (idb, hb, vb) <- sig
      if ida < idb &&
        java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(va ^ vb) <= 6
    } yield (ida, idb)).toSet
    assert(expect.nonEmpty, "the sf0.001 corpus must yield at least one pair")
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == expect)
    rows.foreach(r => assert(r.getLong(2) <= 6))
  }
}
