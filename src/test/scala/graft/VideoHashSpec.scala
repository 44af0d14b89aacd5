package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.VideoHash

/** Pinned-fixture properties of the temporal video fingerprint: the
  * time-slice carve partitions the clip exactly, a one-segment edit
  * stays within the hamming gate AND shares a band (so the banded join
  * actually finds it), a distinct clip is far outside it, the mean
  * compare is width-pattern-free (a frame-rate-doubled clip
  * fingerprints identically), and short clips' empty slices lose the
  * strict compare deterministically.
  */
class VideoHashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // 570 bytes = 57 slices of exactly 10; slice f's bytes are all
  // (f * 4 + 3) so slice means rise strictly across the grid
  private val clip: Array[Byte] = Array.tabulate(570)(p => (p / 10 * 4 + 3).toByte)

  private def bands(h: Long, v: Long): Seq[Long] =
    (0 until graft.ops.Bands112.Bands)
      .map(i => graft.ops.Bands112.bandVal(h, v, i))

  test("time-slice carve partitions the clip: widths sum to len, energies to the byte sum") {
    val (e, w) = VideoHash.spanStats(clip)
    assert(e.length == 57 && w.length == 57)
    assert(w.sum == clip.length && w.forall(_ == 10))
    assert(e.sum == clip.map(_ & 0xff).map(_.toLong).sum)
    (0 until 57).foreach(f => assert(e(f) == 10L * (f * 4 + 3)))
  }

  test("strictly rising slice means set all 56 lag-1 and 55 lag-2 bits") {
    val (h, v) = VideoHash.fingerprint112(clip)
    assert(h == (1L << 56) - 1)
    assert(h == VideoHash.fingerprint56(VideoHash.spanStats(clip)))
    assert(v == (1L << 55) - 1, "lag-2 half has 55 bits, all set on a rising ramp")
  }

  test("a one-segment edit stays inside the hamming gate and shares a band") {
    val perturbed = clip.clone()
    // zero out one interior slice: perturbs one grid point, hence at
    // most its two adjacent gradient bits
    (200 until 210).foreach(i => perturbed(i) = 0)
    val (ah, av) = VideoHash.fingerprint112(clip)
    val (bh, bv) = VideoHash.fingerprint112(perturbed)
    val ham = java.lang.Long.bitCount(ah ^ bh) + java.lang.Long.bitCount(av ^ bv)
    assert(ham > 0, "the edit must actually change the fingerprint")
    assert(ham <= 4,
      s"one-slice edit flips at most 2 lag-1 + 2 lag-2 bits, hamming $ham")
    // the pigeonhole that makes the banded join lossless: ≤6 differing
    // bits over 7 disjoint 16-bit bands leaves at least one band equal
    assert(bands(ah, av).zip(bands(bh, bv)).exists { case (x, y) => x == y })
  }

  test("a distinct clip is far outside the gate") {
    val reversed = clip.reverse
    val (ah, av) = VideoHash.fingerprint112(clip)
    val (bh, bv) = VideoHash.fingerprint112(reversed)
    assert(java.lang.Long.bitCount(ah ^ bh) +
      java.lang.Long.bitCount(av ^ bv) > 6)
  }

  test("mean compare is width-free: a frame-rate-doubled clip fingerprints identically") {
    // every byte duplicated: twice the width and twice the energy per
    // slice (570 = 57·10, so slice boundaries align exactly) — sums
    // differ, means don't, and the signature must match bit for bit.
    // This is the property the sum-gradient design FAILED: its bits
    // tracked the slice-width pattern, a pure function of len.
    val doubled = clip.flatMap(b => Array(b, b))
    val a = VideoHash.fingerprint112(clip)
    val b = VideoHash.fingerprint112(doubled)
    assert(a == b)
    val (e2, w2) = VideoHash.spanStats(doubled)
    assert(w2.forall(_ == 20) && e2.toSeq ==
      VideoHash.spanStats(clip)._1.map(_ * 2).toSeq)
  }

  test("short clips: unreached slices read (0,0) and never win the strict compare") {
    val short = Array.tabulate(5)(i => (50 + i * 40).toByte)
    val (e, w) = VideoHash.spanStats(short)
    assert(w.sum == 5 && w.count(_ > 0) == 5)
    val fp = VideoHash.fingerprint56((e, w))
    // an empty slice (w=0) compares 0·w > e·0 ⟺ 0 > 0 — always false,
    // so bits only arise between two occupied adjacent slices
    val occupiedAdjacent = (0 until 56).count(j => w(j) > 0 && w(j + 1) > 0)
    assert(java.lang.Long.bitCount(fp) <= occupiedAdjacent)
  }

  test("catalog query equals brute-force hamming pairs at sf0.001") {
    val rows = SparkEntry.queries("q_video_neardup").run(spark, "/root/testdata/sf0.001")(_.collect())
    val sig = VideoHash.fingerprints(spark,
        graft.core.Tables.documents(spark, "/root/testdata/sf0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = (for {
      (ida, ha, va) <- sig; (idb, hb, vb) <- sig
      if ida < idb &&
        java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(va ^ vb) <= 6
    } yield (ida, idb)).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == expect)
    rows.foreach(r => assert(r.getLong(2) <= 6))
    // the fingerprint relation itself must be non-trivial even when the
    // tiny corpus yields no collisions — every video doc hashed,
    // fingerprints diverse (the sum-gradient design managed only 22
    // distinct values here; the mean design discriminates fully)
    assert(sig.nonEmpty)
    assert(sig.map(t => (t._2, t._3)).distinct.length > sig.length / 2,
      "fingerprints must discriminate distinct clips")
  }
}
