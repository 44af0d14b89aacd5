package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.AudioHash

/** Pinned-fixture properties of the perceptual audio fingerprint the
  * DuckDB oracle cannot express: the fingerprint is computed from REAL
  * decoded WAV PCM (codec round-trip exact), two known-similar clips
  * (one perturbed sample) stay within the hamming gate AND share a band
  * (so the banded join actually finds them), and a known-distinct pair
  * is far outside it.
  */
class AudioHashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // sawtooth rising within each frame, frame baselines rising across
  // frames: every adjacent frame-sum comparison is "greater" → all 56
  // bits set. Byte length == Samples so the cyclic fill is the identity.
  private val ramp: Array[Byte] = Array.tabulate(AudioHash.Samples) { k =>
    val frame = k / AudioHash.FrameLen
    (frame * 3 + (k % AudioHash.FrameLen)).toByte
  }

  private def bands(h: Long, v: Long): Seq[Long] =
    (0 until graft.ops.Bands112.Bands)
      .map(i => graft.ops.Bands112.bandVal(h, v, i))

  test("wav render + decode round-trips the exact samples") {
    val wav = AudioHash.monoWav(ramp)
    // a real RIFF/WAVE file, not a bare PCM blob
    assert(new String(wav.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val decoded = AudioHash.pcmSamples(wav)
    assert(decoded.length == AudioHash.Samples)
    assert(decoded.toSeq == ramp.map(_ & 0xff).toSeq)
  }

  test("fingerprint of the rendered WAV equals the hash of the raw samples") {
    val fp = AudioHash.fingerprint56(AudioHash.monoWav(ramp))
    // independent recompute straight from the byte pattern — the WAV
    // encode → AudioSystem decode round trip must not move a sample
    val sums = (0 until AudioHash.Frames).map { f =>
      (0 until AudioHash.FrameLen)
        .map(i => ramp(f * AudioHash.FrameLen + i) & 0xff).sum.toLong
    }
    var expect = 0L
    for (j <- 0 until AudioHash.Bits)
      if (sums(j + 1) > sums(j)) expect |= 1L << j
    assert(fp == expect)
    assert(fp == (1L << 56) - 1, "rising frame sums must set all 56 bits")
    // the lag-2 half: rising sums also win every j+2 vs j compare
    val (h, v) = AudioHash.fingerprint112(AudioHash.monoWav(ramp))
    assert(h == fp)
    assert(v == (1L << 55) - 1, "lag-2 half has 55 bits, all set on a rising ramp")
  }

  test("a one-sample perturbation stays inside the hamming gate and shares a band") {
    val perturbed = ramp.clone()
    // dip one sample of frame 20: changes only that frame's sum, hence
    // at most its two adjacent gradient bits
    perturbed(20 * AudioHash.FrameLen + 3) = 0
    val (ah, av) = AudioHash.fingerprint112(AudioHash.monoWav(ramp))
    val (bh, bv) = AudioHash.fingerprint112(AudioHash.monoWav(perturbed))
    val ham = java.lang.Long.bitCount(ah ^ bh) + java.lang.Long.bitCount(av ^ bv)
    assert(ham > 0, "perturbation must actually change the fingerprint")
    assert(ham <= 4,
      s"one-frame change flips at most 2 lag-1 + 2 lag-2 bits, hamming $ham")
    // the pigeonhole that makes the banded join lossless: ≤6 differing
    // bits over 7 disjoint 16-bit bands leaves at least one band equal
    assert(bands(ah, av).zip(bands(bh, bv)).exists { case (x, y) => x == y })
  }

  test("a distinct clip is far outside the gate") {
    val reversed = ramp.reverse
    val (ah, av) = AudioHash.fingerprint112(AudioHash.monoWav(ramp))
    val (bh, bv) = AudioHash.fingerprint112(AudioHash.monoWav(reversed))
    assert(java.lang.Long.bitCount(ah ^ bh) +
      java.lang.Long.bitCount(av ^ bv) > 6)
  }

  test("catalog query equals brute-force hamming pairs at sf0.001") {
    val rows = SparkEntry.queries("q_audio_neardup")
      .run(spark, "/root/testdata/sf0.001")(_.collect())
    // brute-force recompute over the fingerprints: the banded plan must
    // return EXACTLY the hamming ≤ 6 pair set
    val sig = AudioHash.fingerprints(spark,
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
    // tiny corpus yields no collisions (its first hamming ≤ 6 pairs
    // appear at sf0.1) — every audio doc hashed, fingerprints diverse
    assert(sig.nonEmpty)
    assert(sig.map(t => (t._2, t._3)).distinct.length > sig.length / 2,
      "fingerprints must discriminate distinct clips")
  }
}
