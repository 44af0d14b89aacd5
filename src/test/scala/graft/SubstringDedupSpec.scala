package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.TextAnalysis

/** Pins q_substring_dedup's span semantics (TextAnalysis.substringSpans)
  * at the L boundary and against an independent brute-force reference.
  *
  * The claim being pinned: with the suffix sort key fixed at depth L, a
  * repeated substring of length s >= L is exactly a run of s - L + 1
  * consecutive duplicated window starts — so maximal spans come back
  * with EXACT bounds, and a repeat of length L - 1 is silent.
  */
class SubstringDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val L = 16

  // filler tokens unique across the whole corpus: no accidental repeats
  private var uid = 0
  private def fresh(n: Int): Seq[String] =
    (0 until n).map { _ => uid += 1; s"u$uid" }

  private def spans(docs: Seq[(Long, String)]): Seq[(Long, Long, Long, Long)] = {
    import spark.implicits._
    graft.core.Pins.using(TextAnalysis.substringSpans(docs.toDF("doc_id", "text"), L, _)
      .collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
  }

  test("a repeat of exactly L-1 tokens is silent (below the boundary)") {
    val shared = (0 until L - 1).map(i => s"r$i")
    val d1 = (fresh(5) ++ shared ++ fresh(7)).mkString(" ")
    val d2 = (fresh(9) ++ shared ++ fresh(3)).mkString(" ")
    assert(spans(Seq((1L, d1), (2L, d2))).isEmpty)
  }

  test("a repeat of exactly L tokens is found with exact bounds in both docs") {
    val shared = (0 until L).map(i => s"r$i")
    val d1 = (fresh(5) ++ shared ++ fresh(7)).mkString(" ")   // starts at token 6
    val d2 = (fresh(9) ++ shared ++ fresh(3)).mkString(" ")   // starts at token 10
    assert(spans(Seq((1L, d1), (2L, d2))) == Seq(
      (1L, 6L, 6L + L - 1, L.toLong),
      (2L, 10L, 10L + L - 1, L.toLong)))
  }

  test("a longer repeat is one maximal span with exact bounds, not fragments") {
    val s = L + 9
    val shared = (0 until s).map(i => s"r$i")
    val d1 = (shared ++ fresh(4)).mkString(" ")               // starts at token 1
    val d2 = (fresh(2) ++ shared).mkString(" ")               // starts at token 3
    assert(spans(Seq((1L, d1), (2L, d2))) == Seq(
      (1L, 1L, s.toLong, s.toLong),
      (2L, 3L, 3L + s - 1, s.toLong)))
  }

  test("a within-doc repeat counts: both occurrences are scrubbed") {
    val shared = (0 until L).map(i => s"r$i")
    val d = (fresh(3) ++ shared ++ fresh(L) ++ shared).mkString(" ")
    // occurrences at tokens 4 and 4 + L + L = 2L + 4
    assert(spans(Seq((1L, d))) == Seq(
      (1L, 4L, 4L + L - 1, L.toLong),
      (1L, (2 * L + 4).toLong, (3 * L + 3).toLong, L.toLong)))
  }

  private def scrub(docs: Seq[(Long, String)]): Seq[(Long, Long, Long, Double)] = {
    import spark.implicits._
    graft.core.Pins.using(TextAnalysis.substringScrubRetention(docs.toDF("doc_id", "text"), L, _)
      .collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
  }

  test("scrub counts overlapping spans as an interval union, not a sum") {
    // doc1 carries L+2 tokens c_1..c_{L+2}; doc2 repeats c_1..c_L and
    // doc3 repeats c_3..c_{L+2}, so doc1's duplicated window starts are
    // {4, 6} with 5 silent — two report spans [4, L+3] and [6, L+5]
    // whose token coverage OVERLAPS. The scrub must remove their union
    // (L+2 tokens), not the 2L sum of their lengths.
    val c = (1 to L + 2).map(i => s"c$i")
    val corpus = Seq(
      1L -> (fresh(3) ++ c).mkString(" "),
      2L -> (fresh(2) ++ c.take(L) ++ fresh(2)).mkString(" "),
      3L -> (fresh(4) ++ c.drop(2) ++ fresh(1)).mkString(" "))
    assert(spans(corpus).filter(_._1 == 1L) == Seq(
      (1L, 4L, (L + 3).toLong, L.toLong),
      (1L, 6L, (L + 5).toLong, L.toLong)))
    assert(scrub(corpus) == Seq(
      (1L, (L + 5).toLong, (L + 2).toLong, 3.0 / (L + 5)),
      (2L, (L + 4).toLong, L.toLong, 4.0 / (L + 4)),
      (3L, (L + 5).toLong, L.toLong, 5.0 / (L + 5))))
  }

  test("scrub equals the interval union of the report's spans (randomized)") {
    val rnd = new scala.util.Random(20260814L)
    for (round <- 0 until 5) {
      uid += 200000
      val base = Array.fill(6)(fresh(60 + rnd.nextInt(60)).toVector)
      val docs = base.map(_.toBuffer)
      (0 until 4).foreach { k =>
        val len = L - 2 + rnd.nextInt(15)
        val run = (0 until len).map(i => s"s${round}x${k}x$i")
        val a = rnd.nextInt(docs.length)
        val b = rnd.nextInt(docs.length)
        docs(a).insertAll(rnd.nextInt(docs(a).length + 1), run)
        docs(b).insertAll(rnd.nextInt(docs(b).length + 1), run)
      }
      val corpus = docs.zipWithIndex.map { case (t, i) =>
        ((i + 1).toLong, t.mkString(" "))
      }.toSeq
      // report/scrub share one relation: per doc, n_removed must be
      // EXACTLY the size of the union of the report's span intervals,
      // and every doc (spanless ones included) must appear
      val sp = spans(corpus)
      val expected = corpus.map { case (id, t) =>
        val n = t.split(" ").length.toLong
        val covered = sp.filter(_._1 == id)
          .flatMap(s => s._2 to s._3).toSet.size.toLong
        (id, n, covered, (n - covered).toDouble / n)
      }
      assert(scrub(corpus) == expected, s"round $round diverged")
    }
  }

  test("randomized corpora match an independent brute-force reference (seeded)") {
    val rnd = new scala.util.Random(20260814L)
    for (round <- 0 until 10) {
      // 6 docs of unique filler; plant 4 shared runs of length L-2..L+12
      // at random positions in random doc pairs (insertion keeps the
      // filler unique, so ONLY the planted runs can repeat)
      uid += 100000 // fresh namespace per round
      val base = Array.fill(6)(fresh(60 + rnd.nextInt(60)).toVector)
      val docs = base.map(_.toBuffer)
      (0 until 4).foreach { k =>
        val len = L - 2 + rnd.nextInt(15)
        // alnum-only tokens: Text.tokens turns punctuation into spaces,
        // which would silently re-tokenize vs the reference split below
        val run = (0 until len).map(i => s"p${round}x${k}x$i")
        val a = rnd.nextInt(docs.length)
        val b = rnd.nextInt(docs.length)
        docs(a).insertAll(rnd.nextInt(docs(a).length + 1), run)
        docs(b).insertAll(rnd.nextInt(docs(b).length + 1), run)
      }
      val corpus = docs.zipWithIndex.map { case (t, i) =>
        ((i + 1).toLong, t.mkString(" "))
      }.toSeq
      // brute force: every L-window string counted corpus-wide; a start
      // is duplicated iff its window occurs >= 2 times; merge runs
      val toksByDoc = corpus.map { case (id, t) => id -> t.split(" ").toVector }
      val counts = scala.collection.mutable.Map.empty[String, Int]
      toksByDoc.foreach { case (_, ts) =>
        (0 to ts.length - L).foreach { i =>
          val w = ts.slice(i, i + L).mkString(" ")
          counts(w) = counts.getOrElse(w, 0) + 1
        }
      }
      val expected = toksByDoc.flatMap { case (id, ts) =>
        val dupStarts = (0 to ts.length - L)
          .filter(i => counts(ts.slice(i, i + L).mkString(" ")) >= 2)
          .map(_ + 1) // 1-based
        // merge consecutive starts into maximal runs
        val runs = dupStarts.foldLeft(List.empty[(Int, Int)]) {
          case ((s0, e0) :: rest, p) if p == e0 + 1 => (s0, p) :: rest
          case (acc, p) => (p, p) :: acc
        }.reverse
        runs.map { case (s0, e0) =>
          (id, s0.toLong, (e0 + L - 1).toLong, (e0 + L - s0).toLong)
        }
      }
      assert(spans(corpus) == expected, s"round $round diverged")
    }
  }
}
