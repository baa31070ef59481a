package graft.text

import org.scalatest.funsuite.AnyFunSuite

/** [[TextOps.bpeLearnLocal]] — the incremental merge loop (interned
  * symbols, pair counts and a pair -> words index updated only for the
  * words a merge touches) against the full-rescan loop it replaced,
  * kept here verbatim as the reference: every round recounts every
  * adjacent pair of every word and rewrites the whole vocabulary.
  * Differential over seeded random vocabularies; pure driver code, no
  * Spark session.
  */
class BpeLocalSpec extends AnyFunSuite {

  private type Vocab = Array[(String, Array[String], Long)]

  private def applyMergeRef(
      syms: Array[String], l: String, r: String, merged: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += merged; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  private def fullRescan(vocab: Vocab, merges: Int): (Seq[(Long, String, String, Long)], Vocab) = {
    var cur = vocab
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    while (learned.size < merges && !exhausted) {
      val cnts = new java.util.HashMap[(String, String), Long]()
      cur.foreach { case (_, syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          cnts.merge((syms(i), syms(i + 1)), c, (a, b) => a + b)
          i += 1
        }
      }
      if (cnts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        cnts.forEach { (k, v) =>
          if (best == null || v > best._2 ||
              (v == best._2 && (TextOps.utf8Lt(k._1, best._1._1) ||
                (k._1 == best._1._1 && TextOps.utf8Lt(k._2, best._1._2)))))
            best = (k, v)
        }
        val ((l, r), cnt) = best
        learned += ((learned.size + 1L, l, r, cnt))
        val m = l + r
        cur = cur.map { case (w, syms, c) =>
          var has = false
          var i = 0
          while (!has && i < syms.length - 1) {
            if (syms(i) == l && syms(i + 1) == r) has = true
            i += 1
          }
          if (has) (w, applyMergeRef(syms, l, r, m), c) else (w, syms, c)
        }
      }
    }
    (learned.toSeq, cur)
  }

  private def codePoints(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** Distinct random words over `alphabet` (code points), 1..maxLen
    * long, with random frequencies in 1..maxFreq. */
  private def randomVocab(
      rnd: scala.util.Random, alphabet: Seq[String], words: Int, maxLen: Int,
      maxFreq: Int): Vocab =
    Seq.fill(words)((0 until 1 + rnd.nextInt(maxLen)).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString)
      .distinct
      .map(w => (w, codePoints(w), 1L + rnd.nextInt(maxFreq)))
      .toArray

  private def assertSame(vocab: Vocab, merges: Int, clue: String): Seq[(Long, String, String, Long)] = {
    // both loops get their own copy: neither may see the other's arrays
    def copy(v: Vocab): Vocab = v.map { case (w, s, c) => (w, s.clone(), c) }
    val (mRef, vRef) = fullRescan(copy(vocab), merges)
    val (mInc, vInc) = TextOps.bpeLearnLocal(copy(vocab), merges)
    assert(mInc === mRef, s"$clue: merge tables diverged")
    def flat(v: Vocab) = v.map { case (w, s, c) => (w, s.toSeq, c) }.toSeq
    assert(flat(vInc) === flat(vRef), s"$clue: final vocabularies diverged")
    mRef
  }

  test("small alphabet with dense symbol sharing") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 20) {
      val v = randomVocab(rnd, "abcd".map(_.toString), words = 60, maxLen = 8, maxFreq = 5)
      assertSame(v, 30, s"abcd trial $trial")
    }
  }

  test("same-symbol runs merge leftmost-first") {
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 20) {
      val v = randomVocab(rnd, Seq("a", "a", "a", "b"), words = 30, maxLen = 12, maxFreq = 4)
      val m = assertSame(v, 20, s"runs trial $trial")
      assert(m.nonEmpty)
    }
    assertSame(Array(("aaaaa", codePoints("aaaaa"), 3L), ("aaa", codePoints("aaa"), 2L)), 5, "aaaaa")
  }

  test("merged strings that collide with existing symbols") {
    // the input may already hold multi-character symbols, so a merge
    // can mint a string that is already a symbol ("a"+"bc" vs "ab"+"c",
    // "a"+"b" vs a pre-merged "ab"): the two must become ONE symbol
    val rnd = new scala.util.Random(13)
    val pieces = Seq("a", "b", "c", "ab", "bc", "abc", "ca")
    for (trial <- 0 until 20) {
      val v = Array.tabulate(40) { i =>
        val syms = Array.fill(1 + rnd.nextInt(6))(pieces(rnd.nextInt(pieces.size)))
        (s"w$i", syms, 1L + rnd.nextInt(4))
      }
      assertSame(v, 25, s"collision trial $trial")
    }
    // pinned: (a,b) -> "ab" joins the existing "ab", so (ab,ab) then
    // counts the pre-merged and the freshly merged symbol together
    val fixed: Vocab = Array(("x", Array("ab", "ab"), 1L), ("y", Array("a", "b", "ab"), 2L))
    val m = assertSame(fixed, 3, "fixed collision")
    assert(m === Seq((1L, "a", "b", 2L), (2L, "ab", "ab", 3L)))
  }

  test("count ties break by UTF-8 order, supplementary code point against BMP") {
    // U+FF21 encodes as EF BC A1, U+1F600 as F0 9F 98 80: UTF-8 (and
    // Spark) order puts the BMP character first, while Java's UTF-16
    // String order puts the surrogate pair (D83D) first
    val bmp = "Ａ"
    val supp = new String(Character.toChars(0x1F600))
    val fixed: Vocab = Array((supp + "x", codePoints(supp + "x"), 1L), (bmp + "x", codePoints(bmp + "x"), 1L))
    assert(assertSame(fixed, 1, "fixed tie").head === ((1L, bmp, "x", 1L)))
    val rnd = new scala.util.Random(17)
    for (trial <- 0 until 20) {
      // every frequency 1: ties on nearly every round
      val v = randomVocab(rnd, Seq("a", "é", bmp, supp, "z"), words = 40, maxLen = 6, maxFreq = 1)
      assertSame(v, 25, s"utf8 trial $trial")
    }
  }

  test("exhaustion before the requested merge count") {
    val rnd = new scala.util.Random(19)
    for (trial <- 0 until 10) {
      val v = randomVocab(rnd, "abc".map(_.toString), words = 20, maxLen = 6, maxFreq = 3)
      val m = assertSame(v, 1000, s"exhaustion trial $trial")
      assert(m.size < 1000, s"trial $trial: expected exhaustion, learned ${m.size}")
    }
    assert(assertSame(Array(("a", Array("a"), 5L)), 3, "single symbol").isEmpty)
    assert(assertSame(Array.empty, 3, "empty vocabulary").isEmpty)
  }
}
