package graft.text

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** [[UnigramOps]] — the unigram-LM (SentencePiece hard-EM) tokenizer.
  * Pins the behaviors the corpus-scale hash-match can't localize: the
  * packed-composite Viterbi optimum (cost, then fewest tokens), the
  * backward longest-consistent-piece tie-break, exact hand-computed
  * seed/EM tables on a micro corpus, Viterbi optimality vs brute-force
  * segmentation enumeration, and the coverage invariant (single chars
  * never pruned, so every word stays segmentable). The corpus-scale
  * results are hash-matched against the recursive-CTE DuckDB oracles
  * (`q_unigram_train` / `q_unigram_segment` / `q_unigram_encode`).
  */
class UnigramSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def docsOf(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  private def seg(w: String, cost: Map[String, Long], maxLen: Int) =
    UnigramOps.viterbiSegment(w, cost, maxLen)

  test("viterbi picks the cheaper packed composite (cost before count)") {
    val cost = Map("a" -> 5L, "b" -> 4L, "ab" -> 2L)
    assert(seg("ab", cost, 2)._1 === List("ab"))
    assert(seg("abab", cost, 2)._1 === List("ab", "ab"))
    // composite decode: nt in the low 11 bits, cost above
    val (pieces, packed) = seg("abab", cost, 2)
    assert(packed % 2048L === pieces.length.toLong)
    assert(packed / 2048L === pieces.map(cost).sum)
  }

  test("equal-composite tie resolves to the LONGEST final piece") {
    // "aab" with {a:5, aa:10, ab:8, b:3}: both a|ab and aa|b reach
    // packed (13*2048 + 2); the backward walk's MAX(L) rule must pick
    // the longer LAST piece -> a|ab (the oracle's MAX(ls.L) exactly)
    val cost = Map("a" -> 5L, "aa" -> 10L, "ab" -> 8L, "b" -> 3L)
    val (pieces, packed) = seg("aab", cost, 2)
    assert(packed === 13L * 2048L + 2L)
    assert(pieces === List("a", "ab"))
  }

  test("viterbi equals brute-force enumeration on every short word") {
    // exhaustive check of optimality: all segmentations of words up to
    // length 6 over a random-ish cost table; the DP must match the
    // minimum packed composite found by enumeration
    val cost = Map("a" -> 7L, "b" -> 9L, "c" -> 4L, "ab" -> 11L,
      "bc" -> 10L, "ca" -> 6L, "abc" -> 19L, "cab" -> 13L, "aa" -> 12L)
    def enumerate(w: String): Seq[List[String]] =
      if (w.isEmpty) Seq(Nil)
      else (1 to math.min(3, w.length)).flatMap { l =>
        val h = w.substring(0, l)
        if (cost.contains(h)) enumerate(w.substring(l)).map(h :: _) else Nil
      }
    for (w <- Seq("abc", "cabc", "aabbcc", "cababc", "aaa", "abcabc")) {
      val best = enumerate(w)
        .map(p => p.map(cost).sum * 2048L + p.length).min
      assert(seg(w, cost, 3)._2 === best, s"word $w")
    }
  }

  test("hand-computed seed + one EM round on a micro corpus") {
    // corpus "ab ab b": words ab(2), b(1); maxLen=2, seedMulti=2
    // seed: chars a:2 b:3, multi ab:2 -> tot 7
    //   cost(a)=round(1e6 ln(7/2))=1252763  cost(b)=round(1e6 ln(7/3))=847298
    //   cost(ab)=1252763
    // viterbi: "ab" -> [ab] (1252763*2048+1 < (1252763+847298)*2048+2),
    //          "b" -> [b]
    // EM counts: ab:2 b:1 -> chars a:0+1=1 b:1+1=2, multi ab:2 -> tot 5
    //   cost(a)=round(1e6 ln 5)=1609438  cost(b)=cost(ab)=round(1e6 ln 2.5)=916291
    val out = UnigramOps.unigramTrain(docsOf("ab ab b"),
      maxPieceLen = 2, seedMulti = 2, iters = 1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq(
      ("a", 1L, 1609438L), ("ab", 2L, 916291L), ("b", 2L, 916291L)))
  }

  test("unused multi-char pieces are pruned; chars never are") {
    // corpus "xy yx": seed multi candidates xy:1 yx:1 (both kept at
    // seedMulti=2); after EM, both words segment via their own piece,
    // so both survive; with seedMulti=1 only 'xy' seeds and 'yx'
    // segments as chars -> x,y keep counts, xy survives
    val t1 = UnigramOps.unigramTrain(docsOf("xy yx"),
      maxPieceLen = 2, seedMulti = 1, iters = 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(t1.keySet === Set("x", "y", "xy"))
    // x,y each used once by "yx" (+1 floor): 2 each; xy used once
    assert(t1("x") === 2L && t1("y") === 2L && t1("xy") === 1L)
  }

  test("segments and encode are mutually consistent on a real corpus") {
    val docs = docsOf("the cat sat", "the hat", "cat cat hat")
    val (vocab, words) =
      UnigramOps.unigramArtifacts(docs, maxPieceLen = 3, seedMulti = 8, iters = 2)
    val segs = UnigramOps.unigramSegmentsFromVocab(words, vocab, maxPieceLen = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    // every word reassembles from its pieces; nt == piece count
    segs.foreach { case (w, _, s, nt, _) =>
      assert(s.split(" ").mkString === w)
      assert(s.split(" ").length.toLong === nt)
    }
    val enc = UnigramOps.unigramEncodeFromVocab(docs, words, vocab, maxPieceLen = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val perWord = segs.map(s => (s._1, (s._4, s._5))).toMap
    // doc 0 "the cat sat": sums over its words
    val w0 = Seq("the", "cat", "sat")
    assert(enc(0)._2 === 3L)
    assert(enc(0)._3 === w0.map(perWord(_)._1).sum)
    assert(enc(0)._4 === w0.map(perWord(_)._2).sum)
  }

  test("training is deterministic across repeated runs") {
    val d = docsOf("spark scan sort", "scan sort merge", "sort sort spark")
    val a = UnigramOps.unigramTrain(d, 3, 8, 2).collect().toSeq
    val b = UnigramOps.unigramTrain(d, 3, 8, 2).collect().toSeq
    assert(a === b)
  }

  test("coverage guard: unknown character fails loudly, not silently") {
    val e = intercept[IllegalArgumentException] {
      UnigramOps.viterbiSegment("xyz", Map("x" -> 1L, "y" -> 1L), 2)
    }
    assert(e.getMessage.contains("unsegmentable"))
  }

  test("unigram hybrid: local seed+EM == forced-distributed loop (A/B)") {
    // the bounded-local gate contract: the trained piece table
    // must be identical whichever side of the bound the distinct-word
    // vocabulary lands on. Fixture with seed-frequency ties (so the
    // (freq DESC, piece ASC) cut order is exercised) and enough EM
    // movement that multi pieces are pruned/rescored.
    val docs = docsOf(
      "spark scan sort merge", "scan sort merge spark spark",
      "sort sort scan parka park", "merge parka spark scan")
    def run() = UnigramOps
      .unigramTrain(docs, maxPieceLen = 3, seedMulti = 12, iters = 2)
      .collect().map(_.toSeq).toSeq
    val local = run()
    val (dist, moved) = graft.model.BoundedLocal.forcing(0L)(run())
    assert(moved >= 1, "the forced bound never reached the unigram gate")
    assert(local === dist, "unigram training: local diverged from distributed")
    assert(local.nonEmpty)
  }
}
