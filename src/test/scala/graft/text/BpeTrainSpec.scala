package graft.text

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** [[TextOps.bpeTrain]] — hand-computed merge tables pinning the three
  * behaviors SQL-level compare can miss at corpus scale: greedy
  * leftmost non-overlapping application inside same-symbol runs,
  * early exhaustion (fewer learnable merges than requested), and the
  * deterministic (count DESC, left, right) winner tie-break. The
  * corpus-scale result is hash-matched against the unrolled-CTE
  * DuckDB oracle (`q_bpe_train`).
  */
class BpeTrainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def docsOf(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  private def table(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, String, Long)] =
    df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  test("same-symbol runs merge leftmost-first, then cascade") {
    // "aaaa": (a,a) occurs at 3 positions; greedy non-overlap applies
    // positions 1 and 3 -> (aa)(aa); round 2 merges (aa,aa) once;
    // round 3 finds no pairs and stops even though merges=5
    val out = table(TextOps.bpeTrain(docsOf("aaaa"), merges = 5))
    assert(out === Seq((1L, "a", "a", 3L), (2L, "aa", "aa", 1L)))
  }

  test("odd-length run keeps its trailing symbol") {
    // "aaaaa": candidates at 4 positions, applied at 1 and 3 ->
    // (aa)(aa)a; round 2: (aa,aa)=1 beats (aa,a)=1 on the left
    // tie-break? both pairs are ('aa','aa') and ('aa','a'):
    // counts 1 and 1, tie-break left equal, right 'a' < 'aa'
    // -> ('aa','a') wins -> (aa)(aaa)?? No: merging (aa,a) consumes
    // the SECOND 'aa' and the trailing 'a' -> symbols (aa)(aa a).
    val out = table(TextOps.bpeTrain(docsOf("aaaaa"), merges = 2))
    assert(out(0) === ((1L, "a", "a", 4L)))
    // round 2: symbols are aa,aa,a -> pairs (aa,aa)=1 and (aa,a)=1;
    // tie-break orders ('aa','a') before ('aa','aa')
    assert(out(1) === ((2L, "aa", "a", 1L)))
  }

  test("winner tie-break is (count DESC, left, right)") {
    // (a,b) and (c,d) both count 2 -> lexicographically smaller left
    // symbol wins round 1
    val out = table(TextOps.bpeTrain(docsOf("ab cd", "ab cd"), merges = 1))
    assert(out === Seq((1L, "a", "b", 2L)))
  }

  test("frequency weighting uses word counts, not distinct words") {
    // "xy" appears 3 times, "zz" twice: (x,y)=3 beats (z,z)=2
    val out = table(TextOps.bpeTrain(docsOf("xy xy zz", "xy zz"), merges = 2))
    assert(out(0) === ((1L, "x", "y", 3L)))
    assert(out(1) === ((2L, "z", "z", 2L)))
  }

  test("merged symbols participate in later rounds") {
    // "abab": (a,b)=2 -> (ab)(ab); round 2 merges (ab,ab)=1
    val out = table(TextOps.bpeTrain(docsOf("abab"), merges = 3))
    assert(out === Seq((1L, "a", "b", 2L), (2L, "ab", "ab", 1L)))
  }

  test("bpeEncode counts tokens under the learned merges") {
    // corpus "abab ab cd", "ab": vocab abab(1) ab(2) cd(1).
    // round 1: (a,b)=4 -> abab=[ab,ab], ab=[ab], cd unchanged;
    // round 2: pairs (ab,ab)=1 (c,d)=1, tie-break left 'ab' < 'c'
    // -> abab=[abab]. Final token counts: abab->1, ab->1, cd->2.
    val out = TextOps.bpeEncode(docsOf("abab ab cd", "ab"), merges = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1).toSeq
    assert(out === Seq((0L, 3L, 4L, 1.333333), (1L, 1L, 1L, 1.0)))
  }

  test("wordpieceEncode agrees with bpeEncode when greedy never overshoots") {
    // same corpus as the bpeEncode case: final symbols {abab, ab, c, d};
    // greedy: abab->[abab], ab->[ab], cd->[c][d] — the BPE counts
    val out = TextOps.wordpieceEncode(docsOf("abab ab cd", "ab"), merges = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(_._1).toSeq
    assert(out === Seq((0L, 3L, 4L, 0L, 1.333333), (1L, 1L, 1L, 0L, 1.0)))
  }

  test("wordpieceEncode maps a greedy-stuck word to one [UNK]") {
    // merges=3 learns (a,b), (c,d), (ab,c) -> final segmentations
    // abcd=[ab,cd], ab=[ab], cd=[cd], abc=[abc]; piece inventory
    // {ab, cd, abc} has no standalone 'd', so greedy on "abcd" takes
    // the overshooting "abc" and then sticks -> [UNK] (nt=1, unk=1),
    // where merge-order inference happily emits [ab, cd]
    val docs = docsOf("abcd ab ab cd cd abc")
    val wp = TextOps.wordpieceEncode(docs, merges = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(wp === Seq((0L, 6L, 6L, 1L, 1.0)))
    val bpe = TextOps.bpeEncode(docs, merges = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(bpe === Seq((6L, 7L)), "merge-order inference must still encode abcd as [ab, cd]")
  }

  test("bpeEncode fertility is 1.0 when every word fully merges") {
    // single distinct word -> merges collapse it to one symbol
    val out = TextOps.bpeEncode(docsOf("abcd abcd", "abcd"), merges = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq
    assert(out === Seq((0L, 2L), (1L, 1L)))
  }

  test("batched rounds reproduce the sequential merge table exactly at the oracle's setting") {
    // the guarded prefix is DESIGNED to be sequential-equivalent; this
    // pins it empirically at corpus scale for the q_bpe_train setting
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val seqT = table(TextOps.bpeTrain(docs, merges = 10))
    for (b <- Seq(2, 8, 64))
      assert(table(TextOps.bpeTrain(docs, merges = 10, batch = b)) === seqT,
        s"batch=$b diverged from sequential")
  }

  test("batched == sequential on randomized adversarial corpora (merges AND vocabulary)") {
    // small alphabet -> dense symbol sharing, same-symbol runs, and
    // merged-string/symbol collisions — the cases the acceptance
    // guards exist for. Differential over seeded random corpora.
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 4) {
      val alpha = "abcd"
      val vocabWords = (0 until 24).map(_ =>
        (0 until (1 + rnd.nextInt(6))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
      val texts = (0 until 8).map(_ =>
        (0 until 16).map(_ => vocabWords(rnd.nextInt(vocabWords.size))).mkString(" "))
      val docs = docsOf(texts: _*)
      val a = TextOps.bpeLearn(docs, 12, "text", batch = 1)
      val b = TextOps.bpeLearn(docs, 12, "text", batch = 5)
      assert(a._1 === b._1, s"trial $trial: merge tables diverged")
      def vocab(d: org.apache.spark.sql.Dataset[(String, Array[String], Long)]) =
        d.collect().map { case (w, s, c) => (w, s.toSeq, c) }.sortBy(_._1).toSeq
      assert(vocab(a._2()) === vocab(b._2()), s"trial $trial: final vocabularies diverged")
    }
  }

  test("merges=1000 exhausts the corpus vocabulary in batched rounds") {
    // the production-shaped parameter range: the loop must run far past
    // the old 64-merge cap and stop itself when no pairs remain (every
    // distinct word collapsed to one symbol)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (m, w) = TextOps.bpeLearn(docs, 1000, "text", batch = 64)
    assert(m.nonEmpty && m.size < 1000, s"expected exhaustion, learned ${m.size}")
    assert(m.map(_._1) === (1L to m.size.toLong), "merge ranks must be consecutive")
    val finals = w().collect()
    assert(finals.forall(_._2.length == 1),
      "exhaustion means every distinct word is one symbol")
  }

  test("winning-pair counts never increase across rounds") {
    // merging (a,b) can only shrink other pairs' counts and creates
    // pairs bounded by the number of applied merges, so the learned
    // table's counts are non-increasing — asserted on real corpus data
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val counts = table(TextOps.bpeTrain(docs, merges = 8)).map(_._4)
    assert(counts.size === 8)
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      s"counts increased: $counts")
  }

  test("bpe hybrid: local merge loop == forced-distributed batched loop (A/B)") {
    // the bounded-local gate contract (the CC A/B precedent): the
    // learned merge table AND the final vocabulary symbol table must
    // be identical whichever side of the bound the vocabulary lands
    // on. Tie-heavy fixture with same-symbol runs (greedy leftmost
    // semantics) and batch > 1 so the distributed side exercises the
    // guarded-prefix acceptance against the local side's sequential
    // reference loop.
    val docs = docsOf(
      "aaaa bbb ab ab cd cd cd", "xy xy zz aaaa ab", "ab cd xy zz bbb")
    def artifacts() = {
      val (m, w) = TextOps.bpeArtifacts(docs, merges = 6, batch = 4)
      (m.collect().map(_.toSeq).toSeq.sortBy(_.toString),
        w.collect().map(r => (r.getString(0),
          r.getSeq[String](1).toList, r.getLong(2))).sortBy(_._1).toSeq)
    }
    val (mL, wL) = artifacts()
    val ((mD, wD), moved) = graft.model.BoundedLocal.forcing(0L)(artifacts())
    assert(moved >= 1, "the forced bound never reached the BPE gate")
    assert(mL === mD, "merge table: local diverged from distributed")
    assert(wL === wD, "final vocab: local diverged from distributed")
    assert(mL.nonEmpty && wL.nonEmpty)
  }
}
