package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String
import graft.TestSpark
import graft.io.DedupIndexIO

/** Exact Jaccard verification runs on per-document sorted token sets
  * ([[TextOps.verifyJaccardCandidates]]); every operator that verifies
  * through it must return exactly what the token-granularity route
  * returns ([[TokenTableMinhash]]: (id, w) rows, an equi-join on the
  * token, a size aggregate). The corpus carries tokens whose UTF-16
  * and UTF-8 orders differ, so a set sorted in Java's order would
  * merge wrongly against one sorted by Spark.
  */
class TokenSetVerifySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // U+E000 < U+FFFD < U+1F600 in UTF-8; U+1F600 (a surrogate pair)
  // sorts first in UTF-16
  private val odd = Seq("\uE000", "\uFFFD", "\uD83D\uDE00", "x\uE000", "x\uD83D\uDE00", "x\uFFFD")

  /** 60 seeded documents over a 60-word vocabulary plus `odd`, each
    * with repeated words and irregular spacing; near-duplicate copies
    * (id + 1000) of the first 30 with one word in eight replaced;
    * single-token documents (two equal ones), all-space and empty
    * texts, a null id carrying a real text and a null text. */
  private def corpus(idType: DataType): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 60).map(i => s"w$i") ++ odd
    def word() = vocab(rnd.nextInt(vocab.length))
    def spaced(ws: Seq[String]) = {
      val sb = new StringBuilder(if (rnd.nextInt(3) == 0) " " else "")
      ws.foreach(w => sb.append(w).append(if (rnd.nextInt(4) == 0) "  " else " "))
      sb.toString
    }
    val bodies = Seq.tabulate(60) { _ =>
      val ws = Seq.fill(18)(word())
      ws ++ ws.take(4) // repeated words
    }
    val base = bodies.zipWithIndex.map { case (ws, i) => (Option(i.toLong), Option(spaced(ws))) }
    val copies = bodies.take(30).zipWithIndex.map { case (ws, i) =>
      (Option(1000L + i), Option(spaced(ws.map(w => if (rnd.nextInt(8) == 0) word() else w))))
    }
    val odds = Seq[(Option[Long], Option[String])](
      (Some(2000L), Some("w1")), (Some(2001L), Some(" w1 ")), (Some(2002L), Some("\uD83D\uDE00")),
      (Some(2003L), Some("   ")), (Some(2004L), Some("")),
      (None, base.head._2), (Some(2005L), None))
    (base ++ copies ++ odds).toDF("doc_id", "text")
      .select(col("doc_id").cast(idType).as("doc_id"), col("text"))
  }

  private def tokOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("id"), explode(TextOps.tokens(col("text"))).as("w")).distinct()

  private def shinglesOf(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id").as("id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("id"), explode(TextOps.shinglesOf(col("toks"), n)).as("w")).distinct()

  /** Every pair sharing an element, by a full self-join on it. */
  private def allSharing(tok: DataFrame): DataFrame =
    tok.as("a").join(tok.as("b"), col("a.w") === col("b.w") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()

  private def rows(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("id_a").cast("long"), col("id_b").cast("long"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def same(what: String, got: DataFrame, want: DataFrame): Unit = {
    val g = rows(got); val w = rows(want)
    assert(g == w && w.nonEmpty,
      s"$what: ${g.size} pairs vs ${w.size}; missing ${(w -- g).take(5)}, extra ${(g -- w).take(5)}")
  }

  test("the token-set order is Spark's string order; tokenSet is the set of tokens") {
    val ws = odd ++ Seq("", "a", "ab", "b", "\u00E9", "\uFFFF", "\uD7FF")
    for (a <- ws; b <- ws) {
      val want = Integer.signum(UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b)))
      assert(Integer.signum(TextOps.utf8Order.compare(a, b)) == want, s"'$a' vs '$b'")
    }
    import spark.implicits._
    val texts = Seq(odd.mkString(" "), "  b a  b ", "", "   ", "\uD83D\uDE00 \uE000 \uD83D\uDE00")
    val want = texts.toDF("text")
      .select(array_sort(array_distinct(TextOps.tokens(col("text"))))).collect()
      .map(_.getSeq[String](0).toList)
    assert(texts.map(t => TextOps.tokenSet(t).toList) == want.toSeq)
  }

  test("LSH routes equal the token-table route: minhashLshPairs, incremental, stored index, fuzzy decontamination") {
    for (t <- Seq[DataType](IntegerType, LongType)) {
      val docs = corpus(t)
      same(s"$t minhashLshPairs",
        TextOps.minhashLshPairs(docs, numHashes = 64, bands = 16, threshold = 0.6),
        TokenTableMinhash.lshPairs(tokOf(docs), 64, 16, 0.6))

      val base = docs.filter(col("doc_id") < 1000 || col("doc_id") >= 2000)
      val incoming = docs.filter(col("doc_id") >= 1000 && col("doc_id") < 2000)
      val want = TokenTableMinhash.probePairs(tokOf(incoming), tokOf(base), 64, 16, 0.6)
      same(s"$t incrementalLshPairs",
        TextOps.incrementalLshPairs(base, incoming, 64, 16, 0.6), want)
      val dir = java.nio.file.Files.createTempDirectory("graft-tsv").toString
      DedupIndexIO.writeIndex(base.filter(col("doc_id") < 30), dir, numHashes = 64, bands = 16)
      DedupIndexIO.appendToIndex(base.filter(!(col("doc_id") < 30)), dir)
      same(s"$t probeIndex", DedupIndexIO.probeIndex(spark, dir, incoming, 0.6), want)

      // fuzzy decontamination: eval ids collide with train ids
      val train = docs
      val eval = incoming.select((col("doc_id") - 1000).cast(t).as("doc_id"), col("text"))
      val gid = (df: DataFrame, tag: Int) =>
        tokOf(df.select((col("doc_id").cast("long") * 2 + tag).as("doc_id"), col("text")))
      val flagged = TokenTableMinhash.probePairs(gid(train, 0), gid(eval, 1), 64, 16, 0.6)
        .select(col("id_a").as("flag")).distinct()
      def docRows(df: DataFrame) = df.collect().map(r => (Option(r.get(0)), Option(r.getString(1)))).toSet
      val wantKept = docRows(train.join(flagged, col("doc_id").cast("long") * 2 === col("flag"), "left_anti"))
      val gotKept = docRows(CorpusOps.fuzzyDecontaminate(train, eval, 64, 16, 0.6))
      assert(gotKept == wantKept && wantKept.size < docRows(train).size,
        s"$t fuzzyDecontaminate kept ${gotKept.size} vs ${wantKept.size}")
    }
  }

  test("prefix-filter and n-gram routes equal the full token-granularity join") {
    for (t <- Seq[DataType](IntegerType, LongType)) {
      val docs = corpus(t)
      val tok = tokOf(docs)
      same(s"$t jaccardPairs", TextOps.jaccardPairs(docs, 0.6),
        TokenTableMinhash.verify(tok, allSharing(tok), 0.6))
      val sh = shinglesOf(docs, 2)
      val wantNgram = TokenTableMinhash.verify(sh, allSharing(sh), 0.4)
      same(s"$t ngramJaccardPairs", TextOps.ngramJaccardPairs(docs, 2, 0.4), wantNgram)
      // candidates arrive twice, and with pairs that share nothing
      val cand = allSharing(sh).union(allSharing(sh))
        .union(allSharing(tok).select(col("id_a"), col("id_b")))
      same(s"$t verifyPairsNgramJaccard",
        TextOps.verifyPairsNgramJaccard(docs, cand, 2, 0.4),
        TokenTableMinhash.verify(sh, cand.distinct(), 0.4))
    }
  }

  test("LSH results do not depend on partition count, AQE or broadcast joins") {
    val docs = corpus(LongType)
    val base = docs.filter(col("doc_id") < 1000 || col("doc_id") >= 2000)
    val incoming = docs.filter(col("doc_id") >= 1000 && col("doc_id") < 2000)
    def results(): Seq[Set[String]] = Seq(
      TextOps.minhashLshPairs(docs, 64, 16, 0.6),
      TextOps.incrementalLshPairs(base, incoming, 64, 16, 0.6),
      CorpusOps.fuzzyDecontaminate(docs, incoming, 64, 16, 0.6)
    ).map(_.collect().map(_.toString).toSet)
    val want = results()
    assert(want.forall(_.nonEmpty))
    val settings = Seq(
      Map("spark.sql.shuffle.partitions" -> "1"),
      Map("spark.sql.shuffle.partitions" -> "7"),
      Map("spark.sql.adaptive.enabled" -> "false"),
      Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"))
    for (conf <- settings) {
      val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val got = results()
        Seq("minhashLshPairs", "incrementalLshPairs", "fuzzyDecontaminate").zip(got.zip(want))
          .foreach { case (op, (g, w)) => assert(g == w, s"$op under $conf: ${g.size} rows vs ${w.size}") }
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
