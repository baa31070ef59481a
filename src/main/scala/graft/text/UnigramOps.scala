package graft.text

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** UNIGRAM-LM TOKENIZER (Kudo, ACL 2018, "Subword Regularization:
  * Improving Neural Network Translation Models with Multiple Subword
  * Candidates" — the SentencePiece unigram model), completing the
  * tokenizer-training trio next to BPE ([[TextOps.bpeTrain]]) and
  * WordPiece greedy inference ([[TextOps.wordpieceEncode]]).
  *
  * Training is the HARD-EM (Viterbi-count) variant: seed a candidate
  * inventory from corpus substring frequencies (SentencePiece's own
  * seeding recipe), then iterate (Viterbi-segment every distinct word
  * under the current piece costs → re-estimate piece frequencies from
  * the segmentation counts → drop multi-character pieces with zero
  * count). Character coverage is 1.0 by construction: every
  * single-character piece survives every round with a +1 frequency
  * floor (the `required_chars` analog), so every word stays
  * segmentable and no [UNK] path is needed.
  *
  * DETERMINISM CONTRACT (what makes the DuckDB oracle replay this
  * bit-for-bit): piece costs are INTEGER micro-nats,
  * `round(1e6 * ln(total_freq / piece_freq))`, and the Viterbi DP
  * runs over a single packed BIGINT per prefix —
  * `composite = cost_sum * 2048 + token_count` — so "minimum cost,
  * then fewest tokens" is one integer `min` with no float compares
  * inside the DP. Path extraction walks backward choosing the
  * LONGEST piece consistent with the packed optimum at each step; the
  * same rule is one `MAX(L)` per step in the oracle's recursive CTE.
  * Seed top-K selection is totally ordered by (freq DESC, piece ASC).
  *
  * Distributed shape (the one that survives 100 TB): the corpus is
  * scanned ONCE and compressed to the distinct-word vocabulary with
  * frequencies (the same compression [[TextOps.bpeLearn]] rides);
  * seeding is one substring explosion + aggregation over that
  * vocabulary; each EM round is one flatMap over the distinct words
  * against the BROADCAST piece-cost map plus one piece-keyed
  * aggregation (map-side combined, piece-cardinality keys), and the
  * only driver-side state is the tokenizer-sized piece table
  * (alphabet + `seedMulti` rows, bounded by construction — the same
  * contract as [[TextOps.wordpiecePieces]]). No per-occurrence work
  * after the first scan, no corpus-wide window, no data-sized
  * collect.
  */
object UnigramOps {

  /** Max supported word length in code points: the DP packs
    * token_count into 11 low bits of the composite. Loud guard, not
    * silent truncation.
    */
  private val MaxWordCp = 2047

  /** Integer micro-nat piece cost: `round(1e6 * ln(total / freq))`.
    * Mirrored exactly by the oracle's
    * `CAST(ROUND(1000000 * ln(CAST(total AS DOUBLE) / freq)) AS BIGINT)`
    * (positive argument, so Java round == SQL round-half-away).
    */
  private def costOf(total: Long, freq: Long): Long =
    math.round(1e6 * math.log(total.toDouble / freq.toDouble))

  /** One corpus scan → the (word, frequency) vocabulary. */
  private def wordTable(docs: DataFrame, textCol: String): Dataset[(String, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .as[(String, Long)]
  }

  private def codepoints(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** Viterbi segmentation of one word under the piece-cost map —
    * forward DP over packed composites, then the backward
    * longest-consistent-piece walk. Returns (pieces, packedFinal)
    * where `packedFinal = cost_sum * 2048 + n_pieces`. Row-local,
    * O(len · maxLen) with zero allocation beyond the path — the
    * per-distinct-word kernel of every EM round and of
    * [[unigramSegments]]/[[unigramEncode]].
    */
  private[graft] def viterbiSegment(
      w: String, cost: collection.Map[String, Long], maxLen: Int)
    : (List[String], Long) = {
    val cps = codepoints(w)
    val n = cps.length
    require(n <= MaxWordCp, s"word longer than $MaxWordCp code points: ${w.take(32)}…")
    val st = new Array[Long](n + 1)
    var j = 1
    while (j <= n) {
      var best = Long.MaxValue
      var l = math.min(maxLen, j)
      while (l >= 1) {
        val c = cost.getOrElse(cps.slice(j - l, j).mkString, -1L)
        if (c >= 0L) {
          val cand = st(j - l) + c * 2048L + 1L
          if (cand < best) best = cand
        }
        l -= 1
      }
      require(best != Long.MaxValue,
        s"unsegmentable prefix (character coverage violated) in: ${w.take(32)}…")
      st(j) = best
      j += 1
    }
    var pieces = List.empty[String]
    var p = n
    while (p > 0) {
      var l = math.min(maxLen, p)
      var chosen = 0
      while (l >= 1 && chosen == 0) {
        val c = cost.getOrElse(cps.slice(p - l, p).mkString, -1L)
        if (c >= 0L && st(p - l) + c * 2048L + 1L == st(p)) chosen = l
        l -= 1
      }
      pieces = cps.slice(p - chosen, p).mkString :: pieces
      p -= chosen
    }
    (pieces, st(n))
  }

  /** The full training loop: seed → `iters` hard-EM rounds. Returns
    * the final piece table (piece, freq, cost) sorted by piece, and
    * the distinct-word table for downstream reuse. The piece table is
    * tokenizer-sized (alphabet + ≤ `seedMulti` rows) — safe to hold
    * on the driver and broadcast, exactly like the BPE piece
    * inventory.
    */
  /** The driver-local seed + hard-EM loop over a collected
    * distinct-word table — the bounded-local path of
    * [[unigramLearn]], operation-for-operation the distributed loop.
    */
  private def unigramLearnLocal(
      wl: Array[(String, Long)], maxPieceLen: Int, seedMulti: Int,
      iters: Int): Seq[(String, Long, Long)] = {
    // SEED: substring frequencies weighted by word frequency
    val subCnt = new java.util.HashMap[String, Long]()
    wl.foreach { case (w, wc) =>
      val cps = codepoints(w)
      val n = cps.length
      var i = 0
      while (i < n) {
        var l = 1
        val lm = math.min(maxPieceLen, n - i)
        while (l <= lm) {
          subCnt.merge(cps.slice(i, i + l).mkString, wc, (a, b) => a + b)
          l += 1
        }
        i += 1
      }
    }
    val all = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    subCnt.forEach((p, f) => all += ((p, f)))
    def cpLen(p: String): Int = p.codePointCount(0, p.length)
    // chars: Spark length == 1 means ONE code point; driver-side sort
    // by Java string order, exactly like the distributed collect
    val chars: Seq[(String, Long)] =
      all.filter(t => cpLen(t._1) == 1).sortBy(_._1).toSeq
    // multi seed: (freq DESC, piece ASC in UTF-8 order) — Spark's
    // orderBy total order — then the exact seedMulti cut
    val multi0: Seq[(String, Long)] = all.filter(t => cpLen(t._1) >= 2)
      .sortWith { (a, b) =>
        if (a._2 != b._2) a._2 > b._2 else TextOps.utf8Lt(a._1, b._1)
      }.take(seedMulti).toSeq

    def withCosts(pcs: Seq[(String, Long)]): Seq[(String, Long, Long)] = {
      val total = pcs.map(_._2).sum
      pcs.map { case (p, f) => (p, f, costOf(total, f)) }
    }

    var vocab: Seq[(String, Long, Long)] = withCosts(chars ++ multi0)
    var round = 0
    while (round < iters) {
      val costMap = vocab.map(t => (t._1, t._3)).toMap
      // E-step: Viterbi counts over the distinct words (weighted)
      val emc = new java.util.HashMap[String, Long]()
      wl.foreach { case (w, wc) =>
        viterbiSegment(w, costMap, maxPieceLen)._1
          .foreach(p => emc.merge(p, wc, (a, b) => a + b))
      }
      // M-step: chars floored at emc+1 (coverage), multis kept iff used
      val multiKept = vocab.collect {
        case (p, _, _) if cpLen(p) >= 2 && emc.containsKey(p) =>
          (p, emc.get(p): Long)
      }
      val charKept = chars.map { case (p, _) =>
        (p, emc.getOrDefault(p, 0L) + 1L)
      }
      vocab = withCosts(charKept ++ multiKept)
      round += 1
    }
    vocab.sortBy(_._1)
  }

  private[text] def unigramLearn(
      docs: DataFrame, maxPieceLen: Int, seedMulti: Int, iters: Int,
      textCol: String): (Seq[(String, Long, Long)], Dataset[(String, Long)]) = {
    require(maxPieceLen >= 1 && maxPieceLen <= 16,
      s"maxPieceLen must be in [1,16], got $maxPieceLen")
    require(seedMulti >= 0 && seedMulti <= 1000000,
      s"seedMulti must be in [0,1e6], got $seedMulti")
    require(iters >= 0 && iters <= 64, s"iters must be in [0,64], got $iters")
    val spark = docs.sparkSession
    import spark.implicits._
    // one corpus scan; every later job runs on the distinct words
    val words = graft.model.Lineage.cutDs(wordTable(docs, textCol), reliable = false)

    // bounded-local gate (graft.model.BoundedLocal): the vocabulary
    // cut counted its rows, so the decision runs no job; under
    // the bound the seed pass and every EM round run on the driver
    // over the collected distinct-word table — the seed explosion, the
    // two seed collects and one flatMap+aggregate job per round all
    // disappear. Corpora whose distinct-word vocabulary exceeds the
    // bound take the distributed loop unchanged; outputs are
    // bit-identical (pinned by a forced-bound A/B spec): the local
    // seed sorts by (freq DESC, UTF-8 piece ASC) — exactly Spark's
    // orderBy — single-character pieces are code-point-counted exactly
    // like Spark's `length`, and `words` (the returned artifact the
    // encode/segment faces reuse) stays the same checkpoint either
    // way.
    graft.model.BoundedLocal.collectIfFits(words) match {
      case Some(collected) =>
        return (unigramLearnLocal(collected, maxPieceLen, seedMulti, iters), words)
      case None =>
    }

    // SEED: substring occurrence frequencies over the distinct words,
    // weighted by word frequency. All single characters kept; top
    // `seedMulti` multi-character candidates by (freq DESC, piece ASC)
    // — the ordered limit is totally ordered, so the cut is exact.
    val subs = words.flatMap { case (w, wc) =>
      val cps = codepoints(w)
      val n = cps.length
      for {
        i <- 0 until n
        l <- 1 to math.min(maxPieceLen, n - i)
      } yield (cps.slice(i, i + l).mkString, wc)
    }.toDF("piece", "f")
      .groupBy("piece").agg(sum(col("f")).as("freq"))
    // alphabet-sized and seedMulti-bounded collects — tokenizer-sized
    val chars: Seq[(String, Long)] = subs
      .where(length(col("piece")) === 1)
      .as[(String, Long)].collect().toSeq.sortBy(_._1)
    val multi0: Seq[(String, Long)] = subs
      .where(length(col("piece")) >= 2)
      .orderBy(col("freq").desc, col("piece"))
      .limit(seedMulti)
      .as[(String, Long)].collect().toSeq

    def withCosts(pcs: Seq[(String, Long)]): Seq[(String, Long, Long)] = {
      val total = pcs.map(_._2).sum
      pcs.map { case (p, f) => (p, f, costOf(total, f)) }
    }

    var vocab: Seq[(String, Long, Long)] = withCosts(chars ++ multi0)
    var round = 0
    while (round < iters) {
      val costMap = vocab.map(t => (t._1, t._3)).toMap
      val bc = spark.sparkContext.broadcast(costMap)
      val maxL = maxPieceLen
      // E-step: Viterbi counts over the distinct words (weighted);
      // piece-keyed aggregation with map-side combine
      val emc: Map[String, Long] = words.flatMap { case (w, wc) =>
        viterbiSegment(w, bc.value, maxL)._1.map(p => (p, wc))
      }.toDF("piece", "c")
        .groupBy("piece").agg(sum(col("c")).as("emc"))
        .as[(String, Long)].collect().toMap
      bc.destroy()
      // M-step: chars floored at emc+1 (coverage), multis kept iff used
      val multiKept = vocab.collect {
        case (p, _, _) if p.codePointCount(0, p.length) >= 2 && emc.contains(p) =>
          (p, emc(p))
      }
      val charKept = chars.map { case (p, _) => (p, emc.getOrElse(p, 0L) + 1L) }
      vocab = withCosts(charKept ++ multiKept)
      round += 1
    }
    (vocab.sortBy(_._1), words)
  }

  /** BOTH unigram artifacts from ONE training run: the final piece
    * table (piece, freq, cost) and the distinct-word table (w, wc) —
    * the sharing point for the three unigram queries, so encoding
    * endpoints never re-run the EM loop (the [[TextOps.bpeArtifacts]]
    * contract).
    */
  def unigramArtifacts(
      docs: DataFrame, maxPieceLen: Int = 4, seedMulti: Int = 32,
      iters: Int = 2, textCol: String = "text"): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (vocab, words) = unigramLearn(docs, maxPieceLen, seedMulti, iters, textCol)
    (vocab.toDF("piece", "freq", "cost"), words.toDF("w", "wc"))
  }

  /** UNIGRAM TOKENIZER TRAINING — the final piece table
    * (piece, freq, cost) after `iters` hard-EM rounds over the
    * substring-frequency seed. `freq` is the piece's hard-EM count
    * (+1 floor for single characters); `cost` its integer micro-nat
    * negative log-probability.
    */
  def unigramTrain(
      docs: DataFrame, maxPieceLen: Int = 4, seedMulti: Int = 32,
      iters: Int = 2, textCol: String = "text"): DataFrame =
    unigramArtifacts(docs, maxPieceLen, seedMulti, iters, textCol)._1

  /** The trained piece table collected to a broadcastable cost map —
    * tokenizer-sized by construction (alphabet + ≤ seedMulti rows),
    * the same bounded-collect contract as [[TextOps.wordpiecePieces]].
    */
  private def costMapOf(vocabTable: DataFrame): Map[String, Long] = {
    val spark = vocabTable.sparkSession
    import spark.implicits._
    vocabTable.select(col("piece"), col("cost")).as[(String, Long)]
      .collect().toMap
  }

  /** Per-distinct-word Viterbi segmentation under an ALREADY-TRAINED
    * piece table: (w, wc, seg, nt, wcost) — the segmentation as a
    * space-joined string, its token count, and its total cost in
    * micro-nats. The most direct externally-checkable face of the DP
    * itself.
    */
  def unigramSegmentsFromVocab(
      wordsTable: DataFrame, vocabTable: DataFrame,
      maxPieceLen: Int = 4): DataFrame = {
    val spark = wordsTable.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(costMapOf(vocabTable))
    val maxL = maxPieceLen
    wordsTable.select(col("w"), col("wc")).as[(String, Long)].map {
      case (w, wc) =>
        val (pieces, packed) = viterbiSegment(w, bc.value, maxL)
        (w, wc, pieces.mkString(" "), packed % 2048L, packed / 2048L)
    }.toDF("w", "wc", "seg", "nt", "wcost")
  }

  /** [[unigramSegmentsFromVocab]] with its own training run. */
  def unigramSegments(
      docs: DataFrame, maxPieceLen: Int = 4, seedMulti: Int = 32,
      iters: Int = 2, textCol: String = "text"): DataFrame = {
    val (vocab, words) =
      unigramArtifacts(docs, maxPieceLen, seedMulti, iters, textCol)
    unigramSegmentsFromVocab(words, vocab, maxPieceLen)
  }

  /** Per-document token budget under an ALREADY-TRAINED unigram
    * model: the corpus word stream joined to the per-distinct-word
    * segmentation summary (broadcast — distinct-word-sized, the same
    * contract as [[TextOps.bpeEncodeFromVocab]]), then one
    * per-document aggregation: word count, unigram token count, total
    * cost in micro-nats, and fertility (tokens per word, 6 dp).
    */
  def unigramEncodeFromVocab(
      docs: DataFrame, wordsTable: DataFrame, vocabTable: DataFrame,
      maxPieceLen: Int = 4, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(costMapOf(vocabTable))
    val maxL = maxPieceLen
    val perWord = wordsTable.select(col("w")).as[String].map { w =>
      val (_, packed) = viterbiSegment(w, bc.value, maxL)
      (w, packed % 2048L, packed / 2048L)
    }.toDF("w", "nt", "wcost")
    docs.select(col(idCol).as("id"), explode(TextOps.tokens(col(textCol))).as("w"))
      .join(broadcast(perWord), "w")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"), sum(col("nt")).as("n_ug_tokens"),
        sum(col("wcost")).as("ug_cost"))
      .select(col("id").as(idCol), col("n_words"), col("n_ug_tokens"),
        col("ug_cost"),
        round(col("n_ug_tokens") * lit(1.0) / col("n_words"), 6)
          .as("ug_fertility"))
  }

  /** [[unigramEncodeFromVocab]] with its own training run. */
  def unigramEncode(
      docs: DataFrame, maxPieceLen: Int = 4, seedMulti: Int = 32,
      iters: Int = 2, idCol: String = "doc_id", textCol: String = "text")
    : DataFrame = {
    val (vocab, words) =
      unigramArtifacts(docs, maxPieceLen, seedMulti, iters, textCol)
    unigramEncodeFromVocab(docs, words, vocab, maxPieceLen, idCol, textCol)
  }
}
