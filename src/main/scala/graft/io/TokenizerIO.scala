package graft.io

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Tokenizer artifact storage — the piece a training-data pipeline
  * SHIPS after tokenizer training (Sennrich et al. 2016 artifacts:
  * the ordered merge list + the vocabulary), persisted as parquet
  * with a JSON sidecar pinning the training parameters (the TileIO
  * sidecar convention).
  *
  * Layout:
  *   <path>/merges/   (merge_rank, left_sym, right_sym, pair_count)
  *   <path>/vocab/    (w, syms: array<string>, wc)
  *   <path>/tokenizer.json   {"format": 1, "merges": N}
  *
  * The stored vocabulary IS the encoder for every word the training
  * corpus contained (a word's BPE encoding depends only on the word),
  * and the distinct stored symbols are the greedy-inference piece
  * inventory for everything else — so [[encodeStored]] tokenizes a
  * NEW corpus without re-running the merge loop: known words by
  * broadcast vocabulary join (exact merge-order counts), unseen words
  * by the shared greedy walk ([[TextOps.greedyPieceCount]], [UNK]
  * where greedy gets stuck). At 100 TB both artifact tables are
  * tokenizer-sized (distinct words / distinct symbols), never
  * corpus-sized; encoding stays ONE word-stream scan.
  */
object TokenizerIO {

  /** Train on `docs` ([[TextOps.bpeTrain]]'s loop) and persist both
    * artifact tables + the sidecar.
    */
  def writeTokenizer(
      docs: DataFrame, merges: Int, path: String,
      textCol: String = "text"): Unit = {
    // one merge loop produces both artifacts — training is the
    // expensive part and must not run twice
    val (mergesDf, vocabDf) = TextOps.bpeArtifacts(docs, merges, textCol)
    mergesDf.write.mode(SaveMode.Overwrite).parquet(s"$path/merges")
    vocabDf.write.mode(SaveMode.Overwrite).parquet(s"$path/vocab")
    Files.createDirectories(Paths.get(path))
    Sidecars.writeAtomic(Paths.get(s"$path/tokenizer.json"),
      s"""{"format": 1, "merges": $merges}""")
  }

  /** Parse + validate the sidecar before consuming either artifact
    * table: a missing sidecar means the directory is not a tokenizer
    * artifact (or a partial write that died before the final file),
    * and an unknown format version means a newer writer — both must
    * fail loudly HERE, not as silently-wrong encodings downstream.
    * Returns the stored merge count.
    */
  def storedMergeCount(path: String): Int =
    Sidecars.readInts(Paths.get(s"$path/tokenizer.json"), "tokenizer", "merges")("merges")

  def readMerges(spark: SparkSession, path: String): DataFrame = {
    storedMergeCount(path)
    spark.read.parquet(s"$path/merges")
  }

  def readVocab(spark: SparkSession, path: String): DataFrame = {
    storedMergeCount(path)
    spark.read.parquet(s"$path/vocab")
  }

  /** The stored greedy-inference piece inventory (sorted, distinct
    * final symbols) — tokenizer-sized, safe to collect/broadcast.
    */
  def readPieces(spark: SparkSession, path: String): Array[String] = {
    import spark.implicits._
    readVocab(spark, path).select(explode(col("syms")).as("sym"))
      .distinct().as[String].collect().sorted
  }

  /** Encode a corpus under the STORED tokenizer: per document,
    * (n_words, n_tokens, n_oov_words, n_unk_words, fertility) where
    * known words take their exact stored encoding length, out-of-
    * vocabulary words fall back to the greedy piece walk, and a
    * greedy-stuck word counts one [UNK] token. One word-stream scan
    * joined against the broadcast word → count table.
    */
  def encodeStored(
      spark: SparkSession, path: String, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import spark.implicits._
    val known = readVocab(spark, path)
      .select(col("w"), size(col("syms")).cast("long").as("nt"),
        lit(0L).as("oov"), lit(0L).as("unk"))
    val pieces = readPieces(spark, path)
    require(pieces.nonEmpty, s"empty piece inventory at $path")
    val maxCp = pieces.map(p => p.codePointCount(0, p.length)).max
    val bc = spark.sparkContext.broadcast((pieces.toSet, maxCp))
    // the greedy walk runs once per DISTINCT out-of-vocabulary word
    // (the wordpieceEncode shape — never per occurrence), and the
    // word -> counts table stays bounded by distinct words
    val oov = docs.select(explode(TextOps.tokens(col(textCol))).as("w"))
      .distinct()
      .join(known.select(col("w")), Seq("w"), "left_anti")
      .as[String]
      .map { w =>
        val (v, mx) = bc.value
        val (nt, unk) = TextOps.greedyPieceCount(w, v, mx)
        (w, nt, 1L, unk)
      }
      .toDF("w", "nt", "oov", "unk")
    val wc = known.unionByName(oov)
    // the document id keeps its source type (no long cast) — string-
    // keyed corpora group and emit unchanged
    docs.select(col(idCol).as("id"), explode(TextOps.tokens(col(textCol))).as("w"))
      .join(broadcast(wc), "w")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"), sum(col("nt")).as("n_tokens"),
        sum(col("oov")).as("n_oov_words"), sum(col("unk")).as("n_unk_words"))
      .select(col("id").as(idCol), col("n_words"), col("n_tokens"),
        col("n_oov_words"), col("n_unk_words"),
        round(col("n_tokens") * lit(1.0) / col("n_words"), 6).as("fertility"))
  }

  /** TOKENIZER-DRIFT / OOV REPORT — the frozen-tokenizer health check
    * a pipeline runs when the corpus moves under a SHIPPED tokenizer:
    * [[encodeStored]] over the new corpus, rolled up to source grain
    * with the out-of-vocabulary word share in integer ppm. A source
    * whose oov_ppm climbs is drifting away from the tokenizer's
    * training distribution (new jargon, new language, a scraper
    * change) — the signal that retraining or vocab patching is due,
    * long before fertility visibly degrades.
    *
    * Cost on top of the encode: one doc-keyed join to recover the
    * source column and one map-side-combined rollup to source grain.
    *
    * Returns (source, n_docs, n_words, n_tokens, n_oov_words,
    * n_unk_words, oov_ppm).
    */
  def oovReportStored(
      spark: SparkSession, path: String, docs: DataFrame,
      keyCol: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val enc = encodeStored(spark, path, docs, idCol, textCol)
    enc.join(docs.select(col(idCol), col(keyCol).as("source")), Seq(idCol))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_oov_words")).as("n_oov_words"),
        sum(col("n_unk_words")).as("n_unk_words"))
      .withColumn("oov_ppm", expr("(n_oov_words * 1000000) div n_words"))
      .orderBy(col("source"))
  }

  /** VOCAB-PATCH CANDIDATES — the remediation half of the OOV drift
    * report ([[oovReportStored]] says a source is drifting; this says
    * WHAT to patch): the top-k out-of-vocabulary words by occurrence
    * mass, each with its greedy piece count under the stored
    * inventory and the projected token savings were it promoted to a
    * single vocabulary entry (`n_occ * (nt - 1)` — the quantity a
    * vocabulary-patching pass ranks by before retraining is
    * justified). The candidate table is OOV-vocabulary-sized; the
    * only corpus-sized work is the same word-stream scan the drift
    * report already pays.
    *
    * Returns (w, n_occ, n_docs, n_tokens_greedy, is_unk,
    * token_savings), top-k by (n_occ desc, w).
    */
  def oovPatchCandidates(
      spark: SparkSession, path: String, docs: DataFrame, topK: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import spark.implicits._
    require(topK >= 1, s"topK must be positive, got $topK")
    val known = readVocab(spark, path).select(col("w"))
    val pieces = readPieces(spark, path)
    require(pieces.nonEmpty, s"empty piece inventory at $path")
    val maxCp = pieces.map(p => p.codePointCount(0, p.length)).max
    val bc = spark.sparkContext.broadcast((pieces.toSet, maxCp))
    val occ = docs.select(col(idCol).as("id"),
        explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("id")).as("n_docs"))
      .join(known, Seq("w"), "left_anti")
    occ.select(col("w"), col("n_occ"), col("n_docs")).as[(String, Long, Long)]
      .map { case (w, nOcc, nDocs) =>
        val (v, mx) = bc.value
        val (nt, unk) = TextOps.greedyPieceCount(w, v, mx)
        (w, nOcc, nDocs, nt, unk, nOcc * (nt - 1L))
      }
      .toDF("w", "n_occ", "n_docs", "n_tokens_greedy", "is_unk",
        "token_savings")
      .orderBy(col("n_occ").desc, col("w"))
      .limit(topK)
  }

  // ---------------------------------------------------------------
  // Unigram-LM artifact (the [[graft.text.UnigramOps]] model): one
  // piece-cost table + its own sidecar. Layout:
  //   <path>/pieces/       (piece, freq, cost)
  //   <path>/unigram.json  {"format": 1, "max_piece_len": L,
  //                         "seed_multi": N, "iters": K}
  // ---------------------------------------------------------------

  /** Train a unigram model on `docs` and persist the piece table +
    * sidecar (the [[writeTokenizer]] contract: one training run, the
    * sidecar written LAST so a torn write stays detectable).
    */
  def writeUnigram(
      docs: DataFrame, path: String, maxPieceLen: Int = 4,
      seedMulti: Int = 32, iters: Int = 2, textCol: String = "text"): Unit = {
    val (vocab, _) = graft.text.UnigramOps.unigramArtifacts(
      docs, maxPieceLen, seedMulti, iters, textCol)
    vocab.write.mode(SaveMode.Overwrite).parquet(s"$path/pieces")
    Files.createDirectories(Paths.get(path))
    Sidecars.writeAtomic(Paths.get(s"$path/unigram.json"),
      s"""{"format": 1, "max_piece_len": $maxPieceLen, """ +
        s""""seed_multi": $seedMulti, "iters": $iters}""")
  }

  /** Validated sidecar read — the [[storedMergeCount]] contract for
    * the unigram artifact. Returns the stored max piece length (the
    * one parameter the DP NEEDS at encode time: costs alone cannot
    * tell the kernel how far back to look).
    */
  def storedUnigramMaxLen(path: String): Int =
    Sidecars.readInts(Paths.get(s"$path/unigram.json"), "unigram", "max_piece_len")("max_piece_len")

  def readUnigramPieces(spark: SparkSession, path: String): DataFrame = {
    storedUnigramMaxLen(path)
    spark.read.parquet(s"$path/pieces")
  }

  /** Encode a corpus under the STORED unigram model: per document,
    * (n_words, n_ug_tokens, n_unk_words, ug_cost, ug_fertility). A
    * word containing a character OUTSIDE the stored alphabet cannot
    * be segmented (the model's coverage contract is training-corpus
    * characters); it counts one [UNK] token at cost 0 — the
    * [[encodeStored]] fallback convention, checked BEFORE the DP so
    * the kernel's in-corpus coverage guard stays loud for genuine
    * corruption. The Viterbi walk runs once per DISTINCT word.
    */
  def encodeStoredUnigram(
      spark: SparkSession, path: String, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import spark.implicits._
    val maxLen = storedUnigramMaxLen(path)
    val costs = readUnigramPieces(spark, path)
      .select(col("piece"), col("cost")).as[(String, Long)].collect().toMap
    require(costs.nonEmpty, s"empty piece table at $path")
    val alphabet: Set[Int] = costs.keySet
      .filter(p => p.codePointCount(0, p.length) == 1)
      .map(p => p.codePointAt(0))
    val bc = spark.sparkContext.broadcast((costs, alphabet))
    val perWord = docs.select(explode(TextOps.tokens(col(textCol))).as("w"))
      .distinct().as[String]
      .map { w =>
        val (cm, alpha) = bc.value
        if (w.codePoints().toArray.exists(cp => !alpha.contains(cp)))
          (w, 1L, 0L, 1L)
        else {
          val (_, packed) =
            graft.text.UnigramOps.viterbiSegment(w, cm, maxLen)
          (w, packed % 2048L, packed / 2048L, 0L)
        }
      }
      .toDF("w", "nt", "wcost", "unk")
    docs.select(col(idCol).as("id"), explode(TextOps.tokens(col(textCol))).as("w"))
      .join(broadcast(perWord), "w")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"), sum(col("nt")).as("n_ug_tokens"),
        sum(col("unk")).as("n_unk_words"), sum(col("wcost")).as("ug_cost"))
      .select(col("id").as(idCol), col("n_words"), col("n_ug_tokens"),
        col("n_unk_words"), col("ug_cost"),
        round(col("n_ug_tokens") * lit(1.0) / col("n_words"), 6)
          .as("ug_fertility"))
  }
}
