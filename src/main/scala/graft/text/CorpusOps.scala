package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Corpus-STATISTICS operators — the training-data quality passes that
  * need global aggregates (document frequencies, n-gram inventories,
  * language-model counts) rather than row-local features. Every
  * operator here is aggregation-shaped: partial (map-side) aggregation
  * does the heavy lifting, the shuffled state is counts keyed by token
  * or n-gram, and nothing pairwise or quadratic ever forms.
  */
object CorpusOps {

  /** Inline-text shingle convenience — ONLY for frames already known
    * to hold short documents (the eval/benchmark side of the
    * contamination checks): the tokenization re-runs per gram inside
    * the lambda. Length-unbounded corpora go through
    * [[TextOps.shinglesOf]] over a pre-projected token array.
    */
  private[graft] def shingles(textCol: Column, n: Int): Column =
    shinglesOf(TextOps.tokens(textCol), n)

  /** See [[TextOps.shinglesOf]] (bound-attribute contract). */
  private[graft] def shinglesOf(ws: Column, n: Int): Column =
    TextOps.shinglesOf(ws, n)

  /** BENCHMARK-CONTAMINATION detection: for every training document,
    * how many of its distinct word n-grams also occur in an evaluation
    * corpus (the n-gram-overlap decontamination check every serious
    * pretraining pipeline runs before training; n = 8..13 word-grams in
    * published pipelines, parameterized here).
    *
    * Shape for 100 TB: the EVAL side is a benchmark suite — megabytes,
    * not terabytes — so its distinct-gram set is broadcast and the
    * whole check is one narrow broadcast-semi-join over the train
    * grams plus one groupBy(id) count; the train corpus is scanned
    * once and nothing shuffles on a skewed key (hot n-grams hash to
    * the same reduce key only in the per-id counts, which are bounded
    * by document length).
    *
    * Returns one row per train document:
    * (id, n_grams, n_hits, contamination_ratio).
    */
  def contamination(
      train: DataFrame, eval: DataFrame, n: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val trainG = train
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("toks"))
      .select(col("id"), explode(shinglesOf(col("toks"), n)).as("g"))
      .distinct()
    // eval side is benchmark-sized: inline shingles is fine there
    val evalG = eval.select(explode(shingles(col(textCol), n)).as("g")).distinct()
    val totals = trainG.groupBy(col("id")).agg(count(lit(1)).as("n_grams"))
    val hits = trainG.join(broadcast(evalG), "g")
      .groupBy(col("id")).agg(count(lit(1)).as("n_hits"))
    train.select(col(idCol).as("id"))
      .join(totals, Seq("id"), "left")
      .join(hits, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_grams"), lit(0L)), lit(1L)).cast("double"), 6)
          .as("contamination_ratio"))
  }

  /** CONTAMINATION SPAN LOCALIZATION — the surgical companion to
    * [[contamination]]: WHERE in each training document the eval-suite
    * n-grams matched (1-based token positions), so a pipeline can CUT
    * the contaminated span instead of dropping the whole document —
    * the fix-up pass after decontamination flags a long document for
    * one quoted benchmark question. `posexplode` carries each gram's
    * start position; the eval gram set broadcasts exactly as in
    * [[contamination]], and the rollup is one per-doc aggregation.
    *
    * Returns (id, n_toks, n_gram_occs, n_hits, first_hit_pos,
    * last_hit_pos, span_frac): positions NULL and span_frac 0 for
    * clean documents; span_frac = (last - first + n) / n_toks, the
    * "how many tokens would cutting the whole contaminated span
    * cost" number.
    */
  def contaminationSpans(
      train: DataFrame, eval: DataFrame, n: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val g = train.select(col(idCol).as("id"), toks.as("toks"))
      .select(col("id"), size(col("toks")).cast("long").as("n_toks"),
        posexplode(shinglesOf(col("toks"), n)))
      .select(col("id"), col("n_toks"), (col("pos") + 1).cast("long").as("p"),
        col("col").as("g"))
    val evalG = eval.select(explode(shingles(col(textCol), n)).as("g")).distinct()
    val totals = g.groupBy(col("id"))
      .agg(count(lit(1)).as("n_gram_occs"))
    val hits = g.join(broadcast(evalG), "g")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"),
        min(col("p")).as("first_hit_pos"), max(col("p")).as("last_hit_pos"))
    // n_toks from a direct projection of train — NOT from the gram
    // rows, which are empty for sub-n-token documents and would
    // misreport those as 0-token to downstream span-cutting
    train.select(col(idCol).as("id"),
        coalesce(size(toks).cast("long"), lit(0L)).as("n_toks"))
      .join(totals, Seq("id"), "left")
      .join(hits, Seq("id"), "left")
      .select(col("id").as(idCol),
        col("n_toks"),
        coalesce(col("n_gram_occs"), lit(0L)).as("n_gram_occs"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("first_hit_pos"), col("last_hit_pos"),
        when(col("n_hits").isNotNull,
          round((col("last_hit_pos") - col("first_hit_pos") + n) * lit(1.0) /
            col("n_toks"), 6))
          .otherwise(lit(0.0)).as("span_frac"))
  }

  /** The corpus's DUPLICATED-GRAM SET — every `n`-gram hash occurring
    * more than once (any document, any position). This is the static
    * side of the ExactSubstr family: [[dupSubstringSpans]] joins the
    * gram stream against it, and the streaming twin
    * ([[graft.streaming.StreamOps.streamingDupSubstringSpans]]) uses
    * it as the stream-static join side — the realistic deployment,
    * where the set is built from the historical corpus in batch and
    * arriving documents are tagged against it.
    */
  def dupGramSet(
      docs: DataFrame, n: Int = 8, textCol: String = "text"): DataFrame =
    docs.select(TextOps.tokens(col(textCol)).as("toks"))
      .select(posexplode(shinglesOf(col("toks"), n)))
      .select(TextOps.tokenHash(col("col")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("g"))

  /** Merge one document's sorted duplicated-anchor positions into
    * maximal covered spans: an anchor at p covers [p, p+n-1]; anchors
    * whose coverage overlaps or touches merge, so a new span starts
    * exactly when p > prev_p + n. Returns (span_start, span_end,
    * n_anchors), 1-based inclusive. Shared by the batch kernel and the
    * streaming state finalizer — document-length-bounded either way.
    */
  private[graft] def mergeAnchors(ps: Array[Long], n: Int): Seq[(Long, Long, Long)] = {
    java.util.Arrays.sort(ps)
    val out = Seq.newBuilder[(Long, Long, Long)]
    var i = 0
    while (i < ps.length) {
      val start = ps(i)
      var last = start
      var cnt = 1L
      while (i + 1 < ps.length && ps(i + 1) <= last + n) {
        i += 1; last = ps(i); cnt += 1
      }
      out += ((start, last + n - 1, cnt))
      i += 1
    }
    out.result()
  }

  /** EXACT-SUBSTRING DUPLICATION SPANS — the ExactSubstr signal of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"), re-expressed relationally: every position where
    * a document shares an `n`-token run with ANY other occurrence in
    * the corpus (another document, or a repeat inside the same one),
    * merged per document into maximal covered spans — the spans a
    * substring-level dedup pass cuts, where document-level dedup
    * (which needs near-total overlap) sees nothing.
    *
    * An anchor at position p covers tokens [p, p+n-1]; anchors whose
    * coverage overlaps or touches merge. Since positions arrive
    * sorted, a new span starts exactly when p > prev_p + n.
    *
    * Shape at 100 TB: one corpus-wide n-gram count aggregation
    * (vocabulary-sized, partial map-side combine), an equi-join of the
    * gram stream back on the duplicated-gram set, and a per-document
    * merge kernel over that document's sorted anchor positions —
    * state bounded by document length, no corpus-wide window (the SQL
    * oracle's gaps-and-islands window is per-document only). Grams
    * key on the 60-bit md5 prefix ([[TextOps.tokenHash]]) rather than
    * the n-token string, thinning the shuffle ~6x; a prefix collision
    * would spuriously mark both runs duplicated — the same accepted
    * odds (~n_grams^2 / 2^61) as the dup-gram-mass and minhash
    * operators, and the identical hash is replayed in the oracle.
    *
    * Returns (id, span_start, span_end, n_anchors), 1-based inclusive
    * token positions, ordered within each document.
    */
  def dupSubstringSpans(
      docs: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the gram stream feeds BOTH the count aggregation and the join
    // probe: localCheckpoint materializes the explode once (blocks are
    // freed by the ContextCleaner when the result is dropped, the
    // RectifyOp treatment) instead of letting Catalyst re-run the
    // shingle explode per consumer — the multi-consumer-explode trap
    // the bigram LM hit. SERIALIZED storage: the stream is the largest
    // single materialization in the engine (corpus x 3 longs), and
    // deserialized row caching evicted under the 10x harness already —
    // serialized blocks pack ~5x tighter and spill to disk gracefully
    val g = docs.select(col(idCol).cast("long").as("id"),
        TextOps.tokens(col(textCol)).as("toks"))
      .select(col("id"), posexplode(shinglesOf(col("toks"), n)))
      .select(col("id"), (col("pos") + 1).cast("long").as("p"),
        TextOps.tokenHash(col("col")).as("g"))
      .localCheckpoint(eager = true,
        storageLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      .transform { g => graft.model.Lineage.retire(g); g }
    val dupGrams = g.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("g"))
    // per-document gaps-and-islands (the same relational shape the SQL
    // oracle replays), replacing the r17 typed groupByKey.flatMapGroups
    // kernel: the object path paid AppendColumns + MapGroups +
    // SerializeFromObject — one InternalRow→object→InternalRow round
    // trip per anchor — for work two per-document window frames and a
    // hash aggregate express in Tungsten rows. Identical output:
    // positions are unique per document, a new span starts exactly
    // when p > prev_p + n (mergeAnchors' condition), and the window
    // is partitioned by id — the aggregate then reuses the window's
    // id partitioning, so the shuffle count is unchanged (one id
    // exchange).
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("p"))
    val wRun = wOrd.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    g.join(dupGrams, "g")
      .select(col("id"), col("p"))
      .withColumn("brk",
        when(col("p") > lag(col("p"), 1).over(wOrd) + n, 1L).otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(wRun))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + lit(n - 1).cast("long")).as("span_end"),
        count(lit(1)).as("n_anchors"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        col("n_anchors"))
  }

  /** EXACT-SUBSTRING DEDUP REWRITE — the cut step over
    * [[dupSubstringSpans]]' signal (Lee et al. 2022 keep-one-occurrence
    * semantics, made deterministic and engine-reproducible): every
    * duplicated `n`-gram names ONE global keeper occurrence — the
    * lexicographically smallest (id, p), taken as `min(struct(id, p))`
    * (Spark orders structs field-by-field; DuckDB's `MIN(ROW(id, p))`
    * is the same lexicographic MIN, so both engines agree with no
    * arithmetic encoding and no cap on document length) — and a token
    * is cut iff some duplicated anchor covers it but no KEEPER anchor
    * does. The keeper document keeps its run; all
    * other occurrences lose theirs; partial overlaps cut partially.
    *
    * Shape at 100 TB: the same gram-count aggregation + equi-join as
    * [[dupSubstringSpans]], one per-document collect_list of that
    * document's anchors (bounded by document length, like every
    * per-doc kernel here), and a narrow row-local rebuild. The SQL
    * oracle's BETWEEN range join is per-document too — the engine
    * never runs one.
    *
    * Returns (id, n_tokens, n_removed, new_text) — new_text is the
    * kept tokens joined by single spaces (both engines rebuild from
    * the token stream, so original whitespace is normalized away).
    */
  def dupSubstringRewrite(
      docs: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // one materialized gram stream for both consumers (see
    // dupSubstringSpans)
    val g = docs.select(col(idCol).cast("long").as("id"),
        TextOps.tokens(col(textCol)).as("toks"))
      .select(col("id"), posexplode(shinglesOf(col("toks"), n)))
      .select(col("id"), (col("pos") + 1).cast("long").as("p"),
        TextOps.tokenHash(col("col")).as("g"))
      .localCheckpoint(eager = true,
        storageLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      .transform { g => graft.model.Lineage.retire(g); g }
    val occ = g.groupBy(col("g"))
      .agg(count(lit(1)).as("c"),
        min(struct(col("id"), col("p"))).as("kk"))
      .filter(col("c") > 1)
      .select(col("g"), col("kk"))
    val anchors = g.join(occ, "g")
      .select(col("id"), col("p"),
        (struct(col("id"), col("p")) === col("kk")).as("keeper"))
      .groupBy(col("id"))
      .agg(collect_list(struct(col("p").as("_1"), col("keeper").as("_2"))).as("a"))
    docs.select(col(idCol).cast("long").as("id"), TextOps.tokens(col(textCol)).as("toks"))
      .join(anchors, Seq("id"), "left")
      .as[(Long, Seq[String], Option[Seq[(Long, Boolean)]])]
      .map { case (id, toksSeq, aOpt) =>
        // the Seq decodes as a List: positional access is O(i), so
        // indexing it in the rebuild loop would be O(len^2) — flatten
        // to an array once (the 1M-token RewriteSpec case pins this)
        val toks = toksSeq.toArray
        val len = toks.length
        val covered = new Array[Boolean](len)
        val kept = new Array[Boolean](len)
        aOpt.getOrElse(Nil).foreach { case (p, keeper) =>
          var t = (p - 1).toInt
          val end = math.min(len, t + n)
          while (t < end) {
            covered(t) = true
            if (keeper) kept(t) = true
            t += 1
          }
        }
        var removed = 0L
        val sb = new StringBuilder
        var t = 0
        while (t < len) {
          if (covered(t) && !kept(t)) removed += 1
          else {
            if (sb.nonEmpty) sb.append(' ')
            sb.append(toks(t))
          }
          t += 1
        }
        (id, len.toLong, removed, sb.toString)
      }
      .toDF(idCol, "n_tokens", "n_removed", "new_text")
  }

  /** BIGRAM-LANGUAGE-MODEL document scoring — the CCNet-style quality
    * signal: train an add-one-smoothed bigram model on the corpus
    * itself and score every document by its mean token log-probability
    * (gibberish and boilerplate score far below natural prose).
    *
    * P(cur | prev) = (c(prev,cur) + 1) / (c(prev) + |V|), context
    * `<s>` prepended per document; score = mean ln P over the
    * document's tokens, rounded to 6 decimals so the value is
    * reproducible across engines regardless of summation order.
    *
    * Shape: ONE corpus pass. A tight mapPartitions kernel emits each
    * document's distinct bigrams WITH multiplicity (a higher-order-
    * function formulation evaluates interpreted — CodegenFallback —
    * and Catalyst re-runs the explode once per consumer, which
    * profiled 4 corpus scans); every model statistic then derives
    * from that one aggregate: c2 by (prev, cur), c1 by summing c2
    * over cur, |V| by counting c2's distinct cur — no second scan.
    * The count tables are vocabulary-sized (millions of rows at
    * 100 TB), far under the stream size, and AQE picks broadcast or
    * shuffle join per table. Nothing is ever collected to the driver;
    * the per-doc score is the m-weighted mean, identical to the
    * per-occurrence mean.
    */
  def bigramLmScore(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bgm = bigramTable(docs, idCol, textCol)
    val c2 = bgm.groupBy(col("prev"), col("cur")).agg(sum(col("m")).as("c2"))
    val c1 = c2.groupBy(col("prev")).agg(sum(col("c2")).as("c1"))
    val vocab = c2.agg(countDistinct(col("cur")).as("v"))
    bgm.join(c2, Seq("prev", "cur"))
      .join(c1, Seq("prev"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp",
        log((col("c2") + 1).cast("double") / (col("c1") + col("v")).cast("double")))
      .groupBy(col("id"))
      .agg(sum(col("m")).as("n_bigrams"),
        round(sum(col("m").cast("double") * col("lp")) / sum(col("m")).cast("double"), 6)
          .as("lm_score"))
      .withColumnRenamed("id", idCol)
  }

  /** (id, prev, cur, m): per-document bigram multiplicities, `<s>` as
    * the first context — row-local, shuffle-free. A tight
    * mapPartitions kernel (a higher-order-function formulation
    * evaluates interpreted — CodegenFallback — and Catalyst re-runs
    * the explode once per consumer; see [[bigramLmScore]]).
    */
  private def bigramTable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text) =>
          val ws = text.split(" ").filter(_.nonEmpty)
          val m = new java.util.HashMap[(String, String), Long]()
          var i = 0
          while (i < ws.length) {
            val key = (if (i == 0) "<s>" else ws(i - 1), ws(i))
            m.merge(key, 1L, (a, b) => a + b)
            i += 1
          }
          scala.jdk.CollectionConverters.MapHasAsScala(m).asScala.iterator
            .map { case ((p, c), n) => (id, p, c, n) }
        }
      }.toDF("id", "prev", "cur", "m")
  }

  /** HELD-OUT bigram-LM scoring — the actual CCNet shape: the model
    * trains on a REFERENCE corpus (CCNet: Wikipedia) and scores a
    * different target corpus, so the signal measures "does this look
    * like the reference domain" rather than self-similarity. Add-one
    * smoothing makes unseen bigrams well-defined:
    * P(cur|prev) = (c2 + 1) / (c1 + |V|) with c2 = c1 = 0 for contexts
    * the model never saw (left joins + coalesce, where
    * [[bigramLmScore]]'s self-trained inner joins can't miss).
    *
    * Same one-pass-per-corpus shape: count tables are vocabulary-sized
    * and AQE picks broadcast vs shuffle joins; nothing collects to the
    * driver.
    */
  def bigramLmScoreHeldOut(
      train: DataFrame, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val trainBg = bigramTable(train, idCol, textCol)
    val c2 = trainBg.groupBy(col("prev"), col("cur")).agg(sum(col("m")).as("c2"))
    val c1 = c2.groupBy(col("prev")).agg(sum(col("c2")).as("c1"))
    val vocab = c2.agg(countDistinct(col("cur")).as("v"))
    bigramTable(docs, idCol, textCol)
      .join(c2, Seq("prev", "cur"), "left")
      .join(c1, Seq("prev"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("lp",
        log((coalesce(col("c2"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast("double")))
      .groupBy(col("id"))
      .agg(sum(col("m")).as("n_bigrams"),
        round(sum(col("m").cast("double") * col("lp")) / sum(col("m")).cast("double"), 6)
          .as("lm_score"))
      .withColumnRenamed("id", idCol)
  }

  /** HELD-OUT bigram scoring under interpolated KNESER-NEY smoothing
    * (Kneser & Ney, ICASSP 1995; the smoothing family KenLM ships and
    * CCNet's quality filter actually runs, vs the add-one baseline of
    * [[bigramLmScoreHeldOut]]): absolute discount D off every seen
    * bigram, the freed mass interpolated with the CONTINUATION
    * distribution — P(w) proportional to how many distinct contexts w
    * follows, which is what separates "Francisco" (frequent, one
    * context) from genuinely productive words.
    *
    *   P(w|v) = (max(c(vw)−D, 0) + D·N1+(v·)·Pc(w)) / c(v)   c(v) > 0
    *   P(w|v) = Pc(w)                                        unseen v
    *   Pc(w)  = (N1+(·w) + 1) / (T + V + 1)
    *
    * with N1+(v·) the distinct continuations of v, N1+(·w) the
    * distinct contexts of w, T the distinct-bigram-type count, V the
    * training vocabulary. The +1/(T+V+1) floor on Pc is the one
    * documented deviation from textbook KN: it makes words the
    * training corpus never saw well-defined (exact KN assigns them
    * zero), the same role add-one plays in the baseline scorer.
    *
    * Same one-pass shape as the other LM operators: count tables are
    * vocabulary-sized, the scalar (T, V) broadcast, left joins for
    * the unseen cases, per-document weighted mean log-probability.
    */
  def bigramLmScoreKneserNey(
      train: DataFrame, docs: DataFrame, discount: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0,1), got $discount")
    val trainBg = bigramTable(train, idCol, textCol)
    val c2 = trainBg.groupBy(col("prev"), col("cur")).agg(sum(col("m")).as("c2"))
    // per-context totals AND distinct-continuation counts in one pass
    val ctx = c2.groupBy(col("prev"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1f"))
    val contRaw = c2.groupBy(col("cur")).agg(count(lit(1)).as("n1r"))
    val scal = c2.agg(count(lit(1)).as("t"),
      countDistinct(col("cur")).as("v"))
    val d = lit(discount)
    bigramTable(docs, idCol, textCol)
      .join(c2, Seq("prev", "cur"), "left")
      .join(ctx, Seq("prev"), "left")
      .join(contRaw, Seq("cur"), "left")
      .crossJoin(broadcast(scal))
      .withColumn("pc",
        (coalesce(col("n1r"), lit(0L)) + 1).cast("double") /
          (col("t") + col("v") + 1).cast("double"))
      .withColumn("p",
        when(coalesce(col("c1"), lit(0L)) > 0,
          (greatest(coalesce(col("c2"), lit(0L)).cast("double") - d, lit(0.0)) +
            d * col("n1f").cast("double") * col("pc")) / col("c1").cast("double"))
          .otherwise(col("pc")))
      .withColumn("lp", log(col("p")))
      .groupBy(col("id"))
      .agg(sum(col("m")).as("n_bigrams"),
        round(sum(col("m").cast("double") * col("lp")) / sum(col("m")).cast("double"), 6)
          .as("kn_score"))
      .withColumnRenamed("id", idCol)
  }

  /** DSIR-STYLE importance weight (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023 — which
    * weights raw data by the likelihood ratio of a target-domain
    * n-gram model over a raw-pool n-gram model): per document,
    * `log_ratio = lp_target - lp_source`, the per-bigram mean
    * log-likelihood difference under two held-out bigram LMs
    * ([[bigramLmScoreHeldOut]] trained on `target` and on `source`).
    * Documents that look like the target domain get positive weight;
    * sampling proportional to `exp(log_ratio)` is importance
    * resampling. Pure composition of the existing LM operator — two
    * broadcast vocab scalars, the count tables shuffle on bigram keys,
    * nothing new materializes driver-side.
    *
    * Returns (id, n_bigrams, lp_target, lp_source, log_ratio); empty
    * documents (no bigrams) drop, as in the LM operators.
    */
  def dsirLogRatio(
      docs: DataFrame, target: DataFrame, source: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = bigramLmScoreHeldOut(target, docs, idCol, textCol)
      .select(col(idCol), col("n_bigrams"), col("lm_score").as("lp_target"))
    val s = bigramLmScoreHeldOut(source, docs, idCol, textCol)
      .select(col(idCol), col("lm_score").as("lp_source"))
    t.join(s, Seq(idCol))
      .withColumn("log_ratio", round(col("lp_target") - col("lp_source"), 6))
  }

  /** EXACT cross-corpus decontamination: drop training documents whose
    * exact content also appears in the eval corpus — the complement of
    * [[contamination]]'s fuzzy n-gram report, used when the policy is
    * "remove verbatim test material, period". One broadcast LEFT ANTI
    * join on the content hash: the eval side is benchmark-sized, the
    * train side is scanned once, nothing shuffles.
    *
    * NULL text is hashed as the empty string (`coalesce`), on both
    * sides: a NULL anti-join key would be trivially non-matching and
    * silently KEEP every NULL-text train row, while a SQL engine's
    * `NOT IN` would DROP them — coalescing pins one defined behavior
    * (NULL text ≡ empty text) that both the engine and an oracle can
    * express identically.
    */
  def decontaminate(
      train: DataFrame, eval: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val evalHashes = eval.select(
      md5(coalesce(col(textCol), lit(""))).as("eval_hash")).distinct()
    train.join(broadcast(evalHashes),
      md5(coalesce(col(textCol), lit(""))) === col("eval_hash"), "left_anti")
  }

  /** FUZZY (near-dup) decontamination — the paraphrase-leak policy:
    * drop training documents within Jaccard `threshold` of ANY eval
    * document, catching reworded/partially-copied benchmark material
    * that [[decontaminate]]'s verbatim hash can never see (the
    * documented failure mode of exact decontamination in practice).
    * The train side's MinHash band buckets probe the eval side's with
    * [[TextOps.probeBuckets]] — the [[TextOps.incrementalLshPairs]]
    * cross-probe, with eval as the (benchmark-sized) index — and only
    * cross candidates are exact-verified; a train document flagged
    * against any eval doc is anti-joined out. An eval document that
    * also sits in the train side IS verbatim leakage (identical text ⇒
    * Jaccard 1) and flags.
    *
    * ID NAMESPACING: the two corpora are INDEPENDENT, so raw id values
    * may collide across sides while naming different documents. Both
    * sides are remapped into disjoint long namespaces (train → 2·id,
    * eval → 2·id + 1) before banding and verification, so a raw-id
    * collision can never pair a document with itself or confuse two
    * documents' token sets — unlike
    * [[TextOps.incrementalLshPairs]], whose caller contract demands
    * disjoint ids, this operator makes no cross-corpus id assumption.
    * (Ids must be byte, short, int or long and fit in 62 bits — the
    * minhash kernel's id contract plus one doubling bit.)
    *
    * At 100 TB: banding the train side is one linear pass, the eval
    * bucket table is benchmark-sized, candidates are bucket-bounded,
    * and the verify cost is candidates — never train × eval.
    */
  def fuzzyDecontaminate(
      train: DataFrame, eval: DataFrame,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.9,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    TextOps.requireIntegralId(train, idCol)
    TextOps.requireIntegralId(eval, idCol)
    val trainTag = col(idCol).cast("long") * 2
    val t = train.select(trainTag.as("gid"), col(textCol))
    val e = eval.select((col(idCol).cast("long") * 2 + 1).as("gid"), col(textCol))
    // the probe's self-id filter never fires: train ids are even, eval
    // ids odd
    val flagged = TextOps.probeBuckets(
        TextOps.rowLocalBandBuckets(t, numHashes, bands, "gid", textCol),
        TextOps.rowLocalBandBuckets(e, numHashes, bands, "gid", textCol),
        TextOps.tokenSets(t, "gid", textCol), TextOps.tokenSets(e, "gid", textCol), threshold)
      .select(col("id_a").as("flag")).distinct()
    train.join(flagged, trainTag === col("flag"), "left_anti")
  }

  /** BLOOM-PREFILTERED decontamination — the 100 TB route when the
    * eval corpus is too large to broadcast as an exact hash set: a
    * Bloom filter over the eval hashes (bits ~ 1.2 bytes/item at 1%
    * fpp — an eval set of 10^8 items broadcasts as ~120 MB where the
    * exact string set would be tens of GB) prefilters the train scan;
    * only the ~fpp fraction of false-positive candidates plus the true
    * hits reach the exact anti-join, which now SHUFFLES hash-to-hash
    * instead of broadcasting. EXACTNESS IS PRESERVED: Bloom filters
    * have no false negatives, so non-candidates are provably clean,
    * and candidates are verified exactly — the output is bit-identical
    * to [[decontaminate]] (same oracle), only the plan differs.
    */
  def decontaminateBloom(
      train: DataFrame, eval: DataFrame, fpp: Double = 0.01,
      idCol: String = "doc_id", textCol: String = "text",
      expectedItems: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.GraftExpressionBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val evalHashes = eval.select(
      md5(coalesce(col(textCol), lit(""))).as("eval_hash")).distinct()
    // The md5+distinct pipeline has three consumers: the sizing count,
    // the bloom aggregation, and the final anti-join scan. Persist it
    // across the two EAGER actions (count + bloom) and release before
    // returning — the lazy anti-join recomputes one scan at execution
    // time, so the eval pipeline runs twice, not three times, and no
    // cache entry outlives the call. Callers that already know the
    // eval cardinality pass `expectedItems` and skip the count job
    // entirely (one eager pass).
    //
    // NATIVE bloom path (no Scala UDF anywhere): the filter is built by
    // Catalyst's BloomFilterAggregate over xxhash64(eval_hash) and
    // probed by BloomFilterMightContain — the same expression pair
    // Spark's own injected runtime filters use, with real doGenCode, so
    // the train-side prefilter stays inside whole-stage codegen. The
    // serialized filter rides the task binary (itself torrent-broadcast
    // by the scheduler), exactly like an injected runtime filter's
    // subquery result.
    def buildBloom(n: Long): Array[Byte] = {
      val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, fpp)
      val agg = new BloomFilterAggregate(
        GraftExpressionBridge.expression(xxhash64(col("eval_hash"))),
        Literal(n), Literal(numBits)).toAggregateExpression()
      val row = evalHashes.select(GraftExpressionBridge.column(agg).as("bf")).head()
      if (row.isNullAt(0)) null else row.getAs[Array[Byte]](0)
    }
    val bloomBytes = expectedItems match {
      case Some(n) => buildBloom(math.max(n, 1L))
      case None =>
        val cached = evalHashes.persist()
        try buildBloom(math.max(cached.count(), 1L))
        finally cached.unpersist()
    }
    val hashed = train.withColumn("train_hash", md5(coalesce(col(textCol), lit(""))))
    // an EMPTY eval set aggregates to a null filter: nothing can be
    // contaminated, the train set is clean as-is
    if (bloomBytes == null) return hashed.drop("train_hash")
    val mightContain = GraftExpressionBridge.column(new BloomFilterMightContain(
      Literal(bloomBytes, BinaryType),
      GraftExpressionBridge.expression(xxhash64(col("train_hash")))))
    // definite keeps: bloom miss = provably not in the eval set
    val clean = hashed.filter(!mightContain)
    // candidates: exact verification by anti-join (shuffle, not
    // broadcast — the eval side is big by assumption here)
    val verified = hashed.filter(mightContain)
      .join(evalHashes.hint("shuffle_hash"),
        col("train_hash") === col("eval_hash"), "left_anti")
    clean.unionByName(verified).drop("train_hash")
  }

  /** PER-STRATUM TOKEN-BUDGET selection — data mixing by token mass
    * rather than document count ([[graft.text.TextOps.capPerStratum]]
    * caps documents; training mixes are specified in TOKENS): within
    * each source, documents are taken in salted-hash order while the
    * stratum's running token total stays within `budget`. A document
    * enters while the PRIOR total is < budget (so the budget boundary
    * document is included — budgets fill, never stall at an over-sized
    * head doc).
    *
    * SKEW-SAFE: the running sum is NOT a per-stratum window (which
    * sorts an entire stratum in one task — the single-partition-window
    * scale-killer when one source dominates the corpus). Same shape as
    * [[graft.text.OrderOps.shuffleOrder]]: range-repartition on
    * (stratum, hash, id) so every stratum spans contiguous partitions,
    * per-(partition, stratum) token partials in one pass, a
    * partitions-x-strata-sized collect (bounded metadata: strata are
    * categorical), broadcast exclusive offsets, second pass adds them.
    * A 100x-skewed stratum costs proportionally more partitions, never
    * one giant sort. Output is identical to the window form — the
    * prefix over a total order doesn't depend on where partition
    * boundaries land.
    *
    * CONTRACT: stratum keys are compared AND RETURNED as strings (the
    * typed two-pass kernel needs one key encoding; a non-string key
    * column comes back cast — join downstream on the cast value or
    * re-cast). NULL keys form their own stratum, as the window form
    * did. Returns (stratum, id, n_tokens, cum_tokens).
    */
  def tokenBudgetPerStratum(
      docs: DataFrame, budget: Long, salt: String = "graft",
      keyCol: String = "source", idCol: String = "doc_id",
      textCol: String = "text", reliable: Boolean = false): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val spark = docs.sparkSession
    import spark.implicits._
    val h = conv(substring(md5(concat_ws(":", lit(salt), col(idCol).cast("string"))), 1, 13), 16, 10)
      .cast("long")
    val base = docs.select(col(keyCol).cast("string").as("k"),
      col(idCol).cast("long").as("id"),
      size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"),
      h.as("h"))
    val p = spark.sessionState.conf.numShufflePartitions
    val sorted0 = base.repartitionByRange(p, col("k"), col("h"), col("id"))
      .sortWithinPartitions(col("k"), col("h"), col("id"))
    val sorted = graft.model.Lineage.cutRetired(sorted0, reliable)
      .as[(String, Long, Long, Long)]

    // pass 1: per-(partition, stratum) token sums — strata are
    // contiguous inside a sorted partition, so this is a streaming fold
    val partials: Array[(Int, String, Long)] = sorted.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val sums = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        it.foreach { case (k, _, n, _) => sums.update(k, sums.getOrElse(k, 0L) + n) }
        sums.iterator.map { case (k, s) => (pid, k, s) }
      }.collect()

    // driver: exclusive prefix per stratum across partitions in pid order
    val offsets: Map[(Int, String), Long] = {
      val m = scala.collection.mutable.HashMap.empty[(Int, String), Long]
      val acc = scala.collection.mutable.HashMap.empty[String, Long]
      partials.sortBy(_._1).foreach { case (pid, k, s) =>
        m((pid, k)) = acc.getOrElse(k, 0L)
        acc(k) = acc.getOrElse(k, 0L) + s
      }
      m.toMap
    }
    val bc = spark.sparkContext.broadcast(offsets)

    // pass 2: local running sum from the broadcast offset; emit while
    // the prior total is under budget. The stratum-change detector is
    // an explicit first-row flag, NOT a null sentinel — a null stratum
    // key (docs with NULL source) would compare equal to the sentinel
    // and silently skip its broadcast offset in every partition after
    // the first, restarting the budget per partition.
    sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var first = true
      var curK: String = null
      var cum = 0L
      it.flatMap { case (k, id, n, _) =>
        if (first || k != curK) {
          first = false; curK = k
          cum = bc.value.getOrElse((pid, k), 0L)
        }
        val prior = cum
        cum += n
        if (prior < budget) Iterator.single((k, id, n, prior + n)) else Iterator.empty
      }
    }.toDF(keyCol, idCol, "n_tokens", "cum_tokens")
  }

  /** TWO-SAMPLE KOLMOGOROV–SMIRNOV drift test between two cohorts'
    * token-length distributions — the distribution-level companion of
    * the count-level source-drift monitors: `D = sup_x |F_a(x) −
    * F_b(x)|` answers "did this source's LENGTH PROFILE change", the
    * signal that catches a scraper that started truncating or
    * concatenating long before mean length moves. Computed EXACTLY in
    * cross-multiplied integers: at every distinct length v with
    * inclusive ranks (i, j), `|i·m − j·n|` folds to its max, and the
    * reported statistic is `ks_ppm = 10^6·D_num div (n·m)` — no
    * double anywhere (the cross-multiply is widened to DECIMAL(38,0)
    * / HUGEINT, since n·m·10^6 outgrows BIGINT past ~3M rows a side).
    *
    * SCALE SHAPE: two map-side-combined counts to (value) grain; the
    * cumulative fold runs over the DISTINCT-VALUE table — bounded by
    * the length domain (max tokens per document), never by corpus
    * rows — so the single-partition window is domain-sized, the
    * events-anomaly frame contract, not a corpus window.
    *
    * Returns one row: (n_a, n_b, d_num, ks_ppm).
    */
  def ksLengthDrift(
      docs: DataFrame, groupA: String, groupB: String,
      keyCol: String = "source", textCol: String = "text"): DataFrame = {
    val lens = docs
      .filter(col(keyCol).isin(groupA, groupB))
      .select(col(keyCol).as("k"),
        size(TextOps.tokens(col(textCol))).cast("long").as("v"))
    val counts = lens.groupBy(col("v")).agg(
      sum(when(col("k") === groupA, 1L).otherwise(0L)).as("ca"),
      sum(when(col("k") === groupB, 1L).otherwise(0L)).as("cb"))
    val W = org.apache.spark.sql.expressions.Window
    val wCum = W.orderBy(col("v")).rowsBetween(W.unboundedPreceding, W.currentRow)
    val wAll = W.orderBy(col("v"))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    counts
      .withColumn("i", sum(col("ca")).over(wCum))
      .withColumn("j", sum(col("cb")).over(wCum))
      .withColumn("n", sum(col("ca")).over(wAll))
      .withColumn("m", sum(col("cb")).over(wAll))
      .withColumn("d", abs(col("i").cast(dec) * col("m").cast(dec)
        - col("j").cast(dec) * col("n").cast(dec)))
      .agg(max(col("n")).as("n_a"), max(col("m")).as("n_b"),
        max(col("d")).as("dmax"))
      .select(col("n_a"), col("n_b"),
        // d_num <= n*m: inside BIGINT up to ~3e9 rows a side
        col("dmax").cast("long").as("d_num"),
        when(col("n_a") > 0 && col("n_b") > 0,
          expr("CAST((dmax * 1000000) div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"))
          .otherwise(lit(0L)).as("ks_ppm"))
  }

  /** WATERFILL TOKEN ALLOCATION across sources — the mixing-design
    * step that turns "we can afford B training tokens" into a
    * per-source quota: every source is capped at `maxEpochs` passes
    * over its own tokens (repeating a small source beyond a few
    * epochs stops helping and starts memorizing), and the budget
    * fills sources to a common level λ — the largest integer with
    * `Σ min(cap_s, λ) ≤ B` — so no source is starved while any
    * larger source still has headroom (the classic waterfilling
    * allocation). `B = total_tokens · budgetNumer / budgetDenom`.
    *
    * Closed form, no iteration: with caps ascending `c_1 ≤ … ≤ c_n`
    * and prefix sums `P_i`, the cut `m = max{ i : P_i + (n−i)·c_i ≤ B }`
    * (0 if none) and `λ = (B − P_m) div (n − m)` (all caps when
    * `m = n`); `alloc_s = min(cap_s, λ)`. Up to `n − m − 1` leftover
    * tokens stay unallocated — deterministic, documented.
    *
    * SCALE SHAPE: ONE map-side-combined aggregation to source grain;
    * the fold runs on the driver over the sources-bounded table (the
    * vocabulary-bounded-collect contract, guarded loudly) and the
    * sources-sized face is emitted as one pinned partition. All
    * integer arithmetic — the face carries no double.
    *
    * Returns (source, n_tokens, cap, alloc, epochs_milli).
    */
  def tokenWaterfill(
      docs: DataFrame, maxEpochs: Long = 4L,
      budgetNumer: Long = 1L, budgetDenom: Long = 2L,
      keyCol: String = "source", textCol: String = "text"): DataFrame = {
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    require(budgetNumer >= 0 && budgetDenom >= 1,
      s"budget fraction must be >= 0, got $budgetNumer/$budgetDenom")
    val spark = docs.sparkSession
    val perSource = docs
      .select(col(keyCol).cast("string").as("source"),
        size(TextOps.tokens(col(textCol))).cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
      .collect() // sources-bounded, never corpus-bounded
    require(perSource.nonEmpty, "tokenWaterfill over an empty corpus")
    require(perSource.length <= 10000,
      s"tokenWaterfill collected ${perSource.length} sources — the " +
        "driver fold is sized for a bounded source taxonomy")
    val caps = perSource
      .map(r => (r.getString(0), r.getLong(1), r.getLong(1) * maxEpochs))
      .sortBy { case (src, _, cap) => (cap, src) }
    val n = caps.length.toLong
    val total = caps.map(_._2).sum
    val budget = total * budgetNumer / budgetDenom
    var m = 0L
    var pm = 0L
    var prefix = 0L
    caps.zipWithIndex.foreach { case ((_, _, cap), idx) =>
      prefix += cap
      if (prefix + (n - idx - 1) * cap <= budget) { m = idx + 1L; pm = prefix }
    }
    val lambda =
      if (m == n) caps.map(_._3).max
      else (budget - pm) / (n - m)
    val rows = caps.sortBy(_._1).map { case (src, nt, cap) =>
      val alloc = math.min(cap, lambda)
      val epochsMilli = if (nt == 0) 0L else 1000L * alloc / nt
      Row(src, nt, cap, alloc, epochsMilli)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cap",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("alloc",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("epochs_milli",
        org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** END-TO-END corpus selection — the composed endpoint a pretraining
    * run actually executes: language filter, quality cuts (stopword
    * floor and repetition ceiling are the published heuristic-filter
    * shape), exact-dedup keepers, emitting the surviving ids with
    * their token counts. Each stage is one of this library's
    * operators; composition stays lazy, so Catalyst plans the whole
    * selection as one DAG (the quality columns and the dedup hash
    * compute in the same scan).
    */
  def selectCorpus(
      docs: DataFrame, lang: String, minWords: Long, maxTopTokenRatio: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val filtered = docs.filter(col("lang") === lang)
    val quality = TextOps.repetitionFeatures(filtered, idCol, textCol)
      .filter(col("top_token_ratio") <= maxTopTokenRatio)
      .select(col(idCol))
    val qualified = filtered.join(quality, idCol)
    val keepers = TextOps.exactDedup(qualified, idCol, textCol)
      .select(col(idCol))
    qualified.join(keepers, idCol)
      .select(col(idCol), size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= minWords)
  }

  /** Per-stratum length QUANTILES (exact, linearly interpolated — the
    * same `h = p*(n-1)` definition DuckDB's `quantile_cont` and
    * NumPy's default use), for corpus length profiling and cutoff
    * selection. Spark's exact `percentile` aggregate does a per-group
    * sort; groups are strata (languages/sources), so group size is
    * corpus-scale — at 100 TB swap in `percentile_approx` (t-digest,
    * mergeable partial aggregation) and accept the documented error
    * bound; the exact form here is what the oracle can reproduce.
    *
    * Returns (stratum, pi, q): quantile index pi into `ps`, value q
    * rounded to 6.
    */
  def lengthQuantiles(
      docs: DataFrame, ps: Seq[Double],
      stratumCol: String = "lang", lenCol: String = "n_chars"): DataFrame = {
    val arr = ps.map(p => s"${p}d").mkString("array(", ", ", ")")
    docs.groupBy(col(stratumCol))
      .agg(expr(s"percentile($lenCol, $arr)").as("qs"))
      .select(col(stratumCol), posexplode(col("qs")).as(Seq("pi", "q")))
      .select(col(stratumCol), col("pi").cast("long").as("pi"),
        round(col("q"), 6).as("q"))
  }

  /** PER-STRATUM PERCENTILE CUT — the relative-threshold quality
    * filter real pipelines run instead of absolute cutoffs (an
    * absolute "min 200 chars" means different things in different
    * languages; "drop each language's shortest quartile" does not):
    * keep documents whose length clears their OWN stratum's exact
    * `p`-quantile. The cutoff table is one row per stratum —
    * broadcast, never a shuffle of the corpus side. The quantile is
    * Spark's exact `percentile` (linear interpolation, the same
    * `h = p*(n-1)` definition DuckDB's `quantile_cont` uses), so the
    * boundary comparison is bit-identical across engines; at 100 TB
    * swap in `percentile_approx` exactly as [[lengthQuantiles]]
    * documents.
    *
    * Returns (id, stratum, n_chars) for the surviving documents.
    */
  def lengthPercentileCut(
      docs: DataFrame, p: Double, stratumCol: String = "lang",
      idCol: String = "doc_id", lenCol: String = "n_chars"): DataFrame = {
    require(p > 0.0 && p < 1.0, s"p in (0, 1), got $p")
    val base = docs.select(col(idCol), col(stratumCol),
      col(lenCol).cast("long").as(lenCol))
    val cuts = base.groupBy(col(stratumCol))
      .agg(expr(s"percentile($lenCol, ${p}d)").as("cutoff"))
      .withColumnRenamed(stratumCol, "_cut_stratum")
    // null-safe equality: a NULL stratum is its own group in the
    // aggregate above, so it must also MATCH its own cutoff row — a
    // plain equi-join would silently drop every null-stratum document
    base.join(broadcast(cuts), col(stratumCol) <=> col("_cut_stratum"))
      .filter(col(lenCol) >= col("cutoff"))
      .select(col(idCol), col(stratumCol), col(lenCol))
  }

  /** TF-IDF top-k terms per document — the "what is this document
    * about" reduction used for corpus exploration and topic-balanced
    * sampling. score = tf * ln(N / df), ROUNDED to 6 decimals BEFORE
    * ranking: two terms whose scores are mathematically equal but
    * computed through different (tf, df) factorizations can differ at
    * the last ulp between engines, and ranking on the rounded value
    * (ties broken by term) keeps the top-k reproducible everywhere.
    *
    * Shape: tf is one groupBy over the exploded tokens, df is a
    * second aggregation OVER THE TF TABLE (already one row per
    * (doc, term) — no second corpus scan), N rides along as a
    * broadcast scalar, and the rank window partitions by document, so
    * its sort is bounded by per-document vocabulary.
    */
  def tfIdfTopTerms(
      docs: DataFrame, k: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val tok = docs.select(col(idCol).as("id"), explode(TextOps.tokens(col(textCol))).as("w"))
    val tf = tok.groupBy(col("id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "w")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 6))
    val w = W.partitionBy(col("id")).orderBy(col("score").desc, col("w").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("id").as(idCol), col("w").as("term"), col("tf"),
        col("score"), col("rank").cast("long").as("rank"))
  }

  /** BM25 top-k retrieval — score every document against a bag of
    * query terms with the Lucene-shape BM25 (idf = ln((N - df + 0.5) /
    * (df + 0.5) + 1), so idf is always positive) and return the k
    * best-scoring documents. This is the retrieval half of a RAG /
    * training-example-selection pipeline: "which documents in a 100 TB
    * corpus best match this probe".
    *
    * Shape: the token stream is filtered to the query vocabulary
    * BEFORE the tf groupBy, so per-(doc, term) state is bounded by
    * |query| per document, not the corpus vocabulary; document length
    * and (N, avgdl) come from one full-corpus pass whose result is a
    * per-doc long and two broadcast scalars; df is an aggregation over
    * the already-tiny tf table. The final top-k is orderBy + limit —
    * Spark plans TakeOrderedAndProject (per-partition heaps + driver
    * merge of k rows), never a global sort. avgdl is the exact
    * long-sum divided as double (not `avg`) so the scalar is
    * bit-identical to the oracle's SUM/COUNT.
    *
    * Scores are ROUNDED to 6 decimals before ranking (ties then break
    * by doc id) for the same cross-engine reproducibility reason as
    * [[tfIdfTopTerms]].
    */
  def bm25TopK(
      docs: DataFrame, queryTerms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val tok = docs.select(col(idCol).as("id"), explode(TextOps.tokens(col(textCol))).as("w"))
    val dl = tok.groupBy(col("id")).agg(count(lit(1)).as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(dl.agg((sum(col("dl")).cast("double") /
        count(lit(1)).cast("double")).as("avgdl")))
    val tf = tok.filter(col("w").isin(queryTerms: _*))
      .groupBy(col("id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "w")
      .join(dl, "id")
      .crossJoin(broadcast(stats))
      .withColumn("part",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("id")).agg(round(sum(col("part")), 6).as("score"))
      .orderBy(col("score").desc, col("id").asc).limit(k)
      .select(col("id").as(idCol), col("score"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) of
    * several ranked retrieval lists: fused(d) = Σ_lists 1 / (k0 +
    * rank_list(d)). The standard hybrid-retrieval combiner — e.g. a
    * lexical BM25 ranking fused with an embedding-cosine ranking — that
    * needs no score calibration because only RANKS enter the sum.
    *
    * Each input is a (id, score) table that is ALREADY a top-k result
    * (tens of rows, the output of [[bm25TopK]] or
    * [[graft.vector.VectorOps.bruteForceTopK]]): the rank window and
    * the union here run over k-row inputs, bounded by the fusion width,
    * never by the corpus — at 100 TB the expensive part is producing
    * the per-route rankings, and each route's own top-k is already
    * heap-aggregated. Ranks are computed over the rounded input scores
    * (ties broken by id) so both engines rank identical values; the
    * fused score is rounded to 6 decimals before the final ordering for
    * the same cross-engine determinism as [[bm25TopK]].
    *
    * Returns the fused top-k: (id, n_lists hit, rrf_score).
    */
  def rrfFuse(
      rankings: Seq[DataFrame], k0: Int = 60, k: Int = 20,
      idCol: String = "doc_id"): DataFrame = {
    require(rankings.nonEmpty, "rankings must be non-empty")
    val ranked = rankings.map { r =>
      r.select(col(idCol).as("id"), col("score"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("id").asc)))
        .select(col("id"), (lit(1.0) / (lit(k0) + col("rank"))).as("contrib"))
    }
    ranked.reduce(_ unionAll _)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_lists"), round(sum(col("contrib")), 6).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("id").asc).limit(k)
      .select(col("id").as(idCol), col("n_lists"), col("rrf_score"))
  }

  /** ROBUST OUTLIER GATING (Iglewicz & Hoaglin modified z-score, NIST
    * handbook form): per stratum, the exact median and MAD (median
    * absolute deviation) of a numeric quality feature, and per
    * document `z = 0.6745 * (x - median) / MAD`, flagged when |z| >
    * `cut` (3.5 is the published default). Median/MAD resist the very
    * outliers being hunted — a mean/stddev gate moves with every spam
    * blob it should be catching.
    *
    * Two exact-percentile aggregations per stratum (the same
    * `percentile` kernel as [[lengthQuantiles]], which DuckDB's
    * `quantile_cont` replays bit-for-bit) and one broadcast of the
    * |strata|-row cutoff table back onto the scan — no window, no
    * per-stratum single-task sort. Degenerate strata (MAD = 0: more
    * than half the documents share the median value) report z = 0 —
    * no division blow-up, documents pass.
    *
    * Returns (id, stratum, x, med, mad, z, is_outlier).
    */
  def robustOutliers(
      docs: DataFrame, cut: Double = 3.5, stratumCol: String = "source",
      idCol: String = "doc_id", xCol: String = "n_chars"): DataFrame = {
    require(cut > 0, s"cut must be positive, got $cut")
    val base = docs.select(col(idCol).cast("long").as("id"), col(stratumCol),
      col(xCol).cast("double").as("x"))
    val med = base.groupBy(col(stratumCol))
      .agg(expr("percentile(x, 0.5d)").as("med"))
      .withColumnRenamed(stratumCol, "_s")
    val withMed = base.join(broadcast(med), col(stratumCol) <=> col("_s")).drop("_s")
    val mad = withMed.withColumn("adev", abs(col("x") - col("med")))
      .groupBy(col(stratumCol))
      .agg(expr("percentile(adev, 0.5d)").as("mad"))
      .withColumnRenamed(stratumCol, "_s")
    withMed.join(broadcast(mad), col(stratumCol) <=> col("_s")).drop("_s")
      .withColumn("z",
        when(col("mad") > 0,
          round(lit(0.6745) * (col("x") - col("med")) / col("mad"), 6))
          .otherwise(lit(0.0)))
      .select(col("id").as(idCol), col(stratumCol), col("x"),
        round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
        col("z"), (abs(col("z")) > cut).as("is_outlier"))
  }

  /** CORPUS SNAPSHOT DIFF — the dataset-versioning primitive: given
    * two snapshots of a corpus, classify every document id as `added`
    * (only in the new snapshot), `removed` (only in the old),
    * `changed` (both, different content), or `unchanged`. Content
    * identity is the md5 of the text, so the full-outer join carries
    * two 32-char digests per id, never document bodies — the shape
    * that diffs a 100 TB snapshot pair with one id-keyed shuffle.
    *
    * Returns (id, status); aggregate downstream for the release-notes
    * counts.
    */
  def corpusDiff(
      oldSnap: DataFrame, newSnap: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val a = oldSnap.select(col(idCol).cast("long").as("id"),
      md5(col(textCol)).as("h_old"))
    val b = newSnap.select(col(idCol).cast("long").as("id"),
      md5(col(textCol)).as("h_new"))
    a.join(b, Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** SOURCE DRIFT DETECTION — Jensen-Shannon divergence between two
    * snapshots' per-source unigram distributions, the dataset-
    * monitoring number that flags "this crawl's src7 changed
    * character" before a model trains on it. JS (base e, in [0,
    * ln 2]) over the union vocabulary:
    * `0.5*Σ p·ln(p/m) + 0.5*Σ q·ln(q/m)`, `m = (p+q)/2`.
    *
    * Every per-term summand is computed by ONE fixed double
    * expression (identical in the SQL oracle) and then FLOORED into
    * 1e-12 units, so the cross-vocabulary sum is an integer sum —
    * order-free and bit-identical across partitionings and engines,
    * the same determinism contract as the PageRank ranks. Truncation
    * loses at most one 1e-12 unit per term, deterministic.
    *
    * Two token aggregations (one per snapshot), a full-outer join on
    * (source, term), broadcast per-source totals, one final keyed
    * sum. Sources must appear in BOTH snapshots to have two
    * distributions; others are dropped (an inner join on totals —
    * appearance/disappearance is [[corpusDiff]]'s job).
    *
    * Returns (source, n_terms, js_e12) — js in 1e-12 nats.
    */
  def sourceDrift(
      oldSnap: DataFrame, newSnap: DataFrame,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    def counts(df: DataFrame, tag: String) =
      df.select(col(srcCol), explode(TextOps.tokens(col(textCol))).as("w"))
        .groupBy(col(srcCol), col("w")).agg(count(lit(1)).as(s"c_$tag"))
    def totals(df: DataFrame, tag: String) =
      df.select(col(srcCol), size(TextOps.tokens(col(textCol))).cast("long").as("n"))
        .groupBy(col(srcCol)).agg(sum(col("n")).as(s"n_$tag"))
    val joined = counts(oldSnap, "old")
      .join(counts(newSnap, "new"), Seq(srcCol, "w"), "full_outer")
      .select(col(srcCol), col("w"),
        coalesce(col("c_old"), lit(0L)).as("c_old"),
        coalesce(col("c_new"), lit(0L)).as("c_new"))
    val tot = totals(oldSnap, "old").join(totals(newSnap, "new"), Seq(srcCol))
    // fixed arithmetic order, mirrored verbatim in the oracle:
    // p = c * 1.0 / n ; m = (p + q) / 2.0 ; term in 1e-12 units.
    // Known residual risk: the one transcendental here (ln) is not
    // correctly rounded by either JVM Math.log or DuckDB's libm, so a
    // term landing within ~1 ulp of a 1e-12 unit boundary could floor
    // differently across engines/platforms — a ±1-unit-per-term bound,
    // the same tolerance the drift specs assert (js within n_terms
    // units). The harness hash compare has held across rounds; if it
    // ever flakes here, relax to the n_terms-bounded compare rather
    // than chasing libm parity.
    val p = col("c_old") * lit(1.0) / col("n_old")
    val q = col("c_new") * lit(1.0) / col("n_new")
    val m = (p + q) / lit(2.0)
    val term = floor(
      (when(col("c_old") > 0, lit(0.5) * p * log(p / m)).otherwise(lit(0.0)) +
        when(col("c_new") > 0, lit(0.5) * q * log(q / m)).otherwise(lit(0.0))) *
        lit(1e12)).cast("long")
    joined.join(broadcast(tot), Seq(srcCol))
      .select(col(srcCol), term.as("t"))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_terms"), sum(col("t")).as("js_e12"))
  }

  /** SOURCE DISTINCTIVENESS — KL divergence of each source's unigram
    * distribution from the WHOLE CORPUS distribution,
    * `KL(P_s ‖ P_corpus) = Σ_w p_s(w)·ln(p_s(w)/p_c(w))` — the
    * composition report that ranks "how unlike the blend is this
    * source" (near 0 = redundant with the mixture; large = a domain
    * the blend under-represents), the single-snapshot companion of
    * [[sourceDrift]]'s two-snapshot JS. No smoothing is needed:
    * every word of a source IS in the corpus, so p_c > 0 wherever
    * p_s > 0 — exact KL, not an approximation.
    *
    * Same determinism contract as [[sourceDrift]]: each per-term
    * summand is one fixed double expression floored into 1e-12-nat
    * units (signed here — individual terms can be negative even
    * though the sum cannot be below the truncation slack), so the
    * cross-vocabulary sum is an integer sum, order-free across
    * partitionings and engines. One token aggregation per grain
    * (source-term, term, source, corpus), token-keyed joins,
    * broadcast totals.
    *
    * Returns (source, n_terms, kl_e12) — kl in 1e-12 nats.
    */
  def sourceKlDistinctiveness(
      docs: DataFrame, srcCol: String = "source", textCol: String = "text")
    : DataFrame = {
    val sc = docs
      .select(col(srcCol), explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy(col(srcCol), col("w")).agg(count(lit(1)).as("c"))
    val cc = sc.groupBy(col("w")).agg(sum(col("c")).as("cw"))
    val st = sc.groupBy(col(srcCol)).agg(sum(col("c")).as("ns"))
    val nTot = cc.agg(sum(col("cw")).as("n"))
    // fixed arithmetic order, mirrored verbatim in the oracle:
    // p = c * 1.0 / ns ; q = cw * 1.0 / n ; term = floor(p*ln(p/q)*1e12)
    val p = col("c") * lit(1.0) / col("ns")
    val q = col("cw") * lit(1.0) / col("n")
    val term = floor(p * log(p / q) * lit(1e12)).cast("long")
    sc.join(cc, "w")
      .join(broadcast(st), srcCol)
      .crossJoin(broadcast(nTot))
      .select(col(srcCol), term.as("t"))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_terms"), sum(col("t")).as("kl_e12"))
  }

  /** EPOCH REPEAT-FACTOR SCHEDULING — materialize a target source
    * mixture as integer per-document repeat counts (the "epochs per
    * source" table of Llama/Gopher-style data recipes): source `s`
    * with relative weight `w_s` should contribute `budget * w_s / Σw`
    * tokens, so each of its documents repeats `ratio_s =
    * target_s / actual_s` times — the integer floor for everyone, plus
    * one extra repeat for a `frac(ratio_s)` hash-selected fraction, so
    * the EXPECTED token mass matches the target exactly while every
    * decision stays deterministic (same salted 60-bit md5 uniform as
    * [[graft.text.TextOps.stratifiedSample]] — reproducible across
    * runs, engines, and cluster sizes; changing the salt redraws).
    * Sources absent from `weights` get ratio 0 — dropped, loudly
    * visible as n_repeats = 0 rather than silently passed through.
    *
    * One aggregation per source (actual token mass), then a broadcast
    * of the per-source ratio table onto the corpus scan — per-doc cost
    * is a hash and a compare; nothing driver-side grows with data
    * (the ratio table is |sources| rows).
    *
    * Returns (id, source, n_tokens, n_repeats).
    */
  def epochRepeats(
      docs: DataFrame, weights: Map[String, Double], budgetTokens: Long,
      salt: String = "epoch", idCol: String = "doc_id",
      textCol: String = "text", srcCol: String = "source"): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0), "bad weights")
    require(budgetTokens >= 0, s"budget must be >= 0, got $budgetTokens")
    val spark = docs.sparkSession
    import spark.implicits._
    val wsum = weights.values.sum
    val wdf = weights.toSeq.toDF(srcCol, "w")
    val base = docs.select(col(idCol).cast("long").as("id"), col(srcCol),
      size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
    // fixed arithmetic order (w / wsum * budget, then / actual): each
    // product rounds once, so the SQL oracle reproduces the doubles
    // bit for bit. A source whose documents are all empty/whitespace
    // has actual_tokens = 0: dividing would yield Infinity (or NaN at
    // w = 0) and explode downstream epoch streams — zero-mass sources
    // get ratio 0 (no tokens to repeat means nothing to schedule)
    val ratios = base.groupBy(col(srcCol))
      .agg(sum(col("n_tokens")).as("actual_tokens"))
      .join(broadcast(wdf), Seq(srcCol), "left")
      .withColumn("ratio",
        when(col("actual_tokens") > 0,
          coalesce(col("w"), lit(0.0)) / lit(wsum) * lit(budgetTokens.toDouble) /
            col("actual_tokens").cast("double"))
          .otherwise(lit(0.0)))
      .select(col(srcCol), col("ratio"))
    val u = TextOps.tokenHash(concat_ws(":", lit(salt), col("id").cast("string")))
      .cast("double") / lit(1152921504606846976.0) // 2^60
    base.join(broadcast(ratios), Seq(srcCol))
      .withColumn("n_repeats",
        floor(col("ratio")) +
          when(u < col("ratio") - floor(col("ratio")), 1L).otherwise(0L))
      .select(col("id").as(idCol), col(srcCol), col("n_tokens"),
        col("n_repeats").cast("long").as("n_repeats"))
  }

  /** ZIPF RANK-FREQUENCY FIT — the corpus-health diagnostic that
    * separates natural text (slope ≈ −1, Zipf 1949) from degenerate
    * corpora: template spam flattens the curve (slope → 0), a
    * collapsed vocabulary steepens it. Least-squares of ln(freq) on
    * ln(rank) over the top `topRanks` tokens, with r² alongside —
    * the pair a corpus-intake gate thresholds on.
    *
    * Shape: one token-count aggregation (vocab-sized keys, map-side
    * combined), then the ranking goes through the bounded-heap
    * [[graft.functions.TopK]] on ONE group — `topRanks` rows ever
    * shuffle, never a corpus- or vocab-wide window sort. Ties in
    * frequency break by the 60-bit token hash (the heap's id), which
    * the oracle mirrors. DETERMINISM: ln values are integer
    * nano-units (`round(1e9·ln x)`), their Pearson sums accumulate in
    * decimal(38,0) (products of two 1e10-unit terms pass 2^63 — the
    * [[graft.vector.VectorOps.knnAssortativity]] overflow rule), and
    * the double arithmetic happens once at the edge.
    *
    * Returns one row (n_ranks, slope, intercept, r2), 6 dp; slope and
    * r2 NULL when fewer than 2 ranks survive or the x-variance is 0.
    */
  def zipfFit(
      docs: DataFrame, topRanks: Int = 1000,
      textCol: String = "text"): DataFrame = {
    require(topRanks >= 2 && topRanks <= 100000,
      s"topRanks must be in [2,1e5], got $topRanks")
    val freqs = docs
      .select(explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(TextOps.tokenHash(col("w")).as("id"),
        col("freq").cast("double").as("s"), col("freq"))
    val ranked = freqs
      .groupBy(lit(1).as("g"))
      .agg(graft.functions.TopK.topK(topRanks)(col("id"), col("s")).as("top"))
      .select(explode(col("top.entries")).as("e"))
      .select(col("e.rank").as("rank"), col("e.sim").cast("long").as("freq"))
    val dec = "decimal(38,0)"
    val x = round(lit(1e9) * log(col("rank").cast("double"))).cast("long").cast(dec)
    val y = round(lit(1e9) * log(col("freq").cast("double"))).cast("long").cast(dec)
    val terms = ranked.agg(count(lit(1)).cast(dec).as("n"),
      sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
      sum(x * x).as("sxx"), sum(y * y).as("syy"))
    val nD = col("n").cast("double"); val sxD = col("sx").cast("double")
    val syD = col("sy").cast("double"); val sxyD = col("sxy").cast("double")
    val sxxD = col("sxx").cast("double"); val syyD = col("syy").cast("double")
    terms
      .select(col("n").cast("long").as("n_ranks"),
        (nD * sxyD - sxD * syD).as("num"),
        (nD * sxxD - sxD * sxD).as("dx"),
        (nD * syyD - syD * syD).as("dy"),
        sxD.as("sxd"), syD.as("syd"), nD.as("nd"))
      .select(col("n_ranks"),
        when(col("dx") === 0.0, lit(null).cast("double"))
          .otherwise(round(col("num") / col("dx"), 6)).as("slope"),
        // intercept back in ln units: (Σy − slope·Σx) / (1e9·n)
        when(col("dx") === 0.0, lit(null).cast("double"))
          .otherwise(round((col("syd") - col("num") / col("dx") * col("sxd"))
            / (col("nd") * lit(1e9)), 6)).as("intercept"),
        when(col("dx") === 0.0 || col("dy") === 0.0, lit(null).cast("double"))
          .otherwise(round(col("num") * col("num") / (col("dx") * col("dy")), 6))
          .as("r2"))
  }

  /** Cumulative Poisson(1) CDF thresholds P(X ≤ k), k = 0..6 — the
    * single source of truth for [[bootstrapMeanCi]]'s weight ladder;
    * the SQL oracle embeds THESE doubles bit-exactly, so both engines
    * draw identical weights from identical uniforms.
    */
  val PoissonCdf1: Seq[Double] = {
    val e1 = math.exp(-1.0)
    Seq(1.0, 1.0, 0.5, 1.0 / 6, 1.0 / 24, 1.0 / 120, 1.0 / 720)
      .scanLeft(0.0)(_ + _).tail.map(_ * e1)
  }

  /** POISSON-BOOTSTRAP CONFIDENCE INTERVAL for the corpus mean token
    * count — the uncertainty readout every corpus-level metric should
    * ship with (a mean quality score over 10 documents and over 10
    * billion get very different error bars; dashboards that show only
    * the point estimate hide that). The classic resampling bootstrap
    * is a multinomial over n docs — undistributable; the POISSON
    * bootstrap (each document enters replica b Poisson(1) times,
    * independent across docs) is the standard scale-out approximation
    * and is embarrassingly parallel: one corpus scan expanded
    * `replicas`-fold, map-side-combined down to `replicas` partial
    * rows per partition before the one tiny shuffle.
    *
    * DETERMINISM: the "randomness" is the md5-fraction uniform
    * u(doc, b) = (first-13-hex-digits + 0.5) / 2^52 (the A-ES sampling
    * idiom) pushed through the Poisson(1) inverse CDF as a CASE ladder
    * over [[PoissonCdf1]] (weights capped at 7 — P(X > 6) ≈ 8·10⁻⁵,
    * and the CAP is part of the operator's definition, applied
    * identically in the oracle, not an approximation slack). Replica
    * means are exact-integer sums with one IEEE division; the CI
    * bounds are the 2nd-lowest / 2nd-highest replica means (the
    * percentile bootstrap at B = 64 ⇒ ~3 % tails), selected by the
    * bounded TopK aggregator — no corpus-wide window anywhere.
    *
    * Returns one row: (n_docs, n_replicas, mean_tokens, ci_lo, ci_hi).
    */
  def bootstrapMeanCi(
      docs: DataFrame, replicas: Int = 64, salt: String = "boot",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(replicas >= 4 && replicas <= 512,
      s"replicas must be in [4,512], got $replicas")
    val x = docs.select(col(idCol).cast("long").as("id"),
      size(TextOps.tokens(col(textCol))).cast("long").as("x"))
    val e = x.select(col("id"), col("x"),
      explode(sequence(lit(0), lit(replicas - 1))).as("b"))
    val h = conv(substring(md5(concat_ws(":", lit(salt),
      col("b").cast("string"), col("id").cast("string"))), 1, 13), 16, 10)
      .cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(4503599627370496.0)
    val w = PoissonCdf1.zipWithIndex
      .foldRight(lit(PoissonCdf1.length.toLong): Column) {
        case ((thr, i), els) => when(col("u") < lit(thr), lit(i.toLong)).otherwise(els)
      }
    val rep = e.withColumn("u", u).withColumn("w", w)
      .groupBy(col("b"))
      .agg(sum(col("w") * col("x")).as("swx"), sum(col("w")).as("sw"))
      .select(col("b"),
        when(col("sw") === 0L, lit(0.0))
          .otherwise(col("swx").cast("double") / col("sw").cast("double"))
          .as("mean_b"))
    // both CI bounds from ONE pass over the replica table (negation
    // turns the 2nd-lowest into a 2nd-best query; means are >= 0)
    val ci = rep.agg(
      graft.functions.TopK.topK(2)(col("b"), -col("mean_b")).as("tlo"),
      graft.functions.TopK.topK(2)(col("b"), col("mean_b")).as("thi"))
      .select(
        (-element_at(col("tlo.entries"), 2).getField("sim")).as("ci_lo"),
        element_at(col("thi.entries"), 2).getField("sim").as("ci_hi"))
    val point = x.agg(count(lit(1)).as("n_docs"),
      (sum(col("x")).cast("double") / count(lit(1))).as("mean_tokens"))
    point.crossJoin(broadcast(ci))
      .select(col("n_docs"), lit(replicas.toLong).as("n_replicas"),
        col("mean_tokens"), col("ci_lo"), col("ci_hi"))
  }
}
