package graft.text

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import org.apache.spark.sql.functions._

/** Text-analysis and deduplication operators for large-scale training-
  * data pipelines, built on codegen'd `functions._` columns wherever
  * possible (no Scala UDFs on the hot path).
  *
  * Portability note: token hashes use md5 (identical across engines) so
  * the DuckDB oracle can recompute signatures bit-exactly: the 60-bit
  * token hash is `conv(substr(md5(w), 1, 15), 16, 10)`.
  */
object TextOps {

  /** Non-empty whitespace tokens — `array_remove(split(.), "")` keeps
    * the shape identical to DuckDB's `list_filter(string_split(.))`.
    */
  def tokens(text: Column): Column = array_remove(split(text, " "), "")

  /** The distinct tokens of `text` sorted in [[utf8Order]]: the same
    * non-empty " "-split pieces as [[tokens]], as a set. The MinHash
    * kernel hashes it and exact verification intersects it, so both
    * read one definition of a document's set.
    */
  private[graft] def tokenSet(text: String): Array[String] = {
    val ws = text.split(" ")
    // drop empty pieces and repeats first, so the sort sees each token
    // once (a Zipf document repeats its common words many times)
    val seen = new java.util.HashSet[String](ws.length * 2)
    var n = 0
    var i = 0
    while (i < ws.length) {
      val w = ws(i)
      if (w.nonEmpty && seen.add(w)) { ws(n) = w; n += 1 }
      i += 1
    }
    java.util.Arrays.sort(ws, 0, n, utf8Order)
    java.util.Arrays.copyOf(ws, n)
  }

  /** Spark's string order, UTF-8 byte order, computed on the UTF-16
    * units without encoding: at the first differing unit, surrogates
    * (U+D800..U+DFFF, which only occur as halves of code points above
    * U+FFFF) rank above U+E000..U+FFFF. For well-formed strings that is
    * code-point order, which UTF-8 preserves; Java's own String order
    * differs exactly there (U+E000 sorts before U+1F600 in UTF-8 and
    * after it in UTF-16).
    */
  private[graft] val utf8Order: java.util.Comparator[String] = (a: String, b: String) => {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    if (i == n) a.length - b.length
    else {
      def rank(c: Char): Int =
        if (c < 0xD800) c else if (c < 0xE000) c + 0x2000 else c - 0x800
      rank(a.charAt(i)) - rank(b.charAt(i))
    }
  }

  /** (id, toks) per-document token sets of (id, text) rows, toks as in
    * [[tokenSet]] — the input of [[verifyJaccardCandidates]] for the
    * MinHash routes, whose ids pass [[requireIntegralId]] and are
    * carried as `long`; rows with a null id or a null text have no set.
    * A narrow map, like the kernel: the set is built once per row and
    * stored in it, so a join that matches a document to many candidate
    * pairs reads the set instead of rebuilding it per match (a column
    * expression would be re-evaluated per match inside a broadcast
    * join's generated loop).
    */
  private[graft] def tokenSets(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    requireIntegralId(docs, idCol)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, tokenSet(text)) })
      .toDF("id", "toks")
  }

  /** The one fold of an (id, w) element table into per-document sets:
    * (id, toks), toks distinct and sorted in Spark's string order (the
    * order of [[tokenSet]]). Routes whose elements are already a table
    * (the prefix-filter joins, shingles, a stored index) verify through
    * it; it is their size aggregate too, since |set| = size(toks).
    */
  private[graft] def foldTokenSets(tok: DataFrame): DataFrame =
    tok.groupBy(col("id")).agg(sort_array(collect_set(col("w"))).as("toks"))

  /** 60-bit deterministic token hash (md5 prefix). */
  def tokenHash(w: Column): Column =
    conv(substring(md5(w), 1, 15), 16, 10).cast("long")

  /** Word n-gram array over an ALREADY-MATERIALIZED token-array column
    * (empty when the document has fewer than n tokens).
    *
    * `ws` MUST be a bound attribute (projected in its own select), not
    * an inline `tokens(text)` expression: expressions inside a
    * higher-order-function lambda get no subexpression elimination, so
    * an inline tokenization would re-split the text once PER GRAM —
    * O(len^2) per document, a measured 3 s -> >500 s blow-up on a
    * single 200k-token document. Every corpus-scale shingle consumer
    * projects `tokens(text).as("toks")` first and passes `col("toks")`.
    */
  private[graft] def shinglesOf(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n), k => concat_ws(" ", slice(ws, k + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Exact deduplication: one row per distinct text, keeper = min id,
    * plus duplicate count. Hash-groupBy shape — one shuffle on the text
    * hash; at scale group on md5(text) rather than the full text to
    * keep shuffle rows small.
    */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** Token-SET Jaccard similarity join >= `threshold` with PREFIX
    * FILTERING (Chaudhuri et al. 2006 "A Primitive Operator for
    * Similarity Joins"): order each document's tokens by ascending
    * global document frequency and index only the first
    * `|A| - ceil(t*|A|) + 1` of them. Any pair with J >= t must share a
    * prefix token in BOTH prefixes, so the candidate join touches only
    * the rare end of each document — a corpus-scale hot token like
    * "the" (max df, ranked last in every document) almost never enters
    * the index, killing the k^2 fan-out of skewed join keys. Candidates
    * are then verified with the exact intersection over the full token
    * sets, so results are IDENTICAL to the unpruned join.
    */
  def jaccardPairs(
      docs: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    jaccardPairsFromTokens(tokenTable(docs, idCol, textCol), threshold)

  /** The distinct (id, w) token-set table [[jaccardPairs]] joins on —
    * exposed so a pipeline running several similarity passes over the
    * same corpus (different thresholds, clustering) tokenizes ONCE and
    * caches the result instead of re-exploding the text per query.
    */
  def tokenTable(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("w")).distinct()

  /** [[jaccardPairs]] over a precomputed [[tokenTable]]. */
  def jaccardPairsFromTokens(tok: DataFrame, threshold: Double): DataFrame =
    jaccardFromTok(tok, threshold)

  /** Word n-gram (shingle) Jaccard similarity join: contiguous n-token
    * shingles as the set elements — order-sensitive near-dup detection
    * (a reordered document shares words but few shingles). Same
    * prefix-filtered join as [[jaccardPairs]]; documents with fewer
    * than n tokens have no shingles and never pair.
    */
  def ngramJaccardPairs(
      docs: DataFrame, n: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    jaccardFromTok(shingleTable(docs, n, idCol, textCol), threshold)

  /** Prefix-filtered set-similarity join over a distinct (id, w)
    * element table (see [[jaccardPairs]] for the filtering argument).
    */
  private def jaccardFromTok(tok: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val sets = foldTokenSets(tok)
    val dfreq = tok.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val prefix = tok.join(dfreq, "w")
      .withColumn("rnk", row_number().over(W.partitionBy(col("id")).orderBy(col("df"), col("w"))))
      .join(sets.select(col("id"), size(col("toks")).as("sz")), "id")
      // ceil guarded against fp overshoot: for thresholds where t*sz is
      // an exact integer k the double product can land at k+ulp, which
      // would shrink the prefix by one and silently drop a pair at
      // J == t exactly; nudging below the integer before ceil keeps the
      // prefix conservative for any threshold
      .filter(col("rnk") <= col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
      .select(col("id"), col("w"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.w") === col("b.w") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    verifyJaccardCandidates(sets, sets, cand, threshold)
  }

  /** Token-set CONTAINMENT join (directed): emits (id_a, id_b,
    * containment) for every ORDERED pair with
    * C(A→B) = |A ∩ B| / |A| >= threshold — the subset-detection signal
    * Jaccard structurally misses: a 50-token doc fully quoted inside a
    * 5000-token doc has J ≈ 0.01 but C = 1.0. The standard scrape-dedup
    * companion to resemblance (Broder 1997 distinguishes exactly these
    * two: "resemblance" and "containment").
    *
    * Prefix filtering applies to the CONTAINED side only (the bound is
    * on |A|): A must share one of its |A| - ceil(t·|A|) + 1 rarest
    * tokens with B, so each A probes the token index by its rare end;
    * the containing side cannot be size-pruned (containment is
    * asymmetric — B may be arbitrarily large). Candidates verify with
    * the exact intersection of the folded sets ([[pairOverlap]]), so
    * results equal the unpruned join.
    */
  def containmentPairs(tok: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val sets = foldTokenSets(tok)
    val sizes = sets.select(col("id"), size(col("toks")).as("sz"))
    val dfreq = tok.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val prefixA = tok.join(dfreq, "w")
      .withColumn("rnk", row_number().over(W.partitionBy(col("id")).orderBy(col("df"), col("w"))))
      .join(sizes, "id")
      // same fp-overshoot guard as the Jaccard prefix
      .filter(col("rnk") <= col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
      .select(col("id"), col("w"))
    val cand = prefixA.as("a").join(tok.toDF("bid", "w"), "w")
      .filter(col("id") =!= col("bid"))
      .select(col("id").as("id_a"), col("bid").as("id_b")).distinct()
    pairOverlap(sets, sets, cand)
      .withColumn("containment", col("inter") / col("sz_a"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("containment"), 6).as("containment"))
  }

  /** CONTEXT-WINDOW chunking — slice each document's token stream into
    * training windows of `size` tokens advancing by `stride` (overlap =
    * size - stride), the standard long-document preparation for a
    * fixed-context model. Window count is 1 + ceil(max(0, n-size) /
    * stride) — the last window is the first one reaching the document
    * end (no fully-redundant tail windows). Purely row-local (explode +
    * slice — narrow, shuffle-free, stream-transparent); emits
    * (id, win_id, start_pos, n_tokens, win_hash) where win_hash is the
    * md5 of the space-joined window text (windows stay verifiable
    * without shipping their bodies).
    */
  def contextWindows(
      docs: DataFrame, size: Int, stride: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(size >= 1 && stride >= 1, s"size >= 1 and stride >= 1, got size=$size stride=$stride")
    docs.select(col(idCol).cast("long").as("id"), tokens(col(textCol)).as("toks"))
      .withColumn("n", size_(col("toks")))
      .filter(col("n") > 0)
      .withColumn("win_id", explode(sequence(lit(0L),
        expr(s"(greatest(n - $size, 0) + ${stride - 1}) div $stride"))))
      .withColumn("start_pos", col("win_id") * stride + 1)
      .withColumn("win", slice(col("toks"), col("start_pos").cast("int"), lit(size)))
      .select(col("id").as(idCol), col("win_id"), col("start_pos"),
        size_(col("win")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("win"))).as("win_hash"))
  }

  // org.apache.spark.sql.functions.size under an alias: `size` the
  // identifier collides with operator parameters named size
  private def size_(c: Column): Column = org.apache.spark.sql.functions.size(c)

  /** Per-SOURCE lexical diversity report — corpus-health numbers a
    * mixing decision reads before setting rates: document count, total
    * token occurrences, distinct token types, and the type-token ratio
    * (low TTR = repetitive/boilerplate-heavy source). Two grouped
    * aggregations — (source, w) partials then per-source rollup — both
    * map-side combined; per-source state is the type count, never the
    * token stream.
    */
  def sourceDiversity(
      docs: DataFrame, strataCol: String = "source", textCol: String = "text"): DataFrame = {
    val occ = docs.select(col(strataCol).as("source"), explode(tokens(col(textCol))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"))
    docs.groupBy(col(strataCol).as("source")).agg(count(lit(1)).as("n_docs"))
      .join(occ, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        round(coalesce(col("n_types"), lit(0L)) /
          greatest(coalesce(col("n_tokens"), lit(0L)), lit(1L)), 6).as("ttr"))
  }

  /** TOKEN-MASS CONCENTRATION (Gini) across sources — the one-number
    * inequality readout a mixing decision pairs with the diversity
    * table: 0 = every source contributes equal token mass, → 1 = one
    * source dominates (train on it and the mixture is a monoculture
    * no temperature rescue fixes). Computed EXACTLY in integers from
    * the rank formulation G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over
    * ascending-sorted masses, emitted in micro-units with one final
    * integer division — both engines truncate identically.
    *
    * Shape: one exploded-token aggregation to per-source masses
    * (map-side combined), then a |sources|-row ranked fold — the
    * window is source-count-sized, never corpus-sized.
    */
  def sourceGini(
      docs: DataFrame, strataCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val mass = docs
      .select(col(strataCol).as("source"), explode(tokens(col(textCol))).as("w"))
      .groupBy(col("source")).agg(count(lit(1)).as("x"))
    val ranked = mass.withColumn("i",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("x"), col("source"))))
    ranked
      .agg(count(lit(1)).as("n"), sum(col("x")).cast("long").as("tot"),
        sum(col("i") * col("x")).cast("long").as("iwx"))
      .select(col("n").as("n_sources"), col("tot").as("total_tokens"),
        expr("(2 * iwx - (n + 1) * tot) * CAST(1000000 AS BIGINT) " +
          "div greatest(n * tot, CAST(1 AS BIGINT))").as("gini_micro"))
  }

  /** Temperature-scaled source mixing weights — the multinomial
    * up/down-sampling rates (mC4/XLM-R shape) that flatten a skewed
    * source distribution: p_temp(s) ∝ p_raw(s)^alpha with
    * p_raw(s) = source token share, alpha in (0, 1]. alpha = 1 keeps
    * the natural distribution; alpha → 0 approaches uniform. `boost`
    * = p_temp / p_raw is the per-source sampling-rate multiplier a
    * mixing job applies (> 1 up-samples the tail, < 1 down-samples the
    * head).
    *
    * Shape: one exploded-token aggregation to per-source token counts
    * (map-side combined), then two broadcast scalars (total tokens,
    * normalizer Σ p^alpha) over a |sources|-row table — nothing here
    * grows with corpus size except the first scan. Shares exact
    * integer token counts with the oracle; the doubles are rounded to
    * 6 decimals.
    */
  def temperatureMixWeights(
      docs: DataFrame, alpha: Double = 0.7,
      strataCol: String = "source", textCol: String = "text"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha in (0, 1], got $alpha")
    val perSource = docs
      .select(col(strataCol).as("source"), size_(tokens(col(textCol))).cast("long").as("nt"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val total = perSource.agg(sum(col("n_tokens")).as("total_tokens"))
    val raw = perSource.crossJoin(broadcast(total))
      .withColumn("p_raw", col("n_tokens").cast("double") / col("total_tokens").cast("double"))
      .withColumn("p_pow", pow(col("p_raw"), lit(alpha)))
    val norm = raw.agg(sum(col("p_pow")).as("z"))
    raw.crossJoin(broadcast(norm))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("p_raw"), 6).as("p_raw"),
        round(col("p_pow") / col("z"), 6).as("p_temp"),
        round(col("p_pow") / col("z") / col("p_raw"), 6).as("boost"))
  }

  /** Cross-corpus n-gram NOVELTY — per incoming document, the fraction
    * of its distinct word n-grams never seen in the base corpus. The
    * data-curation dual of [[incrementalLshPairs]]: incremental dedup
    * asks "is this an old document", novelty asks "how much NEW text
    * does it add" (novelty ≈ 0 → boilerplate/recombination; ≈ 1 →
    * genuinely fresh), the signal an ingest decision reads when
    * near-dup thresholds don't fire.
    *
    * Shape: both sides reduce to distinct (id, gram-hash) tables; the
    * base side further collapses to its DISTINCT gram set (the corpus
    * index — in production precomputed and persisted). One left
    * equi-join on the 60-bit md5 gram hash — narrow fixed-width
    * shuffle keys instead of full gram strings — then a per-doc count
    * rollup. A hash collision would count a novel gram as seen on both
    * engines identically, so parity is unaffected.
    */
  def crossCorpusNovelty(
      base: DataFrame, incoming: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val baseGrams = shingleTable(base, n, idCol, textCol)
      .select(tokenHash(col("w")).as("h")).distinct()
      .withColumn("seen", lit(1))
    shingleTable(incoming, n, idCol, textCol)
      .select(col("id"), tokenHash(col("w")).as("h"))
      .join(baseGrams, Seq("h"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"), count(col("seen")).as("n_seen"))
      .select(col("id").as(idCol), col("n_grams"), col("n_seen"),
        round(lit(1.0) - col("n_seen") / col("n_grams"), 6).as("novelty"))
  }

  /** Quality-aware dedup keeper: instead of the min-id keeper of
    * [[dedupClusters]], keep the HIGHEST-QUALITY member of every dup
    * cluster (the production policy: when five near-copies of a page
    * exist, keep the longest / best-scored one, not the one with the
    * smallest crawl id). Ties break to the smallest id so the choice
    * is deterministic.
    *
    * Shape: one equi-join of the cluster table with the per-doc quality
    * table on the doc id, then a single groupBy(cluster) whose
    * aggregate is a lexicographic struct-min — `min(struct(-quality,
    * id))` — which partial-aggregates map-side like any min; no window,
    * no per-cluster sort. Cluster count and member counts ride the
    * same aggregate.
    *
    * `quality`: (idCol, quality) with a numeric quality column —
    * bigger is better.
    */
  def keepBestPerCluster(
      clusters: DataFrame, quality: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    clusters.join(quality.select(col(idCol), col("quality")), idCol)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        min(struct((col("quality") * -1).as("negq"), col(idCol).as("id"))).as("best"))
      .select(col("cluster_id"), col("best.id").as("keep_id"),
        (col("best.negq") * -1).as("best_quality"), col("cluster_size"))

  /** Hashed-feature linear classifier scoring — the fasttext-shaped
    * quality-classifier pass every pretraining pipeline runs (Brown et
    * al. 2020 §A; Joulin et al. 2016): score a document as the mean of
    * per-token weights looked up by the HASHING TRICK (Weinberger et
    * al. 2009), keep docs above a margin threshold. Here the weight of
    * hash bucket h is the deterministic `(h mod buckets) - (buckets-1)/2`
    * ramp — a stand-in with the exact production plan shape (in a real
    * deployment the bucket->weight array is learned offline and
    * broadcast; the lookup cost and data movement are identical) that
    * keeps the oracle able to reproduce every weight from md5 alone.
    *
    * Exactness across engines: the per-doc accumulation is an INTEGER
    * sum of `(h mod buckets) - (buckets-1)/2` (order-free, no float
    * addition), and the margin is one final division by
    * `halfRange * n_tokens` — so the double is produced by a single
    * identical operation on identical integers in both engines.
    *
    * Fully narrow: tokenize, fold, divide — no explode, no shuffle;
    * stream-transparent (usable unchanged under readStream).
    */
  def hashedClassifierScore(
      docs: DataFrame, buckets: Int = 1001, threshold: Double = 0.0,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(buckets >= 3 && buckets % 2 == 1, s"odd buckets >= 3, got $buckets")
    val half = (buckets - 1) / 2
    val toks = tokens(col(textCol))
    val isum = aggregate(toks, lit(0L),
      (acc, w) => acc + (pmod(tokenHash(w), lit(buckets.toLong)) - lit(half.toLong)))
    val n = size(toks).cast("long")
    docs.select(col(idCol), n.as("n_tokens"), isum.as("int_sum"))
      .withColumn("margin",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("int_sum").cast("double") /
            (lit(half.toDouble) * col("n_tokens").cast("double"))))
      .select(col(idCol), col("n_tokens"), col("int_sum"),
        round(col("margin"), 6).as("margin"),
        (col("margin") > threshold).as("keep"))
  }

  /** Tokenizer fertility per stratum — BPE-ish subword tokens emitted
    * per whitespace word, and characters per subword token: the
    * corpus-health metric that decides whether a tokenizer is
    * efficient on each source/language (fertility near 1 = words
    * mostly survive whole; high fertility = heavy fragmentation, more
    * compute per effective word).
    *
    * One narrow pass computes both token counts per document with the
    * same tokenizers as [[tokens]] and [[tokenCountsBpe]]
    * ([[BpeishPattern]]); one partial-aggregated groupBy(stratum)
    * sums exact integers; the two ratios are single divisions of those
    * integer sums, bit-identical cross-engine.
    */
  def tokenFertility(
      docs: DataFrame, strataCol: String = "source",
      textCol: String = "text"): DataFrame =
    docs.select(col(strataCol).as("stratum"),
      size(tokens(col(textCol))).cast("long").as("ws"),
      size(expr(s"regexp_extract_all($textCol, '$BpeishPattern', 0)")).cast("long").as("bpe"),
      length(col(textCol)).cast("long").as("ch"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"), sum(col("ch")).as("n_chars_sum"))
      .select(col("stratum"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
        round(col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"), 6)
          .as("fertility"),
        round(col("n_chars_sum").cast("double") / col("bpe_tokens").cast("double"), 6)
          .as("chars_per_token"))

  /** Corpus-wide DUPLICATE-TEXT MASS per document — the fraction of a
    * document's distinct word n-grams that occur in `minDf`-or-more
    * documents: the per-document "how much of this text exists
    * elsewhere" signal behind exact-substring train-set dedup (Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better") at n-gram granularity. Near-dup joins report PAIRS; this
    * reports each document's duplicated mass even when no single
    * partner crosses a pair threshold (boilerplate smeared across
    * thousands of pages).
    *
    * Shape at 100 TB: distinct (doc, gram-hash) → gram document
    * frequency (one partial-aggregated groupBy on the 60-bit hash) →
    * one hash equi-join back → per-doc rollup. Everything is keyed by
    * the fixed-width gram hash; nothing is pairwise. Gram-hash
    * collisions fold identically in both engines (the oracle hashes
    * the same way), so parity is unaffected.
    *
    * Documents shorter than n tokens have no grams and are absent.
    */
  def dupGramMass(
      docs: DataFrame, n: Int = 5, minDf: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val grams = shingleTable(docs, n, idCol, textCol)
      .select(col("id"), tokenHash(col("w")).as("h")).distinct()
    // df as a count over the h-partitioned window instead of a
    // separate groupBy(h) aggregate joined back: the join shape read
    // the distinct gram stream twice (dfreq build + probe) and paid a
    // gram-keyed merge join; the window shape shuffles the stream by
    // h exactly once and annotates rows in place (identical df values
    // — whole-partition count). The window is h-partitioned, never
    // partition-less; a degenerate hot gram's partition is
    // df-of-one-gram-sized rows of two longs, and the window array
    // spills gracefully.
    val wH = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    grams.withColumn("df", count(lit(1)).over(wH))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_dup_grams"))
      .select(col("id").as(idCol), col("n_grams"), col("n_dup_grams"),
        round(col("n_dup_grams") / col("n_grams"), 6).as("dup_frac"))
  }

  /** 60-bit md5-prefix token hash computed JVM-side — byte-identical
    * to the SQL form `conv(substr(md5(w),1,15),16,10)`.
    */
  def tokenHashJvm(md: java.security.MessageDigest, w: String): Long = {
    md.reset()
    val d = md.digest(w.getBytes("UTF-8"))
    // first 15 hex chars = first 7 bytes + high nibble of the 8th
    var v = 0L
    var k = 0
    while (k < 7) { v = (v << 8) | (d(k) & 0xFFL); k += 1 }
    (v << 4) | ((d(7) & 0xF0L) >> 4)
  }

  /** SimHash signature over the 60-bit token hashes: per bit, sum +1/-1
    * across token OCCURRENCES; bit set iff the sum is positive.
    *
    * Per-document signatures are row-local, so this is an
    * embarrassingly-parallel mapPartitions — NO shuffle, no aggregation
    * state; the natural 100 TB shape.
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val counts = new Array[Int](60)
        rows.map { case (id, text) =>
          java.util.Arrays.fill(counts, 0)
          text.split(" ").foreach { w =>
            if (w.nonEmpty) {
              val h = tokenHashJvm(md, w)
              var b = 0
              while (b < 60) {
                if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
                b += 1
              }
            }
          }
          var sig = 0L
          var b = 0
          while (b < 60) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
          (id, sig)
        }
      }.toDF("doc_id", "simhash")
  }

  /** SimHash NEAR-DUP PAIRS within Hamming distance `maxHamming`
    * (Manku, Jain & Das Sarma, WWW 2007 — the production web-dedup
    * construction): split the 60-bit signature into `maxHamming + 1`
    * contiguous bands; by pigeonhole, any two signatures within the
    * radius agree EXACTLY on at least one band, so candidates are
    * (band index, band bits) equi-join matches — never a quadratic
    * scan — and the exact `bit_count(xor)` filter keeps the result
    * identical to the exhaustive Hamming join. Completes the simhash
    * route the same way [[winnowPairs]] completes winnowing.
    *
    * Returns (id_a, id_b, hamming).
    */
  def simhashPairs(
      docs: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    hammingPairs(simhash(docs, idCol, textCol).toDF("id", "sig"),
      sigBits = 60, maxHamming = maxHamming)

  /** The pigeonhole band explosion [[hammingPairs]] joins on:
    * `maxHamming + 1` disjoint bit-bands — two signatures within
    * radius r must agree EXACTLY on at least one band (pigeonhole),
    * so an equi-join per band finds every pair. The trailing band
    * absorbs the `sigBits mod bands` remainder bits, and
    * `shiftrightunsigned` keeps banding correct for full-width 64-bit
    * signatures whose sign bit is set (signed shift would smear the
    * sign across high bands). Exposed so streaming twins can run the
    * identical banding on a readStream side (a stream-stream inner
    * equi-join on (band, bits) is Spark's supported append-mode join
    * shape) — one definition, so the batch join and any streaming
    * consumer can never drift apart. Returns (id, sig, band, bits).
    */
  def hammingBands(sigs: DataFrame, sigBits: Int, maxHamming: Int): DataFrame = {
    require(sigBits >= 1 && sigBits <= 64, s"sigBits in [1, 64], got $sigBits")
    require(maxHamming >= 0 && maxHamming < sigBits,
      s"maxHamming in [0, $sigBits), got $maxHamming")
    val bands = maxHamming + 1
    val width = sigBits / bands // trailing band absorbs the remainder bits
    sigs.select(col("id"), col("sig"),
      explode(expr(
        s"""transform(sequence(0, ${bands - 1}), b -> named_struct(
           |  'band', b,
           |  'bits', CASE WHEN b = ${bands - 1}
           |    THEN shiftrightunsigned(sig, b * $width)
           |    ELSE shiftrightunsigned(sig, b * $width) & ${(1L << width) - 1} END))""".stripMargin))
        .as("bb"))
      .select(col("id"), col("sig"), col("bb.band").as("band"), col("bb.bits").as("bits"))
  }

  /** Pigeonhole-banded Hamming-radius pair join over ANY (id, sig)
    * signature table — the generic core of [[simhashPairs]], shared by
    * perceptual image-hash dedup
    * ([[graft.multimodal.Multimodal.dHash]] signatures are 64-bit):
    * [[hammingBands]] explodes each signature, band-bucket equi-join
    * generates candidates (they scale with bucket occupancy, never
    * corpus²), and the exact `bit_count(xor)` filter keeps the result
    * identical to the exhaustive Hamming join.
    */
  def hammingPairs(sigs: DataFrame, sigBits: Int, maxHamming: Int): DataFrame = {
    val banded = hammingBands(sigs, sigBits, maxHamming)
    banded.toDF("id_a", "sig_a", "band", "bits")
      .join(banded.toDF("id_b", "sig_b", "band", "bits"), Seq("band", "bits"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sig_a ^ sig_b)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** The numHashes deterministic permutation coefficients (a, b) for
    * [[minhashLshPairs]] — splitmix-ish odd multipliers, masked to 60
    * bits so `a*h + b` stays deterministic under 64-bit wrap.
    */
  def minhashCoefficients(numHashes: Int): IndexedSeq[(Long, Long)] =
    (0 until numHashes).map { k =>
      val a = 0x9E3779B97F4A7C15L * (k + 1) | 1L
      val b = 0xBF58476D1CE4E5B9L * (k + 1)
      ((a & 0x0FFFFFFFFFFFFFFFL) | 1L, b & 0x0FFFFFFFFFFFFFFFL)
    }

  /** MinHash signatures + LSH banding for near-dup candidate pairs.
    * numHashes permutations via the 2^61-masked affine hash
    * `(a*h + b) mod 2^64 mod 2^61` over the md5 token hashes (NOT a
    * min-wise-independent mod-p permutation — a deterministic scatter
    * hash, which is what banding needs and what a SQL oracle can
    * reproduce: the 64-bit wrap equals taking the 128-bit product mod
    * 2^64, and 2^61 divides 2^64, so HUGEINT-mod reproduces it);
    * `bands` bands of `numHashes/bands` rows; pairs sharing any band
    * bucket are candidates. Buckets are md5 over the band's joined
    * signature values — portable across engines, unlike murmur3.
    *
    * Verification joins ONLY the candidate pairs back to their
    * documents' token sets (two joins on id, then one merge per pair),
    * never the full-corpus similarity join — at 100 TB the whole point
    * of LSH is that cost scales with candidates, not with corpus^2.
    *
    * Candidates come from [[rowLocalBandBuckets]] — the one MinHash
    * kernel, a narrow map over the text with no (id, token) shuffle —
    * grouped by one exchange on the bucket ([[candidatesFromBanded]]),
    * so the kernel runs once. Verification reads each document's
    * sorted token set ([[tokenSets]], a narrow map over the text):
    * no (id, token) table is built, shuffled or aggregated.
    *
    * Ids are unique per row of `docs`: a repeated id gets one set per
    * row, not the union of its rows' tokens.
    *
    * Ids must be byte, short, int or long (the kernel carries them as
    * `long` and rejects any other type); the output's `id_a` / `id_b`
    * keep the type of `idCol`. Rows with a null id or a null text never
    * pair.
    */
  def minhashLshPairs(
      docs: DataFrame, numHashes: Int, bands: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val idType = docs.select(col(idCol)).schema.head.dataType
    val cand = candidatesFromBanded(rowLocalBandBuckets(docs, numHashes, bands, idCol, textCol))
      .select(col("id_a").cast(idType).as("id_a"), col("id_b").cast(idType).as("id_b"))
    val sets = tokenSets(docs, idCol, textCol)
    verifyJaccardCandidates(sets, sets, cand, threshold)
  }

  /** DEDUP IMPACT REPORT — the per-source removal summary a data team
    * reads BEFORE committing a dedup configuration: for each source,
    * how many documents an exact dedup (keep the smallest id per text
    * digest) would remove, and how many a keep-smallest near-dedup at
    * the given MinHash-LSH threshold would remove — the numbers that
    * decide whether a source is boilerplate-ridden enough to warrant
    * the near-dup pass at all. Near-removals count the GREATER id of
    * each verified pair (the keep-smallest contract shared with
    * [[dedupKeepers]] / SemDeDup); exact and near counts are
    * independent readouts of their respective strategies, not stages
    * of one pipeline. Cost: one digest aggregation plus the one
    * [[minhashLshPairs]] pass — bucketed, never all-pairs.
    *
    * Returns (source, n_docs, n_exact_removed, n_near_removed,
    * exact_frac, near_frac), fractions as single IEEE divisions of
    * < 2^53 integers.
    */
  def dedupImpactReport(
      docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.95, idCol: String = "doc_id",
      textCol: String = "text", srcCol: String = "source"): DataFrame = {
    val cohort = docs.select(col(idCol).cast("long").as("id"),
      col(srcCol).as("source"), md5(col(textCol)).as("h"))
    val keepers = cohort.groupBy(col("h")).agg(min(col("id")).as("keeper"))
    val exact = cohort.join(keepers, "h")
      .filter(col("id") =!= col("keeper"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_exact_removed"))
    val near = minhashLshPairs(docs, numHashes, bands, threshold, idCol, textCol)
      .select(col("id_b").as("id")).distinct()
      .join(cohort.select(col("id"), col("source")), "id")
      .groupBy(col("source")).agg(count(lit(1)).as("n_near_removed"))
    cohort.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(exact, Seq("source"), "left")
      .join(near, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_exact_removed"), lit(0L)).as("n_exact_removed"),
        coalesce(col("n_near_removed"), lit(0L)).as("n_near_removed"))
      .withColumn("exact_frac",
        col("n_exact_removed").cast("double") / col("n_docs"))
      .withColumn("near_frac",
        col("n_near_removed").cast("double") / col("n_docs"))
  }

  /** Canonical (id_a < id_b, deduplicated) candidate pairs from an
    * (id, bucket) band table — ONE definition of bucket co-membership,
    * shared by the single-config route and the band-count sweep so the
    * sweep can never silently measure a different candidate set than
    * the operator it tunes. One exchange on `bucket` gathers each
    * bucket's ids; the sorted ids give every id_a < id_b pair of the
    * bucket (so the pairs do not depend on `collect_list` order), and
    * a distinct merges pairs that share several buckets. The input is
    * read once, so the kernel under it runs once.
    */
  private[graft] def candidatesFromBanded(banded: DataFrame): DataFrame = {
    val spark = banded.sparkSession
    import spark.implicits._
    banded.groupBy(col("bucket")).agg(collect_list(col("id").cast("long")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(col("ids")).as[Array[Long]]
      .flatMap { ids =>
        java.util.Arrays.sort(ids)
        for (i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator if ids(i) < ids(j))
          yield (ids(i), ids(j))
      }.toDF("id_a", "id_b").distinct()
  }

  /** The ONE MinHash kernel: a single narrow pass over (id, text) that
    * computes each document's signature inside its row and hands it to
    * `emit` — no (id, token) shuffle, no per-document `collect_list`,
    * and the same pass a streaming ingest probe rides. Ids pass
    * [[requireIntegralId]] and are carried as `long`; rows with a null
    * id or a null text, and texts without tokens, emit nothing.
    */
  private def mapSignatures[T: Encoder](
      docs: DataFrame, numHashes: Int, idCol: String, textCol: String)(
      emit: (java.security.MessageDigest, Long, Array[Long]) => Iterator[T]): Dataset[T] = {
    requireIntegralId(docs, idCol)
    val spark = docs.sparkSession
    import spark.implicits._
    val coefs = minhashCoefficients(numHashes)
    val aCoef = coefs.map(_._1).toArray
    val bCoef = coefs.map(_._2).toArray
    docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val toks = tokenSet(text)
          if (toks.isEmpty) Iterator.empty
          else {
            // one md5 per distinct word: MinHash is a function of the
            // set, and a hash collision between two words repeats a
            // value without moving any minimum
            val hs = new Array[Long](toks.length)
            var t = 0
            while (t < toks.length) { hs(t) = tokenHashJvm(md, toks(t)); t += 1 }
            val sig = new Array[Long](numHashes)
            var k = 0
            while (k < numHashes) {
              val a = aCoef(k); val b = bCoef(k)
              var mn = Long.MaxValue
              var u = 0
              while (u < hs.length) {
                val v = (a * hs(u) + b) & 0x1FFFFFFFFFFFFFFFL // mod 2^61 of the wrapped sum
                if (v < mn) mn = v
                u += 1
              }
              sig(k) = mn
              k += 1
            }
            emit(md, id, sig)
          }
        }
      }
  }

  /** Fails with an IllegalArgumentException naming `idCol` and its type
    * unless the column is byte, short, int or long — the MinHash id
    * contract: ids are carried as `long`, and a cast would silently
    * merge a fractional or string id with another (1.0 and 1.5 would
    * both become document 1).
    */
  private[graft] def requireIntegralId(docs: DataFrame, idCol: String): Unit = {
    val idType = docs.select(col(idCol)).schema.head.dataType
    require(idType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }, s"MinHash ids must be byte, short, int or long: column $idCol is ${idType.simpleString}")
  }

  /** The `bands` (id, bucket) rows of one signature: band b's bucket is
    * the lowercase md5 hex of "b<b>,<v>,<v>,..." over its
    * numHashes/bands signature values — portable across engines,
    * unlike murmur3 (SQL spells it md5(concat_ws(",", ...))).
    */
  private def bandRowsOf(
      md: java.security.MessageDigest, id: Long, sig: Array[Long], bands: Int): Iterator[(Long, String)] = {
    val rowsPerBand = sig.length / bands
    (0 until bands).iterator.map { b =>
      val sb = new StringBuilder("b").append(b)
      var r = b * rowsPerBand
      while (r < (b + 1) * rowsPerBand) { sb.append(',').append(sig(r)); r += 1 }
      md.reset()
      (id, java.util.HexFormat.of().formatHex(md.digest(sb.toString.getBytes("UTF-8"))))
    }
  }

  /** (id, bucket) band rows of every document — the indexable unit of
    * the LSH route, computed in the same narrow pass as its signature
    * ([[mapSignatures]]). Candidate generation is a SELF-join
    * ([[candidatesFromBanded]]) within one corpus, or a CROSS-probe
    * ([[probeBuckets]]) of an increment against a corpus index, computed
    * in [[incrementalLshPairs]] or stored by [[graft.io.DedupIndexIO]].
    */
  private[graft] def rowLocalBandBuckets(
      docs: DataFrame, numHashes: Int, bands: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = docs.sparkSession
    import spark.implicits._
    mapSignatures(docs, numHashes, idCol, textCol)(bandRowsOf(_, _, _, bands)).toDF("id", "bucket")
  }

  /** (id, sig) MinHash signature rows, for consumers that read the
    * signature itself (the estimator-error report) or band it several
    * ways ([[lshBandSweep]]); same kernel as [[rowLocalBandBuckets]].
    */
  private[graft] def minhashSignatures(
      docs: DataFrame, numHashes: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    mapSignatures(docs, numHashes, idCol, textCol)((_, id, sig) => Iterator.single((id, sig)))
      .toDF("id", "sig")
  }

  /** Band an (id, sig) signature table into (id, bucket) rows with the
    * kernel's own banding, so a banding SWEEP derives every band count
    * from ONE materialized signature table instead of re-running the
    * minhash kernel per configuration.
    */
  private[graft] def bandBucketsFromSigs(
      sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = sigs.sparkSession
    import spark.implicits._
    sigs.select(col("id"), col("sig")).as[(Long, Array[Long])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, sig) => bandRowsOf(md, id, sig, bands) }
      }.toDF("id", "bucket")
  }

  /** Per-hash-position fold of a signature table — the deterministic
    * face of the signature BUILD stage (`q_dedup_lsh_sigs`): for each
    * of the numHashes positions, the doc count and the min / max /
    * bitwise-xor of the minhash values. All exact 64-bit integers,
    * all order-free aggregates, so the face is partitioning- and
    * engine-invariant while still covering every signature cell (a
    * single flipped bit anywhere flips the xor).
    */
  private[graft] def sigSummaryFromSigs(sigs: DataFrame): DataFrame =
    sigs.select(posexplode(col("sig")).as(Seq("k", "mn")))
      .groupBy(col("k").cast("long").as("k"))
      .agg(count(lit(1)).as("n_docs"), min(col("mn")).as("min_mn"),
        max(col("mn")).as("max_mn"), expr("bit_xor(mn)").as("xor_mn"))
      .orderBy(col("k"))

  /** INCREMENTAL dedup — the daily-ingestion shape: near-dup pairs
    * between an `incoming` increment and an existing `base` corpus,
    * WITHOUT re-pairing base against itself. At 100 TB this is the
    * difference between O(increment · bands) bucket probes against a
    * precomputed index and re-running the full corpus self-join per
    * ingest: base band buckets are computed once (in practice persisted
    * as the corpus index and read back; recomputed here since the
    * harness is stateless), the increment's buckets probe them by
    * equi-join, and only cross-side candidates are exact-verified.
    *
    * Caller contract: ids are disjoint across sides. Nothing checks it:
    * the probe's `id_a != id_b` filter silently drops a pair whose two
    * ids are equal. Verification reads id_a's set from `incoming` and
    * id_b's from `base`.
    *
    * Output: (id_a = incoming doc, id_b = base doc, jaccard >= t).
    */
  def incrementalLshPairs(
      base: DataFrame, incoming: DataFrame,
      numHashes: Int, bands: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    probeBuckets(
      rowLocalBandBuckets(incoming, numHashes, bands, idCol, textCol),
      rowLocalBandBuckets(base, numHashes, bands, idCol, textCol),
      tokenSets(incoming, idCol, textCol), tokenSets(base, idCol, textCol), threshold)

  /** The bucket CROSS-PROBE of an incoming (id, bucket) table against
    * an index (id, bucket) table, exact-verified: bucket equi-join,
    * self-ids dropped (`id_a != id_b`), distinct candidates, then
    * [[verifyJaccardCandidates]] with id_a's set from `setsIncoming`
    * and id_b's from `setsIndex` (both (id, toks)). Returns
    * (id_a = incoming doc, id_b = indexed doc, jaccard) — the shared
    * tail of [[incrementalLshPairs]],
    * [[graft.io.DedupIndexIO.probeIndex]] and
    * [[CorpusOps.fuzzyDecontaminate]].
    */
  private[graft] def probeBuckets(
      incoming: DataFrame, index: DataFrame,
      setsIncoming: DataFrame, setsIndex: DataFrame, threshold: Double): DataFrame = {
    val cand = incoming.toDF("id_a", "bucket")
      .join(index.toDF("id_b", "bucket"), "bucket")
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    verifyJaccardCandidates(setsIncoming, setsIndex, cand, threshold)
  }

  /** (id_a, id_b, inter, sz_a, sz_b) for each row of a candidate pair
    * table: the pair joins id_a's (id, toks) row of `setsA` and id_b's
    * of `setsB`, and |A ∩ B| is one linear merge of the two sorted sets
    * comparing the strings themselves ([[graft.functions.SortedOverlap]]),
    * so the count is exact; the sizes are the set lengths. The ONE
    * exact set intersection: Jaccard verification, containment and the
    * estimator-error report all read it. A pair sharing no token has
    * inter = 0; a pair with an id missing from its side has no row.
    * Any other column of a sets table rides along, suffixed `_a` / `_b`.
    */
  private[graft] def pairOverlap(setsA: DataFrame, setsB: DataFrame, cand: DataFrame): DataFrame = {
    def side(sets: DataFrame, s: String): DataFrame =
      sets.select(sets.columns.toSeq.map(c => col(c).as(s"${c}_$s")): _*)
    cand
      .join(side(setsA, "a"), "id_a")
      .join(side(setsB, "b"), "id_b")
      .withColumn("inter", graft.functions.TokenSets.sortedOverlap(col("toks_a"), col("toks_b")))
      .withColumn("sz_a", size(col("toks_a")).cast("long"))
      .withColumn("sz_b", size(col("toks_b")).cast("long"))
      .drop("toks_a", "toks_b")
  }

  /** Exact-Jaccard verification of a distinct candidate pair table —
    * the shared tail of the LSH and prefix-filter routes: the
    * [[pairOverlap]] of each pair, kept when
    * inter / (sz_a + sz_b - inter) >= threshold; identical output to
    * the unpruned join restricted to `cand`.
    */
  private[graft] def verifyJaccardCandidates(
      setsA: DataFrame, setsB: DataFrame, cand: DataFrame, threshold: Double): DataFrame =
    pairOverlap(setsA, setsB, cand)
      .withColumn("jaccard", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Measured LSH dedup QUALITY — one summary row pinning what the
    * banding actually buys: `n_exact` (pairs the exact prefix-filtered
    * join finds), `n_cand` (LSH bucket-join candidates), `n_pairs`
    * (candidates surviving exact verification — the operator's output),
    * `precision` = n_pairs / n_cand (how much verification work the
    * banding wastes), `recall` = n_pairs / n_exact (what fraction of
    * true pairs the banding surfaces at all). Turns the textbook
    * S-curve promise of (bands, rows) into a measured number, exactly
    * like the ANN recall queries do for LSH/IVF vector search. All
    * three counts come from single-row aggregates broadcast into one
    * output row — no driver-side actions.
    */
  def lshPairQuality(
      docs: DataFrame, numHashes: Int, bands: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // the token table is deliberately NOT cut: its repeated references
    // already share one exchange via ReuseExchange, so materializing
    // it only added two sequential cut jobs — measured 1.69 s -> 1.97 s when tried in
    // the r17 optimization round, reverted
    val tok = tokenTable(docs, idCol, textCol)
    // the exact pair set doubles as the verification oracle — the
    // lshBandSweepFromSigs identity: verified candidates ==
    // candidates ∩ exact pairs, so the separate three-join
    // verification pass disappears. NOT cut (unlike the sweep, whose
    // tok/sigs inputs are already staged cuts): a cut here would
    // compute the token-distinct exchange once in the cut job and
    // again in the main query, while one query shares every interior
    // exchange across both references via ReuseExchange
    val exact = jaccardPairsFromTokens(tok, threshold)
      .select(col("id_a"), col("id_b"))
    val cand = candidatesFromBanded(rowLocalBandBuckets(docs, numHashes, bands, idCol, textCol))
    val verified = cand.join(exact, Seq("id_a", "id_b"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(verified.agg(count(lit(1)).as("n_pairs")))
      .select(col("n_exact"), col("n_cand"), col("n_pairs"),
        round(col("n_pairs") / greatest(col("n_cand"), lit(1L)), 6).as("precision"),
        round(col("n_pairs") / greatest(col("n_exact"), lit(1L)), 6).as("recall"))
  }

  /** LSH BANDING SWEEP — [[lshPairQuality]] across several band
    * counts at once: the S-curve design tool that picks (bands, rows)
    * for a corpus-scale dedup run. One row per band count with the
    * candidate volume, verified-pair count, precision, and recall
    * against the shared exact join — more bands = more candidates =
    * higher recall and lower precision; the sweep turns that textbook
    * trade-off into measured numbers on YOUR corpus before the
    * expensive full-corpus run commits to a configuration.
    *
    * Shape at 100 TB (run on a bounded sample, like every quality
    * probe here): the token table and the `numHashes`-wide signature
    * table are each materialized ONCE (`localCheckpoint`); a band
    * count then costs only its banding projection and bucket
    * grouping. Exact verification — the sweep's expensive
    * token-intersection join — runs ONCE over the DISTINCT UNION of
    * every configuration's candidates (the sets overlap heavily: a
    * high-similarity pair collides under most configurations), and
    * per-band verified counts come from a semi-join of the tagged
    * candidate table against the verified set. Compared to
    * verify-per-band this removes |bandsList|−1 corpus-token joins
    * AND fixes the heavy-job count per run regardless of the sweep
    * width — the bench-variance pin. The exact join (the recall
    * denominator) is computed once and broadcast into every row.
    *
    * Returns (bands, n_exact, n_cand, n_pairs, precision, recall),
    * one row per requested band count (zero-candidate configurations
    * included with explicit zeros).
    */
  def lshBandSweep(
      docs: DataFrame, numHashes: Int = 64,
      bandsList: Seq[Int] = Seq(8, 16, 32), threshold: Double = 0.95,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(bandsList.nonEmpty, "sweep needs at least one band count")
    require(bandsList.distinct == bandsList, s"duplicate band counts: $bandsList")
    bandsList.foreach(b => require(b >= 1 && numHashes % b == 0,
      s"bands must divide numHashes: $b vs $numHashes"))
    val tok = tokenTable(docs, idCol, textCol).localCheckpoint()
    graft.model.Lineage.retire(tok)
    val sigs = minhashSignatures(docs, numHashes, idCol, textCol).localCheckpoint()
    graft.model.Lineage.retire(sigs)
    lshBandSweepFromSigs(tok, sigs, numHashes, bandsList, threshold)
  }

  /** [[lshBandSweep]] over ALREADY-MATERIALIZED token and signature
    * tables — the staged form the bench harness times so signature
    * build (its own bench row, `q_dedup_lsh_sigs`) and sweep drift
    * are separately attributable.
    */
  private[graft] def lshBandSweepFromSigs(
      tok: DataFrame, sigs: DataFrame, numHashes: Int,
      bandsList: Seq[Int], threshold: Double): DataFrame = {
    val spark = tok.sparkSession
    import spark.implicits._
    // The exact join is computed ONCE and serves as BOTH the recall
    // denominator and the verification oracle: a candidate survives
    // exact verification iff its exact Jaccard >= t iff it is a member
    // of the exact pair set (verifyJaccardCandidates and the exact
    // join's tail evaluate the identical
    // inter/(sz_a+sz_b-inter) >= t comparison on the identical
    // canonical id_a < id_b pairs), so the per-candidate verification
    // join — three corpus-token joins + an aggregate — is replaced by
    // a semi-join against this table (guide §1.2/§2.4: one heavy
    // token-intersection join instead of two). Cut because it is a
    // final-join output referenced twice (count + semi-join), not a
    // subtree behind a reusable exchange — the r17 cut rule.
    val exactPairs = jaccardPairsFromTokens(tok, threshold)
      .select(col("id_a"), col("id_b")).localCheckpoint()
    graft.model.Lineage.retire(exactPairs)
    val exactCnt = exactPairs.agg(count(lit(1)).as("n_exact"))
    // every configuration's candidates in ONE tagged table,
    // materialized once and served to both counting aggregations
    val allCand = bandsList.map { b =>
      candidatesFromBanded(bandBucketsFromSigs(sigs, numHashes, b))
        .select(lit(b.toLong).as("bands"), col("id_a"), col("id_b"))
    }.reduce(_ unionAll _).localCheckpoint()
    graft.model.Lineage.retire(allCand)
    val nCand = allCand.groupBy(col("bands")).agg(count(lit(1)).as("n_cand"))
    val nPairs = allCand.join(exactPairs, Seq("id_a", "id_b"), "left_semi")
      .groupBy(col("bands")).agg(count(lit(1)).as("n_pairs"))
    bandsList.map(_.toLong).toDF("bands")
      .join(nCand, Seq("bands"), "left")
      .join(nPairs, Seq("bands"), "left")
      .na.fill(0L, Seq("n_cand", "n_pairs"))
      .crossJoin(broadcast(exactCnt))
      .select(col("bands"), col("n_exact"), col("n_cand"), col("n_pairs"),
        round(col("n_pairs") / greatest(col("n_cand"), lit(1L)), 6).as("precision"),
        round(col("n_pairs") / greatest(col("n_exact"), lit(1L)), 6).as("recall"))
  }

  /** Dedup CLUSTERING: connected components over a near-duplicate pair
    * table, labeling every document with the smallest doc id reachable
    * through dup edges (the canonical keeper of its cluster).
    *
    * HYBRID execution, sized from the materialized edge cut: graphs
    * that pass the [[graft.model.BoundedLocal]] gate are solved with a
    * driver-side union-find and the labels read back from a broadcast
    * variable — the class-quotient graphs the dedup endpoints actually
    * cluster (audio 10x: 12.2k class pairs; image 10x: 3.2k classes)
    * are this size.
    * Larger graphs run the alternating large-star/small-star
    * contraction (Kiveris et al., SoCC 2014), O(log n) rounds on any
    * shape — the 100 TB path. Labels are identical either way
    * (component minimum; pinned by a forced-bound A/B spec).
    */
  def dedupClusters(
      docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", maxIterations: Int = 50,
      reliable: Boolean = false): DataFrame = {
    val docIds = docs.select(col(idCol).cast("long").as("id"))
    val e = initialEdgeCut(docIds, pairs, reliable)
    localLabels(e) match {
      case Some(labelRows) =>
        // the labels ship as a broadcast variable, which costs no job (a
        // broadcast join of a driver-side table runs one to collect it);
        // an id with no label is its own root
        val roots = docs.sparkSession.sparkContext.broadcast(labelRows.toMap)
        val rootOf = udf((id: Long) => roots.value.get(id).map(java.lang.Long.valueOf).orNull)
        graft.model.Lineage.cut(
          docIds.select(col("id").as(idCol),
            coalesce(rootOf(col("id")), col("id")).as("cluster_id")),
          reliable)
      case None => starContractionFromCut(docIds, e, idCol, maxIterations, reliable)._1
    }
  }

  /** The bounded-local path of the CC operators: when the edge cut
    * passes the [[graft.model.BoundedLocal]] gate, a driver-side
    * union-find over its rows gives every edge endpoint's (id, root)
    * label, and the cut's blocks are freed; None = stay distributed.
    * Union-to-min: every union links the larger root under the
    * smaller, so each final root IS its component's minimum id
    * (exactly the star contraction's label).
    */
  private def localLabels(e: DataFrame): Option[Seq[(Long, Long)]] = {
    val spark = e.sparkSession
    import spark.implicits._
    // the cut's columns are (hi, lo); union-find is symmetric in them
    graft.model.BoundedLocal.collectIfFits(e.as[(Long, Long)]).map { edges =>
      graft.model.Lineage.release(e)
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = x
        while (parent.getOrDefault(c, c) != r) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      for ((a, b) <- edges) {
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      val nodes = edges.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSet
      nodes.iterator.map(n => (n, find(n))).toSeq
    }
  }

  /** [[dedupClusters]] through an EXACT-DUPLICATE QUOTIENT — exact
    * dedup before fuzzy dedup, the standard two-stage shape: members
    * with IDENTICAL signatures form an equality class collapsed to
    * its min-id representative before the iterative clustering, the
    * near-dup pair table quotients to distinct representative pairs,
    * CC runs on the (classes, rep-pairs) graph, and labels broadcast
    * back to members through the class key. The result is IDENTICAL
    * to [[dedupClusters]] over the member graph (an equality class is
    * a clique whose min is its representative; every cross-class edge
    * maps to the rep edge), but the iterative operator sees the
    * class-graph size: on a corpus where exact signature collisions
    * dominate the pair mass — every real fingerprint-dedup corpus —
    * that is the difference between O(members + member-pairs) and
    * O(classes + class-pairs) PER ROUND (measured on the 10x audio
    * pool: 20k clips / 147k pairs collapse to 8.2k classes / 12.2k
    * pairs — the CC row runs at 1x cost on 10x data).
    *
    * `docs` is the member UNIVERSE (one id column) — the output has
    * exactly one row per docs id, like [[dedupClusters]]. `sigs` is
    * (id, sig); members with NO signature row (a clip too short or
    * corrupt to fingerprint) are their own equality class and cluster
    * as singletons instead of being dropped (the old inner-join form
    * silently lost them relative to the oracle's member universe).
    * `pairs` is the verified member-pair table (id_a, id_b, ...);
    * pairs naming ids outside `docs` are ignored (the
    * [[dedupClusters]] id-closure contract).
    */
  def dedupClustersBySig(docs: DataFrame, sigs: DataFrame, pairs: DataFrame,
      maxIterations: Int = 50, reliable: Boolean = false): DataFrame = {
    val d = docs.toDF("id")
    val s = sigs.toDF("id", "sig")
    val withSig = d.join(s, Seq("id"), "left")
    val reps = withSig.filter(col("sig").isNotNull)
      .groupBy(col("sig")).agg(min(col("id")).as("rep"))
    // sig-less members: rep = own id (singleton equality class)
    val memberRep = graft.model.Lineage.cutRetired(
      withSig.join(reps, Seq("sig"), "left")
        .select(col("id"), coalesce(col("rep"), col("id")).as("rep")), reliable)
    val repPairs = pairs
      .join(memberRep.toDF("id_a", "rep_a"), "id_a")
      .join(memberRep.toDF("id_b", "rep_b"), "id_b")
      .filter(col("rep_a") =!= col("rep_b"))
      .select(least(col("rep_a"), col("rep_b")).as("id_a"),
        greatest(col("rep_a"), col("rep_b")).as("id_b"))
      .distinct()
    val repClusters = dedupClusters(
      memberRep.select(col("rep")).distinct().toDF("doc_id"), repPairs,
      maxIterations = maxIterations, reliable = reliable)
    graft.model.Lineage.retire(repClusters) // internal: dead after the final join executes
    memberRep
      .join(repClusters.toDF("rep", "cluster_id"), "rep")
      .select(col("id").as("doc_id"), col("cluster_id"))
  }

  /** Hash-signature near-dup clustering run ENTIRELY on the hash-class
    * quotient: the banded Hamming pair join AND the connected
    * components both operate on DISTINCT signatures, never member
    * rows. Result identical to `dedupClusters(docs,
    * hammingPairs(sigs, ...))` — members within radius iff their
    * signatures are, identical signatures are cliques through their
    * class — but a dup-heavy corpus (the only kind that needs dedup)
    * collapses: measured 5.2x member→class on the 10x image replica,
    * where the member-graph pair join's bucket occupancy is quadratic
    * in exactly the identical-hash mass the quotient removes.
    *
    * `docs` is the member universe (one id column; sig-less members
    * cluster as singletons); `sigs` is (id, sig) with one 64-bit-max
    * signature per member. cluster_id = min member id reachable.
    */
  def dedupClustersByHamming(docs: DataFrame, sigs: DataFrame,
      sigBits: Int, maxHamming: Int,
      maxIterations: Int = 50, reliable: Boolean = false): DataFrame = {
    val d = docs.toDF("id")
    val s = sigs.toDF("id", "sig")
    val withSig = d.join(s, Seq("id"), "left")
    // class representative = min member id per distinct signature;
    // cut: read by the class pair join, the CC node set, and the
    // final label broadcast
    val reps = graft.model.Lineage.cutRetired(
      withSig.filter(col("sig").isNotNull)
        .groupBy(col("sig")).agg(min(col("id")).as("rep")), reliable)
    val classPairs = hammingPairs(
      reps.select(col("rep").as("id"), col("sig")), sigBits, maxHamming)
    val repClusters = dedupClusters(
      reps.select(col("rep")).toDF("doc_id"), classPairs,
      maxIterations = maxIterations, reliable = reliable)
    graft.model.Lineage.retire(repClusters) // internal: dead after the final join executes
    withSig
      .join(reps, Seq("sig"), "left")
      .join(repClusters.toDF("rep", "cl"), Seq("rep"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("cl"), col("id")).as("cluster_id"))
  }

  /** [[dedupClusters]] plus the number of rounds it ran — exposed so
    * tests can assert the O(log diameter) bound.
    */
  private[graft] def dedupClustersWithRounds(
      docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", maxIterations: Int = 50,
      reliable: Boolean = false): (DataFrame, Int) = {
    val docIds = docs.select(col(idCol).cast("long").as("id"))
    starContractionFromCut(docIds, initialEdgeCut(docIds, pairs, reliable),
      idCol, maxIterations, reliable)
  }

  /** The canonical initial edge table: (lo, hi) canonicalized,
    * self-loops dropped, semi-joined to the doc universe on BOTH
    * endpoints (the id-closure contract: an id present in `pairs` but
    * not in `docs` can neither become a cluster root nor transitively
    * merge two docs — cluster_id is therefore always a member of
    * `docs`), distinct, materialized as a lineage cut.
    */
  private def initialEdgeCut(
      docIds: DataFrame, pairs: DataFrame, reliable: Boolean): DataFrame =
    graft.model.Lineage.cut(
      pairs.select(
          least(col("id_a"), col("id_b")).cast("long").as("lo"),
          greatest(col("id_a"), col("id_b")).cast("long").as("hi"))
        .where(col("lo") =!= col("hi"))
        .join(docIds.toDF("lo"), Seq("lo"), "left_semi")
        .join(docIds.toDF("hi"), Seq("hi"), "left_semi")
        .distinct(), reliable)

  private def starContractionFromCut(
      docIds: DataFrame, e0: DataFrame,
      idCol: String, maxIterations: Int,
      reliable: Boolean): (DataFrame, Int) = {
    // Alternating LARGE-STAR / SMALL-STAR connected components
    // (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii,
    // "Connected Components in MapReduce and Beyond", SoCC 2014):
    // large-star attaches every strictly-larger neighbor of a node to
    // the minimum of its closed neighborhood, small-star attaches the
    // node and its smaller neighbors there; the edge set contracts to
    // a star forest rooted at each component's minimum id.
    //
    // The previous hook-plus-pointer-jump loop propagated the
    // component minimum only O(1) chain hops per round on paths whose
    // ids are adversarially ordered (every near-dup CHAIN — drifted
    // document versions, phase-adjacent media — is that shape), so a
    // 16k-hop chain hit maxIterations with PARTIAL labels: correct at
    // test scale, silently wrong at 10x. Large-star doubles the
    // minimum's reach per round (on the 1-2-3-4-5 chain one pass
    // rewrites (2,3)->(1,3), (3,4)->(2,4): distance to the minimum
    // halves), giving the O(log) rounds the operator always claimed —
    // measured: the same 10x graph that ran 50 rounds without
    // converging now converges in 6.
    //
    // Lineage cut (not persist) after every pass: iterative
    // DataFrames otherwise nest the previous round's logical plan;
    // `reliable` routes cuts to the checkpoint dir for preemptible
    // clusters. Each pass's cut makes the previous pass's blocks dead
    // — released eagerly (the r14 accretion fix).
    def sym(ed: DataFrame): DataFrame =
      ed.select(col("lo").as("x"), col("hi").as("y"))
        .union(ed.select(col("hi").as("x"), col("lo").as("y")))
    def closedMin(s: DataFrame): DataFrame =
      s.groupBy(col("x")).agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("m"))
    var e = e0
    var iter = 0
    var converged = graft.model.Lineage.rowCount(e) == 0L
    var prevN = -1L
    var prevH: java.math.BigDecimal = null
    while (!converged && iter < maxIterations) {
      // large-star: (x,y) with y > x rewrites to (m(x), y) — the only
      // step that grows the minimum's reach, hence first each round
      val s1 = sym(e)
      val eL = graft.model.Lineage.cut(
        s1.join(closedMin(s1), "x").where(col("y") > col("x"))
          .select(col("m").as("lo"), col("y").as("hi")).distinct(), reliable)
      graft.model.Lineage.release(e)
      // small-star: smaller neighbors and the node itself attach to m
      val s2 = sym(eL)
      val m2 = closedMin(s2)
      val afterS = s2.join(m2, "x").where(col("y") < col("x"))
        .select(col("m").as("a"), col("y").as("b"))
        .union(m2.where(col("m") < col("x"))
          .select(col("m").as("a"), col("x").as("b")))
        .where(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("lo"),
          greatest(col("a"), col("b")).as("hi"))
        .distinct()
      // the edge signature rides the cut's own materialization job —
      // convergence = the star forest stopped changing
      val obs = org.apache.spark.sql.Observation()
      val eS = graft.model.Lineage.cut(
        afterS.observe(obs, count(lit(1)).as("n"),
          sum((col("lo") * 1000003L + col("hi")).cast("decimal(38,0)")).as("h")),
        reliable)
      graft.model.Lineage.release(eL)
      e = eS
      val n = obs.get("n").asInstanceOf[Long]
      val h = obs.get("h").asInstanceOf[java.math.BigDecimal]
      converged = n == prevN &&
        ((h == null && prevH == null) || (h != null && prevH != null && h.compareTo(prevH) == 0))
      prevN = n; prevH = h
      iter += 1
    }
    if (!converged)
      org.apache.log4j.Logger.getLogger(getClass).warn(
        s"dedupClusters exited after maxIterations=$maxIterations without converging; " +
          "labels may be partially propagated")
    // at the fixpoint every edge is (component-min, member); nodes
    // with no edge are their own cluster. A non-converged graph can
    // still carry several roots per member — collapse to the min so
    // the contract (one row per doc) holds in the degraded case too.
    val star = if (converged) e.toDF("root", "id")
      else e.groupBy(col("hi").as("id")).agg(min(col("lo")).as("root"))
    // cut the final labels so the returned frame is MATERIALIZED, as
    // the label-iteration form's was — memoized cluster results are
    // read by many downstream faces (keep/keep_best/sizes/inflation/
    // leakage), and an unmaterialized join here re-executed on every
    // read (measured 3-5x on the memo-reader bench rows)
    val labels = graft.model.Lineage.cut(
      docIds
        .join(star, Seq("id"), "left")
        .select(col("id").as(idCol), coalesce(col("root"), col("id")).as("cluster_id")),
      reliable)
    graft.model.Lineage.release(e) // star edges dead once labels materialize
    (labels, iter)
  }

  /** End-to-end dedup ENDPOINT: the ids a training pipeline actually
    * keeps — one representative (the min id) per near-duplicate
    * cluster, singletons included. On the distributed path it filters
    * [[dedupClusters]]' labels to their roots; on the bounded-local
    * path it makes no label cut: the docs whose id the union-find did
    * not put under another root.
    */
  def dedupKeepers(
      docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id",
      maxIterations: Int = 50, reliable: Boolean = false): DataFrame = {
    val docIds = docs.select(col(idCol).cast("long").as("id"))
    val e = initialEdgeCut(docIds, pairs, reliable)
    localLabels(e) match {
      case Some(labelRows) =>
        // the keepers are the docs that are no other doc's member. The
        // ids ship as a broadcast variable, which costs no job (a
        // broadcast join of a driver-side table runs one to collect
        // it). The plan reads the caller's docs, so nothing is retired.
        val members = docs.sparkSession.sparkContext.broadcast(
          labelRows.collect { case (n, root) if n != root => n }.toSet)
        val kept = udf((id: Long) => !members.value.contains(id))
        docIds.where(col("id").isNotNull && kept(col("id")))
          .select(col("id").as(idCol))
      case None =>
        val labels = starContractionFromCut(docIds, e, idCol, maxIterations, reliable)._1
        graft.model.Lineage.retire(labels) // internal: dead after the keeper filter executes
        labels
          .filter(col(idCol) === col("cluster_id"))
          .select(col(idCol))
    }
  }

  /** WINNOWING document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003, "Winnowing: Local Algorithms for Document
    * Fingerprinting"): hash every k-char gram, slide a window over w
    * consecutive gram hashes, select the RIGHTMOST minimal hash per
    * window (robust winnowing), emit the distinct selected
    * (position, hash) pairs. Guarantee: any substring match of length
    * >= k + w - 1 between two documents shares at least one
    * fingerprint.
    *
    * Shape: winnowing is a PER-DOCUMENT algorithm, so the whole thing
    * is one row-local mapPartitions kernel — ZERO shuffles, no gram
    * rows ever materialized as a table (the earlier frame-aggregate
    * form shuffled every gram of the corpus through a window sort and
    * spent most of its time in GC on the per-gram decimal plumbing).
    * Linear in corpus size; memory per task is one document's gram
    * hashes. Documents with fewer than k + w - 1 characters produce no
    * fingerprints. Selection is the rightmost minimal hash per window
    * (min over (h, -pos)), deduplicated on selection change — the
    * selected index is monotone under the slide, so that equals the
    * distinct selected set.
    */
  def winnowFingerprints(
      docs: DataFrame, k: Int = 8, w: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (id, text) =>
          val ng = text.length - (k - 1)
          if (ng < w) Iterator.empty
          else {
            val hs = new Array[Long](ng)
            var p = 0
            while (p < ng) { hs(p) = tokenHashJvm(md, text.substring(p, p + k)); p += 1 }
            // rightmost minimum of hs[s, s+w): <= so later ties win,
            // matching the (h ASC, pos DESC) rank-1 rule
            def rescan(s: Int): Int = {
              var best = s
              var q = s + 1
              while (q < s + w) { if (hs(q) <= hs(best)) best = q; q += 1 }
              best
            }
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
            var sel = rescan(0)
            out += ((id, sel + 1L, hs(sel))) // 1-based positions
            var start = 1
            while (start + w <= ng) {
              val incoming = start + w - 1
              if (sel < start) sel = rescan(start) // the min slid out
              else if (hs(incoming) <= hs(sel)) sel = incoming
              val last = out(out.length - 1)
              if (last._2 != sel + 1L) out += ((id, sel + 1L, hs(sel)))
              start += 1
            }
            out.iterator
          }
        }
      }.toDF("doc_id", "pos", "fp")
  }

  /** The distinct (id, shingle) word-n-gram table [[ngramJaccardPairs]]
    * joins on — exposed so candidate verification and multiple
    * similarity passes shingle the corpus once.
    */
  def shingleTable(
      docs: DataFrame, n: Int, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"), explode(shinglesOf(col("toks"), n)).as("w")).distinct()

  /** EXACT verification of a near-duplicate CANDIDATE table — the
    * text-side analog of the vector path's `cosineVerifyPairs`: join
    * each (id_a, id_b) candidate to its n-gram shingle sets (two
    * narrow hash joins on id — never a corpus × corpus join) and keep
    * pairs whose exact n-gram Jaccard clears `threshold`, with the
    * exact similarity. Returns precisely the exhaustive join's result
    * restricted to the covered candidates, so ANY candidate generator
    * (winnowing, MinHash bands, SimHash radius, blocking) composes
    * into a sound dedup route whose cost scales with candidates.
    */
  def verifyPairsNgramJaccard(
      docs: DataFrame, candidates: DataFrame, n: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // distinct BEFORE joining: a generator that emits the same
    // (id_a, id_b) twice (e.g. multi-table LSH) would otherwise emit
    // the pair twice
    val sets = foldTokenSets(shingleTable(docs, n, idCol, textCol))
    verifyJaccardCandidates(sets, sets,
      candidates.select(col("id_a").cast("long"), col("id_b").cast("long")).distinct(),
      threshold)
  }

  /** Winnowing-based near-duplicate CANDIDATES — the join that makes
    * [[winnowFingerprints]] a dedup operator (the MOSS shape):
    * documents sharing at least `minShared` selected fingerprints are
    * candidate near-dups/plagiarism pairs, found with one equi-join on
    * the fingerprint hash. Fingerprints with document frequency above
    * `maxDf` are dropped first — the winnowing analog of stop-words:
    * a gram selected by half the corpus carries no signal and would
    * make its join group quadratic (the same hot-key argument as the
    * Jaccard prefix filter, but as an explicit cutoff because
    * fingerprint selection has no per-document ordering to prune by).
    */
  def winnowPairs(
      docs: DataFrame, k: Int = 8, w: Int = 4, minShared: Long = 3, maxDf: Long = 50,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sel = winnowFingerprints(docs, k, w, idCol, textCol)
      .select(col("doc_id"), col("fp")).distinct()
    val rare = sel.groupBy(col("fp")).agg(count(lit(1)).as("df_"))
      .filter(col("df_") <= maxDf).select(col("fp"))
    val s2 = sel.join(rare, "fp")
    s2.toDF("fp", "id_a").join(s2.toDF("fp", "id_b"), "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Quality-scoring features per document — pure codegen'd columns
    * (length, token stats, stopword ratio, punctuation ratio).
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")

  def qualityFeatures(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val stop = lit(Stopwords.toArray)
    docs.select(
      col(idCol),
      length(col(textCol)).cast("long").as("n_chars_txt"),
      size(toks).cast("long").as("n_words"),
      size(array_distinct(toks)).cast("long").as("n_distinct_words"),
      round(size(filter(toks, w => array_contains(stop, w))).cast("double") /
        greatest(size(toks), lit(1)).cast("double"), 6).as("stopword_ratio"),
      round((length(col(textCol)) - length(regexp_replace(col(textCol), "[^a-zA-Z0-9 ]", "")))
        .cast("double") / greatest(length(col(textCol)), lit(1)).cast("double"), 6)
        .as("punct_ratio"))
  }

  /** Gopher-style rule bundle (Rae et al. 2021, "Scaling Language
    * Models: ... Gopher" §A1.1 / MassiveText filters, public): the
    * THRESHOLDED form of the quality features — each rule reports
    * pass/fail and `keep` is their conjunction, which is how
    * production pipelines actually consume quality signals (hard
    * gates, not scores). Rules: word-count bounds, mean-word-length
    * band, alphabetic-word fraction floor, distinct-stopword floor.
    * Fully narrow (per-row column ops, no shuffle, stream-
    * transparent).
    *
    * Returns (doc_id, n_words, mean_word_len, frac_alpha,
    * n_stop_distinct, ok_words, ok_mean_len, ok_alpha, ok_stop, keep).
    */
  def gopherRules(
      docs: DataFrame,
      minWords: Long = 20L, maxWords: Long = 100000L,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minFracAlpha: Double = 0.8, minStopDistinct: Long = 2L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val stop = lit(Stopwords.toArray)
    val nw = size(toks).cast("long")
    // total word chars == doc length minus separators: count directly
    val wordChars = aggregate(toks, lit(0L), (acc, w) => acc + length(w).cast("long"))
    val meanLen = round(wordChars.cast("double") / greatest(nw, lit(1L)).cast("double"), 6)
    val fracAlpha = round(
      size(filter(toks, w => w.rlike("[A-Za-z]"))).cast("double") /
        greatest(nw, lit(1L)).cast("double"), 6)
    val nStop = size(array_intersect(array_distinct(toks), stop)).cast("long")
    docs.select(col(idCol), nw.as("n_words"), meanLen.as("mean_word_len"),
        fracAlpha.as("frac_alpha"), nStop.as("n_stop_distinct"))
      .withColumn("ok_words", col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("ok_mean_len",
        col("mean_word_len") >= minMeanLen && col("mean_word_len") <= maxMeanLen)
      .withColumn("ok_alpha", col("frac_alpha") >= minFracAlpha)
      .withColumn("ok_stop", col("n_stop_distinct") >= minStopDistinct)
      .withColumn("keep",
        col("ok_words") && col("ok_mean_len") && col("ok_alpha") && col("ok_stop"))
  }

  /** Token counting: corpus-level token frequencies (the
    * tokenize->explode->count shape of a BPE-corpus scan).
    */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))

  /** EXACT heavy-hitter tokens via MERGEABLE Misra-Gries summaries —
    * the one-pass bounded-memory route to "every token appearing >=
    * minCount times" when the vocabulary is too large for a clean
    * groupBy (URLs, n-grams, user ids at 100 TB). Two stages, exactness
    * preserved end-to-end:
    *
    *  1. Each partition builds a `counters`-slot Misra-Gries summary;
    *     summaries merge associatively (add counts, then subtract the
    *     (counters+1)-th largest and drop non-positive — Agarwal et
    *     al., "Mergeable Summaries", PODS 2012), so `treeReduce` gives
    *     a corpus summary whose undercount is bounded by n/counters
    *     (the insert path uses the subtract-min variant, whose k
    *     decremented slots per round give the slightly weaker n/k
    *     bound; merges stay within n/(k+1)). Every token with true
    *     count >= minCount SURVIVES whenever n/counters < minCount
    *     (checked; loud failure otherwise — silently missing heavy
    *     hitters would corrupt the contract).
    *  2. The surviving candidate set (<= counters tokens, broadcast)
    *     is counted EXACTLY in a second narrow pass and filtered to
    *     >= minCount — overcounts from stage 1 cannot leak through.
    *
    * Same exactness-restoring shape as [[graft.text.CorpusOps.decontaminateBloom]]:
    * the sketch bounds memory, the verify pass keeps the answer exact
    * (and the DuckDB oracle is the plain HAVING COUNT >= minCount).
    *
    * Returns (token, cnt) for the true heavy hitters.
    */
  def heavyHitterTokens(
      docs: DataFrame, minCount: Long, counters: Int = 4096,
      textCol: String = "text"): DataFrame = {
    require(minCount >= 1 && counters >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(explode(tokens(col(textCol))).as("token")).as[String]
    // an empty / zero-partition input has no tokens and no heavy
    // hitters; treeReduce on a zero-partition RDD would throw instead
    if (toks.rdd.getNumPartitions == 0)
      return Seq.empty[(String, Long)].toDF("token", "cnt")
    // stage 1: per-partition MG summaries + token totals, tree-merged
    val (summary, nTotal) = toks.rdd
      .mapPartitions { it =>
        val m = new java.util.HashMap[String, Long]()
        var n = 0L
        it.foreach { t =>
          n += 1
          val c = m.get(t)
          if (c != 0L || m.containsKey(t)) m.put(t, c + 1)
          else if (m.size < counters) m.put(t, 1L)
          else {
            // decrement-all step, amortized via min subtraction
            val minV = {
              var mv = Long.MaxValue
              val vs = m.values.iterator()
              while (vs.hasNext) { val v = vs.next(); if (v < mv) mv = v }
              mv
            }
            val es = m.entrySet().iterator()
            while (es.hasNext) {
              val e = es.next()
              val nv = e.getValue - minV
              if (nv <= 0) es.remove() else e.setValue(nv)
            }
          }
        }
        Iterator.single((m, n))
      }
      .treeReduce { case ((a, na), (b, nb)) =>
        b.forEach((k, v) => a.merge(k, v, (x, y) => x + y))
        if (a.size > counters) {
          // subtract the (counters+1)-th largest, drop non-positive
          val vals = new Array[Long](a.size)
          var i = 0
          a.values.forEach { v => vals(i) = v; i += 1 }
          java.util.Arrays.sort(vals)
          val cut = vals(a.size - counters - 1)
          val es = a.entrySet().iterator()
          while (es.hasNext) {
            val e = es.next()
            val nv = e.getValue - cut
            if (nv <= 0) es.remove() else e.setValue(nv)
          }
        }
        (a, na + nb)
      }
    require(nTotal / counters < minCount,
      s"Misra-Gries undercount bound n/counters = ${nTotal / counters} " +
        s">= minCount=$minCount: heavy hitters could be missed. " +
        s"Raise counters above ${nTotal / minCount} (n=$nTotal tokens).")
    val candidates = {
      val arr = new Array[String](summary.size)
      var i = 0
      summary.keySet.forEach { k => arr(i) = k; i += 1 }
      arr.toSeq
    }
    // stage 2: exact counts of the bounded candidate set only
    toks.toDF("token")
      .join(broadcast(candidates.toDF("token")), "token")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** SPAN-level duplication stats — the chunk-granular approximation
    * of substring dedup (Lee et al. 2022, arXiv:2107.06499, which
    * dedups exact repeated spans; a true distributed suffix array is
    * the full version, chunking is the practical one): each document
    * splits into consecutive `k`-token chunks (tail chunk kept), and a
    * chunk occurrence counts as duplicated when the same chunk text
    * appears in >= 2 DISTINCT documents. Per doc: chunk count,
    * duplicated-chunk count, duplicated fraction — the signal a
    * pipeline thresholds to drop boilerplate-heavy documents.
    *
    * All codegen'd column ops (sequence/transform/slice) plus one
    * groupBy on the chunk text whose partial aggregation bounds the
    * shuffle by the distinct-chunk count — no UDF, no cartesian; cost
    * is linear in corpus tokens at any scale.
    *
    * Returns (id, n_chunks, n_dup_chunks, dup_frac).
    */
  def chunkDupStats(
      docs: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1, s"chunk size must be >= 1, got $k")
    // ceil(n/k) chunk starts; guard the empty doc (sequence(0,-1)
    // would DESCEND, not produce an empty array). toks is bound in its
    // own select first (the shinglesOf contract: an inline expression
    // would re-tokenize per chunk inside the lambda)
    val nChunks = ((size(col("toks")) + (k - 1)) / k).cast("int") // ceil(n/k); Column / is double
    val chunks = when(size(col("toks")) > 0,
      transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(col("toks"), i * k + 1, lit(k)))))
      .otherwise(array())
    val c = docs.select(col(idCol).cast("long").as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"), explode(chunks).as("chunk"))
    val dfreq = c.select(col("id"), col("chunk")).distinct()
      .groupBy(col("chunk")).agg(count(lit(1)).as("df"))
    val agg = c.join(dfreq, "chunk")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
    docs.select(col(idCol).cast("long").as("id"))
      .join(agg, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        round(coalesce(col("n_dup_chunks"), lit(0L)) /
          greatest(coalesce(col("n_chunks"), lit(0L)), lit(1L)), 6).as("dup_frac"))
  }

  /** The CDC chunking KERNEL alone — (id, chunk-digest) rows from the
    * content-defined boundary rule. Row-local mapPartitions with no
    * state, so it is stream-transparent: the same body runs unmodified
    * on a readStream source (StreamSpec pins batch == stream); the
    * cross-document df/dedup aggregation in [[cdcChunkStats]] is the
    * batch-side (or windowed-streaming) consumer of these rows.
    */
  def cdcChunks(
      docs: DataFrame, k: Int = 8, modulus: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1 && modulus >= 1, s"k >= 1 and modulus >= 1, got k=$k m=$modulus")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (id, text) =>
          val len = if (text == null) 0 else text.length
          if (len == 0) Iterator.empty
          else {
            val starts = scala.collection.mutable.ArrayBuffer(1)
            var p = 2
            val lastGram = len - k + 1
            while (p <= lastGram) {
              if (tokenHashJvm(md, text.substring(p - 1, p - 1 + k)) % modulus == 0)
                starts += p
              p += 1
            }
            starts.iterator.zipWithIndex.map { case (s, i) =>
              val end = if (i + 1 < starts.length) starts(i + 1) else len + 1
              (id, text.substring(s - 1, end - 1))
            }
          }
        }
      }.toDF("id", "chunk")
      // join key = chunk digest: the shuffle carries 32 chars per
      // occurrence regardless of chunk length
      .select(col("id"), md5(col("chunk")).as("ch"))
  }

  /** CONTENT-DEFINED CHUNKING span dedup — the insertion-robust
    * upgrade of [[chunkDupStats]] (Muthitacharoen et al., "A
    * Low-Bandwidth Network File System", SOSP 2001 — the published CDC
    * construction): a fixed-size chunker re-aligns every chunk after
    * one inserted character, so a single edit hides ALL downstream
    * duplication; content-defined boundaries (cut where the hash of
    * the local `k`-gram hits `0 mod modulus`) re-synchronize within
    * one expected chunk length, so shared spans after an edit still
    * produce identical chunks.
    *
    * Boundary rule (deterministic, SQL-replayable): position `p`
    * (1-based) in `[2, len-k+1]` starts a new chunk when the 60-bit
    * md5-prefix hash of `substr(p, k)` is `0 mod modulus` — the SAME
    * gram hash as winnowing ([[tokenHashJvm]]), so the oracle replays
    * it with `CAST(concat('0x', substr(md5(...),1,15)) AS BIGINT)`.
    * Expected chunk length ~`modulus` chars. Chunk identity is the
    * md5 of the chunk TEXT; the dedup join shuffles 32-char digests,
    * never chunk bodies. A chunk occurrence counts as duplicated when
    * the same chunk text appears in >= 2 DISTINCT documents.
    *
    * Chunking is a row-local mapPartitions (shuffle-free); the df
    * join is one groupBy bounded by the distinct-chunk count — the
    * same 100 TB shape as [[chunkDupStats]].
    *
    * Returns (id, n_chunks, n_dup_chunks, dup_frac), one row per doc.
    */
  def cdcChunkStats(
      docs: DataFrame, k: Int = 8, modulus: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val chunks = cdcChunks(docs, k, modulus, idCol, textCol)
    val dfreq = chunks.distinct()
      .groupBy(col("ch")).agg(count(lit(1)).as("df"))
    val agg = chunks.join(dfreq, "ch")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
    docs.select(col(idCol).cast("long").as("id"))
      .join(agg, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        round(coalesce(col("n_dup_chunks"), lit(0L)) /
          greatest(coalesce(col("n_chunks"), lit(0L)), lit(1L)), 6).as("dup_frac"))
  }

  /** Word-distribution ENTROPY features — the information-density
    * quality signal (low entropy = repetitive/boilerplate text, the
    * Gopher-family heuristic complementing [[repetitionFeatures]]'
    * n-gram ratios): per document, the Shannon entropy of the in-doc
    * word distribution plus mean word length. Entropy uses the
    * algebraically equivalent `ln(n) - (sum c*ln c)/n` form, so one
    * grouped aggregation computes it — no per-word probability column,
    * no second pass for the total. One shuffle on (doc, word) with
    * map-side partial counts; per-doc state is the distinct-word
    * count, never the corpus.
    *
    * Returns (id, n_words, n_distinct_words, entropy, mean_word_len),
    * rounded to 6 — documents with no tokens drop (entropy of an
    * empty distribution is undefined, not zero).
    */
  def entropyFeatures(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).cast("long").as("id"), explode(tokens(col(textCol))).as("w"))
      .groupBy(col("id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("clnc"),
        sum(col("c") * length(col("w"))).as("chars"))
      .select(col("id").as(idCol), col("n_words"), col("n_distinct_words"),
        round(log(col("n_words").cast("double")) -
          col("clnc") / col("n_words").cast("double"), 6).as("entropy"),
        round(col("chars").cast("double") / col("n_words").cast("double"), 6)
          .as("mean_word_len"))

  /** Token counting with a BPE-ish PRE-TOKENIZER: letter runs, digit
    * runs, and single punctuation marks become separate tokens (the
    * GPT-2-style pre-split shape, minus byte-level quirks). The pattern
    * is RE2-compatible and ASCII-anchored so both Java regex and a SQL
    * engine's RE2 produce identical splits.
    */
  val BpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  def tokenCountsBpe(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(expr(
        s"regexp_extract_all($textCol, '$BpeishPattern', 0)")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))

  /** Language-ID heuristic: marker-token votes per language with
    * deterministic tie-break (count desc, then language asc). Marker
    * lists are tiny broadcast constants.
    */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "data", "fast", "slow"),
    "de" -> Seq("group", "order", "window", "batch"),
    "es" -> Seq("query", "table", "row", "value"),
    "fr" -> Seq("join", "merge", "filter", "scan"),
    "zh" -> Seq("spark", "stream", "hash", "sort"))

  def languageId(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val scored = LangMarkers.toSeq.sortBy(_._1).map { case (lang, ms) =>
      docs.select(col(idCol),
        lit(lang).as("lang_pred"),
        size(filter(toks, w => array_contains(lit(ms.toArray), w))).cast("long").as("score"))
    }.reduce(_ union _)
    import org.apache.spark.sql.expressions.{Window => W}
    val w = W.partitionBy(col(idCol)).orderBy(col("score").desc, col("lang_pred").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col(idCol), col("lang_pred"), col("score"))
  }

  /** Document fingerprint: 1-permutation min-hash over token md5s plus
    * distinct-token count — the content-addressable shape of rolling-
    * hash winnowing, reduced to an oracle-checkable form.
    */
  def fingerprints(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .groupBy(col(idCol))
      .agg(min(md5(col("w"))).as("fingerprint"),
        countDistinct(col("w")).as("n_distinct"))

  /** DETERMINISTIC stratified sampling — the data-mixing primitive: a
    * per-stratum (language/source/domain) keep-rate applied by hashing
    * the document id with a salt, so the sample is (a) exactly
    * reproducible across runs, engines, and cluster sizes — no RNG
    * state, no partition-order dependence, unlike `sample()` — and
    * (b) consistent: changing one stratum's rate never resamples the
    * others, and raising a rate only ADDS documents (the kept set is
    * monotone in the rate — hash < rate). One broadcast join against
    * the tiny rate table; the filter is a codegen'd column expression.
    */
  def stratifiedSample(
      docs: DataFrame, rates: Map[String, Double], defaultRate: Double = 1.0,
      keyCol: String = "lang", idCol: String = "doc_id",
      salt: String = "graft"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ratesDf = rates.toSeq.toDF(keyCol, "rate")
    // uniform [0,1): 60-bit md5 prefix of salt:id over 2^60
    val u = tokenHash(concat_ws(":", lit(salt), col(idCol).cast("string")))
      .cast("double") / lit(1152921504606846976.0) // 2^60
    docs.join(broadcast(ratesDf), Seq(keyCol), "left")
      .filter(u < coalesce(col("rate"), lit(defaultRate)))
  }

  /** PER-STRATUM QUOTA capping — the other data-mixing primitive
    * ([[stratifiedSample]] keeps a RATE; this keeps a fixed COUNT per
    * source/language/domain, the "at most N documents from each
    * domain" policy). Deterministic: documents rank within their
    * stratum by the salted 52-bit md5 prefix of their id (52 bits so
    * the value is EXACT as a double; ties, ~2^-52, break by id), and
    * the first `cap` survive — reproducible across runs, engines, and
    * cluster sizes, and changing the salt redraws the quota sample.
    *
    * Ranking goes through the bounded-heap [[graft.functions.TopK]]
    * aggregator, NOT a `row_number` window: the window form shuffles a
    * stratum's EVERY row into one task and sorts it there — with few
    * large sources that is a single-task corpus sort. The aggregator
    * partial-aggregates map-side, so the shuffle carries at most `cap`
    * rows per (partition, stratum) — the 100 TB shape.
    *
    * Returns (stratum, id, rank_in_stratum), rank 1-based.
    */
  def capPerStratum(
      docs: DataFrame, cap: Int, salt: String = "graft",
      keyCol: String = "source", idCol: String = "doc_id"): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    // 52-bit hash as a NEGATED double (TopK ranks sim DESC; negation
    // is exact for |v| < 2^53)
    val h = conv(substring(md5(concat_ws(":", lit(salt), col(idCol).cast("string"))), 1, 13), 16, 10)
      .cast("long")
    docs.select(col(keyCol), col(idCol).cast("long").as("id"),
        negate(h.cast("double")).as("nh"))
      .groupBy(col(keyCol))
      .agg(graft.functions.TopK.topK(cap)(col("id"), col("nh")).as("top"))
      .select(col(keyCol), explode(col("top.entries")).as("e"))
      .select(col(keyCol), col("e.id").as(idCol), col("e.rank").as("rank_in_stratum"))
  }

  /** EDIT-DISTANCE-1 WORD PAIRS over the corpus vocabulary — typo/
    * variant clustering (the vocabulary-normalization pass a corpus
    * intake runs before frequency-based filters: "recieve" should
    * count toward "receive"). SymSpell-style DELETION BLOCKING
    * (Garbe's symmetric-delete idea, itself the classic
    * deletion-neighborhood trick): every word emits itself plus its
    * single-character deletions; two words within Levenshtein 1 of
    * each other PROVABLY share a variant (equal → same word;
    * substitution → the deletion at the edited position; insert/
    * delete → the shorter word IS a variant of the longer), so one
    * variant-keyed equi-join generates a complete candidate set and
    * `levenshtein(...) <= 1` verifies exactly — never an all-pairs
    * distance matrix. Work is Σ word-length over the DISTINCT
    * vocabulary: vocabulary-compressed like the tokenizer family,
    * with the candidate fan-out bounded by variant-bucket sizes.
    *
    * Returns (w_a < w_b, dist, wc_a, wc_b) — the counts are the
    * "which side is the typo" signal (typos are rare, canonicals
    * frequent).
    */
  def editDistancePairs(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text")
    : DataFrame = {
    val words = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    val variants = words.select(col("w"), col("w").as("variant"))
      .unionByName(words.select(col("w"), explode(
        transform(sequence(lit(1), length(col("w"))),
          i => concat(col("w").substr(lit(1), i - 1),
            col("w").substr(i + 1, length(col("w")))))).as("variant")))
    val cand = variants.as("a")
      .join(variants.as("b"),
        col("a.variant") === col("b.variant") && col("a.w") < col("b.w"))
      .select(col("a.w").as("w_a"), col("b.w").as("w_b")).distinct()
    cand
      .filter(levenshtein(col("w_a"), col("w_b")) <= 1)
      .join(words.select(col("w").as("w_a"), col("wc").as("wc_a")), "w_a")
      .join(words.select(col("w").as("w_b"), col("wc").as("wc_b")), "w_b")
      .select(col("w_a"), col("w_b"),
        levenshtein(col("w_a"), col("w_b")).cast("long").as("dist"),
        col("wc_a"), col("wc_b"))
  }

  /** WEIGHTED sampling WITHOUT replacement per stratum — the third
    * data-mixing primitive ([[stratifiedSample]] keeps a rate,
    * [[capPerStratum]] a uniform count; this keeps a count drawn with
    * probability PROPORTIONAL TO A WEIGHT, the "sample by quality
    * score / token mass" policy). Efraimidis & Spirakis 2006
    * ("Weighted random sampling with a reservoir", A-ES): each row
    * draws u ∈ (0,1) and the k largest u^(1/w) win — equivalently the
    * k SMALLEST -ln(u)/w, the exponential race this implementation
    * runs. Deterministic: u = (salted 52-bit md5 prefix + 0.5) / 2^52,
    * so the draw is reproducible across runs, engines, and cluster
    * sizes, and changing the salt redraws the sample.
    *
    * Ranking rides the same bounded-heap [[graft.functions.TopK]]
    * aggregator as [[capPerStratum]] (fed ln(u)/w, whose DESC order is
    * the race's ASC order) — map-side partial heaps, at most `k` rows
    * per (partition, stratum) in the shuffle, never a corpus window
    * sort. Rows with weight <= 0 cannot be drawn (A-ES is undefined
    * there) and are excluded up front.
    *
    * Returns (stratum, id, rank_in_stratum), rank 1-based in race
    * order — the [[capPerStratum]] schema.
    */
  def weightedSamplePerStratum(
      docs: DataFrame, k: Int, salt: String = "graft",
      keyCol: String = "source", idCol: String = "doc_id",
      weightCol: String = "n_chars"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val h = conv(substring(md5(concat_ws(":", lit(salt), col(idCol).cast("string"))), 1, 13), 16, 10)
      .cast("long")
    // u in (0,1) exactly representable: 52-bit integer + 0.5 over 2^52
    val u = (h.cast("double") + lit(0.5)) / lit(4503599627370496.0)
    docs.filter(col(weightCol) > 0)
      .select(col(keyCol), col(idCol).cast("long").as("id"),
        (log(u) / col(weightCol).cast("double")).as("s"))
      .groupBy(col(keyCol))
      .agg(graft.functions.TopK.topK(k)(col("id"), col("s")).as("top"))
      .select(col(keyCol), explode(col("top.entries")).as("e"))
      .select(col(keyCol), col("e.id").as(idCol), col("e.rank").as("rank_in_stratum"))
  }

  /** Repetition features — the boilerplate/degenerate-text signal a
    * pretraining quality filter cuts on: `rep_ratio` = 1 - distinct
    * word-3-grams / total word-3-grams (near 1 for looping text, near
    * 0 for natural prose) and `top_token_ratio` = the most frequent
    * token's share of all tokens. Row-local mapPartitions — no
    * shuffle, the natural 100 TB shape (same as [[simhash]]).
    */
  def repetitionFeatures(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val ws = text.split(" ").filter(_.nonEmpty)
          val n = ws.length
          val ng = math.max(n - 2, 0)
          val grams = new java.util.HashSet[String]()
          var k = 0
          while (k < ng) { grams.add(ws(k) + " " + ws(k + 1) + " " + ws(k + 2)); k += 1 }
          val counts = new java.util.HashMap[String, Integer]()
          var top = 0
          var t = 0
          while (t < n) {
            val c = counts.merge(ws(t), Integer.valueOf(1), (a, b) => Integer.valueOf(a + b))
            if (c > top) top = c
            t += 1
          }
          val rep = if (ng == 0) 0.0 else 1.0 - grams.size.toDouble / ng
          val tt = if (n == 0) 0.0 else top.toDouble / n
          (id, ng.toLong, grams.size.toLong, rep, tt)
        }
      }.toDF("doc_id", "n_grams3", "n_distinct_grams3", "rep_raw", "top_raw")
      // round through Spark's SQL round so the values are bit-identical
      // to a SQL oracle's ROUND(..., 6)
      .select(col("doc_id"), col("n_grams3"), col("n_distinct_grams3"),
        round(col("rep_raw"), 6).as("rep_ratio"),
        round(col("top_raw"), 6).as("top_token_ratio"))
  }

  /** QUALITY-AUDIT VERDICT TABLE — the "why was my document dropped"
    * face a production filter pipeline owes its users: every document
    * gets a REASON BITMASK over the full hard-gate battery (the
    * [[gopherRules]] thresholds, the [[repetitionFeatures]] signals,
    * and the language gate) and `keep = (mask == 0)`. One row-local
    * pass computes every counter; every threshold is evaluated as a
    * CROSS-MULTIPLIED INTEGER comparison (`5·n_alpha < 4·n` instead
    * of `n_alpha/n < 0.8`), so the verdict is bit-identical across
    * engines with no float anywhere — stricter determinism than the
    * float-ratio report faces it composes.
    *
    * Bits: 0 word-count out of [minWords, maxWords]; 1 mean word
    * length out of [3, 10]; 2 alphabetic-word fraction < 4/5;
    * 3 distinct stopwords < 2; 4 top-token share > 1/5; 5 word-3-gram
    * repetition > 1/2; 6 language ≠ `lang`.
    *
    * SCALE SHAPE: row-local mapPartitions (the simhash contract) — no
    * shuffle, stream-transparent, embarrassingly parallel at 100 TB.
    *
    * Returns (doc_id, n_words, reason_mask, keep).
    */
  def qualityAudit(
      docs: DataFrame, lang: String = "en",
      minWords: Long = 20L, maxWords: Long = 100000L,
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val stop = Stopwords.toSet
    docs.select(col(idCol).cast("long"), col(textCol), col(langCol))
      .as[(Long, String, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text, docLang) =>
          val ws = text.split(" ").filter(_.nonEmpty)
          val n = ws.length.toLong
          var wc = 0L
          var nAlpha = 0L
          val stopSeen = new java.util.HashSet[String]()
          val counts = new java.util.HashMap[String, Integer]()
          var top = 0L
          var i = 0
          while (i < ws.length) {
            val w = ws(i)
            wc += w.length
            var hasAlpha = false
            var j = 0
            while (j < w.length && !hasAlpha) {
              val c = w.charAt(j)
              hasAlpha = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
              j += 1
            }
            if (hasAlpha) nAlpha += 1
            if (stop.contains(w)) { stopSeen.add(w); () }
            val cnt = counts.merge(w, Integer.valueOf(1), (a, b) => Integer.valueOf(a + b))
            if (cnt > top) top = cnt.toLong
            i += 1
          }
          val ng = math.max(ws.length - 2, 0).toLong
          val grams = new java.util.HashSet[String]()
          var k = 0
          while (k < ng) { grams.add(ws(k) + " " + ws(k + 1) + " " + ws(k + 2)); k += 1 }
          val nd = grams.size.toLong
          var mask = 0L
          if (n < minWords || n > maxWords) mask |= 1L
          if (wc < 3 * n || wc > 10 * n) mask |= 2L
          if (5 * nAlpha < 4 * n) mask |= 4L
          if (stopSeen.size < 2) mask |= 8L
          if (5 * top > n) mask |= 16L
          if (2 * (ng - nd) > ng) mask |= 32L
          if (docLang == null || docLang != lang) mask |= 64L
          (id, n, mask, mask == 0L)
        }
      }.toDF("doc_id", "n_words", "reason_mask", "keep")
  }

  /** QUALITY FILTER FUNNEL — the stage-by-stage survival readout a
    * pipeline owner reads before touching thresholds: the
    * [[qualityAudit]] gates applied IN BIT ORDER, each stage entering
    * with the survivors of all earlier gates (stage s enters with
    * docs clean on mask prefix 2^s−1 and exits clean on 2^(s+1)−1).
    * n_dropped attributes every document to the FIRST gate that
    * rejects it — the funnel convention — and survival_ppm is the
    * exact integer share of the corpus still alive after the stage.
    *
    * 100 TB shape: one aggregation over the audit's (doc, mask) rows
    * (the 7-way stage explode is a constant fan-out, combined
    * map-side), then a 7-row tail joined to the 1-row corpus count by
    * broadcast.
    */
  def filterFunnel(audit: DataFrame): DataFrame = {
    val names = Seq("word_count", "mean_word_len", "alpha_ratio",
      "stopwords", "top_word_mass", "dup_trigrams", "language")
    val staged = audit.select(col("reason_mask"),
      explode(array(names.indices.map(s => lit(s.toLong)): _*)).as("stage"))
    val total = audit.agg(count(lit(1)).cast("long").as("n_corpus"))
    staged.groupBy(col("stage"))
      .agg(
        sum(when(expr(
          "(reason_mask & (shiftleft(1, cast(stage AS int)) - 1)) = 0"),
          1L).otherwise(0L)).cast("long").as("n_in"),
        sum(when(expr(
          "(reason_mask & (shiftleft(1, cast(stage AS int) + 1) - 1)) = 0"),
          1L).otherwise(0L)).cast("long").as("n_out"))
      .crossJoin(broadcast(total)) // 1-row aggregate, the accepted shape
      .select(col("stage"),
        element_at(lit(names.toArray), col("stage").cast("int") + 1).as("gate"),
        col("n_in"), col("n_out"),
        (col("n_in") - col("n_out")).as("n_dropped"),
        expr("n_out * CAST(1000000 AS BIGINT) " +
          "div greatest(n_corpus, CAST(1 AS BIGINT))").as("survival_ppm"))
  }

  /** COMPRESSION-RATIO quality signal (the Gopher-style filter):
    * deflate(text).length / text.length — highly repetitive or
    * templated documents compress far below natural prose, and the
    * signal needs no language model. Row-local mapPartitions with one
    * reused Deflater per task — shuffle-free, the 100 TB shape. Not
    * SQL-expressible (no deflate in the oracle engine — DuckDB has no
    * zlib/deflate scalar), so the harness records it under the weaker
    * rows-only check; CompressGoldenSpec pins exact deflate lengths and
    * ratios for fixed inputs (JDK Deflater at a fixed level is
    * deterministic for a given zlib version), which is the correctness
    * signal the oracle can't provide.
    *
    * Returns (id, raw_len, deflate_len, compress_ratio).
    */
  def compressionRatio(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { rows =>
        val deflater = new java.util.zip.Deflater(6)
        // Deflater holds native zlib memory until end() — on long-lived
        // executors that accumulates per task, so release it when the
        // partition completes (or the task fails mid-iteration).
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit](_ => deflater.end())
        val buf = new Array[Byte](1 << 16)
        rows.map { case (id, text) =>
          val in = text.getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(in)
          deflater.finish()
          var outLen = 0L
          while (!deflater.finished()) outLen += deflater.deflate(buf)
          val ratio = if (in.length == 0) 0.0 else outLen.toDouble / in.length
          (id, in.length.toLong, outLen, ratio)
        }
      }.toDF(idCol, "raw_len", "deflate_len", "ratio_raw")
      .select(col(idCol), col("raw_len"), col("deflate_len"),
        round(col("ratio_raw"), 6).as("compress_ratio"))
  }

  /** TEXT NORMALIZATION — the canonicalization pass run before any
    * hashing or dedup so visually-identical texts hash identically:
    * Unicode NFC (combining sequences composed, via the native
    * [[graft.functions.NfcNormalize]] expression — Spark has no
    * built-in), lowercase, whitespace runs collapsed to single
    * spaces, ends trimmed. Every stage is a codegen'd column
    * expression — narrow, shuffle-free, the 100 TB shape.
    *
    * Returns (id, norm_text).
    */
  def normalizeText(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val norm = trim(regexp_replace(
      lower(graft.functions.NfcNormalize.nfcNormalize(col(textCol))),
      "[ \\t\\n\\r]+", " "))
    docs.select(col(idCol), norm.as("norm_text"))
  }

  // PII patterns, deliberately restricted to syntax whose greedy-match
  // semantics are IDENTICAL in Java regex and RE2 (no alternation
  // ambiguity, no backrefs) so a SQL engine scrubs byte-identically.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
  val LongNumRe = "\\d{9,}"

  /** PII scrubbing — the redaction pass a training pipeline runs before
    * anything else sees the text: emails, IPv4 addresses, and long
    * digit runs (account/phone-number shaped) replaced by typed tokens,
    * with per-category match counts. Replacement is SEQUENTIAL
    * (emails first, since an email can embed an IP-shaped host) so the
    * counts are well-defined; every stage is a codegen'd column
    * expression — narrow, shuffle-free, the 100 TB shape.
    *
    * Returns (id, clean_text, n_emails, n_ips, n_longnums).
    */
  def scrubPii(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val afterEmail = regexp_replace(t, EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    val afterNum = regexp_replace(afterIp, LongNumRe, "<NUM>")
    docs.select(
      col(idCol),
      afterNum.as("clean_text"),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(afterEmail, lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
      size(regexp_extract_all(afterIp, lit(LongNumRe), lit(0))).cast("long").as("n_longnums"))
  }

  /** PII RISK INVENTORY — the per-source rollup a release review
    * reads BEFORE deciding where [[scrubPii]] must run: how many
    * documents in each source carry any PII-shaped match, and the
    * per-category totals. Same RE2/Java-identical patterns and
    * sequential counting discipline as the scrub (emails first, since
    * an email can embed an IP-shaped host); the affected-document
    * share reports in integer ppm, so the face carries no double.
    * One narrow codegen'd pass + one map-side-combined rollup to
    * source grain — the key-skew report shape.
    *
    * Returns (source, n_docs, n_docs_with_pii, n_emails, n_ips,
    * n_longnums, pii_doc_ppm).
    */
  def piiInventory(
      docs: DataFrame, keyCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val afterEmail = regexp_replace(t, EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    docs.select(col(keyCol).as("source"),
        size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long").as("e"),
        size(regexp_extract_all(afterEmail, lit(Ipv4Re), lit(0))).cast("long").as("i"),
        size(regexp_extract_all(afterIp, lit(LongNumRe), lit(0))).cast("long").as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("e") + col("i") + col("n") > 0, 1L).otherwise(0L))
          .as("n_docs_with_pii"),
        sum(col("e")).as("n_emails"), sum(col("i")).as("n_ips"),
        sum(col("n")).as("n_longnums"))
      .withColumn("pii_doc_ppm",
        expr("(n_docs_with_pii * 1000000) div n_docs"))
      .orderBy(col("source"))
  }

  /** Top-K bigram collocations by frequency with pointwise mutual
    * information (Church & Hanks 1990): PMI of adjacent word pairs
    * against independent unigram draws — the collocation/phrase-mining
    * primitive (tokenizer-vocab candidates, boilerplate-phrase
    * detection). Two counting aggregations (bigrams, unigrams) + two
    * broadcast scalar totals; top-K is TakeOrdered on (count, pair).
    *
    * PMI is computed as a FIXED left-to-right chain of ln terms
    * (`ln c_ab + ln N_u + ln N_u - ln c_a - ln c_b - ln N_b`) rather
    * than one big integer ratio — the products overflow int64 at
    * corpus scale, and the fixed chain keeps every intermediate
    * deterministic for the oracle compare.
    *
    * Returns (w1, w2, c_ab, pmi), the topK most frequent bigrams with
    * count >= minCount.
    */
  def bigramPmi(
      docs: DataFrame, minCount: Long = 5L, topK: Int = 20,
      textCol: String = "text"): DataFrame = {
    require(minCount >= 1 && topK >= 1, s"bad params: minCount=$minCount topK=$topK")
    val ws = tokens(col(textCol))
    val tokTab = docs.select(ws.as("toks"))
    val bigrams = tokTab.select(explode(when(size(col("toks")) >= 2,
        transform(sequence(lit(0), size(col("toks")) - 2),
          k => struct(element_at(col("toks"), k + 1).as("w1"),
            element_at(col("toks"), k + 2).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("b"))
      .select(col("b.w1"), col("b.w2"))
    val uni = docs.select(explode(ws).as("w")).groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val big = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val nU = uni.agg(sum(col("cu")).as("n_u"))
    // total bigram occurrences = Σ max(n_tokens - 1, 0): a narrow scan
    // over doc lengths, NOT a second corpus-wide bigram explode — same
    // integer, one less pass over the token stream
    val totB = docs
      .select(greatest(size(ws) - 1, lit(0)).cast("long").as("nb"))
      .agg(sum(col("nb")).as("n_b"))
    big
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("cu", "c_a"), "w1")
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("cu", "c_b"), "w2")
      .crossJoin(broadcast(nU)).crossJoin(broadcast(totB))
      .orderBy(col("c_ab").desc, col("w1").asc, col("w2").asc).limit(topK)
      .select(col("w1"), col("w2"), col("c_ab"),
        round(log(col("c_ab")) + log(col("n_u")) + log(col("n_u"))
          - log(col("c_a")) - log(col("c_b")) - log(col("n_b")), 6).as("pmi"))
  }

  /** Near-dup threshold sweep: pair and affected-doc counts at each
    * candidate Jaccard threshold, computed from ONE similarity join at
    * the lowest threshold (the sweep is how you TUNE the dedup
    * threshold before committing a 100 TB pass; rerunning the join per
    * candidate would multiply the dominant cost by |thresholds|).
    * Pairs are bucketed by their ROUNDED jaccard (the emitted value),
    * so the report is consistent with what the pair queries output.
    *
    * Returns (threshold, n_pairs, n_docs) — n_docs the count of
    * distinct documents touched by at least one pair at that
    * threshold.
    */
  def dedupThresholdSweep(
      docs: DataFrame, thresholds: Seq[Double] = Seq(0.7, 0.8, 0.9, 0.95),
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(thresholds.nonEmpty, "sweep needs at least one threshold")
    val spark = docs.sparkSession
    import spark.implicits._
    // the pair table feeds TWO aggregations (n_pairs and the exploded
    // n_docs distinct) — cut it once so the prefix-filtered similarity
    // join doesn't run twice per execution (measured: the uncut form
    // executed the whole join chain for each consumer)
    val pairs = graft.model.Lineage.cutRetired(
      jaccardPairs(docs, thresholds.min, idCol, textCol), reliable = false)
    val th = broadcast(thresholds.toDF("threshold"))
    val wt = pairs.join(th, col("jaccard") >= col("threshold"))
    val nPairs = wt.groupBy(col("threshold")).agg(count(lit(1)).as("n_pairs"))
    val nDocs = wt.select(col("threshold"),
        explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
      .groupBy(col("threshold")).agg(count(lit(1)).as("n_docs"))
    nPairs.join(nDocs, "threshold")
  }

  /** Leakage-safe train/val/test split: the split is a deterministic
    * hash of the CLUSTER id, not the document id, so an entire
    * near-dup family lands on one side — the standard guard against
    * test-set contamination via near-duplicates (a doc-keyed split
    * puts two 95%-identical documents in train and test and the eval
    * silently measures memorization). Percentages are integer bucket
    * cuts of a salted 60-bit hash mod 100.
    *
    * Narrow shape: one equi-join of the assignment onto the cluster
    * table, then a hash of the cluster key — no shuffle beyond the
    * join; split fractions approach the requested percentages as
    * cluster count grows (cluster-granular, necessarily).
    *
    * Returns (doc_id, cluster_id, split).
    */
  def leakageSafeSplit(
      clusters: DataFrame, testPct: Int = 10, valPct: Int = 10,
      salt: String = "split1"): DataFrame = {
    require(testPct >= 0 && valPct >= 0 && testPct + valPct <= 100,
      s"bad split percentages: test=$testPct val=$valPct")
    val bucket = tokenHash(concat(lit(salt), lit(":"), col("cluster_id").cast("string"))) % 100
    clusters.select(col("doc_id"), col("cluster_id"),
      when(bucket < testPct, "test")
        .when(bucket < testPct + valPct, "val")
        .otherwise("train").as("split"))
  }

  /** Corpus novelty curve: order documents by arrival (id bucketed
    * into batches of `bucketSize`) and report, per batch, how many of
    * its distinct n-grams are NEW — first seen in that batch — vs
    * carried over. The "is the crawl still finding new content"
    * diagnostic; the curve flattening toward 0 is the empirical
    * saturation signal that drives stop/dedup decisions at ingest.
    *
    * First-occurrence without any sequential scan: min-bucket per
    * gram hash is ONE map-side-combinable aggregation, joined back to
    * the per-batch distinct table on the hash — two shuffles total,
    * both keyed by the gram hash, regardless of batch count.
    *
    * Returns (bucket, n_grams, n_new, frac_new).
    */
  def noveltyCurve(
      docs: DataFrame, n: Int = 3, bucketSize: Long = 100L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1 && bucketSize >= 1, s"bad params: n=$n bucketSize=$bucketSize")
    val g = docs.select(expr(s"$idCol DIV $bucketSize").as("bucket"),
        tokens(col(textCol)).as("toks"))
      .select(col("bucket"), explode(shinglesOf(col("toks"), n)).as("g"))
      .select(col("bucket"), tokenHash(col("g")).as("h")).distinct()
    // n_new per bucket needs NO join back to the big gram table: the
    // min-bucket aggregation already assigns each gram to exactly one
    // bucket, so its per-bucket count IS the new-gram count — two
    // bounded aggregations over the distinct table instead of a
    // gram-keyed hash join of it against itself
    val nGrams = g.groupBy(col("bucket")).agg(count(lit(1)).as("n_grams"))
    val nNew = g.groupBy(col("h")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_new"))
    nGrams.join(nNew, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_new")) // a batch can be 100% carried-over
      .select(col("bucket"), col("n_grams"), col("n_new"),
        round(col("n_new") * lit(1.0) / col("n_grams"), 6).as("frac_new"))
  }

  /** Cross-source n-gram overlap matrix: for every unordered source
    * pair, the distinct-shingle intersection size, Jaccard, and
    * containment (|A∩B| / min(|A|,|B|)) — the corpus-composition
    * diagnostic that tells you two "different" sources are actually
    * mirrors (high containment) before you weight them independently
    * in a mixing plan.
    *
    * Scale shape: the (source, gram-hash) DISTINCT table
    * partial-aggregates map-side; the self-join is keyed on the HASH
    * (not the source), so it shuffles each distinct gram once and its
    * output is bounded by the cross-source duplicate mass, never
    * |corpus|². The final matrix is |sources|² rows, assembled LEFT
    * from the size table's cross product so zero-overlap pairs report
    * 0 explicitly rather than vanishing.
    *
    * Returns (src_a, src_b, n_common, jaccard, containment), src_a <
    * src_b.
    */
  def sourceOverlapMatrix(
      docs: DataFrame, n: Int = 3,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    val sh = docs.select(col(srcCol).as("source"), tokens(col(textCol)).as("toks"))
      .select(col("source"), explode(shinglesOf(col("toks"), n)).as("g"))
      .select(col("source"), tokenHash(col("g")).as("h")).distinct()
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val common = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    val grid = sizes.as("za").crossJoin(sizes.as("zb"))
      .filter(col("za.source") < col("zb.source"))
      .select(col("za.source").as("src_a"), col("zb.source").as("src_b"),
        col("za.sz").as("sz_a"), col("zb.sz").as("sz_b"))
    grid.join(common, Seq("src_a", "src_b"), "left")
      .na.fill(0L, Seq("n_common"))
      .select(col("src_a"), col("src_b"), col("n_common"),
        round(col("n_common") * lit(1.0) / (col("sz_a") + col("sz_b") - col("n_common")), 6)
          .as("jaccard"),
        round(col("n_common") * lit(1.0) / least(col("sz_a"), col("sz_b")), 6)
          .as("containment"))
  }

  /** MinHash Jaccard ESTIMATOR error, measured: for every LSH
    * candidate pair, the signature-agreement estimate
    * `|{k : sig_a[k] = sig_b[k]}| / numHashes` (Broder 1997, "On the
    * resemblance and containment of documents" — slot-agreement
    * probability equals the Jaccard resemblance) next to the exact
    * token-set Jaccard, plus the absolute error. The dedup queries
    * USE the estimator; this query reports how good it actually is —
    * the same sold-with-its-accuracy contract as the ANN recall and
    * sketch queries.
    *
    * Cost shape at scale: signatures come from the row-local MinHash
    * kernel (no shuffle) and the candidates band those same
    * signatures; each candidate joins its two documents' (token set,
    * signature) rows once, and the exact side is the verification's
    * own [[pairOverlap]] (a pair sharing no token has c = 0) — cost
    * scales with candidate count, never corpus^2.
    *
    * Returns (id_a, id_b, n_eq, est_j, exact_j, abs_err).
    */
  def minhashJaccardEst(
      docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sigs = minhashSignatures(docs, numHashes, idCol, textCol)
    val cand = candidatesFromBanded(bandBucketsFromSigs(sigs, numHashes, bands))
    // each document's signature rides with its token set, so a pair
    // joins one row per side for both the estimate and the exact count
    val sigSets = tokenSets(docs, idCol, textCol).join(sigs, "id")
    val est = col("n_eq") / lit(numHashes.toDouble)
    pairOverlap(sigSets, sigSets, cand)
      .select(col("id_a"), col("id_b"),
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).as("n_eq"),
        col("inter").as("c"), col("sz_a"), col("sz_b"))
      .select(col("id_a"), col("id_b"), col("n_eq"),
        round(est, 6).as("est_j"),
        round(col("c") * lit(1.0) / (col("sz_a") + col("sz_b") - col("c")), 6).as("exact_j"),
        round(abs(est - col("c") * lit(1.0) / (col("sz_a") + col("sz_b") - col("c"))), 6)
          .as("abs_err"))
  }

  /** Count-min sketch over corpus token frequencies (Cormode &
    * Muthukrishnan 2005, "An improved data stream summary: the
    * count-min sketch and its applications", J. Algorithms), reported
    * against the exact counts of the `topK` most frequent tokens so
    * the sketch ships with its measured overestimate — the same
    * accuracy-first contract as the HLL and ANN-recall queries.
    *
    * Scale shape: the token scan partial-aggregates map-side into
    * (token, cnt) — one shuffle keyed by token, the same shuffle an
    * exact word count needs — and the d×w sketch is then a SECOND
    * tiny aggregation over at most d × distinct-tokens rows into
    * d × w cells. The sketch (2 048 cells here) is mergeable across
    * corpus slices by cell-wise SUM, and the top-K probe joins
    * against it broadcast — nothing in the probe path scales with
    * corpus size. CMS guarantees est >= exact always (only hash
    * collisions ADD), and est <= exact + eps*N with prob 1-delta for
    * w = ceil(e/eps), d = ceil(ln 1/delta).
    *
    * Determinism: ONE md5 per distinct token (60-bit prefix), row j's
    * bucket = bits [9j, 9j+9) of that hash (w = 512 = 2^9, d <= 6 fits
    * 54 bits) — disjoint bit windows of one strong hash rather than d
    * separate hashes, so the oracle reproduces every cell integer-
    * exactly with the same single-md5 recipe.
    *
    * Returns the topK rows (token, exact_cnt, cms_est, overest),
    * overest = cms_est - exact_cnt >= 0.
    */
  def cmsTokenFreq(
      docs: DataFrame, d: Int = 4, w: Int = 512, topK: Int = 50,
      textCol: String = "text"): DataFrame = {
    require(w == 512, "bucket derivation is specialized to w = 512 (9-bit windows)")
    require(d >= 1 && d <= 6, s"d must be in [1,6] to fit 9-bit windows in 54 bits, got $d")
    val counts = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val h = conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long")
    val hashed = counts.select(col("w"), col("cnt"), h.as("h"))
    // sketch cells: for each row j, bucket = 9-bit window j of h
    // d is tiny and static -> unroll the row structs at plan-build
    // time (the Scala shift wrappers want literal shift amounts)
    def rowStructs = array((0 until d).map { j =>
      struct(lit(j).as("j"),
        shiftrightunsigned(col("h"), j * 9).bitwiseAND(lit(511L)).cast("int").as("idx"))
    }: _*)
    val cells = hashed.select(col("cnt"), explode(rowStructs).as("c"))
      .groupBy(col("c.j").as("j"), col("c.idx").as("idx"))
      .agg(sum(col("cnt")).as("cell"))
    val top = hashed
      .orderBy(col("cnt").desc, col("w").asc).limit(topK)
      .select(col("w"), col("cnt"), explode(rowStructs).as("p"))
      .select(col("w"), col("cnt"), col("p.j").as("j"), col("p.idx").as("idx"))
    top.join(broadcast(cells), Seq("j", "idx"))
      .groupBy(col("w").as("token"), col("cnt").as("exact_cnt"))
      .agg(min(col("cell")).as("cms_est"))
      .withColumn("overest", col("cms_est") - col("exact_cnt"))
  }

  /** CMS cells computed directly from token OCCURRENCES — ONE
    * aggregation (`groupBy(j, idx).count`), which is the streaming-
    * legal increment path of the sketch: the same expression tree runs
    * over a `readStream` source in complete mode and the cells merge
    * across micro-batches by the aggregation itself. Produces
    * IDENTICAL cells to [[cmsTokenFreq]]'s count-then-sum route (sum
    * over per-token counts == count over occurrences); the batch query
    * keeps that route because it hashes only DISTINCT tokens.
    */
  def cmsCells(
      docs: DataFrame, d: Int = 4, w: Int = 512,
      textCol: String = "text"): DataFrame = {
    require(w == 512, "bucket derivation is specialized to w = 512 (9-bit windows)")
    require(d >= 1 && d <= 6, s"d must be in [1,6] to fit 9-bit windows in 54 bits, got $d")
    val h = conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long")
    docs.select(explode(tokens(col(textCol))).as("w"))
      .select(array((0 until d).map { j =>
        struct(lit(j).as("j"),
          shiftrightunsigned(h, j * 9).bitwiseAND(lit(511L)).cast("int").as("idx"))
      }: _*).as("rs"))
      .select(explode(col("rs")).as("c"))
      .groupBy(col("c.j").as("j"), col("c.idx").as("idx"))
      .agg(count(lit(1)).as("cell"))
  }

  /** HyperLogLog distinct-shingle estimate per source (Flajolet et al.
    * 2007, "HyperLogLog: the analysis of a near-optimal cardinality
    * estimation algorithm", AofA; small-range linear-counting
    * correction from the same paper §4) — the cardinality sketch a
    * 100 TB pipeline uses where COUNT(DISTINCT) is unaffordable: the
    * register table IS a map-side-combinable `groupBy(source, idx)
    * .agg(max(rho))`, so the shuffle carries at most sources × 2^p
    * rows no matter how many tokens were scanned, and register tables
    * from independent corpus slices merge by the same `max`.
    *
    * Determinism (so the DuckDB oracle reproduces the ESTIMATE bit for
    * bit, not just approximately): the hash is the portable 60-bit md5
    * prefix; idx = low 8 bits, rho = leading-zero rank of the
    * remaining 52-bit window via `53 - length(bin(w))` (both engines'
    * `bin` prints without leading zeros); and the harmonic-mean
    * denominator Σ 2^-M_j is summed in INTEGER space as
    * Σ 2^(53-M_j) ≤ 2^61 — float summation order across registers
    * would otherwise make the last bits shuffle-order-dependent.
    *
    * Reports the estimate alongside the exact distinct count (one
    * extra aggregation, affordable at test SF) and the relative error
    * — the sketch sold with its measured accuracy, same contract as
    * the ANN recall queries.
    *
    * Returns (source, exact_grams, hll_est, rel_err).
    */
  def hllDistinctGrams(
      docs: DataFrame, n: Int = 3,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    val m = 256 // p = 8 registers; rse ~ 1.04/sqrt(m) ~ 6.5%
    val g = docs.select(col(srcCol).as("source"), tokens(col(textCol)).as("toks"))
      .select(col("source"), explode(shinglesOf(col("toks"), n)).as("g"))
    val regs = hllShingleRegisters(docs, n, srcCol, textCol)
    val per = hllEstimate(regs)
    val exact = g.groupBy(col("source")).agg(countDistinct(col("g")).as("exact_grams"))
    per.join(exact, "source")
      .select(col("source"), col("exact_grams"),
        round(col("est"), 4).as("hll_est"),
        round(abs(col("est") - col("exact_grams")) / col("exact_grams"), 4).as("rel_err"))
  }

  /** The register table of [[hllDistinctGrams]] — (source, idx, m_reg)
    * rows, at most sources × 256 of them. Split out because `max` is a
    * streaming-legal aggregation: the SAME expression tree runs over a
    * `readStream` source in complete mode, which is the incremental-
    * ingestion shape of the sketch (registers today = registers
    * yesterday merged with today's increment, no recount). Finalize
    * with [[hllEstimate]].
    */
  def hllShingleRegisters(
      docs: DataFrame, n: Int = 3,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    val g = docs.select(col(srcCol).as("source"), tokens(col(textCol)).as("toks"))
      .select(col("source"), explode(shinglesOf(col("toks"), n)).as("g"))
    val h = conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long")
    g.select(col("source"),
        h.bitwiseAND(lit(255L)).cast("int").as("idx"),
        shiftrightunsigned(h, 8).as("wv"))
      .withColumn("rho",
        when(col("wv") === 0L, lit(53)).otherwise(lit(53) - length(bin(col("wv")))))
      .groupBy(col("source"), col("idx"))
      .agg(max(col("rho")).as("m_reg"))
  }

  /** Finalize an HLL register table into (source, est) — the harmonic
    * mean in integer space plus the small-range linear-counting
    * correction, exactly as documented on [[hllDistinctGrams]].
    */
  def hllEstimate(regs: DataFrame): DataFrame = {
    val m = 256
    regs.groupBy(col("source"))
      .agg(count(lit(1)).as("m_present"),
        // integer-exact Σ 2^(53 - M_j) over the PRESENT registers
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - m_reg AS INT))")).as("s_present"))
      // absent registers contribute 2^-0 = 1 = 2^53/2^53 each
      .withColumn("v_zero", lit(m.toLong) - col("m_present"))
      .withColumn("s_int", col("s_present") + col("v_zero") * lit(1L << 53))
      // alpha_m * m^2 * 2^53 / S  — multiplication order fixed to match
      // the SQL oracle text exactly (each product rounds once)
      .withColumn("e_raw",
        lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) * lit(65536.0) *
          lit(9007199254740992.0) / col("s_int").cast("double"))
      .withColumn("est",
        when(col("v_zero") > 0 && col("e_raw") <= lit(640.0),
          lit(256.0) * log(lit(256.0) / col("v_zero").cast("double")))
          .otherwise(col("e_raw")))
      .select(col("source"), col("est"))
  }

  /** (id, cidx, chunk) occurrence rows: consecutive `k`-token chunks
    * per document (tail chunk kept), 0-based chunk index — the shared
    * splitter under the span-dedup family. All codegen'd column ops
    * (sequence/transform/slice/posexplode), no UDF.
    */
  private def chunkOccurrences(
      docs: DataFrame, k: Int, idCol: String, textCol: String): DataFrame = {
    // toks bound first — the shinglesOf contract
    val nChunks = ((size(col("toks")) + (k - 1)) / k).cast("int")
    val chunks = when(size(col("toks")) > 0,
      transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(col("toks"), i * k + 1, lit(k)))))
      .otherwise(array())
    docs.select(col(idCol).cast("long").as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"), posexplode(chunks))
      .select(col("id"), col("pos").cast("long").as("cidx"), col("col").as("chunk"))
  }

  /** CHUNK-DEDUP REWRITE — the remove-and-reassemble form of span
    * dedup (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", 2021, at chunk granularity): every occurrence of
    * a duplicated chunk EXCEPT the global first (ordered by (doc_id,
    * chunk index)) is dropped, and each document is re-emitted as its
    * surviving chunks in order — [[chunkDupStats]] measures the
    * duplication; this operator actually removes it.
    *
    * First-occurrence selection is `min(struct(id, cidx))` per chunk
    * digest — one groupBy bounded by the DISTINCT-chunk count, joined
    * back on the 32-char md5 (never shuffling chunk bodies twice).
    * Reassembly is one groupBy per document whose collect_list is
    * bounded by that document's own chunk count — per-doc state, the
    * same bound as holding the document text itself, so the shape
    * holds at 100 TB. No window over the corpus, no cartesian.
    *
    * Returns (id, n_chunks, n_kept, text_kept); documents reduced to
    * nothing (or empty to begin with) keep an empty `text_kept`.
    */
  def dedupChunksRewrite(
      docs: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1, s"chunk size must be >= 1, got $k")
    val occ = chunkOccurrences(docs, k, idCol, textCol)
      .withColumn("h", md5(col("chunk")))
    val first = occ.groupBy(col("h"))
      .agg(min(struct(col("id"), col("cidx"))).as("f"))
      .select(col("h"), col("f.id").as("fid"), col("f.cidx").as("fcidx"))
    val flagged = occ.join(first, "h")
      .withColumn("keep", col("id") === col("fid") && col("cidx") === col("fcidx"))
    val agg = flagged.groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        // collect_list skips the nulls of the non-kept rows; array_sort
        // on struct(cidx, chunk) restores document order
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("cidx"), col("chunk"))))),
          s => s.getField("chunk"))).as("text_kept"))
    docs.select(col(idCol).cast("long").as("id"))
      .join(agg, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  /** PER-SOURCE BOILERPLATE detection (the CCNet/C4 per-domain pass):
    * a chunk is boilerplate WITHIN a source when it appears in >=
    * `minDf` distinct documents of that source — headers, footers,
    * navigation text repeated across a site. Per document: how much of
    * it is its own source's boilerplate, the gating signal for
    * template-heavy pages that corpus-WIDE dedup underweights (a
    * boilerplate chunk on 50 pages of one site is 98% removable even
    * if no other source carries it).
    *
    * Two aggregations, both bounded: distinct (source, chunk, doc)
    * then (source, chunk) document frequency, and the per-doc rollup.
    * The boilerplate join key is (source, md5) — fixed-width, never
    * chunk bodies.
    *
    * Returns (id, source, n_chunks, n_boiler_chunks, boiler_frac).
    */
  def boilerplateChunkStats(
      docs: DataFrame, k: Int, minDf: Int,
      idCol: String = "doc_id", textCol: String = "text",
      srcCol: String = "source"): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val src = docs.select(col(idCol).cast("long").as("id"), col(srcCol))
    val occ = chunkOccurrences(docs, k, idCol, textCol)
      .withColumn("h", md5(col("chunk"))).drop("chunk")
      .join(src, "id")
    val boiler = occ.select(col(srcCol), col("h"), col("id")).distinct()
      .groupBy(col(srcCol), col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col(srcCol), col("h"), lit(1).as("is_boiler"))
    val agg = occ.join(boiler, Seq(srcCol, "h"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("is_boiler").isNotNull, 1L).otherwise(0L)).as("n_boiler_chunks"))
    src.join(agg, Seq("id"), "left")
      .select(col("id").as(idCol), col(srcCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_boiler_chunks"), lit(0L)).as("n_boiler_chunks"),
        round(coalesce(col("n_boiler_chunks"), lit(0L)) /
          greatest(coalesce(col("n_chunks"), lit(0L)), lit(1L)), 6).as("boiler_frac"))
  }

  /** BPE MERGE-PAIR CELLS, occurrence path — adjacent character-pair
    * counts over every token occurrence: ONE aggregation, so the same
    * body is streaming-legal (complete-mode groupBy) and micro-batched
    * cells merge to exactly the batch counts. The batch-side
    * [[bpePairStats]] uses the vocabulary-compressed two-stage form;
    * both compute the identical pair counts (pair count weighted by
    * word frequency == pair count over occurrences).
    */
  def bpePairCells(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => struct(col("w").substr(i, lit(1)).as("left_sym"),
          col("w").substr(i + lit(1), lit(1)).as("right_sym")))).as("p"))
      .groupBy(col("p.left_sym").as("left_sym"), col("p.right_sym").as("right_sym"))
      .agg(count(lit(1)).as("pair_count"))

  /** BPE MERGE-PAIR STATISTICS — one round of byte-pair-encoding
    * tokenizer training (Sennrich et al. 2016): count every adjacent
    * symbol pair weighted by word frequency and rank the top merge
    * candidates. Symbols are single characters (round 1 of the merge
    * loop; later rounds would rewrite the vocabulary and repeat).
    *
    * The corpus pass compresses to the VOCABULARY first (groupBy word
    * — at 100 TB the distinct-word table is orders of magnitude
    * smaller than the token stream, and the pair explode then runs
    * per distinct word, not per occurrence); top-K is TakeOrdered
    * (per-partition heaps), never a global sort. Deterministic
    * tie-break: (count desc, left, right).
    *
    * Returns topK rows of (left_sym, right_sym, pair_count).
    */
  def bpePairStats(
      docs: DataFrame, topK: Int, textCol: String = "text"): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val vocab = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    vocab.filter(length(col("w")) >= 2)
      .select(col("wc"), explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => struct(col("w").substr(i, lit(1)).as("l"),
          col("w").substr(i + lit(1), lit(1)).as("r")))).as("p"))
      .groupBy(col("p.l").as("left_sym"), col("p.r").as("right_sym"))
      .agg(sum(col("wc")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
      .limit(topK)
  }

  /** BPE TOKENIZER TRAINING — the full iterative merge loop of
    * byte-pair encoding (Sennrich, Haddow & Birch, ACL 2016, "Neural
    * Machine Translation of Rare Words with Subword Units"), not just
    * round 1's pair statistics ([[bpePairStats]]): `merges` rounds of
    * (count adjacent symbol pairs weighted by word frequency → merge
    * the most frequent pair everywhere → repeat), returning the
    * learned merge table (merge_rank, left_sym, right_sym,
    * pair_count) — the artifact a tokenizer ships.
    *
    * Distributed shape (the one that survives 100 TB): the corpus is
    * touched ONCE, compressed to the distinct-word vocabulary with
    * frequencies; every round after that runs on the vocabulary
    * symbol table (rows = Σ word lengths over DISTINCT words — orders
    * of magnitude smaller than the token stream, and SHRINKING as
    * merges consume symbols). Per round: one word-keyed window for
    * pair extraction, one aggregation, a 1-row driver collect of the
    * winning pair, and a word-keyed rewrite — no corpus-wide window,
    * no per-occurrence work after the first scan. Plans are cut per
    * round with `localCheckpoint` exactly like the CC rounds
    * (iterative lineage otherwise nests exponentially).
    *
    * Greedy leftmost non-overlapping application (the Sennrich
    * semantics for runs like "aaa" + merge (a,a) → "(aa)a") is
    * expressed RELATIONALLY, so the DuckDB oracle can replay it
    * bit-for-bit: candidate positions at consecutive offsets form a
    * run (run id = pos - row_number over candidates), and within a
    * run exactly the odd-ranked candidates are applied — for
    * left != right runs have length 1 and this is the identity; for
    * left == right it is precisely leftmost-first consumption.
    * Symbols are single characters at round 0 (no end-of-word marker
    * — merges never cross the whitespace tokenization, matching
    * [[bpePairStats]]'s convention). Tie-break for the winning pair:
    * (count DESC, left ASC, right ASC) — a total order, so every
    * round (and therefore the whole table) is deterministic.
    */
  def bpeTrain(
      docs: DataFrame, merges: Int, textCol: String = "text",
      batch: Int = 1): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeLearn(docs, merges, textCol, batch)._1
      .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
  }

  /** Greedy leftmost non-overlapping application of ONE merge to one
    * word's symbol array — Sennrich's reference semantics for
    * same-symbol runs ("aaa" + (a,a) -> "(aa)a"), and exactly what the
    * oracle's odd-rank-in-run selection computes relationally. Shared
    * by the distributed rewrite (symbol strings, once per distinct word
    * per accepted merge) and the local loop (interned symbol ids, once
    * per word that holds the merged pair) — linear in the word length.
    */
  private def applyMerge[@specialized(Int) T: scala.reflect.ClassTag](
      syms: Array[T], l: T, r: T, merged: T): Array[T] = {
    val out = new Array[T](syms.length)
    var n = 0
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out(n) = merged; i += 2
      } else { out(n) = syms(i); i += 1 }
      n += 1
    }
    out.take(n)
  }

  /** The shared BPE merge loop: returns BOTH artifacts of tokenizer
    * training — the learned merge table ([[bpeTrain]]'s output) and
    * the final vocabulary symbol table (word → its symbols after all
    * merges), which IS the encoder: applying the merge list to any
    * in-vocabulary word in rank order yields exactly its final symbol
    * array, so [[bpeEncode]] can tokenize the corpus by a vocabulary
    * join instead of re-running the merge loop per occurrence. The
    * vocabulary comes back as a thunk: on the bounded-local path the
    * Dataset is encoded from the driver's arrays only when a caller
    * that reads it ([[bpeArtifacts]], [[wordpiecePieces]]) asks, so
    * [[bpeTrain]], which keeps only the merge table, never pays for it.
    *
    * BATCHED ROUNDS (`batch` > 1): production tokenizers need ~30k
    * merges, and one Spark round per merge is three orders of
    * magnitude more driver-scheduled jobs than a cluster should spend
    * on a vocabulary-sized table. Each round therefore learns up to
    * `batch` merges, chosen so the output is PROVABLY IDENTICAL to
    * the sequential loop (batch == 1) — not the usual "parallel BPE"
    * approximation. The accepted set is the longest PREFIX of the
    * round's (count DESC, left, right) pair ranking such that each
    * accepted pair
    *
    *  1. shares no symbol with any earlier accepted pair — neither
    *     its left/right symbols nor its merged string may appear
    *     among an earlier pair's {left, right, merged}. Applying the
    *     earlier merges then provably neither destroys nor creates
    *     occurrences of this pair, so its recorded count is exactly
    *     its count at its own sequential step;
    *  2. has count STRICTLY greater than the round's new-pair
    *     ceiling: applying an earlier accepted merge (l,r) can mint
    *     new pair types (x, lr) / (lr, y), whose true counts are
    *     bounded by the weighted TRIGRAM counts (x,l,r) / (l,r,y) —
    *     measured exactly (one extra vocabulary scan against the
    *     broadcast candidate set, only when batch > 1), so a later
    *     accepted pair is guaranteed to outrank every pair the
    *     earlier merges could have created (sequential would have
    *     picked the same winner);
    *  3. follows no accepted pair whose merged string collides with
    *     an EXISTING symbol (then old pairs involving that symbol
    *     could gain count mid-batch, which the ceiling cannot see —
    *     the colliding merge is accepted but closes its batch; the
    *     driver-side symbol inventory is the initial alphabet plus
    *     merges so far, tokenizer-sized).
    *
    * A prefix (not a skip-ahead) because rejecting pair k and taking
    * pair k+1 is NOT sequential-safe: pair k's count may have only
    * decreased below k+1's at its own step. The first-ranked pair is
    * always accepted, so every round learns at least one merge and
    * the loop is bounded by `merges` rounds exactly as before; on
    * dependency-free stretches of the ranking a round learns `batch`
    * merges and the round count collapses by that factor. The rewrite
    * applies the accepted merges in rank order inside ONE row-local
    * pass per word ([[applyMerge]] each — the disjointness makes
    * per-word sequential identical to global sequential), and one
    * `localCheckpoint` cuts the round's lineage.
    */

  /** a < b in UTF-8 byte order — Spark's string ordering. */
  private[text] def utf8Lt(a: String, b: String): Boolean = utf8Order.compare(a, b) < 0

  /** The driver-local sequential merge loop (batch == 1 reference
    * semantics) over a collected vocabulary — the bounded-local
    * path of [[bpeLearn]]. The batched path is provably identical to
    * the sequential one (see the guarded-prefix scaladoc), so outputs
    * are bit-identical either way — pinned by a forced-bound A/B spec.
    * Symbol comparisons use UTF-8 byte order, mirroring Spark's
    * UTF8String ordering exactly (Java String order differs on
    * supplementary code points).
    *
    * INCREMENTAL pair counting (the training algorithm of Sennrich et
    * al.'s reference implementation): symbols are interned to ints
    * once (a merged string that equals an existing symbol interns to
    * that symbol), and the loop keeps two structures — the weighted
    * count of every adjacent pair, keyed by the packed (left, right)
    * ids, and an index from each pair to the words that hold it. A
    * round picks the winner with one scan of the counts, rewrites only
    * the words listed under it ([[applyMerge]] on the id arrays), and
    * moves each rewritten word's weight from its old pairs to its new
    * ones. Per-round cost: O(words touched by the merge) plus
    * O(distinct pairs) — no vocabulary rescan, no vocabulary copy.
    * The index only grows (a word is listed again each time a rewrite
    * re-adds its pairs): a word listed twice, or under a pair an
    * earlier rewrite removed from it, is left unchanged by the merge
    * and skipped.
    */
  private[text] def bpeLearnLocal(
      vocab: Array[(String, Array[String], Long)], merges: Int)
    : (Seq[(Long, String, String, Long)], Array[(String, Array[String], Long)]) = {
    import scala.collection.mutable
    val symOf = mutable.ArrayBuffer.empty[String]
    val utf8Of = mutable.ArrayBuffer.empty[Array[Byte]]
    val idOf = mutable.HashMap.empty[String, Int]
    def intern(s: String): Int = idOf.getOrElseUpdate(s, {
      symOf += s
      utf8Of += s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      symOf.size - 1
    })
    val syms = vocab.map(_._2.map(intern))
    def pair(l: Int, r: Int): Long = (l.toLong << 32) | r
    val pairCount = mutable.LongMap.empty[Long]
    val wordsOf = mutable.LongMap.empty[mutable.ArrayBuilder.ofInt]
    // add (sign = 1) or remove (sign = -1) word w's weighted pairs
    def tally(w: Int, sign: Long): Unit = {
      val s = syms(w)
      val c = sign * vocab(w)._3
      var i = 0
      while (i < s.length - 1) {
        val k = pair(s(i), s(i + 1))
        val n = pairCount.getOrElse(k, 0L) + c
        if (n == 0L) pairCount -= k else pairCount(k) = n
        if (sign > 0) wordsOf.getOrElseUpdate(k, new mutable.ArrayBuilder.ofInt) += w
        i += 1
      }
    }
    syms.indices.foreach(tally(_, 1L))
    // (left ASC, right ASC) in UTF-8 order
    def pairLt(a: Long, b: Long): Boolean = {
      val d = java.util.Arrays.compareUnsigned(utf8Of((a >>> 32).toInt), utf8Of((b >>> 32).toInt))
      d < 0 || (d == 0 && java.util.Arrays.compareUnsigned(utf8Of(a.toInt), utf8Of(b.toInt)) < 0)
    }
    val learned = mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    while (learned.size < merges && pairCount.nonEmpty) {
      // winner by (count DESC, left ASC, right ASC) in UTF-8 order —
      // the identical total order the distributed orderBy evaluates
      var best = 0L
      var bestN = 0L
      pairCount.foreachEntry { (k, n) =>
        if (n > bestN || (n == bestN && pairLt(k, best))) { best = k; bestN = n }
      }
      val l = (best >>> 32).toInt
      val r = best.toInt
      learned += ((learned.size + 1L, symOf(l), symOf(r), bestN))
      val m = intern(symOf(l) + symOf(r))
      // greedy application leaves no (l, r) behind, so the winner's
      // count drains to zero and its word list is spent
      for (w <- wordsOf.remove(best).get.result()) {
        val next = applyMerge(syms(w), l, r, m)
        if (next.length < syms(w).length) {
          tally(w, -1L)
          syms(w) = next
          tally(w, 1L)
        }
      }
    }
    (learned.toSeq, vocab.indices.map(w => (vocab(w)._1, syms(w).map(symOf), vocab(w)._3)).toArray)
  }

  private[text] def bpeLearn(
      docs: DataFrame, merges: Int, textCol: String = "text",
      batch: Int = 1)
    : (Seq[(Long, String, String, Long)],
       () => org.apache.spark.sql.Dataset[(String, Array[String], Long)]) = {
    require(merges >= 1 && merges <= 65536,
      s"merges must be in [1,65536], got $merges")
    require(batch >= 1 && batch <= 4096, s"batch must be in [1,4096], got $batch")
    val spark = docs.sparkSession
    import spark.implicits._
    // one corpus scan, compressed to the (word, freq) vocabulary; each
    // word then travels as ONE row holding its symbol array, so a
    // round is one pair-count aggregation (the only shuffle) + a
    // bounded collect + an embarrassingly-parallel row-local rewrite.
    // (An equivalent per-symbol-row window formulation — the one the
    // DuckDB oracle replays — measured ~3x slower: four shuffles per
    // round against vocabulary-sized data buys nothing.)
    var words = graft.model.Lineage.cutDs(docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .as[(String, Long)]
      .map { case (w, c) =>
        // split into code points (not UTF-16 units) — the same
        // character semantics as substring() in both engines
        val syms = w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
        (w, syms, c)
      }, reliable = false)
    // bounded-local gate: the vocabulary cut counted its rows; under
    // the bound the whole merge loop runs on the driver (sequential
    // reference semantics) and the per-round Spark jobs disappear
    graft.model.BoundedLocal.collectIfFits(words) match {
      case Some(collected) =>
        graft.model.Lineage.release(words) // dead: the loop is local now
        val (learnedL, finalWords) = bpeLearnLocal(collected, merges)
        return (learnedL, () => spark.createDataset(finalWords.toSeq))
      case None =>
    }
    // driver-side symbol inventory for guard 3 — initial alphabet
    // (bounded by distinct code points) + merged strings as learned
    val inventory = scala.collection.mutable.Set.empty[String]
    if (batch > 1)
      inventory ++= words.flatMap(_._2).distinct().collect()
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    while (learned.size < merges && !exhausted) {
      val want = math.min(batch, merges - learned.size)
      val cands = words.flatMap { case (_, syms, c) =>
          (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1), c))
        }.toDF("l", "r", "wc")
        .groupBy(col("l"), col("r")).agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(want).collect() // <= batch rows: the round's ranked candidates
        .map(t => (t.getString(0), t.getString(1), t.getLong(2)))
      if (cands.isEmpty) exhausted = true
      else {
        // exact per-candidate new-pair ceilings: max weighted trigram
        // count adjacent to each candidate (x,l,r maxed over x and
        // l,r,y maxed over y) — one vocabulary scan, <= 2*batch rows out
        val newPairMax: Map[(String, String), Long] =
          if (cands.length <= 1) Map.empty
          else {
            val candSet = cands.map(t => (t._1, t._2)).toSet
            val bcC = spark.sparkContext.broadcast(candSet)
            words.flatMap { case (_, syms, c) =>
                val cs = bcC.value
                (0 until syms.length - 2).iterator.flatMap { i =>
                  val before =
                    if (cs((syms(i + 1), syms(i + 2))))
                      Iterator.single((syms(i + 1), syms(i + 2), syms(i), c))
                    else Iterator.empty
                  val after =
                    if (cs((syms(i), syms(i + 1))))
                      Iterator.single((syms(i), syms(i + 1), syms(i + 2), c))
                    else Iterator.empty
                  before ++ after
                }
              }.toDF("l", "r", "adj", "wc")
              .groupBy(col("l"), col("r"), col("adj")).agg(sum(col("wc")).as("cnt"))
              .groupBy(col("l"), col("r")).agg(max(col("cnt")).as("mx"))
              .collect()
              .map(t => ((t.getString(0), t.getString(1)), t.getLong(2)))
              .toMap
          }
        // guarded-prefix acceptance (see scaladoc): every accepted
        // pair is exactly what sequential training would pick next
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val used = scala.collection.mutable.Set.empty[String]
        var ceiling = 0L
        var open = true
        for (cand @ (l, r, cnt) <- cands if open) {
          val merged = l + r
          val ok = accepted.isEmpty ||
            (!used(l) && !used(r) && !used(merged) && cnt > ceiling)
          if (ok) {
            accepted += cand
            used += l; used += r; used += merged
            ceiling = math.max(ceiling, newPairMax.getOrElse((l, r), 0L))
            // guard 3: a merged string colliding with an existing
            // symbol closes the batch (old pairs involving it may gain)
            if (inventory(merged)) open = false
            inventory += merged
          } else open = false
        }
        for ((l, r, cnt) <- accepted)
          learned += ((learned.size + 1L, l, r, cnt))
        val bcM = spark.sparkContext.broadcast(
          accepted.map { case (l, r, _) => (l, r, l + r) }.toArray)
        val prevWords = words
        words = words.map { case (w, syms, c) =>
          var s = syms
          for ((l, r, m) <- bcM.value) s = applyMerge(s, l, r, m)
          (w, s, c)
        }.localCheckpoint() // cut per-round lineage, like the CC rounds
        // the new eager checkpoint was the last reader of the previous
        // round's word blocks — free them now (the CC-round release
        // pattern); the FINAL generation is the returned artifact
        graft.model.Lineage.release(prevWords)
      }
    }
    val finalWords = words
    (learned.toSeq, () => finalWords)
  }

  /** BPE CORPUS ENCODING — tokenize the corpus under a tokenizer
    * trained on it ([[bpeTrain]], Sennrich et al. 2016) and report the
    * per-document token budget: word count, BPE token count, and
    * fertility (BPE tokens per word) — the numbers a training-data
    * pipeline needs to size epochs and packing under the REAL
    * tokenizer rather than a whitespace proxy.
    *
    * Shape at 100 TB: the merge loop runs on the vocabulary (see
    * [[bpeLearn]]); encoding is then ONE corpus word-stream scan
    * joined against the broadcast word → token-count vocabulary (the
    * vocabulary is distinct-words-sized — always the small side) and
    * one per-document aggregation. No per-occurrence merge work: a
    * word's encoding under BPE depends only on the word, so it is
    * computed once per DISTINCT word by construction.
    *
    * Returns (doc_id, n_words, n_bpe_tokens, bpe_fertility), one row
    * per document with at least one token.
    */
  def bpeEncode(
      docs: DataFrame, merges: Int,
      idCol: String = "doc_id", textCol: String = "text",
      batch: Int = 1): DataFrame =
    bpeEncodeFromVocab(docs, bpeVocabTable(docs, merges, textCol, batch),
      idCol, textCol)

  /** [[bpeEncode]] against an ALREADY-TRAINED vocabulary table
    * ([[bpeVocabTable]]'s / [[graft.io.TokenizerIO.readVocab]]'s
    * (w, syms, wc) schema) — training is the expensive part and a
    * pipeline that needs both the merge table and one or more
    * encodings must run it ONCE ([[bpeArtifacts]]) and derive every
    * consumer from the artifacts.
    */
  def bpeEncodeFromVocab(
      docs: DataFrame, vocabTable: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val vocab = vocabTable
      .select(col("w"), size(col("syms")).cast("long").as("nt"))
    docs.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("w"))
      .join(broadcast(vocab), "w")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"), sum(col("nt")).as("n_bpe_tokens"))
      .select(col("id").as(idCol), col("n_words"), col("n_bpe_tokens"),
        round(col("n_bpe_tokens") * lit(1.0) / col("n_words"), 6)
          .as("bpe_fertility"))
  }

  /** The greedy longest-match-first walk over ONE word's code points:
    * returns (piece_count, unk) where unk = 1 iff no piece matched at
    * some position (classic WordPiece then emits ONE [UNK] for the
    * whole word, so piece_count is 1 too). Row-local and shared by
    * the batch encoder ([[wordpieceEncode]], once per distinct word)
    * and the streaming twin
    * ([[graft.streaming.StreamOps.streamingWordpieceEncode]], per
    * occurrence — stateless, so it needs no vocabulary join).
    */
  private[graft] def greedyPieceCount(
      w: String, vocab: Set[String], maxCp: Int): (Long, Long) = {
    val cps = w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    var i = 0
    var nt = 0L
    while (i < cps.length) {
      // longest-match-first: try the longest piece that fits, back
      // off one code point at a time
      var j = math.min(maxCp, cps.length - i)
      var matched = 0
      while (j >= 1 && matched == 0) {
        if (vocab.contains(cps.slice(i, i + j).mkString)) matched = j
        j -= 1
      }
      if (matched == 0) return (1L, 1L)
      nt += 1
      i += matched
    }
    (nt, 0L)
  }

  /** The trained VOCABULARY TABLE — (w, syms, wc): every distinct
    * corpus word, its symbol array after all merges (= its exact BPE
    * encoding), and its corpus frequency. With the merge table
    * ([[bpeTrain]]) this is the complete tokenizer artifact;
    * [[graft.io.TokenizerIO]] persists both.
    */
  def bpeVocabTable(
      docs: DataFrame, merges: Int = 10, textCol: String = "text",
      batch: Int = 1): DataFrame =
    bpeArtifacts(docs, merges, textCol, batch)._2

  /** BOTH tokenizer-training artifacts from ONE merge loop — the
    * merge table ([[bpeTrain]]'s schema) and the vocabulary table
    * ([[bpeVocabTable]]'s schema). [[graft.io.TokenizerIO]] persists
    * both; calling the two single-artifact methods separately would
    * run the iterative training twice for identical output.
    */
  def bpeArtifacts(
      docs: DataFrame, merges: Int = 10,
      textCol: String = "text", batch: Int = 1): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (learned, words) = bpeLearn(docs, merges, textCol, batch)
    (learned.toDF("merge_rank", "left_sym", "right_sym", "pair_count"),
      words().toDF("w", "syms", "wc"))
  }

  /** The trained PIECE INVENTORY — the distinct symbols of the final
    * BPE vocabulary table, sorted: the artifact a greedy (WordPiece)
    * tokenizer ships and the static side of the streaming twin
    * ([[graft.streaming.StreamOps.streamingWordpieceEncode]]).
    * Bounded by (distinct characters + `merges`) — tokenizer-sized,
    * never corpus-sized.
    */
  def wordpiecePieces(
      docs: DataFrame, merges: Int = 10, textCol: String = "text",
      batch: Int = 1): Array[String] = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeLearn(docs, merges, textCol, batch)._2()
      .flatMap(_._2).distinct().collect().sorted
  }

  /** WORDPIECE-STYLE GREEDY ENCODING — tokenize the corpus by greedy
    * longest-match-first against the BPE-trained piece inventory
    * (Schuster & Nakajima, ICASSP 2012; the inference rule BERT ships,
    * Devlin et al. 2019; linear-time variant analyzed in Song et al.
    * 2021, "Fast WordPiece Tokenization"). Greedy inference and
    * merge-order inference ([[bpeEncode]]) usually agree but are NOT
    * the same function: greedy can overshoot with a long piece
    * harvested from another word and then fail mid-word — classic
    * WordPiece maps such words to ONE [UNK] token, and this report
    * counts them, which is exactly the signal for choosing between
    * the two inference rules for a deployment.
    *
    * The piece inventory is the distinct symbols of the final BPE
    * vocabulary table — bounded by (distinct characters + `merges`),
    * a tokenizer-sized artifact, so it travels as a broadcast value
    * (the k-centroids pattern, not a data-sized collect). The greedy
    * walk runs once per DISTINCT word (row-local, over code points —
    * the same character semantics as [[bpeLearn]] and both engines'
    * `substring`); the corpus is then ONE word-stream scan joined
    * against the broadcast word → count table, identical in shape to
    * [[bpeEncode]].
    *
    * Returns (doc_id, n_words, n_wp_tokens, n_unk_words,
    * wp_fertility), one row per document with at least one token;
    * an [UNK] word contributes 1 to both n_wp_tokens and n_unk_words.
    */
  def wordpieceEncode(
      docs: DataFrame, merges: Int = 10,
      idCol: String = "doc_id", textCol: String = "text",
      batch: Int = 1): DataFrame =
    wordpieceEncodeFromVocab(docs, bpeVocabTable(docs, merges, textCol, batch),
      idCol, textCol)

  /** [[wordpieceEncode]] against an ALREADY-TRAINED vocabulary table —
    * the greedy-inference sibling of [[bpeEncodeFromVocab]], sharing
    * one [[bpeArtifacts]] training pass. The piece inventory and the
    * per-distinct-word greedy walk both come from the vocabulary
    * table's words, so a word absent from it simply isn't in the
    * corpus being encoded (the corpus-on-itself contract; for encoding
    * a NEW corpus under a stored tokenizer use
    * [[graft.io.TokenizerIO.encodeStored]], which adds the OOV path).
    */
  def wordpieceEncodeFromVocab(
      docs: DataFrame, vocabTable: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = vocabTable.select(col("w")).as[String]
    // distinct surviving symbols: |chars| + <= merges strings — small
    // by construction (NOT corpus-sized), hence safe to collect
    val pieces = vocabTable.select(explode(col("syms")).as("s"))
      .distinct().as[String].collect()
    // loud gate instead of .max throwing bare on an empty array: an
    // empty inventory means the corpus had no tokens at all
    require(pieces.nonEmpty, "empty piece inventory: corpus has no tokens")
    val maxCp = pieces.map(p => p.codePointCount(0, p.length)).max
    val bcVocab = spark.sparkContext.broadcast((pieces.toSet, maxCp))
    val wc = words.map { w =>
      val (vocab, mx) = bcVocab.value
      val (nt, unk) = greedyPieceCount(w, vocab, mx)
      (w, nt, unk)
    }.toDF("w", "nt", "unk")
    docs.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("w"))
      .join(broadcast(wc), "w")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"), sum(col("nt")).as("n_wp_tokens"),
        sum(col("unk")).as("n_unk_words"))
      .select(col("id").as(idCol), col("n_words"), col("n_wp_tokens"),
        col("n_unk_words"),
        round(col("n_wp_tokens") * lit(1.0) / col("n_words"), 6)
          .as("wp_fertility"))
  }
}
