package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Memo
import graft.text.{CorpusOps, OrderOps, TextOps, UnigramOps}
import graft.vector.VectorOps
import graft.multimodal.Multimodal

/** Training-data-pipeline operators over the `documents` / `embeddings`
  * / `events` / `lineitem` tables, with DuckDB oracles wherever the
  * math is SQL-expressible (md5-based hashing is portable across both
  * engines; LSH/minhash recall-dependent outputs are rows-only checks
  * backed by ScalaTest invariants).
  */
object LlmQueries {

  // pairwise ops run on a bounded deterministic subset so their cost is
  // O(subset^2), independent of scale factor
  val PairLimit = 500

  // SCALE-INVARIANT probe predicates for the bucketed families (LSH
  // band sweep, kNN graph): a salted-hash selection keeps the eligible
  // FRACTION constant as the corpus grows — an id-threshold cap selects
  // a shrinking fraction at larger SF, so the 10x harness measured the
  // cap thinning, not the operator (SCALE.md r10). md5 of the decimal
  // id string is bit-identical in Spark and DuckDB, so the oracles
  // replay the same predicate. Pairwise-QUADRATIC consumers (exact
  // joins, brute-force recall ground truth) deliberately KEEP the
  // bounded id cap: their cost must stay O(subset^2) at any SF.
  val DocProbeSql = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '1'" // 2/16 = 12.5%
  val VecProbeSql = "substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) <= '3'" // 4/16 = 25%

  private def docProbe(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).filter(substring(md5(col("doc_id").cast("string")), 1, 1) <= "1")

  private def vecProbe(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      .filter(substring(md5(col("vec_id").cast("string")), 1, 1) <= "3")

  /** The shared kNN-graph base: LSH ANN top-5 over the hash-fraction
    * probe (one definition for q_embed_ann_lsh and the graph
    * analytics, mirrored by the one `sqlAnnTopCte` on the oracle side).
    *
    * MEMOIZED as a lineage cut (the duelMemo/lsh_sigs billing
    * contract): `q_embed_ann_lsh` builds the edge table fresh — its
    * timing measures the LSH index + top-k — and refreshes the memo;
    * the eleven graph-analytics rows read the materialized cut and
    * time ONLY their own iteration/aggregation. At corpus scale the
    * ANN graph is built once and every analytics pass reads it —
    * rebuilding the banded join per metric is the anti-pattern.
    */
  private val annMemo = new Memo[String, DataFrame]

  private def annTopK(s: SparkSession, dir: String): DataFrame =
    graft.model.Lineage.cut(
      graft.vector.VectorOps.annTopK(vecProbe(s, dir),
        numPlanes = 8, dims = 64, k = 5), reliable = false)

  private def annGraph(s: SparkSession, dir: String): DataFrame =
    annMemo(dir)(annTopK(s, dir))

  // per-language keep rates for the stratified-sampling (data-mixing)
  // query; "fr" deliberately absent to exercise the default rate
  val MixRates: Map[String, Double] =
    Map("en" -> 1.0, "de" -> 0.5, "es" -> 0.25, "zh" -> 0.75)

  // fixed probe vocabulary for the BM25 retrieval query — terms known
  // to appear in the synthetic corpus with varied document frequency
  val Bm25Query: Seq[String] = Seq("spark", "filter", "join", "window", "merge")

  // target mixture for the epoch-scheduling query: varied weights over
  // src0..src15; src16..src19 deliberately ABSENT to exercise the
  // dropped-source (ratio 0) path. All weights are dyadic rationals so
  // the Scala map-order sum is exact and equals the SQL literal.
  val EpochWeights: Map[String, Double] =
    Map("src0" -> 3.0, "src1" -> 2.0, "src2" -> 2.0, "src3" -> 1.5,
      "src4" -> 1.0, "src5" -> 1.0, "src6" -> 1.0, "src7" -> 1.0,
      "src8" -> 1.0, "src9" -> 1.0, "src10" -> 0.5, "src11" -> 0.5,
      "src12" -> 0.5, "src13" -> 0.5, "src14" -> 0.5, "src15" -> 0.25)

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Simulated next corpus release, shared by the snapshot-diff and
    * drift queries (and replayed verbatim in their oracles): every 5th
    * doc removed, every 7th survivor's text reversed, %11==3 re-added
    * under new ids.
    */
  private def nextRelease(a: DataFrame): DataFrame =
    a.filter(col("doc_id") % 5 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, reverse(col("text"))).otherwise(col("text")))
      .unionByName(a.filter(col("doc_id") % 11 === 3)
        .withColumn("doc_id", col("doc_id") + 1000000L))
  /** Schema-adaptive embeddings read (same contract as
    * EventOps.toMicros for event ticks): the vector ops and their
    * encoders want `array<float>`; a driver regeneration that ships
    * `array<double>` (or any numeric element) is folded back to float
    * here, and anything non-numeric fails loudly instead of surfacing
    * as encoder errors deep inside a query.
    */
  private def embeddings(s: SparkSession, dir: String): DataFrame = {
    val df = s.read.parquet(s"$dir/embeddings.parquet")
    df.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) => df
      case org.apache.spark.sql.types.ArrayType(
          _: org.apache.spark.sql.types.NumericType, _) =>
        df.withColumn("embedding", col("embedding").cast("array<float>"))
      case other => throw new IllegalArgumentException(
        s"embeddings.embedding: expected an array of a numeric type, got $other")
    }
  }

  // Multimodal FIXTURES (synthetic PNGs / video payloads) are staged
  // into a persisted per-sfDir table OUTSIDE any timed region — the
  // same treatment as Queries.rectifyInputCache — so the decode/resize/
  // frames queries time the operator, not ImageIO *encode* of the
  // fixtures. Payloads are ~KB binaries; a few MB per sfDir.
  // bucketed warehouse tables are written once per dir (layout is a
  // one-time investment; the query times the exchange-free join)
  private val bucketMemo = new Memo[String, Unit]

  // one-time stored-tokenizer write for the OOV drift report
  private val tokOovMemo = new Memo[String, Unit]

  private def tokOovPath(dir: String): String =
    "/tmp/graft-tokoov-" + java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff)

  /** Train the stored OOV-report tokenizer on the even half and write it. */
  private def writeTokOov(s: SparkSession, dir: String): Unit =
    graft.io.TokenizerIO.writeTokenizer(
      docs(s, dir).filter(col("doc_id") % 2 === 0), merges = 10, tokOovPath(dir))

  private val mediaCache = new Memo[(String, String), DataFrame]

  /** One media fixture per (dir, name), persisted and eagerly
    * materialized on first use.
    */
  private def staged(dir: String, name: String)(fixture: => DataFrame): DataFrame =
    mediaCache((dir, name)) { val df = fixture.persist(); df.count(); df }

  // Shared token-table DEFINITION for the jaccard-family queries
  // (threshold join, clustering, keepers). Deliberately NOT persisted:
  // caching the exploded table behind an InMemoryRelation hides the
  // parquet statistics, which flips the frequency/size joins from
  // broadcast to sort-merge and made the whole family ~4x slower
  // (measured); recomputing the narrow explode from parquet is cheap.
  private def tokTable(s: SparkSession, dir: String): DataFrame =
    TextOps.tokenTable(docs(s, dir).filter(col("doc_id") < PairLimit))

  /** One synthesized PNG per image doc (doc_id % 3 == 0), persisted and
    * eagerly materialized.
    */
  private def stagedImages(s: SparkSession, dir: String): DataFrame =
    staged(dir, "png") {
      import s.implicits._
      docs(s, dir).filter(col("doc_id") % 3 === 0)
        .select(col("doc_id")).as[Long]
        .map(id => (id, "image", Multimodal.syntheticPng(id)))
        .toDF("doc_id", "media_type", "payload")
    }

  /** One synthesized multi-frame animated GIF per doc_id % 3 == 1 doc,
    * persisted and eagerly materialized.
    */
  private def stagedGifs(s: SparkSession, dir: String): DataFrame =
    staged(dir, "gif") {
      import s.implicits._
      docs(s, dir).filter(col("doc_id") % 3 === 1)
        .select(col("doc_id")).as[Long]
        .map(id => (id, "image", Multimodal.syntheticGif(id)))
        .toDF("doc_id", "media_type", "payload")
    }

  /** One synthesized RIFF/WAVE (16-bit PCM) payload per audio doc
    * (doc_id % 3 == 1), persisted and eagerly materialized.
    */
  private def stagedWavs(s: SparkSession, dir: String): DataFrame =
    staged(dir, "wav") {
      import s.implicits._
      docs(s, dir).filter(col("doc_id") % 3 === 1)
        .select(col("doc_id")).as[Long]
        .map(id => (id, "audio", Multimodal.syntheticWav(id)))
        .toDF("doc_id", "media_type", "payload")
    }

  /** Twin doc_ids live 2^40 above their base so the pool can never
    * collide with a real document id.
    */
  private val WavTwinOffset = 1L << 40

  /** The audio dedup-evaluation pool: every staged WAV plus, for each
    * base with doc_id % 5 == 0, a PLANTED NEAR-DUPLICATE twin —
    * [[Multimodal.perturbWav]]'s decode→attenuate-1-ulp→re-encode
    * pass, keyed at base + 2^40. Planting known twins is the standard
    * recall fixture for dedup evaluation (the phash faces get theirs
    * from near-identical synthetic PNGs); the oracle replays both the
    * base sample formula and the every-97th-sample attenuation
    * analytically. Persisted and eagerly materialized like the other
    * media fixtures.
    */
  private def stagedWavPool(s: SparkSession, dir: String): DataFrame =
    staged(dir, "wavpool") {
      import s.implicits._
      val base = stagedWavs(s, dir)
      val twins = base.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
        .map { case (id, p) => (id + WavTwinOffset, "audio", Multimodal.perturbWav(p)) }
        .toDF("doc_id", "media_type", "payload")
      base.unionByName(twins)
    }

  /** One synthesized MJPEG-in-AVI payload per video doc
    * (doc_id % 3 == 2), persisted and eagerly materialized.
    */
  private def stagedAvis(s: SparkSession, dir: String): DataFrame =
    staged(dir, "avi") {
      import s.implicits._
      docs(s, dir).filter(col("doc_id") % 3 === 2)
        .select(col("doc_id")).as[Long]
        .map(id => (id, "video", Multimodal.syntheticAvi(id)))
        .toDF("doc_id", "media_type", "payload")
    }

  /** One LOSSLESS PNG keyframe per (video doc, frame): the GIF grid's
    * frame sequence re-encoded frame-per-row — the keyframe-table
    * shape a video pipeline extracts before scene analysis.
    */
  private def stagedFrameSeqs(s: SparkSession, dir: String): DataFrame =
    staged(dir, "frames") {
      import s.implicits._
      docs(s, dir).filter(col("doc_id") % 3 === 2)
        .select(col("doc_id")).as[Long]
        .flatMap { id =>
          val nf = 2 + (id % 5).toInt
          (0 until nf).map(f => (id, f.toLong, Multimodal.syntheticPngFrame(id, f)))
        }
        .toDF("doc_id", "frame_idx", "payload")
    }

  /** The VIDEO dedup-evaluation pool: every staged frame sequence
    * plus, for each base video with doc_id % 5 == 0, a PLANTED
    * NEAR-DUPLICATE twin at base + 2^40 — every frame re-encoded
    * through [[Multimodal.perturbPngFrame]]'s decode→nudge-blue-LSB→
    * re-encode pass (the video analog of the audio pool's 1-ulp
    * attenuation; PNG is lossless so the oracle replays the
    * perturbation analytically). Persisted and eagerly materialized.
    */
  private def stagedVideoPool(s: SparkSession, dir: String): DataFrame =
    staged(dir, "videopool") {
      import s.implicits._
      val base = stagedFrameSeqs(s, dir)
      val twins = base.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("frame_idx"), col("payload"))
        .as[(Long, Long, Array[Byte])]
        .map { case (id, f, p) =>
          (id + WavTwinOffset, f, Multimodal.perturbPngFrame(p)) }
        .toDF("doc_id", "frame_idx", "payload")
      base.unionByName(twins)
    }

  /** Shifted twin doc_ids live 2^41 above their base (the aligned
    * pool's twins sit at 2^40 — the two fixtures can never collide).
    */
  private val VideoShiftOffset = 1L << 41

  /** The SHIFT-TOLERANCE video fixture: every staged frame sequence
    * plus, for each base with doc_id % 5 == 1, a TRIMMED-HEAD twin at
    * base + 2^41 whose frame j is the source's frame j+1 (the classic
    * head-cut re-upload — byte-identical frames at a shifted
    * timeline). Aligned frame matching misses these by construction;
    * the shingle face must catch every one.
    */
  private def stagedVideoShiftPool(s: SparkSession, dir: String): DataFrame =
    staged(dir, "videoshift") {
      import s.implicits._
      val base = stagedFrameSeqs(s, dir)
      val twins = docs(s, dir)
        .filter(col("doc_id") % 3 === 2 && col("doc_id") % 5 === 1)
        .select(col("doc_id")).as[Long]
        .flatMap { id =>
          val nf = 2 + (id % 5).toInt
          (0 until nf - 1).map(f =>
            (id + VideoShiftOffset, f.toLong, Multimodal.syntheticPngFrame(id, f + 1)))
        }.toDF("doc_id", "frame_idx", "payload")
      base.unionByName(twins)
    }

  /** Trimmed-audio twin doc_ids live 2^42 above their base (aligned
    * audio twins sit at 2^40, shifted video twins at 2^41).
    */
  private val WavTrimOffset = 1L << 42

  /** The SHIFT-TOLERANCE audio fixture: every staged WAV plus, for
    * each base with doc_id % 5 == 2, a TRIMMED-HEAD twin at
    * base + 2^42 — [[Multimodal.trimWav]]'s real byte-level
    * drop-64-samples + RIFF-size-patch pass, so the twin's 64-sample
    * windows are the source's shifted by exactly one window. The
    * whole-clip fingerprint misses these by construction; the energy
    * shingle face must catch every one.
    */
  private def stagedWavTrimPool(s: SparkSession, dir: String): DataFrame =
    staged(dir, "wavtrim") {
      import s.implicits._
      val base = stagedWavs(s, dir)
      val twins = base.filter(col("doc_id") % 5 === 2)
        .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
        .map { case (id, p) => (id + WavTrimOffset, "audio", Multimodal.trimWav(p, 64)) }
        .toDF("doc_id", "media_type", "payload")
      base.unionByName(twins)
    }

  /** Eagerly stage the per-dir media fixtures (synthetic PNG / GIF /
    * WAV / AVI payloads) outside any timed region.
    */
  def prewarm(s: SparkSession, dir: String): Unit = {
    stagedImages(s, dir)
    stagedGifs(s, dir)
    stagedWavs(s, dir)
    stagedWavPool(s, dir)
    stagedAvis(s, dir)
    stagedFrameSeqs(s, dir)
    stagedVideoPool(s, dir)
    stagedVideoShiftPool(s, dir)
    stagedWavTrimPool(s, dir)
    ()
  }

  // The clustering result is shared between q_dedup_clusters (which
  // computes it fresh and REBUILDS the memo — its timings measure the
  // iterative operator) and q_dedup_keep (a filter over the memoized
  // result — the keeper endpoint is exactly that filter). One
  // clustering per bench run instead of two; the replaced generation
  // is retired (see [[Memo]]).
  private val clusterMemo = new Memo[String, DataFrame]

  private def dedupClusters(s: SparkSession, dir: String): DataFrame =
    TextOps.dedupClusters(docs(s, dir).filter(col("doc_id") < PairLimit),
      pairMemo(dir)(ccPairs(s, dir)))

  private def clusters(s: SparkSession, dir: String): DataFrame =
    clusterMemo(dir)(dedupClusters(s, dir))

  // One tokenizer TRAINING per bench run, shared by the three
  // tokenizer queries (same contract as clusterMemo): q_bpe_train runs
  // the merge loop fresh — its timing measures training — and
  // rebuilds the memo; q_bpe_encode / q_wordpiece_encode derive from
  // the memoized artifacts. Identical input -> identical artifacts, so
  // their hashes are unchanged, but at a real corpus each redundant
  // train is a full corpus scan plus O(merges/batch) vocabulary jobs.
  private val tokMemo = new Memo[String, (DataFrame, DataFrame)]

  private def tokArtifacts(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    TextOps.bpeArtifacts(docs(s, dir), merges = 10, batch = 8)

  // One unigram-LM TRAINING per bench run, shared by the three unigram
  // queries (the tokMemo contract): q_unigram_train runs the hard-EM
  // loop fresh and rebuilds the memo; segment/encode derive from the
  // memoized (vocab, words) artifacts.
  private val ugMemo = new Memo[String, (DataFrame, DataFrame)]

  private def ugArtifacts(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    UnigramOps.unigramArtifacts(docs(s, dir),
      maxPieceLen = 4, seedMulti = 32, iters = 2)

  // One Gram pass per bench run, shared by q_embed_covariance (which
  // runs it fresh — its timing measures the pass) and q_embed_pca
  // (which derives the spectrum from the memoized moments)
  private val momentsMemo = new Memo[String, graft.vector.EmbedStats.Moments]

  private def moments(s: SparkSession, dir: String): graft.vector.EmbedStats.Moments =
    graft.vector.EmbedStats.moments(embeddings(s, dir))

  // staged (token table, signature table) for the LSH banding pair —
  // built fresh (and re-staged) by q_dedup_lsh_sigs' timed region,
  // read by q_dedup_lsh_sweep so the sweep row times only the sweep
  private val lshMemo = new Memo[String, (DataFrame, DataFrame)]

  private def lshStaged(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = docProbe(s, dir)
    val tok = TextOps.tokenTable(docs).localCheckpoint()
    (tok, TextOps.minhashSignatures(docs, 64).localCheckpoint())
  }

  // staged Jaccard pair table for the clustering family — built fresh
  // (and cut) by q_dedup_cc_pairs' timed region, read by
  // q_dedup_clusters so the CC-iteration row starts from a cut pair
  // table: pair-build drift and iteration drift are separately
  // attributable on the round trend (the q_dedup_lsh_sigs split)
  private val pairMemo = new Memo[String, DataFrame]

  private def ccPairs(s: SparkSession, dir: String): DataFrame =
    graft.model.Lineage.cut(
      TextOps.jaccardPairsFromTokens(tokTable(s, dir), 0.95), reliable = false)

  // staged duel cut for the preference pair — built fresh (and cut) by
  // q_pref_bradley_terry's timed region, read by q_pref_upsets (the
  // pairMemo contract: the build row is alphabetically earlier, so
  // bench order stages it fresh)
  private val duelMemo = new Memo[String, DataFrame]

  private def duels(s: SparkSession, dir: String): DataFrame =
    graft.text.PrefOps.duelCut(docs(s, dir))

  // staged audio-fingerprint pair cut — built fresh (and cut) by
  // q_multimodal_audio_cc_pairs' timed region, read by
  // q_multimodal_audio_dup_clusters (the pairMemo contract: the build
  // row is alphabetically earlier, so bench order stages it fresh)
  private val audioPairMemo = new Memo[String, DataFrame]

  private def audioPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = Multimodal.audioFingerprints(
      stagedWavPool(s, dir).as[Multimodal.MediaRow])
    graft.model.Lineage.cut(
      TextOps.hammingPairs(sigs.toDF("id", "sig"), sigBits = 64, maxHamming = 2)
        .toDF("id_a", "id_b", "hamming"), reliable = false)
  }

  // staged video-pair cut — built fresh (and cut) by
  // q_multimodal_video_cc_pairs' timed region, read by
  // q_multimodal_video_dup_clusters (the audioPairMemo contract)
  private val videoPairMemo = new Memo[String, DataFrame]

  private def videoPairs(s: SparkSession, dir: String): DataFrame = {
    // the sig table is read three times inside videoNearDupPairs
    // (class expansion x2, per-video frame counts) — cut it once so
    // the per-frame decode doesn't re-run per read
    val sigs = graft.model.Lineage.cutRetired(
      Multimodal.frameHashes(stagedVideoPool(s, dir)), reliable = false)
    graft.model.Lineage.cut(
      Multimodal.videoNearDupPairs(sigs, maxHamming = 2), reliable = false)
  }

  val sqlToks: String =
    s"""tok AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |  FROM documents
       |)""".stripMargin

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> ((s, dir) =>
      TextOps.exactDedup(docs(s, dir))
        .select(col("text_hash"), col("doc_id"), col("n_dups"))),

    "q_dedup_jaccard" -> ((s, dir) =>
      TextOps.jaccardPairsFromTokens(tokTable(s, dir), 0.95)),

    // DIRECTED containment (|A∩B|/|A|): catches small-doc-inside-big-doc
    // duplication that symmetric Jaccard structurally misses
    "q_dedup_containment" -> ((s, dir) =>
      TextOps.containmentPairs(tokTable(s, dir), 0.8)),

    // measured banding quality: precision of LSH candidates + recall of
    // verified pairs vs the exact join — the text-dedup analog of
    // q_embed_ann_recall
    "q_dedup_lsh_quality" -> ((s, dir) =>
      TextOps.lshPairQuality(docs(s, dir).filter(col("doc_id") < PairLimit),
        numHashes = 64, bands = 16, threshold = 0.95)),

    // signature BUILD stage of the banding sweep, as its own bench
    // row: the tok + minhash materialization is timed HERE (fresh
    // each run, refreshing the staged memo the sweep reads — the
    // momentsMemo contract), so build drift and sweep drift are
    // separately attributable on the round trend. Face: per-position
    // count/min/max/xor folds over every signature cell.
    "q_dedup_lsh_sigs" -> ((s, dir) =>
      TextOps.sigSummaryFromSigs(lshMemo.rebuild(dir)(lshStaged(s, dir))._2)),

    // banding DESIGN sweep: the same quality accounting across band
    // counts from ONE materialized signature table — the knob-tuning
    // pass a 100 TB dedup run does on a sample before committing.
    // Reads the staged signatures (built by q_dedup_lsh_sigs's bench
    // row, alphabetically earlier; built here on a cold path), so the
    // timed region is banding + bucket join + union-verify only.
    "q_dedup_lsh_sweep" -> ((s, dir) => {
      val (tok, sigs) = lshMemo(dir)(lshStaged(s, dir))
      TextOps.lshBandSweepFromSigs(tok, sigs,
        numHashes = 64, bandsList = Seq(8, 16, 32), threshold = 0.95)
    }),

    "q_dedup_simhash" -> ((s, dir) => TextOps.simhash(docs(s, dir))),

    "q_dedup_simhash_pairs" -> ((s, dir) =>
      // the canonical web-dedup radius 3 (4 bands of 15 bits); the
      // oracle is the EXHAUSTIVE Hamming join, so the compare also
      // proves the pigeonhole banding loses no pair
      TextOps.simhashPairs(docs(s, dir).filter(col("doc_id") < PairLimit), maxHamming = 3)),

    "q_dedup_ngram" -> ((s, dir) =>
      TextOps.ngramJaccardPairs(docs(s, dir).filter(col("doc_id") < PairLimit), 3, 0.8)),

    // pair-table BUILD stage of the clustering family, as its own
    // bench row (the q_dedup_lsh_sigs split): the verified Jaccard
    // pair join is timed HERE — fresh each run, refreshing the cut
    // the CC iteration reads — so pair-build drift and iteration
    // drift are separately attributable. Face: exact-integer folds
    // over the pair table (counts and id mass; the jaccard doubles
    // already hash-verify row-for-row in q_dedup_jaccard).
    "q_dedup_cc_pairs" -> ((s, dir) =>
      pairMemo.rebuild(dir)(ccPairs(s, dir))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          countDistinct(col("id_a")).cast("long").as("n_docs_a"),
          countDistinct(col("id_b")).cast("long").as("n_docs_b"),
          coalesce(sum(col("id_a") + col("id_b")), lit(0L))
            .cast("long").as("id_mass"))),

    "q_dedup_clusters" -> ((s, dir) => clusterMemo.rebuild(dir)(dedupClusters(s, dir))),

    // cluster-size histogram over the shared clustering result — the
    // dup-structure report (how much mass sits in big dup families)
    "q_dedup_cluster_sizes" -> ((s, dir) =>
      clusters(s, dir)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))),

    // DEDUP TOKEN-INFLATION: the headline KPI of the dedup pass — how
    // much token mass the keeper set saves vs training on everything
    // (epochs-worth of redundant gradient steps at 100 TB). One
    // doc-keyed join of the memoized labels to per-doc token counts,
    // folded to a single exact-integer row.
    "q_dedup_inflation" -> ((s, dir) =>
      clusters(s, dir)
        .join(docs(s, dir).filter(col("doc_id") < PairLimit)
          .select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("nt")), "doc_id")
        .agg(count(lit(1)).as("n_docs_total"),
          sum(when(col("cluster_id") === col("doc_id"), 1L).otherwise(0L))
            .cast("long").as("n_docs_kept"),
          sum(col("nt")).cast("long").as("tokens_total"),
          sum(when(col("cluster_id") === col("doc_id"), col("nt")).otherwise(0L))
            .cast("long").as("tokens_kept"))
        .select(col("n_docs_total"), col("n_docs_kept"),
          col("tokens_total"), col("tokens_kept"),
          expr("(tokens_total - tokens_kept) * CAST(1000000 AS BIGINT) " +
            "div greatest(tokens_total, CAST(1 AS BIGINT))").as("savings_ppm"))),

    // SYNDICATION report over the shared clustering result: for every
    // real dup family (size > 1), how many distinct sources carry it
    // and which — cross-source dup mass is syndicated/scraped content
    // (keep once, attribute provenance), same-source dup mass is a
    // pipeline defect (re-crawl, retry storm); the n_sources column is
    // what splits those two cleanup paths. Cluster-keyed rollup over
    // the memoized labels + one doc-keyed join to recover the source.
    "q_dedup_syndication" -> ((s, dir) =>
      clusters(s, dir)
        .join(docs(s, dir).select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          min(col("source")).as("first_source"),
          max(col("source")).as("last_source"))
        .filter(col("n_docs") > 1)),

    // incremental ingestion: the second half of the corpus arrives as
    // an increment and probes the first half's band-bucket index —
    // cross-side candidates only, never a base self-join
    "q_dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < PairLimit)
      TextOps.incrementalLshPairs(
        d.filter(col("doc_id") < PairLimit / 2),
        d.filter(col("doc_id") >= PairLimit / 2),
        numHashes = 64, bands = 16, threshold = 0.95)
    }),

    "q_dedup_keep" -> ((s, dir) =>
      // the end-to-end endpoint: ids kept after near-dup collapse —
      // a keeper filter over the shared clustering result (computed
      // here only if q_dedup_clusters hasn't run yet)
      clusters(s, dir)
        .filter(col("doc_id") === col("cluster_id"))
        .select(col("doc_id"))),

    "q_doc_winnow" -> ((s, dir) => TextOps.winnowFingerprints(docs(s, dir), k = 8, w = 4)),

    "q_winnow_pairs" -> ((s, dir) =>
      TextOps.winnowPairs(docs(s, dir).filter(col("doc_id") < PairLimit),
        k = 8, w = 4, minShared = 3, maxDf = 50)),

    "q_winnow_verified" -> ((s, dir) => {
      // the complete candidate -> exact-verify dedup route: winnowing
      // proposes, word-3-gram jaccard disposes (sound: every output
      // pair carries its exact similarity)
      val d = docs(s, dir).filter(col("doc_id") < PairLimit)
      TextOps.verifyPairsNgramJaccard(d,
        TextOps.winnowPairs(d, k = 8, w = 4, minShared = 3, maxDf = 50),
        n = 3, threshold = 0.8)
    }),

    "q_dedup_embed_cosine" -> ((s, dir) =>
      VectorOps.cosineDupPairs(embeddings(s, dir).filter(col("vec_id") < PairLimit), 0.2)),

    // dedup impact report: per-source exact vs near removal counts —
    // the decision table read before committing a dedup config
    "q_dedup_report" -> ((s, dir) =>
      TextOps.dedupImpactReport(
        docs(s, dir).filter(col("doc_id") < PairLimit))),

    "q_dedup_minhash_lsh" -> ((s, dir) =>
      // rows-only: LSH recall < 1 by construction; invariants in
      // TextVectorSpec (candidates are a subset of exact pairs)
      TextOps.minhashLshPairs(docs(s, dir).filter(col("doc_id") < PairLimit),
        numHashes = 64, bands = 16, threshold = 0.95)),

    "q_embed_cosine_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      VectorOps.bruteForceTopK(e, e.filter(col("vec_id") < 8), k = 5)
    }),

    // MMR-diversified retrieval: the dedup-aware top-k (relevance
    // minus redundancy-to-selected, λ = 0.5) every RAG pipeline wants
    // instead of raw nearest neighbors — integer micro-unit greedy,
    // replayed as unrolled SQL selection stages
    "q_mmr_rerank" -> ((s, dir) => {
      val e = embeddings(s, dir)
      VectorOps.mmrDiversify(e, e.filter(col("vec_id") < 8), n = 8, k = 4)
    }),

    // FRESH per call (the ccPairs/videoPairs billing pattern): this
    // row's timing measures the LSH index + top-k build itself and
    // rebuilds the memo; the eleven knn* reader rows go through
    // annGraph (read-or-build) and time only their own
    // iteration/aggregation over the materialized cut.
    "q_embed_ann_lsh" -> ((s, dir) => annMemo.rebuild(dir)(annTopK(s, dir))),

    "q_embed_ann_mlsh" -> ((s, dir) =>
      VectorOps.annTopKMulti(embeddings(s, dir).filter(col("vec_id") < PairLimit),
        numPlanes = 8, dims = 64, k = 5, tables = 2)),

    // multi-probe LSH: the other recall-recovery dial — one index,
    // each query probes its bucket + the 8 Hamming-1 flips
    "q_embed_ann_mprobe" -> ((s, dir) =>
      VectorOps.annTopKMultiProbe(embeddings(s, dir).filter(col("vec_id") < PairLimit),
        numPlanes = 8, dims = 64, k = 5)),

    // measured multi-probe recall vs brute-force ground truth
    "q_embed_ann_recall_mp" -> ((s, dir) =>
      VectorOps.multiProbeRecallAtK(embeddings(s, dir).filter(col("vec_id") < PairLimit),
        numPlanes = 8, dims = 64, k = 5)),

    "q_embed_ann_ivf" -> ((s, dir) =>
      VectorOps.ivfTopK(embeddings(s, dir).filter(col("vec_id") < PairLimit),
        nlist = 16, nprobe = 4, k = 5)),

    // persisted-IVF round trip: build the stored index, then answer
    // the SAME query batch THROUGH it — must equal q_embed_ann_ivf
    // bit for bit (the oracle IS that query's SQL), proving storage
    // round-trips the quantizer + inverted file + rerank payload
    "q_ann_index_probe" -> ((s, dir) => {
      val cohort = embeddings(s, dir).filter(col("vec_id") < PairLimit)
      val ix = s"/tmp/graft-annindex-${math.abs(dir.hashCode)}"
      graft.io.AnnIndexIO.writeIndex(cohort, ix, nlist = 16)
      graft.io.AnnIndexIO.probeIndex(s, ix, cohort, nprobe = 4, k = 5)
    }),

    // recall accounting: per query point, |ANN top-k ∩ brute top-k| —
    // the LSH route's recall loss as a measured number, not a caveat
    "q_embed_ann_recall" -> ((s, dir) =>
      VectorOps.annRecallAtK(embeddings(s, dir).filter(col("vec_id") < PairLimit),
        numPlanes = 8, dims = 64, k = 5)),

    "q_embed_ann_recall_ivf" -> ((s, dir) =>
      VectorOps.ivfRecallAtK(embeddings(s, dir).filter(col("vec_id") < PairLimit),
        nlist = 16, nprobe = 4, k = 5)),

    "q_embed_kmeans" -> ((s, dir) =>
      VectorOps.kmeansAssign(embeddings(s, dir), k = 8, iters = 2)),

    // simplified silhouette of the nearest-seed clustering: per-point
    // cluster-quality in integer micro-units — one broadcast of k seed
    // vectors, one narrow pass, no pairwise join (the O(n²) full
    // silhouette is what the simplified form avoids at corpus scale)
    "q_cluster_silhouette" -> ((s, dir) =>
      VectorOps.nearestSeedSilhouette(embeddings(s, dir), k = 8)),

    // label-based retrieval eval: does nearest-neighbor search surface
    // same-class items — first-correct rank, reciprocal rank, and
    // precision@k as pure integers over the brute-force top-k
    "q_retrieval_eval" -> ((s, dir) => {
      val e = embeddings(s, dir)
      VectorOps.retrievalEval(e, e.filter(col("vec_id") < 32), k = 5)
    }),

    // embedding-distribution drift between two derived snapshots:
    // per-label micro-unit mean deltas (L1 + L-inf), all-integer —
    // the vector analog of q_source_drift
    "q_embed_drift" -> ((s, dir) => {
      val e = embeddings(s, dir)
      VectorOps.embeddingDrift(
        e.filter(col("vec_id") % 4 =!= 1), e.filter(col("vec_id") % 4 =!= 2))
    }),

    // class-separation readout: exact integer dot products between
    // per-label micro-unit centroid embeddings (the pre-training
    // confusion matrix — near-parallel centroids flag label pairs the
    // encoder cannot separate)
    "q_label_centroid_dots" -> ((s, dir) =>
      VectorOps.labelCentroidDots(embeddings(s, dir))),

    // embedding-space mislabel suspects: per-vector integer centroid
    // distance gated by the label's own median/MAD spread — the
    // robust-outliers contract applied to the vector table
    "q_centroid_outliers" -> ((s, dir) =>
      VectorOps.centroidOutliers(embeddings(s, dir))),

    // SemDeDup: kmeans prepass bounds the pair join to within-cluster;
    // threshold chosen with measured >= 3e-5 margin to the nearest
    // within-cluster similarity at both verify SFs
    "q_semdedup" -> ((s, dir) =>
      VectorOps.semanticDedup(embeddings(s, dir), k = 8, iters = 2, threshold = 0.35)),

    // span-level duplication signal (chunked substring-dedup stats)
    "q_chunk_dup" -> ((s, dir) => TextOps.chunkDupStats(docs(s, dir), k = 8)),

    // insertion-robust span dedup: content-defined chunk boundaries
    // (hash-gated gram hash), dup = chunk text in >= 2 distinct docs
    "q_cdc_chunk_dup" -> ((s, dir) => TextOps.cdcChunkStats(docs(s, dir), k = 8, modulus = 64)),

    "q_embed_quantize" -> ((s, dir) =>
      VectorOps.quantizeInt8(embeddings(s, dir))
        .withColumnRenamed("id", "vec_id")),

    "q_text_quality" -> ((s, dir) => TextOps.qualityFeatures(docs(s, dir))),

    // Gopher hard-gate rule bundle: thresholded quality rules + the
    // conjunction keep bit (the form pipelines actually gate on)
    "q_gopher_rules" -> ((s, dir) => TextOps.gopherRules(docs(s, dir))),

    // the audit face of the hard-gate battery: per-doc reason bitmask
    // (gopher thresholds + repetition + language), every threshold a
    // cross-multiplied integer comparison — no float anywhere
    "q_quality_audit" -> ((s, dir) => TextOps.qualityAudit(docs(s, dir))),

    // stage-by-stage survival funnel over the audit gates in bit
    // order — every doc attributed to the FIRST gate that rejects it
    "q_filter_funnel" -> ((s, dir) =>
      TextOps.filterFunnel(TextOps.qualityAudit(docs(s, dir)))),

    // context-window chunking: size-64 windows advancing by 48 tokens
    // (16-token overlap) — long-document preparation for a fixed-context
    // model; narrow/stream-transparent
    "q_text_windows" -> ((s, dir) =>
      TextOps.contextWindows(docs(s, dir), size = 64, stride = 48)),

    // per-source lexical diversity (type-token ratio) — the corpus
    // health report a mixing decision reads
    "q_source_diversity" -> ((s, dir) => TextOps.sourceDiversity(docs(s, dir))),

    // information-density signal: per-doc word-distribution entropy
    "q_text_entropy" -> ((s, dir) => TextOps.entropyFeatures(docs(s, dir))),

    "q_token_count" -> ((s, dir) => TextOps.tokenCounts(docs(s, dir))),

    // exact heavy hitters via mergeable Misra-Gries + exact verify;
    // the oracle is the plain HAVING form — exactness of the sketch
    // route is the claim under test
    "q_heavy_hitters" -> ((s, dir) => TextOps.heavyHitterTokens(docs(s, dir), minCount = 500)),

    "q_token_count_bpe" -> ((s, dir) => TextOps.tokenCountsBpe(docs(s, dir))),

    "q_lang_id" -> ((s, dir) => TextOps.languageId(docs(s, dir))),

    // classifier EVAL against the labeled column: the confusion matrix
    // of the marker-based language id vs the corpus's own lang label —
    // the precision/recall readout a pipeline checks before trusting
    // the heuristic to route documents (off-diagonal mass = routing
    // errors). One doc-keyed join + a labels²-bounded rollup.
    "q_lang_confusion" -> ((s, dir) =>
      TextOps.languageId(docs(s, dir))
        .join(docs(s, dir).select(col("doc_id"), col("lang").as("lang_true")),
          "doc_id")
        .groupBy(col("lang_true"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))),

    // the confusion matrix folded to the per-class scoreboard: exact
    // integer precision/recall in ppm per language (full outer over
    // label-present and prediction-present classes, so a language the
    // heuristic never predicts still reports its zero recall)
    "q_lang_id_quality" -> ((s, dir) => {
      val conf = TextOps.languageId(docs(s, dir))
        .join(docs(s, dir).select(col("doc_id"), col("lang").as("lang_true")),
          "doc_id")
      val byTrue = conf.groupBy(col("lang_true").as("lang"))
        .agg(count(lit(1)).as("n_true"),
          sum(when(col("lang_pred") === col("lang_true"), 1L).otherwise(0L))
            .cast("long").as("n_correct"))
      val byPred = conf.groupBy(col("lang_pred").as("lang"))
        .agg(count(lit(1)).as("n_pred"))
      byTrue.join(byPred, Seq("lang"), "full")
        .select(col("lang"),
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("n_correct"), lit(0L)).as("n_correct"))
        .select(col("lang"), col("n_true"), col("n_pred"), col("n_correct"),
          expr("n_correct * CAST(1000000 AS BIGINT) div greatest(n_pred, CAST(1 AS BIGINT))")
            .as("precision_ppm"),
          expr("n_correct * CAST(1000000 AS BIGINT) div greatest(n_true, CAST(1 AS BIGINT))")
            .as("recall_ppm"))
    }),

    "q_doc_fingerprint" -> ((s, dir) => TextOps.fingerprints(docs(s, dir))),

    "q_text_repetition" -> ((s, dir) => TextOps.repetitionFeatures(docs(s, dir))),

    // rows-only check: deflate is not SQL-expressible; semantics pinned
    // in CorpusOrderSpec
    "q_text_compress" -> ((s, dir) => TextOps.compressionRatio(docs(s, dir))),

    // the hash-matched companion that shrinks q_text_compress's oracle
    // blind spot: the REAL deflate kernel's raw_len (UTF-8 bytes from
    // the same mapPartitions pass) joined with char-level stats, all
    // SQL-expressible — only the deflate output itself stays
    // golden-gated
    "q_text_compress_stats" -> ((s, dir) => {
      val d = docs(s, dir)
      TextOps.compressionRatio(d).select(col("doc_id"), col("raw_len"))
        .join(d.select(col("doc_id"),
          length(col("text")).cast("long").as("char_len"),
          size(array_distinct(split(col("text"), ""))).cast("long")
            .as("n_distinct_chars")), "doc_id")
    }),

    // quota capping: at most 15 docs per source (sources hold 25+ at
    // every SF, so the cap BINDS), salted-hash order; heap-aggregated
    // (no window sort — PlanSpec-asserted shape)
    "q_source_cap" -> ((s, dir) =>
      TextOps.capPerStratum(docs(s, dir), cap = 15, salt = "cap1")),

    // weighted sampling without replacement (Efraimidis-Spirakis
    // A-ES): 12 docs per source drawn proportional to n_chars via the
    // deterministic md5 exponential race; same heap-aggregated shape
    "q_weighted_sample" -> ((s, dir) =>
      TextOps.weightedSamplePerStratum(docs(s, dir), k = 12, salt = "wsamp1")),

    // Zipf rank-frequency fit: least squares of ln freq on ln rank
    // over the top-1000 tokens — integer nano-unit sums in
    // decimal(38,0), heap-ranked (no vocab-wide window)
    "q_zipf_fit" -> ((s, dir) => CorpusOps.zipfFit(docs(s, dir), topRanks = 1000)),

    // typo clustering: Levenshtein<=1 vocabulary pairs via SymSpell
    // deletion blocking — one variant-keyed equi-join, exact verify.
    // The synthetic corpus is typo-free by construction, so the query
    // probes against a deterministically mutated copy (every token's
    // first character dropped, ids offset) — each surviving mutant
    // sits at distance 1 from its source word
    "q_word_edit_pairs" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val typos = d.select((col("doc_id") + lit(1000000L)).as("doc_id"),
        concat_ws(" ", transform(TextOps.tokens(col("text")),
          t => t.substr(lit(2), length(t)))).as("text"))
      TextOps.editDistancePairs(d.unionByName(typos))
    }),

    // token-budget mixing: ~800 tokens per source (sources carry ~1350+
    // tokens at every SF, so the budget BINDS)
    "q_token_budget" -> ((s, dir) =>
      CorpusOps.tokenBudgetPerStratum(docs(s, dir), budget = 800, salt = "tb1")),

    // waterfill mixing design: per-source training-token quotas under
    // a half-total budget with a 4-epoch repeat cap — closed-form
    // level fill over the sources-bounded capacity table
    "q_token_waterfill" -> ((s, dir) =>
      CorpusOps.tokenWaterfill(docs(s, dir),
        maxEpochs = 4L, budgetNumer = 1L, budgetDenom = 2L)),

    // exact two-sample KS between two sources' token-length
    // distributions — the length-profile drift gate, pure integers
    "q_len_ks_drift" -> ((s, dir) =>
      CorpusOps.ksLengthDrift(docs(s, dir), "src3", "src7")),

    "q_stratified_sample" -> ((s, dir) =>
      TextOps.stratifiedSample(docs(s, dir), MixRates, defaultRate = 1.0, salt = "mix1")
        .select(col("doc_id"), col("lang"))),

    "q_decontaminate" -> ((s, dir) => {
      // eval = every 50th doc, train = the WHOLE corpus — the corpus
      // has no cross-id exact dups, so leaving the eval docs in the
      // train side makes the anti-join demonstrably drop them
      val d = docs(s, dir)
      CorpusOps.decontaminate(d, d.filter(col("doc_id") % 50 === 0))
        .select(col("doc_id"), col("n_chars"))
    }),

    // fuzzy decontamination: near-dup (not just verbatim) eval leakage
    // dropped via the banding cross-probe; capped cohort like the
    // other pairwise dedup queries
    "q_decontaminate_fuzzy" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < PairLimit)
      CorpusOps.fuzzyDecontaminate(d, d.filter(col("doc_id") % 50 === 0),
        numHashes = 64, bands = 16, threshold = 0.9)
        .select(col("doc_id"), col("n_chars"))
    }),

    // same semantics as q_decontaminate via the bloom-prefilter route;
    // the oracle is intentionally the identical SQL — exactness of the
    // prefiltered plan IS the claim under test
    "q_decontaminate_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      CorpusOps.decontaminateBloom(d, d.filter(col("doc_id") % 50 === 0))
        .select(col("doc_id"), col("n_chars"))
    }),

    "q_corpus_select" -> ((s, dir) =>
      // the composed endpoint: en docs, repetition cut, exact-dedup
      // keepers, >= 20 tokens
      CorpusOps.selectCorpus(docs(s, dir), lang = "en",
        minWords = 20, maxTopTokenRatio = 0.12)),

    "q_contamination" -> ((s, dir) => {
      // eval suite = every 50th document; the check reports n-gram
      // overlap of the whole corpus against it
      val d = docs(s, dir)
      CorpusOps.contamination(d, d.filter(col("doc_id") % 50 === 0), n = 5)
    }),

    // span localization: WHERE the eval grams matched (1-based token
    // positions) so the span can be cut instead of dropping the doc
    "q_contamination_spans" -> ((s, dir) => {
      val d = docs(s, dir)
      CorpusOps.contaminationSpans(d, d.filter(col("doc_id") % 50 === 0), n = 5)
    }),

    // ExactSubstr (Lee et al. 2022): corpus-wide duplicated 8-token
    // runs merged into maximal per-document spans
    "q_dup_substring_spans" -> ((s, dir) =>
      CorpusOps.dupSubstringSpans(docs(s, dir), n = 8)),

    // the cut step: keep-one-occurrence rewrite (deterministic
    // min-(id,p) keeper per duplicated gram), rebuilt text hash-matched
    "q_dup_substring_rewrite" -> ((s, dir) =>
      CorpusOps.dupSubstringRewrite(docs(s, dir), n = 8)),

    "q_lm_score" -> ((s, dir) => CorpusOps.bigramLmScore(docs(s, dir))),

    // held-out LM: train on even ids, score the odd ids (CCNet shape);
    // unseen bigrams exercise the smoothing path
    "q_lm_heldout" -> ((s, dir) => {
      val d = docs(s, dir)
      CorpusOps.bigramLmScoreHeldOut(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1))
    }),

    // the same held-out split under interpolated Kneser-Ney smoothing
    // (the KenLM/CCNet family): absolute discount + continuation-
    // probability interpolation, +1 floor for unseen continuations
    "q_lm_kneser_ney" -> ((s, dir) => {
      val d = docs(s, dir)
      CorpusOps.bigramLmScoreKneserNey(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1))
    }),

    // DSIR importance weight: likelihood ratio of a target-domain LM
    // (trained on src0 docs) over a raw-pool LM (src1 docs), per doc
    "q_dsir_weight" -> ((s, dir) => {
      val d = docs(s, dir)
      CorpusOps.dsirLogRatio(d,
        target = d.filter(col("source") === "src0"),
        source = d.filter(col("source") === "src1"))
    }),

    "q_tfidf_topk" -> ((s, dir) => CorpusOps.tfIdfTopTerms(docs(s, dir), k = 3)),

    // BM25 retrieval against a fixed probe vocabulary — the top-20
    // corpus documents for a 5-term query
    "q_bm25_topk" -> ((s, dir) =>
      CorpusOps.bm25TopK(docs(s, dir), Bm25Query, k = 20)),

    // temperature-flattened source mixing weights (alpha = 0.7)
    "q_source_temperature" -> ((s, dir) =>
      TextOps.temperatureMixWeights(docs(s, dir), alpha = 0.7)),

    // per-doc trigram novelty of the odd-id half against the even-id
    // half's gram set — the "how much new text" ingest signal
    "q_novelty_ngrams" -> ((s, dir) => {
      val d = docs(s, dir)
      TextOps.crossCorpusNovelty(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1), n = 3)
    }),

    // hybrid retrieval: the BM25 lexical top-50 fused with the
    // embedding-cosine top-50 of probe vector 0 by reciprocal-rank
    // fusion (vec_id aligns with doc_id in the synthetic corpus, as a
    // doc-embedding table would)
    "q_hybrid_rrf" -> ((s, dir) => {
      val lex = CorpusOps.bm25TopK(docs(s, dir), Bm25Query, k = 50)
        .select(col("doc_id"), col("score"))
      val e = embeddings(s, dir)
      val vec = VectorOps.bruteForceTopK(e, e.filter(col("vec_id") === 0), k = 50)
        .select(col("cand_id").as("doc_id"), col("sim").as("score"))
      CorpusOps.rrfFuse(Seq(lex, vec), k0 = 60, k = 20)
    }),

    // quality-aware keeper over the shared clustering result: keep the
    // LONGEST member of each dup cluster (ties -> min id), not the
    // min-id member
    "q_dedup_keep_best" -> ((s, dir) =>
      TextOps.keepBestPerCluster(
        clusters(s, dir),
        docs(s, dir).select(col("doc_id"), col("n_chars").as("quality")))),

    // hashed-feature linear classifier margin (fasttext-shaped quality
    // scoring; deterministic hash weights so the oracle reproduces them)
    "q_quality_classifier" -> ((s, dir) =>
      TextOps.hashedClassifierScore(docs(s, dir))),

    // tokenizer fertility per source (BPE-ish subwords per whitespace
    // word; chars per subword)
    "q_token_fertility" -> ((s, dir) => TextOps.tokenFertility(docs(s, dir))),

    // per-doc duplicate-text mass: fraction of each doc's distinct
    // 5-grams that occur in >= 2 documents corpus-wide
    "q_dup_gram_mass" -> ((s, dir) => TextOps.dupGramMass(docs(s, dir), n = 5, minDf = 2)),

    // measured int8-quantization recall: symmetric quantized cosine
    // top-5 vs the float-exact top-5, per query
    "q_quantize_recall" -> ((s, dir) =>
      VectorOps.quantizedRecallAtK(
        embeddings(s, dir).filter(col("vec_id") < PairLimit), k = 5)),

    // IVF inverted-list balance: per-list member count + load factor
    // vs perfect balance — the list-skew health check of the IVF index
    "q_ivf_balance" -> ((s, dir) =>
      VectorOps.ivfListStats(
        embeddings(s, dir).filter(col("vec_id") < PairLimit), nlist = 16)),

    // product-quantization codes: 64 dims -> 4 subspace codes against
    // deterministic per-subspace codebooks
    "q_pq_encode" -> ((s, dir) =>
      VectorOps.pqEncode(
        embeddings(s, dir).filter(col("vec_id") < PairLimit), m = 4, ks = 16)),

    // measured PQ recall: ADC top-5 over the 4-code representation vs
    // the exact squared-L2 brute top-5
    "q_pq_recall" -> ((s, dir) =>
      VectorOps.pqRecallAtK(
        embeddings(s, dir).filter(col("vec_id") < PairLimit), m = 4, ks = 16, k = 5)),

    // IVF-PQ: coarse probing bounds the candidates, ADC bounds the
    // per-candidate cost — combined recall vs the exact L2 top-5
    "q_ivfpq_recall" -> ((s, dir) =>
      VectorOps.ivfPqRecallAtK(
        embeddings(s, dir).filter(col("vec_id") < PairLimit),
        nlist = 16, nprobe = 4, m = 4, ks = 16, k = 5)),

    // IVF nprobe sweep: recall@5 at nprobe 1/2/4/8 from ONE scored
    // candidate table (each candidate carries its probe rank) and one
    // shared brute-force ground truth — the index tuning table
    "q_ivf_probe_sweep" -> ((s, dir) =>
      VectorOps.ivfProbeSweep(
        embeddings(s, dir).filter(col("vec_id") < PairLimit),
        nlist = 16, probesList = Seq(1, 2, 4, 8), k = 5)),

    // degree histogram of the symmetrized LSH kNN graph — the
    // connectivity health report of the semantic neighbor graph
    "q_knn_degree" -> ((s, dir) =>
      VectorOps.knnDegreeHistogram(annGraph(s, dir))),

    // PageRank over the symmetrized LSH kNN graph: integer-exact
    // power iteration (3 rounds, damping 0.85, ranks in 1e-12 units)
    "q_knn_pagerank" -> ((s, dir) =>
      VectorOps.knnPageRank(annGraph(s, dir), iters = 3)),

    // triangle count + local clustering coefficient of the kNN graph —
    // community-structure health (near-dup families close triangles)
    "q_knn_triangles" -> ((s, dir) =>
      VectorOps.knnTriangles(annGraph(s, dir))),

    // global transitivity: 3*triangles/wedges from the same canonical
    // wedge join, wedge sum in decimal(38,0), one double division
    "q_knn_transitivity" -> ((s, dir) =>
      VectorOps.knnTransitivity(annGraph(s, dir))),

    // link prediction: top-30 non-adjacent pairs by common-neighbor
    // count + Adamic-Adar (integer nano-unit sums, order-free)
    "q_knn_linkpred" -> ((s, dir) =>
      VectorOps.knnLinkPrediction(annGraph(s, dir), topK = 30)),

    // label-propagation communities over the kNN graph: 4 synchronous
    // neighbor-majority rounds, ties to the smallest label
    "q_knn_labelprop" -> ((s, dir) =>
      VectorOps.knnLabelPropagation(annGraph(s, dir), iters = 4)),

    // connected components of the kNN graph: the coarsest structure
    // readout (disconnected islands = out-of-distribution pockets no
    // local metric surfaces) — the same star-contraction CC as the
    // dedup families, component = min reachable vec id
    "q_knn_components" -> ((s, dir) =>
      VectorOps.knnComponents(annGraph(s, dir))),

    // 6-core peel of the kNN graph: 6 synchronous peel rounds, each
    // node tagged with the round that removed it (0 = in the core)
    "q_knn_kcore" -> ((s, dir) =>
      VectorOps.knnKCore(annGraph(s, dir), k = 6, rounds = 6)),

    // degree assortativity of the kNN graph: exact integer Pearson
    // terms, one identical double division at the edge
    "q_knn_assortativity" -> ((s, dir) =>
      VectorOps.knnAssortativity(annGraph(s, dir))),

    // Newman modularity of the 4-round LPA labeling: the community
    // quality go/no-go, integer-exact micro face
    "q_knn_modularity" -> ((s, dir) =>
      VectorOps.knnModularity(annGraph(s, dir), iters = 4)),

    // multi-source BFS blast radius: hop-distance histogram from a
    // 1/16 salted-hash seed fraction, 4 synchronous frontier rounds
    "q_knn_bfs_dist" -> ((s, dir) =>
      VectorOps.knnBfsDepths(annGraph(s, dir), maxDepth = 4)),

    "q_seq_pack" -> ((s, dir) => OrderOps.packSequences(docs(s, dir), capacity = 256)),

    // packing-efficiency report: per training sequence, docs touching /
    // starting — the fragmentation health check of the packing run
    "q_pack_bins" -> ((s, dir) => OrderOps.packBinStats(docs(s, dir), capacity = 256)),

    // batching-efficiency decision table: naive vs length-sorted vs
    // packed collation, exact global positions (no window)
    "q_pad_waste" -> ((s, dir) =>
      OrderOps.padWasteReport(docs(s, dir), capacity = 256, batchSize = 8)),

    // Morton-curve vs linear layout: per-file min/max envelopes of
    // both cluster keys — the zone-map pruning evidence table
    "q_zorder_layout" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      OrderOps.zorderLayoutStats(li, col("l_partkey"), col("l_suppkey"),
        col("l_orderkey") * 100 + col("l_linenumber"), files = 32, bits = 16)
    }),

    // Poisson-bootstrap CI for the mean token count: md5-fraction
    // uniforms through the Poisson(1) CASE ladder, percentile bounds
    // from the bounded TopK aggregator
    "q_bootstrap_ci" -> ((s, dir) =>
      CorpusOps.bootstrapMeanCi(docs(s, dir), replicas = 64)),

    // co-located join through bucketed warehouse tables: the shuffle
    // is pre-paid at write time, the join plans with zero exchanges
    // (PlanSpec-pinned); results identical to the plain join oracle.
    // The WRITE is memoized per dir (the tokMemo contract): bucketing
    // is a one-time layout investment, so the timed region measures
    // what every subsequent pipeline run pays — the exchange-free join
    "q_bucketed_join" -> ((s, dir) => {
      bucketMemo(dir)(
        graft.io.BucketedIO.writeBucketedOrderTables(s, dir, numBuckets = 32))
      graft.io.BucketedIO.bucketedOrderJoin(s, dir)
    }),

    // join-key skew diagnostic: one keyed aggregation + bounded TopK
    "q_key_skew" -> ((s, dir) =>
      graft.rel.RelOps.keySkewReport(
        s.read.parquet(s"$dir/lineitem.parquet"), col("l_suppkey"))),

    // ANALYZE-style table statistics: per-column rows/nulls/exact-NDV
    // over one (EXPAND-widened) fact scan — the CBO's input table
    "q_table_stats" -> ((s, dir) =>
      graft.rel.RelOps.tableStats(
        s.read.parquet(s"$dir/lineitem.parquet"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
          "l_quantity"))),

    // equi-depth histogram: rank-range buckets with exact [lo, hi]
    // envelopes — the CBO's range-selectivity statistic, built on the
    // two-pass global-position machinery (no single-partition window)
    "q_equidepth_hist" -> ((s, dir) =>
      OrderOps.equiDepthHistogram(docs(s, dir), "n_chars", "doc_id",
        buckets = 8)),

    // materialized-aggregate maintenance: the base/delta split's merged
    // state must equal (and hash-match) the one-pass aggregate — the
    // nightly-rescan killer, maintenance cost = delta scan + agg-sized
    // join, the base is never read again
    "q_mv_maintain" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val keys = Seq("l_returnflag", "l_linestatus")
      val base = graft.rel.RelOps.distributiveAgg(
        li.filter(col("l_orderkey") % 4 =!= 0), keys, "l_quantity")
      val delta = graft.rel.RelOps.distributiveAgg(
        li.filter(col("l_orderkey") % 4 === 0), keys, "l_quantity")
      graft.rel.RelOps.mergeDistributiveAgg(base, delta, keys)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("n_rows"), col("sum_v").as("sum_qty"),
          col("min_v").as("min_qty"), col("max_v").as("max_qty"),
          round(col("sum_v") / col("n_rows"), 6).as("avg_qty"))
    }),

    "q_corpus_shuffle" -> ((s, dir) => OrderOps.shuffleOrder(docs(s, dir), salt = "shuf1")),

    // span-dedup REWRITE: every duplicated chunk occurrence except the
    // global first (by doc_id, chunk idx) dropped, survivors reassembled
    "q_dedup_rewrite" -> ((s, dir) => TextOps.dedupChunksRewrite(docs(s, dir), k = 8)),

    // per-source boilerplate: chunks in >= 3 distinct docs of the SAME
    // source, per-doc boilerplate mass
    "q_boilerplate" -> ((s, dir) => TextOps.boilerplateChunkStats(docs(s, dir), k = 8, minDf = 3)),

    // one BPE tokenizer-training merge round: top-20 adjacent char
    // pairs by word-frequency-weighted count
    "q_bpe_pairs" -> ((s, dir) => TextOps.bpePairStats(docs(s, dir), topK = 20)),

    // the full iterative BPE training loop (batched guarded-prefix
    // rounds — provably the sequential merge table), returning the
    // learned merge table and refreshing the shared artifact memo
    "q_bpe_train" -> ((s, dir) => tokMemo.rebuild(dir)(tokArtifacts(s, dir))._1),
    "q_bpe_encode" -> ((s, dir) =>
      TextOps.bpeEncodeFromVocab(docs(s, dir),
        tokMemo(dir)(tokArtifacts(s, dir))._2)),

    // WordPiece-style greedy longest-match inference under the same
    // trained pieces: token budget + [UNK]s where greedy gets stuck
    "q_wordpiece_encode" -> ((s, dir) =>
      TextOps.wordpieceEncodeFromVocab(docs(s, dir),
        tokMemo(dir)(tokArtifacts(s, dir))._2)),

    // frozen-tokenizer drift: train the stored artifact on the even
    // half, encode the FULL corpus through the persisted path, roll
    // the OOV/UNK shares up to source grain in integer ppm. The
    // synthetic corpus shares one global vocabulary (training on any
    // half covers it), so odd documents get a deterministic drift
    // token appended — the PII-augmentation precedent — exercising
    // the OOV greedy-walk path with a real per-source share
    // the stored-artifact BUILD, billed honestly as its own bench row
    // (the q_dedup_lsh_sigs pattern — alphabetically before the oov
    // report, so bench order trains fresh and the report reads the
    // memo): each execution runs BPE training on the even half, writes
    // the artifact, rebuilds the memo, and reads the stored merges
    // table back — a training regression can no longer hide inside an
    // unmeasured memoized step. The face is the persisted merge list,
    // the artifact's externally-checkable content.
    "q_tokenizer_artifact" -> ((s, dir) => {
      tokOovMemo.rebuild(dir)(writeTokOov(s, dir))
      graft.io.TokenizerIO.readMerges(s, tokOovPath(dir))
        .select(col("merge_rank"), col("left_sym"), col("right_sym"),
          col("pair_count"))
    }),

    "q_tokenizer_oov" -> ((s, dir) => {
      val tk = tokOovPath(dir)
      // the artifact write is a ONE-TIME investment (the bucketMemo
      // contract): memoized per dir — q_tokenizer_artifact is the row
      // that bills the build; the timed region here is what a
      // monitoring run actually pays — the stored-path encode + rollup
      tokOovMemo(dir)(writeTokOov(s, dir))
      val drifted = docs(s, dir).select(col("doc_id"), col("source"),
        when(col("doc_id") % 2 === 1,
          concat(col("text"), lit(" zq"), col("doc_id").cast("string")))
          .otherwise(col("text")).as("text"))
      graft.io.TokenizerIO.oovReportStored(s, tk, drifted)
    }),

    // vocab-patch candidates: the remediation readout paired with the
    // drift report — odd documents get one of SEVEN repeated novel
    // COMPOUNDS appended (the corpus's 7 most frequent words doubled,
    // picked by doc_id % 7: the "new jargon built from known
    // morphemes" shape — segmentable by the greedy walk, so the
    // projected token savings are real), and the face ranks every OOV
    // word by occurrence mass with its greedy piece count and the
    // savings were it promoted to a single vocabulary entry
    "q_tokenizer_patch" -> ((s, dir) => {
      val tk = tokOovPath(dir)
      tokOovMemo(dir)(writeTokOov(s, dir))
      val w7 = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("w"))
      // 7-ROW window (post-limit), not a corpus-wide one
      val top7 = docs(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w")).limit(7)
        .withColumn("r", row_number().over(w7) - 1)
        .select(col("r"), col("w").as("nww"))
      val drifted = docs(s, dir)
        .join(broadcast(top7), (col("doc_id") % 7) === col("r"), "left")
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 2 === 1,
            concat(col("text"), lit(" "), col("nww"), col("nww")))
            .otherwise(col("text")).as("text"))
      graft.io.TokenizerIO.oovPatchCandidates(s, tk, drifted, topK = 15)
    }),

    // PREFERENCE AGGREGATION (Bradley–Terry via Hunter's MM, 3
    // rounds): adjacent documents duel, the longer doc's source wins,
    // and the face reports per-source games/wins/strength in integer
    // micro-units — the reward-data QA readout an RLHF pipeline runs
    // over its annotation table (here synthesized deterministically).
    // Builds the corpus-sized duel cut FRESH (billing it honestly in
    // this row, the lsh_sigs precedent) and memoizes it for the upset
    // report — the cut is identical by construction, so running the
    // duel self-join twice was pure waste.
    "q_pref_bradley_terry" -> ((s, dir) =>
      graft.text.PrefOps.bradleyTerryFrom(
        duelMemo.rebuild(dir)(duels(s, dir)), iters = 3)),

    // per-pair upset share under the fitted strengths — the annotator-
    // noise readout (≈500000 ppm = coin-flip labels, ≈0 = redundant);
    // reads the memoized duel cut, so its timed region is the
    // pair-matrix-sized tail alone
    "q_pref_upsets" -> ((s, dir) =>
      graft.text.PrefOps.upsetReportFrom(
        duelMemo(dir)(duels(s, dir)), iters = 3)),

    // circular-triad audit (Kendall & Babington Smith 1940) over the
    // majority tournament — the intransitive evidence mass no
    // Bradley-Terry fit can explain; runs over its OWN offsets-{1,2,3}
    // tournament (the adjacent-only design is bipartite in the
    // source key — triangle-free by construction), built fresh and
    // billed in this row
    "q_pref_cycles" -> ((s, dir) =>
      graft.text.PrefOps.prefCycles(docs(s, dir))),

    // Fleiss' kappa inter-annotator agreement over the deterministic
    // 5-rater / 4-category annotation table (~20% planted id-keyed
    // noise) — exact integer A/B numerators, one double division at
    // the edge; the label-noise go/no-go next to the BT fit
    "q_pref_fleiss" -> ((s, dir) =>
      graft.text.PrefOps.fleissKappa(
        graft.text.PrefOps.syntheticRatings(docs(s, dir)))),

    // token-mass concentration across sources (exact integer Gini in
    // micro-units) — the one-number inequality readout next to the
    // diversity table and the temperature weights
    "q_source_gini" -> ((s, dir) => TextOps.sourceGini(docs(s, dir))),

    // UNIGRAM-LM tokenizer training (Kudo 2018 hard-EM): substring-
    // frequency seed, then 2 Viterbi-count rounds over the distinct
    // words; integer micro-nat costs make the DP oracle-replayable
    "q_unigram_train" -> ((s, dir) => ugMemo.rebuild(dir)(ugArtifacts(s, dir))._1),

    // the trained model's per-distinct-word Viterbi segmentation —
    // the DP's most direct externally-checkable face
    "q_unigram_segment" -> ((s, dir) => {
      val (v, w) = ugMemo(dir)(ugArtifacts(s, dir))
      UnigramOps.unigramSegmentsFromVocab(w, v, maxPieceLen = 4)
    }),

    // per-document token budget + total cost under the trained model
    "q_unigram_encode" -> ((s, dir) => {
      val (v, w) = ugMemo(dir)(ugArtifacts(s, dir))
      UnigramOps.unigramEncodeFromVocab(docs(s, dir), w, v, maxPieceLen = 4)
    }),

    // robust per-source outlier gate on doc length: Iglewicz-Hoaglin
    // modified z-score from exact per-source median/MAD
    "q_robust_outliers" -> ((s, dir) => CorpusOps.robustOutliers(docs(s, dir))),

    // Matryoshka truncation recall: top-5 with the first 16 of 64
    // dims vs the exact full-dimension top-5
    "q_mrl_recall" -> ((s, dir) =>
      VectorOps.truncatedRecallAtK(
        embeddings(s, dir).filter(col("vec_id") < PairLimit), dims = 16, k = 5)),

    // binary (sign-bit) quantization recall: Hamming ranking expressed
    // as cosine over +/-1 vectors, vs the float-exact top-5
    "q_bq_recall" -> ((s, dir) =>
      VectorOps.binaryRecallAtK(
        embeddings(s, dir).filter(col("vec_id") < PairLimit), k = 5)),

    // exact integer covariance of the embedding columns: per-partition
    // Gram accumulation (O(d^2) state, one data pass), upper triangle.
    // Runs the pass fresh and refreshes the shared moments memo (the
    // tokMemo contract — q_embed_pca derives from the same pass)
    "q_embed_covariance" -> ((s, dir) =>
      graft.vector.EmbedStats.covarianceFromMoments(s,
        momentsMemo.rebuild(dir)(moments(s, dir)))),

    // PCA spectrum from the same exact covariance (driver Jacobi —
    // d x d); rows-only: no SQL eigensolver, q_embed_covariance is the
    // hash-matched companion (the q_text_compress(_stats) pattern)
    "q_embed_pca" -> ((s, dir) =>
      graft.vector.EmbedStats.pcaSpectrumFromMoments(s,
        momentsMemo(dir)(moments(s, dir)), topK = 16)),

    // dominant embedding direction by integer power iteration over the
    // exact covariance numerator — the per-step trace is the
    // hash-checkable face the Jacobi spectrum can't have: each of the
    // 8 matvec+renormalize stages unrolls into SQL exactly (no double
    // anywhere in the chain). Shares the memoized moments pass.
    "q_embed_power_iter" -> ((s, dir) =>
      graft.vector.EmbedStats.powerIterationFromMoments(s,
        momentsMemo(dir)(moments(s, dir)), steps = 8)),

    // one-row dataset card: the release-notes summary a corpus ships
    // with — size, composition breadth, exact-dup mass, token stats
    "q_dataset_card" -> ((s, dir) =>
      docs(s, dir).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(size(TextOps.tokens(col("text"))).cast("long")).as("n_tokens"),
        sum(col("n_chars").cast("long")).as("n_chars"),
        countDistinct(md5(col("text"))).as("n_distinct_texts"))
      .withColumn("dup_doc_frac",
        round((col("n_docs") - col("n_distinct_texts")) * lit(1.0) / col("n_docs"), 6))
      .withColumn("avg_doc_tokens",
        round(col("n_tokens") * lit(1.0) / col("n_docs"), 6))),

    // snapshot diff vs a simulated next release: every 5th doc
    // removed, every 7th survivor edited, %11==3 re-added as new ids
    "q_corpus_diff" -> ((s, dir) =>
      CorpusOps.corpusDiff(docs(s, dir), nextRelease(docs(s, dir)))),

    // per-source unigram drift between the same snapshot pair:
    // JS divergence in integer 1e-12 nats (order-free sum)
    "q_source_drift" -> ((s, dir) =>
      CorpusOps.sourceDrift(docs(s, dir), nextRelease(docs(s, dir)))),

    // source distinctiveness: KL of each source's unigram distribution
    // from the corpus blend (exact — no smoothing needed; integer
    // 1e-12-nat summands, order-free)
    "q_source_kl" -> ((s, dir) =>
      CorpusOps.sourceKlDistinctiveness(docs(s, dir))),

    // event-mix drift: 6h-bucket event-type distributions compared
    // (JS, integer 1e-12 nats) against the previous bucket
    "q_events_drift" -> ((s, dir) =>
      graft.events.EventOps.eventTypeDrift(
        graft.events.EventOps.toMicros(s.read.parquet(s"$dir/events.parquet")),
        bucket = 21600L * 1000000L)),

    // event-rate anomaly: per-type daily-bucket counts (zero-filled
    // over the full range — a dead stream is the anomaly that matters)
    // gated by the exact median/MAD modified-z rule
    "q_events_anomaly" -> ((s, dir) =>
      graft.events.EventOps.rateAnomaly(
        graft.events.EventOps.toMicros(s.read.parquet(s"$dir/events.parquet")),
        bucket = 86400L * 1000000L)),

    // retransmission (duplicate-delivery) report: same user + type +
    // value within 60 s of the previous — the at-least-once noise a
    // rate/funnel pipeline must discount; per-type share in ppm
    "q_events_retrans" -> ((s, dir) =>
      graft.events.EventOps.retransmissionStats(
        graft.events.EventOps.toMicros(s.read.parquet(s"$dir/events.parquet")),
        toleranceUs = 60L * 1000000L)),

    // k-anonymity privacy gate over (event_type, event day): class
    // histogram + the re-identifiable row mass below k=5, one row
    "q_k_anonymity" -> ((s, dir) => {
      val ev = graft.events.EventOps.toMicros(
          s.read.parquet(s"$dir/events.parquet"))
        .withColumn("day", expr("ts div 86400000000"))
      graft.events.EventOps.kAnonymityReport(
        ev, Seq("event_type", "day"), k = 5L)
    }),

    // curriculum order: length-decile buckets, shuffled within bucket,
    // global easy-to-hard positions
    "q_curriculum" -> ((s, dir) =>
      OrderOps.curriculumOrder(docs(s, dir), nBuckets = 10,
        scoreCol = "n_chars", salt = "curr1")),

    // materialized epoch stream: repeat counts -> one row per copy at
    // a deterministic global shuffle position
    "q_epoch_stream" -> ((s, dir) =>
      OrderOps.epochStream(
        CorpusOps.epochRepeats(docs(s, dir), EpochWeights,
          budgetTokens = 100000L, salt = "epoch1"),
        salt = "estream")),

    // epoch scheduling: target source mixture -> deterministic integer
    // per-doc repeat counts (expected token mass == target)
    "q_epoch_repeats" -> ((s, dir) =>
      CorpusOps.epochRepeats(docs(s, dir), EpochWeights,
        budgetTokens = 100000L, salt = "epoch1")),

    // hard-negative mining: top-5 most-similar DIFFERENT-label
    // candidates per query vector (contrastive-training negatives)
    "q_hard_negatives" -> ((s, dir) => {
      val e = embeddings(s, dir)
      VectorOps.hardNegatives(e, e.filter(col("vec_id") < 8), k = 5)
    }),

    "q_shard_manifest" -> ((s, dir) => {
      // exercises the SINK path end-to-end: write the sharded training
      // export, read the written parquet back, and report the manifest
      // (per shard: row count + pos range). Fixed output dir keyed by
      // the sf dir so repeated bench runs overwrite instead of
      // accumulating temp copies.
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_shards_" + dir.replaceAll("[^A-Za-z0-9.]", "_")).toString
      OrderOps.writeShards(docs(s, dir), out, numShards = 4, salt = "sh1")
      s.read.parquet(out)
        .groupBy(col("shard").cast("int").as("shard"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("pos")).as("min_pos"), max(col("pos")).as("max_pos"))
    }),

    "q_text_normalize" -> ((s, dir) => {
      // the corpus itself is already clean ASCII, so append a suffix
      // with real work in it: mixed case, whitespace runs, a tab, and
      // a combining acute (e + U+0301) that NFC composes — identical
      // augmentation in the oracle
      val aug = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit("  CAFÉ  du\tMonde 42 ")).as("text"))
      TextOps.normalizeText(aug)
        .select(col("doc_id"), md5(col("norm_text")).as("norm_md5"),
          length(col("norm_text")).cast("long").as("n_chars_norm"))
    }),

    "q_source_mix" -> ((s, dir) =>
      // the same deterministic mixing primitive keyed on SOURCE
      // (domain-weighting) instead of language; "src3" absent from the
      // table exercises the default rate
      TextOps.stratifiedSample(docs(s, dir),
        Map("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.0), defaultRate = 0.75,
        keyCol = "source", salt = "mix2")
        .select(col("doc_id"), col("source"))),

    "q_pii_scrub" -> ((s, dir) => {
      // deterministic PII appended identically here and in the oracle
      // (the corpus itself has none), so the scrub has real matches:
      // one email, one IPv4, and a digit run whose length cycles 7/8/9
      // so n_longnums varies 0/0/1
      val aug = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact"), col("doc_id").cast("string"), lit("@example.com via 10."),
          (col("doc_id") % 200).cast("string"), lit(".0."),
          (col("doc_id") % 250).cast("string"), lit(" ref "),
          lpad(col("doc_id").cast("string"), (lit(7) + col("doc_id") % 3).cast("int"), lit("8"))
        ).as("text"))
      TextOps.scrubPii(aug)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_emails"), col("n_ips"), col("n_longnums"))
    }),

    // per-source PII risk inventory: every third doc gets the
    // deterministic synthetic PII (the corpus itself has none), so
    // the affected-share column reads a real ~1/3 per source
    "q_pii_inventory" -> ((s, dir) => {
      val aug = docs(s, dir).select(col("doc_id"), col("source"),
        when(col("doc_id") % 3 === 0, concat(col("text"),
          lit(" contact"), col("doc_id").cast("string"), lit("@example.com via 10."),
          (col("doc_id") % 200).cast("string"), lit(".0."),
          (col("doc_id") % 250).cast("string")))
          .otherwise(col("text")).as("text"))
      TextOps.piiInventory(aug)
    }),

    "q_multimodal_features" -> ((s, dir) => {
      val feats = Multimodal.extractFeatures(Multimodal.mediaFromDocuments(docs(s, dir)))
      // oracle-checkable projection; checksum/dims validated in ScalaTest
      feats.toDF().select(col("doc_id"), col("media_type"), col("byte_len"))
    }),

    "q_multimodal_decode" -> ((s, dir) => {
      // REAL decode: deterministic PNGs (dims derived from the id) are
      // pre-staged per sfDir, shipped as binary payloads, decoded with
      // javax.imageio in the batched kernel; the oracle predicts the
      // dims analytically
      import s.implicits._
      val media = stagedImages(s, dir).as[Multimodal.MediaRow]
      Multimodal.extractFeatures(media).toDF()
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"))
    }),

    "q_multimodal_patches" -> ((s, dir) => {
      // ViT patch prep over the REAL decode: 8x8 patch channel-sums,
      // integer-exact; the oracle replays the synthetic pixel formula
      import s.implicits._
      Multimodal.patchIntensitySums(
        stagedImages(s, dir).filter(col("doc_id") < PairLimit).as[Multimodal.MediaRow],
        patch = 8)
        .select(col("doc_id"), col("pj").cast("long").as("pj"),
          col("pi").cast("long").as("pi"), col("px_sum"))
    }),

    "q_multimodal_phash" -> ((s, dir) => {
      // REAL decode -> integer box-average 9x8 luma grid -> 64-bit
      // dHash; the oracle replays the synthetic PNG's closed pixel
      // formula and the same integer arithmetic in SQL, so the hash is
      // checked bit-exactly without an image codec in the oracle engine
      import s.implicits._
      Multimodal.imageHashes(stagedImages(s, dir).as[Multimodal.MediaRow])
    }),

    "q_multimodal_phash_pairs" -> ((s, dir) => {
      // perceptual near-dup pairs via the banded Hamming join (radius 6
      // -> 7 pigeonhole bands over the 64-bit signatures)
      import s.implicits._
      val sigs = Multimodal.imageHashes(stagedImages(s, dir).as[Multimodal.MediaRow])
      TextOps.hammingPairs(sigs.toDF("id", "sig"), sigBits = 64, maxHamming = 6)
        .toDF("id_a", "id_b", "hamming")
    }),

    "q_multimodal_dup_clusters" -> ((s, dir) => {
      // image-level dedup endpoint through the FULL exact-dup
      // quotient (dedupClustersByHamming): the banded pair join AND
      // the star-contraction CC both run on DISTINCT phashes (5.2x
      // member→class collapse measured on the 10x replica — the
      // member-graph pair join's bucket occupancy is quadratic in
      // exactly that identical-hash mass), labels broadcast back to
      // images through the hash key. Result provably identical to
      // member-graph CC over <= 6-bit Hamming edges.
      import s.implicits._
      val imgs = stagedImages(s, dir)
      val sigs = Multimodal.imageHashes(imgs.as[Multimodal.MediaRow])
      TextOps.dedupClustersByHamming(imgs.select(col("doc_id")), sigs,
        sigBits = 64, maxHamming = 6)
    }),

    "q_multimodal_resize" -> ((s, dir) => {
      // pre-staged PNG -> decode -> bilinear resize -> re-encode ->
      // decode again; the oracle predicts source dims analytically and
      // target dims by construction
      import s.implicits._
      val media = stagedImages(s, dir).filter(col("doc_id") < PairLimit)
        .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
        .map { case (id, png) =>
          val (w0, h0, _) = Multimodal.decodeImage(png).get
          val resized = Multimodal.resizeImage(png, 12, 9).get
          val (w1, h1, _) = Multimodal.decodeImage(resized).get
          (id, w0.toLong, h0.toLong, w1.toLong, h1.toLong)
        }
      media.toDF("doc_id", "src_w", "src_h", "dst_w", "dst_h")
    }),

    "q_multimodal_gif_frames" -> ((s, dir) => {
      // REAL multi-frame decode: animated GIFs (frame count derived
      // from the id) pre-staged per sfDir, frame counts recovered by
      // the ImageReader-based decode; the oracle predicts analytically
      import s.implicits._
      val media = stagedGifs(s, dir).as[Multimodal.MediaRow]
      Multimodal.extractFeatures(media).toDF()
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"))
    }),

    "q_multimodal_frames" -> ((s, dir) => {
      // REAL video frame extraction: walk the AVI movi list, decode
      // every '00dc' JPEG chunk with javax.imageio — one row per frame
      // with DECODED dims; the oracle predicts frame count and dims
      // analytically from the id
      import s.implicits._
      val media = stagedAvis(s, dir).as[Multimodal.MediaRow]
      Multimodal.sampleAviFrames(media)
        .select(col("doc_id"), col("frame_idx"),
          col("frame_w"), col("frame_h"))
    }),

    "q_multimodal_scene_cuts" -> ((s, dir) =>
      // REAL per-frame PNG decode into RGB arrays, adjacent-frame
      // |ΔR|+|ΔG|+|ΔB| integer sums, mean-per-pixel threshold; the
      // oracle replays the lossless pixel formula analytically
      Multimodal.frameDiffCuts(stagedFrameSeqs(s, dir), cutPerPixel = 64.0)),

    "q_multimodal_wav_energy" -> ((s, dir) => {
      // windowed PCM energy (256-sample frames, integer Σ s²) over
      // the real RIFF walk; analytic oracle replays the sample formula
      import s.implicits._
      Multimodal.wavWindowEnergy(stagedWavs(s, dir).as[Multimodal.MediaRow], window = 256)
        .select(col("doc_id"), col("win").cast("long").as("win"),
          col("n_samples").cast("long").as("n_samples"), col("energy"))
    }),

    "q_multimodal_image_entropy" -> ((s, dir) => {
      // luma-histogram entropy over REAL decoded pixels (the vision
      // quality gate); the oracle replays the synthetic pixel formula
      // and the same folded ln(n) - sum(c ln c)/n entropy form
      import s.implicits._
      Multimodal.imageEntropy(stagedImages(s, dir).as[Multimodal.MediaRow])
    }),

    "q_multimodal_vad" -> ((s, dir) => {
      // energy-gate VAD: 64-sample windows over the real PCM walk,
      // active iff exact energy > threshold*n (cross-multiplied),
      // consecutive actives merged gaps-and-islands into segments;
      // the oracle replays the sample formula and the same island key
      import s.implicits._
      Multimodal.vadSegments(
        Multimodal.wavWindowEnergy(
          stagedWavs(s, dir).as[Multimodal.MediaRow], window = 64),
        thresholdPerSample = 358000000L)
    }),

    "q_multimodal_audio_fp" -> ((s, dir) => {
      // band-energy audio fingerprint (Haitsma-Kalker-style sign of
      // the band-energy derivative, 65 bands -> 64 bits) over the
      // dedup pool (staged WAVs + planted perturbWav twins); the
      // oracle replays the synthetic sample formula AND the twin
      // attenuation analytically, bit for bit
      import s.implicits._
      Multimodal.audioFingerprints(stagedWavPool(s, dir).as[Multimodal.MediaRow])
    }),

    "q_multimodal_audio_cc_pairs" -> ((s, dir) => {
      // audio near-dup pairs via the same banded Hamming join as the
      // image phash face. Radius 2, not 6: the decode->re-encode twin
      // drift is EXACTLY 0 bits (measured over every planted twin),
      // so radius 2 keeps 100% planted recall with margin while
      // cutting the hamming-3..6 band that chains genuinely unrelated
      // clips into long components (measured: 11 CC rounds -> 3).
      // Built fresh (billed in this row, the q_dedup_cc_pairs
      // precedent) and memoized as a lineage cut for the CC row.
      audioPairMemo.rebuild(dir)(audioPairs(s, dir))
    }),

    "q_multimodal_audio_dup_clusters" -> ((s, dir) => {
      // audio dedup endpoint: fingerprint pairs feed the SAME
      // pointer-jumping connected components as text and image dedup
      // — cluster_id = min doc id reachable through <= 2-bit edges.
      // Exact-dup quotient first (dedupClustersBySig): equal
      // fingerprints collapse to their min-id class rep, so the
      // iterative rounds see the class graph (10x pool: 20k clips /
      // 147k pairs -> 8.2k classes / 12.2k pairs — 1x cost on 10x
      // data); reads the memoized pair cut (the cc_pairs billing
      // split). Result identical to member-graph CC.
      import s.implicits._
      val pool = stagedWavPool(s, dir)
      val sigs = Multimodal.audioFingerprints(pool.as[Multimodal.MediaRow])
      TextOps.dedupClustersBySig(pool.select(col("doc_id")), sigs,
        audioPairMemo(dir)(audioPairs(s, dir)))
    }),

    "q_multimodal_video_fp" -> ((s, dir) =>
      // per-frame dHash over the VIDEO dedup pool (lossless PNG frame
      // sequences + planted twins with every-97th-pixel blue-LSB
      // nudges); completes the text/image/audio/video fingerprint
      // matrix. The oracle replays the frame pixel formula, the twin
      // perturbation, and the integer box-average dHash bit for bit.
      Multimodal.frameHashes(stagedVideoPool(s, dir))),

    "q_multimodal_video_cc_pairs" -> ((s, dir) =>
      // video near-dup pairs: frame-ALIGNED banded Hamming join
      // (radius 2, frame_idx in the equi-join key) rolled up per video
      // pair under the strict-majority quorum 2*matched > min(nf).
      // The oracle is the EXHAUSTIVE aligned-frame Hamming join, so
      // banding provably loses no pair. Built fresh (billed in this
      // row) and memoized as a lineage cut for the clusters row.
      videoPairMemo.rebuild(dir)(videoPairs(s, dir))),

    "q_multimodal_video_dup_clusters" -> ((s, dir) => {
      // video dedup endpoint through the EXACT-DUP QUOTIENT: identical
      // frame-hash VECTORS (all frames, in order) collapse to min-id
      // equality classes before the star-contraction CC; labels = min
      // video id reachable through majority-matched pairs. Reads the
      // memoized pair cut (the audio cc_pairs billing split).
      val pool = stagedVideoPool(s, dir)
      val sigVec = Multimodal.frameHashes(pool)
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("frame_idx"), col("fp"))))
          .as("sig"))
      TextOps.dedupClustersBySig(
        pool.select(col("doc_id")).distinct(), sigVec,
        videoPairMemo(dir)(videoPairs(s, dir)))
    }),

    "q_multimodal_video_shingles" -> ((s, dir) => {
      // SHIFT-TOLERANT video dedup: frame-hash shingles (grams of 2
      // consecutive hashes, position-free) catch the trimmed-head
      // twins the aligned face misses by construction; n_shared =
      // exact gram-set intersection. The sig table is read k+2 times
      // inside the operator — cut once.
      Multimodal.sequenceShinglePairs(
        graft.model.Lineage.cutRetired(
          Multimodal.frameHashes(stagedVideoShiftPool(s, dir)),
          reliable = false), k = 2)
    }),

    "q_multimodal_video_dup_clusters_all" -> ((s, dir) => {
      // UNIFIED video dedup endpoint — the dedup-matrix contract the
      // per-evidence faces stop short of: ONE connected components
      // over the UNION of aligned quorum pairs and shingle quorum
      // pairs, computed over the COMBINED pool (base + blue-LSB
      // re-encode twins at +2^40 + head-cut re-upload twins at +2^41).
      // The aligned face alone calls the classic head-cut re-upload
      // "not a dup"; here the re-encode twin clusters through aligned
      // evidence AND the trimmed twin through shingle evidence, in the
      // same label space. ALIGNED evidence is INCREMENTAL: the
      // base-pool pair table is read from the memoized cc_pairs cut
      // (built once — the 100 TB arrival pattern) and only the DELTA
      // touching the shifted uploads is computed fresh
      // (videoNearDupPairsDelta: memo ∪ delta == full recompute,
      // A/B-pinned). Exact-dup quotient on the frame-hash vector
      // (identical vectors are aligned-quorum cliques, so the quotient
      // loses nothing) before the star-contraction CC.
      val basePool = stagedVideoPool(s, dir)
      val newPool = stagedVideoShiftPool(s, dir)
        .filter(col("doc_id") >= VideoShiftOffset)
      // ONE frame-decode pass and ONE cut over both pools (disjoint id
      // ranges: base + aligned twins < 2^41 <= shifted uploads); the
      // base/new sides are narrow filters of the materialized cut
      // instead of two separate decode jobs (r17 opt round)
      val allSigs = graft.model.Lineage.cutRetired(
        Multimodal.frameHashes(basePool.unionByName(newPool)),
        reliable = false)
      val baseSigs = allSigs.filter(col("doc_id") < VideoShiftOffset)
      val newSigs = allSigs.filter(col("doc_id") >= VideoShiftOffset)
      val alignedBase = videoPairMemo(dir)(videoPairs(s, dir))
        .select(col("id_a"), col("id_b"))
      val alignedDelta = Multimodal.videoNearDupPairsDelta(newSigs, baseSigs,
          maxHamming = 2)
        .select(col("id_a"), col("id_b"))
      val sigs = allSigs
      val shingled = Multimodal.sequenceShingleQuorumPairs(sigs, k = 2)
        .select(col("id_a"), col("id_b"))
      val sigVec = sigs.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("frame_idx"), col("fp"))))
          .as("sig"))
      TextOps.dedupClustersBySig(
        basePool.select(col("doc_id")).unionByName(
          newPool.select(col("doc_id"))).distinct(),
        sigVec, alignedBase.unionByName(alignedDelta).unionByName(shingled))
    }),

    "q_multimodal_audio_dup_clusters_all" -> ((s, dir) => {
      // UNIFIED audio dedup endpoint, same recipe: whole-clip
      // fingerprint pairs (radius 2 — catches the 1-ulp re-encode
      // twins at +2^40) UNIONED with window-energy shingle quorum
      // pairs (catches the 64-sample head-trim twins at +2^42, whose
      // whole-clip fingerprint the trim shifts beyond radius) feed one
      // CC over the combined pool; exact-dup quotient on the
      // fingerprint (equal fps are radius-0 pairs, so the quotient
      // loses nothing).
      import s.implicits._
      val pool = stagedWavPool(s, dir).unionByName(
        stagedWavTrimPool(s, dir).filter(col("doc_id") >= WavTrimOffset))
      // ONE decode pass: both dedup features (whole-clip fingerprint +
      // windowed energies) come out of a single PCM walk, cut once —
      // the separate audioFingerprints/wavWindowEnergy calls decoded
      // every payload twice and materialized two cuts (r17 opt round;
      // values bit-identical, see Multimodal.audioFpAndEnergies)
      val feats = graft.model.Lineage.cutRetired(
        Multimodal.audioFpAndEnergies(pool.as[Multimodal.MediaRow],
          bands = 65, window = 64), reliable = false)
      val sigs = feats.filter(col("fp").isNotNull)
        .select(col("doc_id"), col("fp"))
      val aligned = TextOps.hammingPairs(sigs.toDF("id", "sig"),
          sigBits = 64, maxHamming = 2)
        .toDF("id_a", "id_b", "hamming").select(col("id_a"), col("id_b"))
      val energies = feats.select(col("doc_id"),
          posexplode(col("energies")).as(Seq("win", "energy")))
        .select(col("doc_id"), col("win"), col("energy"))
      val shingled = Multimodal.sequenceShingleQuorumPairs(energies, k = 2)
        .select(col("id_a"), col("id_b"))
      TextOps.dedupClustersBySig(pool.select(col("doc_id")),
        sigs, aligned.unionByName(shingled))
    }),

    "q_multimodal_audio_shingles" -> ((s, dir) => {
      // SHIFT-TOLERANT audio dedup: shingles over the 64-sample window
      // ENERGY sequence (grams of 2 consecutive exact int64 energies,
      // position-free) catch the trimmed-head twins the whole-clip
      // fingerprint misses by construction — the audio member of the
      // shingle family. Energies cut once (read k+2 times inside).
      import s.implicits._
      Multimodal.sequenceShinglePairs(
        graft.model.Lineage.cutRetired(
          Multimodal.wavWindowEnergy(
            stagedWavTrimPool(s, dir).as[Multimodal.MediaRow], window = 64)
            .select(col("doc_id"), col("win"), col("energy")),
          reliable = false),
        k = 2)
    }),

    "q_multimodal_wav" -> ((s, dir) => {
      // REAL RIFF/WAVE parse: fmt chunk (rate/channels/bits) + every
      // 16-bit PCM sample decoded into a sum of absolute amplitudes;
      // the oracle replays the synthetic sample formula analytically
      import s.implicits._
      Multimodal.audioFeatures(stagedWavs(s, dir).as[Multimodal.MediaRow])
        .select(col("doc_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("n_samples"), col("duration_ms"), col("sum_abs"))
    }),

    "q_multimodal_avi" -> ((s, dir) => {
      // REAL AVI container parse: avih dims, strh fps (dwRate/dwScale),
      // counted movi chunks, plus the DECODED first-frame JPEG dims
      import s.implicits._
      Multimodal.videoFeatures(stagedAvis(s, dir).as[Multimodal.MediaRow])
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          col("fps").cast("long").as("fps"),
          col("frame0_w").cast("long").as("frame0_w"),
          col("frame0_h").cast("long").as("frame0_h"))
    }),

    // salted skew join: revenue per order priority through the
    // (key, salt) spread join — the oracle is the UNSALTED join, so
    // the check proves the skew pattern changes nothing
    "q_salted_join" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.ops.JoinUtils.saltedEquiJoin(li, ord, "l_orderkey", salts = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("revenue"))
    }),

    "q_tpch_q1" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("revenue"))),

    // TPC-H Q3 shape: segment-filtered customers (broadcast — the
    // dimension side is always the small side) onto the date-filtered
    // orders/lineitem shuffle join; top-10 by EXACT decimal revenue
    // (ties by orderkey) so the cut is bit-stable across engines.
    // Filters sit on the scans, so parquet gets both pushdowns.
    "q_tpch_q3" -> ((s, dir) => {
      val cut = lit("1998-01-01").cast("timestamp")
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderdate") < cut)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") > cut)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).as("rev_d"))
        .orderBy(col("rev_d").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("o_orderpriority"), col("rev_d").cast("double").as("revenue"))
    }),

    // TPC-H Q18 shape: large-volume orders — the aggregate-filtered
    // SEMI-join (the qualifying-key side is fact-sized at 100 TB, so
    // it stays a shuffle semi-join on the order key; nothing here is
    // broadcast by hint). l_quantity is integer-valued, so its double
    // sums are exact regardless of partial-aggregation order.
    "q_tpch_q18" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
      val big = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("sq"))
        .filter(col("sq") > 250).select(col("l_orderkey").as("bk"))
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_totalprice"))
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"))
      li.join(big, col("l_orderkey") === col("bk"), "left_semi")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_name"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .select(col("c_name"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("o_totalprice"), col("sum_qty"))
    }),

    // TPC-H Q5 shape: regional revenue by supplier nation — the
    // 6-table join with the co-nationality condition. Only the
    // guaranteed-tiny dims (region-filtered nation) are broadcast
    // explicitly; customer/supplier join sides are left to AQE, which
    // picks broadcast at harness scale and shuffle at 100 TB.
    "q_tpch_q5" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1997-01-01").cast("timestamp")
      val nat = s.read.parquet(s"$dir/nation.parquet")
        .join(broadcast(s.read.parquet(s"$dir/region.parquet")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_nationkey"))
      val supp = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey"), col("s_nationkey"))
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select(col("o_orderkey"), col("o_custkey"))
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
    }),

    // TPC-H Q6 shape: the forecasting-revenue-change scan — filter +
    // one global aggregate, NO join. The whole query must collapse to
    // a parquet scan with every predicate pushed (date, discount band,
    // quantity) and a two-column read schema; at 100 TB this is the
    // purest pushdown test in the suite.
    "q_tpch_q6" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(18,6)")).cast("double").as("revenue"))),

    // TPC-H Q7 shape: bilateral trade volume between two nation BLOCS
    // (even vs odd nationkey — the synthetic schema keeps the classic
    // two-sided shape while staying non-degenerate at every SF), by
    // supplier nation x customer nation x ship year. The two fact
    // scans join on the order key (shuffle); supplier and the tiny
    // nation table broadcast; the customer side is left to AQE (Q5's
    // contract: broadcast at harness scale, shuffle at 100 TB).
    "q_tpch_q7" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      val nat = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"), col("n_name"))
      val supp = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey"), col("s_nationkey"))
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_nationkey"))
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"))
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .filter((col("s_nationkey") % 2 === 0 && col("c_nationkey") % 2 === 1) ||
          (col("s_nationkey") % 2 === 1 && col("c_nationkey") % 2 === 0))
        .join(broadcast(nat.select(col("n_nationkey").as("snk"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("snk"))
        .join(broadcast(nat.select(col("n_nationkey").as("cnk"),
          col("n_name").as("cust_nation"))), col("c_nationkey") === col("cnk"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
    }),

    // TPC-H Q10 shape: returned-item revenue ranking — which customers
    // sent the most revenue back in a quarter. Date-filtered orders x
    // returnflag-filtered lineitem (both predicates on the scans for
    // pushdown) shuffle-join; customer enrichment left to AQE; nation
    // broadcast. Top 20 by EXACT decimal revenue, ties by custkey, so
    // the cut is bit-stable across engines.
    "q_tpch_q10" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1996-07-01").cast("timestamp")
      val nat = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"), col("n_name"))
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select(col("o_orderkey"), col("o_custkey"))
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).as("rev_d"))
        .orderBy(col("rev_d").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"),
          col("rev_d").cast("double").as("revenue"),
          col("c_acctbal"), col("n_name"))
    }),

    // TPC-H Q13 shape: customer order-count distribution (the
    // synthetic schema has no o_comment, so the NOT LIKE exclusion is
    // dropped — the distribution shape is what's anchored). Orders
    // aggregate by custkey first (fact-side shuffle), then a LEFT join
    // from customer keeps zero-order customers in the c_count=0
    // bucket; the final distribution aggregation is tiny.
    "q_tpch_q13" -> ((s, dir) => {
      val cnt = s.read.parquet(s"$dir/orders.parquet")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
      s.read.parquet(s"$dir/customer.parquet").select(col("c_custkey"))
        .join(cnt, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
    }),

    // TPC-H Q14 shape: promotion revenue share in a quarter — two
    // exact decimal sums over one date-filtered lineitem x part join,
    // ONE double division at the edge (both engines divide the same
    // exact integers). Part is a real dimension (fact/5 rows in
    // spec-TPC-H): the join side is left to AQE — broadcast here,
    // shuffle at 100 TB.
    "q_tpch_q14" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1996-04-01").cast("timestamp")
      val part = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey"), col("p_type"))
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      li.join(part, col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO",
            (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast("decimal(18,6)")).otherwise(lit(0).cast("decimal(18,6)")))
            .as("promo"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,6)")).as("total"))
        .select(round(lit(100.0) * col("promo").cast("double") /
          col("total").cast("double"), 6).as("promo_revenue_pct"))
    }),

    // TPC-H Q4 shape: order-priority checking — the EXISTS semi-join.
    // The qualifying side (returned lineitems) is fact-sized at 100 TB,
    // so the semi-join must stay a SHUFFLE semi on the order key, never
    // a broadcast; the date filter sits on the orders scan for pushdown.
    // (The synthetic lineitem has no commit/receipt dates, so "late"
    // is proxied by l_returnflag = 'R' — the plan shape is the anchor.)
    "q_tpch_q4" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1996-04-01").cast("timestamp")
      val ret = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
      s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .join(ret, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),

    // TPC-H Q8 shape: national market share — the widest join in the
    // suite (lineitem x orders x customer x nation x region x supplier
    // x nation2 x part = 8 tables). Dims broadcast (region-filtered
    // customer-nation map, supplier-nation map, type-filtered part);
    // the two fact scans shuffle on the order key. The share is two
    // exact decimal sums per year with one double division at the edge.
    "q_tpch_q8" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      val custNat = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(s.read.parquet(s"$dir/nation.parquet")
          .join(broadcast(s.read.parquet(s"$dir/region.parquet")
            .filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val suppNat = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(s.read.parquet(s"$dir/nation.parquet")
          .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("supp_nation"))
      val part = s.read.parquet(s"$dir/part.parquet")
        .filter(col("p_type") === "STANDARD").select(col("p_partkey"))
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
      val vol = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,6)")
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        // region membership is an existence test — semi-join keeps the
        // row width down; the side is customer-sized, left to AQE
        .join(custNat, col("o_custkey") === col("c_custkey"), "left_semi")
        .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", vol)
            .otherwise(lit(0).cast("decimal(18,6)"))).as("nat_vol"),
          sum(vol).as("all_vol"))
        .select(col("o_year"),
          round(col("nat_vol").cast("double") / col("all_vol").cast("double"), 6)
            .as("mkt_share"))
    }),

    // TPC-H Q12 shape: shipping-priority classification — the two-level
    // conditional aggregation after one fact-fact join (the synthetic
    // lineitem has no l_shipmode, so l_linestatus is the class column).
    // Both filters sit on the lineitem scan; the counts are exact longs.
    "q_tpch_q12" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1997-01-01").cast("timestamp")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_returnflag") === "N" &&
          col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select(col("l_orderkey"), col("l_linestatus"))
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderpriority"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority") === "1-URGENT" ||
            col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(col("o_orderpriority") =!= "1-URGENT" &&
            col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L))
            .as("low_line_count"))
    }),

    // TPC-H Q15 shape: top supplier — the max-over-aggregated-view
    // self-comparison. The per-supplier revenue view aggregates ONCE:
    // `localCheckpoint` materializes the supplier-sized view (the same
    // shared-table idiom as the LSH sweep), the 1-row max broadcasts
    // back onto it, and lineitem is never re-scanned for the scalar
    // (without the cut, the two uses canonicalize differently — the
    // join adds an isnotnull constraint — and ReuseExchange misses).
    // The equality cut compares EXACT decimals, so the winner set is
    // bit-stable across engines.
    "q_tpch_q15" -> ((s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1996-04-01").cast("timestamp")
      val rev = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).as("total_rev"))
        .localCheckpoint()
      val mx = rev.agg(max(col("total_rev")).as("mx"))
      val supp = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey"), col("s_name"))
      rev.join(broadcast(mx), col("total_rev") === col("mx"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev").cast("double").as("total_revenue"))
    }),

    // TPC-H Q17 shape: small-quantity-order revenue — the correlated
    // AVG subquery, decorrelated as an aggregate-then-join. The
    // threshold is computed from the ALREADY part-filtered lines (a
    // per-part avg is unchanged by a per-part restriction), so the
    // aggregation input is brand-selectivity smaller and the threshold
    // table is filtered-part-cardinality — too big to hint broadcast at
    // 100 TB, so both joins are left to AQE (broadcast at harness
    // scale, shuffle at 100 TB). l_quantity is integer-valued so the
    // avg (exact sum / exact count, one double division) is
    // bit-identical across engines.
    "q_tpch_q17" -> ((s, dir) => {
      val part = s.read.parquet(s"$dir/part.parquet")
        .filter(col("p_brand") === "Brand#5" && col("p_type") === "ECONOMY")
        .select(col("p_partkey"))
      val liq = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(part, col("l_partkey") === col("p_partkey"))
      val thresh = liq.groupBy(col("l_partkey").as("t_partkey"))
        .agg((lit(0.2) * avg(col("l_quantity"))).as("qty_lim"))
      liq.join(thresh, col("l_partkey") === col("t_partkey"))
        .filter(col("l_quantity") < col("qty_lim"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double") / 7.0, 6).as("avg_yearly"))
    }),

    // TPC-H Q19 shape: discounted revenue under DISJUNCTIVE predicate
    // bundles — three (brand, size-band, quantity-band) alternatives
    // OR'd together across the part x lineitem join. The join key stays
    // an equi-join on p_partkey (the OR is a post-join residual, never
    // a nested-loop condition); the per-side common bounds are left for
    // the optimizer's constraint propagation.
    "q_tpch_q19" -> ((s, dir) => {
      val part = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
      li.join(part, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 30)))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
    }),

    // TPC-H Q21 shape: suppliers who kept orders waiting — the
    // EXISTS ("some OTHER supplier shipped in this order") + NOT EXISTS
    // ("no OTHER supplier had a returned line") pair over the SAME
    // fact. Rewritten to ONE lineitem scan (r11 verdict #5): the pair
    // conditions are pure per-order set facts, so a per-(order,
    // supplier) aggregate + per-order window replaces the two
    // fact-vs-fact semi/anti joins — EXISTS other-supplier ⇔ the order
    // has ≥ 2 distinct suppliers; NOT EXISTS other-returned-supplier ⇔
    // the order's returned lines all come from THIS supplier (exactly 1
    // returned supplier, and this pair has r_cnt > 0). numwait counts
    // qualifying RETURNED LINES, i.e. sum(r_cnt). At 100 TB the fact
    // scan is the dominant term: this pays it once and shuffles only
    // the distinct-pair aggregate (map-side combined), vs three scans +
    // two fact-fact shuffle joins before. The window partitions by
    // order key — per-order group sizes are line-count-bounded, never
    // corpus-wide. ("late" proxied by l_returnflag = 'R' as in Q4.)
    "q_tpch_q21" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // ONE fact shuffle: repartitioning by order key up front means the
      // pair aggregate (clustering (o, s) ⊇ partitioning (o)) and both
      // per-order windows run exchange-free in the same stage, and the
      // orders semi-join reuses the same partitioning on the left side.
      val pairAgg = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("is_ret"))
        .repartition(col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(sum(col("is_ret")).as("r_cnt"))
      val byOrder = Window.partitionBy(col("l_orderkey"))
      val ordF = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
      val supp = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey"), col("s_name"))
      pairAgg
        .withColumn("n_supp", count(lit(1)).over(byOrder))
        .withColumn("n_ret_supp",
          sum(when(col("r_cnt") > 0L, 1L).otherwise(0L)).over(byOrder))
        .filter(col("r_cnt") > 0L && col("n_supp") >= 2L &&
          col("n_ret_supp") === 1L)
        .join(ordF, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(sum(col("r_cnt")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // TPC-H Q22 shape: global sales opportunity — the NOT EXISTS
    // anti-join plus a scalar-aggregate threshold (customers above the
    // positive-balance average with no RECENT orders — the synthetic
    // generator gives every customer at least one lifetime order, so
    // the window keeps the anti-join non-degenerate; c_mktsegment
    // stands in for the phone-prefix country code). The 1-row average
    // broadcasts onto the customer scan; the anti-join is on the
    // customer key against the fact-sized orders side (shuffle), with
    // the date filter pushed to that scan. The threshold divides an
    // EXACT decimal sum by an exact count, so the double cut is
    // bit-identical across engines.
    "q_tpch_q22" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY", "FURNITURE"))
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("avg_bal"))
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      cust.join(broadcast(avgBal), col("c_acctbal") > col("avg_bal"))
        .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
            .as("totacctbal"))
    }),

    // TPC-H Q2 shape: minimum-cost supplier — the correlated-MIN
    // subquery, decorrelated as a per-(part, supplier) cost aggregate
    // + per-part min + exact-equality join back (no partsupp table in
    // the synthetic schema, so "supply cost" is the supplier's best
    // unit price MIN(l_extendedprice / l_quantity) — one IEEE division
    // per line, bit-identical across engines, and MIN/equality over
    // those doubles is bit-stable). Region membership prunes the fact
    // scan through a broadcast semi-join; the part filter semi-joins
    // the fact EARLY (a per-part min is unchanged by a per-part
    // restriction); both aggregates and the min-join shuffle on the
    // part key; only the dim tables broadcast. Total ORDER BY (every
    // output key) keeps the LIMIT deterministic across engines.
    "q_tpch_q2" -> ((s, dir) => {
      val partF = s.read.parquet(s"$dir/part.parquet")
        .filter(col("p_type") === "STANDARD" && col("p_size") < 25)
        .select(col("p_partkey"), col("p_type"))
      val esupp = s.read.parquet(s"$dir/supplier.parquet")
        .join(broadcast(s.read.parquet(s"$dir/nation.parquet")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(s.read.parquet(s"$dir/region.parquet")
          .filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_partkey"), col("l_suppkey"),
          (col("l_extendedprice") / col("l_quantity")).as("uc"))
        .join(partF.select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .join(broadcast(esupp.select(col("s_suppkey"))),
          col("l_suppkey") === col("s_suppkey"), "left_semi")
      val cost = li.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("uc")).as("supply_cost"))
      val minc = cost.groupBy(col("l_partkey").as("mk"))
        .agg(min(col("supply_cost")).as("min_cost"))
      cost.join(minc, col("l_partkey") === col("mk") &&
          col("supply_cost") === col("min_cost"))
        .join(partF, col("l_partkey") === col("p_partkey"))
        .join(broadcast(esupp), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_type"), col("supply_cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // TPC-H Q9 shape: product-type profit by nation and year — the
    // widest join tree of the suite (lineitem × part × orders ×
    // supplier × nation) with a LIKE-filtered part cut ("supply cost"
    // proxied as 0.4 · p_retailprice · l_quantity; no partsupp). The
    // per-line profit is ONE double expression evaluated identically
    // in both engines, then cast to decimal(18,6) so the group sums
    // are exact and order-free. Part and orders joins stay AQE-sized
    // (both fact-scaled); supplier and nation broadcast.
    "q_tpch_q9" -> ((s, dir) => {
      val partW = s.read.parquet(s"$dir/part.parquet")
        .filter(col("p_name").contains("widget"))
        .select(col("p_partkey"), col("p_retailprice"))
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year"))
      val supp = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey"), col("s_nationkey"))
      val nat = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"), col("n_name"))
      s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(partW, col("l_partkey") === col("p_partkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), col("o_year"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
            lit(0.4) * col("p_retailprice") * col("l_quantity"))
          .cast("decimal(18,6)")).cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // TPC-H Q11 shape: important parts by value share — the
    // scalar-subquery HAVING. Per-part value aggregates ONCE over the
    // one-nation supplier semi-join (localCheckpoint: the Q15
    // shared-view idiom), the grand total folds from the PER-PART view
    // (supplier-bounded rows, not a second fact scan), broadcasts as
    // one row, and the share cut compares doubles derived from exact
    // decimal sums — identical in both engines. The 0.0001 share
    // threshold is scale-free: the query returns the same "important"
    // fraction at any corpus size.
    "q_tpch_q11" -> ((s, dir) => {
      val supp7 = s.read.parquet(s"$dir/supplier.parquet")
        .join(broadcast(s.read.parquet(s"$dir/nation.parquet")
          .filter(col("n_name").isin("NATION_3", "NATION_8", "NATION_12",
            "NATION_13"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val value = s.read.parquet(s"$dir/lineitem.parquet")
        .join(broadcast(supp7), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).as("val"))
        .localCheckpoint()
      val tot = value.agg(sum(col("val")).as("tot"))
      value.join(broadcast(tot),
          col("val").cast("double") > lit(0.0001) * col("tot").cast("double"))
        .select(col("l_partkey").as("p_partkey"),
          col("val").cast("double").as("part_value"))
        .orderBy(col("part_value").desc, col("p_partkey"))
    }),

    // TPC-H Q16 shape: supplier diversity by part attribute — COUNT
    // DISTINCT over a NOT-IN-pruned join (the complaint exclusion
    // proxied by negative-leaning balances: s_acctbal < 1000). The
    // excluded-supplier set is dim-sized and broadcast as an
    // anti-join; the distinct compresses (brand, type, size, supplier)
    // BEFORE the count aggregation, so the shuffle carries the
    // deduplicated attribute rows, never raw lineitem.
    "q_tpch_q16" -> ((s, dir) => {
      val bad = s.read.parquet(s"$dir/supplier.parquet")
        .filter(col("s_acctbal") < 1000.0).select(col("s_suppkey"))
      val partF = s.read.parquet(s"$dir/part.parquet")
        .filter(col("p_brand") =!= "Brand#3" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_partkey"), col("l_suppkey"))
        .join(partF, col("l_partkey") === col("p_partkey"))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .select(col("p_brand"), col("p_type"), col("p_size"), col("l_suppkey"))
        .distinct()
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(count(lit(1)).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // TPC-H Q20 shape: excess-concentration suppliers — the correlated
    // half-sum threshold (a (supplier, part) pair is flagged when its
    // 1996 shipped quantity exceeds half its all-time quantity),
    // computed from ONE conditional aggregation over a single
    // part-pruned fact scan (the real Q20 needs two correlated scans;
    // the conditional-sum decorrelation is the 100 TB form), then a
    // semi-join chain up to the nation-filtered supplier dim. Exact
    // decimal quantity sums; the half comparison is one identical
    // double product per pair.
    "q_tpch_q20" -> ((s, dir) => {
      val partR = s.read.parquet(s"$dir/part.parquet")
        .filter(col("p_name").contains("rod")).select(col("p_partkey"))
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1997-01-01").cast("timestamp")
      val sp = s.read.parquet(s"$dir/lineitem.parquet")
        .join(partR, col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(
          sum(when(col("l_shipdate") >= lo && col("l_shipdate") < hi,
            col("l_quantity")).otherwise(lit(0.0)).cast("decimal(18,2)"))
            .as("qty_1996"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("qty_all"))
      val over = sp.filter(col("qty_1996").cast("double") >
          lit(0.5) * col("qty_all").cast("double"))
        .select(col("l_suppkey")).distinct()
      s.read.parquet(s"$dir/supplier.parquet")
        .join(broadcast(s.read.parquet(s"$dir/nation.parquet")
          .filter(col("n_name").isin("NATION_3", "NATION_4", "NATION_5"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(over, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"), col("s_acctbal"))
        .orderBy(col("s_name"))
    }),

    "q_events_sessionize" -> ((s, dir) =>
      // 4-hour inactivity gap. toMicros normalizes whichever physical
      // ts type the driver shipped (int64 nanos or timestamp[us]) to
      // the integer micro ticks DuckDB's epoch_us(ts) produces, so
      // both engines compare equal ticks
      graft.events.EventOps.sessionize(
        graft.events.EventOps.toMicros(s.read.parquet(s"$dir/events.parquet")),
        gap = 4L * 3600 * 1000000L)
        .withColumnRenamed("start_ts", "start_us")
        .withColumnRenamed("end_ts", "end_us")),

    "q_events_asof" -> ((s, dir) =>
      // each purchase correlated to the user's most recent click at or
      // before it (left semantics: purchases without a prior click keep
      // null right columns); micros for cross-engine tick equality
      graft.events.EventOps.asofLatest(
        graft.events.EventOps.toMicros(s.read.parquet(s"$dir/events.parquet")),
        "purchase", "click")
        .withColumnRenamed("ts", "ts_us")
        .withColumnRenamed("b_ts", "b_ts_us")),

    // directed as-of with tolerance: each purchase correlated to the
    // user's NEXT click within the hour (post-event attribution) —
    // the pandas merge_asof(direction='forward', tolerance=...) shape
    "q_events_asof_fwd" -> ((s, dir) =>
      graft.events.EventOps.asofNearest(
        graft.events.EventOps.toMicros(s.read.parquet(s"$dir/events.parquet")),
        "purchase", "click", forward = true, toleranceUs = 3600L * 1000000L)
        .withColumnRenamed("ts", "ts_us")
        .withColumnRenamed("b_ts", "b_ts_us")),

    // attribution-window join: ALL clicks of the preceding hour, not
    // just the newest (1h = 3.6e9 micro ticks); streaming twin parity
    // is pinned in StreamSpec
    "q_events_interval" -> ((s, dir) =>
      graft.events.EventOps.intervalJoin(
        graft.events.EventOps.toMicros(s.read.parquet(s"$dir/events.parquet")),
        "purchase", "click",
        window = 3600L * 1000000L)
        .withColumnRenamed("l_ts", "l_ts_us")
        .withColumnRenamed("r_ts", "r_ts_us")),

    "q_events_json" -> ((s, dir) =>
      graft.events.EventOps.jsonFieldStats(s.read.parquet(s"$dir/events.parquet"))),

    // time-series regularization: 6h tick grid per user, forward fill
    // (6h = 21.6e9 micro ticks)
    "q_events_resample" -> ((s, dir) =>
      graft.events.EventOps.resampleEvents(
        graft.events.EventOps.toMicros(s.read.parquet(s"$dir/events.parquet")),
        step = 21600L * 1000000L)
        .withColumnRenamed("tick_ts", "tick_us")
        .withColumn("value", round(col("value"), 6))),

    "q_len_quantiles" -> ((s, dir) =>
      CorpusOps.lengthQuantiles(docs(s, dir), Seq(0.25, 0.5, 0.75, 0.9))),

    // relative quality threshold: drop each language's shortest
    // quartile (per-stratum exact percentile, broadcast cutoff table)
    "q_len_percentile_cut" -> ((s, dir) =>
      CorpusOps.lengthPercentileCut(docs(s, dir), p = 0.25)),

    // cross-source trigram overlap matrix: intersection, Jaccard,
    // containment for every unordered source pair (mirror detector)
    "q_source_overlap" -> ((s, dir) => TextOps.sourceOverlapMatrix(docs(s, dir), n = 3)),

    // top-20 bigram collocations with PMI (fixed ln-chain arithmetic)
    "q_bigram_pmi" -> ((s, dir) => TextOps.bigramPmi(docs(s, dir), minCount = 5L, topK = 20)),

    // COMPOSED training-prep endpoint: gopher hard gates -> dup-cluster
    // keepers (min-id) -> leakage-safe split, reported per split as
    // (n_docs, n_words) — one lazy DAG through three library operators
    "q_training_prep" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < PairLimit)
      val kept = TextOps.gopherRules(d).filter(col("keep"))
        .select(col("doc_id"), col("n_words"))
      val cl = clusters(s, dir)
      val keepers = cl.filter(col("cluster_id") === col("doc_id"))
        .select(col("doc_id"))
      val split = TextOps.leakageSafeSplit(cl, testPct = 10, valPct = 10,
        salt = "split1").select(col("doc_id"), col("split"))
      kept.join(keepers, "doc_id").join(split, "doc_id")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"))
    }),

    // threshold sweep: pair/doc counts at 0.7/0.8/0.9/0.95 from ONE
    // similarity join at the lowest threshold (dedup tuning report)
    "q_dedup_threshold_sweep" -> ((s, dir) =>
      TextOps.dedupThresholdSweep(docs(s, dir).filter(col("doc_id") < PairLimit),
        thresholds = Seq(0.7, 0.8, 0.9, 0.95))),

    // source spread of each dup family (>= 2 members): how many
    // distinct sources feed the same near-dup cluster — doc-level
    // mirror evidence, complementing the gram-level overlap matrix
    "q_cluster_source_spread" -> ((s, dir) =>
      clusters(s, dir)
        .join(docs(s, dir).select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("source")).as("n_sources"))
        .filter(col("n_docs") >= 2)),

    // leakage-safe split over the shared dup clustering: split keyed
    // by CLUSTER hash so near-dup families never straddle train/test;
    // per-split doc and cluster counts
    "q_leakage_split" -> ((s, dir) =>
      TextOps.leakageSafeSplit(
        clusters(s, dir),
        testPct = 10, valPct = 10, salt = "split1")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"))),

    // corpus novelty curve: distinct trigrams per arrival batch of 50
    // docs, split into first-seen-here vs carried-over
    "q_novelty_curve" -> ((s, dir) => TextOps.noveltyCurve(docs(s, dir), n = 3, bucketSize = 50L)),

    // MinHash estimator error: slot-agreement Jaccard estimate vs the
    // exact token-set Jaccard on every LSH candidate pair
    "q_minhash_est" -> ((s, dir) =>
      TextOps.minhashJaccardEst(docs(s, dir).filter(col("doc_id") < PairLimit),
        numHashes = 64, bands = 16)),

    // count-min sketch token frequencies: top-50 exact counts vs the
    // 4x512 sketch estimate; overest >= 0 always (CMS only over-counts)
    "q_cms_freq" -> ((s, dir) => TextOps.cmsTokenFreq(docs(s, dir), d = 4, w = 512, topK = 50)),

    // HLL distinct-shingle estimate per source, reported WITH the
    // exact count and measured relative error (integer-exact register
    // sum -> bit-identical estimate across engines)
    "q_hll_distinct_grams" -> ((s, dir) => TextOps.hllDistinctGrams(docs(s, dir), n = 3)),

    // persisted-sketch round trip: the corpus lands as THREE shards
    // (create + two appends) and the estimate reads sources × 256
    // merged register rows — max-merge is lossless by construction, so
    // the face hash-matches the one-pass oracle; storage is invisible
    "q_sketch_store_est" -> ((s, dir) => {
      val d = docs(s, dir)
      // one store per process: a path shared across processes lets a
      // concurrent run replace the files under this one's read. The
      // returned plan reads it lazily, so it is deleted at JVM exit.
      val st = s"${System.getProperty("java.io.tmpdir")}/graft-sketch-" +
        s"${ProcessHandle.current.pid}-${math.abs(dir.hashCode)}"
      graft.io.SketchIO.writeSketch(d.filter(col("doc_id") % 3 === 0), st, n = 3)
      val stPath = new org.apache.hadoop.fs.Path(st)
      stPath.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(stPath)
      graft.io.SketchIO.appendToSketch(d.filter(col("doc_id") % 3 === 1), st)
      graft.io.SketchIO.appendToSketch(d.filter(col("doc_id") % 3 === 2), st)
      graft.io.SketchIO.estimateFromStore(s, st)
    }),

    // weekly retention cohorts anchored on signup: per (cohort week,
    // offset 0..4), distinct active users and retention fraction;
    // bucket math in integer MICRO ticks (1 week = 6.048e11 us) —
    // identical buckets to the old nano form since ns = us * 1000
    "q_events_retention" -> ((s, dir) =>
      graft.events.EventOps.retentionCohorts(
        graft.events.EventOps.toMicros(s.read.parquet(s"$dir/events.parquet")),
        anchorType = "signup", bucket = 604800000000L, maxOffset = 4)),

    // ordered funnel view -> click -> purchase, each step within 24h
    // of the previous, earliest-completion semantics, integer micros
    "q_events_funnel" -> ((s, dir) =>
      graft.events.EventOps.funnel(
        graft.events.EventOps.toMicros(s.read.parquet(s"$dir/events.parquet")),
        steps = Seq("view", "click", "purchase"), within = 86400000000L)),

    "q_events_window" -> ((s, dir) => {
      // normalize ts to long micros whatever the physical parquet type,
      // convert to a timestamp for the tumbling window, output epoch
      // millis so the comparison is integer-exact across engines
      val ev = graft.events.EventOps.toMicros(s.read.parquet(s"$dir/events.parquet"))
        .withColumn("ts2", timestamp_micros(col("ts")))
      ev.groupBy(window(col("ts2"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .select((unix_timestamp(col("w.start")) * 1000).as("window_start_ms"),
          col("event_type"), col("n"), col("sum_value"))
    })
  )

  /** Interpolate a Scala Double bit-exactly (string parse, not a DECIMAL
    * literal).
    */
  private def d(v: Double): String = s"'$v'::DOUBLE"

  /** Epoch-repeats CTE chain ending in `rep(doc_id, source, n_tokens,
    * n_repeats)` — shared by the q_epoch_repeats oracle and the
    * q_epoch_stream oracle built on top of it. Ratio arithmetic in the
    * SAME order as [[graft.text.CorpusOps.epochRepeats]]
    * (w / wsum * budget / actual — each product rounds once).
    */
  private lazy val sqlEpochRepeatsCte: String = {
    val wValues = EpochWeights.toSeq.sorted
      .map { case (s, w) => s"('$s', ${d(w)})" }.mkString(", ")
    s"""t AS (
       |  SELECT doc_id, source, len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
       |  FROM documents
       |), w(source, w) AS (VALUES $wValues),
       |a AS (SELECT source, SUM(n_tokens) AS actual FROM t GROUP BY 1),
       |r AS (
       |  SELECT a.source,
       |    CASE WHEN a.actual > 0
       |      THEN COALESCE(w.w, 0.0) / 17.25 * 100000.0 / CAST(a.actual AS DOUBLE)
       |      ELSE 0.0 END AS ratio
       |  FROM a LEFT JOIN w USING (source)
       |),
       |rep AS (
       |  SELECT t.doc_id, t.source, CAST(t.n_tokens AS BIGINT) AS n_tokens,
       |    CAST(FLOOR(ratio) + CASE WHEN
       |      CAST(CAST(concat('0x', substr(md5('epoch1:' || CAST(t.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
       |        / 1152921504606846976.0 < ratio - FLOOR(ratio)
       |      THEN 1 ELSE 0 END AS BIGINT) AS n_repeats
       |  FROM t JOIN r USING (source)
       |)""".stripMargin
  }

  /** The band-independent MinHash prefix (tokw, toks, coef, mh, sig)
    * — shared by the single-config chain and the band sweep, which
    * derives every band count from the ONE `sig` table exactly like
    * the engine's materialized signature table.
    */
  /** Unrolled power-iteration stages over the exact covariance
    * numerator (see `q_embed_power_iter`): each stage is one integer
    * matvec (`n_t`), its max-abs normalizer (`m_t`), and the
    * round-half-away renormalized vector (`v_t`) — HUGEINT `//` on
    * non-negative operands matches BigInteger.divide exactly, the
    * covariance-micro idiom. Expects CTEs `f` (full numerator matrix)
    * and `v0` (start vector) in scope; emits the per-step union.
    */
  private def sqlPowerIterStages(steps: Int): String = {
    val stages = (1 to steps).map { t =>
      s"""n$t AS (
         |  SELECT f.i AS i, SUM(f.num * v${t - 1}.v) AS nv
         |  FROM f JOIN v${t - 1} ON v${t - 1}.i = f.j GROUP BY 1
         |),
         |m$t AS (SELECT MAX(ABS(nv)) AS m FROM n$t),
         |v$t AS (
         |  SELECT i, CASE WHEN nv < 0
         |    THEN -((2 * (-nv) * 1048576 + m) // (2 * m))
         |    ELSE  ((2 * nv    * 1048576 + m) // (2 * m)) END AS v
         |  FROM n$t, m$t
         |)""".stripMargin
    }.mkString(",\n")
    val sel = (0 to steps).map { t =>
      s"SELECT CAST($t AS BIGINT) AS step, i, CAST(v AS BIGINT) AS v_unit FROM v$t"
    }.mkString("\nUNION ALL\n")
    stages + "\n" + sel + "\nORDER BY step, i"
  }

  /** Unrolled MMR greedy-selection stages (see `q_mmr_rerank`):
    * expects CTEs `cand` (query_id, cand_id, simq_u micro-units) and
    * `ps` (pairwise candidate micro-unit cosines) in scope. Stage 1
    * picks raw relevance; stage t > 1 scores every unselected
    * candidate as `simq_u − max(ps to selected)` and picks the max
    * with ties to the smaller candidate id — integer comparisons only,
    * the exact kernel the Spark side runs per query.
    */
  private def sqlMmrStages(k: Int): String = {
    val head =
      """sel1 AS (
        |  SELECT query_id, cand_id, simq_u AS mmr_u FROM (
        |    SELECT query_id, cand_id, simq_u,
        |           ROW_NUMBER() OVER (PARTITION BY query_id
        |             ORDER BY simq_u DESC, cand_id) AS r
        |    FROM cand
        |  ) WHERE r = 1
        |)""".stripMargin
    val stages = (2 to k).map { t =>
      val selu = (1 until t).map(j =>
        s"SELECT query_id, cand_id FROM sel$j").mkString(" UNION ALL ")
      s"""selu${t - 1} AS ($selu),
         |sc$t AS (
         |  SELECT c.query_id, c.cand_id, c.simq_u - MAX(p.ps) AS score
         |  FROM cand c
         |  JOIN selu${t - 1} sl ON sl.query_id = c.query_id
         |  JOIN ps p ON p.query_id = c.query_id
         |    AND p.id_a = c.cand_id AND p.id_b = sl.cand_id
         |  LEFT JOIN selu${t - 1} ex
         |    ON ex.query_id = c.query_id AND ex.cand_id = c.cand_id
         |  WHERE ex.cand_id IS NULL
         |  GROUP BY c.query_id, c.cand_id, c.simq_u
         |),
         |sel$t AS (
         |  SELECT query_id, cand_id, score AS mmr_u FROM (
         |    SELECT query_id, cand_id, score,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY score DESC, cand_id) AS r
         |    FROM sc$t
         |  ) WHERE r = 1
         |)""".stripMargin
    }
    val sel = (1 to k).map { t =>
      s"SELECT query_id, CAST($t AS BIGINT) AS rank, cand_id, mmr_u FROM sel$t"
    }.mkString("\nUNION ALL\n")
    (Seq(head) ++ stages).mkString(",\n") + "\n" + sel +
      "\nORDER BY query_id, rank"
  }

  private def sqlMinhashSigCtes(
      numHashes: Int, probeCond: String = s"doc_id < $PairLimit"): String = {
    val coefValues = TextOps.minhashCoefficients(numHashes).zipWithIndex
      .map { case ((a, b), k) => s"($k, $a, $b)" }.mkString(", ")
    s"""tokw AS (
       |  SELECT DISTINCT doc_id AS id, w FROM (
       |    SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |    FROM documents WHERE $probeCond
       |  )
       |), toks AS (
       |  SELECT DISTINCT id, CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS h
       |  FROM tokw
       |), coef(k, a, b) AS (VALUES $coefValues),
       |mh AS (
       |  SELECT id, k,
       |         CAST(MIN((CAST(a AS HUGEINT) * h + b) % 2305843009213693952) AS BIGINT) AS mn
       |  FROM toks, coef GROUP BY 1, 2
       |), sig AS (
       |  SELECT id, list(mn ORDER BY k) AS sg FROM mh GROUP BY 1
       |)""".stripMargin
  }

  /** Per-band-count CTE suffix (banded/cand/inter, names suffixed so a
    * sweep can instantiate several): the banding projection of `sig`,
    * the bucket self-join, and candidate verification counts.
    */
  private def sqlBandCtes(
      numHashes: Int, bands: Int, sfx: String,
      candCond: String = "a.id < b.id"): String = {
    val rows = numHashes / bands
    s"""banded$sfx AS (
       |  SELECT id, md5('b' || b || ',' || array_to_string(list_slice(sg, b*$rows+1, b*$rows+$rows), ',')) AS bucket
       |  FROM sig, range(0, $bands) t(b)
       |), cand$sfx AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM banded$sfx a JOIN banded$sfx b ON a.bucket = b.bucket AND $candCond
       |), inter$sfx AS (
       |  SELECT c.id_a, c.id_b, COUNT(*) AS c
       |  FROM cand$sfx c
       |  JOIN tokw ta ON ta.id = c.id_a
       |  JOIN tokw tb ON tb.id = c.id_b AND tb.w = ta.w
       |  GROUP BY 1, 2
       |)""".stripMargin
  }

  /** Shared CTE chain for the MinHash banding oracles: token table →
    * signatures → band buckets → candidate pairs → sizes → candidate
    * intersections. Reused by the LSH pair oracle and the banding
    * quality oracle so their candidate stages are literally the same
    * SQL.
    */
  private def sqlMinhashCtes(
      numHashes: Int, bands: Int,
      candCond: String = "a.id < b.id"): String =
    sqlMinhashSigCtes(numHashes) + ",\n" +
      sqlBandCtes(numHashes, bands, "", candCond) + ",\n" +
      "sizes AS (SELECT id, COUNT(*) AS sz FROM tokw GROUP BY 1)"

  /** DuckDB oracle for the minhash-LSH dedup: signatures are exactly
    * reproducible because the token hash is an md5 prefix and the
    * permutation hash `(a*h+b) mod 2^64 mod 2^61` equals the exact
    * 128-bit product mod 2^61 (2^61 divides 2^64), i.e. HUGEINT-mod;
    * band buckets are md5 strings in both engines.
    */
  private def sqlMinhashLsh(numHashes: Int, bands: Int, threshold: Double): String =
    s"""WITH ${sqlMinhashCtes(numHashes, bands)}
       |SELECT id_a, id_b, ROUND(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard
       |FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
       |WHERE c * 1.0 / (sa.sz + sb.sz - c) >= $threshold
       |ORDER BY 1, 2""".stripMargin

  /** Banding quality: the same cand/inter CTEs plus the full exact
    * pair join, reduced to one summary row of counts + ratios.
    */
  private def sqlLshQuality(numHashes: Int, bands: Int, threshold: Double): String =
    s"""WITH ${sqlMinhashCtes(numHashes, bands)},
       |lsh AS (
       |  SELECT id_a, id_b
       |  FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
       |  WHERE c * 1.0 / (sa.sz + sb.sz - c) >= $threshold
       |), exact0 AS (
       |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
       |  FROM tokw a JOIN tokw b ON a.w = b.w AND a.id < b.id GROUP BY 1, 2
       |), exact AS (
       |  SELECT id_a, id_b
       |  FROM exact0 JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
       |  WHERE c * 1.0 / (sa.sz + sb.sz - c) >= $threshold
       |)
       |SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
       |       (SELECT COUNT(*) FROM cand) AS n_cand,
       |       (SELECT COUNT(*) FROM lsh) AS n_pairs,
       |       ROUND((SELECT COUNT(*) FROM lsh) * 1.0 /
       |             GREATEST((SELECT COUNT(*) FROM cand), 1), 6) AS precision,
       |       ROUND((SELECT COUNT(*) FROM lsh) * 1.0 /
       |             GREATEST((SELECT COUNT(*) FROM exact), 1), 6) AS recall""".stripMargin

  /** Oracle for [[graft.text.TextOps.lshBandSweep]]: the shared sig
    * prefix, one banded/cand/inter suffix per band count, the shared
    * exact join, and a UNION ALL of per-band summary rows.
    */
  private def sqlLshBandSweep(
      numHashes: Int, bandsList: Seq[Int], threshold: Double): String = {
    val perBand = bandsList.map(b =>
      sqlBandCtes(numHashes, b, s"_$b")).mkString(",\n")
    val rows = bandsList.map { b =>
      s"""SELECT CAST($b AS BIGINT) AS bands,
         |  (SELECT COUNT(*) FROM exact) AS n_exact,
         |  (SELECT COUNT(*) FROM cand_$b) AS n_cand,
         |  (SELECT COUNT(*) FROM lsh_$b) AS n_pairs,
         |  ROUND((SELECT COUNT(*) FROM lsh_$b) * 1.0 /
         |        GREATEST((SELECT COUNT(*) FROM cand_$b), 1), 6) AS precision,
         |  ROUND((SELECT COUNT(*) FROM lsh_$b) * 1.0 /
         |        GREATEST((SELECT COUNT(*) FROM exact), 1), 6) AS recall""".stripMargin
    }.mkString("\nUNION ALL\n")
    val lshCtes = bandsList.map { b =>
      s"""lsh_$b AS (
         |  SELECT id_a, id_b
         |  FROM inter_$b JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
         |  WHERE c * 1.0 / (sa.sz + sb.sz - c) >= $threshold
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${sqlMinhashSigCtes(numHashes, DocProbeSql)},
       |$perBand,
       |sizes AS (SELECT id, COUNT(*) AS sz FROM tokw GROUP BY 1),
       |$lshCtes,
       |exact0 AS (
       |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
       |  FROM tokw a JOIN tokw b ON a.w = b.w AND a.id < b.id GROUP BY 1, 2
       |), exact AS (
       |  SELECT id_a, id_b
       |  FROM exact0 JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
       |  WHERE c * 1.0 / (sa.sz + sb.sz - c) >= $threshold
       |)
       |$rows
       |ORDER BY bands""".stripMargin
  }

  /** Single-table LSH ANN CTE chain ending in `ann` (query_id,
    * cand_id, sim rank ≤ k) — shared by the ANN top-k oracle and the
    * kNN-degree oracle.
    */
  private def sqlAnnTopCte(numPlanes: Int, dims: Int, k: Int): String = {
    val planeValues = (for {
      p <- 0 until numPlanes
      dim <- 0 until dims
    } yield s"($p, $dim, ${d(VectorOps.planeComponent(p, dim))})").mkString(", ")
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE $VecProbeSql
       |), pc(p, dd, comp) AS (VALUES $planeValues),
       |pl AS (SELECT p, list(comp ORDER BY dd) AS pv FROM pc GROUP BY p),
       |buck AS (
       |  SELECT e.vec_id,
       |         SUM(CASE WHEN list_dot_product(e.v, pl.pv) > 0
       |             THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS bucket
       |  FROM e, pl GROUP BY 1
       |), wb AS (
       |  SELECT e.vec_id, e.v, b.bucket FROM e JOIN buck b ON b.vec_id = e.vec_id
       |), pairs AS (
       |  SELECT a.vec_id AS query_id, c.vec_id AS cand_id,
       |         list_cosine_similarity(a.v, c.v) AS sim
       |  FROM wb a JOIN wb c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
       |), ann AS (
       |  SELECT query_id, cand_id, sim FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rn
       |    FROM pairs
       |  ) WHERE rn <= $k
       |)""".stripMargin
  }

  /** DuckDB oracle for the LSH ANN top-k: the hyperplanes are a
    * deterministic sin lattice, interpolated bit-exactly from the JVM's
    * values, so buckets and reranks are fully reproducible in SQL.
    */
  private def sqlAnnLsh(numPlanes: Int, dims: Int, k: Int): String =
    s"""WITH ${sqlAnnTopCte(numPlanes, dims, k)}
       |SELECT query_id, cand_id, ROUND(sim, 6) AS sim
       |FROM ann ORDER BY query_id, cand_id""".stripMargin

  /** Multi-probe LSH CTE chain through `pairs`: the single-index
    * buckets of [[sqlAnnTopCte]] plus a probe set per query = own
    * bucket ∪ the numPlanes Hamming-1 flips, mirroring
    * [[VectorOps.annTopKMultiProbe]].
    */
  private def sqlAnnMpPairsCte(numPlanes: Int, dims: Int): String = {
    val planeValues = (for {
      p <- 0 until numPlanes
      dim <- 0 until dims
    } yield s"($p, $dim, ${d(VectorOps.planeComponent(p, dim))})").mkString(", ")
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id < $PairLimit
       |), pc(p, dd, comp) AS (VALUES $planeValues),
       |pl AS (SELECT p, list(comp ORDER BY dd) AS pv FROM pc GROUP BY p),
       |buck AS (
       |  SELECT e.vec_id,
       |         SUM(CASE WHEN list_dot_product(e.v, pl.pv) > 0
       |             THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS bucket
       |  FROM e, pl GROUP BY 1
       |), probes AS (
       |  SELECT vec_id, bucket FROM buck
       |  UNION ALL
       |  SELECT b.vec_id, xor(b.bucket, CAST(1 AS BIGINT) << pl.p) AS bucket
       |  FROM buck b, pl
       |), pairs AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |         list_cosine_similarity(qe.v, ce.v) AS sim
       |  FROM probes q
       |  JOIN buck c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
       |  JOIN e qe ON qe.vec_id = q.vec_id
       |  JOIN e ce ON ce.vec_id = c.vec_id
       |)""".stripMargin
  }

  private def sqlAnnMultiProbe(numPlanes: Int, dims: Int, k: Int): String =
    s"""WITH ${sqlAnnMpPairsCte(numPlanes, dims)},
       |ann AS (
       |  SELECT query_id, cand_id, sim FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rn
       |    FROM pairs
       |  ) WHERE rn <= $k
       |)
       |SELECT query_id, cand_id, ROUND(sim, 6) AS sim
       |FROM ann ORDER BY query_id, cand_id""".stripMargin

  /** DuckDB oracle for the multi-table LSH ANN: per-table plane
    * lattices at disjoint offsets, per-table bucket joins, candidates
    * unioned distinct, exact rerank — mirroring [[VectorOps.annTopKMulti]].
    */
  private def sqlAnnLshMulti(numPlanes: Int, dims: Int, k: Int, tables: Int): String = {
    val planeValues = (for {
      t <- 0 until tables
      p <- 0 until numPlanes
      dim <- 0 until dims
    } yield s"($t, $p, $dim, ${d(VectorOps.planeComponent(t * numPlanes + p, dim))})")
      .mkString(", ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id < $PairLimit
       |), pc(t, p, dd, comp) AS (VALUES $planeValues),
       |pl AS (SELECT t, p, list(comp ORDER BY dd) AS pv FROM pc GROUP BY t, p),
       |buck AS (
       |  SELECT pl.t, e.vec_id,
       |         SUM(CASE WHEN list_dot_product(e.v, pl.pv) > 0
       |             THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS bucket
       |  FROM e, pl GROUP BY 1, 2
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS cand_id
       |  FROM buck a JOIN buck c ON a.t = c.t AND a.bucket = c.bucket
       |    AND a.vec_id <> c.vec_id
       |), pairs AS (
       |  SELECT cand.query_id, cand.cand_id,
       |         list_cosine_similarity(qe.v, ce.v) AS sim
       |  FROM cand JOIN e qe ON qe.vec_id = cand.query_id
       |  JOIN e ce ON ce.vec_id = cand.cand_id
       |)
       |SELECT query_id, cand_id, ROUND(sim, 6) AS sim FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rn
       |  FROM pairs
       |) WHERE rn <= $k ORDER BY query_id, cand_id""".stripMargin
  }

  // Shared analytic dHash oracle chain: replays the synthetic PNG's
  // closed pixel formula and the decode-side integer box-average bit
  // for bit, ending in d(doc_id, dhash) with the signed bit-63 wrap
  private val sqlPhashD: String =
    """img AS (
      |  SELECT doc_id, 16 + doc_id % 32 AS w, 16 + doc_id % 17 AS h
      |  FROM documents WHERE doc_id % 3 = 0
      |), cell AS (
      |  SELECT i.doc_id, i.w, i.h, rr.r, cc.c,
      |    (cc.c * i.w) // 9 AS x0,
      |    GREATEST((cc.c * i.w) // 9 + 1, ((cc.c + 1) * i.w) // 9) AS x1,
      |    (rr.r * i.h) // 8 AS y0,
      |    GREATEST((rr.r * i.h) // 8 + 1, ((rr.r + 1) * i.h) // 8) AS y1
      |  FROM img i, unnest(generate_series(0, 7)) rr(r), unnest(generate_series(0, 8)) cc(c)
      |), g AS (
      |  SELECT doc_id, r, c,
      |    SUM(299 * (((x * 31 + y * 7 + doc_id) % 16777216) // 65536)
      |      + 587 * ((((x * 31 + y * 7 + doc_id) % 16777216) // 256) % 256)
      |      + 114 * (((x * 31 + y * 7 + doc_id) % 16777216) % 256)) // COUNT(*) AS gval
      |  FROM cell, unnest(generate_series(y0, y1 - 1)) yy(y),
      |    unnest(generate_series(x0, x1 - 1)) xx(x)
      |  GROUP BY 1, 2, 3
      |), sbits AS (
      |  SELECT a.doc_id,
      |    SUM(CASE WHEN a.gval > b.gval
      |      THEN CAST(1 AS HUGEINT) << (a.r * 8 + a.c) ELSE 0 END) AS raw
      |  FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
      |  WHERE a.c < 8
      |  GROUP BY 1
      |), d AS (
      |  SELECT doc_id, CAST(raw - CASE WHEN raw >= CAST(9223372036854775808 AS HUGEINT)
      |    THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END AS BIGINT) AS dhash
      |  FROM sbits
      |)""".stripMargin

  // Shared quality-gate mask chain (the q_quality_audit bits, ending
  // in m(doc_id, n, reason_mask)) — reused verbatim by the funnel so
  // the two faces can never drift
  private val sqlQualityMaskCte: String =
    """t AS (
      |  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents
      |), f AS (
      |  SELECT doc_id, lang,
      |    CAST(LEN(toks) AS BIGINT) AS n,
      |    CAST(COALESCE(list_sum(list_transform(toks, w -> LENGTH(w))), 0) AS BIGINT) AS wc,
      |    CAST(LEN(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
      |    CAST(LEN(list_intersect(list_distinct(toks),
      |         ['the','a','of','and','to','in','is','for','on','with'])) AS BIGINT) AS n_stop,
      |    CAST(GREATEST(LEN(toks) - 2, 0) AS BIGINT) AS ng
      |  FROM t
      |), tp AS (
      |  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top FROM (
      |    SELECT doc_id, w, COUNT(*) AS c
      |    FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY 1, 2
      |  ) GROUP BY 1
      |), dg AS (
      |  SELECT t.doc_id, CAST(COUNT(DISTINCT array_to_string(toks[k:k+2], ' ')) AS BIGINT) AS nd
      |  FROM t, unnest(generate_series(1, len(toks) - 2)) u(k)
      |  WHERE len(toks) >= 3 GROUP BY 1
      |), m AS (
      |  SELECT f.doc_id, f.n,
      |    (CASE WHEN f.n < 20 OR f.n > 100000 THEN 1 ELSE 0 END
      |     + CASE WHEN f.wc < 3 * f.n OR f.wc > 10 * f.n THEN 2 ELSE 0 END
      |     + CASE WHEN 5 * f.n_alpha < 4 * f.n THEN 4 ELSE 0 END
      |     + CASE WHEN f.n_stop < 2 THEN 8 ELSE 0 END
      |     + CASE WHEN 5 * COALESCE(tp.top, 0) > f.n THEN 16 ELSE 0 END
      |     + CASE WHEN 2 * (f.ng - COALESCE(dg.nd, 0)) > f.ng THEN 32 ELSE 0 END
      |     + CASE WHEN f.lang IS NULL OR f.lang <> 'en' THEN 64 ELSE 0 END) AS reason_mask
      |  FROM f LEFT JOIN tp ON tp.doc_id = f.doc_id
      |         LEFT JOIN dg ON dg.doc_id = f.doc_id
      |)""".stripMargin

  // Shared analytic audio-fingerprint oracle chain: the dedup pool
  // (audio docs + planted twins at +2^40), the synthetic 16-bit PCM
  // sample formula with the twin's every-97th-sample 1-ulp
  // attenuation, 65 integer band energies, and the sign-of-derivative
  // bits — ending in d(doc_id, fp) with the signed bit-63 wrap
  private val sqlAudioFpD: String =
    """pool AS (
      |  SELECT doc_id, doc_id AS src,
      |    (200 + doc_id % 300) * (1 + doc_id % 2) AS total, 0 AS twin
      |  FROM documents WHERE doc_id % 3 = 1
      |  UNION ALL
      |  SELECT doc_id + 1099511627776, doc_id,
      |    (200 + doc_id % 300) * (1 + doc_id % 2), 1
      |  FROM documents WHERE doc_id % 3 = 1 AND doc_id % 5 = 0
      |), sm AS (
      |  SELECT p.doc_id, (k.i * 65) // p.total AS band,
      |    CASE WHEN p.twin = 1 AND k.i % 97 = 0 THEN
      |      CASE WHEN ((k.i * 2347 + p.src * 17) % 65536) - 32768 > 0
      |        THEN ((k.i * 2347 + p.src * 17) % 65536) - 32769
      |        ELSE ((k.i * 2347 + p.src * 17) % 65536) - 32767 END
      |    ELSE ((k.i * 2347 + p.src * 17) % 65536) - 32768 END AS s
      |  FROM pool p, unnest(generate_series(0, p.total - 1)) k(i)
      |), e AS (
      |  SELECT doc_id, band, SUM(CAST(s AS BIGINT) * s) AS energy
      |  FROM sm GROUP BY 1, 2
      |), fbits AS (
      |  SELECT a.doc_id,
      |    SUM(CASE WHEN b.energy > a.energy
      |      THEN CAST(1 AS HUGEINT) << a.band ELSE 0 END) AS raw
      |  FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.band = a.band + 1
      |  WHERE a.band < 64
      |  GROUP BY 1
      |), d AS (
      |  SELECT doc_id, CAST(raw - CASE WHEN raw >= CAST(9223372036854775808 AS HUGEINT)
      |    THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END AS BIGINT) AS fp
      |  FROM fbits
      |)""".stripMargin

  // Shared analytic VIDEO frame-hash oracle chain: the video dedup
  // pool (frame-sequence docs + planted twins at +2^40 whose every
  // 97th pixel has its blue LSB nudged toward zero), the lossless PNG
  // frame pixel formula, the decode-side integer box-average dHash per
  // frame — ending in vd(doc_id, f, fp) with the signed bit-63 wrap
  private val sqlVideoFpD: String =
    """vpool AS (
      |  SELECT doc_id, doc_id AS src, 0 AS twin
      |  FROM documents WHERE doc_id % 3 = 2
      |  UNION ALL
      |  SELECT doc_id + 1099511627776, doc_id, 1
      |  FROM documents WHERE doc_id % 3 = 2 AND doc_id % 5 = 0
      |), vframe AS (
      |  SELECT doc_id, src, twin, 8 + src % 16 AS w, 8 + src % 11 AS h, k.f
      |  FROM vpool, unnest(generate_series(0, 2 + src % 5 - 1)) k(f)
      |), vcell AS (
      |  SELECT doc_id, src, twin, w, h, f, rr.r, cc.c,
      |    (cc.c * w) // 9 AS x0,
      |    GREATEST((cc.c * w) // 9 + 1, ((cc.c + 1) * w) // 9) AS x1,
      |    (rr.r * h) // 8 AS y0,
      |    GREATEST((rr.r * h) // 8 + 1, ((rr.r + 1) * h) // 8) AS y1
      |  FROM vframe, unnest(generate_series(0, 7)) rr(r), unnest(generate_series(0, 8)) cc(c)
      |), vg AS (
      |  SELECT doc_id, f, r, c,
      |    SUM(299 * (((x * 13 + y * 5 + f * 41 + src) % 16777216) // 65536)
      |      + 587 * ((((x * 13 + y * 5 + f * 41 + src) % 16777216) // 256) % 256)
      |      + 114 * (CASE WHEN twin = 1 AND (y * w + x) % 97 = 0 THEN
      |          CASE WHEN ((x * 13 + y * 5 + f * 41 + src) % 16777216) % 256 > 0
      |            THEN ((x * 13 + y * 5 + f * 41 + src) % 16777216) % 256 - 1
      |            ELSE ((x * 13 + y * 5 + f * 41 + src) % 16777216) % 256 + 1 END
      |          ELSE ((x * 13 + y * 5 + f * 41 + src) % 16777216) % 256 END)
      |    ) // COUNT(*) AS gval
      |  FROM vcell, unnest(generate_series(y0, y1 - 1)) yy(y),
      |    unnest(generate_series(x0, x1 - 1)) xx(x)
      |  GROUP BY 1, 2, 3, 4
      |), vbits AS (
      |  SELECT a.doc_id, a.f,
      |    SUM(CASE WHEN a.gval > b.gval
      |      THEN CAST(1 AS HUGEINT) << (a.r * 8 + a.c) ELSE 0 END) AS raw
      |  FROM vg a JOIN vg b ON a.doc_id = b.doc_id AND a.f = b.f
      |    AND a.r = b.r AND b.c = a.c + 1
      |  WHERE a.c < 8
      |  GROUP BY 1, 2
      |), vd AS (
      |  SELECT doc_id, f, CAST(raw - CASE WHEN raw >= CAST(9223372036854775808 AS HUGEINT)
      |    THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END AS BIGINT) AS fp
      |  FROM vbits
      |), vnf AS (
      |  SELECT doc_id, COUNT(*) AS nf FROM vd GROUP BY 1
      |), vp AS (
      |  SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_matched
      |  FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.f
      |    FROM vd a JOIN vd b ON a.f = b.f AND a.doc_id < b.doc_id
      |    WHERE bit_count(xor(a.fp, b.fp)) <= 2
      |  ) m
      |  JOIN vnf na ON na.doc_id = m.id_a
      |  JOIN vnf nb ON nb.doc_id = m.id_b
      |  GROUP BY id_a, id_b, na.nf, nb.nf
      |  HAVING COUNT(*) * 2 > LEAST(na.nf, nb.nf)
      |)""".stripMargin

  // Shared analytic chain for the UNIFIED video dedup endpoint: the
  // COMBINED pool (base frame sequences + blue-LSB re-encode twins at
  // +2^40 + head-cut twins at +2^41 whose frame j is the source's
  // j+shift), per-frame dHash (sf = f + shift in the pixel formula),
  // the aligned strict-majority quorum pairs (upair) AND the
  // gram-quorum shingle pairs (ushp) — the two edge sources one CC
  // unifies.
  private val sqlVideoAllD: String =
    """uvpool AS (
      |  SELECT doc_id, doc_id AS src, 0 AS twin, 0 AS shift, 2 + doc_id % 5 AS nf
      |  FROM documents WHERE doc_id % 3 = 2
      |  UNION ALL
      |  SELECT doc_id + 1099511627776, doc_id, 1, 0, 2 + doc_id % 5
      |  FROM documents WHERE doc_id % 3 = 2 AND doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 2199023255552, doc_id, 0, 1, 1 + doc_id % 5
      |  FROM documents WHERE doc_id % 3 = 2 AND doc_id % 5 = 1
      |), uframe AS (
      |  SELECT doc_id, src, twin, 8 + src % 16 AS w, 8 + src % 11 AS h,
      |         k.f, k.f + shift AS sf
      |  FROM uvpool, unnest(generate_series(0, nf - 1)) k(f)
      |), ucell AS (
      |  SELECT doc_id, src, twin, w, h, f, sf, rr.r, cc.c,
      |    (cc.c * w) // 9 AS x0,
      |    GREATEST((cc.c * w) // 9 + 1, ((cc.c + 1) * w) // 9) AS x1,
      |    (rr.r * h) // 8 AS y0,
      |    GREATEST((rr.r * h) // 8 + 1, ((rr.r + 1) * h) // 8) AS y1
      |  FROM uframe, unnest(generate_series(0, 7)) rr(r), unnest(generate_series(0, 8)) cc(c)
      |), ugv AS (
      |  SELECT doc_id, f, r, c,
      |    SUM(299 * (((x * 13 + y * 5 + sf * 41 + src) % 16777216) // 65536)
      |      + 587 * ((((x * 13 + y * 5 + sf * 41 + src) % 16777216) // 256) % 256)
      |      + 114 * (CASE WHEN twin = 1 AND (y * w + x) % 97 = 0 THEN
      |          CASE WHEN ((x * 13 + y * 5 + sf * 41 + src) % 16777216) % 256 > 0
      |            THEN ((x * 13 + y * 5 + sf * 41 + src) % 16777216) % 256 - 1
      |            ELSE ((x * 13 + y * 5 + sf * 41 + src) % 16777216) % 256 + 1 END
      |          ELSE ((x * 13 + y * 5 + sf * 41 + src) % 16777216) % 256 END)
      |    ) // COUNT(*) AS gval
      |  FROM ucell, unnest(generate_series(y0, y1 - 1)) yy(y),
      |    unnest(generate_series(x0, x1 - 1)) xx(x)
      |  GROUP BY 1, 2, 3, 4
      |), ubits AS (
      |  SELECT a.doc_id, a.f,
      |    SUM(CASE WHEN a.gval > b.gval
      |      THEN CAST(1 AS HUGEINT) << (a.r * 8 + a.c) ELSE 0 END) AS raw
      |  FROM ugv a JOIN ugv b ON a.doc_id = b.doc_id AND a.f = b.f
      |    AND a.r = b.r AND b.c = a.c + 1
      |  WHERE a.c < 8
      |  GROUP BY 1, 2
      |), ud AS (
      |  SELECT doc_id, f, CAST(raw - CASE WHEN raw >= CAST(9223372036854775808 AS HUGEINT)
      |    THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END AS BIGINT) AS fp
      |  FROM ubits
      |), unfr AS (
      |  SELECT doc_id, COUNT(*) AS nf FROM ud GROUP BY 1
      |), upair AS (
      |  SELECT id_a, id_b
      |  FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.f
      |    FROM ud a JOIN ud b ON a.f = b.f AND a.doc_id < b.doc_id
      |    WHERE bit_count(xor(a.fp, b.fp)) <= 2
      |  ) m
      |  JOIN unfr na ON na.doc_id = m.id_a
      |  JOIN unfr nb ON nb.doc_id = m.id_b
      |  GROUP BY id_a, id_b, na.nf, nb.nf
      |  HAVING COUNT(*) * 2 > LEAST(na.nf, nb.nf)
      |), ugram AS (
      |  SELECT DISTINCT a.doc_id, a.fp AS h1, b.fp AS h2
      |  FROM ud a JOIN ud b ON a.doc_id = b.doc_id AND b.f = a.f + 1
      |), ung AS (
      |  SELECT doc_id, COUNT(*) AS ng FROM ugram GROUP BY 1
      |), ushp AS (
      |  SELECT id_a, id_b FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      |    FROM ugram a JOIN ugram b
      |      ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2
      |  ) sp
      |  JOIN ung na ON na.doc_id = sp.id_a
      |  JOIN ung nb ON nb.doc_id = sp.id_b
      |  WHERE sp.n_shared * 2 > LEAST(na.ng, nb.ng)
      |)""".stripMargin

  // Shared analytic chain for the UNIFIED audio dedup endpoint: the
  // COMBINED pool (base WAVs + 1-ulp re-encode twins at +2^40 +
  // 64-sample head-trim twins at +2^42, replayed by i + shift in the
  // sample formula), whole-clip band-energy fingerprints with
  // radius-2 pairs (uapr) AND window-energy gram-quorum shingle
  // pairs (uashp).
  private val sqlAudioAllD: String =
    """uapool AS (
      |  SELECT doc_id, doc_id AS src, 0 AS twin, 0 AS shift,
      |    (200 + doc_id % 300) * (1 + doc_id % 2) AS total
      |  FROM documents WHERE doc_id % 3 = 1
      |  UNION ALL
      |  SELECT doc_id + 1099511627776, doc_id, 1, 0,
      |    (200 + doc_id % 300) * (1 + doc_id % 2)
      |  FROM documents WHERE doc_id % 3 = 1 AND doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 4398046511104, doc_id, 0, 64,
      |    (200 + doc_id % 300) * (1 + doc_id % 2) - 64
      |  FROM documents WHERE doc_id % 3 = 1 AND doc_id % 5 = 2
      |), uasm AS (
      |  SELECT p.doc_id, k.i, p.total,
      |    CASE WHEN p.twin = 1 AND k.i % 97 = 0 THEN
      |      CASE WHEN (((k.i + p.shift) * 2347 + p.src * 17) % 65536) - 32768 > 0
      |        THEN (((k.i + p.shift) * 2347 + p.src * 17) % 65536) - 32769
      |        ELSE (((k.i + p.shift) * 2347 + p.src * 17) % 65536) - 32767 END
      |    ELSE (((k.i + p.shift) * 2347 + p.src * 17) % 65536) - 32768 END AS s
      |  FROM uapool p, unnest(generate_series(0, p.total - 1)) k(i)
      |), uae AS (
      |  SELECT doc_id, (i * 65) // total AS band,
      |    SUM(CAST(s AS BIGINT) * s) AS energy
      |  FROM uasm GROUP BY 1, 2
      |), uafb AS (
      |  SELECT a.doc_id,
      |    SUM(CASE WHEN b.energy > a.energy
      |      THEN CAST(1 AS HUGEINT) << a.band ELSE 0 END) AS raw
      |  FROM uae a JOIN uae b ON a.doc_id = b.doc_id AND b.band = a.band + 1
      |  WHERE a.band < 64
      |  GROUP BY 1
      |), uad AS (
      |  SELECT doc_id, CAST(raw - CASE WHEN raw >= CAST(9223372036854775808 AS HUGEINT)
      |    THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END AS BIGINT) AS fp
      |  FROM uafb
      |), uapr AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM uad a JOIN uad b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.fp, b.fp)) <= 2
      |), uaw AS (
      |  SELECT doc_id, i // 64 AS win, SUM(CAST(s AS BIGINT) * s) AS energy
      |  FROM uasm GROUP BY 1, 2
      |), uag AS (
      |  SELECT DISTINCT a.doc_id, a.energy AS h1, b.energy AS h2
      |  FROM uaw a JOIN uaw b ON a.doc_id = b.doc_id AND b.win = a.win + 1
      |), uang AS (
      |  SELECT doc_id, COUNT(*) AS ng FROM uag GROUP BY 1
      |), uashp AS (
      |  SELECT id_a, id_b FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      |    FROM uag a JOIN uag b
      |      ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2
      |  ) sp
      |  JOIN uang na ON na.doc_id = sp.id_a
      |  JOIN uang nb ON nb.doc_id = sp.id_b
      |  WHERE sp.n_shared * 2 > LEAST(na.ng, nb.ng)
      |)""".stripMargin

  /** Oracle for [[graft.text.TextOps.bpeTrain]]: the iterative merge
    * loop UNROLLED as `merges` CTE stages. Stage i derives from the
    * previous symbol table s(i-1): pair counts (p_i), the winning pair
    * under the (count DESC, left, right) total order (t_i), candidate
    * positions (c_i), the greedy leftmost non-overlapping selection —
    * odd ranks within runs of consecutive candidate positions (sel_i)
    * — and the rewritten symbol table (s_i: merged symbol at a
    * selection start, consumed right-neighbors dropped, positions
    * renumbered). The final SELECT unions the `merges` one-row winner
    * tables into the learned merge table.
    */
  private def sqlBpeTrain(merges: Int, trainCond: String = "TRUE"): String =
    sqlBpeChain(merges, trainCond) + (1 to merges).map(i =>
        s"SELECT CAST($i AS BIGINT) AS merge_rank, l AS left_sym, " +
          s"r AS right_sym, cnt AS pair_count FROM t$i")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY merge_rank")

  /** Oracle for [[graft.text.TextOps.bpeEncode]]: the same unrolled
    * merge chain, then the final symbol table s(merges) collapses to
    * the word → token-count vocabulary and the corpus word stream
    * joins it — mirroring the engine's broadcast vocabulary join.
    */
  private def sqlBpeEncode(merges: Int): String =
    sqlBpeChain(merges) + s""",
      |vt AS MATERIALIZED (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS nt FROM s$merges GROUP BY 1
      |),
      |docw AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |  FROM documents
      |)
      |SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
      |       CAST(SUM(vt.nt) AS BIGINT) AS n_bpe_tokens,
      |       ROUND(SUM(vt.nt) * 1.0 / COUNT(*), 6) AS bpe_fertility
      |FROM docw d JOIN vt ON d.w = vt.w
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Oracle for [[graft.text.TextOps.wordpieceEncode]]: the same
    * unrolled merge chain yields the piece inventory (distinct final
    * symbols), then a RECURSIVE walk advances one greedy
    * longest-match step per iteration over each distinct word —
    * join the candidate pieces, keep MAX(len(sym)); a word whose walk
    * ends before len(w)+1 got stuck (no piece matched — the join
    * form drops it) and is an [UNK] word. nt is monotone in pos, so
    * MAX(nt) at the terminal row is the token count. (Join+GROUP BY
    * rather than a correlated MAX subquery: DuckDB 1.0.0 silently
    * returns no recursive-step rows when a correlated subquery in
    * the recursive term scans a CTE chained after a MATERIALIZED
    * one; the aggregate-join form binds correctly.)
    */
  private def sqlWordpieceEncode(merges: Int): String =
    "WITH RECURSIVE " + sqlBpeChain(merges).stripPrefix("WITH ") + s""",
      |vocabp AS MATERIALIZED (SELECT DISTINCT sym FROM s$merges),
      |wr AS MATERIALIZED (SELECT w FROM v),
      |walk AS (
      |  SELECT w, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS nt FROM wr
      |  UNION ALL
      |  SELECT w, pos + ml, nt + 1 FROM (
      |    SELECT wk.w, wk.pos, wk.nt, MAX(len(vp.sym)) AS ml
      |    FROM walk wk JOIN vocabp vp
      |      ON substring(wk.w, CAST(wk.pos AS INT), len(vp.sym)) = vp.sym
      |    WHERE wk.pos <= len(wk.w)
      |    GROUP BY 1, 2, 3
      |  )
      |),
      |wct AS MATERIALIZED (
      |  SELECT w,
      |    CASE WHEN MAX(pos) = len(w) + 1 THEN MAX(nt)
      |         ELSE CAST(1 AS BIGINT) END AS nt,
      |    CASE WHEN MAX(pos) = len(w) + 1 THEN CAST(0 AS BIGINT)
      |         ELSE CAST(1 AS BIGINT) END AS unk
      |  FROM walk GROUP BY w
      |),
      |docw AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |  FROM documents
      |)
      |SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
      |       CAST(SUM(c.nt) AS BIGINT) AS n_wp_tokens,
      |       CAST(SUM(c.unk) AS BIGINT) AS n_unk_words,
      |       ROUND(SUM(c.nt) * 1.0 / COUNT(*), 6) AS wp_fertility
      |FROM docw d JOIN wct c ON c.w = d.w
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Oracle for [[graft.text.PrefOps.bradleyTerry]]: the duel build,
    * pair matrix and Hunter-MM rounds unrolled as MATERIALIZED CTEs,
    * every step in the same integer micro-unit arithmetic (DuckDB `//`
    * and Spark `div` truncate identically on non-negative operands;
    * sums CAST back to BIGINT so no HUGEINT reaches the face).
    */
  /** Shared `scores` CTE of the marker-based language id (expects the
    * `tok` CTE in scope) — one definition so the prediction and its
    * confusion-matrix eval can never drift.
    */
  private lazy val sqlLangScoresCte: String = {
    val markers = TextOps.LangMarkers.toSeq.sortBy(_._1)
    val scoreSelects = markers.map { case (lang, ms) =>
      val inList = ms.map(m => s"'$m'").mkString(", ")
      s"""SELECT doc_id, '$lang' AS lang_pred,
         |       CAST(SUM(CASE WHEN w IN ($inList) THEN 1 ELSE 0 END) AS BIGINT) AS score
         |FROM tok GROUP BY 1""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"scores AS (\n$scoreSelects\n)"
  }

  private def sqlBradleyTerry(iters: Int): String =
    sqlBtChain(iters) + (
      s""",
        |tot AS MATERIALIZED (SELECT CAST(SUM(p) AS BIGINT) AS t FROM p$iters)
        |SELECT g.source, g.n_games, COALESCE(w.n_wins, 0) AS n_wins,
        |  pf.p AS strength_micro,
        |  CAST((pf.p * CAST(1000000 AS BIGINT)) // GREATEST(tot.t, 1) AS BIGINT)
        |    AS strength_ppm
        |FROM games g
        |LEFT JOIN wins w ON w.source = g.source
        |JOIN p$iters pf ON pf.source = g.source
        |CROSS JOIN tot
        |ORDER BY 1""".stripMargin)

  /** Oracle for [[graft.text.PrefOps.upsetReport]]: the same chain,
    * plus per-ordered-pair win counts and the favored-side comparison
    * against the round-`iters` strengths (ties favor `i`, the
    * lexicographically smaller side, as in the engine).
    */
  private def sqlPrefUpsets(iters: Int): String =
    sqlBtChain(iters) + (
      s""",
        |winpair AS MATERIALIZED (
        |  SELECT LEAST(sa, sb) AS i, GREATEST(sa, sb) AS j,
        |    CAST(SUM(CASE WHEN winner = LEAST(sa, sb) THEN 1 ELSE 0 END) AS BIGINT) AS wins_i,
        |    CAST(SUM(CASE WHEN winner = GREATEST(sa, sb) THEN 1 ELSE 0 END) AS BIGINT) AS wins_j,
        |    CAST(COUNT(*) AS BIGINT) AS nij
        |  FROM duels GROUP BY 1, 2
        |)
        |SELECT w.i, w.j, w.nij, w.wins_i, w.wins_j,
        |  CASE WHEN pj.p > pi.p THEN w.j ELSE w.i END AS fav,
        |  CAST((CASE WHEN pj.p > pi.p THEN w.wins_i ELSE w.wins_j END)
        |    * CAST(1000000 AS BIGINT) // GREATEST(w.nij, 1) AS BIGINT) AS upset_ppm
        |FROM winpair w
        |JOIN p$iters pi ON pi.source = w.i
        |JOIN p$iters pj ON pj.source = w.j
        |ORDER BY 1, 2""".stripMargin)

  /** Oracle for [[graft.text.PrefOps.prefCycles]]: the same duel
    * synthesis, per-pair strict-majority directions, the a<b<c
    * triangle join carrying orientation bits, and the circular-triad
    * test (chain edges agree, closing edge disagrees).
    */
  private val sqlPrefCycles: String =
    """WITH scored AS MATERIALIZED (
      |  SELECT doc_id, source,
      |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS ntok
      |  FROM documents
      |),
      |duels AS MATERIALIZED (
      |  SELECT a.source AS sa, b.source AS sb,
      |    CASE WHEN a.ntok >= b.ntok THEN a.source ELSE b.source END AS winner
      |  FROM scored a
      |  CROSS JOIN unnest(generate_series(1, 3)) o(off)
      |  JOIN scored b ON b.doc_id = a.doc_id + o.off
      |  WHERE a.source <> b.source
      |),
      |dec AS MATERIALIZED (
      |  SELECT i, j, wi > wj AS iwins FROM (
      |    SELECT LEAST(sa, sb) AS i, GREATEST(sa, sb) AS j,
      |      SUM(CASE WHEN winner = LEAST(sa, sb) THEN 1 ELSE 0 END) AS wi,
      |      SUM(CASE WHEN winner = GREATEST(sa, sb) THEN 1 ELSE 0 END) AS wj
      |    FROM duels GROUP BY 1, 2
      |  ) WHERE wi <> wj
      |),
      |tri AS (
      |  SELECT ab.iwins AS w_ab, bc.iwins AS w_bc, ac.iwins AS w_ac
      |  FROM dec ab
      |  JOIN dec bc ON bc.i = ab.j
      |  JOIN dec ac ON ac.i = ab.i AND ac.j = bc.j
      |),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
      |    CAST(COALESCE(SUM(CASE WHEN w_ab = w_bc AND w_ac <> w_ab
      |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cycles
      |  FROM tri
      |),
      |cont AS (
      |  SELECT CAST(COUNT(DISTINCT s) AS BIGINT) AS n_contestants FROM (
      |    SELECT sa AS s FROM duels UNION ALL SELECT sb FROM duels)
      |),
      |dp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_decided_pairs FROM dec)
      |SELECT n_contestants, n_decided_pairs, n_triangles, n_cycles,
      |  n_cycles * CAST(1000000 AS BIGINT) // GREATEST(n_triangles, 1) AS cyclic_ppm
      |FROM cont, dp, agg""".stripMargin

  private def sqlBtChain(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH scored AS MATERIALIZED (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS ntok
        |  FROM documents
        |),
        |duels AS MATERIALIZED (
        |  SELECT a.source AS sa, b.source AS sb,
        |    CASE WHEN a.ntok >= b.ntok THEN a.source ELSE b.source END AS winner
        |  FROM scored a JOIN scored b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 2 = 0 AND a.source <> b.source
        |),
        |pairs AS MATERIALIZED (
        |  SELECT LEAST(sa, sb) AS i, GREATEST(sa, sb) AS j,
        |    CAST(COUNT(*) AS BIGINT) AS nij
        |  FROM duels GROUP BY 1, 2
        |),
        |sym AS MATERIALIZED (
        |  SELECT i AS s, j AS o, nij FROM pairs
        |  UNION ALL SELECT j AS s, i AS o, nij FROM pairs
        |),
        |wins AS MATERIALIZED (
        |  SELECT winner AS source, CAST(COUNT(*) AS BIGINT) AS n_wins
        |  FROM duels GROUP BY 1
        |),
        |games AS MATERIALIZED (
        |  SELECT s AS source, CAST(SUM(nij) AS BIGINT) AS n_games
        |  FROM sym GROUP BY 1
        |),
        |p0 AS MATERIALIZED (
        |  SELECT source, CAST(1000000 AS BIGINT) AS p FROM games
        |)""".stripMargin)
    for (k <- 1 to iters) {
      sb.append(
        s""",
          |d$k AS MATERIALIZED (
          |  SELECT sym.s AS source,
          |    CAST(SUM((sym.nij * CAST(1000000000000 AS BIGINT))
          |      // GREATEST(pa.p + pb.p, 1)) AS BIGINT) AS denom
          |  FROM sym
          |  JOIN p${k - 1} pa ON pa.source = sym.s
          |  JOIN p${k - 1} pb ON pb.source = sym.o
          |  GROUP BY 1
          |),
          |p$k AS MATERIALIZED (
          |  SELECT d.source,
          |    CAST((COALESCE(w.n_wins, 0) * CAST(1000000000000 AS BIGINT))
          |      // GREATEST(d.denom, 1) AS BIGINT) AS p
          |  FROM d$k d LEFT JOIN wins w ON w.source = d.source
          |)""".stripMargin)
    }
    sb.toString
  }

  /** Vocab-patch candidates: the same trained chain and greedy walk
    * as [[sqlTokenizerOov]], but the drift is seven REPEATED novel
    * words (`doc_id % 7`) and the output ranks every OOV word by
    * occurrence mass with its greedy token count and projected
    * savings were it promoted to a single vocabulary entry.
    */
  private def sqlTokenizerPatch(merges: Int, topK: Int): String =
    "WITH RECURSIVE " + sqlBpeChain(merges, "doc_id % 2 = 0").stripPrefix("WITH ") + s""",
      |vocabp AS MATERIALIZED (SELECT DISTINCT sym FROM s$merges),
      |known AS MATERIALIZED (
      |  SELECT w FROM s$merges GROUP BY 1
      |),
      |top7 AS MATERIALIZED (
      |  SELECT w, ROW_NUMBER() OVER (ORDER BY n DESC, w) - 1 AS r FROM (
      |    SELECT w, COUNT(*) AS n FROM (
      |      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |      FROM documents
      |    ) GROUP BY 1 ORDER BY n DESC, w LIMIT 7
      |  )
      |),
      |drifted AS (
      |  SELECT d.doc_id,
      |    CASE WHEN d.doc_id % 2 = 1 THEN d.text || ' ' || t.w || t.w
      |         ELSE d.text END AS text
      |  FROM documents d LEFT JOIN top7 t ON t.r = d.doc_id % 7
      |),
      |docw AS MATERIALIZED (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |  FROM drifted
      |),
      |wr AS MATERIALIZED (
      |  SELECT DISTINCT d.w FROM docw d LEFT JOIN known k ON k.w = d.w
      |  WHERE k.w IS NULL
      |),
      |walk AS (
      |  SELECT w, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS nt FROM wr
      |  UNION ALL
      |  SELECT w, pos + ml, nt + 1 FROM (
      |    SELECT wk.w, wk.pos, wk.nt, MAX(len(vp.sym)) AS ml
      |    FROM walk wk JOIN vocabp vp
      |      ON substring(wk.w, CAST(wk.pos AS INT), len(vp.sym)) = vp.sym
      |    WHERE wk.pos <= len(wk.w)
      |    GROUP BY 1, 2, 3
      |  )
      |),
      |oovct AS MATERIALIZED (
      |  SELECT w,
      |    CASE WHEN MAX(pos) = len(w) + 1 THEN MAX(nt)
      |         ELSE CAST(1 AS BIGINT) END AS nt,
      |    CASE WHEN MAX(pos) = len(w) + 1 THEN CAST(0 AS BIGINT)
      |         ELSE CAST(1 AS BIGINT) END AS unk
      |  FROM walk GROUP BY w
      |)
      |SELECT d.w AS w, CAST(COUNT(*) AS BIGINT) AS n_occ,
      |       CAST(COUNT(DISTINCT d.doc_id) AS BIGINT) AS n_docs,
      |       MAX(c.nt) AS n_tokens_greedy, MAX(c.unk) AS is_unk,
      |       CAST(COUNT(*) * (MAX(c.nt) - 1) AS BIGINT) AS token_savings
      |FROM docw d JOIN oovct c ON c.w = d.w
      |GROUP BY 1 ORDER BY n_occ DESC, w LIMIT $topK""".stripMargin

  /** Stored-tokenizer OOV report: the BPE chain TRAINS on the even
    * half (`doc_id % 2 = 0`), known words take their merge-order
    * piece counts from the final state, out-of-vocabulary words take
    * the greedy walk against the piece inventory (the encodeStored
    * contract), and the rollup lands on source grain with the OOV
    * share in integer ppm.
    */
  private def sqlTokenizerOov(merges: Int): String =
    "WITH RECURSIVE " + sqlBpeChain(merges, "doc_id % 2 = 0").stripPrefix("WITH ") + s""",
      |vocabp AS MATERIALIZED (SELECT DISTINCT sym FROM s$merges),
      |known AS MATERIALIZED (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS nt FROM s$merges GROUP BY 1
      |),
      |drifted AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 2 = 1 THEN text || ' zq' || CAST(doc_id AS VARCHAR)
      |         ELSE text END AS text
      |  FROM documents
      |),
      |docw AS MATERIALIZED (
      |  SELECT doc_id, source,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |  FROM drifted
      |),
      |wr AS MATERIALIZED (
      |  SELECT DISTINCT d.w FROM docw d LEFT JOIN known k ON k.w = d.w
      |  WHERE k.w IS NULL
      |),
      |walk AS (
      |  SELECT w, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS nt FROM wr
      |  UNION ALL
      |  SELECT w, pos + ml, nt + 1 FROM (
      |    SELECT wk.w, wk.pos, wk.nt, MAX(len(vp.sym)) AS ml
      |    FROM walk wk JOIN vocabp vp
      |      ON substring(wk.w, CAST(wk.pos AS INT), len(vp.sym)) = vp.sym
      |    WHERE wk.pos <= len(wk.w)
      |    GROUP BY 1, 2, 3
      |  )
      |),
      |oovct AS MATERIALIZED (
      |  SELECT w,
      |    CASE WHEN MAX(pos) = len(w) + 1 THEN MAX(nt)
      |         ELSE CAST(1 AS BIGINT) END AS nt,
      |    CASE WHEN MAX(pos) = len(w) + 1 THEN CAST(0 AS BIGINT)
      |         ELSE CAST(1 AS BIGINT) END AS unk
      |  FROM walk GROUP BY w
      |),
      |wct AS (
      |  SELECT w, nt, CAST(0 AS BIGINT) AS oov, CAST(0 AS BIGINT) AS unk FROM known
      |  UNION ALL
      |  SELECT w, nt, CAST(1 AS BIGINT) AS oov, unk FROM oovct
      |)
      |SELECT d.source, CAST(COUNT(DISTINCT d.doc_id) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(c.nt) AS BIGINT) AS n_tokens,
      |  CAST(SUM(c.oov) AS BIGINT) AS n_oov_words,
      |  CAST(SUM(c.unk) AS BIGINT) AS n_unk_words,
      |  (CAST(SUM(c.oov) AS BIGINT) * 1000000) // CAST(COUNT(*) AS BIGINT) AS oov_ppm
      |FROM docw d JOIN wct c ON c.w = d.w
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The unrolled BPE merge-chain CTE prefix (occ, v, s0, then
    * p_i/t_i/c_i/sel_i/s_i per round) shared by the train and encode
    * oracles — one definition, so the learned merges and the encoding
    * can never disagree on greedy-application semantics.
    */
  private def sqlBpeChain(merges: Int, trainCond: String = "TRUE"): String = {
    // every stage CTE is MATERIALIZED: the merge chain references each
    // previous stage several times, and inlining (DuckDB's default)
    // would re-expand the base scan exponentially in the merge count
    val sb = new StringBuilder
    sb.append(
      s"""WITH occ AS MATERIALIZED (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |  FROM documents WHERE $trainCond
        |), v AS MATERIALIZED (SELECT w, COUNT(*) AS wc FROM occ GROUP BY 1),
        |s0 AS MATERIALIZED (
        |  SELECT w, wc, CAST(k AS BIGINT) AS pos,
        |         substring(w, CAST(k AS INT), 1) AS sym
        |  FROM v, unnest(generate_series(1, len(w))) u(k)
        |)""".stripMargin)
    for (i <- 1 to merges) {
      val p = i - 1
      sb.append(s""",
        |p$i AS MATERIALIZED (
        |  SELECT a.sym AS l, b.sym AS r, CAST(SUM(a.wc) AS BIGINT) AS cnt
        |  FROM s$p a JOIN s$p b ON a.w = b.w AND b.pos = a.pos + 1
        |  GROUP BY 1, 2
        |),
        |t$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
        |c$i AS MATERIALIZED (
        |  SELECT a.w, a.pos
        |  FROM s$p a JOIN s$p b ON a.w = b.w AND b.pos = a.pos + 1, t$i
        |  WHERE a.sym = t$i.l AND b.sym = t$i.r
        |),
        |sel$i AS MATERIALIZED (
        |  SELECT w, pos FROM (
        |    SELECT w, pos, ROW_NUMBER() OVER (PARTITION BY w, grp ORDER BY pos) AS rk
        |    FROM (SELECT w, pos,
        |            pos - ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS grp
        |          FROM c$i)
        |  ) WHERE rk % 2 = 1
        |),
        |s$i AS MATERIALIZED (
        |  SELECT s.w, s.wc,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY s.w ORDER BY s.pos) AS BIGINT) AS pos,
        |         CASE WHEN m.pos IS NOT NULL THEN (SELECT l || r FROM t$i)
        |              ELSE s.sym END AS sym
        |  FROM s$p s
        |  LEFT JOIN sel$i m ON s.w = m.w AND s.pos = m.pos
        |  LEFT JOIN sel$i q ON s.w = q.w AND s.pos = q.pos + 1
        |  WHERE q.pos IS NULL
        |)""".stripMargin)
    }
    sb.toString
  }

  /** The unrolled UNIGRAM-LM training chain shared by the three
    * unigram oracles ([[graft.text.UnigramOps]]): substring-frequency
    * seed (all single chars + top-`seedMulti` multis by (freq DESC,
    * piece ASC)), then per EM round a forward Viterbi DP and a
    * backward path walk as RECURSIVE CTEs, re-estimation, and the
    * next integer micro-nat cost table. The DP carries one packed
    * BIGINT per prefix (`cost*2048 + n_tokens`), so the optimum is a
    * single integer MIN and the backward step a single MAX(L) — the
    * exact rule the engine's row-local kernel implements.
    *
    * DuckDB 1.0.0 trap (same family as the wordpiece walk's note): a
    * recursive term that combines an inline `unnest(generate_series)`
    * lateral with a join to a computed MATERIALIZED CTE silently
    * produces zero recursive rows. The piece-length range is therefore
    * a tiny MATERIALIZED `ls` CTE cross-joined instead.
    *
    * Emits CTEs through `vocab$iters` (the trained model) plus one
    * final DP pair f/b`iters+1` under it for the segment/encode faces.
    */
  private def sqlUnigramChain(maxLen: Int, seedMulti: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH RECURSIVE occ AS MATERIALIZED (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |  FROM documents
        |),
        |v AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM occ GROUP BY 1),
        |subs AS MATERIALIZED (
        |  SELECT substring(w, CAST(i AS INT), CAST(L AS INT)) AS piece,
        |         CAST(SUM(wc) AS BIGINT) AS freq
        |  FROM v, unnest(generate_series(1, len(w))) ui(i),
        |       unnest(generate_series(1, $maxLen)) ul(L)
        |  WHERE i + L - 1 <= len(w)
        |  GROUP BY 1
        |),
        |chars0 AS MATERIALIZED (SELECT piece, freq FROM subs WHERE len(piece) = 1),
        |multi0 AS MATERIALIZED (
        |  SELECT piece, freq FROM subs WHERE len(piece) >= 2
        |  ORDER BY freq DESC, piece LIMIT $seedMulti
        |),
        |u0 AS MATERIALIZED (SELECT * FROM chars0 UNION ALL SELECT * FROM multi0),
        |tot0 AS MATERIALIZED (SELECT CAST(SUM(freq) AS DOUBLE) AS tot FROM u0),
        |vocab0 AS MATERIALIZED (
        |  SELECT piece, freq,
        |         CAST(ROUND(1000000 * ln(tot0.tot / freq)) AS BIGINT) AS cost
        |  FROM u0, tot0
        |),
        |ls AS MATERIALIZED (SELECT CAST(unnest(generate_series(1, $maxLen)) AS BIGINT) AS L)""".stripMargin)
    def dpPair(t: Int, vocab: String): Unit = sb.append(s""",
        |f$t AS (
        |  SELECT w, CAST(0 AS BIGINT) AS j, [CAST(0 AS BIGINT)] AS st FROM v
        |  UNION ALL
        |  SELECT w, j + 1, list_append(st, bv) FROM (
        |    SELECT f.w, f.j, ANY_VALUE(f.st) AS st,
        |           MIN(f.st[CAST(f.j + 2 - ls.L AS INT)] + vc.cost * 2048 + 1) AS bv
        |    FROM f$t f CROSS JOIN ls
        |    JOIN $vocab vc ON ls.L <= f.j + 1
        |      AND substring(f.w, CAST(f.j + 2 - ls.L AS INT), CAST(ls.L AS INT)) = vc.piece
        |    WHERE f.j < len(f.w)
        |    GROUP BY f.w, f.j
        |  )
        |),
        |fin$t AS MATERIALIZED (SELECT w, st FROM f$t WHERE j = len(w)),
        |b$t AS (
        |  SELECT w, st, CAST(len(w) AS BIGINT) AS j, CAST(NULL AS VARCHAR) AS piece FROM fin$t
        |  UNION ALL
        |  SELECT w, st, j - ml, substring(w, CAST(j - ml + 1 AS INT), CAST(ml AS INT)) FROM (
        |    SELECT b.w, ANY_VALUE(b.st) AS st, b.j, MAX(ls.L) AS ml
        |    FROM b$t b CROSS JOIN ls
        |    JOIN $vocab vc ON ls.L <= b.j
        |      AND substring(b.w, CAST(b.j - ls.L + 1 AS INT), CAST(ls.L AS INT)) = vc.piece
        |      AND b.st[CAST(b.j - ls.L + 1 AS INT)] + vc.cost * 2048 + 1 = b.st[CAST(b.j + 1 AS INT)]
        |    WHERE b.j > 0
        |    GROUP BY b.w, b.j
        |  )
        |)""".stripMargin)
    for (t <- 1 to iters) {
      dpPair(t, s"vocab${t - 1}")
      sb.append(s""",
        |em$t AS MATERIALIZED (
        |  SELECT b.piece, CAST(SUM(v.wc) AS BIGINT) AS emc
        |  FROM b$t b JOIN v ON v.w = b.w WHERE b.piece IS NOT NULL GROUP BY 1
        |),
        |u$t AS MATERIALIZED (
        |  SELECT c.piece, COALESCE(e.emc, 0) + 1 AS freq
        |  FROM chars0 c LEFT JOIN em$t e ON e.piece = c.piece
        |  UNION ALL
        |  SELECT m.piece, e.emc AS freq
        |  FROM vocab${t - 1} m JOIN em$t e ON e.piece = m.piece WHERE len(m.piece) >= 2
        |),
        |tot$t AS MATERIALIZED (SELECT CAST(SUM(freq) AS DOUBLE) AS tot FROM u$t),
        |vocab$t AS MATERIALIZED (
        |  SELECT piece, freq,
        |         CAST(ROUND(1000000 * ln(tot$t.tot / freq)) AS BIGINT) AS cost
        |  FROM u$t, tot$t
        |)""".stripMargin)
    }
    dpPair(iters + 1, s"vocab$iters")
    sb.toString
  }

  /** Oracle for [[graft.text.UnigramOps.unigramTrain]]. */
  private def sqlUnigramTrain(maxLen: Int, seedMulti: Int, iters: Int): String =
    sqlUnigramChain(maxLen, seedMulti, iters) +
      s"\nSELECT piece, freq, cost FROM vocab$iters ORDER BY piece"

  /** Oracle for [[graft.text.UnigramOps.unigramSegmentsFromVocab]]:
    * the backward walk's pieces reassembled left-to-right (the walk
    * emits a piece at its own start offset, so ORDER BY j ascending is
    * document order); wcost decoded from the packed final state
    * (`st // 2048`), nt from the emitted piece count — the two agree
    * by the packing invariant.
    */
  private def sqlUnigramSegment(maxLen: Int, seedMulti: Int, iters: Int): String = {
    val t = iters + 1
    sqlUnigramChain(maxLen, seedMulti, iters) + s""",
      |segs AS MATERIALIZED (
      |  SELECT b.w, string_agg(b.piece, ' ' ORDER BY b.j) AS seg,
      |         CAST(COUNT(*) AS BIGINT) AS nt
      |  FROM b$t b WHERE b.piece IS NOT NULL GROUP BY b.w
      |)
      |SELECT s.w, v.wc, s.seg, s.nt,
      |       (f.st[CAST(len(s.w) + 1 AS INT)] // 2048) AS wcost
      |FROM segs s JOIN v ON v.w = s.w JOIN fin$t f ON f.w = s.w
      |ORDER BY s.w""".stripMargin
  }

  /** Oracle for [[graft.text.UnigramOps.unigramEncodeFromVocab]]. */
  private def sqlUnigramEncode(maxLen: Int, seedMulti: Int, iters: Int): String = {
    val t = iters + 1
    sqlUnigramChain(maxLen, seedMulti, iters) + s""",
      |pw AS MATERIALIZED (
      |  SELECT b.w, CAST(COUNT(*) AS BIGINT) AS nt
      |  FROM b$t b WHERE b.piece IS NOT NULL GROUP BY b.w
      |),
      |docw AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |  FROM documents
      |)
      |SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
      |       CAST(SUM(p.nt) AS BIGINT) AS n_ug_tokens,
      |       CAST(SUM(f.st[CAST(len(d.w) + 1 AS INT)] // 2048) AS BIGINT) AS ug_cost,
      |       ROUND(SUM(p.nt) * 1.0 / COUNT(*), 6) AS ug_fertility
      |FROM docw d JOIN pw p ON p.w = d.w JOIN fin$t f ON f.w = d.w
      |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Oracle for [[graft.vector.VectorOps.knnLabelPropagation]]: the
    * shared ann CTE symmetrized, then `iters` unrolled rounds of
    * (vote count by (dst, label) → per-node argmax with ties to the
    * smallest label). The engine's `max(struct(votes, -label))`
    * aggregation and this ROW_NUMBER (votes DESC, label ASC) pick the
    * same winner — both are the lexicographic max of (votes, -label).
    */
  /** The shared LPA CTE chain (ann → sym → l0 → … → l`iters`) —
    * prefix of both the labelprop oracle and the modularity oracle.
    */
  private def sqlKnnLabelPropCtes(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH ${sqlAnnTopCte(8, 64, 5)},
         |sym AS (
         |  SELECT query_id AS src, cand_id AS dst FROM ann
         |  UNION
         |  SELECT cand_id AS src, query_id AS dst FROM ann
         |),
         |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM sym)""".stripMargin)
    for (i <- 1 to iters) {
      val p = i - 1
      sb.append(s""",
         |c$i AS (
         |  SELECT e.dst, l.lbl, COUNT(*) AS c
         |  FROM sym e JOIN l$p l ON l.node = e.src GROUP BY 1, 2
         |),
         |l$i AS (
         |  SELECT dst AS node, lbl FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY dst ORDER BY c DESC, lbl ASC) AS rn
         |    FROM c$i
         |  ) WHERE rn = 1
         |)""".stripMargin)
    }
    sb.toString
  }

  private def sqlKnnLabelProp(iters: Int): String =
    s"""${sqlKnnLabelPropCtes(iters)},
       |sizes AS (SELECT lbl, COUNT(*) AS comm_size FROM l$iters GROUP BY 1)
       |SELECT l$iters.node, l$iters.lbl AS community, s.comm_size
       |FROM l$iters JOIN sizes s ON s.lbl = l$iters.lbl ORDER BY 1""".stripMargin

  /** Oracle for [[graft.vector.VectorOps.knnModularity]]: the LPA CTE
    * chain, then HUGEINT-exact Newman terms and the micro-integer
    * half-away rounding (the covariance doctrine — no wide-int→double
    * cast anywhere).
    */
  private def sqlKnnModularity(iters: Int): String =
    s"""${sqlKnnLabelPropCtes(iters)},
       |deg AS (SELECT src, COUNT(*) AS d FROM sym GROUP BY 1),
       |m2t AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m2 FROM sym),
       |dct AS (
       |  SELECT l.lbl, SUM(CAST(deg.d AS HUGEINT)) AS dcv
       |  FROM deg JOIN l$iters l ON l.node = deg.src GROUP BY 1
       |),
       |sd AS (SELECT SUM(dcv * dcv) AS sdc2, COUNT(*) AS n_comms FROM dct),
       |it AS (
       |  SELECT CAST(COUNT(*) AS HUGEINT) AS intra
       |  FROM sym e
       |  JOIN l$iters a ON a.node = e.src
       |  JOIN l$iters b ON b.node = e.dst
       |  WHERE a.lbl = b.lbl
       |)
       |SELECT CAST(m2 AS BIGINT) AS n_edges_sym,
       |  CAST(n_comms AS BIGINT) AS n_comms,
       |  CAST(CASE WHEN intra * m2 - sdc2 < 0
       |    THEN -((2 * (sdc2 - intra * m2) * 1000000 + m2 * m2) // (2 * (m2 * m2)))
       |    ELSE  ((2 * (intra * m2 - sdc2) * 1000000 + m2 * m2) // (2 * (m2 * m2))) END
       |  AS DOUBLE) / 1000000.0 AS modularity
       |FROM m2t, sd, it""".stripMargin

  /** Oracle for [[graft.vector.VectorOps.knnBfsDepths]]: unrolled
    * frontier stages (v_d = neighbors of f_{d-1} minus everything
    * seen), one (dist, count) row per reached depth — the kcore-style
    * unrolling; no recursive CTE (the DuckDB 1.0.0
    * recursive+MATERIALIZED trap).
    */
  private def sqlKnnBfsDepths(maxDepth: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH ${sqlAnnTopCte(8, 64, 5)},
         |sym AS (
         |  SELECT query_id AS src, cand_id AS dst FROM ann
         |  UNION
         |  SELECT cand_id AS src, query_id AS dst FROM ann
         |),
         |f0 AS (
         |  SELECT DISTINCT src AS node FROM sym
         |  WHERE substr(md5(CAST(src AS VARCHAR)), 1, 1) = '0'
         |),
         |v0 AS (SELECT node, 0 AS dist FROM f0)""".stripMargin)
    for (d <- 1 to maxDepth) {
      val p = d - 1
      sb.append(s""",
         |f$d AS (
         |  SELECT DISTINCT e.dst AS node
         |  FROM sym e JOIN f$p ON f$p.node = e.src
         |  WHERE e.dst NOT IN (SELECT node FROM v$p)
         |),
         |v$d AS (
         |  SELECT * FROM v$p UNION ALL SELECT node, $d AS dist FROM f$d
         |)""".stripMargin)
    }
    sb.append(s"""
       |SELECT CAST(dist AS BIGINT) AS dist, COUNT(*) AS n_nodes
       |FROM v$maxDepth GROUP BY 1 ORDER BY 1""".stripMargin)
    sb.toString
  }

  /** Oracle for [[graft.vector.VectorOps.knnKCore]]: the shared ann
    * CTE symmetrized, then `rounds` unrolled peel stages — s_i keeps
    * nodes whose degree among s_{i-1} survivors is >= k (a node with
    * no surviving edge is absent from the degree table and thus
    * peeled), r_i anti-joins out the nodes stage i dropped. The final
    * LEFT JOIN tags every node with its removal stage (0 = core).
    */
  private def sqlKnnKCore(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH ${sqlAnnTopCte(8, 64, 5)},
         |sym AS (
         |  SELECT query_id AS src, cand_id AS dst FROM ann
         |  UNION
         |  SELECT cand_id AS src, query_id AS dst FROM ann
         |),
         |s0 AS (SELECT DISTINCT src AS node FROM sym)""".stripMargin)
    for (i <- 1 to rounds) {
      val p = i - 1
      sb.append(s""",
         |d$i AS (
         |  SELECT e.src AS node, COUNT(*) AS c
         |  FROM sym e JOIN s$p a ON a.node = e.src JOIN s$p b ON b.node = e.dst
         |  GROUP BY 1
         |),
         |s$i AS (SELECT node FROM d$i WHERE c >= $k),
         |r$i AS (
         |  SELECT a.node, CAST($i AS BIGINT) AS removed_round
         |  FROM s$p a LEFT JOIN s$i b ON b.node = a.node WHERE b.node IS NULL
         |)""".stripMargin)
    }
    val rem = (1 to rounds).map(i => s"SELECT * FROM r$i").mkString(" UNION ALL ")
    sb.append(s""",
       |rem AS ($rem)
       |SELECT n.node, COALESCE(rem.removed_round, 0) AS removed_round
       |FROM s0 n LEFT JOIN rem ON rem.node = n.node ORDER BY 1""".stripMargin)
    sb.toString
  }

  /** Recall-tail CTEs shared by every ANN-recall oracle: expects the
    * preceding chain to define `e` (the bounded vector table) and
    * `pairs` (candidate (query_id, cand_id, sim) rows). One
    * definition, so the brute-force ground truth and tie-breaks can
    * never drift between the LSH and IVF recall oracles.
    */
  private def sqlRecallTail(k: Int): String =
    s"""ann AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rn
       |    FROM pairs
       |  ) WHERE rn <= $k
       |), bfp AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |         list_cosine_similarity(q.v, c.v) AS sim
       |  FROM e q, e c WHERE c.vec_id <> q.vec_id
       |), bf AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rn
       |    FROM bfp
       |  ) WHERE rn <= $k
       |)
       |SELECT bf.query_id, COUNT(ann.cand_id) AS n_hits,
       |       ROUND(COUNT(ann.cand_id) * 1.0 / COUNT(*), 6) AS recall
       |FROM bf LEFT JOIN ann
       |  ON ann.query_id = bf.query_id AND ann.cand_id = bf.cand_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** IVF candidate CTE chain (e, cent, sims, assign, probes, pairs) —
    * shared by the q_embed_ann_ivf top-k oracle and the IVF recall
    * oracle, mirroring [[VectorOps.ivfTopK]].
    */
  private def sqlIvfPairsCte(nlist: Int, nprobe: Int): String =
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id < $PairLimit
       |), cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nlist),
       |sims AS (
       |  SELECT e.vec_id, c.cid, list_cosine_similarity(e.v, c.cv) AS s,
       |         ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC) AS rn
       |  FROM e, cent c
       |), assign AS (SELECT vec_id AS cand_id, cid AS list FROM sims WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, cid AS list FROM sims WHERE rn <= $nprobe),
       |pairs AS (
       |  SELECT p.query_id, a.cand_id, list_cosine_similarity(qe.v, ce.v) AS sim
       |  FROM probes p
       |  JOIN assign a ON a.list = p.list AND a.cand_id <> p.query_id
       |  JOIN e qe ON qe.vec_id = p.query_id
       |  JOIN e ce ON ce.vec_id = a.cand_id
       |)""".stripMargin

  /** Oracle for [[graft.vector.VectorOps.ivfProbeSweep]]: the IVF
    * CTEs with the probe rank kept on each candidate, ONE scored
    * table and ONE brute-force ground truth (both MATERIALIZED — all
    * probe levels read them), then per level a `prank <= p` filter +
    * per-query top-k + one summary row, unioned.
    */
  private def sqlIvfProbeSweep(nlist: Int, probesList: Seq[Int], k: Int): String = {
    val maxP = probesList.max
    val annLevels = probesList.map { p =>
      s""",
         |ann$p AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rn
         |    FROM scored WHERE prank <= $p
         |  ) WHERE rn <= $k
         |)""".stripMargin
    }.mkString
    val levels = probesList.map { p =>
      s"""SELECT CAST($p AS BIGINT) AS nprobe,
         |  CAST(COUNT(a$p.cand_id) AS BIGINT) AS n_hits,
         |  CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  ROUND(COUNT(a$p.cand_id) * 1.0 / GREATEST(COUNT(*), 1), 6) AS recall
         |FROM bf LEFT JOIN ann$p a$p
         |  ON a$p.query_id = bf.query_id AND a$p.cand_id = bf.cand_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id < $PairLimit
       |), cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nlist),
       |sims AS (
       |  SELECT e.vec_id, c.cid,
       |         ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC) AS rn
       |  FROM e, cent c
       |), assign AS (SELECT vec_id AS cand_id, cid AS list FROM sims WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, cid AS list, rn AS prank FROM sims WHERE rn <= $maxP),
       |scored AS MATERIALIZED (
       |  SELECT p.query_id, a.cand_id, p.prank, list_cosine_similarity(qe.v, ce.v) AS sim
       |  FROM probes p
       |  JOIN assign a ON a.list = p.list AND a.cand_id <> p.query_id
       |  JOIN e qe ON qe.vec_id = p.query_id
       |  JOIN e ce ON ce.vec_id = a.cand_id
       |),
       |bfp AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |         list_cosine_similarity(q.v, c.v) AS sim
       |  FROM e q, e c WHERE c.vec_id <> q.vec_id
       |),
       |bf AS MATERIALIZED (
       |  SELECT query_id, cand_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rn
       |    FROM bfp
       |  ) WHERE rn <= $k
       |)$annLevels
       |$levels""".stripMargin
  }

  /** PQ encode CTE chain (e, subs, cent, vsub, d2t, enc) mirroring
    * [[VectorOps.pqEncode]]: deterministic per-subspace codebooks from
    * the first `ks` vectors, squared-L2 argmin with dims folded in
    * ascending order (bit-identical to the engine kernel's loop), ties
    * to the smaller centroid id. `d2t` doubles as the per-query ADC
    * LUT in the recall oracle.
    */
  private def sqlPqEncCte(m: Int, ks: Int): String = {
    val sd = 64 / m
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id < $PairLimit
       |), subs AS (SELECT unnest(range(0, $m)) AS sub),
       |cent AS (
       |  SELECT s.sub, e.vec_id AS cid,
       |         array_slice(e.v, s.sub * $sd + 1, s.sub * $sd + $sd) AS cv
       |  FROM e, subs s WHERE e.vec_id < $ks
       |), vsub AS (
       |  SELECT e.vec_id, s.sub,
       |         array_slice(e.v, s.sub * $sd + 1, s.sub * $sd + $sd) AS sv
       |  FROM e, subs s
       |), d2t AS (
       |  SELECT v.vec_id, v.sub, c.cid,
       |         list_sum(list_transform(generate_series(1, $sd),
       |           i -> (v.sv[i] - c.cv[i]) * (v.sv[i] - c.cv[i]))) AS d2
       |  FROM vsub v JOIN cent c ON c.sub = v.sub
       |), enc AS (
       |  SELECT vec_id, sub, cid AS code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, cid ASC) AS rn
       |    FROM d2t
       |  ) WHERE rn = 1
       |)""".stripMargin
  }

  /** DuckDB oracle for the ANN recall query: the single-table LSH
    * pipeline and the exact brute-force top-k composed in one
    * statement, recall = matched-candidate count per query — mirroring
    * [[VectorOps.annRecallAtK]].
    */
  private def sqlAnnRecall(numPlanes: Int, dims: Int, k: Int): String = {
    val planeValues = (for {
      p <- 0 until numPlanes
      dim <- 0 until dims
    } yield s"($p, $dim, ${d(VectorOps.planeComponent(p, dim))})").mkString(", ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id < $PairLimit
       |), pc(p, dd, comp) AS (VALUES $planeValues),
       |pl AS (SELECT p, list(comp ORDER BY dd) AS pv FROM pc GROUP BY p),
       |buck AS (
       |  SELECT e.vec_id,
       |         SUM(CASE WHEN list_dot_product(e.v, pl.pv) > 0
       |             THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS bucket
       |  FROM e, pl GROUP BY 1
       |), wb AS (
       |  SELECT e.vec_id, e.v, b.bucket FROM e JOIN buck b ON b.vec_id = e.vec_id
       |), pairs AS (
       |  SELECT a.vec_id AS query_id, c.vec_id AS cand_id,
       |         list_cosine_similarity(a.v, c.v) AS sim
       |  FROM wb a JOIN wb c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
       |),
       |${sqlRecallTail(k)}""".stripMargin
  }

  // connected components over the 0.95-jaccard dup pairs as a shared
  // CTE: cluster_id = min doc id reachable through dup edges
  // (recursive transitive closure; the engine's pointer-jumping
  // propagation computes the same fixpoint)
  private val sqlClustersCte: String =
    s"""WITH RECURSIVE tok0 AS (
       |  SELECT doc_id AS id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |  FROM documents WHERE doc_id < $PairLimit
       |), tok AS (SELECT DISTINCT id, w FROM tok0),
       |sizes AS (SELECT id, COUNT(*) AS sz FROM tok GROUP BY 1),
       |inter AS (
       |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
       |  FROM tok a JOIN tok b ON a.w = b.w AND a.id < b.id GROUP BY 1, 2
       |),
       |pairs AS (
       |  SELECT id_a, id_b
       |  FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
       |  WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.95
       |),
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs
       |),
       |walk(id, lbl) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON w.id = e.b
       |),
       |clusters AS (
       |  SELECT d.doc_id, LEAST(d.doc_id, COALESCE(MIN(w.lbl), d.doc_id)) AS cluster_id
       |  FROM (SELECT doc_id FROM documents WHERE doc_id < $PairLimit) d
       |  LEFT JOIN walk w ON w.id = d.doc_id
       |  GROUP BY d.doc_id
       |)""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_dedup_minhash_lsh" -> sqlMinhashLsh(64, 16, 0.95),

    // dedup impact: the minhash pair CTEs reduced to per-source
    // removal counts — near-removals are the distinct greater pair
    // ids (keep-smallest), exact removals the non-keeper digest rows
    "q_dedup_report" ->
      s"""WITH ${sqlMinhashCtes(64, 16)},
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
         |  WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.95
         |),
         |cohort AS (
         |  SELECT doc_id AS id, source, md5(text) AS h
         |  FROM documents WHERE doc_id < $PairLimit
         |),
         |ex AS (
         |  SELECT c.source, COUNT(*) AS n_exact_removed
         |  FROM cohort c
         |  JOIN (SELECT h, MIN(id) AS keeper FROM cohort GROUP BY 1) k
         |    ON k.h = c.h
         |  WHERE c.id <> k.keeper GROUP BY 1
         |),
         |nd AS (
         |  SELECT c.source, COUNT(*) AS n_near_removed
         |  FROM (SELECT DISTINCT id_b AS id FROM pairs) p
         |  JOIN cohort c ON c.id = p.id GROUP BY 1
         |),
         |base AS (SELECT source, COUNT(*) AS n_docs FROM cohort GROUP BY 1)
         |SELECT b.source, b.n_docs,
         |  CAST(COALESCE(ex.n_exact_removed, 0) AS BIGINT) AS n_exact_removed,
         |  CAST(COALESCE(nd.n_near_removed, 0) AS BIGINT) AS n_near_removed,
         |  CAST(COALESCE(ex.n_exact_removed, 0) AS DOUBLE) / b.n_docs AS exact_frac,
         |  CAST(COALESCE(nd.n_near_removed, 0) AS DOUBLE) / b.n_docs AS near_frac
         |FROM base b
         |LEFT JOIN ex ON ex.source = b.source
         |LEFT JOIN nd ON nd.source = b.source
         |ORDER BY 1""".stripMargin,

    // banding quality: same candidate CTEs as q_dedup_minhash_lsh plus
    // the full exact pair join, reduced to one summary row
    "q_dedup_lsh_quality" -> sqlLshQuality(64, 16, 0.95),
    "q_dedup_lsh_sweep" -> sqlLshBandSweep(64, Seq(8, 16, 32), 0.95),

    // signature build stage: the same minhash CTEs reduced to the
    // per-position (count, min, max, xor) fold — order-free exact
    // integers covering every signature cell
    "q_dedup_lsh_sigs" ->
      s"""WITH ${sqlMinhashSigCtes(64, DocProbeSql)}
         |SELECT CAST(k AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  MIN(mn) AS min_mn, MAX(mn) AS max_mn, BIT_XOR(mn) AS xor_mn
         |FROM mh GROUP BY 1 ORDER BY 1""".stripMargin,

    // incremental dedup: identical signature/banding CTEs, but cand is
    // the CROSS-side join (increment ids >= 250 probe base ids < 250)
    "q_dedup_incremental" ->
      s"""WITH ${sqlMinhashCtes(64, 16,
             s"a.id >= ${PairLimit / 2} AND b.id < ${PairLimit / 2}")}
         |SELECT id_a, id_b, ROUND(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard
         |FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
         |WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.95
         |ORDER BY 1, 2""".stripMargin,

    // fuzzy decontamination: the same signature/banding CTEs with the
    // eval side as the probe target (b.id % 50 = 0; self-ids NOT
    // excluded — verbatim leakage must flag), NOT IN over the flagged
    "q_decontaminate_fuzzy" ->
      s"""WITH ${sqlMinhashCtes(64, 16, "b.id % 50 = 0")},
         |flagged AS (
         |  SELECT DISTINCT id_a FROM inter
         |  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
         |  WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.9
         |)
         |SELECT doc_id, n_chars FROM documents
         |WHERE doc_id < $PairLimit AND doc_id NOT IN (SELECT id_a FROM flagged)
         |ORDER BY doc_id""".stripMargin,

    // cluster-size histogram over the same recursive closure
    "q_dedup_cluster_sizes" ->
      s"""$sqlClustersCte
         |SELECT cluster_size, COUNT(*) AS n_clusters FROM (
         |  SELECT cluster_id, COUNT(*) AS cluster_size FROM clusters GROUP BY 1
         |) GROUP BY 1 ORDER BY 1""".stripMargin,

    // per-source type-token ratio (token OCCURRENCES, not distinct
    // per doc — mirrors the engine's explode without distinct)
    "q_source_diversity" ->
      """WITH occ AS (
        |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |  FROM documents
        |), agg AS (
        |  SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT w) AS n_types FROM occ GROUP BY 1
        |)
        |SELECT d.source, COUNT(*) AS n_docs,
        |       COALESCE(ANY_VALUE(a.n_tokens), 0) AS n_tokens,
        |       COALESCE(ANY_VALUE(a.n_types), 0) AS n_types,
        |       ROUND(COALESCE(ANY_VALUE(a.n_types), 0) * 1.0 /
        |             GREATEST(COALESCE(ANY_VALUE(a.n_tokens), 0), 1), 6) AS ttr
        |FROM documents d LEFT JOIN agg a ON a.source = d.source
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // directed containment over the same distinct token sets
    "q_dedup_containment" ->
      s"""WITH tok0 AS (
         |  SELECT doc_id AS id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
         |  FROM documents WHERE doc_id < $PairLimit
         |), tok AS (SELECT DISTINCT id, w FROM tok0),
         |sizes AS (SELECT id, COUNT(*) AS sz FROM tok GROUP BY 1),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
         |  FROM tok a JOIN tok b ON a.w = b.w AND a.id <> b.id GROUP BY 1, 2
         |)
         |SELECT id_a, id_b, ROUND(c * 1.0 / sa.sz, 6) AS containment
         |FROM inter JOIN sizes sa ON sa.id = id_a
         |WHERE c * 1.0 / sa.sz >= 0.8
         |ORDER BY 1, 2""".stripMargin,

    // context windows: same tokenization, same window-count formula,
    // md5 of the space-joined slice
    "q_text_windows" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
        |)
        |SELECT doc_id, k AS win_id, k * 48 + 1 AS start_pos,
        |       LEAST(64, n - k * 48) AS n_tokens,
        |       md5(array_to_string(list_slice(toks, CAST(k * 48 + 1 AS BIGINT), LEAST(k * 48 + 64, n)), ' ')) AS win_hash
        |FROM s, unnest(generate_series(0, (GREATEST(n - 64, 0) + 47) // 48)) u(k)
        |ORDER BY 1, 2""".stripMargin,
    "q_embed_ann_lsh" -> sqlAnnLsh(8, 64, 5),
    "q_embed_ann_mlsh" -> sqlAnnLshMulti(8, 64, 5, 2),
    "q_embed_ann_mprobe" -> sqlAnnMultiProbe(8, 64, 5),
    "q_embed_ann_recall_mp" ->
      s"""WITH ${sqlAnnMpPairsCte(8, 64)},
         |${sqlRecallTail(5)}""".stripMargin,
    "q_embed_ann_recall" -> sqlAnnRecall(8, 64, 5),

    // IVF recall vs exact: same IVF pipeline as q_embed_ann_ivf
    // (nlist=16, nprobe=4), brute-force ground truth, per-query hits
    "q_embed_ann_recall_ivf" ->
      s"""WITH ${sqlIvfPairsCte(16, 4)},
         |${sqlRecallTail(5)}""".stripMargin,

    // connected components over the 0.95-jaccard dup pairs: cluster_id =
    // min doc id reachable through dup edges (recursive transitive
    // closure; the engine's min-label propagation computes the same
    // fixpoint)
    "q_dedup_clusters" -> s"$sqlClustersCte\nSELECT doc_id, cluster_id FROM clusters ORDER BY 1",

    "q_dedup_keep" -> s"$sqlClustersCte\nSELECT doc_id FROM clusters WHERE cluster_id = doc_id ORDER BY 1",

    "q_dedup_inflation" ->
      s"""$sqlClustersCte,
         |ntt AS MATERIALIZED (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS nt
         |  FROM documents WHERE doc_id < $PairLimit
         |)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_total,
         |  CAST(SUM(CASE WHEN c.cluster_id = c.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
         |  CAST(SUM(t.nt) AS BIGINT) AS tokens_total,
         |  CAST(SUM(CASE WHEN c.cluster_id = c.doc_id THEN t.nt ELSE 0 END) AS BIGINT) AS tokens_kept,
         |  CAST(((SUM(t.nt) - SUM(CASE WHEN c.cluster_id = c.doc_id THEN t.nt ELSE 0 END)) * 1000000)
         |    // GREATEST(SUM(t.nt), 1) AS BIGINT) AS savings_ppm
         |FROM clusters c JOIN ntt t ON t.doc_id = c.doc_id""".stripMargin,

    "q_dedup_syndication" ->
      s"""$sqlClustersCte
         |SELECT c.cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources,
         |  MIN(d.source) AS first_source, MAX(d.source) AS last_source
         |FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
         |GROUP BY 1 HAVING COUNT(*) > 1
         |ORDER BY 1""".stripMargin,

    // winnowing: same gram hash (md5 prefix), same window expansion,
    // same rightmost-min selection rule as the engine
    "q_doc_winnow" ->
      s"""WITH g AS (
         |  SELECT doc_id, k AS pos, LENGTH(text) - 7 AS ng,
         |         CAST(concat('0x', substr(md5(substr(text, k, 8)), 1, 15)) AS BIGINT) AS h
         |  FROM documents, unnest(generate_series(1, LENGTH(text) - 7)) u(k)
         |  WHERE LENGTH(text) - 7 >= 4
         |), win AS (
         |  SELECT doc_id, pos, h, ws
         |  FROM g, unnest(generate_series(GREATEST(pos - 3, 1), LEAST(pos, ng - 3))) v(ws)
         |), sel AS (
         |  SELECT doc_id, pos, h,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id, ws ORDER BY h ASC, pos DESC) AS rn
         |  FROM win
         |)
         |SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos, h AS fp
         |FROM sel WHERE rn = 1 ORDER BY doc_id, pos""".stripMargin,

    // winnowing pair join: same selection as q_doc_winnow over the
    // bounded subset, distinct (doc, fp), df-capped, shared-count join
    "q_winnow_pairs" ->
      s"""WITH g AS (
         |  SELECT doc_id, k AS pos, LENGTH(text) - 7 AS ng,
         |         CAST(concat('0x', substr(md5(substr(text, k, 8)), 1, 15)) AS BIGINT) AS h
         |  FROM documents, unnest(generate_series(1, LENGTH(text) - 7)) u(k)
         |  WHERE LENGTH(text) - 7 >= 4 AND doc_id < $PairLimit
         |), win AS (
         |  SELECT doc_id, pos, h, ws
         |  FROM g, unnest(generate_series(GREATEST(pos - 3, 1), LEAST(pos, ng - 3))) v(ws)
         |), selrows AS (
         |  SELECT doc_id, pos, h,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id, ws ORDER BY h ASC, pos DESC) AS rn
         |  FROM win
         |), sel AS (
         |  SELECT DISTINCT doc_id, h AS fp FROM selrows WHERE rn = 1
         |), rare AS (
         |  SELECT fp FROM sel GROUP BY fp HAVING COUNT(*) <= 50
         |), s2 AS (SELECT sel.doc_id, sel.fp FROM sel JOIN rare USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
         |FROM s2 a JOIN s2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 3
         |ORDER BY 1, 2""".stripMargin,

    // winnow-candidate pairs verified by exact word-3-gram jaccard:
    // the winnow CTEs propose, the shingle-join verify disposes
    "q_winnow_verified" ->
      s"""WITH g AS (
         |  SELECT doc_id, k AS pos, LENGTH(text) - 7 AS ng,
         |         CAST(concat('0x', substr(md5(substr(text, k, 8)), 1, 15)) AS BIGINT) AS h
         |  FROM documents, unnest(generate_series(1, LENGTH(text) - 7)) u(k)
         |  WHERE LENGTH(text) - 7 >= 4 AND doc_id < $PairLimit
         |), win AS (
         |  SELECT doc_id, pos, h, ws
         |  FROM g, unnest(generate_series(GREATEST(pos - 3, 1), LEAST(pos, ng - 3))) v(ws)
         |), selrows AS (
         |  SELECT doc_id, pos, h,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id, ws ORDER BY h ASC, pos DESC) AS rn
         |  FROM win
         |), sel AS (
         |  SELECT DISTINCT doc_id, h AS fp FROM selrows WHERE rn = 1
         |), rare AS (
         |  SELECT fp FROM sel GROUP BY fp HAVING COUNT(*) <= 50
         |), s2 AS (SELECT sel.doc_id, sel.fp FROM sel JOIN rare USING (fp)),
         |cand AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM s2 a JOIN s2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 3
         |), t AS (
         |  SELECT doc_id AS id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents WHERE doc_id < $PairLimit
         |), sh0 AS (
         |  SELECT id, array_to_string(toks[k:k+2], ' ') AS w
         |  FROM t, unnest(generate_series(1, len(toks) - 2)) u(k)
         |  WHERE len(toks) >= 3
         |), sh AS (SELECT DISTINCT id, w FROM sh0),
         |sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT c.id_a, c.id_b, COUNT(*) AS c
         |  FROM cand c
         |  JOIN sh ta ON ta.id = c.id_a
         |  JOIN sh tb ON tb.id = c.id_b AND tb.w = ta.w
         |  GROUP BY 1, 2
         |)
         |SELECT id_a, id_b, ROUND(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard
         |FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
         |WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.8
         |ORDER BY 1, 2""".stripMargin,

    // word-3-gram shingles; shingle k (1-based) spans toks[k..k+2]
    "q_dedup_ngram" ->
      s"""WITH t AS (
         |  SELECT doc_id AS id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents WHERE doc_id < $PairLimit
         |), sh0 AS (
         |  SELECT id, array_to_string(toks[k:k+2], ' ') AS w
         |  FROM t, unnest(generate_series(1, len(toks) - 2)) u(k)
         |  WHERE len(toks) >= 3
         |), sh AS (SELECT DISTINCT id, w FROM sh0),
         |sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
         |  FROM sh a JOIN sh b ON a.w = b.w AND a.id < b.id GROUP BY 1, 2
         |)
         |SELECT id_a, id_b, ROUND(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard
         |FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
         |WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.8
         |ORDER BY 1, 2""".stripMargin,

    "q_dedup_embed_cosine" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < $PairLimit
         |)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.v, b.v) >= 0.2
         |ORDER BY 1, 2""".stripMargin,

    // IVF-Flat with the first nlist vectors as fixed coarse centroids;
    // assignment = rank-1 cosine, probes = ranks 1..nprobe
    // int8 quantization: same double division, same explicit
    // floor(x + 0.5) half-up rounding -> bit-identical q values
    "q_embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), s AS (
        |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale FROM e
        |)
        |SELECT vec_id, CAST(k - 1 AS BIGINT) AS dim,
        |  CASE WHEN scale = 0 THEN 0 ELSE CAST(floor(v[k] / scale + 0.5) AS BIGINT) END AS q
        |FROM s, unnest(generate_series(1, len(v))) u(k)
        |ORDER BY vec_id, dim""".stripMargin,

    // two fixed Lloyd rounds from the 8 lowest-id seeds; assignments
    // are integers, so 1e-15 centroid-mean summation wobble between
    // engines cannot reach the output (argmax gaps are >> 1e-9)
    "q_embed_kmeans" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
        |a1 AS (SELECT vec_id, cid FROM (
        |  SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC) AS rn
        |  FROM e, c0 c) WHERE rn = 1),
        |m1 AS (
        |  SELECT a1.cid, k - 1 AS dim, AVG(e.v[k]) AS m
        |  FROM a1 JOIN e USING (vec_id), unnest(generate_series(1, 64)) u(k)
        |  GROUP BY 1, 2),
        |c1 AS (SELECT cid, list(m ORDER BY dim) AS cv FROM m1 GROUP BY 1),
        |a2 AS (SELECT vec_id, cid FROM (
        |  SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC) AS rn
        |  FROM e, c1 c) WHERE rn = 1)
        |SELECT vec_id, cid AS cluster_id FROM a2 ORDER BY vec_id""".stripMargin,

    // retrieval eval: the cosine-topk ranking joined to labels on both
    // sides; first-correct rank, reciprocal rank, and precision@k are
    // pure-integer folds over the 5 ranked rows per query
    "q_retrieval_eval" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 32),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |         list_cosine_similarity(q.v, c.v) AS sim
        |  FROM q, e c WHERE c.vec_id <> q.vec_id
        |),
        |top AS (
        |  SELECT query_id, cand_id, rank FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, cand_id ASC) AS rank
        |    FROM s
        |  ) WHERE rank <= 5
        |),
        |j AS (
        |  SELECT t.query_id, t.rank,
        |         CASE WHEN ql.label = cl.label THEN 1 ELSE 0 END AS correct
        |  FROM top t
        |  JOIN e ql ON ql.vec_id = t.query_id
        |  JOIN e cl ON cl.vec_id = t.cand_id
        |),
        |a AS (
        |  SELECT query_id,
        |         COALESCE(MIN(CASE WHEN correct = 1 THEN rank END),
        |                  CAST(0 AS BIGINT)) AS first_correct_rank,
        |         CAST(SUM(correct) AS BIGINT) AS n_correct
        |  FROM j GROUP BY 1
        |)
        |SELECT query_id, first_correct_rank,
        |  CASE WHEN first_correct_rank = 0 THEN 0
        |       ELSE 1000000 // first_correct_rank END AS mrr_u,
        |  (1000 * n_correct) // 5 AS p_at_k_milli, n_correct
        |FROM a ORDER BY 1""".stripMargin,

    // embedding drift: the covariance oracle's unit quantization, a
    // per-(label, dim) integer mean in micro-units (round-half-away
    // via //), and integer L1/L-inf folds — no double anywhere
    "q_embed_drift" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (
        |  SELECT vec_id, label, CAST(k - 1 AS INT) AS dim,
        |         CAST(FLOOR(v[CAST(k AS INT)] * 16777216 + 0.5) AS BIGINT) AS p
        |  FROM e, unnest(generate_series(1, len(v))) uk(k)
        |),
        |ma AS (
        |  SELECT CAST(label AS BIGINT) AS label, dim,
        |         COUNT(*) AS n_old, SUM(p) AS s
        |  FROM u WHERE vec_id % 4 <> 1 GROUP BY 1, 2
        |),
        |mb AS (
        |  SELECT CAST(label AS BIGINT) AS label, dim,
        |         COUNT(*) AS n_new, SUM(p) AS s
        |  FROM u WHERE vec_id % 4 <> 2 GROUP BY 1, 2
        |),
        |mu AS (
        |  SELECT a.label, a.dim, a.n_old, b.n_new,
        |    CAST(CASE WHEN a.s >= 0
        |      THEN  ((2 * CAST(a.s AS HUGEINT) * 1000000 + CAST(a.n_old AS HUGEINT) * 16777216) // (2 * CAST(a.n_old AS HUGEINT) * 16777216))
        |      ELSE -((2 * CAST(-a.s AS HUGEINT) * 1000000 + CAST(a.n_old AS HUGEINT) * 16777216) // (2 * CAST(a.n_old AS HUGEINT) * 16777216))
        |    END AS BIGINT) AS m_old,
        |    CAST(CASE WHEN b.s >= 0
        |      THEN  ((2 * CAST(b.s AS HUGEINT) * 1000000 + CAST(b.n_new AS HUGEINT) * 16777216) // (2 * CAST(b.n_new AS HUGEINT) * 16777216))
        |      ELSE -((2 * CAST(-b.s AS HUGEINT) * 1000000 + CAST(b.n_new AS HUGEINT) * 16777216) // (2 * CAST(b.n_new AS HUGEINT) * 16777216))
        |    END AS BIGINT) AS m_new
        |  FROM ma a JOIN mb b ON a.label = b.label AND a.dim = b.dim
        |)
        |SELECT label, MAX(n_old) AS n_old, MAX(n_new) AS n_new,
        |  CAST(SUM(ABS(m_old - m_new)) AS BIGINT) AS l1_drift_u,
        |  MAX(ABS(m_old - m_new)) AS linf_drift_u
        |FROM mu GROUP BY 1 ORDER BY 1""".stripMargin,

    // label-centroid Gram: the drift oracle's micro-unit integer mean
    // per (label, dim), then exact BIGINT dots over the fixed
    // dimension set — no double anywhere
    "q_label_centroid_dots" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (
        |  SELECT label, CAST(k - 1 AS INT) AS dim,
        |         CAST(FLOOR(v[CAST(k AS INT)] * 16777216 + 0.5) AS BIGINT) AS p
        |  FROM e, unnest(generate_series(1, len(v))) uk(k)
        |),
        |m AS (
        |  SELECT CAST(label AS BIGINT) AS label, dim, COUNT(*) AS n,
        |    CAST(CASE WHEN SUM(p) >= 0
        |      THEN  ((2 * CAST(SUM(p) AS HUGEINT) * 1000000 + CAST(COUNT(*) AS HUGEINT) * 16777216) // (2 * CAST(COUNT(*) AS HUGEINT) * 16777216))
        |      ELSE -((2 * CAST(-SUM(p) AS HUGEINT) * 1000000 + CAST(COUNT(*) AS HUGEINT) * 16777216) // (2 * CAST(COUNT(*) AS HUGEINT) * 16777216))
        |    END AS BIGINT) AS m_u
        |  FROM u GROUP BY 1, 2
        |)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  MAX(a.n) AS n_a, MAX(b.n) AS n_b,
        |  CAST(SUM(a.m_u * b.m_u) AS BIGINT) AS dot_uu
        |FROM m a JOIN m b ON a.dim = b.dim AND a.label <= b.label
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // simplified silhouette: seeds are stored vectors verbatim (no
    // averaged centroid doubles), distances micro-unit-floored, the
    // ratio pure integer division — bit-identical to the Spark face
    "q_cluster_silhouette" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |seeds AS (SELECT vec_id AS cid, v AS cv
        |          FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
        |d AS (
        |  SELECT e.vec_id, s.cid,
        |         CAST(FLOOR((1 - list_cosine_similarity(e.v, s.cv)) * 1000000
        |           + 0.5) AS BIGINT) AS d_u
        |  FROM e, seeds s
        |),
        |r AS (
        |  SELECT vec_id, cid, d_u,
        |         ROW_NUMBER() OVER (PARTITION BY vec_id
        |           ORDER BY d_u, cid) AS rn
        |  FROM d
        |),
        |ab AS (
        |  SELECT a.vec_id, a.cid AS cluster_id, a.d_u AS a_u, b.d_u AS b_u
        |  FROM r a JOIN r b ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2
        |)
        |SELECT vec_id, cluster_id, a_u, b_u,
        |  CASE WHEN b_u = 0 THEN 0
        |       ELSE (2 * (b_u - a_u) * 1000000 + b_u) // (2 * b_u) END AS s_u
        |FROM ab ORDER BY vec_id""".stripMargin,

    // SemDeDup: the q_embed_kmeans assignment CTE + within-cluster
    // pair drop (junior id dropped when a senior cluster-mate is
    // within the cosine threshold)
    "q_semdedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
        |a1 AS (SELECT vec_id, cid FROM (
        |  SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC) AS rn
        |  FROM e, c0 c) WHERE rn = 1),
        |m1 AS (
        |  SELECT a1.cid, k - 1 AS dim, AVG(e.v[k]) AS m
        |  FROM a1 JOIN e USING (vec_id), unnest(generate_series(1, 64)) u(k)
        |  GROUP BY 1, 2),
        |c1 AS (SELECT cid, list(m ORDER BY dim) AS cv FROM m1 GROUP BY 1),
        |a2 AS (SELECT vec_id, cid FROM (
        |  SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC) AS rn
        |  FROM e, c1 c) WHERE rn = 1),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
        |  WHERE list_cosine_similarity(ea.v, eb.v) >= 0.35)
        |SELECT vec_id, cid AS cluster_id FROM a2
        |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
        |ORDER BY vec_id""".stripMargin,

    // chunked substring-dedup stats: ceil(n/8) consecutive 8-token
    // chunks (1-based inclusive list slice truncates the tail), df >= 2
    // across distinct docs marks an occurrence duplicated
    "q_chunk_dup" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, array_to_string(toks[(k*8+1):((k+1)*8)], ' ') AS chunk
        |  FROM t, unnest(generate_series(0, CAST(ceil(len(toks) / 8.0) AS BIGINT) - 1)) u(k)
        |  WHERE len(toks) > 0
        |), dfreq AS (
        |  SELECT chunk, COUNT(DISTINCT doc_id) AS df FROM c GROUP BY 1
        |), agg AS (
        |  SELECT doc_id, COUNT(*) AS n_chunks,
        |    SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_dup
        |  FROM c JOIN dfreq USING (chunk) GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  CAST(COALESCE(n_chunks, 0) AS BIGINT) AS n_chunks,
        |  CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup_chunks,
        |  ROUND(COALESCE(n_dup, 0) * 1.0 / GREATEST(COALESCE(n_chunks, 0), 1), 6) AS dup_frac
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // CDC: cut positions replay the engine's 60-bit md5-prefix gram
    // hash; chunks via LEAD over the start positions; identity = chunk
    // text md5, dup when df >= 2 across distinct docs
    "q_cdc_chunk_dup" ->
      """WITH cuts AS (
        |  SELECT doc_id, p
        |  FROM documents, unnest(generate_series(2, LENGTH(text) - 7)) u(p)
        |  WHERE CAST(concat('0x', substr(md5(substr(text, p, 8)), 1, 15)) AS BIGINT) % 64 = 0
        |), starts AS (
        |  SELECT doc_id, 1 AS p FROM documents WHERE LENGTH(text) > 0
        |  UNION ALL SELECT doc_id, p FROM cuts
        |), ch AS (
        |  SELECT s.doc_id,
        |    md5(substr(d.text, s.p,
        |      COALESCE(LEAD(s.p) OVER (PARTITION BY s.doc_id ORDER BY s.p),
        |        LENGTH(d.text) + 1) - s.p)) AS ch
        |  FROM starts s JOIN documents d USING (doc_id)
        |), dfreq AS (
        |  SELECT ch, COUNT(DISTINCT doc_id) AS df FROM ch GROUP BY 1
        |), agg AS (
        |  SELECT ch.doc_id, COUNT(*) AS n_chunks,
        |    SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_dup
        |  FROM ch JOIN dfreq USING (ch) GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  CAST(COALESCE(n_chunks, 0) AS BIGINT) AS n_chunks,
        |  CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup_chunks,
        |  ROUND(COALESCE(n_dup, 0) * 1.0 / GREATEST(COALESCE(n_chunks, 0), 1), 6) AS dup_frac
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_embed_ann_ivf" ->
      s"""WITH ${sqlIvfPairsCte(16, 4)}
         |SELECT query_id, cand_id, ROUND(sim, 6) AS sim FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rn
         |  FROM pairs
         |) WHERE rn <= 5 ORDER BY query_id, cand_id""".stripMargin,

    // the stored-index probe answers the same queries: the oracle is
    // DELIBERATELY the identical IVF SQL — storage must be invisible
    "q_ann_index_probe" ->
      s"""WITH ${sqlIvfPairsCte(16, 4)}
         |SELECT query_id, cand_id, ROUND(sim, 6) AS sim FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rn
         |  FROM pairs
         |) WHERE rn <= 5 ORDER BY query_id, cand_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dedup_jaccard" ->
      s"""WITH tok0 AS (
         |  SELECT doc_id AS id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
         |  FROM documents WHERE doc_id < $PairLimit
         |), tok AS (SELECT DISTINCT id, w FROM tok0),
         |sizes AS (SELECT id, COUNT(*) AS sz FROM tok GROUP BY 1),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
         |  FROM tok a JOIN tok b ON a.w = b.w AND a.id < b.id GROUP BY 1, 2
         |)
         |SELECT id_a, id_b, ROUND(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard
         |FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
         |WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.95
         |ORDER BY 1, 2""".stripMargin,

    // pair-build stage of the clustering family: the same verified
    // pair join reduced to exact-integer folds (one row, no floats)
    "q_dedup_cc_pairs" ->
      s"""WITH tok0 AS (
         |  SELECT doc_id AS id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
         |  FROM documents WHERE doc_id < $PairLimit
         |), tok AS (SELECT DISTINCT id, w FROM tok0),
         |sizes AS (SELECT id, COUNT(*) AS sz FROM tok GROUP BY 1),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
         |  FROM tok a JOIN tok b ON a.w = b.w AND a.id < b.id GROUP BY 1, 2
         |),
         |pairs AS (
         |  SELECT id_a, id_b
         |  FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
         |  WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.95
         |)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(COUNT(DISTINCT id_a) AS BIGINT) AS n_docs_a,
         |  CAST(COUNT(DISTINCT id_b) AS BIGINT) AS n_docs_b,
         |  CAST(COALESCE(SUM(id_a + id_b), 0) AS BIGINT) AS id_mass
         |FROM pairs""".stripMargin,

    "q_dedup_simhash" ->
      s"""WITH $sqlToks, th AS (
         |  SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS h FROM tok
         |), bits AS (
         |  SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM th, range(0, 60) t(b) GROUP BY 1, 2
         |)
         |SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY 1 ORDER BY 1""".stripMargin,

    // exhaustive Hamming-radius join over the bit-exact signatures —
    // equality with the engine's banded plan proves pigeonhole coverage
    "q_dedup_simhash_pairs" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
         |  FROM documents WHERE doc_id < $PairLimit
         |), th AS (
         |  SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS h FROM tok
         |), bits AS (
         |  SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM th, range(0, 60) t(b) GROUP BY 1, 2
         |), sig AS (
         |  SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY 1
         |)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY 1, 2""".stripMargin,

    "q_embed_cosine_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 8),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |         list_cosine_similarity(q.v, c.v) AS sim
        |  FROM q, e c WHERE c.vec_id <> q.vec_id
        |)
        |SELECT query_id, cand_id, ROUND(sim, 6) AS sim, rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rank
        |  FROM s
        |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // MMR: same cohort and cosine as the top-k oracle, micro-unit
    // quantized with the shared FLOOR idiom, then k unrolled greedy
    // selection stages — integer comparisons only, ties to smaller id
    "q_mmr_rerank" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT * FROM e WHERE vec_id < 8),
         |s AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, c.v AS cv,
         |         CAST(FLOOR(list_cosine_similarity(q.v, c.v) * 1000000 + 0.5)
         |           AS BIGINT) AS simq_u
         |  FROM q, e c WHERE c.vec_id <> q.vec_id
         |),
         |cand AS MATERIALIZED (
         |  SELECT query_id, cand_id, cv, simq_u FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY simq_u DESC, cand_id) AS rn FROM s
         |  ) WHERE rn <= 8
         |),
         |ps AS MATERIALIZED (
         |  SELECT a.query_id, a.cand_id AS id_a, b.cand_id AS id_b,
         |         CAST(FLOOR(list_cosine_similarity(a.cv, b.cv) * 1000000 + 0.5)
         |           AS BIGINT) AS ps
         |  FROM cand a JOIN cand b
         |    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
         |),
         |${sqlMmrStages(4)}""".stripMargin,

    // gopher rules: same tokenization + stopword list as the quality
    // oracle; mean word length = summed token lengths / count
    "q_gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), f AS (
        |  SELECT doc_id,
        |    CAST(LEN(toks) AS BIGINT) AS n_words,
        |    ROUND(CAST(list_sum(list_transform(toks, w -> LENGTH(w))) AS DOUBLE)
        |          / GREATEST(LEN(toks), 1), 6) AS mean_word_len,
        |    ROUND(LEN(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) * 1.0e0
        |          / GREATEST(LEN(toks), 1), 6) AS frac_alpha,
        |    CAST(LEN(list_intersect(list_distinct(toks),
        |         ['the','a','of','and','to','in','is','for','on','with'])) AS BIGINT) AS n_stop_distinct
        |  FROM t
        |)
        |SELECT doc_id, n_words, mean_word_len, frac_alpha, n_stop_distinct,
        |       n_words >= 20 AND n_words <= 100000 AS ok_words,
        |       mean_word_len >= 3.0e0 AND mean_word_len <= 10.0e0 AS ok_mean_len,
        |       frac_alpha >= 0.8e0 AS ok_alpha,
        |       n_stop_distinct >= 2 AS ok_stop,
        |       (n_words >= 20 AND n_words <= 100000)
        |         AND (mean_word_len >= 3.0e0 AND mean_word_len <= 10.0e0)
        |         AND frac_alpha >= 0.8e0 AND n_stop_distinct >= 2 AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    "q_text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |)
        |SELECT doc_id,
        |  LENGTH(text) AS n_chars_txt,
        |  LEN(toks) AS n_words,
        |  LEN(list_distinct(toks)) AS n_distinct_words,
        |  ROUND(LEN(list_filter(toks, w -> list_contains(['the','a','of','and','to','in','is','for','on','with'], w))) * 1.0
        |        / GREATEST(LEN(toks), 1), 6) AS stopword_ratio,
        |  ROUND((LENGTH(text) - LENGTH(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0
        |        / GREATEST(LENGTH(text), 1), 6) AS punct_ratio
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_token_count" ->
      s"""WITH $sqlToks
         |SELECT w AS token, COUNT(*) AS cnt FROM tok GROUP BY 1 ORDER BY 1""".stripMargin,

    // entropy via ln(n) - sum(c*ln c)/n — the same one-aggregation
    // form the engine computes, so rounding behavior matches
    "q_text_entropy" ->
      s"""WITH $sqlToks, c AS (
         |  SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2
         |), a AS (
         |  SELECT doc_id, SUM(c) AS n_words, COUNT(*) AS n_distinct_words,
         |         SUM(c * ln(c)) AS clnc, SUM(c * LENGTH(w)) AS chars
         |  FROM c GROUP BY 1
         |)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |  CAST(n_distinct_words AS BIGINT) AS n_distinct_words,
         |  ROUND(ln(n_words) - clnc / n_words, 6) AS entropy,
         |  ROUND(chars * 1.0 / n_words, 6) AS mean_word_len
         |FROM a ORDER BY doc_id""".stripMargin,

    // BPE-ish pre-tokenizer: the pattern is RE2-compatible and
    // ASCII-anchored, so DuckDB's RE2 and Java regex split identically
    "q_token_count_bpe" ->
      s"""SELECT token, COUNT(*) AS cnt FROM (
         |  SELECT unnest(regexp_extract_all(text, '${TextOps.BpeishPattern}')) AS token
         |  FROM documents
         |) GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_lang_id" ->
      s"""WITH $sqlToks, $sqlLangScoresCte
         |SELECT doc_id, lang_pred, score FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang_pred ASC) AS rn
         |  FROM scores
         |) WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_lang_confusion" ->
      s"""WITH $sqlToks, $sqlLangScoresCte,
         |pred AS (
         |  SELECT doc_id, lang_pred FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang_pred ASC) AS rn
         |    FROM scores
         |  ) WHERE rn = 1
         |)
         |SELECT d.lang AS lang_true, p.lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM pred p JOIN documents d USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_lang_id_quality" ->
      s"""WITH $sqlToks, $sqlLangScoresCte,
         |pred AS (
         |  SELECT doc_id, lang_pred FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang_pred ASC) AS rn
         |    FROM scores
         |  ) WHERE rn = 1
         |),
         |conf AS MATERIALIZED (
         |  SELECT d.lang AS lang_true, p.lang_pred
         |  FROM pred p JOIN documents d USING (doc_id)
         |),
         |bt AS (
         |  SELECT lang_true AS lang, CAST(COUNT(*) AS BIGINT) AS n_true,
         |    CAST(SUM(CASE WHEN lang_pred = lang_true THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |  FROM conf GROUP BY 1
         |),
         |bp AS (
         |  SELECT lang_pred AS lang, CAST(COUNT(*) AS BIGINT) AS n_pred
         |  FROM conf GROUP BY 1
         |)
         |SELECT COALESCE(bt.lang, bp.lang) AS lang,
         |  COALESCE(n_true, 0) AS n_true, COALESCE(n_pred, 0) AS n_pred,
         |  COALESCE(n_correct, 0) AS n_correct,
         |  CAST(COALESCE(n_correct, 0) * 1000000 // GREATEST(COALESCE(n_pred, 0), 1) AS BIGINT) AS precision_ppm,
         |  CAST(COALESCE(n_correct, 0) * 1000000 // GREATEST(COALESCE(n_true, 0), 1) AS BIGINT) AS recall_ppm
         |FROM bt FULL JOIN bp ON bt.lang = bp.lang
         |ORDER BY 1""".stripMargin,

    "q_doc_fingerprint" ->
      s"""WITH $sqlToks
         |SELECT doc_id, MIN(md5(w)) AS fingerprint, COUNT(DISTINCT w) AS n_distinct
         |FROM tok GROUP BY 1 ORDER BY 1""".stripMargin,

    // stratified sampling: same 60-bit md5 hash, same double division,
    // same rate table (missing "fr" exercises the default rate 1.0)
    "q_stratified_sample" -> {
      val rateValues = MixRates.toSeq.sorted
        .map { case (l, r) => s"('$l', ${d(r)})" }.mkString(", ")
      s"""WITH rates(lang, rate) AS (VALUES $rateValues)
         |SELECT doc_id, d.lang FROM documents d LEFT JOIN rates r USING (lang)
         |WHERE CAST(CAST(concat('0x', substr(md5('mix1:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
         |      / 1152921504606846976 < COALESCE(r.rate, '1.0'::DOUBLE)
         |ORDER BY doc_id""".stripMargin
    },

    "q_source_mix" -> {
      val rates = Seq("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.0)
        .map { case (k, r) => s"('$k', ${d(r)})" }.mkString(", ")
      s"""WITH rates(source, rate) AS (VALUES $rates)
         |SELECT doc_id, d.source FROM documents d LEFT JOIN rates r USING (source)
         |WHERE CAST(CAST(concat('0x', substr(md5('mix2:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
         |      / 1152921504606846976 < COALESCE(r.rate, '0.75'::DOUBLE)
         |ORDER BY doc_id""".stripMargin
    },

    // quality audit: the same token counters as the gopher/repetition
    // oracles reduced to integer cross-multiplied gates and summed
    // into the reason bitmask
    "q_quality_audit" ->
      s"""WITH $sqlQualityMaskCte
        |SELECT doc_id, n AS n_words, CAST(reason_mask AS BIGINT) AS reason_mask,
        |  reason_mask = 0 AS keep
        |FROM m ORDER BY 1""".stripMargin,

    // filter funnel: the same mask CTE, gates applied in bit order;
    // stage s enters with survivors of the prefix (2^s - 1) and exits
    // with survivors of (2^(s+1) - 1)
    "q_filter_funnel" ->
      s"""WITH $sqlQualityMaskCte,
        |st AS (SELECT s.s AS stage FROM unnest(generate_series(0, 6)) s(s)),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM m),
        |fu AS (
        |  SELECT st.stage,
        |    CAST(SUM(CASE WHEN (m.reason_mask & ((1 << st.stage) - 1)) = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_in,
        |    CAST(SUM(CASE WHEN (m.reason_mask & ((1 << (st.stage + 1)) - 1)) = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_out
        |  FROM m, st GROUP BY 1
        |)
        |SELECT CAST(stage AS BIGINT) AS stage,
        |  CASE stage WHEN 0 THEN 'word_count' WHEN 1 THEN 'mean_word_len'
        |    WHEN 2 THEN 'alpha_ratio' WHEN 3 THEN 'stopwords'
        |    WHEN 4 THEN 'top_word_mass' WHEN 5 THEN 'dup_trigrams'
        |    ELSE 'language' END AS gate,
        |  n_in, n_out, n_in - n_out AS n_dropped,
        |  n_out * CAST(1000000 AS BIGINT) // GREATEST(tot.n_corpus, 1) AS survival_ppm
        |FROM fu, tot ORDER BY stage""".stripMargin,

    "q_text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, GREATEST(len(toks) - 2, 0) AS ng FROM t
        |), dg AS (
        |  SELECT t.doc_id, COUNT(DISTINCT array_to_string(toks[k:k+2], ' ')) AS nd
        |  FROM t, unnest(generate_series(1, len(toks) - 2)) u(k)
        |  WHERE len(toks) >= 3 GROUP BY 1
        |), tp AS (
        |  SELECT doc_id, MAX(c) AS top, SUM(c) AS n FROM (
        |    SELECT doc_id, w, COUNT(*) AS c
        |    FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY 1, 2
        |  ) GROUP BY 1
        |)
        |SELECT t.doc_id, CAST(g.ng AS BIGINT) AS n_grams3,
        |  CAST(COALESCE(dg.nd, 0) AS BIGINT) AS n_distinct_grams3,
        |  ROUND(CASE WHEN g.ng = 0 THEN 0.0
        |        ELSE 1.0 - CAST(COALESCE(dg.nd, 0) AS DOUBLE) / g.ng END, 6) AS rep_ratio,
        |  ROUND(CASE WHEN COALESCE(tp.n, 0) = 0 THEN 0.0
        |        ELSE CAST(tp.top AS DOUBLE) / tp.n END, 6) AS top_token_ratio
        |FROM t JOIN g USING (doc_id)
        |LEFT JOIN dg USING (doc_id) LEFT JOIN tp USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // ExactSubstr spans: anchors sorted per doc, so coverage intervals
    // [p, p+7] merge exactly when p <= prev_p + 8 — the LAG gaps-and-
    // islands below is per-document only, mirroring the engine's
    // per-doc kernel. Grams key on the 60-bit md5 prefix, the same
    // shuffle-thinning hash the engine and the other gram oracles use
    "q_dup_substring_spans" ->
      """WITH t AS (
        |  SELECT doc_id AS id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT id, CAST(k AS BIGINT) AS p,
        |    CAST(concat('0x', substr(md5(array_to_string(toks[k:k+7], ' ')), 1, 15)) AS BIGINT) AS g
        |  FROM t, unnest(generate_series(1, len(toks) - 7)) u(k)
        |  WHERE len(toks) >= 8
        |), dup AS (SELECT g FROM g GROUP BY g HAVING COUNT(*) > 1),
        |a AS (SELECT id, p FROM g JOIN dup USING (g)),
        |isl AS (
        |  SELECT id, p, SUM(CASE WHEN prev_p IS NULL OR p > prev_p + 8 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY id ORDER BY p) AS grp
        |  FROM (SELECT id, p, LAG(p) OVER (PARTITION BY id ORDER BY p) AS prev_p FROM a)
        |)
        |SELECT id AS doc_id, MIN(p) AS span_start, MAX(p) + 7 AS span_end,
        |  COUNT(*) AS n_anchors
        |FROM isl GROUP BY id, grp ORDER BY doc_id, span_start""".stripMargin,

    // ExactSubstr rewrite: keeper = lexicographic MIN(ROW(id, p)) in
    // both engines (no arithmetic cap on document length); token kept
    // unless covered by a duplicated anchor and by no keeper anchor;
    // text rebuilt from kept tokens in order
    "q_dup_substring_rewrite" ->
      """WITH t AS (
        |  SELECT doc_id AS id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT id, CAST(k AS BIGINT) AS p,
        |    CAST(concat('0x', substr(md5(array_to_string(toks[k:k+7], ' ')), 1, 15)) AS BIGINT) AS g
        |  FROM t, unnest(generate_series(1, len(toks) - 7)) u(k)
        |  WHERE len(toks) >= 8
        |), occ AS (
        |  SELECT g, COUNT(*) AS c, MIN(ROW(id, p)) AS kk FROM g GROUP BY g
        |), a AS (
        |  SELECT g.id, g.p, (ROW(g.id, g.p) = occ.kk) AS keeper
        |  FROM g JOIN occ USING (g) WHERE occ.c > 1
        |), pos AS (
        |  SELECT id, CAST(k AS BIGINT) AS tp, toks[k] AS w
        |  FROM t, unnest(generate_series(1, len(toks))) u(k)
        |), fl AS (
        |  SELECT pos.id, pos.tp, ANY_VALUE(pos.w) AS w,
        |    COUNT(a.p) > 0 AS covered,
        |    COALESCE(BOOL_OR(a.keeper), FALSE) AS kept
        |  FROM pos LEFT JOIN a ON a.id = pos.id AND pos.tp BETWEEN a.p AND a.p + 7
        |  GROUP BY pos.id, pos.tp
        |), agg AS (
        |  SELECT id, COUNT(*) AS n_tokens,
        |    SUM(CASE WHEN covered AND NOT kept THEN 1 ELSE 0 END) AS n_removed,
        |    string_agg(CASE WHEN covered AND NOT kept THEN NULL ELSE w END, ' ' ORDER BY tp)
        |      AS new_text
        |  FROM fl GROUP BY id
        |)
        |SELECT d.doc_id, CAST(COALESCE(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(agg.n_removed, 0) AS BIGINT) AS n_removed,
        |  COALESCE(agg.new_text, '') AS new_text
        |FROM documents d LEFT JOIN agg ON agg.id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // compress-stats companion: raw_len is the deflate kernel's UTF-8
    // byte count (crosschecked against octet_length), char/distinct
    // stats straight off the text — the SQL-expressible face of
    // q_text_compress
    "q_text_compress_stats" ->
      """SELECT doc_id,
        |  CAST(strlen(text) AS BIGINT) AS raw_len,
        |  CAST(length(text) AS BIGINT) AS char_len,
        |  CAST(len(list_distinct(string_split(text, ''))) AS BIGINT) AS n_distinct_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // PII scrub: same augmentation, same RE2/Java-identical regexes,
    // sequential replacement mirrored stage for stage ('g' = global,
    // matching Spark's replace-all default)
    "q_pii_scrub" -> {
      val em = TextOps.EmailRe; val ip = TextOps.Ipv4Re; val num = TextOps.LongNumRe
      s"""WITH aug AS (
         |  SELECT doc_id, text || ' contact' || CAST(doc_id AS VARCHAR) ||
         |    '@example.com via 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' ||
         |    CAST(doc_id % 250 AS VARCHAR) || ' ref ' ||
         |    lpad(CAST(doc_id AS VARCHAR), CAST(7 + doc_id % 3 AS INTEGER), '8') AS text
         |  FROM documents
         |), s1 AS (
         |  SELECT doc_id, text, regexp_replace(text, '$em', '<EMAIL>', 'g') AS t1 FROM aug
         |), s2 AS (SELECT *, regexp_replace(t1, '$ip', '<IP>', 'g') AS t2 FROM s1
         |), s3 AS (SELECT *, regexp_replace(t2, '$num', '<NUM>', 'g') AS t3 FROM s2)
         |SELECT doc_id, md5(t3) AS clean_md5,
         |  len(regexp_extract_all(text, '$em')) AS n_emails,
         |  len(regexp_extract_all(t1, '$ip')) AS n_ips,
         |  len(regexp_extract_all(t2, '$num')) AS n_longnums
         |FROM s3 ORDER BY doc_id""".stripMargin
    },

    // per-source PII inventory: identical augmentation and sequential
    // counting; the affected share in integer ppm
    "q_pii_inventory" -> {
      val em = TextOps.EmailRe; val ip = TextOps.Ipv4Re; val num = TextOps.LongNumRe
      s"""WITH aug AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 3 = 0 THEN text || ' contact' || CAST(doc_id AS VARCHAR) ||
         |      '@example.com via 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' ||
         |      CAST(doc_id % 250 AS VARCHAR)
         |    ELSE text END AS text
         |  FROM documents
         |), c AS (
         |  SELECT source,
         |    len(regexp_extract_all(text, '$em')) AS e,
         |    len(regexp_extract_all(regexp_replace(text, '$em', '<EMAIL>', 'g'), '$ip')) AS i,
         |    len(regexp_extract_all(regexp_replace(regexp_replace(text, '$em', '<EMAIL>', 'g'),
         |        '$ip', '<IP>', 'g'), '$num')) AS n
         |  FROM aug
         |)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN e + i + n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
         |  CAST(SUM(e) AS BIGINT) AS n_emails, CAST(SUM(i) AS BIGINT) AS n_ips,
         |  CAST(SUM(n) AS BIGINT) AS n_longnums,
         |  (CAST(SUM(CASE WHEN e + i + n > 0 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
         |    // CAST(COUNT(*) AS BIGINT) AS pii_doc_ppm
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q_decontaminate" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE md5(coalesce(text, '')) NOT IN
        |  (SELECT md5(coalesce(text, '')) FROM documents WHERE doc_id % 50 = 0)
        |ORDER BY doc_id""".stripMargin,

    "q_decontaminate_bloom" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE md5(coalesce(text, '')) NOT IN
        |  (SELECT md5(coalesce(text, '')) FROM documents WHERE doc_id % 50 = 0)
        |ORDER BY doc_id""".stripMargin,

    // composed selection endpoint: stage-for-stage mirror (repetition
    // ratio cut -> exact-dedup min-id keepers -> token floor)
    "q_corpus_select" ->
      """WITH en AS (
        |  SELECT doc_id, text FROM documents WHERE lang = 'en'
        |), t AS (
        |  SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM en
        |), tp AS (
        |  SELECT doc_id, MAX(c) AS top, SUM(c) AS n FROM (
        |    SELECT doc_id, w, COUNT(*) AS c
        |    FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY 1, 2
        |  ) GROUP BY 1
        |), qual AS (
        |  SELECT t.doc_id, t.text, len(t.toks) AS n_tokens
        |  FROM t JOIN tp USING (doc_id)
        |  WHERE ROUND(CASE WHEN COALESCE(tp.n, 0) = 0 THEN 0.0
        |        ELSE CAST(tp.top AS DOUBLE) / tp.n END, 6) <= 0.12
        |), keep AS (
        |  SELECT MIN(doc_id) AS doc_id FROM qual GROUP BY md5(text)
        |)
        |SELECT q.doc_id, q.n_tokens
        |FROM qual q JOIN keep USING (doc_id)
        |WHERE q.n_tokens >= 20
        |ORDER BY q.doc_id""".stripMargin,

    // span localization: same gram construction WITH positions kept
    "q_contamination_spans" ->
      """WITH t AS (
        |  SELECT doc_id AS id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT id, CAST(len(toks) AS BIGINT) AS n_toks, CAST(k AS BIGINT) AS p,
        |         array_to_string(toks[k:k+4], ' ') AS g
        |  FROM t, unnest(generate_series(1, len(toks) - 4)) u(k)
        |  WHERE len(toks) >= 5
        |), ev AS (SELECT DISTINCT g FROM g WHERE id % 50 = 0),
        |tot AS (SELECT id, COUNT(*) AS n_gram_occs FROM g GROUP BY 1),
        |hits AS (
        |  SELECT id, COUNT(*) AS n_hits, MIN(p) AS first_hit_pos, MAX(p) AS last_hit_pos
        |  FROM g JOIN ev USING (g) GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  COALESCE(CAST(len(t.toks) AS BIGINT), 0) AS n_toks,
        |  COALESCE(tot.n_gram_occs, 0) AS n_gram_occs,
        |  COALESCE(hits.n_hits, 0) AS n_hits,
        |  hits.first_hit_pos, hits.last_hit_pos,
        |  CASE WHEN hits.n_hits IS NOT NULL
        |    THEN ROUND((hits.last_hit_pos - hits.first_hit_pos + 5) * 1.0 / len(t.toks), 6)
        |    ELSE 0.0 END AS span_frac
        |FROM documents d
        |LEFT JOIN t ON t.id = d.doc_id
        |LEFT JOIN tot ON tot.id = d.doc_id
        |LEFT JOIN hits ON hits.id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // contamination: distinct word-5-grams of each doc vs the distinct
    // gram set of the every-50th-doc "eval suite"
    "q_contamination" ->
      """WITH t AS (
        |  SELECT doc_id AS id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), sh0 AS (
        |  SELECT id, array_to_string(toks[k:k+4], ' ') AS g
        |  FROM t, unnest(generate_series(1, len(toks) - 4)) u(k)
        |  WHERE len(toks) >= 5
        |), sh AS (SELECT DISTINCT id, g FROM sh0),
        |ev AS (SELECT DISTINCT g FROM sh WHERE id % 50 = 0),
        |tot AS (SELECT id, COUNT(*) AS n_grams FROM sh GROUP BY 1),
        |hits AS (SELECT id, COUNT(*) AS n_hits FROM sh JOIN ev USING (g) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(tot.n_grams, 0) AS n_grams,
        |  COALESCE(hits.n_hits, 0) AS n_hits,
        |  ROUND(COALESCE(hits.n_hits, 0) * 1.0 / GREATEST(COALESCE(tot.n_grams, 0), 1), 6)
        |    AS contamination_ratio
        |FROM documents d
        |LEFT JOIN tot ON tot.id = d.doc_id
        |LEFT JOIN hits ON hits.id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // bigram LM with add-one smoothing, <s> context per document;
    // mean ln P rounded to 6 so summation order can't leak through
    "q_lm_score" ->
      """WITH t AS (
        |  SELECT doc_id AS id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), bg AS (
        |  SELECT id, CASE WHEN k = 1 THEN '<s>' ELSE toks[k-1] END AS prev, toks[k] AS cur
        |  FROM t, unnest(generate_series(1, len(toks))) u(k)
        |  WHERE len(toks) >= 1
        |), c2 AS (SELECT prev, cur, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT prev, COUNT(*) AS c1 FROM bg GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT cur) AS v FROM bg)
        |SELECT id AS doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(AVG(ln((c2.c2 + 1) * 1.0 / (c1.c1 + v.v))), 6) AS lm_score
        |FROM bg JOIN c2 USING (prev, cur) JOIN c1 USING (prev) CROSS JOIN v
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // token budget: same salted order, running-sum window, boundary
    // doc included (prior total < budget)
    "q_token_budget" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
        |    CAST(concat('0x', substr(md5('tb1:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
        |  FROM documents
        |), c AS (
        |  SELECT source, doc_id, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM t
        |)
        |SELECT source, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM c WHERE cum_tokens - n_tokens < 800
        |ORDER BY source, doc_id""".stripMargin,

    // centroid-distance mislabel gate: grid-unit integer centroids,
    // div-2^24-reduced squared distances (midpoint-exact medians),
    // quarter/eighth-unit med/MAD, pure-integer 3.5-z cross-multiply
    "q_centroid_outliers" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |                  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (
        |  SELECT vec_id, label, CAST(k - 1 AS INT) AS dim,
        |         CAST(FLOOR(v[CAST(k AS INT)] * 16777216 + 0.5) AS BIGINT) AS p
        |  FROM e, unnest(generate_series(1, len(v))) uk(k)
        |),
        |c AS (
        |  SELECT label, dim,
        |    CAST(CASE WHEN SUM(p) >= 0
        |      THEN  ((2 * CAST(SUM(p) AS HUGEINT) + COUNT(*)) // (2 * CAST(COUNT(*) AS HUGEINT)))
        |      ELSE -((2 * CAST(-SUM(p) AS HUGEINT) + COUNT(*)) // (2 * CAST(COUNT(*) AS HUGEINT)))
        |    END AS BIGINT) AS c
        |  FROM u GROUP BY 1, 2
        |),
        |d AS (
        |  SELECT u.vec_id, u.label,
        |    CAST(SUM(CAST(u.p - c.c AS HUGEINT) * (u.p - c.c)) // 16777216 AS BIGINT) AS d2q
        |  FROM u JOIN c ON c.label = u.label AND c.dim = u.dim
        |  GROUP BY 1, 2
        |),
        |s AS (SELECT label, CAST(quantile_cont(d2q, 0.5) * 4 AS BIGINT) AS med4
        |      FROM d GROUP BY 1),
        |m AS (
        |  SELECT d.label, CAST(quantile_cont(ABS(4 * d.d2q - s.med4), 0.5) * 2 AS BIGINT) AS mad8
        |  FROM d JOIN s ON s.label = d.label GROUP BY 1
        |)
        |SELECT d.vec_id, d.label, d.d2q, s.med4, m.mad8,
        |  (m.mad8 > 0 AND 13490 * ABS(4 * d.d2q - s.med4) > 35000 * m.mad8) AS is_outlier
        |FROM d JOIN s ON s.label = d.label JOIN m ON m.label = d.label
        |ORDER BY 1""".stripMargin,

    // two-sample KS on token-length distributions: inclusive ranks at
    // every distinct length, cross-multiplied integer sup fold in
    // HUGEINT, ppm statistic by integer division — no double anywhere
    "q_len_ks_drift" ->
      """WITH l AS (
        |  SELECT source AS k,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS v
        |  FROM documents WHERE source IN ('src3', 'src7')
        |), c AS (
        |  SELECT v,
        |    SUM(CASE WHEN k = 'src3' THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN k = 'src7' THEN 1 ELSE 0 END) AS cb
        |  FROM l GROUP BY 1
        |), cum AS (
        |  SELECT v,
        |    SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS i,
        |    SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS j,
        |    SUM(ca) OVER () AS n, SUM(cb) OVER () AS m
        |  FROM c
        |)
        |SELECT CAST(MAX(n) AS BIGINT) AS n_a, CAST(MAX(m) AS BIGINT) AS n_b,
        |  CAST(MAX(ABS(CAST(i AS HUGEINT) * m - CAST(j AS HUGEINT) * n)) AS BIGINT) AS d_num,
        |  CAST((MAX(ABS(CAST(i AS HUGEINT) * m - CAST(j AS HUGEINT) * n)) * 1000000)
        |    // (CAST(MAX(n) AS HUGEINT) * MAX(m)) AS BIGINT) AS ks_ppm
        |FROM cum""".stripMargin,

    // waterfill allocation: caps = 4 epochs per source, budget = half
    // the total tokens; the cut m and level lambda come from the
    // sorted prefix-sum closed form — pure BIGINT end to end
    "q_token_waterfill" ->
      """WITH t AS (
        |  SELECT source,
        |    CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1
        |),
        |b AS (SELECT (SUM(n_tokens) * 1) // 2 AS budget,
        |             CAST(COUNT(*) AS BIGINT) AS n FROM t),
        |o AS (
        |  SELECT source, n_tokens, n_tokens * 4 AS cap,
        |    CAST(ROW_NUMBER() OVER (ORDER BY n_tokens * 4, source) AS BIGINT) AS i,
        |    SUM(n_tokens * 4) OVER (ORDER BY n_tokens * 4, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |  FROM t
        |),
        |mm AS (
        |  SELECT COALESCE(MAX(o.i), 0) AS m
        |  FROM o, b WHERE o.p + (b.n - o.i) * o.cap <= b.budget
        |),
        |pm AS (SELECT COALESCE((SELECT o.p FROM o, mm WHERE o.i = mm.m), 0) AS pv),
        |lam AS (
        |  SELECT CAST(CASE WHEN mm.m = b.n THEN (SELECT MAX(cap) FROM o)
        |              ELSE (b.budget - pm.pv) // (b.n - mm.m) END AS BIGINT) AS lambda
        |  FROM mm, b, pm
        |)
        |SELECT o.source, o.n_tokens, CAST(o.cap AS BIGINT) AS cap,
        |  LEAST(o.cap, lam.lambda) AS alloc,
        |  CASE WHEN o.n_tokens = 0 THEN 0
        |       ELSE (1000 * LEAST(o.cap, lam.lambda)) // o.n_tokens END AS epochs_milli
        |FROM o, lam ORDER BY 1""".stripMargin,

    // quota cap: identical salted 52-bit-hash order, window form (the
    // oracle engine's corpus fits one task; the ENGINE plan is the
    // heap-aggregated one)
    "q_source_cap" ->
      """SELECT source, doc_id, rank_in_stratum FROM (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |      CAST(concat('0x', substr(md5('cap1:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT),
        |      doc_id) AS rank_in_stratum
        |  FROM documents)
        |WHERE rank_in_stratum <= 15 ORDER BY source, rank_in_stratum""".stripMargin,

    // edit-distance pairs: the same deletion-variant construction
    // (identity + per-position deletion), variant equi-join, exact
    // levenshtein verify — identical in both engines
    "q_word_edit_pairs" ->
      """WITH occ AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |  FROM documents
        |),
        |occ2 AS (SELECT substring(w, 2, len(w)) AS w FROM occ WHERE len(w) >= 2),
        |v AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS wc
        |  FROM (SELECT w FROM occ UNION ALL SELECT w FROM occ2)
        |  GROUP BY 1
        |),
        |var AS (
        |  SELECT w, w AS variant FROM v
        |  UNION ALL
        |  SELECT w, substring(w, 1, CAST(i - 1 AS INT)) ||
        |            substring(w, CAST(i + 1 AS INT), len(w)) AS variant
        |  FROM v, unnest(generate_series(1, len(w))) u(i)
        |),
        |cand AS (
        |  SELECT DISTINCT a.w AS w_a, b.w AS w_b
        |  FROM var a JOIN var b ON a.variant = b.variant AND a.w < b.w
        |)
        |SELECT c.w_a, c.w_b, CAST(levenshtein(c.w_a, c.w_b) AS BIGINT) AS dist,
        |       va.wc AS wc_a, vb.wc AS wc_b
        |FROM cand c
        |JOIN v va ON va.w = c.w_a
        |JOIN v vb ON vb.w = c.w_b
        |WHERE levenshtein(c.w_a, c.w_b) <= 1
        |ORDER BY 1, 2""".stripMargin,

    // Zipf fit: ranks by (freq DESC, 60-bit token hash ASC) — the
    // TopK heap's order; nano-unit ln terms summed in HUGEINT, the
    // engine's exact double-edge arithmetic tree replayed
    "q_zipf_fit" ->
      """WITH f AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |        FROM documents)
        |  GROUP BY 1
        |),
        |r AS (
        |  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC,
        |    CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) ASC) AS rank
        |  FROM f
        |),
        |t AS (
        |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
        |  FROM (SELECT CAST(ROUND(1e9 * ln(CAST(rank AS DOUBLE))) AS BIGINT) AS x,
        |               CAST(ROUND(1e9 * ln(CAST(freq AS DOUBLE))) AS BIGINT) AS y
        |        FROM r WHERE rank <= 1000)
        |),
        |e AS (
        |  SELECT CAST(n AS BIGINT) AS n_ranks,
        |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx,
        |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dy,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd, CAST(n AS DOUBLE) AS nd
        |  FROM t
        |)
        |SELECT n_ranks,
        |  CASE WHEN dx = 0 THEN NULL ELSE ROUND(num / dx, 6) END AS slope,
        |  CASE WHEN dx = 0 THEN NULL
        |    ELSE ROUND((syd - num / dx * sxd) / (nd * 1e9), 6) END AS intercept,
        |  CASE WHEN dx = 0 OR dy = 0 THEN NULL
        |    ELSE ROUND(num * num / (dx * dy), 6) END AS r2
        |FROM e""".stripMargin,

    // A-ES weighted sample: the same 52-bit salted draw, u in (0,1)
    // as (h + 0.5)/2^52, race key ln(u)/w DESC == -ln(u)/w ASC; the
    // engine's TopK (sim DESC, id ASC) order mirrored exactly
    "q_weighted_sample" ->
      """SELECT source, doc_id, rank_in_stratum FROM (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |      ln((CAST(concat('0x', substr(md5('wsamp1:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 0.5)
        |         / 4503599627370496.0) / CAST(n_chars AS DOUBLE) DESC,
        |      doc_id) AS rank_in_stratum
        |  FROM documents WHERE n_chars > 0)
        |WHERE rank_in_stratum <= 12 ORDER BY source, rank_in_stratum""".stripMargin,

    "q_heavy_hitters" ->
      """SELECT token, COUNT(*) AS cnt
        |FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        |      FROM documents)
        |GROUP BY 1 HAVING COUNT(*) >= 500 ORDER BY 1""".stripMargin,

    // held-out LM: counts from the even-id split only; LEFT joins +
    // COALESCE give unseen bigrams the smoothed (0+1)/(0+V) mass
    "q_lm_heldout" ->
      """WITH t AS (
        |  SELECT doc_id AS id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), bg AS (
        |  SELECT id, CASE WHEN k = 1 THEN '<s>' ELSE toks[k-1] END AS prev, toks[k] AS cur
        |  FROM t, unnest(generate_series(1, len(toks))) u(k)
        |  WHERE len(toks) >= 1
        |), bgt AS (SELECT * FROM bg WHERE id % 2 = 0),
        |bge AS (SELECT * FROM bg WHERE id % 2 = 1),
        |c2 AS (SELECT prev, cur, COUNT(*) AS c2 FROM bgt GROUP BY 1, 2),
        |c1 AS (SELECT prev, COUNT(*) AS c1 FROM bgt GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT cur) AS v FROM bgt)
        |SELECT id AS doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(AVG(ln((COALESCE(c2.c2, 0) + 1) * 1.0 / (COALESCE(c1.c1, 0) + v.v))), 6) AS lm_score
        |FROM bge LEFT JOIN c2 USING (prev, cur) LEFT JOIN c1 USING (prev) CROSS JOIN v
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // interpolated Kneser-Ney on the same split: discounted bigram
    // mass + continuation interpolation, the engine's exact double
    // arithmetic tree (left-assoc products, one division)
    "q_lm_kneser_ney" ->
      """WITH t AS (
        |  SELECT doc_id AS id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), bg AS (
        |  SELECT id, CASE WHEN k = 1 THEN '<s>' ELSE toks[k-1] END AS prev, toks[k] AS cur
        |  FROM t, unnest(generate_series(1, len(toks))) u(k)
        |  WHERE len(toks) >= 1
        |), bgt AS (SELECT * FROM bg WHERE id % 2 = 0),
        |bge AS (SELECT * FROM bg WHERE id % 2 = 1),
        |c2 AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS c2 FROM bgt GROUP BY 1, 2),
        |ctx AS (SELECT prev, SUM(c2) AS c1, CAST(COUNT(*) AS BIGINT) AS n1f FROM c2 GROUP BY 1),
        |cont AS (SELECT cur, CAST(COUNT(*) AS BIGINT) AS n1r FROM c2 GROUP BY 1),
        |scal AS (SELECT CAST(COUNT(*) AS BIGINT) AS t, COUNT(DISTINCT cur) AS v FROM c2)
        |SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  ROUND(AVG(ln(p)), 6) AS kn_score
        |FROM (
        |  SELECT e.id,
        |    CASE WHEN COALESCE(x.c1, 0) > 0
        |      THEN (GREATEST(CAST(COALESCE(c2.c2, 0) AS DOUBLE) - 0.75, 0.0)
        |            + 0.75 * CAST(x.n1f AS DOUBLE) * e.pc) / CAST(x.c1 AS DOUBLE)
        |      ELSE e.pc END AS p
        |  FROM (
        |    SELECT bge.id, bge.prev, bge.cur,
        |      CAST(COALESCE(cont.n1r, 0) + 1 AS DOUBLE)
        |        / CAST(scal.t + scal.v + 1 AS DOUBLE) AS pc
        |    FROM bge LEFT JOIN cont USING (cur) CROSS JOIN scal
        |  ) e
        |  LEFT JOIN c2 ON c2.prev = e.prev AND c2.cur = e.cur
        |  LEFT JOIN ctx x ON x.prev = e.prev
        |)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // DSIR: two copies of the held-out LM chain (target = src0 train
    // set, source = src1), ratio of the per-doc mean log-likelihoods
    "q_dsir_weight" ->
      """WITH t AS (
        |  SELECT doc_id AS id, source,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), bg AS (
        |  SELECT id, source,
        |         CASE WHEN k = 1 THEN '<s>' ELSE toks[k-1] END AS prev, toks[k] AS cur
        |  FROM t, unnest(generate_series(1, len(toks))) u(k)
        |  WHERE len(toks) >= 1
        |), bgt AS (SELECT * FROM bg WHERE source = 'src0'),
        |bgs AS (SELECT * FROM bg WHERE source = 'src1'),
        |c2t AS (SELECT prev, cur, COUNT(*) AS c2 FROM bgt GROUP BY 1, 2),
        |c1t AS (SELECT prev, COUNT(*) AS c1 FROM bgt GROUP BY 1),
        |vt AS (SELECT COUNT(DISTINCT cur) AS v FROM bgt),
        |c2s AS (SELECT prev, cur, COUNT(*) AS c2 FROM bgs GROUP BY 1, 2),
        |c1s AS (SELECT prev, COUNT(*) AS c1 FROM bgs GROUP BY 1),
        |vs AS (SELECT COUNT(DISTINCT cur) AS v FROM bgs),
        |lpt AS (
        |  SELECT id, COUNT(*) AS n_bigrams,
        |    ROUND(AVG(ln((COALESCE(c2t.c2, 0) + 1) * 1.0 / (COALESCE(c1t.c1, 0) + vt.v))), 6) AS lp_target
        |  FROM bg LEFT JOIN c2t USING (prev, cur) LEFT JOIN c1t USING (prev) CROSS JOIN vt
        |  GROUP BY 1
        |), lps AS (
        |  SELECT id,
        |    ROUND(AVG(ln((COALESCE(c2s.c2, 0) + 1) * 1.0 / (COALESCE(c1s.c1, 0) + vs.v))), 6) AS lp_source
        |  FROM bg LEFT JOIN c2s USING (prev, cur) LEFT JOIN c1s USING (prev) CROSS JOIN vs
        |  GROUP BY 1
        |)
        |SELECT lpt.id AS doc_id, lpt.n_bigrams, lpt.lp_target, lps.lp_source,
        |  ROUND(lpt.lp_target - lps.lp_source, 6) AS log_ratio
        |FROM lpt JOIN lps USING (id) ORDER BY 1""".stripMargin,

    // tf-idf top-3 terms; rank on the ROUNDED score (see CorpusOps)
    "q_tfidf_topk" ->
      """WITH tok AS (
        |  SELECT doc_id AS id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |  FROM documents
        |), tf AS (SELECT id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |s AS (
        |  SELECT id, w, tf, ROUND(tf * ln(n_docs * 1.0 / df), 6) AS score
        |  FROM tf JOIN df USING (w) CROSS JOIN n
        |)
        |SELECT id AS doc_id, w AS term, CAST(tf AS BIGINT) AS tf, score,
        |  CAST(rank AS BIGINT) AS rank
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY score DESC, w ASC) AS rank
        |  FROM s
        |) WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // BM25 (Lucene idf shape) against the fixed 5-term probe; every
    // double literal spelled with e0 so DuckDB computes in DOUBLE, not
    // DECIMAL, and the arithmetic tree parenthesized exactly like the
    // engine's column expression
    "q_bm25_topk" ->
      s"""WITH tok AS (
         |  SELECT doc_id AS id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
         |  FROM documents
         |), dl AS (SELECT id, COUNT(*) AS dl FROM tok GROUP BY 1),
         |stats AS (
         |  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         |         (SELECT SUM(dl)::DOUBLE / COUNT(*)::DOUBLE FROM dl) AS avgdl
         |), tf AS (
         |  SELECT id, w, COUNT(*) AS tf FROM tok
         |  WHERE w IN (${Bm25Query.map(t => s"'$t'").mkString(", ")}) GROUP BY 1, 2
         |), dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
         |scored AS (
         |  SELECT id, ROUND(SUM(
         |    ln(((n_docs - df)::DOUBLE + 0.5e0) / (df::DOUBLE + 0.5e0) + 1.0e0) *
         |      (tf::DOUBLE * ${1.2 + 1.0}e0) /
         |      (tf::DOUBLE + 1.2e0 * ((${1.0 - 0.75}e0) + 0.75e0 * dl::DOUBLE / avgdl))), 6) AS score
         |  FROM tf JOIN dfq USING (w) JOIN dl USING (id) CROSS JOIN stats GROUP BY 1
         |)
         |SELECT id AS doc_id, score FROM scored ORDER BY score DESC, id LIMIT 20""".stripMargin,

    // temperature mixing weights, alpha = 0.7; exact integer token
    // counts, doubles rounded at 6
    "q_source_temperature" ->
      """WITH ps AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |         SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS n_tokens
        |  FROM documents GROUP BY 1
        |), tot AS (SELECT SUM(n_tokens) AS total_tokens FROM ps),
        |raw AS (
        |  SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
        |         n_tokens::DOUBLE / total_tokens::DOUBLE AS p_raw,
        |         POWER(n_tokens::DOUBLE / total_tokens::DOUBLE, 0.7e0) AS p_pow
        |  FROM ps CROSS JOIN tot
        |), z AS (SELECT SUM(p_pow) AS z FROM raw)
        |SELECT source, n_docs, n_tokens, ROUND(p_raw, 6) AS p_raw,
        |       ROUND(p_pow / z, 6) AS p_temp, ROUND(p_pow / z / p_raw, 6) AS boost
        |FROM raw CROSS JOIN z ORDER BY 1""".stripMargin,

    // trigram novelty: odd-id docs probe the even-id half's distinct
    // gram set; distinct on the gram STRING first (then hash) exactly
    // like shingleTable + tokenHash
    "q_novelty_ngrams" ->
      """WITH t AS (
        |  SELECT doc_id AS id, doc_id % 2 AS side,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), sh0 AS (
        |  SELECT id, side, array_to_string(toks[k:k+2], ' ') AS w
        |  FROM t, unnest(generate_series(1, len(toks) - 2)) u(k)
        |  WHERE len(toks) >= 3
        |), sh AS (SELECT DISTINCT id, side, w FROM sh0),
        |shh AS (SELECT id, side, CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS h FROM sh),
        |baseg AS (SELECT DISTINCT h FROM shh WHERE side = 0),
        |incg AS (SELECT id, h FROM shh WHERE side = 1)
        |SELECT i.id AS doc_id, COUNT(*) AS n_grams, COUNT(b.h) AS n_seen,
        |       ROUND(1.0e0 - COUNT(b.h)::DOUBLE / COUNT(*)::DOUBLE, 6) AS novelty
        |FROM incg i LEFT JOIN baseg b USING (h) GROUP BY 1 ORDER BY 1""".stripMargin,

    // hybrid RRF: the BM25 CTE chain (top-50, ranks over the ROUNDED
    // score) fused with the cosine top-50 of probe vector 0 (selected
    // by unrounded sim like the TopK aggregator, then re-ranked over
    // the rounded sim exactly like the engine's rrfFuse input)
    "q_hybrid_rrf" ->
      s"""WITH tok AS (
         |  SELECT doc_id AS id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
         |  FROM documents
         |), dl AS (SELECT id, COUNT(*) AS dl FROM tok GROUP BY 1),
         |stats AS (
         |  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         |         (SELECT SUM(dl)::DOUBLE / COUNT(*)::DOUBLE FROM dl) AS avgdl
         |), tf AS (
         |  SELECT id, w, COUNT(*) AS tf FROM tok
         |  WHERE w IN (${Bm25Query.map(t => s"'$t'").mkString(", ")}) GROUP BY 1, 2
         |), dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
         |bm AS (
         |  SELECT id, ROUND(SUM(
         |    ln(((n_docs - df)::DOUBLE + 0.5e0) / (df::DOUBLE + 0.5e0) + 1.0e0) *
         |      (tf::DOUBLE * ${1.2 + 1.0}e0) /
         |      (tf::DOUBLE + 1.2e0 * ((${1.0 - 0.75}e0) + 0.75e0 * dl::DOUBLE / avgdl))), 6) AS score
         |  FROM tf JOIN dfq USING (w) JOIN dl USING (id) CROSS JOIN stats GROUP BY 1
         |), lex50 AS (SELECT id, score FROM bm ORDER BY score DESC, id LIMIT 50),
         |lexr AS (
         |  SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rank FROM lex50
         |), e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sims AS (
         |  SELECT c.vec_id AS id, list_cosine_similarity(q0.v, c.v) AS sim
         |  FROM e c, (SELECT v FROM e WHERE vec_id = 0) q0 WHERE c.vec_id <> 0
         |), vec50 AS (SELECT id, ROUND(sim, 6) AS score FROM sims ORDER BY sim DESC, id LIMIT 50),
         |vecr AS (
         |  SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rank FROM vec50
         |), u AS (
         |  SELECT id, 1.0e0 / (60 + rank) AS contrib FROM lexr
         |  UNION ALL SELECT id, 1.0e0 / (60 + rank) FROM vecr
         |)
         |SELECT id AS doc_id, COUNT(*) AS n_lists, ROUND(SUM(contrib), 6) AS rrf_score
         |FROM u GROUP BY 1 ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin,

    // quality-aware keeper: argmax n_chars per cluster, ties -> min id
    "q_dedup_keep_best" ->
      s"""$sqlClustersCte
         |SELECT cluster_id, keep_id, best_quality, cluster_size FROM (
         |  SELECT c.cluster_id, d.doc_id AS keep_id, d.n_chars AS best_quality,
         |         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
         |                            ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
         |         COUNT(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
         |  FROM clusters c JOIN documents d USING (doc_id)
         |) WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    // hashed linear classifier: integer weight sum (order-free), one
    // final double division -> bit-identical margin
    "q_quality_classifier" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens,
        |         SUM(CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) % 1001 - 500) AS int_sum
        |  FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY 1
        |)
        |SELECT t.doc_id, COALESCE(s.n_tokens, 0) AS n_tokens,
        |       CAST(COALESCE(s.int_sum, 0) AS BIGINT) AS int_sum,
        |       ROUND(CASE WHEN s.n_tokens IS NULL THEN 0.0e0
        |             ELSE s.int_sum::DOUBLE / (500.0e0 * s.n_tokens::DOUBLE) END, 6) AS margin,
        |       (CASE WHEN s.n_tokens IS NULL THEN 0.0e0
        |             ELSE s.int_sum::DOUBLE / (500.0e0 * s.n_tokens::DOUBLE) END) > 0.0e0 AS keep
        |FROM t LEFT JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin,

    // duplicate-gram mass: distinct (id, gram-hash) like the engine's
    // shingleTable + tokenHash, df over hashes, per-doc rollup
    "q_dup_gram_mass" ->
      """WITH t AS (
        |  SELECT doc_id AS id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), sh0 AS (
        |  SELECT id, array_to_string(toks[k:k+4], ' ') AS w
        |  FROM t, unnest(generate_series(1, len(toks) - 4)) u(k)
        |  WHERE len(toks) >= 5
        |), sh AS (
        |  SELECT DISTINCT id, CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS h
        |  FROM sh0
        |), dfq AS (SELECT h, COUNT(*) AS df FROM sh GROUP BY 1)
        |SELECT id AS doc_id, COUNT(*) AS n_grams,
        |       CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
        |       ROUND(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE, 6) AS dup_frac
        |FROM sh JOIN dfq USING (h) GROUP BY 1 ORDER BY 1""".stripMargin,

    // int8-quantization recall: dequantized vectors feed the same
    // all-pairs cosine CTE `pairs` the other recall oracles use
    "q_quantize_recall" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |  WHERE vec_id < $PairLimit
         |), sc AS (
         |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0e0 AS s FROM e
         |), dq AS (
         |  SELECT vec_id, CASE WHEN s = 0.0e0 THEN list_transform(v, x -> 0.0e0)
         |                      ELSE list_transform(v, x -> floor(x / s + 0.5e0) * s) END AS v
         |  FROM sc
         |), pairs AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |         list_cosine_similarity(q.v, c.v) AS sim
         |  FROM dq q, dq c WHERE c.vec_id <> q.vec_id
         |), ${sqlRecallTail(5)}""".stripMargin,

    // IVF list balance: same assignment CTE as the IVF top-k oracle,
    // one aggregation over `assign`
    "q_ivf_balance" ->
      s"""WITH ${sqlIvfPairsCte(16, 4)}
         |SELECT list AS list_id, COUNT(*) AS n_vectors,
         |       ROUND(COUNT(*) * 16 / (SELECT COUNT(*) FROM assign), 6) AS load_factor
         |FROM assign GROUP BY 1 ORDER BY 1""".stripMargin,

    // PQ encode: per-subspace squared-L2 argmin against the
    // deterministic codebooks; d2 sums fold dims in ascending order
    // exactly like the engine kernel
    "q_pq_encode" -> s"WITH ${sqlPqEncCte(4, 16)}\nSELECT vec_id, sub, code FROM enc ORDER BY 1, 2",

    // PQ recall: ADC = the m LUT entries summed in subspace order
    // (ordered list fold == the engine's fixed left-to-right fold);
    // brute side = ordered elementwise squared-L2
    "q_pq_recall" ->
      s"""WITH ${sqlPqEncCte(4, 16)},
         |adc0 AS (
         |  SELECT l.vec_id AS query_id, en.vec_id AS cand_id,
         |         list_sum(list(l.d2 ORDER BY l.sub)) AS dist
         |  FROM enc en JOIN d2t l ON l.sub = en.sub AND l.cid = en.code
         |    AND l.vec_id <> en.vec_id
         |  GROUP BY 1, 2
         |), ann AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist ASC, cand_id ASC) AS rn
         |    FROM adc0
         |  ) WHERE rn <= 5
         |), bfp AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
         |         list_sum(list_transform(generate_series(1, 64),
         |           i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i]))) AS dist
         |  FROM e a, e b WHERE b.vec_id <> a.vec_id
         |), bf AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist ASC, cand_id ASC) AS rn
         |    FROM bfp
         |  ) WHERE rn <= 5
         |)
         |SELECT bf.query_id, COUNT(ann.cand_id) AS n_hits,
         |       ROUND(COUNT(ann.cand_id) * 1.0 / COUNT(*), 6) AS recall
         |FROM bf LEFT JOIN ann
         |  ON ann.query_id = bf.query_id AND ann.cand_id = bf.cand_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // kNN degree histogram: same LSH ann CTE as q_embed_ann_lsh,
    // UNION-symmetrized edges, two bounded aggregations
    "q_knn_degree" ->
      s"""WITH ${sqlAnnTopCte(8, 64, 5)},
         |sym AS (
         |  SELECT query_id AS node, cand_id AS peer FROM ann
         |  UNION
         |  SELECT cand_id AS node, query_id AS peer FROM ann
         |), deg AS (SELECT node, COUNT(*) AS degree FROM sym GROUP BY 1)
         |SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY 1 ORDER BY 1""".stripMargin,

    // triangles: node-iterator wedge join over the canonical a < b
    // edge set of the same ann CTE, closed on the (v, w) edge key
    "q_knn_triangles" ->
      s"""WITH ${sqlAnnTopCte(8, 64, 5)},
         |sym AS (
         |  SELECT query_id AS a, cand_id AS b FROM ann
         |  UNION
         |  SELECT cand_id AS a, query_id AS b FROM ann
         |), und AS (SELECT a, b FROM sym WHERE a < b),
         |tri AS (
         |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |  FROM und e1 JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
         |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
         |), pn AS (
         |  SELECT node, COUNT(*) AS n_tri FROM (
         |    SELECT u AS node FROM tri
         |    UNION ALL SELECT v FROM tri
         |    UNION ALL SELECT w FROM tri
         |  ) GROUP BY 1
         |), deg AS (SELECT a AS node, COUNT(*) AS degree FROM sym GROUP BY 1)
         |SELECT d.node, d.degree,
         |  CAST(COALESCE(n_tri, 0) AS BIGINT) AS n_triangles,
         |  CASE WHEN d.degree >= 2
         |    THEN ROUND(COALESCE(n_tri, 0) * 2.0 / (d.degree * (d.degree - 1)), 6)
         |    ELSE 0.0 END AS clustering_coeff
         |FROM deg d LEFT JOIN pn USING (node) ORDER BY d.node""".stripMargin,

    // global transitivity: the same canonical wedge join as
    // q_knn_triangles; wedge sum in HUGEINT (mirrors decimal(38,0)),
    // exact integer halving, one double division
    "q_knn_transitivity" ->
      s"""WITH ${sqlAnnTopCte(8, 64, 5)},
         |sym AS (
         |  SELECT query_id AS a, cand_id AS b FROM ann
         |  UNION
         |  SELECT cand_id AS a, query_id AS b FROM ann
         |), und AS (SELECT a, b FROM sym WHERE a < b),
         |w2 AS (
         |  SELECT SUM(CAST(d AS HUGEINT) * (CAST(d AS HUGEINT) - 1)) AS wedge2
         |  FROM (SELECT a, COUNT(*) AS d FROM sym GROUP BY 1)
         |),
         |tr AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
         |  FROM und e1 JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
         |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
         |)
         |SELECT tr.n_triangles,
         |  CAST(w2.wedge2 // 2 AS BIGINT) AS n_wedges,
         |  CASE WHEN w2.wedge2 = 0 THEN NULL
         |    ELSE ROUND(tr.n_triangles * 6.0 / CAST(w2.wedge2 AS DOUBLE), 6)
         |  END AS transitivity
         |FROM tr, w2""".stripMargin,

    // link prediction: the same symmetrized CTE; wedge self-join on
    // the shared neighbor, anti-join out existing edges, integer
    // nano-unit Adamic-Adar terms (common neighbors have degree >= 2,
    // so ln never sees 1), the engine's exact (cn, aa, a, b) cut
    "q_knn_linkpred" ->
      s"""WITH ${sqlAnnTopCte(8, 64, 5)},
         |sym AS (
         |  SELECT query_id AS src, cand_id AS dst FROM ann
         |  UNION
         |  SELECT cand_id AS src, query_id AS dst FROM ann
         |),
         |deg AS (SELECT src AS z, COUNT(*) AS d FROM sym GROUP BY 1),
         |wed AS (
         |  SELECT s1.src AS z, s1.dst AS a, s2.dst AS b
         |  FROM sym s1 JOIN sym s2 ON s1.src = s2.src AND s1.dst < s2.dst
         |),
         |cand AS (
         |  SELECT w.z, w.a, w.b FROM wed w
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM sym e WHERE e.src = w.a AND e.dst = w.b
         |  )
         |)
         |SELECT a, b, CAST(COUNT(*) AS BIGINT) AS common_neighbors,
         |       ROUND(CAST(SUM(CAST(ROUND(1e9 / ln(CAST(d.d AS DOUBLE))) AS BIGINT)) AS BIGINT)
         |             / 1e9, 6) AS aa_score
         |FROM cand c JOIN deg d ON d.z = c.z
         |GROUP BY 1, 2
         |ORDER BY common_neighbors DESC,
         |  SUM(CAST(ROUND(1e9 / ln(CAST(d.d AS DOUBLE))) AS BIGINT)) DESC, a, b
         |LIMIT 30""".stripMargin,

    // kNN PageRank: same LSH ann CTE; 3 unrolled integer power
    // iterations (BIGINT // division, order-free sums) -> rank_units
    // is bit-exact, no float-summation wobble to tolerate
    "q_knn_pagerank" ->
      s"""WITH ${sqlAnnTopCte(8, 64, 5)},
         |sym AS (
         |  SELECT query_id AS src, cand_id AS dst FROM ann
         |  UNION
         |  SELECT cand_id AS src, query_id AS dst FROM ann
         |), nodes AS (SELECT DISTINCT src AS node FROM sym),
         |outdeg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY 1),
         |p AS (
         |  SELECT CAST(1000000000000 AS BIGINT) // COUNT(*) AS base,
         |         15 * (CAST(1000000000000 AS BIGINT) // COUNT(*)) // 100 AS tele
         |  FROM nodes
         |),
         |r0 AS (SELECT node, (SELECT base FROM p) AS r FROM nodes),
         |s1 AS (
         |  SELECT e.dst AS node, CAST(SUM(r.r // d.deg) AS BIGINT) AS s
         |  FROM sym e JOIN r0 r ON r.node = e.src JOIN outdeg d ON d.src = e.src
         |  GROUP BY 1
         |), r1 AS (
         |  SELECT n.node, (SELECT tele FROM p) + 85 * COALESCE(s.s, 0) // 100 AS r
         |  FROM nodes n LEFT JOIN s1 s ON s.node = n.node
         |),
         |s2 AS (
         |  SELECT e.dst AS node, CAST(SUM(r.r // d.deg) AS BIGINT) AS s
         |  FROM sym e JOIN r1 r ON r.node = e.src JOIN outdeg d ON d.src = e.src
         |  GROUP BY 1
         |), r2 AS (
         |  SELECT n.node, (SELECT tele FROM p) + 85 * COALESCE(s.s, 0) // 100 AS r
         |  FROM nodes n LEFT JOIN s2 s ON s.node = n.node
         |),
         |s3 AS (
         |  SELECT e.dst AS node, CAST(SUM(r.r // d.deg) AS BIGINT) AS s
         |  FROM sym e JOIN r2 r ON r.node = e.src JOIN outdeg d ON d.src = e.src
         |  GROUP BY 1
         |), r3 AS (
         |  SELECT n.node, (SELECT tele FROM p) + 85 * COALESCE(s.s, 0) // 100 AS r
         |  FROM nodes n LEFT JOIN s3 s ON s.node = n.node
         |)
         |SELECT r3.node, d.deg AS degree, r3.r AS rank_units,
         |       ROUND(r3.r / 1.0e12, 9) AS pr
         |FROM r3 JOIN outdeg d ON d.src = r3.node ORDER BY 1""".stripMargin,

    // label propagation: same ann CTE; 4 unrolled neighbor-majority
    // rounds, per-node argmax via (votes DESC, label ASC) row_number
    "q_knn_labelprop" -> sqlKnnLabelProp(4),

    // kNN connected components: recursive min-label walk over the
    // symmetrized ann edges (the dedup-cluster oracle pattern)
    "q_knn_components" ->
      s"""WITH RECURSIVE ${sqlAnnTopCte(8, 64, 5)},
         |sym AS (
         |  SELECT query_id AS src, cand_id AS dst FROM ann
         |  UNION
         |  SELECT cand_id AS src, query_id AS dst FROM ann
         |),
         |nodes AS (SELECT DISTINCT src AS node FROM sym),
         |walk(id, lbl) AS (
         |  SELECT src, dst FROM sym
         |  UNION
         |  SELECT e.src, w.lbl FROM sym e JOIN walk w ON w.id = e.dst
         |),
         |comp AS (
         |  SELECT n.node, LEAST(n.node, COALESCE(MIN(w.lbl), n.node)) AS component
         |  FROM nodes n LEFT JOIN walk w ON w.id = n.node GROUP BY n.node
         |),
         |sizes AS (
         |  SELECT component, CAST(COUNT(*) AS BIGINT) AS comp_size
         |  FROM comp GROUP BY 1
         |)
         |SELECT c.node, c.component, s.comp_size
         |FROM comp c JOIN sizes s USING (component) ORDER BY c.node""".stripMargin,

    // modularity: the LPA chain + HUGEINT Newman terms, micro-integer
    // rounding (no wide-int->double cast)
    "q_knn_modularity" -> sqlKnnModularity(4),

    // BFS blast radius: unrolled frontier stages, kcore-style
    "q_knn_bfs_dist" -> sqlKnnBfsDepths(4),

    // IVF nprobe sweep: shared scored/ground-truth CTEs, one top-k +
    // summary row per probe level
    "q_ivf_probe_sweep" -> sqlIvfProbeSweep(16, Seq(1, 2, 4, 8), 5),

    // k-core: same ann CTE; 6 unrolled peel stages (surviving-degree
    // count -> >= k filter), removed_round via per-stage anti joins
    "q_knn_kcore" -> sqlKnnKCore(6, 6),

    // assortativity: same ann CTE; HUGEINT-exact Pearson sums, the
    // same double combination and guard as the engine
    "q_knn_assortativity" ->
      s"""WITH ${sqlAnnTopCte(8, 64, 5)},
         |sym AS (
         |  SELECT query_id AS src, cand_id AS dst FROM ann
         |  UNION
         |  SELECT cand_id AS src, query_id AS dst FROM ann
         |), deg AS (SELECT src, COUNT(*) AS d FROM sym GROUP BY 1),
         |terms AS (
         |  SELECT COUNT(*) AS n,
         |         SUM(a.d) AS sx, SUM(b.d) AS sy,
         |         SUM(CAST(a.d AS HUGEINT) * CAST(b.d AS HUGEINT)) AS sxy,
         |         SUM(CAST(a.d AS HUGEINT) * CAST(a.d AS HUGEINT)) AS sxx,
         |         SUM(CAST(b.d AS HUGEINT) * CAST(b.d AS HUGEINT)) AS syy
         |  FROM sym e JOIN deg a ON a.src = e.src JOIN deg b ON b.src = e.dst
         |)
         |SELECT CAST(n AS BIGINT) AS n_edges,
         |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0
         |         OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) = 0
         |       THEN NULL
         |       ELSE ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |         / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |               * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         |  END AS assortativity
         |FROM terms""".stripMargin,

    // IVF-PQ recall: the PQ encode CTEs + prefixed IVF probe CTEs;
    // ADC restricted to probed-list candidates, brute L2 ground truth
    "q_ivfpq_recall" ->
      s"""WITH ${sqlPqEncCte(4, 16)},
         |icent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         |isims AS (
         |  SELECT e.vec_id, c.cid,
         |         ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC) AS rn
         |  FROM e, icent c
         |), iassign AS (SELECT vec_id AS cand_id, cid AS list FROM isims WHERE rn = 1),
         |iprobes AS (SELECT vec_id AS query_id, cid AS list FROM isims WHERE rn <= 4),
         |cand AS (
         |  SELECT p.query_id, a.cand_id
         |  FROM iprobes p JOIN iassign a ON a.list = p.list AND a.cand_id <> p.query_id
         |), adc0 AS (
         |  SELECT c.query_id, c.cand_id, list_sum(list(l.d2 ORDER BY l.sub)) AS dist
         |  FROM cand c
         |  JOIN enc en ON en.vec_id = c.cand_id
         |  JOIN d2t l ON l.vec_id = c.query_id AND l.sub = en.sub AND l.cid = en.code
         |  GROUP BY 1, 2
         |), ann AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist ASC, cand_id ASC) AS rn
         |    FROM adc0
         |  ) WHERE rn <= 5
         |), bfp AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
         |         list_sum(list_transform(generate_series(1, 64),
         |           i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i]))) AS dist
         |  FROM e a, e b WHERE b.vec_id <> a.vec_id
         |), bf AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist ASC, cand_id ASC) AS rn
         |    FROM bfp
         |  ) WHERE rn <= 5
         |)
         |SELECT bf.query_id, COUNT(ann.cand_id) AS n_hits,
         |       ROUND(COUNT(ann.cand_id) * 1.0 / COUNT(*), 6) AS recall
         |FROM bf LEFT JOIN ann
         |  ON ann.query_id = bf.query_id AND ann.cand_id = bf.cand_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // tokenizer fertility: exact integer sums, ratios as single
    // divisions of the BIGINT sums
    "q_token_fertility" ->
      s"""WITH per AS (
         |  SELECT source AS stratum,
         |         len(list_filter(string_split(text, ' '), x -> x <> '')) AS ws,
         |         len(regexp_extract_all(text, '${graft.text.TextOps.BpeishPattern}')) AS bpe,
         |         LENGTH(text) AS ch
         |  FROM documents
         |)
         |SELECT stratum, COUNT(*) AS n_docs,
         |       CAST(SUM(ws) AS BIGINT) AS ws_tokens,
         |       CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
         |       ROUND(CAST(SUM(bpe) AS BIGINT)::DOUBLE / CAST(SUM(ws) AS BIGINT)::DOUBLE, 6) AS fertility,
         |       ROUND(CAST(SUM(ch) AS BIGINT)::DOUBLE / CAST(SUM(bpe) AS BIGINT)::DOUBLE, 6) AS chars_per_token
         |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    // concat-and-chunk packing over doc_id order, capacity 256
    "q_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM t
        |)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(cum // 256 AS BIGINT) AS start_bin,
        |  CAST((cum + GREATEST(n_tokens, 1) - 1) // 256 AS BIGINT) AS end_bin
        |FROM c ORDER BY doc_id""".stripMargin,

    // packing-efficiency: same window cumsum as the q_seq_pack oracle
    // (an INDEPENDENT implementation of the engine's distributed
    // prefix sum), bins exploded per doc span
    "q_pack_bins" ->
      """WITH t AS (
        |  SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM t
        |), b AS (
        |  SELECT CAST(cum // 256 AS BIGINT) AS start_bin,
        |         CAST((cum + GREATEST(n_tokens, 1) - 1) // 256 AS BIGINT) AS end_bin
        |  FROM c
        |), e AS (
        |  SELECT start_bin, unnest(generate_series(start_bin, end_bin)) AS bin FROM b
        |)
        |SELECT bin, COUNT(*) AS n_docs_touching,
        |  CAST(SUM(CASE WHEN start_bin = bin THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_starting
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    // padding waste: identical truncation, batch = global-position
    // div batchSize per strategy, exact long token sums
    "q_pad_waste" ->
      """WITH t AS (
        |  SELECT doc_id AS id,
        |    CAST(LEAST(len(list_filter(string_split(text, ' '), w -> w <> '')), 256) AS BIGINT) AS eff
        |  FROM documents
        |), nb AS (SELECT (ROW_NUMBER() OVER (ORDER BY id) - 1) // 8 AS b, eff FROM t),
        |nbb AS (SELECT b, COUNT(*) AS c, MAX(eff) AS m FROM nb GROUP BY 1),
        |na AS (SELECT 'naive' AS strategy, CAST(COUNT(*) AS BIGINT) AS n_batches,
        |       CAST(SUM(c * m) AS BIGINT) AS padded_tokens FROM nbb),
        |sb AS (SELECT (ROW_NUMBER() OVER (ORDER BY eff DESC, id) - 1) // 8 AS b, eff FROM t),
        |sbb AS (SELECT b, COUNT(*) AS c, MAX(eff) AS m FROM sb GROUP BY 1),
        |sa AS (SELECT 'sorted' AS strategy, CAST(COUNT(*) AS BIGINT) AS n_batches,
        |       CAST(SUM(c * m) AS BIGINT) AS padded_tokens FROM sbb),
        |tot AS (SELECT CAST(SUM(eff) AS BIGINT) AS real_tokens FROM t),
        |pk AS (SELECT 'packed' AS strategy,
        |       CAST((real_tokens + 255) // 256 AS BIGINT) AS n_batches,
        |       CAST(((real_tokens + 255) // 256) * 256 AS BIGINT) AS padded_tokens FROM tot),
        |u AS (SELECT * FROM na UNION ALL SELECT * FROM sa UNION ALL SELECT * FROM pk)
        |SELECT strategy, n_batches, padded_tokens, real_tokens,
        |  CAST(padded_tokens - real_tokens AS DOUBLE) / CAST(padded_tokens AS DOUBLE) AS waste_frac
        |FROM u, tot ORDER BY strategy""".stripMargin,

    // z-order vs linear layout: Morton interleave spelled as 16 bit
    // terms, equal-split files via pos*32 div n, per-file envelopes
    "q_zorder_layout" -> {
      val zterms = (0 until 16).map(k =>
        s"((((x & 65535) >> $k) & 1) << ${2 * k}) + " +
          s"((((y & 65535) >> $k) & 1) << ${2 * k + 1})").mkString(" + ")
      s"""WITH t AS (
         |  SELECT l_partkey AS x, l_suppkey AS y,
         |         l_orderkey * 100 + l_linenumber AS tie
         |  FROM lineitem
         |), z AS (SELECT x, y, tie, $zterms AS zk FROM t),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
         |lp AS (SELECT x, y, ROW_NUMBER() OVER (ORDER BY x, y, tie) - 1 AS pos FROM t),
         |la AS (SELECT 'linear' AS layout, CAST((pos * 32) // n AS BIGINT) AS file_id, x, y FROM lp, n),
         |zp AS (SELECT x, y, ROW_NUMBER() OVER (ORDER BY zk, tie) - 1 AS pos FROM z),
         |za AS (SELECT 'zorder' AS layout, CAST((pos * 32) // n AS BIGINT) AS file_id, x, y FROM zp, n),
         |u AS (SELECT * FROM la UNION ALL SELECT * FROM za)
         |SELECT layout, file_id, COUNT(*) AS n_rows,
         |  MIN(x) AS x_min, MAX(x) AS x_max, MIN(y) AS y_min, MAX(y) AS y_max
         |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    // bucketed join: the PLAIN join — bucketing only changes layout
    "q_bucketed_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // key skew: histogram + top-10 mass with the same (cnt DESC, key)
    // tiebreak as the TopK heap
    "q_key_skew" ->
      """WITH c AS (SELECT l_suppkey AS key, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS topk_cnt
        |      FROM (SELECT cnt FROM c ORDER BY cnt DESC, key LIMIT 10)),
        |a AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |             CAST(COUNT(*) AS BIGINT) AS n_keys,
        |             CAST(MAX(cnt) AS BIGINT) AS max_cnt FROM c)
        |SELECT n_rows, n_keys, max_cnt, topk_cnt,
        |  CAST(topk_cnt AS DOUBLE) / CAST(n_rows AS DOUBLE) AS topk_share,
        |  CAST(max_cnt AS DOUBLE) * n_keys / n_rows AS skew_ratio
        |FROM a, t""".stripMargin,

    // equi-depth histogram: the oracle's window replays the exact
    // (value, id) global order; bucket = pos*B // n rank ranges
    "q_equidepth_hist" ->
      """WITH r AS (
        |  SELECT CAST(n_chars AS BIGINT) AS v, doc_id,
        |         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS pos
        |  FROM documents
        |), nn AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT (pos * 8) // n AS bucket,
        |  MIN(v) AS lo, MAX(v) AS hi, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM r, nn GROUP BY 1 ORDER BY 1""".stripMargin,

    // mv maintenance: the oracle is the ONE-PASS aggregate — the
    // base/delta merge must be invisible (distributive algebra)
    "q_mv_maintain" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  SUM(l_quantity) AS sum_qty,
        |  MIN(l_quantity) AS min_qty,
        |  MAX(l_quantity) AS max_qty,
        |  ROUND(SUM(l_quantity) / COUNT(*), 6) AS avg_qty
        |FROM lineitem
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // table stats: one UNION-of-aggregates per column, exact NDV
    "q_table_stats" -> {
      val statCols =
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
          "l_quantity")
      statCols.sorted.map { c =>
        s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv
           |FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY col_name"
    },

    // bootstrap CI: identical md5-fraction uniforms, the Poisson(1)
    // CASE ladder over the engine's own thresholds, 2nd-order-statistic
    // bounds with the same (mean, b) tiebreak
    "q_bootstrap_ci" -> {
      val ladder = CorpusOps.PoissonCdf1.zipWithIndex
        .map { case (t, i) => s"WHEN u < ${d(t)} THEN $i" }.mkString(" ")
      s"""WITH x AS (
         |  SELECT doc_id AS id,
         |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS x
         |  FROM documents
         |), e AS (
         |  SELECT id, x, CAST(b AS BIGINT) AS b
         |  FROM x, unnest(generate_series(0, 63)) g(b)
         |), uu AS (
         |  SELECT b, x,
         |    (CAST(concat('0x', substr(md5('boot:' || CAST(b AS VARCHAR) || ':' || CAST(id AS VARCHAR)), 1, 13)) AS BIGINT) + 0.5)
         |      / 4503599627370496.0 AS u
         |  FROM e
         |), ww AS (SELECT b, x, CASE $ladder ELSE ${CorpusOps.PoissonCdf1.length} END AS w FROM uu),
         |r AS (
         |  SELECT b, CASE WHEN SUM(w) = 0 THEN 0.0
         |    ELSE CAST(SUM(w * x) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) END AS mean_b
         |  FROM ww GROUP BY 1
         |),
         |lo AS (SELECT mean_b AS ci_lo FROM r ORDER BY mean_b ASC, b ASC LIMIT 1 OFFSET 1),
         |hi AS (SELECT mean_b AS ci_hi FROM r ORDER BY mean_b DESC, b ASC LIMIT 1 OFFSET 1),
         |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |      CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mean_tokens FROM x)
         |SELECT n_docs, CAST(64 AS BIGINT) AS n_replicas, mean_tokens, ci_lo, ci_hi
         |FROM p, lo, hi""".stripMargin
    },

    // span-dedup rewrite: first occurrence per chunk text by global
    // (doc_id, chunk idx) order via row_number; survivors string_agg'd
    // back in document order
    "q_dedup_rewrite" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, k AS cidx, array_to_string(toks[(k*8+1):((k+1)*8)], ' ') AS chunk
        |  FROM t, unnest(generate_series(0, CAST(ceil(len(toks) / 8.0) AS BIGINT) - 1)) u(k)
        |  WHERE len(toks) > 0
        |), r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, cidx) AS rn
        |  FROM c
        |), agg AS (
        |  SELECT doc_id, COUNT(*) AS n_chunks,
        |    SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept,
        |    string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY cidx) AS text_kept
        |  FROM r GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  CAST(COALESCE(n_chunks, 0) AS BIGINT) AS n_chunks,
        |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
        |  COALESCE(text_kept, '') AS text_kept
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // per-source boilerplate: chunk document-frequency WITHIN a source
    // >= 3 flags boilerplate; per-doc mass
    "q_boilerplate" ->
      """WITH t AS (
        |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source, array_to_string(toks[(k*8+1):((k+1)*8)], ' ') AS chunk
        |  FROM t, unnest(generate_series(0, CAST(ceil(len(toks) / 8.0) AS BIGINT) - 1)) u(k)
        |  WHERE len(toks) > 0
        |), boiler AS (
        |  SELECT source, chunk FROM (
        |    SELECT source, chunk, COUNT(DISTINCT doc_id) AS df FROM c GROUP BY 1, 2
        |  ) WHERE df >= 3
        |), agg AS (
        |  SELECT c.doc_id, COUNT(*) AS n_chunks,
        |    SUM(CASE WHEN b.chunk IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
        |  FROM c LEFT JOIN boiler b ON b.source = c.source AND b.chunk = c.chunk
        |  GROUP BY 1
        |)
        |SELECT d.doc_id, d.source,
        |  CAST(COALESCE(n_chunks, 0) AS BIGINT) AS n_chunks,
        |  CAST(COALESCE(n_boiler, 0) AS BIGINT) AS n_boiler_chunks,
        |  ROUND(COALESCE(n_boiler, 0) * 1.0 / GREATEST(COALESCE(n_chunks, 0), 1), 6) AS boiler_frac
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // full BPE training loop: the merge stages are unrolled as CTE
    // blocks (DuckDB replays each round's pair count, winner pick,
    // greedy non-overlap selection, and vocabulary rewrite exactly)
    "q_bpe_train" -> sqlBpeTrain(10),
    "q_bpe_encode" -> sqlBpeEncode(10),
    "q_wordpiece_encode" -> sqlWordpieceEncode(10),

    // the stored artifact's merge list IS the bpe-train face over the
    // even training half — DuckDB replays the same unrolled chain
    "q_tokenizer_artifact" -> sqlBpeTrain(10, "doc_id % 2 = 0"),
    "q_tokenizer_oov" -> sqlTokenizerOov(10),
    "q_tokenizer_patch" -> sqlTokenizerPatch(10, 15),
    "q_pref_bradley_terry" -> sqlBradleyTerry(3),
    "q_pref_upsets" -> sqlPrefUpsets(3),
    "q_pref_cycles" -> sqlPrefCycles,

    // Fleiss' kappa: the same deterministic rating synthesis, the
    // same exact integer numerators, the same single double division
    "q_pref_fleiss" ->
      """WITH rat AS (
        |  SELECT doc_id AS item_id, r.rater_id,
        |    CASE WHEN (doc_id * 31 + r.rater_id * 17) % 5 = 0
        |      THEN (doc_id % 4 + 1 + r.rater_id) % 4
        |      ELSE doc_id % 4 END AS category
        |  FROM documents, unnest(generate_series(0, 4)) r(rater_id)
        |), nik AS (
        |  SELECT item_id, category, COUNT(*) AS c FROM rat GROUP BY 1, 2
        |), per_item AS (
        |  SELECT item_id, SUM(c * c) AS sq, SUM(c) AS n FROM nik GROUP BY 1
        |), a AS (
        |  SELECT COUNT(*) AS n_items, MIN(n) AS n_min, MAX(n) AS n_max,
        |         SUM(sq - n) AS a_num
        |  FROM per_item
        |), b AS (
        |  SELECT SUM(ck * ck) AS b_num, COUNT(*) AS n_categories FROM (
        |    SELECT category, SUM(c) AS ck FROM nik GROUP BY 1
        |  )
        |)
        |SELECT CAST(n_items AS BIGINT) AS n_items,
        |  CAST(n_min AS BIGINT) AS n_raters,
        |  CAST(n_categories AS BIGINT) AS n_categories,
        |  CAST(a_num AS BIGINT) AS a_num, CAST(b_num AS BIGINT) AS b_num,
        |  ROUND(CAST(CAST(a_num AS HUGEINT) * n_items * n_items * n_min * n_min
        |          - CAST(b_num AS HUGEINT) * (n_items * n_min * (n_min - 1)) AS DOUBLE)
        |    / CAST(CAST(n_items AS HUGEINT) * n_min * (n_min - 1)
        |          * (CAST(n_items AS HUGEINT) * n_items * n_min * n_min - b_num) AS DOUBLE),
        |    6) AS kappa
        |FROM a, b WHERE n_min = n_max""".stripMargin,

    "q_source_gini" ->
      """WITH mass AS MATERIALIZED (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS x FROM (
        |    SELECT source,
        |      unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
        |    FROM documents
        |  ) GROUP BY 1
        |),
        |ranked AS MATERIALIZED (
        |  SELECT x, ROW_NUMBER() OVER (ORDER BY x, source) AS i FROM mass
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
        |  CAST(SUM(x) AS BIGINT) AS total_tokens,
        |  CAST(((2 * SUM(i * x) - (COUNT(*) + 1) * SUM(x)) * 1000000)
        |    // GREATEST(COUNT(*) * SUM(x), 1) AS BIGINT) AS gini_micro
        |FROM ranked""".stripMargin,

    // unigram-LM tokenizer: the hard-EM loop unrolled — per round a
    // recursive forward Viterbi DP over packed integer composites and
    // a recursive backward longest-consistent-piece walk
    "q_unigram_train" -> sqlUnigramTrain(4, 32, 2),
    "q_unigram_segment" -> sqlUnigramSegment(4, 32, 2),
    "q_unigram_encode" -> sqlUnigramEncode(4, 32, 2),

    // BPE merge round: pair counts over the vocabulary weighted by
    // word frequency; deterministic (count desc, left, right) cut
    "q_bpe_pairs" ->
      """WITH occ AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |  FROM documents
        |), v AS (SELECT w, COUNT(*) AS wc FROM occ GROUP BY 1),
        |p AS (
        |  SELECT substring(w, CAST(k AS INT), 1) AS left_sym,
        |         substring(w, CAST(k + 1 AS INT), 1) AS right_sym,
        |         CAST(SUM(wc) AS BIGINT) AS pair_count
        |  FROM v, unnest(generate_series(1, len(w) - 1)) u(k)
        |  WHERE len(w) >= 2 GROUP BY 1, 2
        |)
        |SELECT * FROM p
        |ORDER BY pair_count DESC, left_sym, right_sym LIMIT 20""".stripMargin,

    // MRL truncation recall: truncated-space pairs (v[1:16]) ranked,
    // recall vs the full-dimension brute top-k from the shared tail
    "q_mrl_recall" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |  WHERE vec_id < $PairLimit
         |), t AS (SELECT vec_id, v[1:16] AS v FROM e),
         |pairs AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |         list_cosine_similarity(q.v, c.v) AS sim
         |  FROM t q, t c WHERE c.vec_id <> q.vec_id
         |), ${sqlRecallTail(5)}""".stripMargin,

    // exact covariance: the same 2^24 unit quantization (power-of-two
    // scale, exact in double in both engines). Units quantize with
    // FLOOR(x + 0.5), Java Math.round's documented form — native
    // ROUND rounds negative halves AWAY from zero while Java floors
    // them toward +inf, and float-derived half-units are common (any
    // component whose last mantissa bit sits below the unit grid).
    // HUGEINT pair-product sums. The face is integer-exact end to
    // end: cov_micro = round_half_away(num*1e6 / (n^2*2^48)) via
    // sign * ((2*|num|*1e6 + D) // (2*D)) — HUGEINT `//` truncates,
    // which on non-negative operands is the same quotient BigInteger
    // computes on the Spark side. The HASHED face carries no DECIMAL
    // and no DOUBLE: spp travels as VARCHAR and the covariance as
    // BIGINT micro-units (DECIMAL(38,0) canonicalizes differently
    // between a Spark parquet dump and a DuckDB result — the r12
    // hash-fail; a hugeint->double cast of the ~2^70 numerator is
    // not correctly rounded on every engine version — the r11 one.)
    "q_embed_covariance" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (
        |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
        |         CAST(FLOOR(v[CAST(i AS INT)] * 16777216 + 0.5) AS BIGINT) AS p
        |  FROM e, unnest(generate_series(1, len(v))) ui(i)
        |),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
        |s AS (SELECT i, SUM(CAST(p AS HUGEINT)) AS si FROM u GROUP BY 1),
        |g AS (
        |  SELECT a.i AS i, b.i AS j,
        |         SUM(CAST(a.p AS HUGEINT) * CAST(b.p AS HUGEINT)) AS spp
        |  FROM u a JOIN u b ON a.vec_id = b.vec_id AND b.i >= a.i
        |  GROUP BY 1, 2
        |),
        |c AS (
        |  SELECT g.i, g.j, nn.n, g.spp,
        |         CAST(nn.n AS HUGEINT) * g.spp - si.si * sj.si AS num,
        |         CAST(nn.n AS HUGEINT) * CAST(nn.n AS HUGEINT)
        |           * CAST(281474976710656 AS HUGEINT) AS d
        |  FROM g
        |  JOIN s si ON si.i = g.i
        |  JOIN s sj ON sj.i = g.j
        |  CROSS JOIN nn
        |)
        |SELECT i, j, n, CAST(spp AS VARCHAR) AS spp,
        |  CAST(CASE WHEN num < 0
        |    THEN -((2 * (-num) * 1000000 + d) // (2 * d))
        |    ELSE  ((2 * num    * 1000000 + d) // (2 * d)) END
        |  AS BIGINT) AS cov_micro
        |FROM c
        |ORDER BY i, j""".stripMargin,

    // power iteration: the same quantization + moment CTEs as the
    // covariance oracle build the FULL numerator matrix (upper
    // triangle mirrored), then 8 unrolled integer matvec +
    // max-abs-renormalize stages replay the Spark trace exactly — no
    // double anywhere, so the per-step vectors are bit-identical.
    "q_embed_power_iter" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |u AS (
         |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
         |         CAST(FLOOR(v[CAST(i AS INT)] * 16777216 + 0.5) AS BIGINT) AS p
         |  FROM e, unnest(generate_series(1, len(v))) ui(i)
         |),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
         |s AS MATERIALIZED (SELECT i, SUM(CAST(p AS HUGEINT)) AS si FROM u GROUP BY 1),
         |g AS (
         |  SELECT a.i AS i, b.i AS j,
         |         SUM(CAST(a.p AS HUGEINT) * CAST(b.p AS HUGEINT)) AS spp
         |  FROM u a JOIN u b ON a.vec_id = b.vec_id AND b.i >= a.i
         |  GROUP BY 1, 2
         |),
         |c AS (
         |  SELECT g.i, g.j,
         |         CAST(nn.n AS HUGEINT) * g.spp - si.si * sj.si AS num
         |  FROM g
         |  JOIN s si ON si.i = g.i
         |  JOIN s sj ON sj.i = g.j
         |  CROSS JOIN nn
         |),
         |f AS MATERIALIZED (
         |  SELECT i, j, num FROM c
         |  UNION ALL
         |  SELECT j AS i, i AS j, num FROM c WHERE i <> j
         |),
         |v0 AS (SELECT i, CAST(1048576 AS HUGEINT) AS v FROM s),
         |${sqlPowerIterStages(8)}""".stripMargin,

    // binary quantization recall: sign map to +/-1 (x > 0 in both
    // engines, zeros to -1), same cosine-ranked recall tail
    "q_bq_recall" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |  WHERE vec_id < $PairLimit
         |), t AS (
         |  SELECT vec_id,
         |         list_transform(v, x -> CASE WHEN x > 0 THEN 1.0 ELSE -1.0 END) AS v
         |  FROM e
         |),
         |pairs AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |         list_cosine_similarity(q.v, c.v) AS sim
         |  FROM t q, t c WHERE c.vec_id <> q.vec_id
         |), ${sqlRecallTail(5)}""".stripMargin,

    // dataset card: plain aggregates, one row
    "q_dataset_card" ->
      """WITH t AS (
        |  SELECT source, lang, n_chars, md5(text) AS h,
        |         len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt
        |  FROM documents
        |), a AS (
        |  SELECT COUNT(*) AS n_docs,
        |    COUNT(DISTINCT source) AS n_sources,
        |    COUNT(DISTINCT lang) AS n_langs,
        |    CAST(SUM(nt) AS BIGINT) AS n_tokens,
        |    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |    COUNT(DISTINCT h) AS n_distinct_texts
        |  FROM t
        |)
        |SELECT n_docs, n_sources, n_langs, n_tokens, n_chars, n_distinct_texts,
        |  ROUND((n_docs - n_distinct_texts) * 1.0 / n_docs, 6) AS dup_doc_frac,
        |  ROUND(n_tokens * 1.0 / n_docs, 6) AS avg_doc_tokens
        |FROM a""".stripMargin,

    // robust outliers: quantile_cont == the engine's exact percentile;
    // z and the flag computed from the ROUNDED z in both engines
    // z rounds via the SHORTEST-DECIMAL idiom, not native ROUND: Spark's
    // round(double, 6) goes through BigDecimal.valueOf = Double.toString
    // (shortest repr) then HALF_UP, while DuckDB rounds the scaled
    // binary — the two disagree when the shortest repr lands exactly on
    // a .5 boundary the binary value sits an ulp below (first observed
    // at sf0.1: z = -0.2529375 with binary ...74999999998 rounded to
    // -0.252938 by Spark, -0.252937 by native ROUND). CAST(z AS
    // VARCHAR) is DuckDB's shortest repr; rounding IT as a decimal is
    // exactly Spark's operation. med/mad stay native (exact halves).
    "q_robust_outliers" ->
      """WITH n AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS x FROM documents),
        |m AS (SELECT source, quantile_cont(x, 0.5) AS med FROM n GROUP BY 1),
        |w AS (SELECT n.*, m.med FROM n JOIN m USING (source)),
        |d AS (SELECT source, quantile_cont(abs(x - med), 0.5) AS mad FROM w GROUP BY 1),
        |f AS (
        |  SELECT w.doc_id, w.source, w.x, w.med, d.mad,
        |    CASE WHEN d.mad > 0
        |         THEN CAST(ROUND(CAST(CAST(0.6745 * (w.x - w.med) / d.mad AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE)
        |         ELSE 0.0 END AS z
        |  FROM w JOIN d USING (source)
        |)
        |SELECT doc_id, source, x, ROUND(med, 6) AS med, ROUND(mad, 6) AS mad,
        |  z, abs(z) > 3.5 AS is_outlier
        |FROM f ORDER BY doc_id""".stripMargin,

    // snapshot diff: same simulated release replayed (reverse() is
    // identical in both engines); digests compared, never bodies
    "q_corpus_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS h_old FROM documents),
        |b AS (
        |  SELECT doc_id, md5(text) AS h_new FROM (
        |    SELECT doc_id,
        |      CASE WHEN doc_id % 7 = 0 THEN reverse(text) ELSE text END AS text
        |    FROM documents WHERE doc_id % 5 <> 0
        |    UNION ALL
        |    SELECT doc_id + 1000000 AS doc_id, text
        |    FROM documents WHERE doc_id % 11 = 3
        |  )
        |)
        |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN h_old IS NULL THEN 'added'
        |       WHEN h_new IS NULL THEN 'removed'
        |       WHEN h_old <> h_new THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        |ORDER BY 1""".stripMargin,

    // epoch scheduling: ratio arithmetic replayed in the SAME order
    // (w / wsum * budget / actual), md5-uniform extra-repeat draw
    "q_epoch_repeats" ->
      s"""WITH $sqlEpochRepeatsCte
         |SELECT doc_id, source, n_tokens, n_repeats
         |FROM rep ORDER BY doc_id""".stripMargin,

    // epoch stream: explode the repeats, global position by the same
    // salted (id, rep) md5 order the engine range-partitions on
    "q_epoch_stream" ->
      s"""WITH $sqlEpochRepeatsCte,
         |s AS (
         |  SELECT doc_id, CAST(k AS BIGINT) AS rep_idx
         |  FROM rep, unnest(generate_series(1, n_repeats)) u(k)
         |  WHERE n_repeats > 0
         |)
         |SELECT doc_id, rep_idx,
         |  CAST(ROW_NUMBER() OVER (ORDER BY
         |    md5('estream:' || CAST(doc_id AS VARCHAR) || ':' || CAST(rep_idx AS VARCHAR)))
         |    - 1 AS BIGINT) AS pos
         |FROM s ORDER BY doc_id, rep_idx""".stripMargin,

    // rate anomaly: zero-filled daily buckets over generate_series,
    // the robustOutliers median/MAD/z contract (incl. the
    // VARCHAR-decimal rounding idiom for boundary-hitting z values)
    "q_events_anomaly" ->
      """WITH ev AS (SELECT event_type AS t, epoch_us(ts) // 86400000000 AS b FROM events),
        |counts AS (SELECT t, b, COUNT(*) AS c FROM ev GROUP BY 1, 2),
        |r AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM counts),
        |frame AS (
        |  SELECT ty.t, gs.b
        |  FROM (SELECT DISTINCT t FROM counts) ty, r,
        |       unnest(generate_series(r.lo, r.hi)) gs(b)
        |),
        |dense AS (
        |  SELECT f.t, f.b, CAST(COALESCE(c.c, 0) AS BIGINT) AS c
        |  FROM frame f LEFT JOIN counts c ON c.t = f.t AND c.b = f.b
        |),
        |m AS (SELECT t, quantile_cont(CAST(c AS DOUBLE), 0.5) AS med FROM dense GROUP BY 1),
        |w AS (SELECT dense.*, m.med FROM dense JOIN m USING (t)),
        |d AS (SELECT t, quantile_cont(abs(CAST(c AS DOUBLE) - med), 0.5) AS mad FROM w GROUP BY 1),
        |f2 AS (
        |  SELECT w.t, w.b, w.c, w.med, d.mad,
        |    CASE WHEN d.mad > 0
        |         THEN CAST(ROUND(CAST(CAST(0.6745 * (CAST(w.c AS DOUBLE) - w.med) / d.mad AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE)
        |         ELSE 0.0 END AS z
        |  FROM w JOIN d USING (t)
        |)
        |SELECT t AS event_type, b AS bucket_id, c,
        |  ROUND(med, 6) AS med, ROUND(mad, 6) AS mad, z,
        |  abs(z) > 3.5 AS is_anomaly
        |FROM f2 ORDER BY 1, 2""".stripMargin,

    // retransmission report: the same keyed lag comparison in SQL
    "q_events_retrans" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsu, event_type, value FROM events
        |), l AS (
        |  SELECT event_type, tsu,
        |    LAG(tsu) OVER (PARTITION BY user_id, event_type, value
        |                   ORDER BY tsu, event_id) AS prev_ts
        |  FROM e
        |)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN prev_ts IS NOT NULL AND tsu - prev_ts <= 60000000
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_retrans,
        |  (CAST(SUM(CASE WHEN prev_ts IS NOT NULL AND tsu - prev_ts <= 60000000
        |           THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |    // CAST(COUNT(*) AS BIGINT) AS retrans_ppm
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,

    // k-anonymity gate: QI = (event_type, event day); the class
    // histogram folds and the below-k mass in integer ppm — all exact
    "q_k_anonymity" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day FROM events
        |), c AS (
        |  SELECT event_type, day, COUNT(*) AS cnt FROM ev GROUP BY 1, 2
        |)
        |SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  MIN(cnt) AS min_class, MAX(cnt) AS max_class,
        |  CAST(SUM(CASE WHEN cnt < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_classes_below_k,
        |  CAST(SUM(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT) AS n_rows_below_k,
        |  (CAST(SUM(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT) * 1000000)
        |    // CAST(SUM(cnt) AS BIGINT) AS below_k_ppm
        |FROM c""".stripMargin,

    // event-mix drift: same integer-JS contract as q_source_drift;
    // bucket pairs formed by the b+1 self-join
    "q_events_drift" ->
      """WITH ev AS (SELECT epoch_us(ts) // 21600000000 AS b, event_type AS t FROM events),
        |c AS (SELECT b, t, COUNT(*) AS c FROM ev GROUP BY 1, 2),
        |tot AS (SELECT b, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(cur.b, pv.b + 1) AS b, COALESCE(cur.t, pv.t) AS t,
        |         COALESCE(cur.c, 0) AS c_cur, COALESCE(pv.c, 0) AS c_prev
        |  FROM c cur FULL OUTER JOIN c pv ON cur.b = pv.b + 1 AND cur.t = pv.t
        |),
        |f AS (
        |  SELECT j.b,
        |    CAST(FLOOR((
        |      CASE WHEN c_prev > 0 THEN 0.5 * (c_prev * 1.0 / np.n) *
        |        ln((c_prev * 1.0 / np.n) / (((c_prev * 1.0 / np.n) + (c_cur * 1.0 / nc.n)) / 2.0))
        |      ELSE 0.0 END
        |      + CASE WHEN c_cur > 0 THEN 0.5 * (c_cur * 1.0 / nc.n) *
        |        ln((c_cur * 1.0 / nc.n) / (((c_prev * 1.0 / np.n) + (c_cur * 1.0 / nc.n)) / 2.0))
        |      ELSE 0.0 END
        |    ) * 1e12) AS BIGINT) AS term
        |  FROM j JOIN tot nc ON nc.b = j.b JOIN tot np ON np.b = j.b - 1
        |)
        |SELECT b AS bucket_id, COUNT(*) AS n_types, CAST(SUM(term) AS BIGINT) AS js_e12
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    // curriculum: decile cutoffs ROUND(q,6) == the engine's driver
    // rounding; order key lpad(bucket) || ':' || md5 replayed
    "q_curriculum" ->
      """WITH c AS (
        |  SELECT quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        |  FROM documents
        |), b AS (
        |  SELECT d.doc_id,
        |    CAST((SELECT COUNT(*) FROM unnest((SELECT qs FROM c)) u(q)
        |          WHERE CAST(d.n_chars AS DOUBLE) >= ROUND(q, 6)) AS INT) AS bucket
        |  FROM documents d
        |), s AS (
        |  SELECT doc_id, bucket,
        |    lpad(CAST(bucket AS VARCHAR), 2, '0') || ':' ||
        |      md5('curr1:' || CAST(doc_id AS VARCHAR)) AS skey
        |  FROM b
        |)
        |SELECT doc_id, bucket,
        |  CAST(ROW_NUMBER() OVER (ORDER BY skey) - 1 AS BIGINT) AS pos
        |FROM s ORDER BY doc_id""".stripMargin,

    // source drift: per-term JS summands computed by ONE fixed double
    // expression, floored into 1e-12 units -> order-free integer sum
    "q_source_drift" ->
      """WITH a AS (SELECT source, text FROM documents),
        |b AS (
        |  SELECT source, CASE WHEN doc_id % 7 = 0 THEN reverse(text) ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 <> 0
        |  UNION ALL
        |  SELECT source, text FROM documents WHERE doc_id % 11 = 3
        |),
        |co AS (
        |  SELECT source, w, COUNT(*) AS c_old FROM (
        |    SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w FROM a
        |  ) GROUP BY 1, 2
        |),
        |cn AS (
        |  SELECT source, w, COUNT(*) AS c_new FROM (
        |    SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w FROM b
        |  ) GROUP BY 1, 2
        |),
        |j AS (
        |  SELECT COALESCE(co.source, cn.source) AS source, COALESCE(co.w, cn.w) AS w,
        |         COALESCE(c_old, 0) AS c_old, COALESCE(c_new, 0) AS c_new
        |  FROM co FULL OUTER JOIN cn ON co.source = cn.source AND co.w = cn.w
        |),
        |ta AS (
        |  SELECT source, CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_old
        |  FROM a GROUP BY 1
        |),
        |tb AS (
        |  SELECT source, CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_new
        |  FROM b GROUP BY 1
        |),
        |f AS (
        |  SELECT j.source,
        |    CAST(FLOOR((
        |      CASE WHEN c_old > 0 THEN 0.5 * (c_old * 1.0 / n_old) *
        |        ln((c_old * 1.0 / n_old) / (((c_old * 1.0 / n_old) + (c_new * 1.0 / n_new)) / 2.0))
        |      ELSE 0.0 END
        |      + CASE WHEN c_new > 0 THEN 0.5 * (c_new * 1.0 / n_new) *
        |        ln((c_new * 1.0 / n_new) / (((c_old * 1.0 / n_old) + (c_new * 1.0 / n_new)) / 2.0))
        |      ELSE 0.0 END
        |    ) * 1e12) AS BIGINT) AS t
        |  FROM j JOIN ta ON ta.source = j.source JOIN tb ON tb.source = j.source
        |)
        |SELECT source, COUNT(*) AS n_terms, CAST(SUM(t) AS BIGINT) AS js_e12
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    // source KL: the engine's exact double tree — p = c*1.0/ns,
    // q = cw*1.0/n, floor(p*ln(p/q)*1e12) — summed as integers
    "q_source_kl" ->
      """WITH occ AS (
        |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |  FROM documents
        |),
        |sc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM occ GROUP BY 1, 2),
        |cc AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM sc GROUP BY 1),
        |st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM sc GROUP BY 1),
        |nt AS (SELECT CAST(SUM(cw) AS BIGINT) AS n FROM cc)
        |SELECT sc.source, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  CAST(SUM(CAST(FLOOR(
        |    (sc.c * 1.0 / st.ns) *
        |    ln((sc.c * 1.0 / st.ns) / (cc.cw * 1.0 / nt.n)) * 1e12) AS BIGINT)) AS BIGINT) AS kl_e12
        |FROM sc JOIN cc USING (w) JOIN st USING (source) CROSS JOIN nt
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // hard negatives: the cosine-topk oracle with the cross-label
    // predicate fused in
    "q_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 8),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |         list_cosine_similarity(q.v, c.v) AS sim
        |  FROM q, e c WHERE c.vec_id <> q.vec_id AND c.label <> q.label
        |)
        |SELECT query_id, cand_id, ROUND(sim, 6) AS sim, rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rank
        |  FROM s
        |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // deterministic salted-hash training order
    "q_corpus_shuffle" ->
      """SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (ORDER BY md5('shuf1:' || CAST(doc_id AS VARCHAR))) - 1
        |    AS BIGINT) AS pos
        |FROM documents ORDER BY doc_id""".stripMargin,

    // manifest of the written shard export: the oracle recomputes the
    // shard formula (pos * numShards div n over the salted order) from
    // the source table, so a sink that dropped/duplicated/misplaced
    // rows diverges
    "q_shard_manifest" ->
      """WITH o AS (
        |  SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY md5('sh1:' || CAST(doc_id AS VARCHAR))) - 1 AS pos
        |  FROM documents
        |), t AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT CAST((pos * 4) // n AS INT) AS shard,
        |  COUNT(*) AS n_rows,
        |  CAST(MIN(pos) AS BIGINT) AS min_pos, CAST(MAX(pos) AS BIGINT) AS max_pos
        |FROM o CROSS JOIN t GROUP BY 1 ORDER BY 1""".stripMargin,

    // normalization: same augmentation (chr(769) = U+0301 combining
    // acute, chr(9) = tab), same NFC -> lower -> collapse -> trim order
    "q_text_normalize" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || '  CAFE' || chr(769) || '  du' || chr(9) || 'Monde 42 ' AS text
        |  FROM documents
        |), n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(nfc_normalize(text)), '[ \t\n\r]+', ' ', 'g')) AS norm_text
        |  FROM aug
        |)
        |SELECT doc_id, md5(norm_text) AS norm_md5, LENGTH(norm_text) AS n_chars_norm
        |FROM n ORDER BY doc_id""".stripMargin,

    "q_multimodal_decode" ->
      """SELECT doc_id, 16 + doc_id % 32 AS width, 16 + doc_id % 17 AS height,
        |  CAST(1 AS BIGINT) AS n_frames
        |FROM documents WHERE doc_id % 3 = 0 ORDER BY doc_id""".stripMargin,

    // patch sums replayed analytically from the synthetic pixel
    // formula (x*31 + y*7 + id) & 0xFFFFFF; full 8x8 patches only
    "q_multimodal_patches" ->
      s"""WITH img AS (
         |  SELECT doc_id, 16 + doc_id % 32 AS w, 16 + doc_id % 17 AS h
         |  FROM documents WHERE doc_id % 3 = 0 AND doc_id < $PairLimit
         |), px AS (
         |  SELECT i.doc_id, ys.y // 8 AS pj, xs.x // 8 AS pi,
         |         ((xs.x * 31 + ys.y * 7 + i.doc_id) & 16777215) AS v
         |  FROM img i,
         |       unnest(generate_series(0, i.h - 1)) ys(y),
         |       unnest(generate_series(0, i.w - 1)) xs(x)
         |  WHERE ys.y < (i.h // 8) * 8 AND xs.x < (i.w // 8) * 8
         |)
         |SELECT doc_id, pj, pi,
         |       CAST(SUM(((v >> 16) & 255) + ((v >> 8) & 255) + (v & 255)) AS BIGINT) AS px_sum
         |FROM px GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // dHash replayed analytically: the synthetic PNG pixel at (x, y) is
    // (x*31 + y*7 + id) mod 2^24 packed RGB; the oracle reproduces the
    // decode-side integer box-average and comparison bit for bit,
    // including the signed wrap of bit 63
    "q_multimodal_phash" ->
      s"""WITH $sqlPhashD
         |SELECT doc_id, dhash FROM d ORDER BY doc_id""".stripMargin,

    "q_multimodal_phash_pairs" ->
      s"""WITH $sqlPhashD
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
         |FROM d a JOIN d b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
         |ORDER BY 1, 2""".stripMargin,

    // image dup clusters: connected components over the banded-Hamming
    // near-dup pairs (min reachable id), singletons keep their own id
    "q_multimodal_dup_clusters" ->
      s"""WITH RECURSIVE $sqlPhashD,
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
         |),
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM p
         |  UNION ALL SELECT id_b, id_a FROM p
         |),
         |walk(id, lbl) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON w.id = e.b
         |)
         |SELECT i.doc_id, LEAST(i.doc_id, COALESCE(MIN(w.lbl), i.doc_id)) AS cluster_id
         |FROM img i LEFT JOIN walk w ON w.id = i.doc_id
         |GROUP BY i.doc_id ORDER BY 1""".stripMargin,

    "q_multimodal_resize" ->
      s"""SELECT doc_id, 16 + doc_id % 32 AS src_w, 16 + doc_id % 17 AS src_h,
         |  CAST(12 AS BIGINT) AS dst_w, CAST(9 AS BIGINT) AS dst_h
         |FROM documents WHERE doc_id % 3 = 0 AND doc_id < $PairLimit
         |ORDER BY doc_id""".stripMargin,

    "q_multimodal_gif_frames" ->
      """SELECT doc_id, 8 + doc_id % 16 AS width, 8 + doc_id % 11 AS height,
        |  2 + doc_id % 5 AS n_frames
        |FROM documents WHERE doc_id % 3 = 1 ORDER BY doc_id""".stripMargin,

    // real AVI frame extraction: one row per movi '00dc' JPEG chunk,
    // dims from the DECODER (JPEG preserves dimensions exactly); frame
    // count and dims predicted analytically from the id
    "q_multimodal_frames" ->
      """WITH v AS (
        |  SELECT doc_id, 16 + doc_id % 13 AS w, 16 + doc_id % 7 AS h,
        |         2 + doc_id % 4 AS nf
        |  FROM documents WHERE doc_id % 3 = 2
        |)
        |SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
        |       w AS frame_w, h AS frame_h
        |FROM v, unnest(generate_series(0, nf - 1)) u(k)
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // scene cuts: the lossless PNG pixel formula
    // (x*13 + y*5 + f*41 + id) & 0xFFFFFF replayed per channel over
    // the frame grid; same 64/px threshold
    "q_multimodal_scene_cuts" ->
      """WITH v AS (
        |  SELECT doc_id, 8 + doc_id % 16 AS w, 8 + doc_id % 11 AS h,
        |         2 + doc_id % 5 AS nf
        |  FROM documents WHERE doc_id % 3 = 2
        |), px AS (
        |  SELECT doc_id, w * h AS n_px, CAST(ff.f AS BIGINT) AS frame_idx,
        |    (xx.x * 13 + yy.y * 5 + (ff.f - 1) * 41 + doc_id) & 16777215 AS v1,
        |    (xx.x * 13 + yy.y * 5 + ff.f * 41 + doc_id) & 16777215 AS v2
        |  FROM v,
        |    unnest(generate_series(1, nf - 1)) ff(f),
        |    unnest(generate_series(0, w - 1)) xx(x),
        |    unnest(generate_series(0, h - 1)) yy(y)
        |), d AS (
        |  SELECT doc_id, frame_idx, n_px,
        |    CAST(SUM(ABS((v1 // 65536) % 256 - (v2 // 65536) % 256)
        |           + ABS((v1 // 256) % 256 - (v2 // 256) % 256)
        |           + ABS(v1 % 256 - v2 % 256)) AS BIGINT) AS diff
        |  FROM px GROUP BY 1, 2, 3
        |)
        |SELECT doc_id, frame_idx, CAST(n_px AS BIGINT) AS n_px, diff,
        |  CAST(CASE WHEN CAST(diff AS DOUBLE) > 64.0 * n_px THEN 1 ELSE 0 END AS BIGINT) AS is_cut
        |FROM d ORDER BY doc_id, frame_idx""".stripMargin,

    // RIFF/WAVE parse: rate/channels/frame-count cycles predicted from
    // the id; sum_abs replays the synthetic 16-bit PCM sample formula
    // ((i*2347 + id*17) mod 65536) - 32768 over every interleaved
    // sample index
    // windowed energy: same analytic sample formula, 256-sample
    // windows, integer sum of squares
    "q_multimodal_wav_energy" ->
      """WITH a AS (
        |  SELECT doc_id, (200 + doc_id % 300) * (1 + doc_id % 2) AS total
        |  FROM documents WHERE doc_id % 3 = 1
        |), sm AS (
        |  SELECT doc_id, k.i // 256 AS win,
        |         ((k.i * 2347 + doc_id * 17) % 65536) - 32768 AS s
        |  FROM a, unnest(generate_series(0, a.total - 1)) k(i)
        |)
        |SELECT doc_id, win, COUNT(*) AS n_samples, CAST(SUM(s * s) AS BIGINT) AS energy
        |FROM sm GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // luma-histogram image entropy: the analytic pixel formula, the
    // ITU-R 601 integer luma, 256-level counts, folded entropy form
    "q_multimodal_image_entropy" ->
      """WITH img AS (
        |  SELECT doc_id, 16 + doc_id % 32 AS w, 16 + doc_id % 17 AS h
        |  FROM documents WHERE doc_id % 3 = 0
        |), px AS (
        |  SELECT doc_id, w, h,
        |    (299 * (((xx.x * 31 + yy.y * 7 + doc_id) % 16777216) // 65536)
        |     + 587 * ((((xx.x * 31 + yy.y * 7 + doc_id) % 16777216) // 256) % 256)
        |     + 114 * (((xx.x * 31 + yy.y * 7 + doc_id) % 16777216) % 256)) // 1000 AS luma
        |  FROM img, unnest(generate_series(0, w - 1)) xx(x),
        |    unnest(generate_series(0, h - 1)) yy(y)
        |), c AS (
        |  SELECT doc_id, luma, COUNT(*) AS c FROM px GROUP BY 1, 2
        |), a AS (
        |  -- clnc summed SEQUENTIALLY in ascending-luma order (ordered
        |  -- list fold), matching the engine's ascending-level loop
        |  -- bitwise: ln() agrees with the JVM bit-for-bit on the whole
        |  -- integer count domain, and an order-pinned double sum
        |  -- removes the one float-summation-order difference a plain
        |  -- SUM() could flip at a ROUND(x,6) boundary
        |  SELECT doc_id, SUM(c) AS n_px, COUNT(*) AS n_levels,
        |         list_aggregate(list(c * ln(c) ORDER BY luma), 'sum') AS clnc
        |  FROM c GROUP BY 1
        |)
        |SELECT doc_id, CAST(n_px AS BIGINT) AS n_px,
        |  CAST(n_levels AS BIGINT) AS n_levels,
        |  ROUND(ln(n_px) - clnc / n_px, 6) AS entropy
        |FROM a ORDER BY doc_id""".stripMargin,

    // energy-gate VAD segments: analytic 64-sample window energies,
    // the same cross-multiplied activity gate, gaps-and-islands merge
    "q_multimodal_vad" ->
      """WITH a AS (
        |  SELECT doc_id, (200 + doc_id % 300) * (1 + doc_id % 2) AS total
        |  FROM documents WHERE doc_id % 3 = 1
        |), sm AS (
        |  SELECT doc_id, k.i // 64 AS win,
        |         ((k.i * 2347 + doc_id * 17) % 65536) - 32768 AS s
        |  FROM a, unnest(generate_series(0, a.total - 1)) k(i)
        |), e AS (
        |  SELECT doc_id, win, COUNT(*) AS n, CAST(SUM(s * s) AS BIGINT) AS energy
        |  FROM sm GROUP BY 1, 2
        |), act AS (
        |  SELECT doc_id, win, energy,
        |    win - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY win) AS g
        |  FROM e WHERE energy > 358000000 * n
        |)
        |SELECT doc_id, CAST(MIN(win) AS BIGINT) AS seg_start,
        |  CAST(MAX(win) AS BIGINT) AS seg_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_wins, CAST(SUM(energy) AS BIGINT) AS sum_energy
        |FROM act GROUP BY doc_id, g ORDER BY doc_id, seg_start""".stripMargin,

    // band-energy audio fingerprint over the dedup pool: the analytic
    // sample formula (+ the planted twin's 1-ulp attenuation), 65
    // exact integer band energies, sign-of-derivative bits
    "q_multimodal_audio_fp" ->
      s"""WITH $sqlAudioFpD
         |SELECT doc_id, fp FROM d ORDER BY doc_id""".stripMargin,

    "q_multimodal_audio_cc_pairs" ->
      s"""WITH $sqlAudioFpD
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
         |FROM d a JOIN d b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 2
         |ORDER BY 1, 2""".stripMargin,

    // audio dup clusters: connected components over the banded-Hamming
    // near-dup pairs (min reachable id), singletons keep their own id
    "q_multimodal_audio_dup_clusters" ->
      s"""WITH RECURSIVE $sqlAudioFpD,
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.fp, b.fp)) <= 2
         |),
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM p
         |  UNION ALL SELECT id_b, id_a FROM p
         |),
         |walk(id, lbl) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON w.id = e.b
         |)
         |SELECT pl.doc_id, LEAST(pl.doc_id, COALESCE(MIN(w.lbl), pl.doc_id)) AS cluster_id
         |FROM pool pl LEFT JOIN walk w ON w.id = pl.doc_id
         |GROUP BY pl.doc_id ORDER BY 1""".stripMargin,

    // UNIFIED audio dedup endpoint: CC over the union of whole-clip
    // fingerprint radius-2 pairs and window-energy shingle quorum
    // pairs, over the combined base + re-encode + head-trim pool
    "q_multimodal_audio_dup_clusters_all" ->
      s"""WITH RECURSIVE $sqlAudioAllD,
         |uedge AS (
         |  SELECT id_a, id_b FROM uapr UNION SELECT id_a, id_b FROM uashp
         |), edges AS (
         |  SELECT id_a AS a, id_b AS b FROM uedge
         |  UNION ALL SELECT id_b, id_a FROM uedge
         |), walk(id, lbl) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON w.id = e.b
         |)
         |SELECT pl.doc_id, LEAST(pl.doc_id, COALESCE(MIN(w.lbl), pl.doc_id)) AS cluster_id
         |FROM uapool pl LEFT JOIN walk w ON w.id = pl.doc_id
         |GROUP BY pl.doc_id ORDER BY 1""".stripMargin,

    // UNIFIED video dedup endpoint: CC over the union of aligned
    // quorum pairs and frame-hash shingle quorum pairs, over the
    // combined base + re-encode + head-cut pool
    "q_multimodal_video_dup_clusters_all" ->
      s"""WITH RECURSIVE $sqlVideoAllD,
         |uedge AS (
         |  SELECT id_a, id_b FROM upair UNION SELECT id_a, id_b FROM ushp
         |), edges AS (
         |  SELECT id_a AS a, id_b AS b FROM uedge
         |  UNION ALL SELECT id_b, id_a FROM uedge
         |), walk(id, lbl) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON w.id = e.b
         |)
         |SELECT pl.doc_id, LEAST(pl.doc_id, COALESCE(MIN(w.lbl), pl.doc_id)) AS cluster_id
         |FROM uvpool pl LEFT JOIN walk w ON w.id = pl.doc_id
         |GROUP BY pl.doc_id ORDER BY 1""".stripMargin,

    // video frame hashes: the lossless PNG pixel formula (+ the
    // planted twin's every-97th-pixel blue-LSB nudge), integer
    // box-average dHash per frame, bit for bit
    "q_multimodal_video_fp" ->
      s"""WITH $sqlVideoFpD
         |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, fp FROM vd
         |ORDER BY doc_id, frame_idx""".stripMargin,

    // video near-dup pairs: the EXHAUSTIVE frame-aligned Hamming join
    // + the strict-majority quorum — banding provably loses no pair
    "q_multimodal_video_cc_pairs" ->
      s"""WITH $sqlVideoFpD
         |SELECT id_a, id_b, n_matched FROM vp ORDER BY 1, 2""".stripMargin,

    // shift-tolerant audio shingles: the trimmed pool (twin sample j =
    // source sample j+64, replayed by i + shift in the sample
    // formula), exact 64-sample window energies, distinct 2-gram sets,
    // exact intersection counts
    "q_multimodal_audio_shingles" ->
      """WITH tpool AS (
        |  SELECT doc_id, doc_id AS src, 0 AS shift,
        |    (200 + doc_id % 300) * (1 + doc_id % 2) AS total
        |  FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id + 4398046511104, doc_id, 64,
        |    (200 + doc_id % 300) * (1 + doc_id % 2) - 64
        |  FROM documents WHERE doc_id % 3 = 1 AND doc_id % 5 = 2
        |), sm AS (
        |  SELECT doc_id, k.i // 64 AS win,
        |    (((k.i + shift) * 2347 + src * 17) % 65536) - 32768 AS s
        |  FROM tpool, unnest(generate_series(0, total - 1)) k(i)
        |), e AS (
        |  SELECT doc_id, win, CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS energy
        |  FROM sm GROUP BY 1, 2
        |), eg AS (
        |  SELECT DISTINCT a.doc_id, a.energy AS h1, b.energy AS h2
        |  FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.win = a.win + 1
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM eg a JOIN eg b
        |  ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // shift-tolerant video shingles: the trimmed-head pool (twin frame
    // j = source frame j+1, replayed by sf = f + shift in the pixel
    // formula), per-frame dHash, distinct 2-gram sets, exact
    // intersection counts
    "q_multimodal_video_shingles" ->
      """WITH wpool AS (
        |  SELECT doc_id, doc_id AS src, 0 AS shift, 2 + doc_id % 5 AS nf
        |  FROM documents WHERE doc_id % 3 = 2
        |  UNION ALL
        |  SELECT doc_id + 2199023255552, doc_id, 1, 1 + doc_id % 5
        |  FROM documents WHERE doc_id % 3 = 2 AND doc_id % 5 = 1
        |), wframe AS (
        |  SELECT doc_id, src, 8 + src % 16 AS w, 8 + src % 11 AS h,
        |         k.f, k.f + shift AS sf
        |  FROM wpool, unnest(generate_series(0, nf - 1)) k(f)
        |), wcell AS (
        |  SELECT doc_id, src, w, h, f, sf, rr.r, cc.c,
        |    (cc.c * w) // 9 AS x0,
        |    GREATEST((cc.c * w) // 9 + 1, ((cc.c + 1) * w) // 9) AS x1,
        |    (rr.r * h) // 8 AS y0,
        |    GREATEST((rr.r * h) // 8 + 1, ((rr.r + 1) * h) // 8) AS y1
        |  FROM wframe, unnest(generate_series(0, 7)) rr(r), unnest(generate_series(0, 8)) cc(c)
        |), wg AS (
        |  SELECT doc_id, f, r, c,
        |    SUM(299 * (((x * 13 + y * 5 + sf * 41 + src) % 16777216) // 65536)
        |      + 587 * ((((x * 13 + y * 5 + sf * 41 + src) % 16777216) // 256) % 256)
        |      + 114 * (((x * 13 + y * 5 + sf * 41 + src) % 16777216) % 256)
        |    ) // COUNT(*) AS gval
        |  FROM wcell, unnest(generate_series(y0, y1 - 1)) yy(y),
        |    unnest(generate_series(x0, x1 - 1)) xx(x)
        |  GROUP BY 1, 2, 3, 4
        |), wbits AS (
        |  SELECT a.doc_id, a.f,
        |    SUM(CASE WHEN a.gval > b.gval
        |      THEN CAST(1 AS HUGEINT) << (a.r * 8 + a.c) ELSE 0 END) AS raw
        |  FROM wg a JOIN wg b ON a.doc_id = b.doc_id AND a.f = b.f
        |    AND a.r = b.r AND b.c = a.c + 1
        |  WHERE a.c < 8
        |  GROUP BY 1, 2
        |), wd AS (
        |  SELECT doc_id, f, CAST(raw - CASE WHEN raw >= CAST(9223372036854775808 AS HUGEINT)
        |    THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END AS BIGINT) AS fp
        |  FROM wbits
        |), wgram AS (
        |  SELECT DISTINCT a.doc_id, a.fp AS h1, b.fp AS h2
        |  FROM wd a JOIN wd b ON a.doc_id = b.doc_id AND b.f = a.f + 1
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM wgram a JOIN wgram b
        |  ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // video dup clusters: connected components over the quorum pairs
    // (min reachable id), singletons keep their own id
    "q_multimodal_video_dup_clusters" ->
      s"""WITH RECURSIVE $sqlVideoFpD,
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM vp
         |  UNION ALL SELECT id_b, id_a FROM vp
         |),
         |walk(id, lbl) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT e.a, w.lbl FROM edges e JOIN walk w ON w.id = e.b
         |)
         |SELECT pl.doc_id, LEAST(pl.doc_id, COALESCE(MIN(w.lbl), pl.doc_id)) AS cluster_id
         |FROM vpool pl LEFT JOIN walk w ON w.id = pl.doc_id
         |GROUP BY pl.doc_id ORDER BY 1""".stripMargin,

    "q_multimodal_wav" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 11025 WHEN 2 THEN 16000
        |      WHEN 3 THEN 22050 ELSE 44100 END AS sample_rate,
        |    1 + doc_id % 2 AS channels,
        |    200 + doc_id % 300 AS n_frames
        |  FROM documents WHERE doc_id % 3 = 1
        |)
        |SELECT doc_id, sample_rate, channels,
        |  n_frames AS n_samples,
        |  n_frames * 1000 // sample_rate AS duration_ms,
        |  CAST(SUM(ABS((i * 2347 + doc_id * 17) % 65536 - 32768)) AS BIGINT) AS sum_abs
        |FROM a, unnest(generate_series(0, n_frames * channels - 1)) s(i)
        |GROUP BY doc_id, sample_rate, channels, n_frames
        |ORDER BY doc_id""".stripMargin,

    // AVI container parse: avih dims, strh fps, counted movi chunks,
    // first-frame decoded dims — all analytic in the id
    "q_multimodal_avi" ->
      """SELECT doc_id,
        |  16 + doc_id % 13 AS width, 16 + doc_id % 7 AS height,
        |  2 + doc_id % 4 AS n_frames,
        |  CASE doc_id % 5 WHEN 0 THEN 10 WHEN 1 THEN 20 WHEN 2 THEN 25
        |    WHEN 3 THEN 40 ELSE 50 END AS fps,
        |  16 + doc_id % 13 AS frame0_w, 16 + doc_id % 7 AS frame0_h
        |FROM documents WHERE doc_id % 3 = 2 ORDER BY doc_id""".stripMargin,

    "q_multimodal_features" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  LENGTH(text) AS byte_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  COUNT(*) AS n_rows,
        |  ROUND(AVG(l_quantity), 6) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Q3: top-10 cut ordered by the EXACT decimal revenue (ties by
    // orderkey) — bit-stable across engines; dates compared as UTC
    // timestamps, emitted as formatted strings
    "q_tpch_q3" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    // Q18: aggregate-filtered semi-join; integer-valued quantity sums
    // are exact doubles in both engines
    "q_tpch_q18" ->
      """SELECT c_name, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  o_totalprice, SUM(l_quantity) AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 250)
        |GROUP BY 1, 2, 3, 4 ORDER BY 2""".stripMargin,

    // Q5: regional revenue by supplier nation with the co-nationality
    // condition; exact decimal sum cast to double at the edge
    "q_tpch_q5" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Q6: pure scan — same decimal-exact revenue discipline
    "q_tpch_q6" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    // Q7 (bloc-adapted): even/odd nationkey blocs, both directions
    "q_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((s_nationkey % 2 = 0 AND c_nationkey % 2 = 1) OR
        |       (s_nationkey % 2 = 1 AND c_nationkey % 2 = 0))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // Q10: top-20 by the same exact decimal revenue, ties by custkey
    "q_tpch_q10" ->
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) DESC, c_custkey
        |LIMIT 20""".stripMargin,

    // Q13 (no o_comment in the synthetic schema): order-count
    // distribution with zero-order customers in the c_count=0 bucket
    "q_tpch_q13" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COALESCE(cnt, 0) AS c_count
        |  FROM customer LEFT JOIN (
        |    SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY 1
        |  ) oc ON c_custkey = o_custkey
        |) GROUP BY 1 ORDER BY 1""".stripMargin,

    // Q14: two exact decimal sums, one double division at the edge
    "q_tpch_q14" ->
      """SELECT ROUND(100.0 *
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
        |    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) /
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE),
        |  6) AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,

    // Q4 (returnflag-proxied): EXISTS semi-join + priority counts
    "q_tpch_q4" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Q8: NATION_3's share of STANDARD-part revenue to ASIA customers
    "q_tpch_q8" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        |  ROUND(
        |    CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) /
        |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE),
        |    6) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Q12 (linestatus-classed): two-level conditional aggregation
    "q_tpch_q12" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_returnflag = 'N'
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Q15: max-over-view, exact-decimal equality cut
    "q_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    // Q17: correlated avg decorrelated as aggregate-then-join
    "q_tpch_q17" ->
      """SELECT ROUND(
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0,
        |  6) AS avg_yearly
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN (SELECT l_partkey AS t_partkey, 0.2 * AVG(l_quantity) AS qty_lim
        |      FROM lineitem GROUP BY 1) t ON l_partkey = t_partkey
        |WHERE p_brand = 'Brand#5' AND p_type = 'ECONOMY'
        |  AND l_quantity < qty_lim""".stripMargin,

    // Q19: disjunctive predicate bundles over the part join
    "q_tpch_q19" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    // Q21 (returnflag-proxied): EXISTS + NOT EXISTS on the same fact
    "q_tpch_q21" ->
      """SELECT s_name, COUNT(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,

    // Q22 (mktsegment-coded): scalar threshold + NOT EXISTS anti-join
    "q_tpch_q22" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'FURNITURE')),
        |ab AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
        |  FROM cust WHERE c_acctbal > 0)
        |SELECT c_mktsegment, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM cust, ab
        |WHERE c_acctbal > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Q2 (unit-price-proxied): correlated MIN decorrelated; total
    // ORDER BY keeps the LIMIT deterministic
    "q_tpch_q2" ->
      """WITH esupp AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
        |cost AS (
        |  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS supply_cost
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_type = 'STANDARD' AND p_size < 25)
        |    AND l_suppkey IN (SELECT s_suppkey FROM esupp)
        |  GROUP BY 1, 2),
        |minc AS (SELECT l_partkey AS mk, MIN(supply_cost) AS min_cost FROM cost GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_type, supply_cost
        |FROM cost
        |JOIN minc ON l_partkey = mk AND supply_cost = min_cost
        |JOIN part ON l_partkey = p_partkey
        |JOIN esupp ON l_suppkey = s_suppkey
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    // Q9 (retailprice-proxied supply cost): widest join tree, exact
    // decimal profit sums
    "q_tpch_q9" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    - 0.4 * p_retailprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,

    // Q11 (one-nation value share): scalar-subquery HAVING over the
    // per-part view
    "q_tpch_q11" ->
      """WITH v AS (
        |  SELECT l_partkey,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS val
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_name IN ('NATION_3', 'NATION_8', 'NATION_12', 'NATION_13'))
        |  GROUP BY 1),
        |t AS (SELECT SUM(val) AS tot FROM v)
        |SELECT l_partkey AS p_partkey, CAST(val AS DOUBLE) AS part_value
        |FROM v, t
        |WHERE CAST(val AS DOUBLE) > 0.0001 * CAST(tot AS DOUBLE)
        |ORDER BY part_value DESC, p_partkey""".stripMargin,

    // Q16 (acctbal-proxied complaints): NOT IN + COUNT DISTINCT via
    // pre-deduplicated attribute rows
    "q_tpch_q16" ->
      """WITH sel AS (
        |  SELECT DISTINCT p_brand, p_type, p_size, l_suppkey
        |  FROM part JOIN lineitem ON p_partkey = l_partkey
        |  WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
        |    AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |    AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0))
        |SELECT p_brand, p_type, p_size, COUNT(*) AS supplier_cnt
        |FROM sel GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    // Q20 (half-sum concentration): ONE conditional aggregation, then
    // the semi-join chain
    "q_tpch_q20" ->
      """WITH sp AS (
        |  SELECT l_suppkey, l_partkey,
        |    SUM(CAST(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
        |          AND l_shipdate < TIMESTAMP '1997-01-01'
        |        THEN l_quantity ELSE 0.0 END AS DECIMAL(18,2))) AS qty_1996,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_all
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%rod%')
        |  GROUP BY 1, 2),
        |ov AS (
        |  SELECT DISTINCT l_suppkey FROM sp
        |  WHERE CAST(qty_1996 AS DOUBLE) > 0.5 * CAST(qty_all AS DOUBLE))
        |SELECT s_name, s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_3', 'NATION_4', 'NATION_5')
        |  AND s_suppkey IN (SELECT l_suppkey FROM ov)
        |ORDER BY s_name""".stripMargin,

    // salted join: the PLAIN join — salting must be invisible
    "q_salted_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // sessionization: identical lag/running-sum windows; epoch_us(ts)
    // = the engine's `ts div 1000` floor of the int64 nanos
    "q_events_sessionize" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsu, value FROM events
        |), f AS (
        |  SELECT *, CASE WHEN lag(tsu) OVER w IS NULL
        |                   OR tsu - lag(tsu) OVER w > 14400000000
        |            THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        |), s AS (
        |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_idx
        |  FROM f
        |)
        |SELECT user_id, session_idx, COUNT(*) AS n_events,
        |  MIN(tsu) AS start_us, MAX(tsu) AS end_us,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // as-of via DuckDB's NATIVE ASOF JOIN — an independent
    // implementation of the semantics the union-tag window plan claims
    "q_events_asof" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsu, event_type, value FROM events
        |), a AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |b AS (SELECT * FROM e WHERE event_type = 'click')
        |SELECT a.event_id, a.user_id, a.tsu AS ts_us,
        |  b.event_id AS b_event_id, b.tsu AS b_ts_us, b.value AS b_value
        |FROM a ASOF LEFT JOIN b
        |  ON a.user_id = b.user_id AND a.tsu >= b.tsu
        |ORDER BY a.event_id""".stripMargin,

    // forward as-of with tolerance: native ASOF picks the nearest
    // upcoming click; the hour tolerance nulls farther matches (the
    // CASE wraps each carried column so no frankenrow can form)
    "q_events_asof_fwd" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsu, event_type, value FROM events
        |), a AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |b AS (SELECT * FROM e WHERE event_type = 'click')
        |SELECT a.event_id, a.user_id, a.tsu AS ts_us,
        |  CASE WHEN b.tsu - a.tsu <= 3600000000 THEN b.event_id END AS b_event_id,
        |  CASE WHEN b.tsu - a.tsu <= 3600000000 THEN b.tsu END AS b_ts_us,
        |  CASE WHEN b.tsu - a.tsu <= 3600000000 THEN b.value END AS b_value,
        |  CASE WHEN b.tsu - a.tsu <= 3600000000 THEN b.tsu - a.tsu END AS lag_us
        |FROM a ASOF LEFT JOIN b
        |  ON a.user_id = b.user_id AND a.tsu <= b.tsu
        |ORDER BY 1""".stripMargin,

    "q_events_interval" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsu, event_type, value FROM events
        |), a AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |b AS (SELECT * FROM e WHERE event_type = 'click')
        |SELECT a.event_id AS l_event_id, a.user_id, a.tsu AS l_ts_us,
        |  b.event_id AS r_event_id, b.tsu AS r_ts_us, b.value AS r_value
        |FROM a JOIN b
        |  ON a.user_id = b.user_id AND b.tsu <= a.tsu AND b.tsu >= a.tsu - 3600000000
        |ORDER BY 1, 4""".stripMargin,

    // same union-tag + carry-window plan in SQL: last_value IGNORE
    // NULLS over (ts, is_tick, event_id); the RANGE lookback counts
    // observations in (tick - step, tick]
    "q_events_resample" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsu, value FROM events
        |), b AS (
        |  SELECT user_id, ((MIN(tsu) + 21599999999) // 21600000000) * 21600000000 AS ft,
        |         MAX(tsu) AS t1
        |  FROM e GROUP BY 1
        |), g AS (
        |  SELECT user_id, unnest(generate_series(ft, t1, 21600000000)) AS tsu
        |  FROM b WHERE ft <= t1
        |), u AS (
        |  SELECT user_id, tsu, 0 AS is_tick, event_id, value FROM e
        |  UNION ALL
        |  SELECT user_id, tsu, 1, NULL, NULL FROM g
        |), c AS (
        |  SELECT user_id, tsu, is_tick,
        |    last_value(CASE WHEN is_tick = 0 THEN value END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY tsu, is_tick, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried,
        |    COUNT(CASE WHEN is_tick = 0 THEN 1 END)
        |      OVER (PARTITION BY user_id ORDER BY tsu
        |        RANGE BETWEEN 21599999999 PRECEDING AND CURRENT ROW) AS n_obs
        |  FROM u
        |)
        |SELECT user_id, tsu AS tick_us, ROUND(carried, 6) AS value, n_obs
        |FROM c WHERE is_tick = 1 ORDER BY user_id, tick_us""".stripMargin,

    "q_events_json" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // exact linear-interpolation quantiles (h = p*(n-1)), per language
    "q_len_quantiles" ->
      """WITH q AS (
        |  SELECT lang, quantile_cont(n_chars, [0.25, 0.5, 0.75, 0.9]) AS qs
        |  FROM documents GROUP BY 1
        |)
        |SELECT lang, CAST(k - 1 AS BIGINT) AS pi, ROUND(qs[k], 6) AS q
        |FROM q, unnest(generate_series(1, 4)) u(k)
        |ORDER BY 1, 2""".stripMargin,

    "q_len_percentile_cut" ->
      """WITH n AS (
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars FROM documents
        |), c AS (
        |  SELECT lang, quantile_cont(n_chars, 0.25) AS cutoff FROM n GROUP BY 1
        |)
        |SELECT n.doc_id, n.lang, n.n_chars
        |FROM n JOIN c ON n.lang IS NOT DISTINCT FROM c.lang
        |WHERE n.n_chars >= c.cutoff
        |ORDER BY n.doc_id""".stripMargin,

    // training prep: gopher gate CTE + clusters CTE + salted split,
    // keepers = fixed-point rows (cluster_id == doc_id)
    "q_training_prep" ->
      s"""$sqlClustersCte,
         |gf AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents WHERE doc_id < $PairLimit
         |), gates AS (
         |  SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS n_words
         |  FROM gf
         |  WHERE LEN(toks) >= 20 AND LEN(toks) <= 100000
         |    AND ROUND(CAST(list_sum(list_transform(toks, w -> LENGTH(w))) AS DOUBLE)
         |              / GREATEST(LEN(toks), 1), 6) BETWEEN 3.0e0 AND 10.0e0
         |    AND ROUND(LEN(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) * 1.0e0
         |              / GREATEST(LEN(toks), 1), 6) >= 0.8e0
         |    AND LEN(list_intersect(list_distinct(toks),
         |            ['the','a','of','and','to','in','is','for','on','with'])) >= 2
         |), sp AS (
         |  SELECT doc_id,
         |         CASE WHEN b < 10 THEN 'test' WHEN b < 20 THEN 'val' ELSE 'train' END AS split
         |  FROM (SELECT doc_id, cluster_id,
         |          CAST(concat('0x', substr(md5('split1:' || CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
         |        FROM clusters)
         |)
         |SELECT sp.split, COUNT(*) AS n_docs, CAST(SUM(g.n_words) AS BIGINT) AS n_words
         |FROM gates g
         |JOIN clusters c ON c.doc_id = g.doc_id AND c.cluster_id = c.doc_id
         |JOIN sp ON sp.doc_id = g.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // bigram PMI: adjacent-pair and unigram counts, the same fixed
    // ln-chain; top-20 by (count, pair)
    "q_bigram_pmi" ->
      """WITH t AS (
        |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents
        |), bg AS (
        |  SELECT toks[k] AS w1, toks[k+1] AS w2
        |  FROM t, unnest(generate_series(1, len(toks) - 1)) u(k)
        |  WHERE len(toks) >= 2
        |), uni AS (
        |  SELECT w, COUNT(*) AS cu FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1
        |), big AS (
        |  SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 5
        |), tot AS (
        |  SELECT (SELECT CAST(SUM(cu) AS BIGINT) FROM uni) AS n_u,
        |         (SELECT COUNT(*) FROM bg) AS n_b
        |), top AS (
        |  SELECT b.w1, b.w2, b.c_ab, ua.cu AS c_a, ub.cu AS c_b
        |  FROM big b JOIN uni ua ON ua.w = b.w1 JOIN uni ub ON ub.w = b.w2
        |  ORDER BY b.c_ab DESC, b.w1 ASC, b.w2 ASC LIMIT 20
        |)
        |SELECT w1, w2, c_ab,
        |       ROUND(ln(c_ab) + ln(n_u) + ln(n_u) - ln(c_a) - ln(c_b) - ln(n_b), 6) AS pmi
        |FROM top, tot ORDER BY c_ab DESC, w1, w2""".stripMargin,

    // threshold sweep: the q_dedup_jaccard pair CTE at base 0.7
    // (unrounded base filter, rounded bucket compare — mirrors the
    // engine exactly), VALUES thresholds, two rollups
    "q_dedup_threshold_sweep" ->
      s"""WITH tok0 AS (
         |  SELECT doc_id AS id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
         |  FROM documents WHERE doc_id < $PairLimit
         |), tok AS (SELECT DISTINCT id, w FROM tok0),
         |sizes AS (SELECT id, COUNT(*) AS sz FROM tok GROUP BY 1),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
         |  FROM tok a JOIN tok b ON a.w = b.w AND a.id < b.id GROUP BY 1, 2
         |), pairs AS (
         |  SELECT id_a, id_b, ROUND(c * 1.0 / (sa.sz + sb.sz - c), 6) AS j
         |  FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
         |  WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.7
         |), th(threshold) AS (VALUES (0.7e0), (0.8e0), (0.9e0), (0.95e0)),
         |wt AS (
         |  SELECT t.threshold, p.id_a, p.id_b FROM pairs p JOIN th t ON p.j >= t.threshold
         |), np AS (SELECT threshold, COUNT(*) AS n_pairs FROM wt GROUP BY 1),
         |nd AS (
         |  SELECT threshold, COUNT(*) AS n_docs FROM (
         |    SELECT DISTINCT threshold, id FROM (
         |      SELECT threshold, unnest([id_a, id_b]) AS id FROM wt))
         |  GROUP BY 1
         |)
         |SELECT np.threshold, np.n_pairs, nd.n_docs
         |FROM np JOIN nd USING (threshold) ORDER BY 1""".stripMargin,

    // cluster source spread: clusters CTE + documents join, families
    // of >= 2 only
    "q_cluster_source_spread" ->
      s"""$sqlClustersCte
         |SELECT c.cluster_id, COUNT(*) AS n_docs,
         |       COUNT(DISTINCT d.source) AS n_sources
         |FROM clusters c JOIN documents d USING (doc_id)
         |GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY 1""".stripMargin,

    // leakage-safe split: same clusters CTE as q_dedup_clusters; the
    // split is the salted md5 of the cluster id mod 100
    "q_leakage_split" ->
      s"""$sqlClustersCte,
         |assign AS (
         |  SELECT doc_id, cluster_id,
         |         CAST(concat('0x', substr(md5('split1:' || CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
         |  FROM clusters
         |), sp AS (
         |  SELECT doc_id, cluster_id,
         |         CASE WHEN bucket < 10 THEN 'test'
         |              WHEN bucket < 20 THEN 'val'
         |              ELSE 'train' END AS split
         |  FROM assign
         |)
         |SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT cluster_id) AS n_clusters
         |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin,

    // novelty curve: distinct (batch, gram-hash), min-batch first
    // occurrence, per-batch new-vs-carried rollup — all integer until
    // the final fraction
    "q_novelty_curve" ->
      """WITH t AS (
        |  SELECT doc_id // 50 AS bucket,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT bucket,
        |         CAST(concat('0x', substr(md5(array_to_string(toks[k:k+2], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM t, unnest(generate_series(1, len(toks) - 2)) u(k)
        |  WHERE len(toks) >= 3
        |), f AS (SELECT h, MIN(bucket) AS first_b FROM sh GROUP BY 1)
        |SELECT sh.bucket, COUNT(*) AS n_grams,
        |       CAST(SUM(CASE WHEN f.first_b = sh.bucket THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |       ROUND(SUM(CASE WHEN f.first_b = sh.bucket THEN 1 ELSE 0 END) * 1.0e0 / COUNT(*), 6) AS frac_new
        |FROM sh JOIN f USING (h) GROUP BY 1 ORDER BY 1""".stripMargin,

    // source overlap: distinct (source, gram-hash) table, hash-keyed
    // self-join for intersections, full grid LEFT so zero-overlap
    // pairs report 0
    "q_source_overlap" ->
      """WITH t AS (
        |  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT source,
        |         CAST(concat('0x', substr(md5(array_to_string(toks[k:k+2], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM t, unnest(generate_series(1, len(toks) - 2)) u(k)
        |  WHERE len(toks) >= 3
        |), sizes AS (SELECT source, COUNT(*) AS sz FROM sh GROUP BY 1),
        |common AS (
        |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT za.source AS src_a, zb.source AS src_b,
        |       COALESCE(c.n_common, 0) AS n_common,
        |       ROUND(COALESCE(c.n_common, 0) * 1.0e0
        |             / (za.sz + zb.sz - COALESCE(c.n_common, 0)), 6) AS jaccard,
        |       ROUND(COALESCE(c.n_common, 0) * 1.0e0 / LEAST(za.sz, zb.sz), 6) AS containment
        |FROM sizes za JOIN sizes zb ON za.source < zb.source
        |LEFT JOIN common c ON c.src_a = za.source AND c.src_b = zb.source
        |ORDER BY 1, 2""".stripMargin,

    // MinHash estimator error: same signature/candidate CTEs as the
    // LSH oracle; n_eq joins the mh rows pairwise on k; exact side is
    // the candidates-only intersection join (LEFT + COALESCE so a
    // no-common-token candidate still reports est vs 0)
    "q_minhash_est" ->
      s"""WITH ${sqlMinhashCtes(64, 16)},
         |neq AS (
         |  SELECT c.id_a, c.id_b,
         |         CAST(SUM(CASE WHEN ma.mn = mb.mn THEN 1 ELSE 0 END) AS BIGINT) AS n_eq
         |  FROM cand c
         |  JOIN mh ma ON ma.id = c.id_a
         |  JOIN mh mb ON mb.id = c.id_b AND mb.k = ma.k
         |  GROUP BY 1, 2
         |)
         |SELECT n.id_a, n.id_b, n.n_eq,
         |       ROUND(n.n_eq / 64.0e0, 6) AS est_j,
         |       ROUND(COALESCE(i.c, 0) * 1.0e0 / (sa.sz + sb.sz - COALESCE(i.c, 0)), 6) AS exact_j,
         |       ROUND(abs(n.n_eq / 64.0e0
         |                 - COALESCE(i.c, 0) * 1.0e0 / (sa.sz + sb.sz - COALESCE(i.c, 0))), 6) AS abs_err
         |FROM neq n
         |LEFT JOIN inter i ON i.id_a = n.id_a AND i.id_b = n.id_b
         |JOIN sizes sa ON sa.id = n.id_a
         |JOIN sizes sb ON sb.id = n.id_b
         |ORDER BY 1, 2""".stripMargin,

    // CMS cells: one 60-bit md5 per distinct token, row j's bucket =
    // 9-bit window j; cell sums and the min-over-rows probe are all
    // integer -> bit-exact
    "q_cms_freq" ->
      """WITH tk AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |  FROM documents
        |), counts AS (
        |  SELECT w, COUNT(*) AS cnt FROM tk GROUP BY 1
        |), hashed AS (
        |  SELECT w, cnt, CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS h
        |  FROM counts
        |), cells AS (
        |  SELECT j, (h >> (j * 9)) & 511 AS idx, CAST(SUM(cnt) AS BIGINT) AS cell
        |  FROM hashed CROSS JOIN range(0, 4) t(j) GROUP BY 1, 2
        |), top AS (
        |  SELECT w, cnt, h FROM hashed ORDER BY cnt DESC, w ASC LIMIT 50
        |)
        |SELECT t.w AS token, t.cnt AS exact_cnt, MIN(c.cell) AS cms_est,
        |       MIN(c.cell) - t.cnt AS overest
        |FROM top t CROSS JOIN range(0, 4) r(j)
        |JOIN cells c ON c.j = r.j AND c.idx = (t.h >> (r.j * 9)) & 511
        |GROUP BY 1, 2 ORDER BY 2 DESC, 1""".stripMargin,

    // HLL registers: same 60-bit md5 hash as the engine; idx = low 8
    // bits, rho = 53 - bitlength of the 52-bit window (bin() prints
    // without leading zeros in both engines); register sum folded in
    // INTEGER space (sum of 2^(53-M_j)) so the estimate is
    // bit-identical, not merely close
    "q_hll_distinct_grams" ->
      """WITH t AS (
        |  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT source, array_to_string(toks[k:k+2], ' ') AS g
        |  FROM t, unnest(generate_series(1, len(toks) - 2)) u(k)
        |  WHERE len(toks) >= 3
        |), hh AS (
        |  SELECT source, g, CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS h
        |  FROM sh
        |), regs AS (
        |  SELECT source, h & 255 AS idx,
        |         MAX(CASE WHEN h >> 8 = 0 THEN 53
        |                  ELSE 53 - length(bin(h >> 8)) END) AS m_reg
        |  FROM hh GROUP BY 1, 2
        |), per AS (
        |  SELECT source, COUNT(*) AS m_present,
        |         SUM(CAST(1 AS BIGINT) << CAST(53 - m_reg AS INT)) AS s_present
        |  FROM regs GROUP BY 1
        |), est AS (
        |  SELECT source, 256 - m_present AS v_zero,
        |         0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0) * 65536.0e0 * 9007199254740992.0e0
        |           / CAST(s_present + (256 - m_present) * (CAST(1 AS BIGINT) << 53) AS DOUBLE) AS e_raw
        |  FROM per
        |), fin AS (
        |  SELECT source,
        |         CASE WHEN v_zero > 0 AND e_raw <= 640.0e0
        |              THEN 256.0e0 * ln(256.0e0 / CAST(v_zero AS DOUBLE))
        |              ELSE e_raw END AS est
        |  FROM est
        |), ex AS (
        |  SELECT source, COUNT(DISTINCT g) AS exact_grams FROM hh GROUP BY 1
        |)
        |SELECT ex.source, ex.exact_grams, ROUND(fin.est, 4) AS hll_est,
        |       ROUND(abs(fin.est - exact_grams) / exact_grams, 4) AS rel_err
        |FROM fin JOIN ex USING (source) ORDER BY 1""".stripMargin,

    // persisted sketch store: the SAME register/estimate SQL as the
    // one-pass HLL oracle — the sharded create/append/merge round trip
    // must be invisible (max-merge is lossless by construction)
    "q_sketch_store_est" ->
      """WITH t AS (
        |  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT source, array_to_string(toks[k:k+2], ' ') AS g
        |  FROM t, unnest(generate_series(1, len(toks) - 2)) u(k)
        |  WHERE len(toks) >= 3
        |), hh AS (
        |  SELECT source, g, CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS h
        |  FROM sh
        |), regs AS (
        |  SELECT source, h & 255 AS idx,
        |         MAX(CASE WHEN h >> 8 = 0 THEN 53
        |                  ELSE 53 - length(bin(h >> 8)) END) AS m_reg
        |  FROM hh GROUP BY 1, 2
        |), per AS (
        |  SELECT source, COUNT(*) AS m_present,
        |         SUM(CAST(1 AS BIGINT) << CAST(53 - m_reg AS INT)) AS s_present
        |  FROM regs GROUP BY 1
        |), est AS (
        |  SELECT source, 256 - m_present AS v_zero,
        |         0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0) * 65536.0e0 * 9007199254740992.0e0
        |           / CAST(s_present + (256 - m_present) * (CAST(1 AS BIGINT) << 53) AS DOUBLE) AS e_raw
        |  FROM per
        |)
        |SELECT source,
        |       ROUND(CASE WHEN v_zero > 0 AND e_raw <= 640.0e0
        |             THEN 256.0e0 * ln(256.0e0 / CAST(v_zero AS DOUBLE))
        |             ELSE e_raw END, 4) AS hll_est
        |FROM est ORDER BY 1""".stripMargin,

    // retention: integer // bucket math on epoch micros mirrors the
    // engine's DIV; distinct (user, week) activity, cohort by first
    // signup week
    "q_events_retention" ->
      """WITH ev AS (
        |  SELECT user_id AS u, event_type AS t, epoch_us(ts) AS ts FROM events
        |), cohort AS (
        |  SELECT u, MIN(ts) // 604800000000 AS cb FROM ev WHERE t = 'signup' GROUP BY 1
        |), act AS (
        |  SELECT DISTINCT u, ts // 604800000000 AS w FROM ev
        |), sizes AS (SELECT cb, COUNT(*) AS n_cohort FROM cohort GROUP BY 1),
        |r AS (
        |  SELECT c.cb, a.w - c.cb AS k, COUNT(*) AS n_active
        |  FROM act a JOIN cohort c ON c.u = a.u
        |  WHERE a.w - c.cb BETWEEN 0 AND 4
        |  GROUP BY 1, 2
        |)
        |SELECT r.cb AS cohort_bucket, r.k, r.n_active, s.n_cohort,
        |       ROUND(r.n_active * 1.0e0 / s.n_cohort, 6) AS retention
        |FROM r JOIN sizes s ON s.cb = r.cb ORDER BY 1, 2""".stripMargin,

    // funnel: per-step min-qualifying-time recursion unrolled; all
    // comparisons in integer epoch micros (epoch_us == the engine's
    // toMicros ticks), one final double division
    "q_events_funnel" ->
      """WITH ev AS (
        |  SELECT user_id AS u, event_type AS t, epoch_us(ts) AS ts FROM events
        |), s0 AS (
        |  SELECT u, MIN(ts) AS tp FROM ev WHERE t = 'view' GROUP BY 1
        |), s1 AS (
        |  SELECT e.u, MIN(e.ts) AS tp FROM ev e JOIN s0 p ON p.u = e.u
        |  WHERE e.t = 'click' AND e.ts > p.tp AND e.ts - p.tp <= 86400000000
        |  GROUP BY 1
        |), s2 AS (
        |  SELECT e.u, MIN(e.ts) AS tp FROM ev e JOIN s1 p ON p.u = e.u
        |  WHERE e.t = 'purchase' AND e.ts > p.tp AND e.ts - p.tp <= 86400000000
        |  GROUP BY 1
        |), c AS (
        |  SELECT 0 AS step_idx, 'view' AS step, (SELECT COUNT(*) FROM s0) AS n_users
        |  UNION ALL
        |  SELECT 1, 'click', (SELECT COUNT(*) FROM s1)
        |  UNION ALL
        |  SELECT 2, 'purchase', (SELECT COUNT(*) FROM s2)
        |)
        |SELECT step_idx, step, n_users,
        |       ROUND(n_users * 1.0e0 / (SELECT n_users FROM c WHERE step_idx = 0), 6) AS conv
        |FROM c ORDER BY 1""".stripMargin,

    "q_events_window" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
