package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k with codegen'd `zip_with` +
  * `aggregate` (no UDF). Scale path: LSH bucketing via deterministic
  * sign-random-projections so candidate generation is a bucket join,
  * not an all-pairs product.
  */
object VectorOps {

  /** Per-query top-k over a scored candidate table (columns `query_id`,
    * `cand_id`, `sim`) via the bounded [[graft.functions.TopK]]
    * aggregator: partial aggregation keeps at most k rows per input
    * partition, so the shuffle carries O(partitions * k) rows per query
    * instead of every candidate, and no per-query full sort happens
    * anywhere. Same (sim DESC, cand_id ASC) order and rank as the
    * `row_number` window form, row for row.
    */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopK.topK(k)(col("cand_id"), col("sim")).as("tk"))
      .select(col("query_id"), explode(col("tk.entries")).as("e"))
      .select(col("query_id"), col("e.id").as("cand_id"),
        round(col("e.sim"), 6).as("sim"), col("e.rank").as("rank"))

  /** Cosine similarity between two array<double> columns — a native
    * Catalyst expression with `doGenCode`
    * ([[graft.functions.CosineSimilarity]]): Spark's higher-order
    * functions (`zip_with`/`aggregate`) are CodegenFallback and
    * evaluate interpreted per pair, which dominated the pairwise joins.
    * Numeric order is identical to the HOF form, so results (and the
    * DuckDB oracle hashes) are unchanged.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosineSim(a, b)

  /** One eager materialization of a recall-evaluation cohort. Every
    * `*RecallAtK` operator reads its input 3-6 times (index build,
    * probe set, codes, LUTs, exact ground truth), and each read as a
    * raw plan re-scans the source — at harness scale that is 3-6
    * parquet scans per operator, at cluster scale 3-6 source reads of
    * the SAME bounded cohort. The contract of the recall operators is
    * that their input IS a bounded evaluation cohort (the brute-force
    * ground-truth side makes anything else quadratic anyway), so one
    * local checkpoint of the projected (id, vec) pair is the right
    * trade at every scale: consumers become block reads, and the
    * casts they apply on top fold into no-ops. Determinism unchanged
    * (same rows, same values, same arithmetic downstream).
    */
  private def cachedEmb(
      embeddings: DataFrame, idCol: String, vecCol: String): DataFrame =
    // retired: each call's checkpoint is dead once the calling
    // operator's result has executed — without the retire, every
    // vector-face invocation leaked one full embedding-table
    // generation (the r17 GC-storm capture's dominant leak)
    graft.model.Lineage.cutRetired(
      embeddings.select(col(idCol).cast("long").as(idCol),
        col(vecCol).cast("array<double>").as(vecCol)), reliable = false)

  /** Brute-force cosine top-k: for each query vector (small set,
    * broadcast), scan all candidates and keep the k best. Linear in the
    * table size; the broadcast side is the bounded query set.
    */
  def bruteForceTopK(
      embeddings: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cand = embeddings.select(col(idCol).as("cand_id"),
      col(vecCol).cast("array<double>").as("cand_vec"))
    val qs = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("query_vec"))
    val joined = cand.join(broadcast(qs), col("query_id") =!= col("cand_id"))
      .withColumn("sim", cosine(col("query_vec"), col("cand_vec")))
    topKPerQuery(joined, k)
  }

  /** MMR-DIVERSIFIED RETRIEVAL (Carbonell & Goldstein 1998, λ = 0.5):
    * re-rank each query's top-`n` exact-cosine candidates by maximal
    * marginal relevance — greedily pick the candidate maximizing
    * `relevance − max-similarity-to-already-selected`, the dedup-aware
    * cut every RAG / few-shot-selection pipeline wants instead of raw
    * top-k (with λ = 0.5 the constant factor cancels out of the
    * argmax). DETERMINISM: query and pairwise cosines quantize to
    * integer micro-units with `FLOOR(sim·10^6 + 0.5)` (the shared
    * engine idiom), so every greedy comparison is an integer
    * comparison with ties to the smaller candidate id — bit-identical
    * across engines and replayable as k unrolled SQL selection stages.
    *
    * SCALE SHAPE: candidate generation is the broadcast scan-and-heap
    * of [[bruteForceTopK]] (swap in [[ivfTopK]]/[[annTopK]] at a real
    * corpus — MMR only needs SOME top-n table); the pairwise-cosine
    * join and the greedy kernel run per query over n-bounded arrays
    * (n² ≤ 64 integers per query), never corpus-sized state.
    *
    * Returns (query_id, rank, cand_id, mmr_u) — mmr_u in micro-units:
    * rank 1 is the raw relevance, later ranks relevance − redundancy.
    */
  def mmrDiversify(
      embeddings: DataFrame, queries: DataFrame, n: Int = 8, k: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(n >= k && k >= 1, s"need n >= k >= 1, got n=$n k=$k")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cand = embeddings.select(col(idCol).cast("long").as("cand_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val qs = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val simU = (a: Column, b: Column) =>
      floor(cosine(a, b) * lit(1000000.0) + lit(0.5)).cast("long")
    val scored = cand.join(broadcast(qs), col("query_id") =!= col("cand_id"))
      .withColumn("sim", simU(col("qv"), col("cv")).cast("double"))
      .select(col("query_id"), col("cand_id"), col("sim"))
    // top-n by (micro-units DESC, cand_id ASC) through the bounded heap;
    // rounding an integer-valued double is the identity
    val top = topKPerQuery(scored, n)
      .select(col("query_id"), col("cand_id"),
        col("sim").cast("long").as("simq_u"))
    val withV = top.join(cand, "cand_id")
    val ps = withV.as("a")
      .join(withV.select(col("query_id"), col("cand_id").as("id_b"),
        col("cv").as("cvb")).as("b"), Seq("query_id"))
      .filter(col("cand_id") =!= col("id_b"))
      .select(col("query_id"), col("cand_id").as("id_a"), col("id_b"),
        simU(col("cv"), col("cvb")).as("ps"))
    val candArr = top.groupBy("query_id")
      .agg(collect_list(struct(col("cand_id"), col("simq_u"))).as("cands"))
      .as[(Long, Seq[(Long, Long)])]
    val pairArr = ps.groupBy("query_id")
      .agg(collect_list(struct(col("id_a"), col("id_b"), col("ps"))).as("pairs"))
      .as[(Long, Seq[(Long, Long, Long)])]
    val kk = k
    candArr.joinWith(pairArr, candArr("query_id") === pairArr("query_id"))
      .flatMap { case ((qid, cands), (_, pairs)) =>
        val psMap = pairs.map { case (a, b, p) => (a, b) -> p }.toMap
        val remaining = scala.collection.mutable.ArrayBuffer(
          cands.sortBy { case (id, su) => (-su, id) }: _*)
        val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        var rank = 1
        while (rank <= math.min(kk, remaining.length + selected.length) &&
            remaining.nonEmpty) {
          val (pick, score) =
            if (selected.isEmpty) (remaining.head, remaining.head._2)
            else remaining.map { case (id, su) =>
              val red = selected.map(s => psMap((id, s))).max
              ((id, su), su - red)
            }.maxBy { case ((id, _), sc) => (sc, -id) } match {
              case (c, sc) => (c, sc)
            }
          out += ((qid, rank.toLong, pick._1, score))
          selected += pick._1
          remaining -= pick
          rank += 1
        }
        out
      }.toDF("query_id", "rank", "cand_id", "mmr_u")
  }

  /** HARD-NEGATIVE MINING for contrastive/retrieval training: for each
    * query vector, the k most-similar candidates of a DIFFERENT label
    * — near misses that look like the query but aren't its class, the
    * examples a contrastive loss learns the most from (DPR/Contriever
    * recipe). Same broadcast scan-and-heap shape as [[bruteForceTopK]]
    * with the label-mismatch predicate fused into the join: candidates
    * of the query's own label never enter the heap, so k hard
    * negatives survive per query regardless of class balance.
    *
    * Returns (query_id, cand_id, sim, rank), rank 1-based.
    */
  def hardNegatives(
      embeddings: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val cand = embeddings.select(col(idCol).as("cand_id"),
      col(labelCol).as("cand_label"),
      col(vecCol).cast("array<double>").as("cand_vec"))
    val qs = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("query_label"),
      col(vecCol).cast("array<double>").as("query_vec"))
    val joined = cand.join(broadcast(qs),
        col("query_id") =!= col("cand_id") &&
          col("cand_label") =!= col("query_label"))
      .withColumn("sim", cosine(col("query_vec"), col("cand_vec")))
    topKPerQuery(joined, k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * a fixed sinusoidal lattice — cheap, portable, and reproducible in
    * SQL if ever needed.
    */
  def planeComponent(plane: Int, dim: Int): Double =
    math.sin(1.0 + 0.7 * plane + 1.3 * dim + 0.01 * plane * dim)

  /** Sign-random-projection LSH: `numPlanes` hyperplanes -> one bucket
    * id per vector; near-neighbor candidates = same-bucket pairs. The
    * scale path for ANN: bucket join + within-bucket rerank.
    *
    * Buckets are computed in a typed kernel (a column-expression
    * formulation with dims x planes `element_at` terms blows up
    * Catalyst codegen — 50x slower to plan than to run).
    *
    * SIZING (see README "Designed for 100 TB"): candidates are
    * quadratic per bucket, so `numPlanes` must grow with the corpus —
    * pick `numPlanes >= log2(n)` so expected occupancy `n / 2^p` stays
    * small; recover the recall lost to extra planes with MULTI-TABLE
    * LSH: `tableOffset = t * numPlanes` gives table `t` an independent
    * plane set; union the per-table candidate pairs before the exact
    * verify.
    */
  def lshBuckets(
      embeddings: DataFrame, numPlanes: Int, dims: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tableOffset: Int = 0): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val planes = Array.tabulate(numPlanes, dims)((p, d) => planeComponent(tableOffset + p, d))
    embeddings.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { rows =>
        rows.map { case (id, v) =>
          var bucket = 0L
          var pl = 0
          while (pl < numPlanes) {
            var dot = 0.0
            val plane = planes(pl)
            var d = 0
            val n = math.min(dims, v.length)
            while (d < n) { dot += v(d) * plane(d); d += 1 }
            if (dot > 0) bucket |= (1L << pl)
            pl += 1
          }
          (id, bucket)
        }
      }.toDF(idCol, "bucket")
  }

  /** Embedding-cosine near-duplicate join: pairs (a < b) with cosine
    * similarity >= threshold. Exact all-pairs form, GUARDED: the input
    * must fit `maxExactRows` (checked with a bounded `limit(n+1)`
    * count, never a full scan) because the broadcast non-equi join is a
    * cartesian — quadratic work AND a driver-sized broadcast. Above the
    * ceiling this THROWS rather than silently running an
    * executor-melting plan; at corpus scale generate candidates with
    * [[lshBuckets]] / [[ivfTopK]] (recall < 1, documented) or any
    * blocking scheme, and verify them exactly with
    * [[cosineVerifyPairs]] — for DENSE embeddings at loose thresholds
    * no exact sub-quadratic threshold join exists, so the exact/
    * approximate trade-off must be the caller's explicit choice.
    */
  def cosineDupPairs(
      embeddings: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxExactRows: Int = 65536): DataFrame = {
    val n = embeddings.limit(maxExactRows + 1).count()
    require(n <= maxExactRows,
      s"cosineDupPairs is an exact all-pairs join; input exceeds maxExactRows=$maxExactRows. " +
        "Generate candidates with lshBuckets/ivfTopK (approximate) or a blocking scheme and " +
        "verify them with cosineVerifyPairs, or raise maxExactRows explicitly.")
    val e = embeddings.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val a = e.toDF("id_a", "va"); val b = e.toDF("id_b", "vb")
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** EXACT verification of a candidate pair table: joins each (id_a,
    * id_b) candidate to its vectors (two narrow hash joins on id — no
    * broadcast of the embedding table, no cartesian) and keeps pairs
    * with exact cosine >= threshold. Returns exactly the exact-join
    * result restricted to the covered candidates, so total cost scales
    * with the candidate count — the 100 TB shape for any candidate
    * generator (LSH, IVF, exact blocking).
    */
  def cosineVerifyPairs(
      embeddings: DataFrame, candidates: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = embeddings.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    candidates.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .join(e.toDF("id_a", "va"), "id_a")
      .join(e.toDF("id_b", "vb"), "id_b")
      .withColumn("sim", cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** LSH-routed near-duplicate join: candidates = same-bucket pairs
    * (one shuffle on the bucket id), verified exactly. Sound (every
    * returned pair truly has sim >= threshold, with the exact sim) but
    * recall < 1 by construction — pairs hashed to different buckets are
    * never considered. The scale route the [[cosineDupPairs]] guard
    * points to.
    */
  def cosineDupPairsLsh(
      embeddings: DataFrame, threshold: Double, numPlanes: Int, dims: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = lshBuckets(embeddings, numPlanes, dims, idCol, vecCol)
    val cand = b.toDF("id_a", "bucket").join(b.toDF("id_b", "bucket"), "bucket")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    cosineVerifyPairs(embeddings, cand, threshold, idCol, vecCol)
  }

  /** Symmetric per-vector INT8 quantization — the compression pass an
    * embedding pipeline runs before building an ANN index at scale
    * (4x smaller than float32, dot products in integer SIMD). For each
    * vector: scale = max|v| / 127, q_i = floor(v_i / scale + 0.5)
    * (explicit half-up so a SQL engine reproduces the rounding bit for
    * bit; all-zero vectors quantize to zeros). Emitted exploded as
    * (id, dim, q) — narrow, shuffle-free.
    */
  def quantizeInt8(
      embeddings: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = embeddings.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val scale = (array_max(transform(col("v"), x => abs(x))) / 127.0).as("scale")
    e.select(col("id"), col("v"), scale)
      .select(col("id"), col("scale"), posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("id"), col("dim").cast("long").as("dim"),
        when(col("scale") === 0.0, 0L)
          .otherwise(floor(col("x") / col("scale") + 0.5).cast("long")).as("q"))
  }

  /** IVF-Flat ANN: assign every vector to its nearest coarse centroid
    * (the inverted lists), probe the `nprobe` nearest lists per query,
    * rerank candidates by exact cosine. Deterministic coarse quantizer:
    * the first `nlist` vectors serve as centroids (externally-supplied
    * centroids, no k-means iterations) so results are exactly
    * reproducible — including by a SQL oracle. The scale shape: the
    * centroid table broadcasts, assignment is one narrow pass, and the
    * probe⋈list join shuffles on the list id (each vector sits in
    * exactly one list, so candidates are never duplicated).
    */
  def ivfTopK(
      embeddings: DataFrame, nlist: Int, nprobe: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfTopKOn(cachedEmb(embeddings, idCol, vecCol), nlist, nprobe, k, idCol, vecCol)

  /** [[ivfTopK]] over an ALREADY-CACHED cohort — the recall wrapper
    * passes its own `cachedEmb` frame here so the cohort is
    * materialized once, not checkpointed a second time per run.
    */
  private def ivfTopKOn(
      emb: DataFrame, nlist: Int, nprobe: Int, k: Int,
      idCol: String, vecCol: String): DataFrame = {
    val e = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val assign = ivfRanked(emb, nlist, 1, idCol, vecCol).toDF("cand_id", "list")
    val probes = ivfRanked(emb, nlist, nprobe, idCol, vecCol).toDF("query_id", "list")

    val cand = probes.join(assign, "list").filter(col("query_id") =!= col("cand_id"))
    val q = e.toDF("query_id", "qv"); val c = e.toDF("cand_id", "cv")
    val rer = cand.join(q, "query_id").join(c, "cand_id")
      .withColumn("sim", cosine(col("qv"), col("cv")))
    topKPerQuery(rer, k).drop("rank")
  }

  /** Shared IVF coarse-quantizer kernel: per vector, the `limit`
    * nearest of the first-`nlist` deterministic centroids as (id,
    * centroid-id) rows — argmax cosine, ties to the smaller centroid
    * id. `limit = 1` is the list assignment, `limit = nprobe` a
    * query's probe set. One narrow pass against the broadcast
    * centroid table.
    */
  private def ivfRanked(
      embeddings: DataFrame, nlist: Int, limit: Int,
      idCol: String, vecCol: String): DataFrame =
    ivfRankedWithRank(embeddings, nlist, limit, idCol, vecCol).drop("r")

  /** [[ivfRanked]] plus the 1-based probe rank `r` of each centroid —
    * the column the nprobe SWEEP filters on, so one max-nprobe pass
    * serves every probe level.
    */
  private[graft] def ivfRankedWithRank(
      embeddings: DataFrame, nlist: Int, limit: Int,
      idCol: String, vecCol: String): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val centroids = e.filter(col("id") < nlist)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val centB = spark.sparkContext.broadcast(centroids)
    e.as[(Long, Array[Double])].mapPartitions { rows =>
      val cents = centB.value
      rows.flatMap { case (id, v) =>
        var nv = 0.0
        var d = 0
        while (d < v.length) { nv += v(d) * v(d); d += 1 }
        val normV = math.sqrt(nv)
        val sims = cents.map { case (cid, cv) =>
          var dot = 0.0; var nc = 0.0
          var i = 0
          val n = math.min(v.length, cv.length)
          while (i < n) { dot += v(i) * cv(i); nc += cv(i) * cv(i); i += 1 }
          (cid, dot / (normV * math.sqrt(nc)))
        }
        sims.sortBy { case (cid, s) => (-s, cid) }.take(limit)
          .zipWithIndex.map { case ((cid, _), i) => (id, cid, (i + 1).toLong) }
      }
    }.toDF("id", "cid", "r")
  }

  /** IVF inverted-list BALANCE report — the standing scale hazard of
    * an IVF index is list skew: a hot list makes every probe that
    * touches it pay its full length, and at cluster scale one
    * oversized list is a straggler task. Reports, per list, the
    * member count and its load factor versus perfect balance
    * (`n_vectors * nlist / total`; 1.0 = balanced, >> 1 = hot).
    * Centroids that capture no vectors are absent — their absence
    * (count vs `nlist`) is itself the degenerate-quantizer signal.
    *
    * Cost: the same narrow assignment pass as [[ivfTopK]] plus one
    * `nlist`-row aggregation — nothing pairwise; runnable as a cheap
    * health check before committing to an index build.
    */
  def ivfListStats(
      embeddings: DataFrame, nlist: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assign = ivfRanked(embeddings, nlist, 1, idCol, vecCol)
    val total = assign.agg(count(lit(1)).as("total"))
    assign.groupBy(col("cid").as("list_id"))
      .agg(count(lit(1)).as("n_vectors"))
      .crossJoin(broadcast(total))
      .select(col("list_id"), col("n_vectors"),
        round(col("n_vectors") * lit(nlist.toLong) / col("total"), 6).as("load_factor"))
  }

  /** IVF nprobe SWEEP — recall@k at several probe counts from ONE
    * shared pass, the tuning table an index operator reads to pick
    * nprobe (the recall/latency dial of IVF, Jégou et al. 2011 §5):
    * candidates and their exact cosines are computed ONCE at the
    * MAXIMUM probe count, each carrying the probe rank of the list
    * that produced it (a candidate lives in exactly one list, so the
    * rank is unique per pair); the nprobe=p level is then a FILTER
    * (`prank <= p`) plus the bounded per-query top-k aggregation —
    * never a re-scan, never a second cosine. Same single-
    * materialization shape as the LSH band sweep; the brute-force
    * ground truth is likewise shared by all levels. Monotone by
    * construction: level p's candidate set contains level p-1's.
    *
    * Returns one summary row per probe count: (nprobe, n_hits,
    * n_exact, recall) with recall = n_hits/n_exact micro-averaged
    * over all query points (the per-query brute row count convention
    * of [[recallAgainstBrute]] — short corpora don't cap below 1).
    */
  def ivfProbeSweep(
      embeddings: DataFrame, nlist: Int, probesList: Seq[Int], k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(probesList.nonEmpty, "sweep needs at least one probe count")
    require(probesList.distinct == probesList, s"duplicate probe counts: $probesList")
    probesList.foreach(p => require(p >= 1 && p <= nlist,
      s"nprobe must be in [1,$nlist]: $p"))
    val emb = cachedEmb(embeddings, idCol, vecCol)
    val maxP = probesList.max
    val e = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val assign = ivfRanked(emb, nlist, 1, idCol, vecCol).toDF("cand_id", "list")
    val probes = ivfRankedWithRank(emb, nlist, maxP, idCol, vecCol)
      .toDF("query_id", "list", "prank")
    val q = e.toDF("query_id", "qv")
    val c = e.toDF("cand_id", "cv")
    val scored = probes.join(assign, "list")
      .filter(col("query_id") =!= col("cand_id"))
      .join(q, "query_id").join(c, "cand_id")
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .select(col("query_id"), col("cand_id"), col("prank"), col("sim"))
      .localCheckpoint() // one scored table serves every level
    graft.model.Lineage.retire(scored)
    val brute = bruteForceTopK(emb, emb, k, idCol, vecCol)
      .select(col("query_id"), col("cand_id"))
      .localCheckpoint() // one ground truth serves every level
    graft.model.Lineage.retire(brute)
    probesList.map { p =>
      val ann = topKPerQuery(scored.filter(col("prank") <= p), k)
        .select(col("query_id"), col("cand_id"), lit(1).as("hit"))
      brute.join(ann, Seq("query_id", "cand_id"), "left")
        .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("n_exact"))
        .select(lit(p.toLong).as("nprobe"), col("n_hits"), col("n_exact"),
          // greatest(...,1): a degenerate cohort with no ground-truth
          // rows reports a defined 0, not 0/0 = null (the lshBandSweep
          // convention; the oracle guards identically)
          round(col("n_hits") / greatest(col("n_exact"), lit(1L)), 6).as("recall"))
    }.reduce(_ unionAll _)
  }

  /** MULTI-TABLE LSH ANN top-k — the recall-recovery construction the
    * README's sizing notes prescribe: `tables` independent plane sets
    * (disjoint [[planeComponent]] offsets), candidates = the UNION of
    * per-table same-bucket pairs (deduplicated before reranking so
    * each pair pays the exact cosine once), then the bounded top-k.
    * More planes per table keeps buckets small (shuffle-skew control);
    * more tables buys back the recall each extra plane costs. Cost
    * scales with tables × candidates, never corpus².
    */
  def annTopKMulti(
      embeddings: DataFrame, numPlanes: Int, dims: Int, k: Int, tables: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(tables >= 1, s"tables must be >= 1, got $tables")
    val cand = (0 until tables).map { t =>
      val b = lshBuckets(embeddings, numPlanes, dims, idCol, vecCol,
        tableOffset = t * numPlanes)
      b.toDF("query_id", "bucket").join(b.toDF("cand_id", "bucket"), "bucket")
        .filter(col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"))
    }.reduce(_ unionByName _).distinct()
    val e = embeddings.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val rer = cand
      .join(e.toDF("query_id", "qv"), "query_id")
      .join(e.toDF("cand_id", "cv"), "cand_id")
      .withColumn("sim", cosine(col("qv"), col("cv")))
    topKPerQuery(rer, k).drop("rank")
  }

  /** LABEL-BASED RETRIEVAL EVALUATION — does nearest-neighbor search
    * surface same-class items? Per query: the rank of the first
    * correct-label candidate, reciprocal rank in micro-units,
    * precision@k in milli-units, and the correct count — the
    * intrinsic-quality readout an embedding table ships with (the ANN
    * recall family measures index-vs-exact fidelity; this measures
    * whether the SPACE itself retrieves meaning). All integers: rank
    * positions are exact, `mrr_u = 10^6 div rank`, `p_at_k_milli =
    * 10^3·hits div k` — no logarithmic discount whose last bits could
    * differ between engines.
    *
    * SCALE SHAPE: one [[bruteForceTopK]] candidate pass (swap in an
    * ANN route at a real corpus), one broadcast label join on each
    * side, one per-query bounded aggregation.
    *
    * Returns (query_id, first_correct_rank — 0 when no correct
    * candidate in the top k, mrr_u, p_at_k_milli, n_correct).
    */
  def retrievalEval(
      embeddings: DataFrame, queries: DataFrame, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val labels = embeddings.select(col(idCol).cast("long").as("lid"),
      col(labelCol).cast("long").as("lab"))
    val top = bruteForceTopK(embeddings, queries, k, idCol, vecCol)
    top
      .join(broadcast(labels).toDF("query_id", "q_lab"), "query_id")
      .join(broadcast(labels).toDF("cand_id", "c_lab"), "cand_id")
      .withColumn("correct", when(col("q_lab") === col("c_lab"), 1L).otherwise(0L))
      .groupBy(col("query_id"))
      .agg(
        coalesce(min(when(col("correct") === 1L, col("rank"))), lit(0L))
          .as("first_correct_rank"),
        sum(col("correct")).as("n_correct"))
      .withColumn("mrr_u",
        when(col("first_correct_rank") === 0L, 0L)
          .otherwise(expr("1000000 div first_correct_rank")))
      .withColumn("p_at_k_milli", expr(s"(1000 * n_correct) div $k"))
      .select(col("query_id"), col("first_correct_rank"), col("mrr_u"),
        col("p_at_k_milli"), col("n_correct"))
  }

  /** EMBEDDING-DISTRIBUTION DRIFT between two snapshots — the vector
    * analog of the text-side source-drift monitor: per label, the L1
    * and L∞ distance between the snapshots' per-dimension mean
    * embeddings, the "did this class's representation move" number
    * that flags encoder or upstream-data changes before a model
    * trains on the new crawl.
    *
    * DETERMINISM: components quantize to 2^24 units (the covariance
    * idiom), each per-dimension mean rounds to integer micro-units
    * with round-half-away integer division — `(2s·10^6 + n·2^24) div
    * (2n·2^24)` — and the L1/L∞ folds are integer sums/maxes over a
    * fixed dimension set: order-free and bit-identical across engines.
    * (Defining drift over micro-unit-QUANTIZED means is what keeps the
    * arithmetic in 64 bits: the cross-multiplied exact form
    * `|s1·n2 − s2·n1|` outgrows BIGINT at corpus scale.)
    *
    * SCALE SHAPE: one narrow pass per snapshot (posexplode to
    * (label, dim) partial sums — map-side combined to ≤ labels·d rows
    * per partition), one labels·d-sized equi-join, one labels-sized
    * fold. Nothing corpus-sized ever shuffles.
    *
    * Returns (label, n_old, n_new, l1_drift_u, linf_drift_u) for
    * labels present in BOTH snapshots (appearance/disappearance is a
    * counting question, not a drift one).
    */
  /** Per-(label, dim) integer micro-unit mean embeddings — the shared
    * kernel of [[embeddingDrift]] and [[labelCentroidDots]]: quantize
    * to 2^24 units, partial-sum (widened to DECIMAL(38,0) BEFORE the
    * 2·s·10^6 cross-multiply — oracle mirrors with HUGEINT; a BIGINT
    * `2*s*1000000` overflows once a (label, dim) group holds ~2^17
    * unit-scale rows, far below corpus scale), then round-half-away
    * integer division to the micro-unit mean. Spark's `div` on
    * decimals emits BIGINT, which the mean (≤ 8·10^6) always fits.
    * Returns (label, dim, n, m_u).
    */
  private def microUnitMeans(
      snap: DataFrame, labelCol: String, vecCol: String): DataFrame =
    snap.select(col(labelCol).cast("long").as("label"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .withColumn("p",
        floor(col("x") * lit(16777216.0) + lit(0.5)).cast("long"))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("p").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .as("s"), count(lit(1)).as("n"))
      .withColumn("m_u", expr(
        """CASE WHEN s >= 0
          |  THEN  ((2 * s * 1000000 + CAST(n AS DECIMAL(38,0)) * 16777216) div (2 * CAST(n AS DECIMAL(38,0)) * 16777216))
          |  ELSE -((2 * (-s) * 1000000 + CAST(n AS DECIMAL(38,0)) * 16777216) div (2 * CAST(n AS DECIMAL(38,0)) * 16777216))
          |END""".stripMargin))
      .select(col("label"), col("dim"), col("n"), col("m_u"))

  def embeddingDrift(
      oldSnap: DataFrame, newSnap: DataFrame,
      labelCol: String = "label", vecCol: String = "embedding"): DataFrame = {
    def means(snap: DataFrame): DataFrame = microUnitMeans(snap, labelCol, vecCol)
    val a = means(oldSnap).toDF("label", "dim", "n_old", "m_old")
    val b = means(newSnap).toDF("label", "dim", "n_new", "m_new")
    a.join(b, Seq("label", "dim"))
      .withColumn("d_u", abs(col("m_old") - col("m_new")))
      .groupBy(col("label"))
      .agg(max(col("n_old")).as("n_old"), max(col("n_new")).as("n_new"),
        sum(col("d_u")).as("l1_drift_u"), max(col("d_u")).as("linf_drift_u"))
      // report face: the oracle ends ORDER BY 1 and the driver's hash
      // is row-order-sensitive — a bare groupBy emits shuffle order.
      .orderBy(col("label"))
  }

  /** LABEL-CENTROID GRAM MATRIX — the class-separation readout of an
    * embedding table: for every label pair (a ≤ b), the exact integer
    * dot product of the labels' micro-unit mean embeddings, plus the
    * self-dots on the diagonal. Downstream, cosine between centroids
    * is `dot(a,b)/√(dot(a,a)·dot(b,b))` — near-1 off-diagonal cosines
    * flag label pairs the encoder cannot separate (merge candidates /
    * labeling-noise suspects), the vector analog of a confusion
    * matrix before any classifier is trained.
    *
    * DETERMINISM: centroids are the [[embeddingDrift]] micro-unit
    * integer means; dots are integer sums over a fixed dimension set
    * (|m_u| ≤ 8·10^6 ⇒ a 64-dim dot ≤ 4·10^15, comfortably BIGINT) —
    * the face carries no double at all, so it is bit-identical across
    * engines and partitionings.
    *
    * SCALE SHAPE: one narrow posexplode pass map-side-combined to
    * labels·d rows, one labels·d equi-join on dim, one labels²-sized
    * aggregation. Nothing corpus-sized shuffles; the pair join is on
    * the tiny centroid table, never on data.
    *
    * Returns (label_a, label_b, n_a, n_b, dot_uu) for label_a ≤
    * label_b, dot in micro-unit² units.
    */
  def labelCentroidDots(
      embeddings: DataFrame,
      labelCol: String = "label", vecCol: String = "embedding"): DataFrame = {
    val m = microUnitMeans(embeddings, labelCol, vecCol)
    val a = m.toDF("label_a", "dim", "n_a", "m_a")
    val b = m.toDF("label_b", "dim", "n_b", "m_b")
    a.join(b, Seq("dim"))
      .filter(col("label_a") <= col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(col("m_a") * col("m_b")).as("dot_uu"))
      .orderBy(col("label_a"), col("label_b"))
  }

  /** Throws for every input: the raise of `centroidOutliers`' component
    * bound. A UDF's exception reaches the caller inside a SparkException
    * however many stages fail; `raise_error`'s SparkRuntimeException is
    * rethrown bare by Spark 4.1 when exactly one stage fails, so its type
    * depended on task timing.
    */
  private val componentOverBound = udf[java.lang.Double, java.lang.Double](x =>
    throw new IllegalArgumentException(s"centroidOutliers: |component| > MaxComponent=8, got $x"))

  /** CENTROID-DISTANCE MISLABEL SUSPECTS — the embedding-space data
    * cleaner: a vector sitting far from its OWN label's centroid,
    * measured against that label's robust spread (median/MAD modified
    * z, the [[graft.text.CorpusOps.robustOutliers]] gate applied to
    * integer centroid distances), is a labeling-noise or
    * out-of-distribution suspect worth auditing before training.
    *
    * DETERMINISM, all integers: components quantize to 2^24 units,
    * centroids are round-half-away integer means ON THE SAME GRID,
    * and the squared distance reduces by `div 2^24` to `d2q ≤ ~2^32`
    * — small enough that the exact-interpolation median midpoints
    * (x.0 / x.5) are exactly representable, so per-label `med4 =
    * 4·median(d2q)` and `mad8 = 2·median(|4·d2q − med4|)` are exact
    * BIGINTs on both engines. The 3.5-modified-z gate is then the
    * pure-integer cross-multiply `13490·|4·d2q − med4| >
    * 10·cutMilli·mad8` (0.6745·Δ/MAD > cut with every fraction
    * cleared) — the face carries no double at all.
    *
    * SCALE SHAPE: one narrow posexplode pass to (label, dim) means,
    * one labels·d broadcast join computing the per-row distance, two
    * labels-sized percentile aggregations broadcast back — nothing
    * corpus-sized shuffles twice, no window.
    *
    * Returns (vec_id, label, d2q, med4, mad8, is_outlier).
    */
  def centroidOutliers(
      embeddings: DataFrame, cutMilli: Long = 3500L,
      labelCol: String = "label", vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    require(cutMilli > 0, s"cutMilli must be positive, got $cutMilli")
    val u = embeddings.select(col(idCol).cast("long").as("id"),
        col(labelCol).cast("long").as("label"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      // the 2^62 headroom proof needs |x| <= 8 (the EmbedStats
      // MaxComponent contract) — an unnormalized embedding must raise,
      // never produce a silently wrapped distance
      .withColumn("x", when(abs(col("x")) <= lit(8.0), col("x"))
        .otherwise(componentOverBound(col("x"))))
      .withColumn("p",
        floor(col("x") * lit(16777216.0) + lit(0.5)).cast("long"))
    // grid-unit centroid: round-half-away mean of the quantized
    // components (same 2^24 grid as the points)
    val cent = u.groupBy(col("label"), col("dim"))
      .agg(sum(col("p").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .as("s"), count(lit(1)).as("n"))
      .withColumn("c", expr(
        """CASE WHEN s >= 0
          |  THEN  ((2 * s + CAST(n AS DECIMAL(38,0))) div (2 * CAST(n AS DECIMAL(38,0))))
          |  ELSE -((2 * (-s) + CAST(n AS DECIMAL(38,0))) div (2 * CAST(n AS DECIMAL(38,0))))
          |END""".stripMargin))
      .select(col("label"), col("dim"), col("c"))
    val d2 = u.join(broadcast(cent), Seq("label", "dim"))
      .groupBy(col("id"), col("label"))
      .agg(sum((col("p") - col("c")) * (col("p") - col("c"))).as("d2"))
      .withColumn("d2q", expr("d2 div 16777216"))
      .select(col("id"), col("label"), col("d2q"))
    val med = d2.groupBy(col("label"))
      .agg((expr("percentile(d2q, 0.5d)") * 4).cast("long").as("med4"))
    val withMed = d2.join(broadcast(med), Seq("label"))
    val mad = withMed.groupBy(col("label"))
      .agg((expr("percentile(abs(4 * d2q - med4), 0.5d)") * 2)
        .cast("long").as("mad8"))
    withMed.join(broadcast(mad), Seq("label"))
      .select(col("id").as(idCol), col("label"), col("d2q"),
        col("med4"), col("mad8"),
        (col("mad8") > 0 &&
          lit(13490L) * abs(lit(4L) * col("d2q") - col("med4")) >
            lit(10L * cutMilli) * col("mad8")).as("is_outlier"))
  }

  /** SIMPLIFIED SILHOUETTE of the nearest-seed clustering — the
    * cluster-quality readout (Rousseeuw 1987, centroid-simplified
    * form) that decides whether a k / seeding choice produced real
    * structure: per point, `a` = cosine distance to its own (nearest)
    * seed, `b` = distance to the second-nearest seed, `s = (b − a) /
    * max(a, b)` — here always `(b − a) / b` since the own seed is the
    * argmin, so s ∈ [0, 1] with 0 = boundary point, 1 = deep interior.
    *
    * Seeds are the k lowest-id vectors VERBATIM (the
    * [[kmeansAssign]]-init / [[ivfTopK]] fixed-centroid contract —
    * iterated centroids are averaged doubles whose bit pattern is
    * engine- and order-dependent, while stored vectors replay
    * exactly). All distances quantize to integer micro-units with the
    * shared `FLOOR(x·10^6 + 0.5)` idiom and the ratio is
    * round-half-away integer division, so the whole face is
    * bit-identical across engines and partitionings.
    *
    * SCALE SHAPE: one broadcast of k seed vectors, one narrow pass
    * computing k codegen'd cosines per row, and a per-point bounded
    * aggregation (k structs) — no pairwise join anywhere (the FULL
    * silhouette's O(n²) per-cluster pass is exactly what the
    * simplified form exists to avoid at corpus scale).
    *
    * Returns (vec_id, cluster_id, a_u, b_u, s_u), micro-units.
    */
  def nearestSeedSilhouette(
      embeddings: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 2, s"silhouette needs k >= 2 seeds, got $k")
    val e = embeddings.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val seeds = e.orderBy(col("id")).limit(k)
      .select(col("id").as("cid"), col("v").as("cv"))
    val du = floor((lit(1.0) - cosine(col("v"), col("cv"))) * lit(1000000.0)
      + lit(0.5)).cast("long")
    e.crossJoin(broadcast(seeds))
      .withColumn("d_u", du)
      .groupBy(col("id").as(idCol))
      .agg(sort_array(collect_list(struct(col("d_u"), col("cid")))).as("ds"))
      .select(col(idCol),
        col("ds")(0)("cid").as("cluster_id"),
        col("ds")(0)("d_u").as("a_u"),
        col("ds")(1)("d_u").as("b_u"))
      .withColumn("s_u",
        when(col("b_u") === 0L, 0L).otherwise(expr(
          "(2 * (b_u - a_u) * 1000000 + b_u) div (2 * b_u)")))
  }

  /** Distributed LLOYD'S K-MEANS assignment over the embedding column —
    * the centroid-training step a real IVF index runs before
    * [[ivfTopK]]'s probe/rerank (which deliberately uses fixed
    * centroids for oracle reproducibility; this supplies trained ones).
    *
    * Deterministic throughout: init = the `k` lowest-id vectors
    * (centroid keyed by that vector's id), assignment = argmax cosine
    * with ties to the smaller centroid id, `iters` assignment passes
    * with `iters - 1` centroid updates between them (so `iters = 1`
    * is pure nearest-seed assignment).
    *
    * The 100 TB shape: centroids are O(k·d) — driver-held and
    * broadcast, the ONLY thing ever collected. Each round is ONE
    * narrow pass over the corpus (assignment fused with per-partition
    * partial sums in the same mapPartitions — no assignment join, no
    * dim explosion), followed by a k-row shuffle of the partials.
    * Clusters that lose all members vanish for subsequent rounds
    * (standard Lloyd degeneracy; k shrinks rather than re-seeding, so
    * a SQL oracle can mirror the behavior exactly).
    */
  def kmeansAssign(
      embeddings: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v")).as[(Long, Array[Double])]
    var cents: Array[(Long, Array[Double])] =
      e.orderBy(col("id")).limit(k).collect().sortBy(_._1)

    // Assignment only needs argmax cosine, and |v| is constant across
    // centroids — so centroids are UNIT-normalized ONCE per broadcast
    // and the inner loop is a bare dot product scaled by one 1/|v| per
    // row: half the math of recomputing both norms per (row, centroid).
    // The integer assignment is invariant to this refactor up to fp
    // rounding of near-exact ties (sims within ~1 ulp); the 1/|v|
    // factor is kept (not dropped, though argmax wouldn't need it) so
    // a zero vector still yields NaN sims → cluster -1, as before.
    def unitNormalized(cs: Array[(Long, Array[Double])]): Array[(Long, Array[Double])] =
      cs.map { case (cid, c) =>
        var nc = 0.0; var i = 0
        while (i < c.length) { nc += c(i) * c(i); i += 1 }
        val inv = 1.0 / math.sqrt(nc)
        val u = new Array[Double](c.length)
        i = 0
        while (i < c.length) { u(i) = c(i) * inv; i += 1 }
        (cid, u)
      }
    // cents sorted by cid + strict > keeps the SMALLEST cid on ties,
    // matching a SQL (sim DESC, cid ASC) rank-1
    def best(cs: Array[(Long, Array[Double])], v: Array[Double]): Long = {
      var nv = 0.0
      var i = 0
      while (i < v.length) { nv += v(i) * v(i); i += 1 }
      val invV = 1.0 / math.sqrt(nv)
      var bi = -1L
      var bs = Double.NegativeInfinity
      var j = 0
      while (j < cs.length) {
        val c = cs(j)._2
        val n = math.min(v.length, c.length)
        var dot = 0.0
        i = 0
        while (i < n) { dot += v(i) * c(i); i += 1 }
        val s = dot * invV
        if (s > bs) { bs = s; bi = cs(j)._1 }
        j += 1
      }
      bi
    }

    var round = 0
    while (round < iters - 1) {
      val bc = spark.sparkContext.broadcast(unitNormalized(cents))
      // fused assign + partial sums: slot d holds the count
      val partials = e.mapPartitions { rows =>
        val cs = bc.value
        val acc = new java.util.HashMap[Long, Array[Double]]()
        rows.foreach { case (_, v) =>
          val cid = best(cs, v)
          var a = acc.get(cid)
          if (a == null) { a = new Array[Double](v.length + 1); acc.put(cid, a) }
          var i = 0
          while (i < v.length) { a(i) += v(i); i += 1 }
          a(v.length) += 1.0
        }
        scala.jdk.CollectionConverters.MapHasAsScala(acc).asScala.iterator
          .map { case (cid, a) => (cid, a) }
      }
      cents = partials.groupByKey(_._1)
        .reduceGroups { (x, y) =>
          val s = new Array[Double](x._2.length)
          var i = 0
          while (i < s.length) { s(i) = x._2(i) + y._2(i); i += 1 }
          (x._1, s)
        }
        .map { case (cid, (_, a)) =>
          val d = a.length - 1
          val m = new Array[Double](d)
          var i = 0
          while (i < d) { m(i) = a(i) / a(d); i += 1 }
          (cid, m)
        }.collect().sortBy(_._1)
      round += 1
    }

    val bc = spark.sparkContext.broadcast(unitNormalized(cents))
    e.mapPartitions { rows =>
      val cs = bc.value
      rows.map { case (id, v) => (id, best(cs, v)) }
    }.toDF(idCol, "cluster_id")
  }

  /** SEMANTIC deduplication (the SemDeDup shape, Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings with k-means, then
    * within each cluster drop every vector that has a more-senior
    * (smaller-id) cluster-mate at cosine >= `threshold`. The k-means
    * prepass is what makes this scale: the quadratic similarity join
    * runs per CLUSTER (an equi-join on cluster_id, cost sum of
    * squared cluster sizes), never corpus x corpus — k is the knob
    * that bounds cluster occupancy as the corpus grows. Cross-cluster
    * near-dups are missed by construction; that recall loss is the
    * published trade-off.
    *
    * Deterministic end-to-end ([[kmeansAssign]] is; seniority is the
    * id order), returning the KEPT rows as (id, cluster_id).
    */
  def semanticDedup(
      embeddings: DataFrame, k: Int, iters: Int, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assign = kmeansAssign(embeddings, k, iters, idCol, vecCol)
    val e = embeddings
      .select(col(idCol).cast("long").as(idCol), col(vecCol).cast("array<double>").as("v"))
      .join(assign, idCol)
    val a = e.select(col("cluster_id"), col(idCol).as("id_a"), col("v").as("va"))
    val b = e.select(col("cluster_id"), col(idCol).as("id_b"), col("v").as("vb"))
    val dropped = a.join(b, Seq("cluster_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("va"), col("vb")) >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    e.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster_id"))
  }

  /** ANN top-k through LSH buckets: rerank within buckets only.
    * Recall < 1 by construction; pair with [[bruteForceTopK]] as the
    * exact baseline.
    */
  def annTopK(
      embeddings: DataFrame, numPlanes: Int, dims: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = lshBuckets(embeddings, numPlanes, dims, idCol, vecCol)
    val withB = embeddings.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .join(b, idCol)
    val a = withB.select(col(idCol).as("query_id"), col("v").as("qv"), col("bucket"))
    val c = withB.select(col(idCol).as("cand_id"), col("v").as("cv"), col("bucket"))
    val joined = a.join(c, Seq("bucket")).filter(col("query_id") =!= col("cand_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    topKPerQuery(joined, k).drop("rank")
  }

  /** MULTI-PROBE LSH ANN (Lv et al., VLDB 2007): each query probes its
    * OWN bucket plus the `numPlanes` buckets at Hamming distance 1
    * (one sign bit flipped) — the recall-recovery dial that costs
    * probe-factor candidates instead of extra index tables/memory
    * (multi-TABLE LSH builds T independent indexes; multi-probe
    * re-reads the one index T+1 ways). A candidate lives in exactly
    * one bucket and the probe set is distinct, so no candidate
    * dedup is needed; the probe explode is numPlanes+1 rows per
    * query, joined on the bucket key like the single-probe route.
    */
  def annTopKMultiProbe(
      embeddings: DataFrame, numPlanes: Int, dims: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = lshBuckets(embeddings, numPlanes, dims, idCol, vecCol)
    val withB = embeddings.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .join(b, idCol)
    val probeList = array(
      (col("bucket") +: (0 until numPlanes)
        .map(p => col("bucket").bitwiseXOR(lit(1L << p)))): _*)
    val a = withB.select(col(idCol).as("query_id"), col("v").as("qv"),
      explode(probeList).as("bucket"))
    val c = withB.select(col(idCol).as("cand_id"), col("v").as("cv"), col("bucket"))
    val joined = a.join(c, Seq("bucket")).filter(col("query_id") =!= col("cand_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    topKPerQuery(joined, k).drop("rank")
  }

  /** [[annRecallAtK]] for the multi-probe route — the measured recall
    * recovery of Hamming-1 probing over the same single index.
    */
  def multiProbeRecallAtK(
      embeddings: DataFrame, numPlanes: Int, dims: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = cachedEmb(embeddings, idCol, vecCol)
    recallAgainstBrute(
      annTopKMultiProbe(e, numPlanes, dims, k, idCol, vecCol),
      e, k, idCol, vecCol)
  }

  /** Recall accounting for the LSH ANN route: per query point, how many
    * of the exact brute-force top-k the bucketed [[annTopK]] recovered.
    * Turns "recall < 1 by construction" from a caveat into a measured
    * number — `n_hits` = |ANN(q) ∩ brute(q)|, `recall` = n_hits / k.
    *
    * Both sides use identical deterministic tie-breaks (sim DESC,
    * cand_id ASC), so the intersection is well-defined; the output is
    * integer counts + an exact small-rational recall, immune to fp
    * wobble. Cost: the ANN pass plus one bounded brute-force pass over
    * the same subset — the brute side is the ground-truth oracle, run
    * at harness scale only (at 100 TB, recall is estimated the same
    * way on a sampled query cohort, never the full corpus).
    */
  def annRecallAtK(
      embeddings: DataFrame, numPlanes: Int, dims: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = cachedEmb(embeddings, idCol, vecCol)
    recallAgainstBrute(
      annTopK(e, numPlanes, dims, k, idCol, vecCol),
      e, k, idCol, vecCol)
  }

  /** [[annRecallAtK]] for the IVF route: recall of [[ivfTopK]]'s
    * probe-bounded candidates against the exact top-k.
    */
  def ivfRecallAtK(
      embeddings: DataFrame, nlist: Int, nprobe: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = cachedEmb(embeddings, idCol, vecCol)
    recallAgainstBrute(
      ivfTopKOn(e, nlist, nprobe, k, idCol, vecCol),
      e, k, idCol, vecCol)
  }

  /** Per-query |approx ∩ exact| over a (query_id, cand_id, …) approx
    * result: left-join the brute-force top-k against it and count
    * matches. Every query point appears (the brute side has a row per
    * exact neighbor), so zero-recall queries report 0, not absence.
    * The denominator is the PER-QUERY brute row count, not the constant
    * k: with fewer than k+1 vectors in the corpus the exact top-k has
    * fewer rows, and dividing by k would cap recall below 1 for a
    * perfect ANN result.
    */
  private def recallAgainstBrute(
      approx: DataFrame, embeddings: DataFrame, k: Int,
      idCol: String, vecCol: String): DataFrame = {
    val ann = approx.select(col("query_id"), col("cand_id"), lit(1).as("hit"))
    val brute = bruteForceTopK(embeddings, embeddings, k, idCol, vecCol)
      .select(col("query_id"), col("cand_id"))
    brute.join(ann, Seq("query_id", "cand_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("n_exact"))
      .withColumn("recall", round(col("n_hits") / col("n_exact"), 6))
      .drop("n_exact")
  }

  /** PRODUCT-QUANTIZATION codes (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    * d dims into `m` subspaces, quantize each subvector to its nearest
    * of `ks` per-subspace centroids (squared L2, ties to the smaller
    * centroid id), emit one (vec_id, sub, code) row per subspace. The
    * memory step of billion-scale ANN — a d-dim float vector becomes m
    * small codes.
    *
    * Deterministic codebooks for oracle reproducibility: subspace j's
    * centroids are the j-subvectors of the first `ks` vectors (the
    * same externally-supplied-centroids convention as [[ivfTopK]]; a
    * production index trains them with [[kmeansAssign]] per subspace).
    * All distance sums run in ascending dim order, so every double is
    * bit-reproducible by a SQL engine folding the same order.
    *
    * Shape: codebooks are m·ks·(d/m) doubles — driver-held and
    * broadcast; encoding is ONE narrow pass (no explode, no shuffle
    * before the final exploded projection).
    */
  def pqEncode(
      embeddings: DataFrame, m: Int = 4, ks: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqCodes(embeddings, m, ks, idCol, vecCol)
      .select(col("id").as(idCol), posexplode(col("codes")).as(Seq("sub", "code")))
      .select(col(idCol), col("sub").cast("long").as("sub"), col("code").cast("long").as("code"))

  /** (id, codes array) form of [[pqEncode]] — the narrow kernel. */
  private def pqCodes(
      embeddings: DataFrame, m: Int, ks: Int,
      idCol: String, vecCol: String): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val cents = e.filter(col("id") < ks).as[(Long, Array[Double])].collect().sortBy(_._1)
    require(cents.length == ks, s"need the first $ks vectors as PQ codebook seeds")
    val dims = cents.head._2.length
    require(dims % m == 0, s"dims $dims not divisible by m=$m")
    val sd = dims / m
    val centB = spark.sparkContext.broadcast(cents.map(_._2))
    e.as[(Long, Array[Double])].mapPartitions { rows =>
      val cb = centB.value
      rows.map { case (id, v) =>
        val codes = new Array[Int](m)
        var j = 0
        while (j < m) {
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < cb.length) {
            var d2 = 0.0
            var i = 0
            while (i < sd) {
              val diff = v(j * sd + i) - cb(c)(j * sd + i)
              d2 += diff * diff
              i += 1
            }
            if (d2 < bestD) { bestD = d2; best = c } // strict < keeps min cid on ties
            c += 1
          }
          codes(j) = best
          j += 1
        }
        (id, codes)
      }
    }.toDF("id", "codes")
  }

  /** Measured PQ recall: ADC (asymmetric distance computation) top-k
    * over the m-code representation versus the exact squared-L2 brute
    * top-k. The query keeps its float vector; each candidate costs m
    * table lookups into the query's per-subspace distance LUT instead
    * of a d-dim scan — the compute step of billion-scale ANN, with its
    * recall loss reported per query instead of asserted.
    *
    * Shape: the LUT table is |queries| · m · ks doubles on the
    * broadcast side (queries are a bounded probe set, like
    * [[bruteForceTopK]]); candidates carry only their m codes. The ADC
    * sum is a fixed left-to-right fold over the m lookups (codegen'd
    * column arithmetic, no HOF), so the double is reproducible by any
    * engine adding in the same order.
    */
  def pqRecallAtK(
      embeddings: DataFrame, m: Int = 4, ks: Int = 16, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val emb = cachedEmb(embeddings, idCol, vecCol)
    val codes = pqCodes(emb, m, ks, idCol, vecCol).toDF("cand_id", "codes")
    // ADC = lut[0*ks+code_0] + ... + lut[(m-1)*ks+code_{m-1}], fixed fold order
    val dist = (0 until m).map { j =>
      element_at(col("lut"), (lit(j * ks) + element_at(col("codes"), j + 1) + 1).cast("int"))
    }.reduce(_ + _)
    val adc = codes.crossJoin(broadcast(pqLuts(emb, m, ks, idCol, vecCol)))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("sim", -dist)
    val adcTop = topKPerQuery(adc, k).select(col("query_id"), col("cand_id"), lit(1).as("hit"))
    pqBruteRecall(emb, adcTop, k, idCol, vecCol)
  }

  /** Degree histogram of the SYMMETRIZED kNN graph built from an ANN
    * top-k result ((query_id, cand_id, …) rows): undirected edges =
    * query→cand ∪ cand→query deduplicated, degree per node, node count
    * per degree. The connectivity report a semantic-graph consumer
    * (label propagation, graph dedup, cluster prepass) reads before
    * trusting the graph: a degree histogram collapsed toward 0 means
    * the ANN index is missing edges; a fat tail means hub nodes that
    * will dominate propagation cost. Nodes with no edges at all are
    * absent (their count = corpus − Σ n_nodes).
    *
    * Cost beyond the ANN result itself: one distinct over ≤ 2·n·k
    * edge rows and two bounded aggregations — nothing touches vectors.
    */
  def knnDegreeHistogram(ann: DataFrame): DataFrame =
    ann.select(col("query_id").as("node"), col("cand_id").as("peer"))
      .unionByName(ann.select(col("cand_id").as("node"), col("query_id").as("peer")))
      .distinct()
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))

  /** kNN-graph TRIANGLE COUNT + local clustering coefficient — the
    * community-structure health check of the semantic neighbor graph
    * (a high coefficient means near-dup families and topical clusters;
    * a vanishing one means the ANN parameters produced a random-ish
    * graph). Node-iterator triangle enumeration (Suri &
    * Vassilvitskii, WWW 2011 shape): canonical `a < b` edges, wedges
    * joined per shared endpoint, closed by one more equi-join on the
    * (v, w) edge key. Per-node wedge fan-out is bounded by degree^2 <=
    * (2k)^2 — a constant per node at any corpus size, so the whole
    * report is three bounded equi-joins, never all-pairs.
    *
    * coefficient = 2*triangles / (degree * (degree - 1)), 0 when
    * degree < 2. Returns (node, degree, n_triangles, clustering_coeff).
    */
  def knnTriangles(ann: DataFrame): DataFrame = {
    val sym = ann.select(col("query_id").as("a"), col("cand_id").as("b"))
      .unionByName(ann.select(col("cand_id").as("a"), col("query_id").as("b")))
      .distinct()
    val und = sym.filter(col("a") < col("b"))
    val wedges = und.select(col("a").as("u"), col("b").as("v"))
      .join(und.select(col("a").as("u"), col("b").as("w")), "u")
      .filter(col("v") < col("w"))
    val tri = wedges.join(
      und.select(col("a").as("v"), col("b").as("w")), Seq("v", "w"))
    val perNode = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    val deg = sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("degree"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round(coalesce(col("n_tri"), lit(0L)) * lit(2.0) /
            (col("degree") * (col("degree") - 1)), 6))
          .otherwise(lit(0.0)).as("clustering_coeff"))
  }

  /** IVF-PQ recall — the composition every billion-scale index
    * actually ships (FAISS `IVFPQ`; Jégou et al. 2011 §V): coarse IVF
    * probing bounds WHICH candidates are scored, PQ/ADC bounds WHAT
    * scoring a candidate costs, and this reports what the two
    * approximations together give up versus the exact squared-L2
    * top-k, per query.
    *
    * Candidates = the `nprobe` nearest inverted lists per query
    * ([[ivfTopK]]'s probe join — shuffles on the list id, never
    * all-pairs); each candidate is scored by the m-lookup ADC fold of
    * [[pqRecallAtK]]. Same deterministic codebooks and tie rules, so
    * the DuckDB oracle reproduces every distance bit for bit.
    */
  def ivfPqRecallAtK(
      embeddings: DataFrame, nlist: Int, nprobe: Int,
      m: Int = 4, ks: Int = 16, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val emb = cachedEmb(embeddings, idCol, vecCol)
    val assign = ivfRanked(emb, nlist, 1, idCol, vecCol).toDF("cand_id", "list")
    val probes = ivfRanked(emb, nlist, nprobe, idCol, vecCol).toDF("query_id", "list")
    val cand = probes.join(assign, "list")
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"))
    val codes = pqCodes(emb, m, ks, idCol, vecCol).toDF("cand_id", "codes")
    val dist = (0 until m).map { j =>
      element_at(col("lut"), (lit(j * ks) + element_at(col("codes"), j + 1) + 1).cast("int"))
    }.reduce(_ + _)
    val adc = cand.join(codes, "cand_id")
      .join(pqLuts(emb, m, ks, idCol, vecCol), "query_id")
      .withColumn("sim", -dist)
    val adcTop = topKPerQuery(adc, k).select(col("query_id"), col("cand_id"), lit(1).as("hit"))
    pqBruteRecall(emb, adcTop, k, idCol, vecCol)
  }

  /** Per-query ADC lookup table against the [[pqCodes]] codebooks:
    * lut[j·ks + c] = ‖q_j − cent_{j,c}‖², dims folded in ascending
    * order. m·ks doubles per query — the broadcastable probe-side
    * state of a PQ search.
    */
  private def pqLuts(
      embeddings: DataFrame, m: Int, ks: Int,
      idCol: String, vecCol: String): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val cents = e.filter(col("id") < ks).as[(Long, Array[Double])].collect().sortBy(_._1)
    val dims = cents.head._2.length
    val sd = dims / m
    val centB = spark.sparkContext.broadcast(cents.map(_._2))
    e.as[(Long, Array[Double])].mapPartitions { rows =>
      val cb = centB.value
      rows.map { case (id, v) =>
        val lut = new Array[Double](m * cb.length)
        var j = 0
        while (j < m) {
          var c = 0
          while (c < cb.length) {
            var d2 = 0.0
            var i = 0
            while (i < sd) {
              val diff = v(j * sd + i) - cb(c)(j * sd + i)
              d2 += diff * diff
              i += 1
            }
            lut(j * cb.length + c) = d2
            c += 1
          }
          j += 1
        }
        (id, lut)
      }
    }.toDF("query_id", "lut")
  }

  /** Exact squared-L2 brute top-k joined against an approximate
    * (query_id, cand_id, hit) top-k: per-query n_hits + recall with
    * the per-query exact row count as denominator.
    */
  private def pqBruteRecall(
      embeddings: DataFrame, approxTop: DataFrame, k: Int,
      idCol: String, vecCol: String): DataFrame = {
    val e = embeddings.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val q = e.toDF("query_id", "qv"); val c = e.toDF("cand_id", "cv")
    val bruteD = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      // codegen'd ascending fold of (q_i - c_i)^2 — numerically
      // identical to the aggregate(zip_with(...)) HOF form it replaces
      .withColumn("sim", -graft.functions.SquaredL2Distance.sqL2(col("qv"), col("cv")))
    val brute = topKPerQuery(bruteD, k).select(col("query_id"), col("cand_id"))
    brute.join(approxTop, Seq("query_id", "cand_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("n_exact"))
      .withColumn("recall", round(col("n_hits") / col("n_exact"), 6))
      .drop("n_exact")
  }

  /** Vectors rounded through the int8 grid of [[quantizeInt8]] and
    * DEQUANTIZED back to doubles — `floor(x/scale + 0.5) * scale`,
    * all-zero vectors pass through as zeros. Narrow per-row transform;
    * the representable values are exactly what a quantized index
    * stores, so search over these measures the quantizer, not a
    * reimplementation of it.
    */
  def dequantizedInt8(
      embeddings: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    embeddings.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))) / 127.0)
      .select(col(idCol), transform(col("v"), x =>
        when(col("scale") === 0.0, lit(0.0))
          .otherwise(floor(x / col("scale") + lit(0.5)) * col("scale"))).as(vecCol))

  /** Measured recall cost of int8 scalar quantization: exact cosine
    * top-k over the DEQUANTIZED vectors (both query and candidate
    * sides quantized — the symmetric-search setting of a quantized
    * index) joined against the float-exact top-k, recall per query.
    * The int8 sibling of [[annRecallAtK]]: "int8 is nearly lossless
    * for cosine ranking" becomes a per-query measured number.
    */
  def quantizedRecallAtK(
      embeddings: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = cachedEmb(embeddings, idCol, vecCol)
    val deq = dequantizedInt8(e, idCol, vecCol)
    recallAgainstBrute(
      bruteForceTopK(deq, deq, k, idCol, vecCol), e, k, idCol, vecCol)
  }

  /** MATRYOSHKA truncation recall (Kusupati et al. 2022, MRL):
    * retrieval quality when only the FIRST `dims` components of every
    * vector are kept — the "can I store a quarter of the vector and
    * keep my recall" measurement that decides storage tier sizing.
    * Top-k over the truncated vectors (cosine renormalizes, so this is
    * genuine truncated-space retrieval) against the exact
    * full-dimension top-k; same broadcast scan-and-heap shape and
    * per-query denominator as [[quantizedRecallAtK]].
    */
  def truncatedRecallAtK(
      embeddings: DataFrame, dims: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    val e = cachedEmb(embeddings, idCol, vecCol)
    val trunc = e.select(col(idCol),
      slice(col(vecCol), 1, dims).as(vecCol))
    recallAgainstBrute(bruteForceTopK(trunc, trunc, k, idCol, vecCol),
      e, k, idCol, vecCol)
  }

  /** BINARY (1-bit) quantization recall — the most aggressive point
    * of the compression family (int8 [[quantizedRecallAtK]] is 4x,
    * Matryoshka [[truncatedRecallAtK]] is dimensional, PQ is
    * codebooked; sign bits are 32x): every component collapses to its
    * sign, and candidates rank by Hamming distance. Implemented as
    * cosine over ±1 vectors, which ranks IDENTICALLY to Hamming
    * (cos = (d − 2·hamming)/d, strictly decreasing in hamming) — so
    * the whole measured-recall machinery (broadcast scan-and-heap
    * top-k, per-query denominator, id tie-break) is reused unchanged
    * and the oracle replays it with `list_cosine_similarity`.
    * Symmetric search (both sides quantized), the
    * [[quantizedRecallAtK]] setting; zero components sign to −1 in
    * both engines (`x > 0` is false).
    */
  def binaryRecallAtK(
      embeddings: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = cachedEmb(embeddings, idCol, vecCol)
    val bin = e.select(col(idCol),
      transform(col(vecCol).cast("array<double>"), x =>
        when(x > 0, lit(1.0)).otherwise(lit(-1.0))).as(vecCol))
    recallAgainstBrute(bruteForceTopK(bin, bin, k, idCol, vecCol),
      e, k, idCol, vecCol)
  }

  /** PageRank over the symmetrized kNN graph (Page et al. 1999, "The
    * PageRank citation ranking") — centrality over the semantic
    * neighbor graph surfaces hub documents (dense near-dup regions,
    * boilerplate attractors) that degree alone under-ranks. Damping
    * 0.85, `iters` fixed power-iteration rounds.
    *
    * Each round is ONE join (ranks onto edge sources) + ONE shuffle
    * aggregation (contribution sum by destination) — the canonical
    * Pregel-as-join shape; nothing iterates on the driver, and the
    * per-round shuffle is keyed by node id exactly like a groupBy.
    * Nodes appear iff they touch an edge (symmetric edges mean every
    * node has in- AND out-degree >= 1, so no dangling mass); vectors
    * the LSH gave no candidate pair at all are not ranked.
    *
    * INTEGER arithmetic throughout: ranks live in units of 1e-12
    * (SCALE = 10^12), contributions and the damping update use
    * integral DIV, so every sum is order-free and the result is
    * bit-identical across partitionings and engines — no
    * float-summation-order wobble, the same determinism contract as
    * the HLL register sum. Mass leaks a few units per DIV (floor), so
    * ranks sum to slightly UNDER 10^12 — deterministic, documented.
    *
    * Returns (node, degree, rank_units, pr) — rank_units the exact
    * BIGINT, pr = rank_units/1e12 rounded to 9 for readability.
    */
  def knnPageRank(ann: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 8, s"iters must be in [1,8], got $iters")
    val edges = ann.select(col("query_id").as("src"), col("cand_id").as("dst"))
      .unionByName(ann.select(col("cand_id").as("src"), col("query_id").as("dst")))
      .distinct()
    val nodes = edges.select(col("src").as("node")).distinct()
    val n = nodes.count() // scalar aggregate (node count), not a row collect
    require(n > 0, "empty graph: ANN produced no candidate pairs")
    val Scale = 1000000000000L
    val base = Scale / n
    val tele = 15L * base / 100L
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    var rank = nodes.select(col("node"), lit(base).as("r"))
    for (_ <- 0 until iters) {
      val contrib = rank.join(outdeg, rank("node") === outdeg("src"))
        .select(col("node").as("csrc"), expr("r DIV deg").as("contrib"))
      val inSum = edges.join(contrib, edges("src") === col("csrc"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("s"))
      rank = nodes.join(inSum, nodes("node") === inSum("dst"), "left")
        .select(col("node"),
          (lit(tele) + expr("85 * coalesce(s, 0L) DIV 100")).as("r"))
    }
    rank.join(outdeg, rank("node") === outdeg("src"))
      .select(col("node"), col("deg").as("degree"), col("r").as("rank_units"),
        round(col("r") / lit(1.0e12), 9).as("pr"))
  }

  /** LABEL-PROPAGATION COMMUNITIES over the symmetrized kNN graph
    * (Raghavan, Albert & Kumara 2007, "Near linear time algorithm to
    * detect community structures in large-scale networks") — the
    * community layer between connected components (which only sees
    * edge existence, so one stray LSH edge fuses two topics) and
    * modularity methods (which don't map to bounded relational
    * rounds): every node starts as its own label and repeatedly
    * adopts the most frequent label among its neighbors, so dense
    * near-dup families and topical clusters converge to one label
    * while thin bridges between them don't carry the vote.
    *
    * DETERMINISTIC synchronous variant: all nodes update together for
    * exactly `iters` rounds (the classic algorithm's random visit
    * order and random tie-break are replaced by a fixed round count
    * and a ties-to-SMALLEST-label rule), so the result is a pure
    * function of the graph — bit-identical across partitionings and
    * engines, the same determinism contract as the integer PageRank.
    *
    * Each round is ONE equi-join (labels onto edge sources) + ONE
    * (dst, label) vote count + ONE per-node argmax aggregation —
    * `max(struct(votes, -label))`, no window. All shuffles are keyed
    * by node id; per-round data is edge-sized (≤ 2·n·k rows), so at
    * 100 TB this is `iters` Pregel-as-join rounds exactly like CC and
    * PageRank. The edge list is materialized once (`localCheckpoint`)
    * instead of letting Catalyst re-run the ANN candidate generation
    * in all `iters`+2 consumers. Symmetric edges mean every node has
    * in-degree ≥ 1, so every node is re-labeled every round (the
    * node's own current label does NOT vote — pure neighbor majority).
    *
    * Returns (node, community, comm_size): the node's label after
    * `iters` rounds and that label's population.
    */
  def knnLabelPropagation(
      ann: DataFrame, iters: Int = 4, reliable: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 8, s"iters must be in [1,8], got $iters")
    val edges = graft.model.Lineage.cutRetired(symmetrized(ann), reliable)
    boundedEdges(edges) match {
      case Some(arr) =>
        // HYBRID local rounds (see boundedEdges): labels and
        // community sizes computed on the collected array, identical to
        // the distributed rounds (A/B-pinned)
        val spark = ann.sparkSession
        import spark.implicits._
        val lab = lpaLocal(arr, iters)
        val sizes = new java.util.HashMap[Long, Long]()
        lab.forEach { (_, l) => sizes.merge(l, 1L, (a, b) => a + b) }
        val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        lab.forEach { (n, l) => rows += ((n, l, sizes.get(l))) }
        spark.createDataset(rows.toSeq).toDF("node", "community", "comm_size")
      case None =>
        val lab = lpaLabels(edges, iters)
        val sizes = lab.groupBy(col("lbl")).agg(count(lit(1)).as("comm_size"))
        lab.join(sizes, "lbl")
          .select(col("node"), col("lbl").as("community"), col("comm_size"))
    }
  }

  /** The symmetrized directed-edge table of an ANN top-k result —
    * the shared graph base of the kNN analytics family.
    */
  /** CONNECTED COMPONENTS of the kNN similarity graph — the coarsest
    * structure readout of the embedding space: an island disconnected
    * from the main component is an out-of-distribution pocket (or a
    * modality boundary) that no local metric (degree, triangles,
    * k-core) surfaces. component = min vec id reachable through kNN
    * edges, plus the component's size — the SAME star-contraction CC
    * the dedup families run ([[graft.text.TextOps.dedupClusters]]),
    * so the iterative cost is O(log n) rounds of edge contraction on
    * any graph shape.
    */
  def knnComponents(ann: DataFrame, reliable: Boolean = false): DataFrame = {
    val pairs = ann.select(col("query_id").as("id_a"), col("cand_id").as("id_b"))
    val nodes = ann.select(col("query_id").as("node"))
      .unionByName(ann.select(col("cand_id").as("node"))).distinct()
    val cc = graft.text.TextOps.dedupClusters(nodes, pairs, idCol = "node",
      reliable = reliable)
    val sizes = cc.groupBy(col("cluster_id")).agg(count(lit(1)).as("comp_size"))
    cc.join(sizes, "cluster_id")
      .select(col("node"), col("cluster_id").as("component"),
        col("comp_size").cast("long").as("comp_size"))
  }

  private def symmetrized(ann: DataFrame): DataFrame =
    ann.select(col("query_id").as("src"), col("cand_id").as("dst"))
      .unionByName(ann.select(col("cand_id").as("src"), col("query_id").as("dst")))
      .distinct()

  /** Collect a MATERIALIZED edge cut when it passes the
    * [[graft.model.BoundedLocal]] gate — the cut's counted rows decide,
    * with no job (the dedupClusters gate). None = stay distributed. The
    * iterative kNN-graph analytics (LPA, modularity, BFS, k-core peel)
    * then run their rounds on the collected array; results are pinned
    * identical to the distributed rounds by forced-bound A/B specs.
    */
  private def boundedEdges(edges: DataFrame): Option[Array[(Long, Long)]] = {
    val spark = edges.sparkSession
    import spark.implicits._
    // (src, dst): the encoder up-casts integral ids to long
    graft.model.BoundedLocal.collectIfFits(edges.as[(Long, Long)]).filter(_.nonEmpty)
  }

  /** Synchronous LPA on a collected edge array — the exact local
    * mirror of the [[lpaLabels]] rounds: per round every dst node's
    * new label is the argmax of its IN-neighbors' labels by
    * (vote count, then smallest label); a node's own label does not
    * vote. Symmetric edges mean every node appears as dst, so the
    * label map stays total.
    */
  private def lpaLocal(
      edges: Array[(Long, Long)], iters: Int): java.util.HashMap[Long, Long] = {
    val lab = new java.util.HashMap[Long, Long]()
    edges.foreach { case (s, _) => lab.put(s, s) }
    for (_ <- 0 until iters) {
      // votes: (dst, label of src) -> count
      val votes = new java.util.HashMap[Long, java.util.HashMap[Long, Long]]()
      edges.foreach { case (s, d) =>
        val l = lab.get(s)
        votes.computeIfAbsent(d, _ => new java.util.HashMap[Long, Long]())
          .merge(l, 1L, (a, b) => a + b)
      }
      val next = new java.util.HashMap[Long, Long]()
      votes.forEach { (d, m) =>
        var bestC = -1L; var bestL = Long.MaxValue
        m.forEach { (l, c) =>
          if (c > bestC || (c == bestC && l < bestL)) { bestC = c; bestL = l }
        }
        next.put(d, bestL)
      }
      lab.clear(); lab.putAll(next)
    }
    lab
  }

  /** The synchronous-LPA label table after `iters` rounds — shared by
    * [[knnLabelPropagation]] (which decorates it with community sizes)
    * and [[knnModularity]] (which scores it). `edges` must already be
    * lineage-cut: every round re-reads it.
    */
  private def lpaLabels(edges: DataFrame, iters: Int): DataFrame = {
    var lab = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (_ <- 0 until iters) {
      lab = edges.join(lab, edges("src") === lab("node"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("dst").as("node"), (-col("m.nl")).as("lbl"))
    }
    lab
  }

  /** NEWMAN MODULARITY of the synchronous-LPA labeling (Newman &
    * Girvan 2004, "Finding and evaluating community structure in
    * networks", Phys. Rev. E 69): the one-number quality score of the
    * community structure [[knnLabelPropagation]] finds —
    * `Q = Σ_c [ I_c/2m − (D_c/2m)² ]` with I_c the intra-community
    * DIRECTED edge count, D_c the community degree sum, and 2m the
    * directed edge count of the symmetrized graph. Q near 0 means the
    * labeling is no better than random wiring (LSH edges are noise);
    * Q ≳ 0.3 means the dedup/topic communities are structurally real
    * — the go/no-go readout before acting on graph communities.
    *
    * EXACT integer accounting end to end: `Q_micro =
    * round_half_away((Σ I_c·2m − Σ D_c²)·10⁶ / (2m)²)` computed in
    * decimal(38,0) on Spark and HUGEINT on DuckDB (the covariance
    * doctrine: the hash-checked face is integer-exact, the ONLY
    * double is the final exact Q_micro/1e6 division — never a
    * wide-integer→double cast).
    *
    * Cost beyond the LPA rounds: one degree aggregation, one
    * label-keyed degree sum, one two-sided label join counting
    * intra edges, three 1-row aggregates crossed into one output row.
    * Every shuffle is node- or label-keyed; nothing is corpus-wide.
    */
  def knnModularity(
      ann: DataFrame, iters: Int = 4, reliable: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 8, s"iters must be in [1,8], got $iters")
    val edges = graft.model.Lineage.cutRetired(symmetrized(ann), reliable)
    boundedEdges(edges) match {
      case Some(arr) =>
        // HYBRID local scoring (see boundedEdges): the LPA
        // rounds AND the degree/intra aggregates run on the collected
        // array; the exact integer accounting is mirrored in BigInt
        // (identical to decimal(38,0): both are arbitrary-precision,
        // both `div` truncate on the non-negative operands here, and
        // the final CAST-to-double is correctly rounded in both).
        val spark = ann.sparkSession
        import spark.implicits._
        val lab = lpaLocal(arr, iters)
        val m2v = arr.length.toLong
        val deg = new java.util.HashMap[Long, Long]()
        arr.foreach { case (s, _) => deg.merge(s, 1L, (a, b) => a + b) }
        val dcv = new java.util.HashMap[Long, Long]()
        deg.forEach { (n, d) => dcv.merge(lab.get(n), d, (a, b) => a + b) }
        var sdc2 = BigInt(0)
        var nComms = 0L
        dcv.forEach { (_, v) => sdc2 += BigInt(v) * BigInt(v); nComms += 1 }
        var intraL = 0L
        arr.foreach { case (s, d) =>
          if (lab.get(s) == lab.get(d)) intraL += 1 }
        val m2 = BigInt(m2v); val intra = BigInt(intraL)
        val q =
          if (intra * m2 - sdc2 < 0)
            -((BigInt(2) * (sdc2 - intra * m2) * 1000000 + m2 * m2) /
              (BigInt(2) * m2 * m2))
          else
            (BigInt(2) * (intra * m2 - sdc2) * 1000000 + m2 * m2) /
              (BigInt(2) * m2 * m2)
        return spark.createDataset(Seq((m2v, nComms, q.toDouble / 1000000.0)))
          .toDF("n_edges_sym", "n_comms", "modularity")
      case None => ()
    }
    val lab = graft.model.Lineage.cutRetired(lpaLabels(edges, iters), reliable)
    val dec = "decimal(38,0)"
    val m2 = edges.agg(count(lit(1)).cast(dec).as("m2"))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val dc = deg.join(lab, deg("src") === lab("node"))
      .groupBy(col("lbl")).agg(sum(col("d").cast(dec)).as("dcv"))
    val sd = dc.agg(sum(col("dcv") * col("dcv")).cast(dec).as("sdc2"),
      count(lit(1)).as("n_comms"))
    val intra = edges
      .join(lab.select(col("node").as("src"), col("lbl").as("la")), "src")
      .join(lab.select(col("node").as("dst"), col("lbl").as("lb")), "dst")
      .filter(col("la") === col("lb"))
      .agg(count(lit(1)).cast(dec).as("intra"))
    m2.crossJoin(sd).crossJoin(intra)
      .selectExpr(
        "CAST(m2 AS BIGINT) AS n_edges_sym",
        "CAST(n_comms AS BIGINT) AS n_comms",
        // integer-exact micro face, half-away-from-zero (see scaladoc)
        """CAST(CASE WHEN intra * m2 - sdc2 < 0
          |  THEN -((2 * (sdc2 - intra * m2) * 1000000 + m2 * m2) div (2 * (m2 * m2)))
          |  ELSE  ((2 * (intra * m2 - sdc2) * 1000000 + m2 * m2) div (2 * (m2 * m2))) END
          |AS DOUBLE) / 1000000.0 AS modularity""".stripMargin)
  }

  /** MULTI-SOURCE BFS DEPTH HISTOGRAM over the symmetrized kNN graph:
    * from a scale-invariant seed set (a salted-hash 1/16 fraction of
    * the nodes — the DocProbe idiom, so the seed FRACTION is constant
    * at any corpus size), expand `maxDepth` synchronous frontier
    * rounds and report how many nodes sit at each minimum hop
    * distance. The reachability readout of the graph family: how much
    * of the corpus a near-dup/topic seed set touches within d hops —
    * the blast-radius estimate before propagating a label, a quality
    * score, or a takedown through graph neighborhoods.
    *
    * Each round is ONE frontier-keyed equi-join + distinct + one
    * anti-join against the visited set (both node-keyed shuffles,
    * frontier-sized, never corpus-wide); the visited set is
    * lineage-cut per round like every iterative graph operator here,
    * and the round count is the bounded `maxDepth`, not a
    * convergence loop. Returns (dist, n_nodes), one row per reached
    * depth 0..maxDepth.
    */
  def knnBfsDepths(
      ann: DataFrame, maxDepth: Int = 4, reliable: Boolean = false): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 8,
      s"maxDepth must be in [1,8], got $maxDepth")
    val edges = graft.model.Lineage.cutRetired(symmetrized(ann), reliable)
    boundedEdges(edges) match {
      case Some(arr) =>
        // HYBRID local BFS (see boundedEdges): the seed
        // predicate is the same md5-prefix hash — java.security MD5 of
        // the decimal id string, first hex nibble 0 — so the seed set
        // is bit-identical to the distributed round's.
        val spark = ann.sparkSession
        import spark.implicits._
        val adj = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
        arr.foreach { case (s, d) =>
          adj.computeIfAbsent(s, _ => scala.collection.mutable.ArrayBuffer.empty[Long]) += d }
        val md = java.security.MessageDigest.getInstance("MD5")
        def seeded(n: Long): Boolean = {
          md.reset()
          val h = md.digest(n.toString.getBytes("UTF-8"))
          ((h(0) >> 4) & 0xF) == 0
        }
        val dist = new java.util.HashMap[Long, Long]()
        var frontier = scala.collection.mutable.ArrayBuffer.empty[Long]
        adj.forEach { (n, _) => if (seeded(n)) { dist.put(n, 0L); frontier += n } }
        for (d <- 1 to maxDepth) {
          val next = scala.collection.mutable.ArrayBuffer.empty[Long]
          frontier.foreach { n =>
            val out = adj.get(n)
            if (out != null) out.foreach { m =>
              if (!dist.containsKey(m)) { dist.put(m, d.toLong); next += m } }
          }
          frontier = next
        }
        val hist = new java.util.TreeMap[Long, Long]()
        dist.forEach { (_, dd) => hist.merge(dd, 1L, (a, b) => a + b) }
        val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        hist.forEach { (dd, c) => rows += ((dd, c)) }
        return spark.createDataset(rows.toSeq).toDF("dist", "n_nodes")
          .orderBy(col("dist"))
      case None => ()
    }
    val seeds = edges.select(col("src").as("node")).distinct()
      .filter(substring(md5(col("node").cast("string")), 1, 1) === "0")
    var visited = graft.model.Lineage.cut(
      seeds.select(col("node"), lit(0L).as("dist")), reliable)
    var frontier = visited.select(col("node"))
    var prevFrontierCut: Option[DataFrame] = None
    for (d <- 1 to maxDepth) {
      val nxt = graft.model.Lineage.cut(
        edges.join(frontier.select(col("node").as("src")), "src")
          .select(col("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti"), reliable)
      val grown = graft.model.Lineage.cut(
        visited.unionByName(nxt.select(col("node"), lit(d.toLong).as("dist"))),
        reliable)
      // this round's two eager cuts were the last readers of the
      // previous round's visited/frontier blocks — free them now
      // rather than letting O(depth) of executor storage accrete
      // (the dedupClusters release pattern)
      graft.model.Lineage.release(visited)
      prevFrontierCut.foreach(graft.model.Lineage.release)
      visited = grown
      frontier = nxt
      prevFrontierCut = Some(nxt)
    }
    // the loop's SURVIVING cuts (final visited, last frontier) are
    // internal: dead once the rollup below has executed
    graft.model.Lineage.retire(visited)
    prevFrontierCut.foreach(graft.model.Lineage.retire)
    visited.groupBy(col("dist")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("dist"))
  }

  /** DEGREE ASSORTATIVITY of the symmetrized kNN graph (Newman 2002,
    * "Assortative mixing in networks", Phys. Rev. Lett. 89): the
    * Pearson correlation of the degrees at the two ends of every
    * directed edge — positive when hubs link to hubs (a rich-club of
    * boilerplate/near-dup attractors), negative when hubs link to
    * leaves (star-like neighborhoods around template documents). The
    * one-number structural summary read next to the degree histogram
    * and clustering coefficient before trusting graph-based dedup.
    *
    * EXACT integer accounting: degrees are counts and every Pearson
    * term (n, Σx, Σxy, Σx², …) is a sum of integer products,
    * accumulated in decimal(38,0) (order-free, overflow-safe at any
    * corpus size — DuckDB mirrors with HUGEINT-backed sums), so both
    * engines reach the identical exact terms and apply one identical
    * double division at the edge. Undirected symmetry makes Σx = Σy,
    * but both are computed — the general form stays correct if the
    * edge table ever loses symmetry.
    *
    * Cost: the degree aggregation + two node-keyed joins + one global
    * aggregate. Returns one row (n_edges, assortativity); NULL when
    * every node has the same degree (zero variance).
    */
  def knnAssortativity(ann: DataFrame): DataFrame = {
    val sym = ann.select(col("query_id").as("src"), col("cand_id").as("dst"))
      .unionByName(ann.select(col("cand_id").as("src"), col("query_id").as("dst")))
      .distinct()
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val dec = "decimal(38,0)"
    val terms = sym
      .join(deg.select(col("src"), col("d").as("x")), "src")
      .join(deg.select(col("src").as("dst"), col("d").as("y")), "dst")
      // cast BEFORE multiplying: a hub's in-degree is unbounded, and a
      // long*long product past 2^63 would wrap silently — decimal
      // products can't (the oracle casts to HUGEINT the same way)
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"),
        sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
        sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"))
    // Pearson terms combine in DOUBLE over the exact decimal sums
    // (a decimal product n*Σxy can exceed 38 digits at extreme scale
    // and would null out; double combination is deterministic — both
    // engines round the same exact integers the same IEEE way)
    val nD = col("n").cast("double"); val sxD = col("sx").cast("double")
    val syD = col("sy").cast("double"); val sxyD = col("sxy").cast("double")
    val sxxD = col("sxx").cast("double"); val syyD = col("syy").cast("double")
    terms.select(col("n").cast("long").as("n_edges"),
        (nD * sxyD - sxD * syD).as("num"),
        (nD * sxxD - sxD * sxD).as("da"),
        (nD * syyD - syD * syD).as("db"))
      .select(col("n_edges"),
        when(col("da") === 0.0 || col("db") === 0.0, lit(null).cast("double"))
          .otherwise(round(col("num") / sqrt(col("da") * col("db")), 6))
          .as("assortativity"))
  }

  /** GLOBAL TRANSITIVITY of the symmetrized kNN graph (Newman 2003,
    * "The structure and function of complex networks", eq. 3.3):
    * 3·triangles / wedges — the one-row corpus-level closure summary
    * next to [[knnTriangles]]' per-node view, and the single number
    * that separates "clustered near-dup families" from "random-ish
    * ANN noise" before trusting downstream graph cuts. Both factors
    * are exact integers: the triangle count comes from the SAME
    * canonical wedge join as [[knnTriangles]]; the wedge count
    * Σ d·(d−1)/2 accumulates in decimal(38,0) (hub-degree squares can
    * pass 2^63 — the [[knnAssortativity]] overflow rule). One double
    * division at the edge.
    */
  def knnTransitivity(ann: DataFrame): DataFrame = {
    val sym = ann.select(col("query_id").as("a"), col("cand_id").as("b"))
      .unionByName(ann.select(col("cand_id").as("a"), col("query_id").as("b")))
      .distinct()
    val dec = "decimal(38,0)"
    // Σ d·(d−1) stays integer-exact in decimal; it is even term-wise,
    // so the halving below is exact too
    val wedges = sym.groupBy(col("a")).agg(count(lit(1)).as("d"))
      .agg(sum(col("d").cast(dec) * (col("d").cast(dec) - 1))
        .cast(dec).as("wedge2"))
    val und = sym.filter(col("a") < col("b"))
    val nTri = und.select(col("a").as("u"), col("b").as("v"))
      .join(und.select(col("a").as("u"), col("b").as("w")), "u")
      .filter(col("v") < col("w"))
      .join(und.select(col("a").as("v"), col("b").as("w")), Seq("v", "w"))
      .agg(count(lit(1)).as("n_triangles"))
    // two one-row aggregates — the only sanctioned crossJoin shape
    nTri.crossJoin(wedges)
      .select(col("n_triangles"),
        // wedge2 is even, so the decimal halving is exact (a double
        // route would hit the Spark-truncates / DuckDB-rounds cast
        // divergence past 2^53)
        (col("wedge2") / 2).cast("decimal(38,0)").cast("long").as("n_wedges"),
        when(col("wedge2") === 0, lit(null).cast("double"))
          .otherwise(round(
            col("n_triangles") * lit(6.0) / col("wedge2").cast("double"), 6))
          .as("transitivity"))
  }

  /** LINK PREDICTION over the symmetrized kNN graph: common-neighbor
    * counts and Adamic–Adar scores (Adamic & Adar 2003, "Friends and
    * neighbors on the Web") for the top-K non-adjacent pairs — the
    * "edges the ANN index probably MISSED" report: two documents that
    * share many neighbors are near-dup/same-topic candidates even
    * though no LSH bucket ever paired them, so this is the recall
    * patch a dedup pass runs after banding.
    *
    * One wedge self-join on the shared neighbor builds all distance-2
    * pairs (a < b canonical), one LEFT ANTI drops already-adjacent
    * pairs, one aggregation scores: cn = |Γ(a)∩Γ(b)|,
    * aa = Σ_z 1/ln(deg z). A common neighbor has degree ≥ 2 by
    * definition, so ln(deg z) is never 0. The AA terms are INTEGER
    * nano-units (`round(1e9 / ln d)`) so the sum is order-free and
    * bit-identical across partitionings and engines — the PageRank
    * integer contract; the double face is one division at the edge.
    * Top-K by the total order (cn DESC, aa_units DESC, a, b) via
    * ordered limit (TakeOrdered — K driver rows, no full sort).
    *
    * Scale shape: wedges are degree-bounded (Σ deg² — k-bounded per
    * node on an ANN graph), the anti-join is edge-keyed, and nothing
    * is corpus-quadratic.
    */
  def knnLinkPrediction(ann: DataFrame, topK: Int = 50): DataFrame = {
    require(topK >= 1 && topK <= 10000, s"topK must be in [1,10000], got $topK")
    val sym = ann.select(col("query_id").as("src"), col("cand_id").as("dst"))
      .unionByName(ann.select(col("cand_id").as("src"), col("query_id").as("dst")))
      .distinct()
    val deg = sym.groupBy(col("src").as("z")).agg(count(lit(1)).as("d"))
    val wedges = sym.select(col("src").as("z"), col("dst").as("a"))
      .join(sym.select(col("src").as("z"), col("dst").as("b")), "z")
      .filter(col("a") < col("b"))
    val und = sym.filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
    wedges
      .join(und, Seq("a", "b"), "left_anti")
      .join(deg, "z")
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(round(lit(1e9) / log(col("d").cast("double"))).cast("long"))
          .as("aa_units"))
      .orderBy(col("common_neighbors").desc, col("aa_units").desc,
        col("a"), col("b"))
      .limit(topK)
      .select(col("a"), col("b"), col("common_neighbors"),
        round(col("aa_units") / lit(1e9), 6).as("aa_score"))
  }

  /** k-CORE PEEL of the symmetrized kNN graph (Seidman 1983, "Network
    * structure and minimum degree"; distributed peeling as in
    * Montresor et al. 2013) — the density layer of the graph family:
    * degree sees a node, triangles see its closure, the k-core sees
    * whether it sits in a region that STAYS dense after the thin
    * periphery is stripped. On a near-dup/semantic graph the k-core
    * isolates the heavy duplication families that survive any
    * single-node removal — the structures worth human review before
    * a dedup cut.
    *
    * Iterative peel, `rounds` FIXED synchronous rounds (not
    * peel-to-fixpoint: a fixed round count makes the result a pure
    * function of the graph that an unrolled relational oracle can
    * replay stage for stage; the kNN graph's peel cascade converges
    * in a handful of rounds — O(peel depth), not O(n) — and a
    * converged peel is invariant under extra rounds). Per round: keep
    * edges with BOTH endpoints surviving (two node-keyed equi-joins),
    * count degrees (one aggregation), drop nodes below `k`
    * (node-keyed left-anti). Everything is edge- or node-sized and
    * keyed by node id — the CC/PageRank Pregel-as-join shape; rounds
    * are `localCheckpoint`ed like the CC rounds so lineage stays flat.
    *
    * Returns (node, removed_round): the 1-based round that peeled the
    * node, or 0 for nodes still in the core after `rounds` rounds. A
    * node with no surviving edge has degree 0 and is peeled (k >= 1).
    */
  def knnKCore(
      ann: DataFrame, k: Int, rounds: Int = 6,
      reliable: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 12, s"rounds must be in [1,12], got $rounds")
    val edges = graft.model.Lineage.cutRetired(
      ann.select(col("query_id").as("src"), col("cand_id").as("dst"))
        .unionByName(ann.select(col("cand_id").as("src"), col("query_id").as("dst")))
        .distinct(), reliable)
    boundedEdges(edges) match {
      case Some(arr) =>
        // HYBRID local peel (see boundedEdges): the same
        // bounded `rounds` of degree-filter-drop over the collected
        // array — a survivor with no surviving edge has degree 0 and
        // drops that round, exactly like the distributed anti-join.
        val spark = ann.sparkSession
        import spark.implicits._
        val survSet = new java.util.HashSet[Long]()
        arr.foreach { case (s, _) => survSet.add(s) }
        val removedR = new java.util.HashMap[Long, Long]()
        for (r <- 1 to rounds) {
          val deg = new java.util.HashMap[Long, Long]()
          arr.foreach { case (s, d) =>
            if (survSet.contains(s) && survSet.contains(d))
              deg.merge(s, 1L, (a, b) => a + b) }
          val dropped = scala.collection.mutable.ArrayBuffer.empty[Long]
          survSet.forEach { n => if (deg.getOrDefault(n, 0L) < k) dropped += n }
          dropped.foreach { n => survSet.remove(n); removedR.put(n, r.toLong) }
        }
        val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        val nodeSet = new java.util.HashSet[Long]()
        arr.foreach { case (s, _) => nodeSet.add(s) }
        nodeSet.forEach { n => rows += ((n, removedR.getOrDefault(n, 0L))) }
        return spark.createDataset(rows.toSeq).toDF("node", "removed_round")
      case None => ()
    }
    val all = graft.model.Lineage.cutRetired(
      edges.select(col("src").as("node")).distinct(), reliable)
    var surv = all
    var removed: Option[DataFrame] = None
    for (r <- 1 to rounds) {
      val deg = edges
        .join(surv.select(col("node").as("src")), "src")
        .join(surv.select(col("node").as("dst")), "dst")
        .groupBy(col("src")).agg(count(lit(1)).as("c"))
      val next = graft.model.Lineage.cutRetired(
        deg.filter(col("c") >= k).select(col("src").as("node")), reliable)
      val dropped = surv.join(next, Seq("node"), "left_anti")
        .select(col("node"), lit(r.toLong).as("removed_round"))
      removed = Some(removed.fold(dropped)(_.unionByName(dropped)))
      surv = next
    }
    all.join(removed.get, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("removed_round"), lit(0L)).as("removed_round"))
  }
}
