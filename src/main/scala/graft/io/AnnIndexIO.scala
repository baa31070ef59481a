package graft.io

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.vector.VectorOps

/** PERSISTED IVF ANN index — the vector twin of [[DedupIndexIO]]: a
  * production similarity-search pipeline builds the inverted-file
  * index ONCE over the corpus and then serves every query batch with
  * O(probed lists) work, never re-clustering 100 TB of embeddings per
  * search. [[graft.vector.VectorOps.ivfTopK]] shows the operator
  * shape but recomputes assignments per call; this is the stored
  * form.
  *
  * Layout (all parquet, linear in the corpus):
  *   <path>/vectors/        (id, v)    — the rerank payload
  *   <path>/assign/         (id, list) — the inverted-file assignment
  *   <path>/ann_index.json  {"format": 1, "nlist": N, "dims": D}
  *
  * The coarse quantizer is the engine's deterministic contract — the
  * centroids ARE the stored vectors with id < nlist — so a reader
  * reconstructs the exact quantizer from the index alone, and the
  * sidecar (written LAST, the torn-write contract shared with
  * [[TokenizerIO]]/[[DedupIndexIO]]) pins `nlist` so a probe can never
  * quantize against different centroids than the assignments were
  * built with. Appends must therefore not introduce ids below
  * `nlist` (enforced loudly), or they would silently redefine the
  * quantizer.
  */
object AnnIndexIO {

  def writeIndex(
      embeddings: DataFrame, path: String, nlist: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    val e = embeddings.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val dims = e.select(size(col("v"))).head().getInt(0)
    e.write.mode(SaveMode.Overwrite).parquet(s"$path/vectors")
    VectorOps.ivfRankedWithRank(e, nlist, 1, "id", "v").drop("r")
      .toDF("id", "list")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/assign")
    Files.createDirectories(Paths.get(path))
    Sidecars.writeAtomic(Paths.get(s"$path/ann_index.json"),
      s"""{"format": 1, "nlist": $nlist, "dims": $dims}""")
  }

  /** Roll the index forward with a new embedding shard: assignments
    * are computed under the SIDEcar's nlist against the ORIGINAL
    * stored centroids (ids < nlist), then vectors and assignments
    * append — vectors first, so a torn append leaves only rows no
    * assignment points at (unreachable, harmlessly re-appendable),
    * never assignments whose rerank payload is missing.
    */
  def appendToIndex(
      embeddings: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val (nlist, _) = storedParams(path)
    val e = embeddings.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val low = e.filter(col("id") < nlist).count()
    require(low == 0,
      s"append contains $low ids below nlist=$nlist — appending them " +
        "would redefine the stored quantizer's centroids")
    val spark = embeddings.sparkSession
    val cents = spark.read.parquet(s"$path/vectors")
      .filter(col("id") < nlist)
    val assign = ivfAssignAgainst(e, cents, nlist, 1).toDF("id", "list")
    e.write.mode(SaveMode.Append).parquet(s"$path/vectors")
    assign.write.mode(SaveMode.Append).parquet(s"$path/assign")
  }

  /** Validated sidecar read → (nlist, dims). */
  def storedParams(path: String): (Int, Int) = {
    val f = Sidecars.readInts(Paths.get(s"$path/ann_index.json"), "ann-index", "nlist", "dims")
    (f("nlist"), f("dims"))
  }

  /** The stored quantizer as a driver array (id-sorted, nlist-bounded
    * by the sidecar contract — the same bounded collect every probe
    * performs). Shared with the streaming probe twin, which needs the
    * centroids broadcast into a row-local kernel.
    */
  private[graft] def storedCentroids(
      spark: SparkSession, path: String): Array[(Long, Array[Double])] = {
    import spark.implicits._
    val (nlist, _) = storedParams(path)
    val cents = spark.read.parquet(s"$path/vectors")
      .filter(col("id") < nlist)
      .select(col("id"), col("v"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    require(cents.length == nlist,
      s"stored index has ${cents.length} centroid rows, sidecar says $nlist")
    cents
  }

  /** Rank `queries` against an explicit centroid table (id, v): the
    * same argmax-cosine / ties-to-smaller-centroid kernel as the
    * in-memory quantizer, with the centroids read from storage.
    */
  private def ivfAssignAgainst(
      queries: DataFrame, centroids: DataFrame, nlist: Int,
      limit: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cents = centroids.select(col("id"), col("v"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    require(cents.length == nlist,
      s"stored index has ${cents.length} centroid rows, sidecar says $nlist")
    val centB = spark.sparkContext.broadcast(cents)
    queries.select(col("id"), col("v")).as[(Long, Array[Double])]
      .mapPartitions { rows =>
        val cs = centB.value
        rows.flatMap { case (id, v) =>
          var nv = 0.0
          var d = 0
          while (d < v.length) { nv += v(d) * v(d); d += 1 }
          val normV = math.sqrt(nv)
          val sims = cs.map { case (cid, cv) =>
            var dot = 0.0; var nc = 0.0
            var i = 0
            val n = math.min(v.length, cv.length)
            while (i < n) { dot += v(i) * cv(i); nc += cv(i) * cv(i); i += 1 }
            (cid, dot / (normV * math.sqrt(nc)))
          }
          sims.sortBy { case (cid, s) => (-s, cid) }.take(limit)
            .map { case (cid, _) => (id, cid) }
        }
      }.toDF("id", "list")
  }

  /** Probe the stored index with a query batch: queries quantize
    * against the STORED centroids (nprobe lists each), candidates come
    * from the stored inverted file by list equi-join, and the rerank
    * reads the stored vector payload — O(queries · nprobe · list size)
    * work against an index of any size. Returns (query_id, cand_id,
    * sim) top-k per query, identical to
    * [[graft.vector.VectorOps.ivfTopK]] run fresh over the same cohort
    * (AnnIndexIOSpec pins the equality).
    */
  def probeIndex(
      spark: SparkSession, path: String, queries: DataFrame,
      nprobe: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (nlist, _) = storedParams(path)
    val stored = spark.read.parquet(s"$path/vectors")
    val assign = spark.read.parquet(s"$path/assign").toDF("cand_id", "list")
    val q = queries.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val probes = ivfAssignAgainst(q, stored.filter(col("id") < nlist),
      nlist, nprobe).toDF("query_id", "list")
    val cand = probes.join(assign, "list")
      .filter(col("query_id") =!= col("cand_id"))
    val rer = cand
      .join(q.toDF("query_id", "qv"), "query_id")
      .join(stored.toDF("cand_id", "cv"), "cand_id")
      .withColumn("sim", VectorOps.cosine(col("qv"), col("cv")))
    VectorOps.topKPerQuery(rer, k).drop("rank")
  }
}
