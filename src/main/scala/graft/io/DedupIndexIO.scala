package graft.io

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** PERSISTED near-dup index — the state of an INCREMENTAL dedup
  * pipeline. [[TextOps.incrementalLshPairs]] shows the probe shape but
  * recomputes the base corpus per call; a production ingest computes
  * the corpus index ONCE, persists it, and each arriving shard probes
  * and then JOINS the index — O(shard) work per ingest against 100 TB
  * of history, never a re-pairing of the history with itself.
  *
  * Layout (both tables id-keyed parquet, linear in the corpus):
  *   <path>/buckets/        (id, bucket)  — the LSH banding index
  *   <path>/tokens/         (id, w)       — the exact-verify payload
  *   <path>/dedup_index.json  {"format": 1, "num_hashes": H, "bands": B}
  *
  * A probe folds `tokens/` into per-document sorted token sets as it
  * reads it ([[TextOps.foldTokenSets]]: an id appended twice gets the
  * union of its rows), the form verification intersects; the stored
  * layout stays (id, w) rows, format 1.
  *
  * The buckets come from [[TextOps.rowLocalBandBuckets]], the one
  * MinHash kernel that batch dedup, the in-memory incremental probe
  * and the streaming probe also use, so every route bands documents
  * into the same LSH space.
  *
  * Storing the token table keeps the family's central guarantee —
  * probe results are EXACT-verified Jaccard pairs, a subset of the
  * exact join — rather than signature estimates. The sidecar pins the
  * banding parameters; readers take them FROM the sidecar, so a probe
  * can never silently band a shard differently than the index it
  * probes (sidecar written LAST — a torn write stays detectable, the
  * [[TokenizerIO]] contract).
  */
object DedupIndexIO {

  def writeIndex(
      docs: DataFrame, path: String, numHashes: Int, bands: Int,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    TextOps.rowLocalBandBuckets(docs, numHashes, bands, idCol, textCol)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/buckets")
    TextOps.tokenTable(docs, idCol, textCol)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/tokens")
    Files.createDirectories(Paths.get(path))
    Sidecars.writeAtomic(Paths.get(s"$path/dedup_index.json"),
      s"""{"format": 1, "num_hashes": $numHashes, "bands": $bands}""")
  }

  /** Roll the index forward: append a shard's buckets and tokens under
    * the SIDEcar's banding parameters. Append-only parquet writes —
    * the ingest transaction is the caller's (run [[probeIndex]] on the
    * shard BEFORE appending it, or its rows pair with themselves).
    *
    * TORN-APPEND ORDER: tokens are appended BEFORE buckets. A crash
    * between the two writes then leaves token rows no bucket points at
    * — dead weight, harmlessly re-appendable — never bucket rows whose
    * ids have no token payload, which would make later [[probeIndex]]
    * candidates against those ids silently vanish at the exact-verify
    * inner join (false-negative dup pairs). The buckets write is the
    * commit point, mirroring writeIndex's sidecar-last contract.
    */
  def appendToIndex(
      docs: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val (numHashes, bands) = storedParams(path)
    TextOps.tokenTable(docs, idCol, textCol)
      .write.mode(SaveMode.Append).parquet(s"$path/tokens")
    TextOps.rowLocalBandBuckets(docs, numHashes, bands, idCol, textCol)
      .write.mode(SaveMode.Append).parquet(s"$path/buckets")
  }

  /** Validated sidecar read → (numHashes, bands). */
  def storedParams(path: String): (Int, Int) = {
    val f = Sidecars.readInts(Paths.get(s"$path/dedup_index.json"), "dedup-index", "num_hashes", "bands")
    (f("num_hashes"), f("bands"))
  }

  /** Probe the stored index with an arriving shard: the shard's band
    * buckets (computed under the SIDEcar's parameters) cross-probe the
    * stored buckets and the candidates exact-verify against the shard's
    * token sets and the stored tokens folded to sets
    * ([[TextOps.probeBuckets]]). Returns (id_a = shard
    * doc, id_b = indexed doc, jaccard) — exactly
    * [[TextOps.incrementalLshPairs]]' output with the base side read
    * instead of recomputed, under the same caller contract: shard ids
    * are disjoint from indexed ids (not checked; an equal-id pair is
    * silently dropped).
    */
  def probeIndex(
      spark: SparkSession, path: String, incoming: DataFrame,
      threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val (numHashes, bands) = storedParams(path)
    TextOps.probeBuckets(
      TextOps.rowLocalBandBuckets(incoming, numHashes, bands, idCol, textCol),
      spark.read.parquet(s"$path/buckets"),
      TextOps.tokenSets(incoming, idCol, textCol),
      TextOps.foldTokenSets(spark.read.parquet(s"$path/tokens")), threshold)
  }
}
