package graft.io

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** PERSISTED MERGEABLE-SKETCH STORE — HyperLogLog register tables as a
  * warehouse artifact, the third member of the incremental-index
  * family ([[DedupIndexIO]], [[AnnIndexIO]]): a 100 TB pipeline
  * computes per-shard cardinality registers ONCE as shards land and
  * answers "how many distinct n-grams does each source have now"
  * from sources × 256 stored rows, never re-scanning history.
  *
  * Layout (parquet + sidecar):
  *   <path>/registers/    (source, idx, m_reg) — one row set per
  *                        ingest, NOT pre-merged
  *   <path>/sketch.json   {"format": 1, "p": 8, "ngram": n}
  *
  * The sketch's algebra is what makes the store append-only: HLL
  * registers merge by ELEMENTWISE MAX, which is associative,
  * commutative, and idempotent — so appends just add rows and every
  * read folds `max(m_reg)` over whatever is there. Consequences the
  * other two stores had to engineer around come free here: a torn
  * append leaves a subset of an increment's rows, and RE-RUNNING THE
  * SAME APPEND heals it exactly (idempotence); append order never
  * matters; there is no cross-file ordering contract at all. The
  * sidecar (written LAST on create, the family's torn-write contract)
  * pins the n-gram size and register precision so an increment can
  * never be sketched with different parameters than the history it
  * merges into — the analog of AnnIndexIO's nlist pin.
  *
  * Estimates from the store are BIT-IDENTICAL to running
  * [[TextOps.hllShingleRegisters]] + [[TextOps.hllEstimate]] over the
  * union corpus in one pass (SketchIOSpec pins it): max-merge loses
  * nothing, by construction.
  */
object SketchIO {

  /** Create the store from an initial corpus shard; sidecar last. */
  def writeSketch(
      docs: DataFrame, path: String, n: Int = 3,
      srcCol: String = "source", textCol: String = "text"): Unit = {
    require(n >= 1 && n <= 16, s"ngram must be in [1,16], got $n")
    TextOps.hllShingleRegisters(docs, n, srcCol, textCol)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/registers")
    Files.createDirectories(Paths.get(path))
    Sidecars.writeAtomic(Paths.get(s"$path/sketch.json"),
      s"""{"format": 1, "p": 8, "ngram": $n}""")
  }

  /** Sketch a new shard under the STORE's parameters and append its
    * register rows. Idempotently retryable: appending the same shard
    * twice (or re-running a torn append) cannot change any estimate —
    * the read-side max-merge absorbs duplicates exactly.
    */
  def appendToSketch(
      docs: DataFrame, path: String,
      srcCol: String = "source", textCol: String = "text"): Unit = {
    val n = storedNgram(path)
    TextOps.hllShingleRegisters(docs, n, srcCol, textCol)
      .write.mode(SaveMode.Append).parquet(s"$path/registers")
  }

  /** Validated sidecar read → the pinned n-gram size. */
  def storedNgram(path: String): Int = {
    val p = Paths.get(s"$path/sketch.json")
    val f = Sidecars.readInts(p, "sketch", "p", "ngram")
    require(f("p") == 8,
      s"unsupported register precision ${f("p")} in $p (this reader understands p = 8)")
    f("ngram")
  }

  /** The merged register table: `max(m_reg)` over every stored row —
    * sources × 256 rows out, no matter how many appends are in.
    */
  def mergedRegisters(spark: SparkSession, path: String): DataFrame = {
    storedNgram(path) // sidecar validation gates every read
    spark.read.parquet(s"$path/registers")
      .groupBy(col("source"), col("idx"))
      .agg(max(col("m_reg")).as("m_reg"))
  }

  /** Per-source distinct-n-gram estimate from the store. */
  def estimateFromStore(spark: SparkSession, path: String): DataFrame =
    TextOps.hllEstimate(mergedRegisters(spark, path))
      .select(col("source"), round(col("est"), 4).as("hll_est"))
}
