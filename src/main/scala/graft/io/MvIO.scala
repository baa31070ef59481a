package graft.io

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.rel.RelOps

/** PERSISTED MATERIALIZED-AGGREGATE STATE — the warehouse artifact
  * behind incremental MV refresh, fourth member of the incremental
  * store family ([[DedupIndexIO]], [[AnnIndexIO]], [[SketchIO]]): the
  * per-key distributive state (count, sum, min, max) lives as a
  * versioned parquet table, and each arriving delta shard is folded
  * in by [[RelOps.mergeDistributiveAgg]] — a delta scan plus an
  * aggregate-sized join, never a base rescan. At 100 TB the state is
  * keys-sized (tiny against the fact), so refresh cost is the delta.
  *
  * Unlike the sketch store, the MV algebra is NOT idempotent (counts
  * and sums ADD — a replayed delta would double-count), so this store
  * supplies the missing guarantee itself with the classic
  * transactional-sink idiom: versioned state directories plus a
  * commit marker carrying the producing BATCH ID.
  *
  * Layout:
  *   <path>/mv.json            {"format":1,"keys":"a,b","value":"v"}
  *                             (written LAST on create — the family's
  *                             torn-write contract)
  *   <path>/v<k>/state/        the merged per-key state parquet
  *   <path>/v<k>/commit.json   {"batch_id": B} — written AFTER the
  *                             state; a version without it is
  *                             invisible (a torn applyDelta leaves no
  *                             observable trace and the replay heals)
  *
  * [[applyDelta]] refuses batch ids at or below the last committed
  * one, so Structured Streaming's AT-LEAST-ONCE `foreachBatch`
  * replay (same batch id on restart) becomes EXACTLY-ONCE effect —
  * the bookkeeping the sketch store's max-merge made unnecessary is
  * exactly what the additive MV algebra requires.
  */
object MvIO {

  private def sidecar(path: String) = Paths.get(s"$path/mv.json")

  /** Create the store from the initial shard's rows; sidecar last. */
  def createMv(
      rows: DataFrame, path: String, keys: Seq[String],
      valueCol: String): Unit = {
    require(keys.nonEmpty, "MV needs at least one key column")
    Files.createDirectories(Paths.get(path))
    RelOps.distributiveAgg(rows, keys, valueCol)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/v0/state")
    Sidecars.writeAtomic(Paths.get(s"$path/v0/commit.json"),
      """{"batch_id": -1}""")
    Sidecars.writeAtomic(sidecar(path),
      s"""{"format": 1, "keys": "${keys.mkString(",")}", "value": "$valueCol"}""")
  }

  /** Validated sidecar read → (keys, valueCol). */
  def storedSchema(path: String): (Seq[String], String) = {
    val p = sidecar(path)
    require(Files.exists(p),
      s"missing mv sidecar $p — not an MV store (or an interrupted createMv)")
    val s = Files.readString(p)
    def field(k: String): Option[String] =
      (s""""$k"\\s*:\\s*"([^"]*)"""").r.findFirstMatchIn(s).map(_.group(1))
    require(
      (s""""format"\\s*:\\s*1""").r.findFirstIn(s).isDefined,
      s"unsupported mv format in $p (this reader understands format 1)")
    val keys = field("keys")
    val value = field("value")
    require(keys.exists(_.nonEmpty) && value.isDefined,
      s"mv sidecar $p lacks keys/value")
    (keys.get.split(",").toSeq, value.get)
  }

  /** Latest COMMITTED version and its producing batch id. A state dir
    * without a commit marker (torn applyDelta) is never returned; an
    * EMPTY or clearly-truncated marker (a legacy torn write, predating
    * [[Sidecars.writeAtomic]]) is treated as UNCOMMITTED rather than wedging
    * the store — the replay heals it. But a marker that parses as a
    * complete JSON object yet carries no batch_id is NOT healed: that
    * is a future format this reader does not understand (commit.json
    * has no format field of its own), and silently demoting it would
    * roll the store back to an older version instead of failing loud.
    */
  def latestCommitted(path: String): (Int, Long) = {
    storedSchema(path) // sidecar validation gates every read
    val root = new java.io.File(path)
    def batchOf(k: Int): Option[Long] = {
      val p = Paths.get(s"$path/v$k/commit.json")
      if (!Files.exists(p)) None
      else {
        val s = Files.readString(p)
        val parsed = """"batch_id"\s*:\s*(-?\d+)""".r
          .findFirstMatchIn(s).map(_.group(1).toLong)
        val completeJson = s.trim.startsWith("{") && s.trim.endsWith("}")
        require(parsed.isDefined || !completeJson,
          s"mv commit marker $p is complete JSON but carries no batch_id — " +
            "unrecognized marker format; refusing to silently roll back")
        parsed
      }
    }
    val versions = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(_.getName.drop(1).toInt)
      .flatMap(k => batchOf(k).map(k -> _))
    require(versions.nonEmpty, s"mv store $path has no committed version")
    versions.maxBy(_._1)
  }

  /** The current merged per-key state. */
  def readState(spark: SparkSession, path: String): DataFrame = {
    val (k, _) = latestCommitted(path)
    spark.read.parquet(s"$path/v$k/state")
  }

  /** Fold one delta shard into the state under batch-id bookkeeping:
    * a batch id at or below the last committed one is a replay and is
    * SKIPPED (returns false); otherwise the merged state commits as
    * the next version (returns true). Old versions beyond the
    * previous one are pruned best-effort after the commit.
    */
  def applyDelta(
      spark: SparkSession, path: String, deltaRows: DataFrame,
      batchId: Long): Boolean = {
    val (keys, valueCol) = storedSchema(path)
    val (k, lastBatch) = latestCommitted(path)
    if (batchId <= lastBatch) return false // at-least-once replay
    val merged = RelOps.mergeDistributiveAgg(
      spark.read.parquet(s"$path/v$k/state"),
      RelOps.distributiveAgg(deltaRows, keys, valueCol), keys)
    merged.write.mode(SaveMode.Overwrite).parquet(s"$path/v${k + 1}/state")
    Sidecars.writeAtomic(Paths.get(s"$path/v${k + 1}/commit.json"),
      s"""{"batch_id": $batchId}""")
    pruneBelow(path, k) // keep k (rollback margin) and k+1
    true
  }

  /** Best-effort removal of committed versions below `keep`. */
  private def pruneBelow(path: String, keep: Int): Unit = {
    val root = new java.io.File(path)
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .filter(_.getName.drop(1).toInt < keep)
      .foreach { dir =>
        try {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
            f.delete(); ()
          }
          rm(dir)
        } catch { case _: Throwable => () }
      }
  }
}
