package graft.model

import org.apache.spark.sql.Dataset

/** A process-global memo of one shared artifact per key (usually a
  * data dir): a lineage cut, a staged fixture, a one-time write flag.
  * The harness computes each artifact once and every consumer face
  * reads it.
  *
  *  - [[apply]] (read-or-build) returns the stored value, building and
  *    storing it on the first read of a key.
  *  - [[rebuild]] builds unconditionally, stores the new value and
  *    hands every `Dataset` inside the value it replaces (both halves
  *    of a pair) to [[Lineage.retire]]. A face whose timing must
  *    measure the build calls it.
  *
  * The replaced generation is RETIRED, never released: a consumer may
  * have constructed its plan over the old value and not executed it
  * yet (a spec that builds every face up front and runs them later
  * hits CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on an eager release). The
  * blocks go at the sequential harness's drain point
  * ([[Lineage.drainRetired]]: Bench hygiene, Verify between faces).
  *
  * A first read builds at most once per key for sequential callers;
  * two threads racing on the same missing key may both build, and one
  * value wins.
  */
final class Memo[K, V] {
  private val entries = scala.collection.concurrent.TrieMap.empty[K, V]

  def apply(key: K)(build: => V): V = entries.getOrElseUpdate(key, build)

  def rebuild(key: K)(build: => V): V = {
    val v = build
    entries.put(key, v).foreach(retireAll)
    v
  }

  /** Retire every `Dataset` reachable through tuples and case classes. */
  private def retireAll(v: Any): Unit = v match {
    case d: Dataset[_] => Lineage.retire(d)
    case p: Product => p.productIterator.foreach(retireAll)
    case _ => ()
  }
}
