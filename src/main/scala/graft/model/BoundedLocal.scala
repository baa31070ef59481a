package graft.model

import org.apache.spark.sql.Dataset

/** The bounded-local gate shared by every hybrid iterative operator
  * (CC union-find, the BPE merge loop, unigram seed + EM, the
  * Bradley-Terry MM fit, the kNN-graph analytics). The operator
  * materializes its small input (an edge cut, a distinct-word table,
  * a duel table) as a [[Lineage]] cut, which counts its rows in the
  * job that makes it. [[collectIfFits]] reads that count, and when it
  * fits collects the rows so every round runs on the driver; otherwise
  * the distributed rounds run unchanged. The decision runs no job.
  *
  * Why 2^17 rows: that is ~2 MB of driver memory for an edge array (a
  * few MB for a vocabulary table), bounded by construction, while each
  * distributed round costs several full Spark jobs of fixed overhead on
  * exactly the probe- and vocabulary-sized tables the harness faces
  * run over (the media cluster endpoints measured 3.1-4.1 s -> 1.0-1.3 s
  * at sf0.1). Inputs over the bound (corpus-scale graphs and
  * vocabularies at 100 TB) take the distributed path. Results are
  * identical on both sides of the gate; forced-bound A/B specs pin
  * that for every operator through [[forcing]].
  */
object BoundedLocal {
  val Bound: Long = 1L << 17

  @volatile private var bound: Long = Bound
  private val moved = new java.util.concurrent.atomic.AtomicInteger

  /** Whether `rows` rows may be collected and processed on the driver. */
  private def fits(rows: Long): Boolean = {
    val local = rows <= bound
    if (local != (rows <= Bound)) moved.incrementAndGet()
    local
  }

  /** The rows of `cut` (a [[Lineage]] cut, or a typed view of one) when
    * its counted row count fits, else None: stay distributed.
    */
  def collectIfFits[T](cut: Dataset[T]): Option[Array[T]] =
    if (fits(Lineage.rowCount(cut))) Some(cut.collect()) else None

  /** Test-only: run `body` with `testBound` in place of [[Bound]]
    * (0 forces every non-empty input onto the distributed path).
    * Returns the result and how many gate checks the override decided
    * differently from [[Bound]]; an A/B spec asserts that count is at
    * least 1, or it compared one path with itself.
    */
  private[graft] def forcing[A](testBound: Long)(body: => A): (A, Int) = {
    val saved = bound
    moved.set(0)
    bound = testBound
    try (body, moved.get) finally bound = saved
  }
}
