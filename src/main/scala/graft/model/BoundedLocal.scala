package graft.model

/** The bounded-local gate shared by every hybrid iterative operator
  * (CC union-find, the BPE merge loop, unigram seed + EM, the
  * Bradley-Terry MM fit, the kNN-graph analytics). The operator
  * materializes its small input (an edge cut, a distinct-word table,
  * a duel table), counts it in one cheap job, and when the count
  * [[fits]] it collects the rows and runs every round on the driver;
  * otherwise the distributed rounds run unchanged.
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
  def fits(rows: Long): Boolean = {
    val local = rows <= bound
    if (local != (rows <= Bound)) moved.incrementAndGet()
    local
  }

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
