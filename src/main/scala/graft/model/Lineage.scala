package graft.model

import org.apache.spark.sql.{DataFrame, Dataset, GraftCutBridge}
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage cutting for iterative operators (CC rounds, k-core peel,
  * label propagation, the BPE merge loop, the sorted-prefix passes):
  * iterative DataFrames otherwise nest the previous round's logical
  * plan, which grows exponentially and stalls planning long before any
  * data volume matters.
  *
  * Durability is the caller's choice (`reliable`):
  *  - `false` (default): `localCheckpoint` stores the round's blocks
  *    in executor block storage — freed by the ContextCleaner when the
  *    frame is dropped. Fastest, but an executor lost mid-iteration
  *    fails the job (never corrupts it): the blocks have no recompute
  *    path.
  *  - `true`: reliable `checkpoint()` to the configured checkpoint dir
  *    (HDFS/object storage on a cluster) — survives executor
  *    decommissioning on preemptible/spot fleets, costs one write+read
  *    of the round's data. The checkpoint dir must be set; failing
  *    loudly here beats Spark's late error inside the job.
  */
object Lineage {

  private def requireDir(df: Dataset[_]): Unit =
    require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
      "reliable=true requires sparkContext.setCheckpointDir(...) pointing at " +
        "storage that survives executor loss (HDFS/object store on a cluster)")

  /** The one cut body. A cut is materialized when it is made, so its
    * statistics are measured, not the estimate Spark copies over from
    * the origin plan: its size (block bytes of a local checkpoint, file
    * bytes of a reliable one) and its row count, counted by the same
    * job that materializes it ([[rowCount]]; a bounded-local gate reads
    * it and runs no count job). The inherited estimate can be far too
    * small (a cut of tiles mapped from `spark.range` keeps the range's
    * 8 bytes per row, and an unhinted join then broadcasts a whole
    * raster) or far too large: Catalyst's size-only stats visitor
    * MULTIPLIES child sizes through joins, so an iterative operator
    * whose round joins cut frames to cut frames (pointer jumping joins
    * labels to labels) squared the inherited size every round, and the
    * next cut's stats walk ran million-digit BigInt multiplies (35+ min
    * of driver CPU on the 10x audio CC bench). A measured size starts
    * every round from truth.
    */
  def cutDs[T](ds: Dataset[T], reliable: Boolean): Dataset[T] = {
    if (reliable) requireDir(ds)
    GraftCutBridge.cut(ds, reliable)
  }

  def cut(df: DataFrame, reliable: Boolean): DataFrame = cutDs(df, reliable)

  /** The number of rows of a [[cut]], as its making job counted them;
    * runs no job. `cut` is the cut itself or a typed view of it
    * (`cut.as[U]`), whose analyzed plan is the cut's node; a plan with
    * no row count there is refused.
    */
  def rowCount(cut: Dataset[_]): Long = cut.queryExecution.analyzed match {
    case lr: LogicalRDD if lr.stats.rowCount.isDefined => lr.stats.rowCount.get.toLong
    case p => throw new IllegalArgumentException(
      s"not a Lineage cut, so its rows are not counted: ${p.nodeName}")
  }

  /** EAGER release of a [[cut]] frame's blocks, for iterative loops
    * where round r's cut makes round r-1's blocks dead the moment it
    * materializes. Leaving them to GC + ContextCleaner (weak-ref
    * based) lets O(rounds) of executor storage accrete per execution
    * — measured as a 2.3–3.7 s drift on the CC clustering bench row,
    * the same mechanism the LSH sweep fix killed between runs, here
    * killed within one. The frame MUST NOT be read again: local
    * checkpoint blocks have no recompute path, so a later access
    * fails loudly rather than silently recomputing. No-op for frames
    * that aren't a materialized scan (reliable checkpoints are files,
    * freed on context stop).
    */
  // Spark WARNs "locally checkpointed ... cannot be recomputed after
  // unpersisting" on every release — that non-recomputability is this
  // API's documented contract, and one warning per CC round would
  // drown the bench harness's single-line stdout protocol.
  private lazy val silenceUnpersistWarn: Unit =
    org.apache.log4j.Logger.getLogger("org.apache.spark.rdd.MapPartitionsRDD")
      .setLevel(org.apache.log4j.Level.ERROR)

  def release(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        silenceUnpersistWarn
        // blocking: async removal would overlap (and so time-pollute)
        // the rounds that follow — removal in local mode is a block-
        // manager map operation, cheap against a round's joins
        lr.rdd.unpersist(blocking = true); ()
      case _ => ()
    }

  // ---------------------------------------------------------------
  // Deferred release: the RETIRE queue.
  //
  // An operator's internal survivor cuts (the quotient class table, a
  // CC label frame consumed by the final join, a banding gram set)
  // stay materialized until the operator's RESULT is executed — the
  // operator cannot release them eagerly, and leaving them to weak-ref
  // reclaim lets whole GENERATIONS of checkpoint blocks accrete when a
  // harness re-invokes the operator (Bench runs every face 6+ times:
  // measured as a 2-8 s GC storm bleeding into NEIGHBORING faces, the
  // r17 full-capture regression). Eager release at re-build time is
  // also wrong: a consumer that constructed its plan over the PREVIOUS
  // generation may not have executed yet (the clustersFresh guard-spec
  // incident — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
  //
  // `retire` records a cut as dead-after-the-current-execution;
  // `drainRetired` releases everything recorded. The CONTRACT is the
  // caller's: drain only at a point where every plan built over a
  // retired cut has finished executing and will not run again —
  // sequential harness mains (Bench between timed runs, Verify between
  // faces) qualify; a test that constructs many faces up front and
  // executes them later must NOT drain in between.
  // ---------------------------------------------------------------
  private val retired =
    new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]

  /** Mark a [[cut]] frame dead-after-the-current-execution: released
    * at the next [[drainRetired]], not now. Safe to call at plan
    * CONSTRUCTION time on cuts the returned plan still references.
    */
  def retire(d: Dataset[_]): Unit = retired.add(d)

  /** [[cut]] + [[retire]] in one step, for operator-internal cuts
    * whose blocks are dead once the operator's result has executed.
    */
  def cutRetired(df: DataFrame, reliable: Boolean): DataFrame = {
    val c = cut(df, reliable); retire(c); c
  }

  /** Release every retired frame's blocks (blocking). Returns how many
    * frames were drained. Call ONLY from a sequential harness point —
    * see the retire-queue contract above. Uses [[releaseAll]] so a
    * retired frame may be a thin wrapper (Project/toDF) over its cut —
    * the memoized-artifact-pair shape; the retire contract therefore
    * extends to every materialized scan in the retired plan: none may
    * be shared with a frame that is still read (generation-unique
    * checkpoints satisfy this by construction; double-release of a
    * scan retired twice is a no-op).
    */
  def drainRetired(): Int = {
    var n = 0
    var d = retired.poll()
    while (d != null) {
      releaseAll(d); n += 1
      d = retired.poll()
    }
    n
  }

  /** [[release]] for a plan that WRAPS its cut (a memoized face is
    * typically a Project over the final checkpoint, where the shallow
    * match is a silent no-op): unpersists EVERY materialized scan in
    * the plan. The caller asserts exclusivity — nothing in this plan
    * may be shared with a frame that is still read (a shared cut
    * would fail loudly on its next access).
    */
  def releaseAll(df: Dataset[_]): Unit = {
    silenceUnpersistWarn
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD =>
        lr.rdd.unpersist(blocking = true); ()
      case _ => ()
    }
  }
}
