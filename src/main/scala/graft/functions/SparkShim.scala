package org.apache.spark.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.RDDBlockId

/** Bridge for constructing `Column`s from custom Catalyst expressions:
  * Spark 4 moved the Column<->Expression conversions behind
  * `private[sql] classic.ExpressionUtils`, so the (tiny) accessor has
  * to live in the `org.apache.spark.sql` package.
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}

/** Bridge for a `Lineage` cut. `Dataset.checkpoint` and
  * `localCheckpoint` copy the origin plan's ESTIMATED statistics onto
  * the `LogicalRDD` they return, and the eager checkpoint job counts
  * each partition's rows only to drop the count. The rdd checkpoint
  * calls, the node's constructor, the typed Dataset factory and the
  * block manager's status are package-private, so the cut body lives
  * in this package.
  */
object GraftCutBridge {

  /** `ds` checkpointed eagerly, as `Dataset.checkpoint` (`reliable`)
    * or `Dataset.localCheckpoint` does it, with its measured size and
    * its row count as its only statistics. The rows are counted while
    * the checkpoint's one materializing job writes them, by an
    * accumulator that only that job's result tasks update, so Spark
    * merges it once per partition (a failed, retried or speculative
    * task's updates are not counted twice). No second job runs.
    */
  def cut[T](ds: Dataset[T], reliable: Boolean): Dataset[T] = {
    val d = ds.asInstanceOf[classic.Dataset[T]]
    val qe = d.queryExecution
    val rows = d.sparkSession.sparkContext.longAccumulator
    val rdd = SQLExecution.withNewExecutionId(qe,
        Some(if (reliable) "checkpoint" else "localCheckpoint")) {
      qe.executedPlan.resetMetrics()
      val r = qe.executedPlan.execute().map { row => rows.add(1L); row.copy() }
      if (reliable) r.checkpoint() else r.localCheckpoint()
      r.doCheckpoint()
      r
    }
    val lr = LogicalRDD.fromDataset(rdd, d, d.isStreaming)
    val node = LogicalRDD(lr.output, rdd, lr.outputPartitioning, lr.outputOrdering,
      lr.isStreaming, lr.stream)(d.sparkSession,
      Some(Statistics(sizeInBytes = measuredBytes(rdd), rowCount = Some(BigInt(rows.sum)))),
      Some(lr.constraints))
    classic.Dataset(d.sparkSession, node)(d.encoder)
  }

  /** A reliable checkpoint's file bytes; else the bytes, in memory and
    * on disk, of the rdd's blocks as the block manager master records
    * them. The master is asked directly: the UI status store
    * (`SparkContext.getRDDStorageInfo`) hears of blocks through the
    * asynchronous listener bus and can lag a checkpoint that just ran.
    */
  private def measuredBytes(rdd: RDD[_]): BigInt = BigInt(rdd.getCheckpointFile match {
    case Some(dir) =>
      val path = new Path(dir)
      path.getFileSystem(rdd.sparkContext.hadoopConfiguration).getContentSummary(path).getLength
    case None =>
      SparkEnv.get.blockManager.master.getStorageStatus.iterator.flatMap(_.rddBlocks).collect {
        case (RDDBlockId(id, _), b) if id == rdd.id => b.memSize + b.diskSize
      }.sum
  })
}
