package org.apache.spark.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD
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

/** Bridge for a `Lineage` cut's statistics. `Dataset.checkpoint` and
  * `localCheckpoint` copy the origin plan's ESTIMATED statistics onto
  * the `LogicalRDD` they return; the node's constructor, the typed
  * Dataset factory and the block manager's status are package-private,
  * so the rebuild over measured bytes lives in this package.
  */
object GraftCutBridge {

  /** `cut`, a just-materialized checkpoint, rebuilt over the same
    * `LogicalRDD` (output, rdd, partitioning, ordering, constraints)
    * with its measured size as its only statistic. Runs no job.
    */
  def withMeasuredSize[T](cut: Dataset[T]): Dataset[T] = {
    val ds = cut.asInstanceOf[classic.Dataset[T]]
    val lr = ds.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val node = LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
      lr.isStreaming, lr.stream)(ds.sparkSession,
      Some(Statistics(sizeInBytes = measuredBytes(lr.rdd))), Some(lr.constraints))
    classic.Dataset(ds.sparkSession, node)(ds.encoder)
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
