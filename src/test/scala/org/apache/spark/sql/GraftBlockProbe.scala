package org.apache.spark.sql

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.RDDBlockId

/** Test-side count of an rdd's block bytes, in memory and on disk, read
  * partition by partition from this JVM's own block manager (in local
  * mode it holds every block). The block manager is package-private.
  */
object GraftBlockProbe {
  def blockBytes(rdd: RDD[_]): Long =
    rdd.partitions.indices.flatMap(p => SparkEnv.get.blockManager.getStatus(RDDBlockId(rdd.id, p)))
      .map(b => b.memSize + b.diskSize).sum
}

/** Test-side count of the Spark jobs that `body` starts. The listener
  * bus delivers events asynchronously, so the count is read once the
  * bus is empty (its drain is package-private).
  */
object GraftJobProbe {
  def jobs[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty(60000L)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty(60000L)
      (a, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
