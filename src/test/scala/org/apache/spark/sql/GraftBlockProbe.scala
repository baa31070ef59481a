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
