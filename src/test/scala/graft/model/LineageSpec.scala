package graft.model

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{GraftBlockProbe, GraftJobProbe}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The release contract is load-bearing for the iterative operators'
  * bench stability (the r14 q_dedup_clusters fix): released blocks
  * must actually be gone, a later read must fail LOUDLY (local
  * checkpoints have no recompute path — a silent recompute would hide
  * a use-after-release), and non-cut frames must pass through as
  * no-ops so release can be called unconditionally in loops. A cut's
  * statistics are its measured bytes and its counted rows, so a chain
  * of cut-to-cut joins starts every round from the true size, and a
  * bounded-local gate decides with no job.
  */
class LineageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("release frees a cut frame's blocks; a later read fails loudly") {
    val cut = Lineage.cut((1 to 100).toDF("x"), reliable = false)
    assert(cut.count() == 100) // materialized, readable
    Lineage.release(cut)
    val ex = intercept[Exception](cut.count())
    assert(ex.getMessage.contains("CHECKPOINT") || ex.getMessage.contains("Checkpoint"),
      s"expected a loud checkpoint-block failure, got: ${ex.getMessage.take(200)}")
  }

  test("releaseAll reaches a cut wrapped in a Project (the memoized-face shape)") {
    val cut = Lineage.cut((1 to 50).toDF("x"), reliable = false)
    val face = cut.select((col("x") * 2).as("y")) // Project over LogicalRDD
    assert(face.count() == 50)
    Lineage.release(face) // shallow: must be a NO-OP on a wrapped plan
    assert(face.count() == 50, "shallow release must not reach through a Project")
    Lineage.releaseAll(face)
    intercept[Exception](face.count())
  }

  test("cut caps inherited stats: label-to-label join rounds cannot square sizeInBytes") {
    // the pointer-jumping shape: every round joins the cut frame to
    // itself, so Catalyst's size-only stats visitor SQUARES the
    // inherited sizeInBytes — uncapped, the BigInt's bit length
    // doubles per round (2^r growth) until the next cut's stats walk
    // drowns in million-digit multiplies (measured: 35+ min of driver
    // CPU on the 10x audio CC bench). The cap must hold EVERY round.
    var labels = Lineage.cut(
      (1L to 100L).toDF("id").withColumn("lbl", col("id")), reliable = false)
    for (r <- 1 to 8) {
      val joined = labels.toDF("a_id", "a_lbl")
        .join(labels.toDF("b_id", "b_lbl"), col("a_lbl") === col("b_id"))
        .select(col("a_id").as("id"), col("b_lbl").as("lbl"))
      labels = Lineage.cut(joined, reliable = false)
      val bits = labels.queryExecution.analyzed.stats.sizeInBytes.bitLength
      assert(bits <= 61, s"round $r: inherited sizeInBytes grew to $bits bits")
    }
    assert(labels.count() == 100) // the cut chain still reads correctly
  }

  private def logicalRdds(df: org.apache.spark.sql.Dataset[_]) =
    df.queryExecution.optimizedPlan.collect { case lr: LogicalRDD => lr }

  test("a local cut's stats are its rdd's block bytes") {
    val cut = Lineage.cut((1 to 1000).toDF("x").withColumn("s", concat(lit("row-"), col("x"))),
      reliable = false)
    val Seq(lr) = logicalRdds(cut)
    val bytes = GraftBlockProbe.blockBytes(lr.rdd)
    assert(bytes > 0, "the cut's blocks are in the block manager")
    assert(cut.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(bytes))
    assert(cut.count() == 1000)
    Lineage.release(cut)
  }

  test("a reliable cut's stats are its checkpoint files' bytes") {
    val sc = spark.sparkContext
    val prior = sc.getCheckpointDir
    sc.setCheckpointDir(Files.createTempDirectory("graft-ckpt").toString)
    try {
      val cut = Lineage.cut((1 to 1000).toDF("x"), reliable = true)
      val Seq(lr) = logicalRdds(cut)
      val dir = Paths.get(new java.net.URI(lr.rdd.getCheckpointFile.get))
      // the local file system keeps a hidden .crc file next to each part
      val bytes = Files.walk(dir).iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc"))
        .map(Files.size(_)).sum
      assert(bytes > 0, s"no checkpoint files under $dir")
      assert(cut.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(bytes))
      assert(cut.count() == 1000)
    } finally prior.foreach(sc.setCheckpointDir)
  }

  test("measured stats survive a self-join (newInstance); an empty cut plans and reads") {
    val cut = Lineage.cut((1 to 200).toDF("x"), reliable = false)
    val bytes = cut.queryExecution.optimizedPlan.stats.sizeInBytes
    val self = cut.as("a").join(cut.as("b"), col("a.x") === col("b.x"))
    val sides = logicalRdds(self)
    assert(sides.size == 2 && sides.map(_.output.head.exprId).distinct.size == 2,
      "the self-join re-instances one side")
    assert(sides.forall(_.stats.sizeInBytes == bytes), sides.map(_.stats).toString)
    assert(self.count() == 200)

    val empty = Lineage.cut((1 to 200).toDF("x").filter(col("x") < 0), reliable = false)
    assert(empty.queryExecution.optimizedPlan.stats.sizeInBytes ==
      BigInt(GraftBlockProbe.blockBytes(logicalRdds(empty).head.rdd)))
    val joined = empty.join(cut, "x")
    assert(joined.queryExecution.executedPlan != null)
    assert(joined.count() == 0 && empty.count() == 0)
    Lineage.release(cut); Lineage.release(empty)
  }

  test("a cut counts its rows: local, shuffled, reliable, empty and self-joined cuts") {
    def counted(c: org.apache.spark.sql.Dataset[_], rows: Long): Unit = {
      assert(Lineage.rowCount(c) == rows && c.count() == rows)
      assert(c.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(rows)))
    }
    val local = Lineage.cut((1 to 1000).toDF("x"), reliable = false)
    counted(local, 1000)
    // an AQE map stage runs before the cut's job; only the cut's rows count
    val shuffled = Lineage.cut(spark.range(0, 5000, 1, 4).toDF("id")
      .groupBy((col("id") % 37).as("k")).count(), reliable = false)
    counted(shuffled, 37)
    val empty = Lineage.cut((1 to 10).toDF("x").filter(col("x") < 0), reliable = false)
    counted(empty, 0)
    val base = (1 to 50).toDF("x")
    val selfJoined = Lineage.cut(base.as("a").join(base.as("b"), col("a.x") <= col("b.x"))
      .select(col("a.x").as("a"), col("b.x").as("b")), reliable = false)
    counted(selfJoined, 1275)
    // the re-instanced side of a cut's self-join keeps the count
    val self = local.as("l").join(local.as("r"), col("l.x") === col("r.x"))
    assert(logicalRdds(self).map(_.stats.rowCount) == Seq(Some(BigInt(1000)), Some(BigInt(1000))))

    val sc = spark.sparkContext
    val prior = sc.getCheckpointDir
    sc.setCheckpointDir(Files.createTempDirectory("graft-ckpt").toString)
    try counted(Lineage.cut(spark.range(0, 3000, 1, 3).toDF("id")
      .where(col("id") % 3 === 0), reliable = true), 1000)
    finally prior.foreach(sc.setCheckpointDir)
    Seq(local, shuffled, empty, selfJoined).foreach(Lineage.release)
  }

  test("a local cut runs one job; the gate's decision on it runs none") {
    val (cut, jobs) = GraftJobProbe.jobs(spark)(
      Lineage.cut((1 to 500).toDF("x").withColumn("y", col("x") * 2), reliable = false))
    assert(jobs == 1, s"a local cut of a narrow plan ran $jobs jobs")
    val ((fits, moved), gateJobs) = GraftJobProbe.jobs(spark)(
      BoundedLocal.forcing(0L)(BoundedLocal.collectIfFits(cut)))
    assert(fits.isEmpty && moved == 1 && gateJobs == 0, s"($fits, $moved, $gateJobs)")
    val (rows, collectJobs) = GraftJobProbe.jobs(spark)(BoundedLocal.collectIfFits(cut))
    assert(rows.map(_.length).contains(500) && collectJobs == 1)
    // a plan that is not a cut carries no counted rows: refused, not counted
    intercept[IllegalArgumentException](BoundedLocal.collectIfFits(cut.select(col("x"))))
    Lineage.release(cut)
  }

  test("release of a non-cut frame is a no-op") {
    val plain = (1 to 10).toDF("x")
    Lineage.release(plain)
    Lineage.releaseAll(plain)
    assert(plain.count() == 10)
  }
}
