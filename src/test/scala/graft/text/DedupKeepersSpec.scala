package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.GraftJobProbe
import graft.TestSpark
import graft.model.{BoundedLocal, Lineage}

/** `dedupKeepers` on its bounded-local path makes no label cut: it
  * filters the caller's docs by the union-find's member ids. That
  * plan reads the caller's docs, so it must never be retired (a drain
  * would free the caller's cut), and the path must keep its job count.
  * `dedupClusters` on the same path reads its labels from a broadcast
  * variable, which runs no job.
  */
class DedupKeepersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fixture() = {
    val docs = Lineage.cut(
      Seq.tabulate(40)(i => (i.toLong, s"doc $i")).toDF("doc_id", "text"), reliable = false)
    val pairs = Seq((0L, 1L), (1L, 2L), (4L, 6L), (9L, 30L), (30L, 31L), (7L, 7L))
      .toDF("id_a", "id_b")
    (docs, pairs)
  }
  private val expected = (0L until 40L).toSet -- Set(1L, 2L, 6L, 30L, 31L)

  private def keepers(docs: org.apache.spark.sql.DataFrame, pairs: org.apache.spark.sql.DataFrame) =
    TextOps.dedupKeepers(docs, pairs).as[Long].collect().toSet

  test("the local path retires nothing that reads the caller's docs") {
    Lineage.drainRetired()
    val (docs, pairs) = fixture()
    assert(keepers(docs, pairs) == expected)
    Lineage.drainRetired()
    assert(docs.count() == 40L, "the caller's docs cut must survive the drain")
    Lineage.release(docs)
  }

  test("local keepers == forced-distributed keepers (A/B)") {
    val (docs, pairs) = fixture()
    val (dist, moved) = BoundedLocal.forcing(0L)(keepers(docs, pairs))
    assert(moved >= 1, "the forced bound never reached the CC gate")
    assert(dist == expected && keepers(docs, pairs) == expected)
    Lineage.drainRetired()
    Lineage.release(docs)
  }

  test("the local path's job count: edge cut, edge collect, keeper read") {
    val (docs, pairs) = fixture()
    val (kept, jobs) = GraftJobProbe.jobs(spark)(keepers(docs, pairs))
    assert(kept == expected)
    // the edge cut (the docs' ids broadcast to both semi-joins, the
    // distinct's map stage, the materializing job), the edge collect
    // and the keeper read. A count job (2) and a label cut over a
    // broadcast join of the labels (2) would make it 9.
    assert(jobs <= 5, s"dedupKeepers ran $jobs jobs")
    Lineage.release(docs)
  }

  test("dedupClusters' local path ships its labels without a job") {
    val (docs, pairs) = fixture()
    val (labels, jobs) = GraftJobProbe.jobs(spark) {
      val out = TextOps.dedupClusters(docs, pairs)
      val rows = out.as[(Long, Long)].collect().toMap
      Lineage.release(out)
      rows
    }
    val roots = Map(1L -> 0L, 2L -> 0L, 6L -> 4L, 30L -> 9L, 31L -> 9L)
    assert(labels == (0L until 40L).map(id => id -> roots.getOrElse(id, id)).toMap)
    // the edge cut (3, as in dedupKeepers), the edge collect, the label
    // cut's materializing job and the label read. A broadcast join of
    // the labels as a driver-side table would add the job that collects
    // it for the broadcast.
    assert(jobs <= 6, s"dedupClusters ran $jobs jobs")
    Lineage.release(docs)
  }
}
