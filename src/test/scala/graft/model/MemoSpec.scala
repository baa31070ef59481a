package graft.model

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The memo contract every shared face artifact relies on: `rebuild`
  * retires (never releases) the whole replaced generation, a plan over
  * that generation stays executable until the harness drains, a first
  * read builds once, and keys never share an entry.
  */
class MemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def cutOf(xs: Long*): DataFrame =
    Lineage.cut(xs.toDF("x"), reliable = false)

  test("rebuild retires every Dataset of the replaced generation, both halves of a pair") {
    Lineage.drainRetired()
    val memo = new Memo[String, (DataFrame, DataFrame)]
    val before = persistedIds
    val (a, b) = memo.rebuild("d")((cutOf(1L), cutOf(2L)))
    val gen1 = persistedIds -- before
    assert(gen1.size == 2, s"expected two persisted cuts, got $gen1")
    assert(Lineage.drainRetired() == 0, "the first generation replaced nothing")
    val (c, d) = memo.rebuild("d")((cutOf(3L), cutOf(4L)))
    val gen2 = persistedIds -- before -- gen1
    assert(Lineage.drainRetired() == 2, "both halves of the old pair must be retired")
    assert((persistedIds & gen1).isEmpty, "the replaced pair's blocks survived the drain")
    assert(gen2.subsetOf(persistedIds), "the live generation was released")
    assert(memo("d")(fail("a stored key must not rebuild")) == ((c, d)))
    assert(c.as[Long].collect().toSeq == Seq(3L) && d.as[Long].collect().toSeq == Seq(4L))
    assert(a ne c)
    assert(b ne d)
    // values holding no Dataset (the Gram-moments tuple, write flags)
    // have nothing to retire
    val moments = new Memo[String, (Long, Array[Long])]
    moments.rebuild("d")((1L, Array(1L)))
    moments.rebuild("d")((2L, Array(2L)))
    assert(Lineage.drainRetired() == 0)
    Lineage.releaseAll(c); Lineage.releaseAll(d)
  }

  test("a plan over the old generation executes until drainRetired") {
    Lineage.drainRetired()
    val memo = new Memo[String, DataFrame]
    val before = persistedIds
    val old = memo("d")(cutOf(1L, 2L, 3L))
    val oldIds = persistedIds -- before
    // constructed before the rebuild, executed after it (the face-guard
    // spec shape: every face built up front, run later)
    val derived = old.agg(sum(col("x")).as("s"))
    val fresh = memo.rebuild("d")(cutOf(10L))
    assert(derived.collect()(0).getLong(0) == 6L,
      "a retired-but-not-drained generation must stay readable")
    assert(Lineage.drainRetired() == 1)
    assert(oldIds.nonEmpty && (persistedIds & oldIds).isEmpty,
      "the drain must release the old generation's blocks")
    assert(fresh.as[Long].collect().toSeq == Seq(10L))
    Lineage.releaseAll(fresh)
  }

  test("read-or-build builds at most once per key") {
    val memo = new Memo[String, Array[Int]]
    var builds = 0
    def build(): Array[Int] = { builds += 1; Array(builds) }
    val first = memo("d")(build())
    val second = memo("d")(build())
    assert(builds == 1)
    assert(first eq second)
    val rebuilt = memo.rebuild("d")(build())
    assert(builds == 2)
    assert(memo("d")(build()) eq rebuilt, "a read after rebuild returns the rebuilt value")
    assert(builds == 2)
  }

  test("two keys never share an entry") {
    Lineage.drainRetired()
    val memo = new Memo[String, DataFrame]
    val x = memo("dirA")(cutOf(1L))
    val y = memo("dirB")(cutOf(2L))
    assert(x ne y)
    assert(memo("dirA")(fail("built twice")) eq x)
    assert(memo("dirB")(fail("built twice")) eq y)
    // rebuilding one key retires only that key's generation
    val x2 = memo.rebuild("dirA")(cutOf(3L))
    assert(Lineage.drainRetired() == 1)
    assert(y.as[Long].collect().toSeq == Seq(2L), "the other key's entry was released")
    assert(memo("dirB")(fail("built twice")) eq y)
    Lineage.releaseAll(x2); Lineage.releaseAll(y)
  }
}
