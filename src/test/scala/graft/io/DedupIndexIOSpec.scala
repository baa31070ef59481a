package graft.io

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** [[DedupIndexIO]] — the persisted incremental-dedup state: a stored
  * index probed by a shard must produce EXACTLY the stateless
  * [[graft.text.TextOps.incrementalLshPairs]] output; rolling the
  * index forward must make later shards see earlier shards; and the
  * sidecar must stay loud.
  */
class DedupIndexIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("stored-index probe equals the stateless incremental operator exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dix").toString
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    val shard = docs.filter(col("doc_id") % 3 === 0)
    DedupIndexIO.writeIndex(base, dir, numHashes = 64, bands = 16)
    assert(DedupIndexIO.storedParams(dir) == ((64, 16)))
    val stored = pairs(DedupIndexIO.probeIndex(spark, dir, shard, threshold = 0.9))
    val stateless = pairs(graft.text.TextOps.incrementalLshPairs(
      base, shard, numHashes = 64, bands = 16, threshold = 0.9))
    assert(stored == stateless && stored.nonEmpty,
      s"stored ${stored.size} vs stateless ${stateless.size}")
  }

  test("rolling the index forward makes later shards see earlier shards") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dix2").toString
    val a = docs.filter(col("doc_id") % 3 === 0)
    val b = docs.filter(col("doc_id") % 3 === 1)
    val c = docs.filter(col("doc_id") % 3 === 2)
    DedupIndexIO.writeIndex(a, dir, numHashes = 64, bands = 16)
    DedupIndexIO.appendToIndex(b, dir)
    val got = pairs(DedupIndexIO.probeIndex(spark, dir, c, threshold = 0.9))
    // the rolled index is exactly A ∪ B
    val want = pairs(graft.text.TextOps.incrementalLshPairs(
      a.unionByName(b), c, numHashes = 64, bands = 16, threshold = 0.9))
    assert(got == want && got.nonEmpty, s"got ${got.size} vs want ${want.size}")
    // probe results reference BOTH earlier shards
    val partners = got.map(_._2)
    val aIds = a.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val bIds = b.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(partners.exists(aIds), "no pair against the first shard")
    assert(partners.exists(bIds), "no pair against the appended shard")
  }

  test("sidecar validation stays loud") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dix3").toString
    DedupIndexIO.writeIndex(docs.limit(20), dir, numHashes = 16, bands = 4)
    val side = java.nio.file.Paths.get(s"$dir/dedup_index.json")
    java.nio.file.Files.writeString(side, """{"format": 2, "num_hashes": 16, "bands": 4}""")
    val e1 = intercept[IllegalArgumentException](
      DedupIndexIO.probeIndex(spark, dir, docs.limit(5), 0.9))
    assert(e1.getMessage.contains("format"))
    java.nio.file.Files.delete(side)
    val e2 = intercept[IllegalArgumentException](DedupIndexIO.appendToIndex(docs.limit(5), dir))
    assert(e2.getMessage.contains("sidecar"))
  }

  test("row-local band buckets are bit-identical to the batch tokenTable route") {
    // the MinHash kernel must produce EXACTLY the (id, sig) and
    // (id, bucket) rows the token-table reference route computes —
    // same token hashes, same masked-affine minhash, same banding md5 —
    // or a streamed shard would probe a different LSH space than the
    // index it rolls into. A null-text row, a null-id row (carrying a
    // real document's text), an all-spaces document and a document of
    // repeated words ride along: no route may emit a row for the first
    // three, and a repeated word counts once
    import graft.text.{TextOps, TokenTableMinhash}
    val head = docs.filter(col("doc_id") < 300)
    val d = head
      .union(head.limit(1).select(lit(null).cast("long").as("doc_id"), col("text")))
      .union(head.limit(1).select(lit(300L).as("doc_id"), lit(null).cast("string").as("text")))
      .union(head.limit(1).select(lit(301L).as("doc_id"), lit("    ").as("text")))
      .union(head.limit(1).select(lit(302L).as("doc_id"),
        lit("gamma  alpha beta alpha gamma alpha ").as("text")))
    val tok = TextOps.tokenTable(d)
    def sigRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSet
    val refSigs = sigRows(TokenTableMinhash.signatures(tok, 64))
    val sigs = sigRows(TextOps.minhashSignatures(d, 64))
    assert(sigs == refSigs && sigs.nonEmpty,
      s"kernel ${sigs.size} signatures vs reference ${refSigs.size}")
    assert(sigs.exists(_._1 == 302L) && !sigs.exists(_._1 == 301L) && !sigs.exists(_._1 == 300L))
    def bucketRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = bucketRows(TokenTableMinhash.bandBuckets(tok, numHashes = 64, bands = 16))
    val rowLocal = bucketRows(TextOps.rowLocalBandBuckets(d, 64, 16))
    assert(rowLocal == batch && rowLocal.nonEmpty,
      s"row-local ${rowLocal.size} rows vs batch ${batch.size}")
    // banding a stored signature table (the sweep's route) is the same
    // JVM banding
    val fromSigs = bucketRows(TextOps.bandBucketsFromSigs(TextOps.minhashSignatures(d, 64), 64, 16))
    assert(fromSigs == batch, s"banded signatures ${fromSigs.size} rows vs batch ${batch.size}")
  }
}
