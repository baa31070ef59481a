package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The token-table MinHash route, kept as the reference the row-local
  * kernel ([[TextOps.minhashSignatures]], [[TextOps.rowLocalBandBuckets]],
  * [[TextOps.bandBucketsFromSigs]]) is checked against: signatures
  * from a shuffled distinct (id, token) table gathered per document
  * with `collect_list`, then banding in SQL (`md5(concat_ws(...))`).
  * It shares no per-row code with the kernel, so agreement pins the
  * kernel's token hashes, signatures and banding.
  */
object TokenTableMinhash {

  /** (id, sig) MinHash signature rows over a [[TextOps.tokenTable]].
    * Null-id rows get no signature (their typed decode would fail, and
    * a null id pairs with nothing).
    */
  def signatures(tok: DataFrame, numHashes: Int): DataFrame = {
    val spark = tok.sparkSession
    import spark.implicits._
    val aCoef = new Array[Long](numHashes)
    val bCoef = new Array[Long](numHashes)
    TextOps.minhashCoefficients(numHashes).zipWithIndex
      .foreach { case ((a, b), k) => aCoef(k) = a; bCoef(k) = b }
    // signature kernel over a primitive Array[Long] of the doc's
    // distinct token hashes — tight while-loops, no per-element boxing
    tok.filter(col("id").isNotNull).select(col("id"), TextOps.tokenHash(col("w")).as("h"))
      .groupBy(col("id")).agg(collect_list(col("h")).as("hs"))
      .as[(Long, Array[Long])]
      .map { case (id, hs) =>
        val sig = new Array[Long](numHashes)
        var k = 0
        while (k < numHashes) {
          val a = aCoef(k); val b = bCoef(k)
          var mn = Long.MaxValue
          var t = 0
          while (t < hs.length) {
            val v = (a * hs(t) + b) & 0x1FFFFFFFFFFFFFFFL // mod 2^61 of the wrapped sum
            if (v < mn) mn = v
            t += 1
          }
          sig(k) = mn
          k += 1
        }
        (id, sig)
      }.toDF("id", "sig")
  }

  /** Band the (id, sig) signature table into (id, bucket) rows in SQL. */
  def bandBucketsFromSigs(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    sigs.select(col("id"), explode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => md5(concat_ws(",", concat(lit("b"), b.cast("string")),
          concat_ws(",", transform(slice(col("sig"), b * rows + 1, lit(rows)),
            v => v.cast("string"))))))).as("bucket"))
  }

  /** (id, bucket) band rows over a [[TextOps.tokenTable]]. */
  def bandBuckets(tok: DataFrame, numHashes: Int, bands: Int): DataFrame =
    bandBucketsFromSigs(signatures(tok, numHashes), numHashes, bands)

  /** Canonical (id_a < id_b) candidates of a band table as a bucket
    * self-join. */
  def selfJoinCandidates(banded: DataFrame): DataFrame =
    banded.as("a").join(banded.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()

  /** Exact Jaccard of distinct candidate pairs at token granularity:
    * the token intersection is an equi-join on (id_b, w), the sizes a
    * count per id of the distinct (id, w) table. */
  def verify(tok: DataFrame, cand: DataFrame, threshold: Double): DataFrame = {
    val sizes = tok.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    cand
      .join(tok.toDF("id_a", "w"), "id_a")
      .join(tok.toDF("id_b", "w"), Seq("id_b", "w"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
      .join(sizes.toDF("id_a", "sz_a"), "id_a")
      .join(sizes.toDF("id_b", "sz_b"), "id_b")
      .withColumn("jaccard", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** The LSH pair route at token granularity: signatures and bands
    * from the (id, w) table, a bucket self-join, [[verify]]. */
  def lshPairs(tok: DataFrame, numHashes: Int, bands: Int, threshold: Double): DataFrame =
    verify(tok, selfJoinCandidates(bandBuckets(tok, numHashes, bands)), threshold)

  /** The incremental probe at token granularity: the incoming side's
    * buckets equi-join the base side's, self ids dropped, and the
    * candidates [[verify]] over the union of both token tables. */
  def probePairs(
      tokIncoming: DataFrame, tokBase: DataFrame,
      numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    val cand = bandBuckets(tokIncoming, numHashes, bands).toDF("id_a", "bucket")
      .join(bandBuckets(tokBase, numHashes, bands).toDF("id_b", "bucket"), "bucket")
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    verify(tokIncoming.union(tokBase).distinct(), cand, threshold)
  }
}
