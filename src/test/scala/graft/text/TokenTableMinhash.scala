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
}
