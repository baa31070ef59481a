package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType}
import graft.TestSpark

/** [[TextOps.minhashLshPairs]] builds its candidates from the
  * row-local band buckets. The token-table route it replaced — minhash
  * signatures from a shuffled (id, token) table ([[TokenTableMinhash]]),
  * then the same bucket self-join and verification — is the reference.
  */
class MinhashLshSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tokenTableRoute(docs: DataFrame, threshold: Double): DataFrame = {
    val tok = docs.select(col("doc_id").as("id"), explode(TextOps.tokens(col("text"))).as("w")).distinct()
    TextOps.verifyJaccardCandidates(
      tok, TextOps.candidatesFromBanded(TokenTableMinhash.bandBuckets(tok, 64, 16)), threshold)
  }

  private def rows(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("id_a").cast("long"), col("id_b").cast("long"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** 150 seeded random documents plus near-duplicate copies of the
    * first 50, each word replaced with probability 1/20. */
  private def corpus(): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    def word() = s"w${rnd.nextInt(400)}"
    val base = Seq.tabulate(150)(i => (i.toLong, Seq.fill(40)(word()).mkString(" ")))
    val copies = base.take(50).map { case (i, t) =>
      (1000L + i, t.split(" ").map(w => if (rnd.nextInt(20) == 0) word() else w).mkString(" "))
    }
    (base ++ copies).toDF("doc_id", "text")
  }

  test("id_a / id_b keep the id column's type; rows equal the token-table route") {
    val head = corpus()
    // a null-id copy of a real document and a null text must not pair
    // (and must not crash the row-local kernel)
    val withNulls = head
      .union(head.limit(1).select(lit(null).cast("long").as("doc_id"), col("text")))
      .union(head.limit(1).select(lit(300L).as("doc_id"), lit(null).cast("string").as("text")))
    for (t <- Seq[DataType](IntegerType, LongType)) {
      val docs = withNulls.select(col("doc_id").cast(t).as("doc_id"), col("text"))
      val got = TextOps.minhashLshPairs(docs, numHashes = 64, bands = 16, threshold = 0.8)
      assert(got.schema("id_a").dataType == t && got.schema("id_b").dataType == t,
        s"$t ids came back as ${got.schema.simpleString}")
      val want = rows(tokenTableRoute(docs, 0.8))
      assert(rows(got) == want && want.nonEmpty, s"$t: got ${rows(got).size} pairs vs ${want.size}")
    }
  }

  test("non-integral ids are rejected, naming the column and its type") {
    // a cast to long would silently merge ids 1.0 and 1.5 into one
    // document; the kernel refuses the column instead
    val head = corpus()
    for ((t, name) <- Seq[(DataType, String)]((DoubleType, "double"), (StringType, "string"))) {
      val docs = head.select(col("doc_id").cast(t).as("doc_id"), col("text"))
      val e1 = intercept[IllegalArgumentException](
        TextOps.minhashLshPairs(docs, numHashes = 64, bands = 16, threshold = 0.8))
      val e2 = intercept[IllegalArgumentException](
        TextOps.incrementalLshPairs(docs.filter(col("doc_id") < 100), docs.filter(col("doc_id") >= 100),
          numHashes = 64, bands = 16, threshold = 0.8))
      val e3 = intercept[IllegalArgumentException](
        CorpusOps.fuzzyDecontaminate(docs, docs.filter(col("doc_id") < 10)))
      for (e <- Seq(e1, e2, e3))
        assert(e.getMessage.contains("doc_id") && e.getMessage.contains(name), e.getMessage)
    }
  }
}
