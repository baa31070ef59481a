package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType}
import graft.TestSpark

/** [[TextOps.minhashLshPairs]] builds its candidates from the
  * row-local band buckets and verifies them on per-document token
  * sets. The token-table route it replaced — minhash signatures from a
  * shuffled (id, token) table, a bucket self-join and a token-level
  * intersection join ([[TokenTableMinhash]]) — is the reference.
  */
class MinhashLshSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tokenTableRoute(docs: DataFrame, threshold: Double): DataFrame = {
    val tok = docs.select(col("doc_id").as("id"), explode(TextOps.tokens(col("text"))).as("w")).distinct()
    TokenTableMinhash.lshPairs(tok, 64, 16, threshold)
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

  test("executed plan: the kernel runs once, no token explode, no exchange keyed on a token") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{GenerateExec, SerializeFromObjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    object H extends AdaptiveSparkPlanHelper
    val df = TextOps.minhashLshPairs(corpus(), numHashes = 64, bands = 16, threshold = 0.8)
    df.collect()
    val plan: SparkPlan = df.queryExecution.executedPlan
    // typed maps by the rows they emit: the kernel's (id, bucket), the
    // token sets' (id, toks)
    val emitted = H.collect(plan) { case s: SerializeFromObjectExec => s.output.map(_.dataType) }
    val kernels = emitted.count(_ == Seq(LongType, StringType))
    assert(kernels == 1, s"the kernel runs $kernels times:\n$plan")
    assert(emitted.count { case Seq(LongType, _: ArrayType) => true; case _ => false } == 1,
      s"token sets are not built once:\n$plan")
    val splits = H.collect(plan) { case g: GenerateExec if g.generator.toString.contains("split") => g }
    assert(splits.isEmpty, s"a Generate explodes split(text):\n$plan")
    val keys = H.collect(plan) {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.asInstanceOf[Attribute].name))
        case _ => Nil
      }
    }.flatten.toSet
    assert(keys.nonEmpty && keys.subsetOf(Set("bucket", "id_a", "id_b", "id")),
      s"exchange keys $keys:\n$plan")
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
