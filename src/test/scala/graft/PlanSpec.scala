package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.vector.VectorOps

/** Physical-plan assertions: the properties that matter at 100 TB —
  * column pruning reaching the parquet scan, filter pushdown, broadcast
  * joins for small sides, partial (map-side) aggregation, and
  * whole-stage codegen on the hot paths.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("grid scan prunes lineitem to the 3 needed columns") {
    val p = plan(Queries.grid0(spark, dir))
    val readSchema = "ReadSchema: struct<(.*?)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_partkey")
      && readSchema.contains("l_quantity"), s"schema was: $readSchema")
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_shipdate"),
      s"unpruned columns in: $readSchema")
  }

  test("parquet filter pushdown reaches the scan") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") > 45.0).select("l_orderkey")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      s"missing pushdown in:\n${p.take(2000)}")
  }

  test("brute-force top-k broadcasts the query side") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(VectorOps.bruteForceTopK(e, e.filter(col("vec_id") < 8), 5))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"no broadcast join in:\n${p.take(2000)}")
  }

  test("tpch q1 uses partial aggregation and whole-stage codegen") {
    val df = LlmQueries.all("q_tpch_q1")(spark, dir)
    df.collect() // finalize AQE so codegen stages materialize
    val p = plan(df)
    // two HashAggregates (partial + final) around the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg in:\n${p.take(2000)}")
    // "*(n)" operator prefix == WholeStageCodegen stage n in toString form
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"no whole-stage codegen in:\n${p.take(2000)}")
  }

  test("native cosine expression: codegen and interpreted eval agree, plan stays codegen'd") {
    import org.apache.spark.sql.functions.{array, col, lit}
    // non-foldable input (Range) so the expression must run in the
    // generated stage, not at constant-folding time
    val df = spark.range(1, 2).select(
      graft.vector.VectorOps.cosine(
        array(col("id").cast("double"), lit(2.0)), array(lit(2.0), lit(1.0))).as("sim"))
    assert(math.abs(df.collect()(0).getDouble(0) - 0.8) < 1e-15) // 4 / (sqrt5*sqrt5)
    val p = plan(df)
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"cosine fell out of whole-stage codegen:\n${p.take(2000)}")
    // interpreted eval path returns the identical double
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val e = graft.functions.CosineSimilarity(
      Literal.create(Array(1.0, 2.0), ArrayType(DoubleType)),
      Literal.create(Array(2.0, 1.0), ArrayType(DoubleType)))
    assert(e.eval(null).asInstanceOf[Double] == 4.0 / (math.sqrt(5.0) * math.sqrt(5.0)))
  }

  test("top-k rerank partial-aggregates: no window sort anywhere in the plan") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = VectorOps.bruteForceTopK(e, e.filter(col("vec_id") < 8), 5)
    df.collect() // finalize AQE
    val p = plan(df)
    assert(!p.contains("Window"), s"window sort survived in:\n${p.take(3000)}")
    // typed-aggregator aggregation, partial (map-side) + final around
    // the exchange: at most k rows per (partition, query) shuffle
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"no partial ObjectHashAggregate in:\n${p.take(3000)}")
  }

  test("stratified sample broadcasts the rate table; scrub and quantize plans are exchange-free") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val strat = graft.text.TextOps.stratifiedSample(docs, Map("en" -> 0.5))
    strat.collect()
    val ps = plan(strat)
    assert(ps.contains("BroadcastHashJoin"), s"rate join not broadcast in:\n${ps.take(2000)}")
    // redaction and quantization are narrow per-row transforms: no
    // Exchange anywhere — the shape that scales linearly at 100 TB
    for (df <- Seq(
        graft.text.TextOps.scrubPii(docs),
        VectorOps.quantizeInt8(spark.read.parquet(s"$dir/embeddings.parquet")))) {
      df.collect()
      val p = plan(df)
      assert(!p.contains("Exchange"), s"unexpected shuffle in:\n${p.take(2000)}")
    }
  }

  test("contamination broadcasts the eval-gram set") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.text.CorpusOps.contamination(docs, docs.filter(col("doc_id") % 50 === 0), 5)
    df.collect()
    val p = plan(df)
    // the eval suite is benchmark-sized; its gram set must never shuffle
    // the train grams — a broadcast join is the 100 TB shape
    assert(p.contains("BroadcastHashJoin"), s"eval grams not broadcast in:\n${p.take(3000)}")
  }

  test("decontaminateBloom probes with the native bloom expression — no ScalaUDF in the plan") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.text.CorpusOps.decontaminateBloom(
      docs, docs.filter(col("doc_id") % 50 === 0))
    df.collect()
    val p = plan(df)
    // the prefilter must be BloomFilterAggregate + BloomFilterMightContain
    // (both with real doGenCode, like Spark's injected runtime filters) —
    // a Scala UDF would break whole-stage codegen on the full train scan
    assert(!p.contains("ScalaUDF") && !p.toLowerCase.contains("pythonudf"),
      s"UDF in the bloom prefilter plan:\n${p.take(3000)}")
    assert(p.contains("might_contain"), s"native bloom probe missing in:\n${p.take(3000)}")
  }

  test("global-order operators plan no single-partition window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // packSequences (running token sum) keeps the RDD two-pass shape:
    // the final emit stage must be NARROW — no Window, no Exchange
    val ps = graft.text.OrderOps.packSequences(docs, 256)
    ps.collect()
    val pPack = plan(ps)
    assert(!pPack.contains("Window"), s"single-partition window in:\n${pPack.take(3000)}")
    assert(!pPack.contains("Exchange"), s"emit stage not narrow in:\n${pPack.take(3000)}")
    // shuffleOrder rides the r18 Tungsten globalPositions: the corpus
    // is range-shuffled ONCE before the cut; the final query may only
    // shuffle the per-partition COUNTS (p rows) and broadcast the
    // offsets back — never re-shuffle or window the corpus itself
    val so = graft.text.OrderOps.shuffleOrder(docs, "s")
    so.collect()
    val pSo = plan(so)
    assert(!pSo.contains("rangepartitioning"),
      s"corpus re-shuffled after the cut in:\n${pSo.take(3000)}")
    assert(pSo.contains("BroadcastHashJoin"),
      s"offsets not broadcast back in:\n${pSo.take(3000)}")
    boundedWindowsOnly("shuffleOrder", so)
  }

  test("event operators shuffle ONCE on the user key") {
    val ev = graft.events.EventOps.toMicros(spark.read.parquet(s"$dir/events.parquet"))
    // sessionize: the window exchange on user_id is the only shuffle —
    // the session aggregate's (user, session) grouping is satisfied by
    // the existing user partitioning (subset clustering), and the asof
    // union-tag plan needs only its per-user window sort; resample
    // adds the bounds aggregate's exchange (same key) and its tick
    // union re-shuffles into the carry window — still user-keyed only
    for ((df, wantMaxExchanges) <- Seq(
        (graft.events.EventOps.sessionize(ev, 4L * 3600 * 1000000L), 1),
        (graft.events.EventOps.asofLatest(ev, "purchase", "click"), 1),
        (graft.events.EventOps.resampleEvents(ev, 21600L * 1000000L), 3))) {
      df.collect()
      // AQE's toString repeats the pre-adaptive plan under
      // "== Initial Plan ==" — count exchanges in the final plan only
      val p = plan(df).split("== Initial Plan ==")(0)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(exchanges <= wantMaxExchanges,
        s"$exchanges hash exchanges (want <= $wantMaxExchanges) in:\n${p.take(3000)}")
    }
  }

  test("semanticDedup's similarity join is a cluster-keyed equi-join, never a cartesian") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = VectorOps.semanticDedup(e, k = 4, iters = 1, threshold = 0.35)
    df.collect()
    val p = plan(df)
    // the SemDeDup contract: the quadratic pair join is BOUNDED by the
    // kmeans clusters — it must plan as an equi-join on cluster_id
    // (hash or sort-merge), not a BroadcastNestedLoopJoin/cartesian
    // whose cost is corpus x corpus at any threshold
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cluster join degenerated to a cartesian in:\n${p.take(3000)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"no equi-join on cluster_id in:\n${p.take(3000)}")
  }

  test("audio fingerprint pairs plan as a band-bucket equi-join, never a cartesian") {
    import graft.multimodal.Multimodal
    val media = spark.createDataset((1L to 60L).map(id =>
      Multimodal.MediaRow(id, "audio", Multimodal.syntheticWav(id))))
    val sigs = Multimodal.audioFingerprints(media)
    val pairs = graft.text.TextOps.hammingPairs(sigs.toDF("id", "sig"),
      sigBits = 64, maxHamming = 2)
    pairs.collect()
    val p = plan(pairs)
    // the banded-Hamming contract: candidates come from the pigeonhole
    // band equi-join (cost = bucket occupancy), never pool²
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"banded join degenerated to a cartesian in:\n${p.take(3000)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"no equi-join on (band, bits) in:\n${p.take(3000)}")
  }

  test("chunkDupStats aggregates partially on both shuffles; heldout LM broadcasts the vocab scalar") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val cd = graft.text.TextOps.chunkDupStats(docs, k = 8)
    cd.collect()
    val pc = plan(cd).split("== Initial Plan ==")(0)
    // df-count and per-doc aggregations must combine map-side: the
    // shuffle carries distinct-chunk partials, not raw chunk rows
    assert("HashAggregate".r.findAllIn(pc).size >= 4,
      s"missing partial aggregation in:\n${pc.take(3000)}")
    val lm = graft.text.CorpusOps.bigramLmScoreHeldOut(
      docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
    lm.collect()
    val pl = plan(lm).split("== Initial Plan ==")(0)
    // the 1-row vocab count joins by broadcast, never a shuffle
    assert(pl.contains("BroadcastNestedLoopJoin") || pl.contains("BroadcastHashJoin"),
      s"vocab scalar not broadcast in:\n${pl.take(3000)}")
  }

  test("tokenBudgetPerStratum plans no per-stratum window — narrow emit from broadcast offsets") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.text.CorpusOps.tokenBudgetPerStratum(docs, budget = 1000)
    df.collect()
    val p = plan(df)
    // the naive form is Window PARTITION BY source ORDER BY hash — one
    // task sorts an entire stratum (the skew killer when one source
    // dominates). The two-pass form's emit stage must be narrow: no
    // Window and no Exchange after the checkpointed range shuffle
    assert(!p.contains("Window"), s"per-stratum window sort in:\n${p.take(3000)}")
    assert(!p.contains("Exchange"), s"emit stage not narrow in:\n${p.take(3000)}")
  }

  test("lengthPercentileCut broadcasts the per-stratum cutoff table") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.text.CorpusOps.lengthPercentileCut(docs, p = 0.25)
    df.collect()
    val p = plan(df)
    // the cutoff table is one row per stratum — it must join by
    // broadcast; a shuffle of the corpus side against it would be the
    // wrong shape at any scale. No window anywhere (the percentile is
    // a grouped aggregate, not a sort-based rank).
    assert(p.contains("BroadcastHashJoin"), s"cutoff table not broadcast in:\n${p.take(3000)}")
    assert(!p.contains("Window"), s"window sort in the percentile-cut plan:\n${p.take(3000)}")
  }

  test("capPerStratum aggregates with the bounded heap — no per-stratum window sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.text.TextOps.capPerStratum(docs, cap = 10)
    df.collect()
    val p = plan(df)
    assert(!p.contains("Window"), s"window sort in the cap plan:\n${p.take(3000)}")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"no partial heap aggregation in:\n${p.take(3000)}")
  }

  test("weighted sample keeps the heap-aggregate shape; link prediction stays equi-joined") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ws = graft.text.TextOps.weightedSamplePerStratum(docs, k = 5)
    ws.collect()
    val pw = plan(ws)
    assert(!pw.contains("Window"), s"window sort in the A-ES plan:\n${pw.take(3000)}")
    assert("ObjectHashAggregate".r.findAllIn(pw).size >= 2,
      s"no partial heap aggregation in:\n${pw.take(3000)}")
    // link prediction: wedge join, anti-join, and degree join must all
    // stay hash equi-joins — a BroadcastNestedLoop would be the
    // corpus-quadratic failure shape
    val ann = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("query_id", "cand_id")
    val lp = graft.vector.VectorOps.knnLinkPrediction(ann, topK = 5)
    lp.collect()
    val pl = plan(lp)
    assert(!pl.contains("BroadcastNestedLoop") && !pl.contains("CartesianProduct"),
      s"non-equi join in the link-prediction plan:\n${pl.take(3000)}")
    assert(pl.contains("TakeOrdered"),
      s"top-K not TakeOrdered in:\n${pl.take(3000)}")
  }

  test("clip predicate appears as a pushable filter, not a lambda") {
    val px = graft.model.Raster.pixelsFromDf(Queries.grid0(spark, dir))
    val clipped = graft.ops.SpatialOps.clipPixelsByBbox(px, Queries.gmSrc, 50.5, 57.5, 51.5, 58.5)
    val p = plan(clipped.toDF())
    // Column comparisons survive into the physical Filter; an opaque
    // Scala lambda would show as a typed filter over serialized objects
    assert(p.contains("(i#") && p.contains("(j#"), s"clip not columnar in:\n${p.take(2000)}")
  }

  test("bm25 top-k plans TakeOrdered (no global sort) and broadcasts df + corpus stats") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.text.CorpusOps.bm25TopK(docs, LlmQueries.Bm25Query, k = 20)
    df.collect()
    val p = plan(df)
    // top-k must be per-partition heaps + driver merge of k rows —
    // a global Sort before Limit would materialize the whole corpus
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered in:\n${p.take(3000)}")
    // df table (|query| rows) and (N, avgdl) scalars ride broadcasts
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1 &&
      p.contains("BroadcastNestedLoopJoin"), s"stats not broadcast in:\n${p.take(3000)}")
  }

  test("temperature mix weights: scalar joins broadcast, no window, one corpus scan aggregation") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.text.TextOps.temperatureMixWeights(docs, alpha = 0.7)
    df.collect()
    val p = plan(df)
    assert(!p.contains("Window"), s"window in the mix-weights plan:\n${p.take(3000)}")
    // total-tokens and normalizer are 1-row broadcasts over the
    // |sources|-row table — nothing after the first agg touches the corpus
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 2,
      s"scalars not broadcast in:\n${p.take(3000)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation in:\n${p.take(3000)}")
  }

  test("hashed classifier is fully narrow — zero exchanges, stream-transparent") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.text.TextOps.hashedClassifierScore(docs)
    df.collect()
    val p = plan(df)
    assert(!p.contains("Exchange"), s"shuffle in the classifier plan:\n${p.take(3000)}")
  }

  test("token fertility partial-aggregates; keepBest uses the struct-min agg, no window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val fert = graft.text.TextOps.tokenFertility(docs)
    fert.collect()
    val pf = plan(fert)
    assert("HashAggregate".r.findAllIn(pf).size >= 2,
      s"no partial aggregation in fertility plan:\n${pf.take(3000)}")
    val clusters = docs.limit(50).select(col("doc_id"), (col("doc_id") / 10).cast("long").as("cluster_id"))
    val kb = graft.text.TextOps.keepBestPerCluster(
      clusters, docs.select(col("doc_id"), col("n_chars").as("quality")))
    kb.collect()
    val pk = plan(kb)
    assert(!pk.contains("Window"), s"window in keepBest plan (struct-min expected):\n${pk.take(3000)}")
  }

  test("rrf fusion ends in TakeOrdered — per-partition heaps, no global sort of the corpus") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val lex = graft.text.CorpusOps.bm25TopK(docs, LlmQueries.Bm25Query, k = 50)
      .select(col("doc_id"), col("score"))
    val vec = graft.vector.VectorOps.bruteForceTopK(e, e.filter(col("vec_id") === 0), k = 50)
      .select(col("cand_id").as("doc_id"), col("sim").as("score"))
    val df = graft.text.CorpusOps.rrfFuse(Seq(lex, vec), k0 = 60, k = 20)
    df.collect()
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered in rrf plan:\n${p.take(3000)}")
  }

  test("dup-gram mass: df via one h-keyed window, no join, aggregates partially") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.text.TextOps.dupGramMass(docs, n = 5, minDf = 2)
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in dup-gram plan:\n${p.take(3000)}")
    // r18: df is a count over the h-partitioned window — the gram
    // stream is shuffled by h exactly once and never joined back
    assert(!p.contains("Join"), s"dup-gram should be join-free now:\n${p.take(3000)}")
    assert(p.contains("Window"), s"h-window df missing in:\n${p.take(3000)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation in:\n${p.take(3000)}")
    // the window is h-PARTITIONED, never the partition-less kind
    boundedWindowsOnly("dupGramMass", df)
  }

  test("cross-corpus novelty joins on the gram hash — equi-join, never cartesian") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.text.TextOps.crossCorpusNovelty(
      docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1), n = 3)
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in novelty plan:\n${p.take(3000)}")
    assert(p.contains("Join") && p.contains("h#"),
      s"gram-hash equi-join missing in:\n${p.take(3000)}")
  }

  test("cosine_sim registers as a SQL function backed by the codegen'd native expression") {
    graft.functions.GraftFunctions.register(spark)
    Seq((Array(1.0, 0.0), Array(1.0, 0.0)), (Array(1.0, 0.0), Array(0.0, 1.0)))
      .toDF("a", "b").createOrReplaceTempView("vecs")
    val out = spark.sql("SELECT cosine_sim(a, b) AS s FROM vecs").collect().map(_.getDouble(0))
    assert(math.abs(out(0) - 1.0) < 1e-12 && math.abs(out(1)) < 1e-12)
    // the SQL function resolves to the SAME expression class as the
    // Column API (one implementation, two surfaces)
    val p = plan(spark.sql("SELECT cosine_sim(a, b) FROM vecs"))
    assert(p.toLowerCase.contains("cosine"), p.take(800))
    // config-time injection path builds the same descriptors
    assert(new graft.functions.GraftExtensions().isInstanceOf[
      org.apache.spark.sql.SparkSessionExtensions => Unit])
    // squared_l2 rides the same registry: native codegen'd distance
    val l2 = spark.sql("SELECT squared_l2(a, b) AS d FROM vecs").collect().map(_.getDouble(0))
    assert(math.abs(l2(0)) < 1e-12 && math.abs(l2(1) - 2.0) < 1e-12, l2.mkString(","))
  }

  test("CMS probe joins the 2048-cell sketch broadcast; token count partial-aggregates") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.text.TextOps.cmsTokenFreq(docs, d = 4, w = 512, topK = 50)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"sketch not broadcast:\n${p.take(2000)}")
    // top-K is TakeOrdered (per-partition heaps), not a global Sort
    assert(p.contains("TakeOrderedAndProject"), s"top-K not TakeOrdered:\n${p.take(2000)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n${p.take(2000)}")
  }

  test("funnel: every step join is a hash equi-join on the user key, no cartesian on data") {
    val ev = graft.events.EventOps.toMicros(spark.read.parquet(s"$dir/events.parquet"))
    val df = graft.events.EventOps.funnel(
      ev, Seq("view", "click", "purchase"), within = 86400000000L)
    df.collect()
    val p = plan(df)
    // the only BNL/cartesian allowed is the final 1-row conversion
    // scalar; the per-step joins must be equi-joins
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(p).nonEmpty,
      s"no equi-join found:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), s"cartesian on data:\n${p.take(2000)}")
  }

  test("source overlap: intersection is an equi-join on the gram hash, grid side broadcast") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.text.TextOps.sourceOverlapMatrix(docs, n = 3)
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian on data:\n${p.take(2000)}")
    // the |sources|^2 grid is the broadcast side of its joins
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"grid not broadcast:\n${p.take(2000)}")
  }

  test("bigram PMI: top-K is TakeOrdered; scalar totals broadcast, never cartesian on data") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.text.TextOps.bigramPmi(docs, minCount = 5L, topK = 20)
    df.collect()
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), s"top-K not TakeOrdered:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), s"cartesian on data:\n${p.take(2000)}")
  }

  test("threshold sweep: bucket join broadcasts the threshold list, base join stays equi") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") < 100)
    val df = graft.text.TextOps.dedupThresholdSweep(docs, thresholds = Seq(0.7, 0.9))
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian on data:\n${p.take(2000)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"threshold list not broadcast:\n${p.take(2000)}")
  }

  test("dedup rewrite: keyed first-occurrence agg + equi-join on the chunk digest, no window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") < 150)
    val df = graft.text.TextOps.dedupChunksRewrite(docs, k = 8)
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian:\n${p.take(2000)}")
    // first-occurrence selection must be an aggregation, never a
    // corpus-wide row_number window (single-task sort at scale)
    assert(!p.contains("Window"), s"window in rewrite plan:\n${p.take(2000)}")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(p).nonEmpty,
      s"no equi-join:\n${p.take(2000)}")
  }

  test("epoch repeats: per-source ratio table broadcast onto the corpus scan") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.text.CorpusOps.epochRepeats(docs, LlmQueries.EpochWeights, 100000L)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"ratio table not broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n${p.take(2000)}")
  }

  test("bpe pair stats: vocabulary-compressed partial agg, top-K is TakeOrdered") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.text.TextOps.bpePairStats(docs, topK = 20)
    df.collect()
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), s"top-K not TakeOrdered:\n${p.take(2000)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n${p.take(2000)}")
  }

  test("drift operators: keyed joins only, totals broadcast, no cartesian") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val sd = graft.text.CorpusOps.sourceDrift(docs, docs.filter(col("doc_id") % 2 === 0))
    sd.collect()
    val p1 = plan(sd)
    assert(!p1.contains("CartesianProduct"), s"cartesian in sourceDrift:\n${p1.take(2000)}")
    assert(p1.contains("BroadcastHashJoin"), s"totals not broadcast:\n${p1.take(2000)}")
    val ev = graft.events.EventOps.toMicros(spark.read.parquet(s"$dir/events.parquet"))
    val ed = graft.events.EventOps.eventTypeDrift(ev, bucket = 21600L * 1000000L)
    ed.collect()
    val p2 = plan(ed)
    assert(!p2.contains("CartesianProduct"), s"cartesian in eventTypeDrift:\n${p2.take(2000)}")
  }

  test("order materializers assign positions without a corpus-wide window") {
    // r18 Tungsten globalPositions shape (see the global-order test):
    // the corpus is range-shuffled once before the cut; the final
    // query may window/shuffle only the per-partition COUNTS and must
    // broadcast the offsets back — never row_number the corpus
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val cur = graft.text.OrderOps.curriculumOrder(docs, nBuckets = 4)
    cur.collect()
    assert(!plan(cur).contains("rangepartitioning"),
      "curriculumOrder re-shuffled the corpus after the cut")
    boundedWindowsOnly("curriculumOrder", cur)
    val es = graft.text.OrderOps.epochStream(
      graft.text.CorpusOps.epochRepeats(docs, LlmQueries.EpochWeights, 100000L))
    es.collect()
    assert(!plan(es).contains("rangepartitioning"),
      "epochStream re-shuffled the corpus after the cut")
    boundedWindowsOnly("epochStream", es)
  }

  test("retention cohorts: three keyed aggregations, joins on the user key only") {
    val ev = graft.events.EventOps.toMicros(spark.read.parquet(s"$dir/events.parquet"))
    val df = graft.events.EventOps.retentionCohorts(
      ev, "signup", bucket = 604800000000L, maxOffset = 4)
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian:\n${p.take(2000)}")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(p).nonEmpty)
  }

  test("kNN PageRank iterations stay equi-joins; rank exchange is keyed by node") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet").filter(col("vec_id") < 64)
    val ann = VectorOps.annTopK(e, numPlanes = 8, dims = 64, k = 5)
    val df = VectorOps.knnPageRank(ann, iters = 3)
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in pagerank:\n${p.take(2000)}")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(p).nonEmpty)
  }

  test("dup substring spans: keyed equi-join on the gram, per-doc islands window, no object path") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.text.CorpusOps.dupSubstringSpans(docs)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // r18: the span merge is a per-DOCUMENT gaps-and-islands window
    // (partitioned by id — never corpus-wide; checked structurally)
    // replacing the typed MapGroups kernel, so no object round trip
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val unpartitioned = df.queryExecution.optimizedPlan
      .collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    assert(unpartitioned.isEmpty,
      s"partition-less window in dupSubstringSpans:\n${p.take(2000)}")
    assert(!p.contains("MapGroups") && !p.contains("SerializeFromObject"),
      s"object path survived in dupSubstringSpans:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n${p.take(2000)}")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(p).nonEmpty,
      "gram join must be an equi-join")
  }

  test("relational anchors: Q4/Q8/Q21/Q22 semi- and anti-join logical shapes survive optimization") {
    // The EXISTS / NOT EXISTS family must stay genuine semi/anti joins
    // after the optimizer runs — a rewrite into an inner join + distinct
    // or an aggregate would double fact-scan work at 100 TB.
    import org.apache.spark.sql.catalyst.plans.{LeftAnti => LA, LeftSemi => LS}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def joinTypes(name: String) = LlmQueries.all(name)(spark, dir)
      .queryExecution.optimizedPlan.collect { case j: Join => j.joinType }
    assert(joinTypes("q_tpch_q4").contains(LS), "q4 lost its semi-join")
    assert(joinTypes("q_tpch_q8").contains(LS), "q8 region membership must be a semi-join")
    val q21 = joinTypes("q_tpch_q21")
    assert(q21.contains(LS), "q21 lost its orders semi-join")
    assert(joinTypes("q_tpch_q22").contains(LA), "q22 lost its anti-join")
  }

  test("relational anchors: Q21 pays the lineitem fact scan exactly once") {
    // The single-scan rewrite (r11 verdict #5): the EXISTS / NOT EXISTS
    // pair over the same fact is expressed as a per-(order, supplier)
    // aggregate + per-order window, so the plan has ONE lineitem scan
    // — not the three (l1 / lAll / lRet) of the literal semi/anti form.
    // At 100 TB the fact scan dominates; two of the three were
    // redundant reads of the same columns.
    val df = LlmQueries.all("q_tpch_q21")(spark, dir)
    df.collect()
    // count scans in the FINAL adaptive plan only (toString repeats the
    // pre-AQE Initial Plan below it, which would double the count)
    val p = plan(df).split("== Initial Plan ==")(0)
    val lineitemScans = "lineitem".r.findAllIn(
      "Scan parquet[^\\n]*".r.findAllIn(p).mkString("\n")).size
    assert(lineitemScans == 1,
      s"q21 must scan lineitem exactly once, saw $lineitemScans:\n${p.take(3000)}")
    // the pair aggregate must map-side combine before its shuffle
    assert(p.contains("partial_sum") || p.contains("partial"),
      s"pair aggregate lost its partial phase:\n${p.take(2000)}")
  }

  test("relational anchors: Q19 disjunctive residual keeps the part join equi") {
    // The OR-of-bundles predicate must NOT degrade the p_partkey join
    // into a nested-loop/cartesian — it is a post-join residual on top
    // of an equi hash/merge join.
    val df = LlmQueries.all("q_tpch_q19")(spark, dir)
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in q19:\n${p.take(2000)}")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in q19:\n${p.take(2000)}")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(p).nonEmpty,
      "q19 part join must be an equi-join")
  }

  test("relational anchors: Q15 max-over-view aggregates lineitem exactly once") {
    // The scalar MAX must come from the SAME materialized per-supplier
    // view the ranking reads — the checkpointed-view idiom. Without it
    // the two uses canonicalize differently (the join adds an isnotnull
    // constraint) and ReuseExchange misses, re-scanning lineitem. After
    // the checkpoint the final plan reads the materialized view for
    // both sides and never touches the lineitem file again.
    val df = LlmQueries.all("q_tpch_q15")(spark, dir)
    df.collect()
    val p = plan(df)
    assert(!p.contains("lineitem"),
      s"q15 re-scans lineitem for the max:\n${p.take(3000)}")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      s"q15 should read the checkpointed view:\n${p.take(3000)}")
  }

  test("relational anchors: Q2/Q11/Q16/Q20 decorrelated shapes survive optimization") {
    import org.apache.spark.sql.catalyst.plans.{LeftAnti => LA, LeftSemi => LS}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def joinTypes(name: String) = LlmQueries.all(name)(spark, dir)
      .queryExecution.optimizedPlan.collect { case j: Join => j.joinType }
    // Q2: the part and euro-supplier prunes must stay semi-joins on
    // the fact (an inner rewrite would duplicate lines per dim row)
    assert(joinTypes("q_tpch_q2").count(_ == LS) >= 2,
      s"q2 lost its pruning semi-joins: ${joinTypes("q_tpch_q2")}")
    // Q16: the complaint exclusion must stay a genuine anti-join
    assert(joinTypes("q_tpch_q16").contains(LA), "q16 lost its anti-join")
    // Q20: nation-filtered supplier semi-join chain
    assert(joinTypes("q_tpch_q20").count(_ == LS) >= 2,
      s"q20 needs the part prune + overstock semi: ${joinTypes("q_tpch_q20")}")
    // Q20's correlated half-sum is ONE conditional aggregation: the
    // fact appears exactly once in the plan
    val q20 = plan(LlmQueries.all("q_tpch_q20")(spark, dir))
    assert("lineitem".r.findAllIn(q20).size <= 1,
      s"q20 re-scans lineitem:\n${q20.take(3000)}")
    // Q11: the value view is checkpointed — the grand total must fold
    // from the view, never a second fact scan
    val df11 = LlmQueries.all("q_tpch_q11")(spark, dir)
    df11.collect()
    val p11 = plan(df11)
    assert(!p11.contains("lineitem"),
      s"q11 re-scans lineitem for the total:\n${p11.take(3000)}")
    // Q9: the multi-fact star pays its lineitem scan exactly once
    // (the Q21 single-scan discipline — part/supplier/partsupp/
    // orders/nation are dims, the fact never re-enters for the
    // profit expression)
    val q9 = plan(LlmQueries.all("q_tpch_q9")(spark, dir))
    assert("lineitem".r.findAllIn(q9).size <= 1,
      s"q9 re-scans lineitem:\n${q9.take(3000)}")
    // no cartesian / BNLJ on DATA in the five new anchors (Q11's
    // scalar-threshold join is a 1-ROW broadcast BNLJ by design — the
    // accepted Q22 shape — so it is checked above via the view reuse,
    // not here)
    for (q <- Seq("q_tpch_q2", "q_tpch_q9", "q_tpch_q16", "q_tpch_q20")) {
      val p = plan(LlmQueries.all(q)(spark, dir))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"non-equi join shape in $q:\n${p.take(2000)}")
    }
  }

  test("relational anchors: Q12/Q13/Q14 classification, left-join and single-scan shapes") {
    import org.apache.spark.sql.catalyst.plans.{LeftOuter => LO}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    // Q13: the zero-order customers survive ONLY if the join stays a
    // genuine LEFT OUTER, and the per-custkey count must aggregate the
    // fact BELOW the join (aggregating after would shuffle every order
    // row against customer at 100 TB instead of a custkey-sized side)
    val q13 = LlmQueries.all("q_tpch_q13")(spark, dir).queryExecution.optimizedPlan
    val q13joins = q13.collect { case j: Join => j }
    assert(q13joins.map(_.joinType).contains(LO), "q13 lost its left outer join")
    val aggBelowJoin = q13joins.exists(_.right.collect { case a: Aggregate => a }.nonEmpty)
    assert(aggBelowJoin,
      s"q13 must pre-aggregate orders below the join:\n${q13.treeString.take(2000)}")
    // Q14: the promo share is ONE conditional aggregate over ONE
    // date-filtered lineitem scan — a second scan for the denominator
    // is the classic Q14 anti-pattern
    val df14 = LlmQueries.all("q_tpch_q14")(spark, dir)
    df14.collect()
    val p14 = plan(df14).split("== Initial Plan ==")(0)
    assert("lineitem".r.findAllIn(p14).size <= 1,
      s"q14 re-scans lineitem for the total:\n${p14.take(3000)}")
    assert(!p14.contains("CartesianProduct") && !p14.contains("BroadcastNestedLoopJoin"),
      s"q14 part join degraded:\n${p14.take(2000)}")
    assert(p14.contains("PushedFilters: [IsNotNull(l_shipdate)") || p14.contains("GreaterThanOrEqual(l_shipdate"),
      s"q14 date filter not pushed to the scan:\n${p14.take(3000)}")
    // Q12: both lineitem predicates reach the parquet scan, the order
    // join stays equi, and the two-level counts partial-aggregate
    val df12 = LlmQueries.all("q_tpch_q12")(spark, dir)
    df12.collect()
    val p12 = plan(df12).split("== Initial Plan ==")(0)
    assert(p12.contains("EqualTo(l_returnflag,N)"),
      s"q12 returnflag filter not pushed:\n${p12.take(3000)}")
    // the explain string truncates long PushedFilters lists mid-token
    // ("GreaterThanOrEqual(l_sh..."), so match the survivable prefix
    assert(p12.contains("GreaterThanOrEqual(l_sh"),
      s"q12 shipdate filter not pushed:\n${p12.take(3000)}")
    assert(!p12.contains("CartesianProduct") && !p12.contains("BroadcastNestedLoopJoin"),
      s"q12 join degraded:\n${p12.take(2000)}")
    assert(p12.contains("partial_sum"),
      s"q12 counts must map-side combine:\n${p12.take(3000)}")
  }

  test("r14 additions: BT reads the duel cut not the corpus; syndication/patch stay keyed") {
    // Bradley–Terry: the unrolled MM rounds must derive from the
    // sources²-sized lineage cut — a `documents` scan inside the face
    // plan means the lazy form is back (it re-scanned the corpus once
    // per plan reference and measured slower at 1x than 10x)
    val bt = LlmQueries.all("q_pref_bradley_terry")(spark, dir)
    bt.collect()
    val pbt = plan(bt).split("== Initial Plan ==")(0)
    assert(!pbt.contains("documents"),
      s"BT MM tail re-scans the corpus:\n${pbt.take(2000)}")
    assert(!pbt.contains("CartesianProduct"),
      s"cartesian in BT tail:\n${pbt.take(2000)}")
    // syndication: cluster-keyed equi rollup over the memoized labels
    val syn = LlmQueries.all("q_dedup_syndication")(spark, dir)
    syn.collect()
    val psyn = plan(syn)
    assert(!psyn.contains("CartesianProduct") && !psyn.contains("Window"),
      s"syndication must stay a keyed rollup:\n${psyn.take(2000)}")
    // vocab patch: corpus word counts partial-aggregate before the
    // shuffle; the only Window is the 7-row post-limit ranker
    val pat = LlmQueries.all("q_tokenizer_patch")(spark, dir)
    pat.collect()
    val ppat = plan(pat).split("== Initial Plan ==")(0)
    assert(!ppat.contains("CartesianProduct"), s"cartesian in patch:\n${ppat.take(2000)}")
    assert(ppat.contains("partial_count") || ppat.contains("Partial"),
      s"patch word counts must map-side combine:\n${ppat.take(2000)}")
    // upsets: same contract as the BT fit — pair tail reads the cut
    val up = LlmQueries.all("q_pref_upsets")(spark, dir)
    up.collect()
    val pup = plan(up).split("== Initial Plan ==")(0)
    assert(!pup.contains("documents"),
      s"upset tail re-scans the corpus:\n${pup.take(2000)}")
    // gini: the ranked fold's window is |sources|-rows — it must sit
    // ABOVE the map-side-combined token aggregation, never on the
    // token stream
    val gi = LlmQueries.all("q_source_gini")(spark, dir)
    gi.collect()
    val pgi = plan(gi).split("== Initial Plan ==")(0)
    assert(pgi.contains("partial_count"),
      s"gini token masses must map-side combine:\n${pgi.take(2000)}")
    // inflation: keyed join + one fold, no window, no cartesian
    val inf = LlmQueries.all("q_dedup_inflation")(spark, dir)
    inf.collect()
    val pinf = plan(inf)
    assert(!pinf.contains("CartesianProduct") && !pinf.contains("Window"),
      s"inflation must stay a keyed fold:\n${pinf.take(2000)}")
  }

  test("r15 additions: funnel/cycles/VAD/image-entropy/audio-CC plan shapes") {
    // filter funnel: one map-side-combined aggregation over the mask
    // rows; the only cross joins combine the 1-row corpus count
    val fu = LlmQueries.all("q_filter_funnel")(spark, dir)
    fu.collect()
    val pfu = plan(fu).split("== Initial Plan ==")(0)
    assert(!pfu.contains("Window"), s"funnel must not window:\n${pfu.take(2000)}")
    assert(pfu.contains("partial_count") || pfu.contains("Partial"),
      s"funnel stage counts must map-side combine:\n${pfu.take(2000)}")
    // pref cycles: the sources³ triangle tail never re-scans the
    // corpus (it derives from the duel lineage cut) and every join in
    // the tail is contestant-keyed
    val cy = LlmQueries.all("q_pref_cycles")(spark, dir)
    cy.collect()
    val pcy = plan(cy).split("== Initial Plan ==")(0)
    assert(!pcy.contains("documents"),
      s"cycle tail re-scans the corpus:\n${pcy.take(2000)}")
    assert(!pcy.contains("CartesianProduct"),
      s"cartesian in cycle tail:\n${pcy.take(2000)}")
    // VAD: the island merge's only Window is doc_id-partitioned —
    // a global (empty-partition-spec) window would serialize the
    // corpus through one task
    val va = LlmQueries.all("q_multimodal_vad")(spark, dir)
    va.collect()
    val pva = plan(va)
    assert(!pva.contains("Window [") || !pva.contains("windowspecdefinition()"),
      s"global window in VAD plan:\n${pva.take(2000)}")
    assert(pva.contains("doc_id"), s"VAD window not doc-keyed:\n${pva.take(2000)}")
    // image entropy: row-local decode + fold — no exchange at all
    // before the face's final sort
    val ie = LlmQueries.all("q_multimodal_image_entropy")(spark, dir)
    ie.collect()
    val pie = plan(ie)
    assert(!pie.contains("Window") && !pie.contains("CartesianProduct"),
      s"image entropy must stay row-local:\n${pie.take(2000)}")
    // audio CC pairs: banded equi-join, never cartesian
    val ap = LlmQueries.all("q_multimodal_audio_cc_pairs")(spark, dir)
    ap.collect()
    val pap = plan(ap)
    assert(!pap.contains("CartesianProduct") && !pap.contains("BroadcastNestedLoopJoin"),
      s"audio pair join degenerated:\n${pap.take(2000)}")
  }

  test("video near-dup pairs plan as a frame-aligned band equi-join, never a cartesian") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    val frames = (1L to 40L).flatMap { id =>
      (0 until 3).map(f => (id, f.toLong, Multimodal.syntheticPngFrame(id, f)))
    }.toDF("doc_id", "frame_idx", "payload")
    val pairs = Multimodal.videoNearDupPairs(
      Multimodal.frameHashes(frames), maxHamming = 2)
    pairs.collect()
    val p = plan(pairs)
    // candidates come from the (frame_idx, band, bits) pigeonhole
    // equi-join — cost = bucket occupancy, never videos²; the quorum
    // rollup is a keyed aggregation, no corpus-wide window
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"video banded join degenerated to a cartesian in:\n${p.take(3000)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"no equi-join on (f, band, bits) in:\n${p.take(3000)}")
    assert(!p.contains("Window"),
      s"unexpected window in the video pair rollup:\n${p.take(3000)}")
    // shingle face: gram equi-join + keyed rollup, window-free,
    // never cartesian
    val sh = Multimodal.sequenceShinglePairs(
      Multimodal.frameHashes(frames), k = 2)
    sh.collect()
    val psh = plan(sh)
    assert(!psh.contains("CartesianProduct") && !psh.contains("BroadcastNestedLoopJoin"),
      s"shingle gram join degenerated:\n${psh.take(3000)}")
    assert(!psh.contains("Window"),
      s"unexpected window in the shingle rollup:\n${psh.take(3000)}")
    // the gram-step join must carry the frame-offset column IN ITS
    // EQUI-KEYS (vid, fn) — a vid-only join with an `fn = f + step`
    // post-filter is per-video frames²: invisible on 3-frame fixtures,
    // fatal on hour-long videos. The operator builds `fn` structurally;
    // this pin fails if that ever regresses to filter-reliant keys.
    val gramJoinKeys =
      raw"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\n]*vid#\d+L?, fn#\d+".r
    assert(gramJoinKeys.findFirstIn(psh).isDefined,
      s"gram-step join lost the (vid, fn) equi-keys:\n${psh.take(3000)}")
  }

  test("unified dedup endpoints: keyed joins only, no cartesian, no corpus window") {
    // both _all faces union two edge predicates (aligned/fp quorum +
    // gram quorum) into one CC — every join must stay banded/gram/
    // class-keyed; a cartesian or corpus-wide window here would be
    // the videos² shape the quotient machinery exists to avoid
    for (name <- Seq("q_multimodal_video_dup_clusters_all",
        "q_multimodal_audio_dup_clusters_all")) {
      val f = LlmQueries.all(name)(spark, dir)
      f.collect()
      val p = plan(f)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name degenerated to a cartesian:\n${p.take(3000)}")
      assert(!p.contains("Window"),
        s"unexpected window in $name:\n${p.take(3000)}")
    }
  }

  test("graph metrics and reports: keyed joins only, bounded final aggregates") {
    // modularity: every join is node-/label-keyed; the only cross
    // joins combine 1-row aggregates
    val pm = plan(LlmQueries.all("q_knn_modularity")(spark, dir))
    assert(!pm.contains("CartesianProduct"), s"cartesian in modularity:\n${pm.take(2000)}")
    // bootstrap: the expansion partial-aggregates map-side (one
    // partial_sum under the replica groupBy before the exchange)
    val pb = plan(LlmQueries.all("q_bootstrap_ci")(spark, dir))
    assert(pb.contains("partial_sum") || pb.contains("Partial"),
      s"bootstrap replica sums must partial-aggregate:\n${pb.take(3000)}")
    // layout/batching reports: no corpus-wide window — positions come
    // from the range-sort + partition-offset machinery; the only
    // window allowed is the one over the per-partition COUNTS
    // aggregate (bounded by the shuffle partition count), checked
    // structurally in the bounded-window inventory test below
    for (q <- Seq("q_pad_waste", "q_zorder_layout")) {
      val df = LlmQueries.all(q)(spark, dir)
      df.collect()
      boundedWindowsOnly(q, df)
    }
  }

  /** Every partition-less Window in `df`'s optimized plan must sit
    * above an Aggregate or a Limit — i.e. its input is a grouped or
    * truncated table, never raw corpus rows. This is the structural
    * form of "the single-partition window is bounded": the classic
    * 100 TB scale-killer is `Window.orderBy` over per-ROW data.
    */
  private def boundedWindowsOnly(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, Window => LWindow}
    val plan = df.queryExecution.optimizedPlan
    val unpartitioned = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    unpartitioned.foreach { w =>
      val bounded = w.child.collectFirst {
        case _: Aggregate => true
        case _: GlobalLimit => true
        case _: LocalLimit => true
      }.isDefined
      assert(bounded,
        s"$name: partition-less Window over a non-aggregated input (corpus-sized single-partition sort):\n$w")
    }
  }

  test("partition-less window inventory: every single-partition window input is a bounded aggregate or limit") {
    // the complete inventory of Window-without-partitionBy sites in the
    // engine (grep-audited in r18), face by face:
    //  - q_source_gini      TextOps.sourceGini: ranks the per-SOURCE token
    //    mass table (one row per source)
    //  - q_len_ks_drift     CorpusOps KS stat: cumulative sums over the
    //    per-distinct-LENGTH count table (≤ max doc token count rows)
    //  - q_hybrid_rrf       CorpusOps.rrfFuse: ranks top-k retrieval
    //    lists (≤ 50 rows per list by construction)
    //  - q_tokenizer_patch  7-row post-limit ranking
    //  - q_zorder_layout / q_pad_waste / q_equidepth_hist
    //    OrderOps.globalPositions: exclusive prefix over the
    //    per-shuffle-partition COUNTS aggregate (≤ numShufflePartitions
    //    rows)
    for (q <- Seq("q_source_gini", "q_len_ks_drift", "q_hybrid_rrf",
        "q_tokenizer_patch", "q_zorder_layout", "q_pad_waste",
        "q_equidepth_hist")) {
      boundedWindowsOnly(q, LlmQueries.all(q)(spark, dir))
    }
  }

  test("bucketed co-located join: zero exchanges feed the sort-merge join") {
    // the whole point of BucketedIO: both scans expose matching
    // HashPartitioning(orderkey, 32), so the SMJ plans WITHOUT a
    // shuffle on either input — the only exchange left in the plan is
    // the final single-key aggregation
    val df = LlmQueries.all("q_bucketed_join")(spark, dir)
    df.collect()
    val p = plan(df)
    assert(p.contains("SortMergeJoin"), s"bucketed join lost SMJ:\n${p.take(2000)}")
    assert(!"Exchange hashpartitioning\\((l_orderkey|o_orderkey)".r
      .findFirstIn(p).isDefined,
      s"the bucketed join still shuffles a side:\n${p.take(3000)}")
  }

  test("key skew report: one keyed aggregation + the bounded TopK heap, no window") {
    val df = LlmQueries.all("q_key_skew")(spark, dir)
    val p = plan(df)
    assert(!p.contains("Window"), s"window in the skew plan:\n${p.take(2000)}")
    assert(p.contains("partial_"),
      s"key histogram must partial-aggregate map-side:\n${p.take(3000)}")
  }

  test("no broadcast hint sits on an unbuildable join side anywhere in the harness") {
    // A broadcast hint on the stream-preserved side of an outer join is
    // silently dropped at strategy time (HintErrorLogger warning + plan
    // fallback) — the intent bug the round-8 funnel had. Rather than
    // scraping logs, walk every harness query's OPTIMIZED plan: by then
    // EliminateResolvedHint has attached hints to their Join nodes, so
    // an illegal-side hint is directly visible. Buildable sides mirror
    // Spark's JoinSelection.canBuildBroadcastLeft/Right.
    import org.apache.spark.sql.catalyst.plans._
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    def buildableLeft(t: JoinType): Boolean = t match {
      case Inner | Cross | RightOuter => true
      case _ => false
    }
    def buildableRight(t: JoinType): Boolean = t match {
      case Inner | Cross | LeftOuter | LeftSemi | LeftAnti => true
      case _: ExistenceJoin => true
      case _ => false
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val joins =
        try fn(spark, dir).queryExecution.optimizedPlan.collect { case j: Join => j }
        catch { case e: Throwable => fail(s"$name failed to plan: $e") }
      joins.collect {
        case j if (j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) && !buildableLeft(j.joinType))
            || (j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) && !buildableRight(j.joinType)) =>
          s"$name: ${j.joinType} left=${j.hint.leftHint} right=${j.hint.rightHint}"
      }
    }
    assert(offenders.isEmpty, s"unhonorable broadcast hints:\n${offenders.mkString("\n")}")
  }

  test("round-12 bands: silhouette broadcast pass, drift partial agg, mv-merge join shapes") {
    // silhouette: the k seeds broadcast; the corpus never self-joins
    val sil = LlmQueries.all("q_cluster_silhouette")(spark, dir)
    sil.collect()
    val pSil = plan(sil).split("== Initial Plan ==")(0)
    assert(pSil.contains("BroadcastNestedLoopJoin") || pSil.contains("BroadcastExchange"),
      s"silhouette must broadcast the seed side:\n${pSil.take(2000)}")
    assert(!pSil.contains("SortMergeJoin"),
      s"corpus-sized join in silhouette:\n${pSil.take(2000)}")
    // embedding drift: both posexplode passes partial-aggregate before
    // their one shuffle (labels x dims rows, never corpus-sized)
    val drift = LlmQueries.all("q_embed_drift")(spark, dir)
    drift.collect()
    val pDrift = plan(drift).split("== Initial Plan ==")(0)
    assert(pDrift.contains("partial_sum") || pDrift.contains("partial"),
      s"drift lost map-side combine:\n${pDrift.take(2000)}")
    assert(!pDrift.contains("CartesianProduct"))
    // mv maintenance: the merge is a FULL OUTER join of two aggregate
    // states — full outer survives optimization (it cannot broadcast,
    // and must never degrade to a cartesian)
    import org.apache.spark.sql.catalyst.plans.{FullOuter => FO}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val mvTypes = LlmQueries.all("q_mv_maintain")(spark, dir)
      .queryExecution.optimizedPlan.collect { case j: Join => j.joinType }
    assert(mvTypes.contains(FO), s"mv merge lost its full-outer join: $mvTypes")
  }

  test("round-13 bands: row-local audits, keyed as-of window, bounded folds, local waterfill") {
    // quality audit is ONE row-local pass: no exchange anywhere
    val audit = LlmQueries.all("q_quality_audit")(spark, dir)
    audit.collect()
    val pAudit = plan(audit).split("== Initial Plan ==")(0)
    assert(!pAudit.contains("Exchange"),
      s"quality audit must stay shuffle-free:\n${pAudit.take(2000)}")
    // pii inventory / k-anonymity: map-side combine before the one
    // shuffle, no window, no cartesian
    for (q <- Seq("q_pii_inventory", "q_k_anonymity")) {
      val df = LlmQueries.all(q)(spark, dir)
      df.collect()
      val p = plan(df).split("== Initial Plan ==")(0)
      assert(p.contains("partial"), s"$q lost map-side combine:\n${p.take(2000)}")
      assert(!p.contains("Window") && !p.contains("CartesianProduct"),
        s"window/cartesian in $q:\n${p.take(2000)}")
    }
    // forward as-of: exactly one Window, partitioned by the user key
    // (a partition-less window would single-task the event stream)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LW}
    val asof = LlmQueries.all("q_events_asof_fwd")(spark, dir)
    val wins = asof.queryExecution.optimizedPlan.collect { case w: LW => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"as-of window must be user-keyed: ${wins.map(_.partitionSpec)}")
    // centroid families: the corpus joins only against broadcast
    // label-sized sides — no sort-merge join anywhere
    for (q <- Seq("q_label_centroid_dots", "q_centroid_outliers")) {
      val df = LlmQueries.all(q)(spark, dir)
      df.collect()
      val p = plan(df).split("== Initial Plan ==")(0)
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"corpus-sized join in $q:\n${p.take(3000)}")
    }
    // waterfill: the face is a driver-built single pinned partition
    val wf = LlmQueries.all("q_token_waterfill")(spark, dir)
    assert(wf.rdd.getNumPartitions == 1, "waterfill face must stay one partition")
    // ks drift: the cumulative window runs over the DISTINCT-LENGTH
    // aggregate (its child contains the length groupBy), never the
    // raw corpus rows
    val ks = LlmQueries.all("q_len_ks_drift")(spark, dir)
    val ksWins = ks.queryExecution.optimizedPlan.collect { case w: LW => w }
    assert(ksWins.nonEmpty && ksWins.forall(_.child.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isDefined), "ks window must sit above the length-domain aggregate")
  }

  test("unigram memo: segment and encode never retrain once training ran") {
    // The artifact-sharing contract (r11 verdict #4): after
    // q_unigram_train populates ugMemo, the segment/encode endpoints
    // must derive from the memoized artifacts — the driver-held vocab
    // Seq and the localCheckpointed word table — and NEVER re-enter the
    // hard-EM loop. Training is loud in job terms (substring-seed
    // collects plus one Viterbi-count job per EM round, >= 5 jobs);
    // segment/encode alone are 1-2 jobs. A listener counts jobs across
    // each endpoint's build+collect; the bound separates the two
    // regimes with slack for AQE stage jobs.
    LlmQueries.all("q_unigram_train")(spark, dir).collect()
    val (_, jobs) = org.apache.spark.sql.GraftJobProbe.jobs(spark) {
      LlmQueries.all("q_unigram_segment")(spark, dir).collect()
      LlmQueries.all("q_unigram_encode")(spark, dir).collect()
    }
    assert(jobs <= 6,
      s"segment+encode ran $jobs jobs after training — " +
        "a re-training leak (the EM loop alone is >= 5 jobs)")
    // and segment's plan proves it: no parquet scan at all — the word
    // table is the checkpointed training artifact, not a corpus read
    val segPlan = plan(LlmQueries.all("q_unigram_segment")(spark, dir))
      .split("== Initial Plan ==")(0)
    assert(!segPlan.contains("Scan parquet"),
      s"segment re-scanned the corpus:\n${segPlan.take(2000)}")
  }
}
