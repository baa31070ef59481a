package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.vector.VectorOps
import graft.multimodal.Multimodal

class TextVectorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def docsDf = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
    (2L, "the quick brown fox leaps over the lazy dog"),   // near dup
    (3L, "completely different words entirely unrelated text"),
    (4L, "the quick brown fox jumps over a lazy dog")      // near dup
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val out = TextOps.exactDedup(docsDf).collect()
    assert(out.length == 4) // docs 0/1 collapse
    val dup = out.find(_.getAs[Long]("n_dups") == 2L).get
    assert(dup.getAs[Long]("doc_id") == 0L)
  }

  test("jaccard pairs find near dups with exact similarity") {
    val pairs = TextOps.jaccardPairs(docsDf, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    // identical docs: jaccard 1.0
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0))
    // near dup 0-2: 8 shared of 9 distinct union... tokens(0)=8 distinct,
    // tokens(2)=8 distinct, shared 7 (jumps vs leaps) -> 7/9
    val p02 = pairs.find(p => p._1 == 0L && p._2 == 2L).get
    assert(math.abs(p02._3 - 7.0 / 9.0) < 1e-6)
    // unrelated doc 3 pairs with nothing
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("prefix filtering changes nothing: pruned jaccard equals the brute-force join") {
    // brute-force all-pairs Jaccard on the real documents table, bounded
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 200)
    for (t <- Seq(0.95, 0.8)) {
      val pruned = TextOps.jaccardPairs(docs, t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val toks = docs.collect().map(r => r.getLong(0) ->
        r.getString(1).split(" ").filter(_.nonEmpty).toSet).toMap
      val brute = (for {
        (a, sa) <- toks; (b, sb) <- toks if a < b
        inter = (sa & sb).size
        j = inter.toDouble / (sa.size + sb.size - inter) if j >= t
      } yield (a, b, BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
      assert(pruned == brute, s"threshold $t")
    }
  }

  test("containment pairs: subset doc detected where jaccard misses it; direction is honored") {
    val big = (0 until 40).map(i => s"uniq$i").mkString(" ")
    val docs = Seq(
      (0L, "alpha beta gamma delta"),                    // 4 tokens
      (1L, s"alpha beta gamma delta $big"),              // superset, 44 tokens
      (2L, "totally unrelated content here")).toDF("doc_id", "text")
    val tok = TextOps.tokenTable(docs)
    val pairs = TextOps.containmentPairs(tok, 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // doc 0 is fully inside doc 1: C(0->1) = 1.0; the reverse direction
    // C(1->0) = 4/44 and doc 2 matches nothing
    assert(pairs == Set((0L, 1L, 1.0)), s"$pairs")
    // the same pair is invisible to Jaccard at any useful threshold:
    // J(0,1) = 4/44 ≈ 0.09
    val jac = TextOps.jaccardPairsFromTokens(tok, 0.5).collect()
    assert(jac.isEmpty, jac.mkString(","))
  }

  test("context windows: count formula, stride overlap, clamped tail, no redundant windows") {
    def mk(n: Int) = (0 until n).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (0L, mk(10)),   // n < size -> exactly 1 window of 10
      (1L, mk(16)),   // n == size -> 1 window
      (2L, mk(17)),   // one token past -> 2 windows (tail clamped)
      (3L, mk(40)),   // 1 + ceil(24/12) = 3 windows
      (4L, ""))       // empty -> no rows
      .toDF("doc_id", "text")
    val w = TextOps.contextWindows(docs, size = 16, stride = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byDoc = w.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(byDoc(0L).map(t => (t._3, t._4)).toSeq == Seq((1L, 10L)))
    assert(byDoc(1L).map(t => (t._3, t._4)).toSeq == Seq((1L, 16L)))
    assert(byDoc(2L).map(t => (t._3, t._4)).toSeq == Seq((1L, 16L), (13L, 5L)))
    assert(byDoc(3L).map(t => (t._3, t._4)).toSeq == Seq((1L, 16L), (13L, 16L), (25L, 16L)))
    assert(!byDoc.contains(4L))
    // overlap: consecutive windows share size - stride = 4 tokens
    val h = TextOps.contextWindows(docs.filter(col("doc_id") === 3L), 16, 12)
      .select(col("win_hash")).collect().map(_.getString(0))
    assert(h.distinct.length == h.length, "windows must differ")
  }

  test("lshPairQuality: verified pairs never exceed candidates or exact pairs; ratios consistent") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 200)
    val row = TextOps.lshPairQuality(docs, numHashes = 64, bands = 16, threshold = 0.95).head()
    val (nExact, nCand, nPairs) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nPairs <= nCand, s"verified $nPairs > candidates $nCand")
    assert(nPairs <= nExact, s"verified pairs are a subset of exact pairs: $nPairs > $nExact")
    assert(math.abs(row.getDouble(3) - nPairs.toDouble / math.max(nCand, 1)) < 1e-6)
    assert(math.abs(row.getDouble(4) - nPairs.toDouble / math.max(nExact, 1)) < 1e-6)
  }

  test("lshBandSweep: per-band rows equal the single-config quality; recall monotone in bands") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 200)
    val sweep = TextOps.lshBandSweep(docs, numHashes = 64,
        bandsList = Seq(8, 16, 32), threshold = 0.95)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // the 16-band sweep row must agree exactly with lshPairQuality's
    // single-config accounting — the sweep is the same computation
    // derived from one shared signature table
    val q = TextOps.lshPairQuality(docs, numHashes = 64, bands = 16,
      threshold = 0.95).head()
    assert(sweep(16L) === ((q.getLong(0), q.getLong(1), q.getLong(2))))
    // more bands = shorter band rows = more collisions: candidate and
    // verified counts are monotone non-decreasing in the band count,
    // and n_exact is one shared denominator
    val Seq(b8, b16, b32) = Seq(8L, 16L, 32L).map(sweep)
    assert(b8._1 == b16._1 && b16._1 == b32._1, "shared exact count")
    assert(b8._2 <= b16._2 && b16._2 <= b32._2, s"candidates not monotone: $sweep")
    assert(b8._3 <= b16._3 && b16._3 <= b32._3, s"verified not monotone: $sweep")
  }

  test("incremental LSH pairs: cross-side only, equal to the cross-side slice of the full self-join") {
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 200)
    val base = all.filter(col("doc_id") < 100)
    val inc = all.filter(col("doc_id") >= 100)
    val got = TextOps.incrementalLshPairs(base, inc, 64, 16, 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // direction: id_a is always the increment, id_b always the base
    assert(got.forall { case (a, b, _) => a >= 100 && b < 100 }, "cross-side direction")
    // the increment probe finds EXACTLY the cross-side slice of the
    // full self-join (per-doc signatures don't depend on the corpus, so
    // banding agrees between the two routes)
    val full = TextOps.minhashLshPairs(all, 64, 16, 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val crossSlice = full.filter { case (a, b, _) => a < 100 && b >= 100 }
      .map { case (a, b, j) => (b, a, j) }.toSet // reorient to (inc, base)
    assert(got.toSet == crossSlice && got.nonEmpty,
      s"got ${got.length} cross pairs vs slice ${crossSlice.size}")
  }

  test("dedup clustering: transitive chains collapse to the min id, singletons keep their own") {
    val docs = Seq.tabulate(7)(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    // chain 0-1-2 (0~1, 1~2 but NOT 0~2 directly), pair 4-6, singleton 3, 5
    val pairs = Seq((0L, 1L), (1L, 2L), (4L, 6L)).toDF("id_a", "id_b")
    val clusters = TextOps.dedupClusters(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 4L, 5L -> 5L, 6L -> 4L))
  }

  test("dedup clustering: 32-diameter chain converges in O(log d) rounds via pointer jumping") {
    // chain 0-1-2-...-32: plain min-label propagation needs ~diameter
    // (32) sequential rounds; the pointer-jumping form doubles reach
    // each round, so ~log2(32)=5 plus hooking/detection slack
    val n = 33
    val docs = (0 until n).map(i => (i.toLong, "x")).toDF("doc_id", "text")
    val pairs = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("id_a", "id_b")
    val (lbl, rounds) = TextOps.dedupClustersWithRounds(docs, pairs)
    assert(lbl.collect().forall(_.getLong(1) == 0L), "all chain members label to min id 0")
    assert(rounds <= 10, s"expected ~log2(32)+slack rounds, got $rounds")
  }

  test("dedup clustering: round count is scale-stable from sf0.01 to sf0.1 (10x corpus)") {
    // the O(log diameter) claim, measured against real data at two
    // scales: rounds depend on component DIAMETER, not corpus size, so
    // a 10x corpus (500 -> 5000 docs, the largest generated SF) may add
    // at most one round of slack. Pairs come from the banded MinHash
    // LSH route (the 100 TB pair path — never the all-pairs token
    // join, which does not scale past the harness subset).
    def roundsAt(dir: String): Int = {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      val pairs = TextOps.minhashLshPairs(d, numHashes = 64, bands = 16, threshold = 0.95)
      TextOps.dedupClustersWithRounds(d, pairs)._2
    }
    val rSmall = roundsAt("/root/testdata/sf0.01")
    val rBig = roundsAt("/root/testdata/sf0.1")
    assert(rBig <= rSmall + 1,
      s"rounds grew with corpus size: sf0.01=$rSmall, sf0.1=$rBig — " +
        "pointer jumping should keep rounds ~log(diameter), not ~log(n)")
    // sanity floor: clustering actually ran (>= 2 rounds: one hooking
    // round plus the convergence-detection round)
    assert(rSmall >= 2 && rBig >= 2, s"degenerate round counts $rSmall/$rBig")
  }

  test("winnowing fingerprints: shared-substring guarantee, rightmost-min rule, short docs excluded") {
    val k = 8; val w = 4
    val shared = "zqxwvuts rqponml" // 16 chars >= k + w - 1 = 11
    val docs = Seq(
      (0L, s"aaaa bbbb $shared cccc dddd"),
      (1L, s"eeee ffff gggg $shared hhhh"),
      (2L, "tiny"), // < k + w - 1 chars -> no fingerprints
      (3L, "completely different content here with no overlap at all")
    ).toDF("doc_id", "text")
    val fp = TextOps.winnowFingerprints(docs, k, w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    // winnowing guarantee: a match of length >= k+w-1 shares a fingerprint
    assert((byDoc(0L) & byDoc(1L)).nonEmpty, "shared substring must share a fingerprint")
    assert(!byDoc.contains(2L), "sub-threshold doc emits nothing")
    // selection density: every window picks one gram, so gaps between
    // consecutive selected positions within a doc are < w + ... <= w
    val pos0 = fp.filter(_._1 == 0L).map(_._2).sorted
    assert(pos0.zip(pos0.tail).forall { case (a, b) => b - a <= w }, pos0.mkString(","))
    // deterministic
    val fp2 = TextOps.winnowFingerprints(docs, k, w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(fp.toSet == fp2.toSet)
  }

  test("dedup keepers: one representative per cluster, singletons kept") {
    val docs = Seq.tabulate(7)(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (1L, 2L), (4L, 6L)).toDF("id_a", "id_b")
    val kept = TextOps.dedupKeepers(docs, pairs).collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 3L, 4L, 5L))
  }

  test("dedup clustering: empty docs input returns empty without NPE") {
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(TextOps.dedupClusters(docs, pairs).count() == 0L)
  }

  test("ngram jaccard is order-sensitive where token-set jaccard is not") {
    val docs = Seq(
      (0L, "a b c d e f"),
      (1L, "a b c d e f"),     // identical -> shingle jaccard 1
      (2L, "f e d c b a"),     // same token SET, reversed order
      (3L, "a b c d e g")      // shares 3 of 4+.. shingles partially
    ).toDF("doc_id", "text")
    val pairs = TextOps.ngramJaccardPairs(docs, 3, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0))
    // reversed doc shares NO 3-gram with the original
    assert(!pairs.exists(p => (p._1, p._2) == (0L, 2L)))
    // token-set jaccard would call 0 and 2 identical
    val setPairs = TextOps.jaccardPairs(docs, 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(setPairs.contains((0L, 2L)))
  }

  test("cosine dup pairs threshold join matches per-pair cosine") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.01f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = VectorOps.cosineDupPairs(e, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L))) // only the near-parallel pair
  }

  test("cosine dup routing: verifier over a full candidate cover is IDENTICAL to the exact join; LSH route is sound") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 300)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = toSet(VectorOps.cosineDupPairs(e, 0.2))
    assert(exact.nonEmpty)
    // routed form: candidate generation decoupled from verification;
    // with a candidate cover the result is identical, pair for pair
    // and similarity for similarity
    val ids = e.select(col("vec_id").cast("long"))
    val allCand = ids.toDF("id_a").crossJoin(ids.toDF("id_b")).filter(col("id_a") < col("id_b"))
    assert(toSet(VectorOps.cosineVerifyPairs(e, allCand, 0.2)) == exact)
    // LSH candidates: sound (subset with exact sims), recall < 1 by
    // construction at this loose threshold
    val lsh = toSet(VectorOps.cosineDupPairsLsh(e, 0.2, numPlanes = 2, dims = 64))
    assert(lsh.nonEmpty && lsh.subsetOf(exact))
  }

  test("cosine dup pairs: the unguarded all-pairs cartesian is unreachable above the row ceiling") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 300)
    val ex = intercept[IllegalArgumentException] {
      VectorOps.cosineDupPairs(e, 0.2, maxExactRows = 100).count()
    }
    assert(ex.getMessage.contains("cosineVerifyPairs"))
  }

  test("IVF top-k: high recall vs brute force and exact hit within the probed lists") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 200)
    val ivf = VectorOps.ivfTopK(e, nlist = 16, nprobe = 4, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = VectorOps.bruteForceTopK(e, e, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // nprobe=4/16 lists covers ~25% of the corpus at random; the coarse
    // quantizer concentrating neighbors should beat that clearly
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall >= 0.4, s"IVF recall $recall")
    // every query returns k candidates (lists are non-degenerate here)
    val perQuery = ivf.groupBy(_._1).map(_._2.size)
    assert(perQuery.forall(_ == 5))
  }

  test("semanticDedup fixture margin: no within-cluster similarity sits near the 0.35 threshold") {
    // q_semdedup's oracle parity rests on Spark (pre-normalized
    // centroids, native cosine) and DuckDB (raw list_cosine_similarity)
    // agreeing on every >= 0.35 comparison. Different rounding could
    // flip a comparison only within float-noise of the threshold, so
    // this guard asserts the DATA keeps a >= 3e-5 margin around it at
    // every verify SF — a future fixture or threshold change fails
    // here, loudly, instead of as a flaky hash mismatch in the harness.
    for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
        if new java.io.File(s"$sfDir/embeddings.parquet").exists) {
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val assign = VectorOps.kmeansAssign(e, k = 8, iters = 2)
      val v = e.select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .join(assign, "vec_id")
      val a = v.select(col("cluster_id"), col("vec_id").as("id_a"), col("v").as("va"))
      val b = v.select(col("cluster_id"), col("vec_id").as("id_b"), col("v").as("vb"))
      val minMargin = a.join(b, Seq("cluster_id"))
        .filter(col("id_a") < col("id_b"))
        .select(abs(VectorOps.cosine(col("va"), col("vb")) - lit(0.35)).as("margin"))
        .agg(min(col("margin"))).collect()(0).getDouble(0)
      assert(minMargin >= 3e-5,
        s"$sfDir: within-cluster similarity within $minMargin of the 0.35 threshold " +
          "— q_semdedup oracle parity is no longer guaranteed; adjust the threshold")
    }
  }

  test("CDC chunking re-synchronizes after an insertion; fixed-size chunking does not") {
    // the defining CDC property: one inserted character shifts every
    // downstream offset, so position-based chunks all change, but
    // content-defined boundaries re-synchronize within ~one expected
    // chunk length and the shared suffix chunks stay identical
    val rnd = new scala.util.Random(42)
    val text = (0 until 600).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val edited = "X" + text // single-char insertion at the front
    val d = Seq((0L, text), (1L, edited), (2L, "short"), (3L, ""))
      .toDF("doc_id", "text")
    val out = TextOps.cdcChunkStats(d, k = 8, modulus = 32)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // both copies recover most of their duplication despite the shift
    assert(out(0L)._1 >= 5, s"expected several chunks, got ${out(0L)}")
    assert(out(0L)._3 >= 0.5 && out(1L)._3 >= 0.5,
      s"CDC failed to re-synchronize: ${out(0L)} vs ${out(1L)}")
    // the unique short doc has zero dup; the empty doc has zero chunks
    assert(out(2L) == ((1L, 0L, 0.0)))
    assert(out(3L) == ((0L, 0L, 0.0)))
    // contrast: fixed-size chunks of the same pair share nothing after
    // the shift (whitespace-free text = one token, so compare at the
    // character-offset level the CDC rule replaces)
    val fixedA = text.grouped(32).toSet
    val fixedB = edited.grouped(32).toSet
    assert((fixedA & fixedB).isEmpty, "fixed chunking unexpectedly survived the insertion")
    // deterministic
    val again = TextOps.cdcChunkStats(d, k = 8, modulus = 32)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(again == out)
  }

  test("chunkDupStats: hand-computed chunk counts, cross-doc df rule, tail chunk, empty doc") {
    val d = Seq(
      (0L, "a b c d e f g"),     // k=3 -> chunks "a b c","d e f","g" (tail kept)
      (1L, "a b c x y z"),       // shares chunk "a b c" with doc 0
      (2L, "d e f d e f"),       // "d e f" twice in-doc AND in doc 0
      (3L, "u v w"),             // unique chunk
      (4L, ""))                  // empty: 0 chunks, frac 0 (not NaN)
      .toDF("doc_id", "text")
    val out = TextOps.chunkDupStats(d, k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(0L) == ((3L, 2L, 0.666667))) // "a b c" (df 2) + "d e f" (df 2); "g" unique
    assert(out(1L) == ((2L, 1L, 0.5)))
    // BOTH in-doc occurrences of "d e f" count: df >= 2 via doc 0
    assert(out(2L) == ((2L, 2L, 1.0)))
    assert(out(3L) == ((1L, 0L, 0.0)))
    assert(out(4L) == ((0L, 0L, 0.0)))
    // an in-doc repeat with NO other doc sharing it is not a cross-doc dup
    val solo = Seq((0L, "p q r p q r")).toDF("doc_id", "text")
    val s = TextOps.chunkDupStats(solo, k = 3).head()
    assert(s.getLong(1) == 2L && s.getLong(2) == 0L)
  }

  test("capPerStratum: exact quota, window-form parity, salt redraws, monotone in cap") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cap = 7
    val got = TextOps.capPerStratum(docs, cap, salt = "s1")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // quota respected, ranks 1..n contiguous per stratum
    val bySrc = got.groupBy(_._1)
    for ((_, rows) <- bySrc) {
      assert(rows.length <= cap)
      assert(rows.map(_._3).sorted.toList == (1L to rows.length).toList)
    }
    // parity with the row_number window over the same (hash52, id) order
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(concat_ws(":", lit("s1"), col("doc_id").cast("string"))), 1, 13), 16, 10)
      .cast("long")
    val want = docs.select(col("source"), col("doc_id"), h.as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))))
      .filter(col("rk") <= cap)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3).toLong)).toSet
    assert(got.toSet == want)
    // a different salt picks a different quota sample
    val other = TextOps.capPerStratum(docs, cap, salt = "s2")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(other != got.map(t => (t._1, t._2)).toSet)
    // raising the cap only ADDS documents
    val more = TextOps.capPerStratum(docs, cap + 5, salt = "s1")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got.map(t => (t._1, t._2)).toSet.subsetOf(more))
  }

  test("editDistancePairs: substitution/deletion/insertion found, distance-2 blocked out") {
    val d = Seq((0L, "cat bat cast cat xyz"), (1L, "cart cat")).toDF("doc_id", "text")
    val out = TextOps.editDistancePairs(d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    // bat~cat and cart~cast (substitutions), cart~cat (insertion),
    // cast~cat (deletion); bat~cast is distance 2 and must never even
    // be a candidate; xyz pairs with nothing; cat's count is 3
    assert(out == Seq(
      ("bat", "cat", 1L, 1L, 3L),
      ("cart", "cast", 1L, 1L, 1L),
      ("cart", "cat", 1L, 1L, 3L),
      ("cast", "cat", 1L, 1L, 3L)), s"got $out")
  }

  test("weightedSamplePerStratum: A-ES race parity, weight bias, zero-weight exclusion") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val k = 5
    val got = TextOps.weightedSamplePerStratum(docs, k, salt = "w1")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for ((_, rows) <- got.groupBy(_._1)) {
      assert(rows.length <= k)
      assert(rows.map(_._3).sorted.toList == (1L to rows.length).toList)
    }
    // parity with the window form of the same exponential race
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(concat_ws(":", lit("w1"), col("doc_id").cast("string"))), 1, 13), 16, 10)
      .cast("long")
    val s = log((h.cast("double") + lit(0.5)) / lit(4503599627370496.0)) /
      col("n_chars").cast("double")
    val want = docs.filter(col("n_chars") > 0)
      .select(col("source"), col("doc_id"), s.as("s"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("s").desc, col("doc_id"))))
      .filter(col("rk") <= k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3).toLong)).toSet
    assert(got.toSet == want)
    // the race is weight-biased: one heavy doc among light ones wins
    // the k=1 draw for the large majority of salts
    val skew = Seq((0L, "s", 1L), (1L, "s", 1L), (2L, "s", 1L),
      (3L, "s", 1L), (4L, "s", 10000L)).toDF("doc_id", "source", "n_chars")
    val wins = (1 to 20).count { i =>
      TextOps.weightedSamplePerStratum(skew, k = 1, salt = s"b$i")
        .head().getLong(1) == 4L
    }
    assert(wins >= 15, s"heavy doc won only $wins/20 draws")
    // weight <= 0 rows can never be drawn
    val z = Seq((0L, "s", 0L), (1L, "s", 5L)).toDF("doc_id", "source", "n_chars")
    val zs = TextOps.weightedSamplePerStratum(z, k = 2, salt = "w1")
      .collect().map(_.getLong(1)).toSeq
    assert(zs == Seq(1L), s"zero-weight row drawn: $zs")
  }

  test("heavyHitterTokens: equals the exact HAVING under real counter eviction; invalid sizing fails loudly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = docs.select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    def exactAtLeast(t: Long) = exact.filter(col("cnt") >= t)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.select(explode(TextOps.tokens(col("text")))).count()
    // counters chosen so the MG maps EVICT (vocab 31 > 16 slots) but
    // the n/counters bound still clears the threshold — the real
    // sketch path, not a degenerate exact map
    val minCount = n / 16 + 1
    val got = TextOps.heavyHitterTokens(docs, minCount, counters = 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exactAtLeast(minCount), s"got ${got.size} vs ${exactAtLeast(minCount).size}")
    // a plainly-valid sizing agrees too, with exact counts
    val got2 = TextOps.heavyHitterTokens(docs, 50, counters = 4096)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got2 == exactAtLeast(50) && got2.nonEmpty)
    // sizing that could miss heavy hitters is refused, never silent
    intercept[IllegalArgumentException](
      TextOps.heavyHitterTokens(docs, minCount = 2, counters = 4))
    // a zero-partition input returns the empty result instead of
    // treeReduce's UnsupportedOperationException
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      docs.select(col("doc_id"), col("text")).schema)
    assert(TextOps.heavyHitterTokens(empty, minCount = 5).count() == 0)
  }

  test("semanticDedup drops juniors within cosine threshold inside a cluster, never across clusters") {
    // blob A along +x, blob B along +y (orthogonal -> different
    // clusters); A's three vectors are mutually near-identical, B's
    // two are well-separated at threshold 0.95
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.999f, 0.01f, 0.0f)),   // ~1.0 cosine with 0 -> dropped
      (3L, Array(0.998f, 0.02f, 0.0f)),   // ~1.0 with 0 and 2 -> dropped
      (4L, Array(0.0f, 0.7f, 0.7f)))      // cos with 1 ~ 0.7 -> kept
      .toDF("vec_id", "embedding")
    val kept = VectorOps.semanticDedup(vecs, k = 2, iters = 1, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept.keySet == Set(0L, 1L, 4L), s"kept ${kept.keySet}")
    // doc 2/3 dropped by cluster-mate 0; 4 kept despite being in 1's cluster
    assert(kept(0L) == kept.getOrElse(4L, kept(0L)) || kept(1L) == kept(4L))
    // identical input is idempotent: re-running on the kept set drops nothing
    val keptDf = vecs.filter(col("vec_id").isin(kept.keySet.toSeq: _*))
    val again = VectorOps.semanticDedup(keptDf, k = 2, iters = 1, threshold = 0.95)
      .collect().map(_.getLong(0)).toSet
    assert(again == kept.keySet)
  }

  test("minhash LSH candidates are a subset of exact pairs and catch identical docs") {
    val got = TextOps.minhashLshPairs(docsDf, numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = TextOps.jaccardPairs(docsDf, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exact))
    assert(got.contains((0L, 1L))) // identical docs always collide
  }

  test("simhash: identical docs equal, near dups close, unrelated far") {
    val sig = TextOps.simhash(docsDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(sig(0L) == sig(1L))
    assert(hamming(sig(0L), sig(2L)) < hamming(sig(0L), sig(3L)))
  }

  test("brute-force cosine top-k is exact and ANN recall is sane") {
    val vecs = (0 until 50).map { i =>
      val base = Array.tabulate(8)(d => math.sin(i * 0.7 + d))
      (i.toLong, base.map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val exact = VectorOps.bruteForceTopK(vecs, vecs.filter($"vec_id" < 5), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 15)
    val ann = VectorOps.annTopK(vecs, numPlanes = 4, dims = 8, k = 3)
      .filter($"query_id" < 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    assert(recall > 0.3, s"ANN recall too low: $recall")
  }

  test("pqEncode: codes pick the nearest per-subspace centroid; codebook vectors encode to themselves") {
    import spark.implicits._
    // dims=4, m=2, ks=2: codebook = vectors 0 and 1; vectors 2..3 sit
    // near known centroids in each 2-dim subspace
    val vs = Seq(
      (0L, Array(0.0f, 0.0f, 1.0f, 1.0f)),
      (1L, Array(1.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.1f, 0.1f, 0.1f, 0.1f)),  // sub0 -> cent0, sub1 -> cent1
      (3L, Array(0.9f, 0.9f, 0.9f, 0.9f)))  // sub0 -> cent1, sub1 -> cent0
    val out = graft.vector.VectorOps.pqEncode(vs.toDF("vec_id", "embedding"), m = 2, ks = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      (0L, 0L) -> 0L, (0L, 1L) -> 0L,   // self-encode (codebook row 0)
      (1L, 0L) -> 1L, (1L, 1L) -> 1L,
      (2L, 0L) -> 0L, (2L, 1L) -> 1L,
      (3L, 0L) -> 1L, (3L, 1L) -> 0L))
  }

  test("pqRecallAtK: recall 1 when clusters align with the codebook; per-query rows complete") {
    import spark.implicits._
    // two groups of exact copies of the two codebook vectors: within a
    // group both the exact and the ADC distance are 0 (ties -> min
    // cand_id on BOTH sides), across groups both are ~2 — so every
    // query must recover its exact top-k bit for bit
    val base = Seq(Array(1.0f, 0.0f, 0.0f, 0.0f), Array(0.0f, 0.0f, 1.0f, 0.0f))
    val vs = (0 until 10).map(i => (i.toLong, base(i % 2).clone()))
    val rec = graft.vector.VectorOps.pqRecallAtK(
      vs.toDF("vec_id", "embedding"), m = 2, ks = 2, k = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rec.size == 10)
    // within-group neighbors share a code; cross-group ADC distance is
    // far larger, so the exact top-3 (all within-group) is recovered
    assert(rec.values.forall(_ == 1.0), s"ADC lost exact neighbors: $rec")
  }

  test("knnDegreeHistogram: symmetrization dedups reciprocal edges, histogram hand-checked") {
    import spark.implicits._
    // directed 2-NN lists: 0->{1,2}, 1->{0,2}, 2->{0,1}, 3->{0,2}
    // undirected edges: 0-1, 0-2, 1-2, 0-3, 2-3  -> degrees 0:3 1:2 2:3 3:2
    val ann = Seq((0L, 1L), (0L, 2L), (1L, 0L), (1L, 2L), (2L, 0L), (2L, 1L), (3L, 0L), (3L, 2L))
      .toDF("query_id", "cand_id")
    val out = graft.vector.VectorOps.knnDegreeHistogram(ann)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(2L -> 2L, 3L -> 2L))
  }

  test("ivfPqRecallAtK: recall 1 when IVF lists and PQ codes align with the groups") {
    import spark.implicits._
    val base = Seq(Array(1.0f, 0.0f, 0.0f, 0.0f), Array(0.0f, 0.0f, 1.0f, 0.0f))
    val vs = (0 until 10).map(i => (i.toLong, base(i % 2).clone()))
    val rec = graft.vector.VectorOps.ivfPqRecallAtK(
      vs.toDF("vec_id", "embedding"), nlist = 2, nprobe = 1, m = 2, ks = 2, k = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rec.size == 10)
    assert(rec.values.forall(_ == 1.0), s"IVF-PQ lost exact neighbors: $rec")
  }

  test("ivfProbeSweep: recall monotone in nprobe, exact when every list is probed") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 200)
    val out = VectorOps.ivfProbeSweep(e, nlist = 16, probesList = Seq(1, 4, 16), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 4L, 16L))
    // one shared ground truth: n_exact identical across levels
    assert(out.map(_._3).distinct.length == 1)
    // candidate sets nest, so recall is monotone non-decreasing
    assert(out.sliding(2).forall { case Array(a, b) => a._4 <= b._4 },
      s"recall not monotone: $out")
    // probing all 16 lists scans every candidate -> exactly brute force
    assert(out.last._4 == 1.0, s"full probe must be exact: ${out.last}")
    assert(out.head._4 < 1.0, "degenerate fixture: nprobe=1 already exact")
  }

  test("ivfListStats: counts sum to corpus size, load factors average 1, hot list flagged") {
    import spark.implicits._
    // 2 centroids (vec 0 -> x-axis, vec 1 -> y-axis); 6 of the 8
    // remaining vectors hug the x-axis -> list 0 is hot
    val vs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.9f, 0.1f)), (3L, Array(0.8f, 0.2f)), (4L, Array(0.7f, 0.3f)),
      (5L, Array(0.95f, 0.05f)), (6L, Array(0.85f, 0.1f)), (7L, Array(0.75f, 0.2f)),
      (8L, Array(0.1f, 0.9f)), (9L, Array(0.2f, 0.8f)))
    val out = graft.vector.VectorOps.ivfListStats(vs.toDF("vec_id", "embedding"), nlist = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(0L)._1 == 7L && out(1L)._1 == 3L, s"unexpected assignment: $out")
    assert(out(0L)._2 == 1.4 && out(1L)._2 == 0.6)
    assert(out.values.map(_._1).sum == 10L)
  }

  test("dupGramMass: hand-computed dup fractions, short docs absent, collision-free fixture") {
    import spark.implicits._
    // doc 0 and 1 share "a b c d e" (one 5-gram); doc 2 is disjoint;
    // doc 3 too short for any 5-gram
    val d = Seq(
      (0L, "a b c d e x y"),   // grams: abcde, bcdex, cdexy -> 1 of 3 dup
      (1L, "a b c d e"),       // grams: abcde -> 1 of 1 dup
      (2L, "p q r s t u"),     // grams: pqrst, qrstu -> 0 of 2
      (3L, "a b c d")).toDF("doc_id", "text")
    val out = TextOps.dupGramMass(d, n = 5, minDf = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map(
      0L -> ((3L, 1L, math.rint(1.0 / 3 * 1e6) / 1e6)),
      1L -> ((1L, 1L, 1.0)),
      2L -> ((2L, 0L, 0.0))))
  }

  test("quantized recall: perfect on well-separated vectors; dequantization is the int8 grid") {
    import spark.implicits._
    // axis-aligned, well-separated directions: int8 rounding cannot
    // reorder cosine ranks, so symmetric quantized search has recall 1
    val vs = Seq.tabulate(12) { i =>
      val v = Array.fill(4)(0.05f); v(i % 4) = 1.0f; v((i + 1) % 4) = 0.3f * (1 + i / 4)
      (i.toLong, v)
    }
    val e = vs.toDF("vec_id", "embedding")
    val rec = VectorOps.quantizedRecallAtK(e, k = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rec.size == 12 && rec.values.forall(_ == 1.0), s"recall dropped: $rec")
    // dequantized values sit exactly on the scale * integer grid
    val deq = VectorOps.dequantizedInt8(e).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for ((id, v) <- vs) {
      val scale = v.map(x => math.abs(x.toDouble)).max / 127.0
      val expected = v.map(x => math.floor(x / scale + 0.5) * scale).toSeq
      assert(deq(id) == expected, s"vec $id off-grid")
    }
  }

  test("binary quantization recall: Hamming-equivalent ranking, identity on sign vectors") {
    import spark.implicits._
    // vectors already +/-1: sign quantization is the identity, so
    // symmetric binary search must reproduce the exact top-k — recall 1
    val signs = Seq.tabulate(10) { i =>
      (i.toLong, Array.tabulate(6)(d => if (((i >> d) & 1) == 1) 1.0f else -1.0f))
    }.toDF("vec_id", "embedding")
    val rec1 = VectorOps.binaryRecallAtK(signs, k = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rec1.size == 10 && rec1.values.forall(_ == 1.0), s"identity recall: $rec1")
    // the cosine-over-signs ranking IS the Hamming ranking: verify the
    // reported hit count against a hand Hamming top-k on mixed floats
    val vs = Seq(
      (0L, Array(0.9f, -0.2f, 0.3f, -0.7f)),
      (1L, Array(0.8f, -0.1f, 0.4f, -0.6f)),   // same signs as 0
      (2L, Array(-0.9f, 0.2f, -0.3f, 0.7f)),   // opposite of 0
      (3L, Array(0.9f, 0.2f, 0.3f, -0.7f)),    // hamming 1 from 0
      (4L, Array(0.5f, -0.5f, 0.5f, 0.5f)))    // hamming 1 from 0
    val e = vs.toDF("vec_id", "embedding")
    val out = VectorOps.binaryRecallAtK(e, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // query 0's binary top-2: id 1 (hamming 0) then the tie between 3
    // and 4 (hamming 1) broken by id -> {1, 3}; exact float top-2 of 0
    // is {1, 3} (cos(0,3) = .9*.9+... > cos(0,4)) -> 2 hits
    assert(out(0L) == 2L, s"got $out")
    // real corpus: every query reports, recall in (0, 1]
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 100)
    val rr = VectorOps.binaryRecallAtK(emb, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(rr.length == 100)
    assert(rr.forall { case (_, r) => r >= 0.0 && r <= 1.0 })
    assert(rr.map(_._2).sum / rr.length > 0.2, "binary recall implausibly low")
  }

  test("int8 quantization: |q| <= 127, max component hits +-127, zero vectors to zeros, error bounded") {
    val vecs = Seq(
      (0L, Array(0.5f, -1.0f, 0.25f, 0.1f)),   // max |v| = 1.0 -> that dim = -127
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f)),     // all-zero: scale 0, no div-by-zero
      (2L, Array(3.0f, 1.5f, -0.75f, 2.9999f))
    ).toDF("vec_id", "embedding")
    val q = VectorOps.quantizeInt8(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(q((0L, 1L)) == -127L && q((0L, 0L)) == 64L) // 0.5/(1/127) = 63.5 -> floor(64.0) = 64
    assert((0 until 4).forall(d => q((1L, d.toLong)) == 0L))
    assert(q((2L, 0L)) == 127L)
    // every q within int8 range; dequantized error <= scale/2 per dim
    val scale2 = 3.0 / 127
    for (d <- 0 until 4) {
      val v = Seq(3.0f, 1.5f, -0.75f, 2.9999f)(d).toDouble
      assert(math.abs(q((2L, d.toLong))) <= 127)
      assert(math.abs(q((2L, d.toLong)) * scale2 - v) <= scale2 / 2 + 1e-12)
    }
  }

  test("LSH sizing: more planes shrink buckets and candidates, cost recall; a second table recovers it") {
    val n = 120
    val vecs = (0 until n).map { i =>
      val base = Array.tabulate(8)(d => math.sin(i * 0.37 + d * 1.1) + 0.3 * math.cos(i * 0.11 * d))
      (i.toLong, base.map(_.toFloat))
    }.toDF("vec_id", "embedding")
    // ground truth: exact top-3 neighbor pairs for every query
    val exact = VectorOps.bruteForceTopK(vecs, vecs, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def buckets(planes: Int, offset: Int): Map[Long, Long] =
      VectorOps.lshBuckets(vecs, planes, 8, tableOffset = offset)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def occupancy(b: Map[Long, Long]): (Int, Long) = {
      val sizes = b.groupBy(_._2).map(_._2.size)
      (sizes.max, sizes.map(s => s.toLong * (s - 1) / 2).sum) // (max bucket, candidate pairs)
    }
    def recall(bs: Seq[Map[Long, Long]]): Double =
      exact.count { case (q, c) => bs.exists(b => b(q) == b(c)) }.toDouble / exact.size
    val b4 = buckets(4, 0); val b7 = buckets(7, 0); val b7t2 = buckets(7, 7)
    val (max4, cand4) = occupancy(b4); val (max7, cand7) = occupancy(b7)
    // more planes -> strictly smaller hot bucket and candidate join
    assert(max7 < max4, s"max bucket: $max7 !< $max4")
    assert(cand7 < cand4, s"candidates: $cand7 !< $cand4")
    // ...but lower recall per table (each plane can split true neighbors)
    val r4 = recall(Seq(b4)); val r7 = recall(Seq(b7)); val r7x2 = recall(Seq(b7, b7t2))
    assert(r7 < r4, s"recall: $r7 !< $r4")
    // an independent second table recovers a real share of the loss at
    // ~2x candidate cost (still far below the 4-plane bucket join)
    assert(r7x2 > r7, s"multi-table recall $r7x2 !> $r7")
    assert(r7x2 >= r4 - 0.15, s"2-table recall $r7x2 far below 4-plane $r4")
  }

  test("bounded top-k aggregator equals the row_number window form, ties and NaN included") {
    import org.apache.spark.sql.expressions.{Window => W}
    // duplicate vectors force sim ties (broken by cand_id); an all-zero
    // vector yields NaN sims, which the window's descending sort ranks
    // FIRST — the aggregator must reproduce both orders exactly
    val vecs = ((0 until 40).map { i =>
      val base = Array.tabulate(6)(d => math.sin((i % 10) * 0.9 + d)) // 4-way duplicates
      (i.toLong, base.map(_.toFloat))
    } :+ (40L, Array.fill(6)(0.0f))).toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 4 || $"vec_id" === 40L)
    val agg = VectorOps.bruteForceTopK(vecs, queries, k = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted
    // the window formulation the aggregator replaced
    val cand = vecs.select($"vec_id".as("cand_id"), $"embedding".cast("array<double>").as("cv"))
    val qs = queries.select($"vec_id".as("query_id"), $"embedding".cast("array<double>").as("qv"))
    val w = W.partitionBy($"query_id").orderBy($"sim".desc, $"cand_id".asc)
    val win = cand.join(qs, $"query_id" =!= $"cand_id")
      .withColumn("sim", VectorOps.cosine($"qv", $"cv"))
      .withColumn("rn", row_number().over(w)).filter($"rn" <= 7)
      .select($"query_id", $"cand_id", round($"sim", 6).as("sim"), $"rn".cast("long").as("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted
    assert(agg.length == win.length && agg.length == 35) // 5 queries x 7
    agg.zip(win).foreach { case (a, b) =>
      assert(a._1 == b._1 && a._2 == b._2 && a._4 == b._4
        && (a._3 == b._3 || (a._3.isNaN && b._3.isNaN)), s"$a != $b")
    }
  }

  test("MMR re-rank trades redundancy for diversity; rank 1 is raw relevance") {
    // query on the x-axis; a and b nearly identical high-relevance
    // candidates, c diverse but less relevant. Plain top-2 is (a, b);
    // MMR must pick a then c — b's redundancy to a wipes out its
    // relevance edge.
    val e = Seq(
      (0L, Array(1.0f, 0.0f)),          // query
      (1L, Array(0.99f, 0.14f)),        // a: most relevant
      (2L, Array(0.98f, 0.19f)),        // b: nearly a duplicate of a
      (3L, Array(0.6f, -0.8f))          // c: diverse, less relevant
    ).toDF("vec_id", "embedding")
    val q = e.filter($"vec_id" === 0L)
    val mmr = VectorOps.mmrDiversify(e, q, n = 3, k = 3).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(mmr.map(_._2).toSeq == Seq(1L, 3L, 2L),
      s"expected MMR order a, c, b; got ${mmr.toSeq}")
    // plain top-2 would have been (a, b) — the contrast MMR exists for
    val plain = VectorOps.bruteForceTopK(e, q, k = 2).collect()
      .map(_.getLong(1)).toSeq
    assert(plain == Seq(1L, 2L))
    // rank 1 carries the raw micro-unit relevance; later ranks are
    // relevance minus max-redundancy-to-selected, so never larger
    assert(mmr(0)._3 > mmr(1)._3 && mmr(1)._3 > mmr(2)._3)
    // b's final score is negative: it is more similar to a than to q
    assert(mmr(2)._3 < 0L, s"near-duplicate kept a positive score: ${mmr(2)._3}")
  }

  test("simplified silhouette: exact hand values, [0, 1e6] range, argmin matches nearest-seed kmeans") {
    // seeds on the axes (ids 0, 1); a point ON seed 0 has a = 0 and
    // s = 1e6 exactly; the 45-degree point is equidistant (a = b, tie
    // to smaller cid) and reads s = 0 exactly
    val e = Seq(
      (0L, Array(1.0f, 0.0f)),   // seed A
      (1L, Array(0.0f, 1.0f)),   // seed B
      (2L, Array(2.0f, 0.0f)),   // on A's ray: a_u = 0, s_u = 1e6
      (3L, Array(1.0f, 1.0f))    // equidistant: a_u = b_u, s_u = 0
    ).toDF("vec_id", "embedding")
    val rows = VectorOps.nearestSeedSilhouette(e, k = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(rows(2L) == ((0L, 0L, 1000000L, 1000000L)),
      s"on-ray point: ${rows(2L)}") // d to A = 0, d to B = 1 -> s = 1
    val (c3, a3, b3, s3) = rows(3L)
    assert(c3 == 0L && a3 == b3 && s3 == 0L, s"equidistant point: ${rows(3L)}")
    // corpus invariants: s in [0, 1e6], b >= a, and the cluster equals
    // the nearest-seed kmeans assignment (iters = 1) everywhere
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val sil = VectorOps.nearestSeedSilhouette(emb, k = 8)
    val bad = sil.filter(col("s_u") < 0L || col("s_u") > 1000000L ||
      col("b_u") < col("a_u")).count()
    assert(bad == 0L)
    val km = VectorOps.kmeansAssign(emb, k = 8, iters = 1)
      .withColumnRenamed("cluster_id", "km_cluster")
    val diff = sil.select(col("vec_id"), col("cluster_id"))
      .join(km, "vec_id")
      .filter(col("cluster_id") =!= col("km_cluster")).count()
    assert(diff == 0L, s"$diff rows disagree with nearest-seed kmeans")
  }

  test("dedup impact report: exact and near removals counted per source, keep-smallest") {
    // s1: doc 2 is an exact copy of doc 1 (same digest); doc 3 is
    // token-identical but digest-different (trailing space) — a
    // near-dup (jaccard 1.0) that exact dedup misses. s2 is clean.
    val t = "w1 w2 w3 w4 w5 w6 w7 w8"
    val d = Seq(
      (1L, t, "s1"), (2L, t, "s1"), (3L, t + " ", "s1"),
      (4L, "x1 x2 x3 x4 x5 x6 x7 x8", "s2")
    ).toDF("doc_id", "text", "source")
    val r = TextOps.dedupImpactReport(d).collect()
      .map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4), x.getDouble(5)))
      .toMap
    // exact: only doc 2 (doc 3's digest differs); near: pairs
    // (1,2),(1,3),(2,3) all verify at 1.0 -> greater ids {2,3}
    assert(r("s1") == ((3L, 1L, 2L, 1.0 / 3, 2.0 / 3)), s"s1: ${r("s1")}")
    assert(r("s2") == ((1L, 0L, 0L, 0.0, 0.0)), s"s2: ${r("s2")}")
  }

  test("retrieval eval: exact integer MRR and precision@k on a crafted label layout") {
    // query 0 (label 1); ranks by cosine to (1,0) are unambiguous:
    // rank 1 = id 1 (label 2, wrong), rank 2 = id 2 (label 1, correct),
    // rank 3 = id 3 (label 1, correct) -> first_correct = 2,
    // mrr = 500000, hits = 2 of k=3 -> p = 666
    val e = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (1L, Array(0.999f, 0.01f), 2),
      (2L, Array(0.9f, 0.2f), 1),
      (3L, Array(0.5f, 0.6f), 1)
    ).toDF("vec_id", "embedding", "label")
    val r = VectorOps.retrievalEval(e, e.filter($"vec_id" === 0L), k = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4)))
    assert(r.toSeq == Seq((0L, 2L, 500000L, 666L, 2L)), s"got ${r.toSeq}")
    // a query whose label never appears reads all zeros
    val e2 = e.union(Seq((9L, Array(0.0f, 1.0f), 5)).toDF("vec_id", "embedding", "label"))
    val r2 = VectorOps.retrievalEval(e2, e2.filter($"vec_id" === 9L), k = 3)
      .collect().map(x => (x.getLong(1), x.getLong(2), x.getLong(4))).head
    assert(r2 == ((0L, 0L, 0L)), s"label-less query: $r2")
  }

  test("embedding drift: zero on identical snapshots, exact micro-units on a hand shift") {
    // dyadic components -> 2^24 quantization exact -> the micro-unit
    // means are the textbook values with no rounding slack
    val oldSnap = Seq(
      (0L, Array(1.0f, 0.5f), 7),
      (1L, Array(0.5f, 0.5f), 7)).toDF("vec_id", "embedding", "label")
    val same = VectorOps.embeddingDrift(oldSnap, oldSnap).collect()
    assert(same.length == 1 &&
      same(0).getLong(3) == 0L && same(0).getLong(4) == 0L)
    // dim 0 mean moves 0.75 -> 1.0 (250000 micro-units), dim 1 moves
    // 0.5 -> 0.625 (125000): L1 = 375000, L-inf = 250000
    val newSnap = Seq(
      (0L, Array(1.0f, 0.625f), 7),
      (1L, Array(1.0f, 0.625f), 7)).toDF("vec_id", "embedding", "label")
    val d = VectorOps.embeddingDrift(oldSnap, newSnap).collect()
    assert(d.length == 1)
    assert(d(0).getLong(0) == 7L && d(0).getLong(1) == 2L && d(0).getLong(2) == 2L)
    assert(d(0).getLong(3) == 375000L, s"l1 = ${d(0).getLong(3)}")
    assert(d(0).getLong(4) == 250000L, s"linf = ${d(0).getLong(4)}")
    // labels absent from either snapshot never appear
    val extra = Seq((2L, Array(1.0f, 1.0f), 9)).toDF("vec_id", "embedding", "label")
    val withNew = VectorOps.embeddingDrift(oldSnap, newSnap.union(extra)).collect()
    assert(withNew.map(_.getLong(0)).toSet == Set(7L))
  }

  test("labelCentroidDots: exact micro-unit dots on dyadic centroids, upper triangle only") {
    // label 7 centroid (0.75, 0.5) -> (750000, 500000) micro-units;
    // label 9 centroid (1, 1) -> (1000000, 1000000)
    val e = Seq(
      (0L, Array(1.0f, 0.5f), 7),
      (1L, Array(0.5f, 0.5f), 7),
      (2L, Array(1.0f, 1.0f), 9)).toDF("vec_id", "embedding", "label")
    val out = VectorOps.labelCentroidDots(e).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.keySet == Set((7L, 7L), (7L, 9L), (9L, 9L)), s"pairs: ${out.keySet}")
    assert(out((7L, 7L)) == ((2L, 2L, 750000L * 750000L + 500000L * 500000L)))
    assert(out((7L, 9L)) == ((2L, 1L, 750000L * 1000000L + 500000L * 1000000L)))
    assert(out((9L, 9L)) == ((1L, 1L, 2L * 1000000L * 1000000L)))
    // emitted sorted by (label_a, label_b): the report-face contract
    val pairs = VectorOps.labelCentroidDots(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == pairs.sorted)
  }

  test("centroidOutliers: integer med/MAD replay, far point flagged, degenerate spread quiet, loud bound") {
    // 1-D label: {0, 0.5, 1, 1.5, 8} — the 8.0 point is the suspect
    val e = (Seq(0.0f, 0.5f, 1.0f, 1.5f, 8.0f).zipWithIndex.map {
      case (x, i) => (i.toLong, Array(x), 7)
    }).toDF("vec_id", "embedding", "label")
    val out = VectorOps.centroidOutliers(e).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    // independent scalar replay of the definitions
    val ps = Seq(0.0, 0.5, 1.0, 1.5, 8.0).map(x => math.floor(x * 16777216.0 + 0.5).toLong)
    val s = ps.sum
    val c = (2 * s + ps.length) / (2L * ps.length) // s >= 0 here
    val d2q = ps.map(p => (p - c) * (p - c) / 16777216L)
    def medTimes(xs: Seq[Long], f: Long): Long = {
      val v = xs.sorted
      val n = v.length
      if (n % 2 == 1) v(n / 2) * f else (v(n / 2 - 1) + v(n / 2)) * f / 2
    }
    val med4 = medTimes(d2q, 4)
    val mad8 = medTimes(d2q.map(d => math.abs(4 * d - med4)), 2)
    d2q.zipWithIndex.foreach { case (d, i) =>
      val expect = mad8 > 0 && 13490L * math.abs(4 * d - med4) > 35000L * mad8
      assert(out(i.toLong) == ((d, med4, mad8, expect)), s"row $i: ${out(i.toLong)}")
    }
    assert(out.values.count(_._4) == 1 && out(4L)._4, "exactly the far point flags")
    // a zero-spread label reads NO outliers (mad8 = 0 guard)
    val flat = (0L to 3L).map(i => (i, Array(1.0f), 3)).toDF("vec_id", "embedding", "label")
    assert(VectorOps.centroidOutliers(flat).collect().forall(!_.getBoolean(5)))
    // components beyond the 2^62 headroom bound raise loudly
    val bad = Seq((0L, Array(9.0f), 1)).toDF("vec_id", "embedding", "label")
    val ex = intercept[org.apache.spark.SparkException] {
      VectorOps.centroidOutliers(bad).collect()
    }
    assert(ex.getMessage.contains("MaxComponent") ||
      (ex.getCause != null && ex.getCause.getMessage.contains("MaxComponent")),
      s"unexpected failure: ${ex.getMessage}")
  }

  test("dHash: deterministic, re-encode-invariant, edit-local; banded pairs exact for 64-bit sigs") {
    import javax.imageio.ImageIO
    val png = Multimodal.syntheticPng(42L)
    val h1 = Multimodal.dHash(png).get
    assert(Multimodal.dHash(png).get == h1) // deterministic
    // lossless re-encode (decode -> write PNG again): IDENTICAL hash
    val img = ImageIO.read(new java.io.ByteArrayInputStream(png))
    val bos = new java.io.ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    assert(Multimodal.dHash(bos.toByteArray).get == h1)
    // a small local edit moves few bits; a different image moves many
    val edited = ImageIO.read(new java.io.ByteArrayInputStream(png))
    edited.setRGB(0, 0, 0xFFFFFF)
    val bos2 = new java.io.ByteArrayOutputStream()
    ImageIO.write(edited, "png", bos2)
    val hEdit = Multimodal.dHash(bos2.toByteArray).get
    assert(java.lang.Long.bitCount(h1 ^ hEdit) <= 4,
      s"local edit moved ${java.lang.Long.bitCount(h1 ^ hEdit)} bits")
    val hOther = Multimodal.dHash(Multimodal.syntheticPng(911L)).get
    assert(java.lang.Long.bitCount(h1 ^ hOther) > 8)
    assert(Multimodal.dHash("not an image".getBytes).isEmpty)
    // banded Hamming join on FULL 64-bit signatures (sign bit set)
    // equals the brute-force join — the shiftrightunsigned contract
    import spark.implicits._
    val sigs = Seq(
      (0L, 0x8000000000000001L), (1L, 0x8000000000000003L), // d=1, sign bit set
      (2L, 0x7FFFFFFFFFFFFFFFL), (3L, 0x7FFFFFFFFFFFFF0FL), // d=4
      (4L, 0x0123456789ABCDEFL)).toDF("id", "sig")
    for (r <- Seq(1, 4, 6)) {
      val want = (for {
        a <- sigs.collect(); b <- sigs.collect()
        if a.getLong(0) < b.getLong(0) &&
          java.lang.Long.bitCount(a.getLong(1) ^ b.getLong(1)) <= r
      } yield (a.getLong(0), b.getLong(0))).toSet
      val got = TextOps.hammingPairs(sigs, 64, r)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(got == want, s"radius $r: $got vs $want")
    }
  }

  test("multimodal feature extraction is deterministic over binary payloads") {
    val media = Multimodal.mediaFromDocuments(docsDf)
    val f1 = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    val f2 = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(f1.toSeq == f2.toSeq)
    assert(f1.forall(f => f.byte_len > 0 && f.width >= 16 && f.height >= 16))
    assert(f1.filter(_.media_type == "image").forall(_.n_frames == 1))
  }

  test("imageio decode recovers real PNG dimensions; non-image payloads fall back to the stub") {
    val png = Multimodal.syntheticPng(37L) // 16+37%32=21 x 16+37%17=19
    assert(Multimodal.looksLikeImage(png))
    assert(Multimodal.decodeImage(png).contains((21, 19, 1)))
    // a JPEG written by ImageIO itself decodes too
    val img = new java.awt.image.BufferedImage(8, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    assert(Multimodal.decodeImage(bos.toByteArray).contains((8, 5, 1)))
    // text bytes are not an image -> stub path
    val txt = "not an image".getBytes("UTF-8")
    assert(!Multimodal.looksLikeImage(txt))
    assert(Multimodal.decodeImage(txt).isEmpty)
    // end-to-end through the batched kernel
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(37L, "image", png),
      Multimodal.MediaRow(1L, "audio", txt)))
    val feats = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(feats(1).width == 21 && feats(1).height == 19 && feats(1).n_frames == 1)
    assert(feats(0).width == 16 + math.floorMod(Multimodal.checksum(txt), 64).toInt) // stub dims
  }

  test("stub route refuses real-container payloads loudly (corrupt media never fakes dims)") {
    // a payload with a real container magic whose parse FAILS is
    // corrupt media — the stub must throw, not silently fabricate
    // checksum dimensions (README codec contract)
    val corruptPng = Multimodal.syntheticPng(9L).take(20) // magic intact, body gone
    assert(Multimodal.looksLikeImage(corruptPng) && Multimodal.decodeImage(corruptPng).isEmpty)
    intercept[IllegalArgumentException](Multimodal.decodeStub("image", corruptPng))
    val media = spark.createDataset(Seq(Multimodal.MediaRow(9L, "image", corruptPng)))
    val ex = intercept[org.apache.spark.SparkException](
      Multimodal.extractFeatures(media).collect())
    assert(ex.getMessage.contains("refusing the checksum stub") ||
      Option(ex.getCause).exists(_.getMessage.contains("refusing the checksum stub")))
    // genuinely non-container bytes still stub fine
    val (w, _, _) = Multimodal.decodeStub("audio", "plain bytes".getBytes("UTF-8"))
    assert(w >= 16)
  }

  test("animated GIF: synthetic multi-frame payload decodes to its real frame count") {
    for (id <- Seq(0L, 3L, 7L, 11L, 23L)) {
      val gif = Multimodal.syntheticGif(id)
      assert(gif.length > 3 && gif(0) == 'G' && gif(1) == 'I' && gif(2) == 'F')
      val (w, h, n) = Multimodal.decodeImage(gif).get
      assert(w == 8 + (id % 16).toInt && h == 8 + (id % 11).toInt, s"dims for $id: ${(w, h)}")
      assert(n == 2 + (id % 5).toInt, s"frame count for $id: $n")
    }
    // single-frame formats still report 1 frame through the reader path
    assert(Multimodal.decodeImage(Multimodal.syntheticPng(5L)).get._3 == 1)
  }

  test("frameDiffCuts: PNG round-trip is lossless, diffs match the pixel formula, cuts threshold") {
    // identical adjacent frames read diff 0 and never cut; analytic
    // frames read the exact per-channel |delta| sum of the generator
    val id = 9L
    val w = 8 + (id % 16).toInt; val h = 8 + (id % 11).toInt
    val f0 = Multimodal.syntheticPngFrame(id, 0)
    val frames = Seq(
      (id, 0L, f0), (id, 1L, f0),                          // identical pair
      (id, 2L, Multimodal.syntheticPngFrame(id, 2)))       // formula pair
      .toDF("doc_id", "frame_idx", "payload")
    val out = Multimodal.frameDiffCuts(frames, cutPerPixel = 64.0).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) == ((w.toLong * h, 0L, 0L)), s"identical pair: ${out(1L)}")
    // reference diff between f=0 and f=2 straight from the formula
    var want = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val v1 = (x * 13 + y * 5 + 0 * 41 + id) & 0xFFFFFF
      val v2 = (x * 13 + y * 5 + 2 * 41 + id) & 0xFFFFFF
      want += math.abs((v1 >> 16 & 255) - (v2 >> 16 & 255)) +
        math.abs((v1 >> 8 & 255) - (v2 >> 8 & 255)) +
        math.abs((v1 & 255) - (v2 & 255))
    }
    assert(out(2L)._2 == want, s"formula pair diff: ${out(2L)._2} vs $want")
    assert(out(2L)._3 == (if (want.toDouble > 64.0 * w * h) 1L else 0L))
    // mismatched dims produce no pair
    val mixed = Seq((id, 0L, f0), (id, 1L, Multimodal.syntheticPngFrame(id + 1, 1)))
      .toDF("doc_id", "frame_idx", "payload")
    assert(Multimodal.frameDiffCuts(mixed).count() == 0)
    // equal AREA but swapped dims also yield no pair (regression: a
    // w*h pair key would diff row-major across mismatched strides)
    def blank(wi: Int, hi: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        wi, hi, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val swapped = Seq((id, 0L, blank(8, 6)), (id, 1L, blank(6, 8)))
      .toDF("doc_id", "frame_idx", "payload")
    assert(Multimodal.frameDiffCuts(swapped).count() == 0)
  }

  test("image resize really resizes; undecodable payloads rejected") {
    val png = Multimodal.syntheticPng(5L) // 21 x 21
    val resized = Multimodal.resizeImage(png, 7, 4).get
    assert(Multimodal.decodeImage(resized).contains((7, 4, 1)))
    assert(Multimodal.resizeImage("nope".getBytes, 4, 4).isEmpty)
  }

  test("WAV: synthetic RIFF/WAVE round-trips through the real parser, PCM samples actually read") {
    for (id <- Seq(0L, 1L, 4L, 7L, 299L, 1234L)) {
      val wav = Multimodal.syntheticWav(id)
      assert(Multimodal.looksLikeWav(wav))
      val m = Multimodal.decodeWav(wav).get
      val expRate = Seq(8000, 11025, 16000, 22050, 44100)((id % 5).toInt)
      val expCh = 1 + (id % 2).toInt
      val expFrames = 200 + (id % 300).toInt
      assert(m.sampleRate == expRate && m.channels == expCh && m.bitsPerSample == 16)
      assert(m.nFrames == expFrames)
      assert(m.durationMs == expFrames * 1000L / expRate)
      // sum of |sample| recomputed independently from the formula
      val total = expFrames * expCh
      val expSum = (0L until total).map(i => math.abs(((i * 2347L + id * 17L) % 65536L).toInt - 32768).toLong).sum
      assert(m.sumAbs == expSum, s"sumAbs for $id")
    }
    assert(Multimodal.decodeWav("RIFFxxxxWAVE".getBytes).isEmpty) // header only, no chunks
    assert(Multimodal.decodeWav("not a wav at all".getBytes).isEmpty)
  }

  test("WAV chunk walker: extra chunks, odd-sized payloads, truncated data survive parsing") {
    // a real-world WAV often carries LIST/fact/cue chunks between fmt
    // and data; the walker must skip unknown chunks (word-aligned) and
    // still land on fmt + data
    val base = Multimodal.syntheticWav(7L)
    val meta = Multimodal.decodeWav(base).get
    // splice an odd-sized junk chunk after the fmt chunk (offset 36 =
    // 12-byte RIFF header + 24-byte fmt chunk)
    val junkBody = Array[Byte](1, 2, 3, 4, 5) // odd length -> pad byte
    val junk = "LIST".getBytes ++ Array[Byte](5, 0, 0, 0) ++ junkBody ++ Array[Byte](0)
    val spliced = base.take(36) ++ junk ++ base.drop(36)
    // fix the RIFF size field (little-endian u32 at offset 4)
    val total = spliced.length - 8
    spliced(4) = (total & 0xFF).toByte; spliced(5) = ((total >> 8) & 0xFF).toByte
    spliced(6) = ((total >> 16) & 0xFF).toByte; spliced(7) = ((total >> 24) & 0xFF).toByte
    assert(Multimodal.decodeWav(spliced).contains(meta),
      "unknown chunk between fmt and data changed the parse")
    // a truncated data chunk parses the samples that are present
    val truncated = base.dropRight(10)
    val tMeta = Multimodal.decodeWav(truncated).get
    assert(tMeta.sampleRate == meta.sampleRate && tMeta.nFrames < meta.nFrames)
  }

  test("audio fingerprint: matches the analytic band-energy reference; planted twin within Hamming 2") {
    import spark.implicits._
    for (id <- Seq(10L, 25L, 40L, 1234L)) {
      val wav = Multimodal.syntheticWav(id)
      // independent reference: sample formula -> 65 integer band
      // energies -> sign-of-derivative bits
      val total = (200 + (id % 300).toInt) * (1 + (id % 2).toInt)
      val e = new Array[Long](65)
      for (i <- 0 until total) {
        val s = ((i * 2347L + id * 17L) % 65536L).toInt - 32768
        e((i.toLong * 65 / total).toInt) += s.toLong * s
      }
      var exp = 0L
      for (k <- 0 until 64) if (e(k + 1) > e(k)) exp |= 1L << k
      val media = spark.createDataset(Seq(Multimodal.MediaRow(id, "audio", wav)))
      val got = Multimodal.audioFingerprints(media).as[(Long, Long)].collect().toSeq
      assert(got == Seq((id, exp)), s"fp mismatch for id $id")
      // the perturbed twin: bytes changed, header meta preserved,
      // fingerprint within the banded join's radius
      val twin = Multimodal.perturbWav(wav)
      assert(!java.util.Arrays.equals(twin, wav))
      val bm = Multimodal.decodeWav(wav).get
      val tm = Multimodal.decodeWav(twin).get
      assert(tm.sampleRate == bm.sampleRate && tm.channels == bm.channels
        && tm.nFrames == bm.nFrames)
      val tfp = Multimodal.audioFingerprints(
        spark.createDataset(Seq(Multimodal.MediaRow(id, "audio", twin))))
        .as[(Long, Long)].collect().head._2
      assert(java.lang.Long.bitCount(tfp ^ exp) <= 2,
        s"twin drifted ${java.lang.Long.bitCount(tfp ^ exp)} bits for id $id" +
          " — outside the cc_pairs face's radius-2 recall guarantee")
    }
    // non-audio payloads and non-PCM16 bytes yield no fingerprint row
    val junk = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "audio", "not a wav at all".getBytes)))
    assert(Multimodal.audioFingerprints(junk).count() == 0)
    // perturbWav on a non-wav is the identity (fresh copy)
    val raw = "plain bytes".getBytes
    assert(java.util.Arrays.equals(Multimodal.perturbWav(raw), raw))
  }

  test("audio near-dup pipeline: banded pairs recover every planted twin; CC pairs twin with base") {
    import spark.implicits._
    val ids = (0L until 40L).map(_ * 3 + 1) // audio-doc-shaped ids
    val planted = ids.filter(_ % 5 == 0)
    val rows = ids.map(id => Multimodal.MediaRow(id, "audio", Multimodal.syntheticWav(id))) ++
      planted.map(id => Multimodal.MediaRow(id + (1L << 40), "audio",
        Multimodal.perturbWav(Multimodal.syntheticWav(id))))
    val media = spark.createDataset(rows)
    val sigs = Multimodal.audioFingerprints(media)
    assert(sigs.count() == rows.size) // every clip decodable
    val pairs = TextOps.hammingPairs(sigs.toDF("id", "sig"), sigBits = 64, maxHamming = 2)
      .toDF("id_a", "id_b", "hamming")
    val pairSet = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    for (id <- planted)
      assert(pairSet.contains((id, id + (1L << 40))), s"planted twin of $id missed")
    val clusters = TextOps.dedupClusters(media.toDF().select(col("doc_id")), pairs)
      .as[(Long, Long)].collect().toMap
    for (id <- planted)
      assert(clusters(id + (1L << 40)) == clusters(id), s"twin of $id in a different cluster")
    // a cluster label is always the min id of its members
    clusters.groupBy(_._2).foreach { case (lbl, members) =>
      assert(lbl == members.keys.min)
    }
    // the exact-dup quotient path is result-identical to member-graph
    // CC (equality classes are cliques; cross edges map to rep edges)
    val viaQuotient = TextOps.dedupClustersBySig(
        media.toDF().select(col("doc_id")), sigs, pairs)
      .as[(Long, Long)].collect().toMap
    assert(viaQuotient == clusters, "quotient CC diverged from member-graph CC")
    // sig-less member (no signature row): clusters as a SINGLETON
    // instead of being dropped — the member universe is `docs`, not
    // the decodable subset
    val withJunkId = media.toDF().select(col("doc_id"))
      .union(spark.createDataset(Seq(999999L)).toDF("doc_id"))
    val withJunk = TextOps.dedupClustersBySig(withJunkId, sigs, pairs)
      .as[(Long, Long)].collect().toMap
    assert(withJunk(999999L) == 999999L, "sig-less member not a singleton")
    assert((withJunk - 999999L) == clusters)
  }

  test("video near-dup pipeline: perturbed twins majority-match; quotient CC = member CC") {
    import spark.implicits._
    // frame-sequence pool: 30 videos, planted twins (every frame's
    // blue LSB nudged on every 97th pixel) for ids % 5 == 0
    val ids = (0L until 30L).map(_ * 3 + 2) // video-doc-shaped ids
    val planted = ids.filter(_ % 5 == 0)
    def frames(id: Long, perturb: Boolean): Seq[(Long, Long, Array[Byte])] = {
      val nf = 2 + (id % 5).toInt
      (0 until nf).map { f =>
        val p = Multimodal.syntheticPngFrame(id, f)
        val key = if (perturb) id + (1L << 40) else id
        (key, f.toLong, if (perturb) Multimodal.perturbPngFrame(p) else p)
      }
    }
    val pool = (ids.flatMap(frames(_, perturb = false)) ++
      planted.flatMap(frames(_, perturb = true)))
      .toDF("doc_id", "frame_idx", "payload")
    val sigs = Multimodal.frameHashes(pool)
    val nFrames = pool.count()
    assert(sigs.count() == nFrames) // every lossless frame decodes
    // perturbPngFrame round-trips deterministically (PNG is lossless)
    val p0 = Multimodal.syntheticPngFrame(5L, 0)
    assert(java.util.Arrays.equals(
      Multimodal.perturbPngFrame(p0), Multimodal.perturbPngFrame(p0)))
    // non-image payloads come back unchanged
    val junk = "not a png".getBytes
    assert(java.util.Arrays.equals(Multimodal.perturbPngFrame(junk), junk))
    val pairs = Multimodal.videoNearDupPairs(sigs, maxHamming = 2)
    val pairSet = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    for (id <- planted)
      assert(pairSet.contains((id, id + (1L << 40))),
        s"planted video twin of $id missed the majority quorum")
    // clusters: twin and base co-labeled; quotient == member-graph CC
    val universe = pool.select(col("doc_id")).distinct()
    val member = TextOps.dedupClusters(universe, pairs)
      .as[(Long, Long)].collect().toMap
    for (id <- planted)
      assert(member(id + (1L << 40)) == member(id), s"twin of $id split off")
    val sigVec = sigs.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("frame_idx"), col("fp"))))
        .as("sig"))
    val quotient = TextOps.dedupClustersBySig(universe, sigVec, pairs)
      .as[(Long, Long)].collect().toMap
    assert(quotient == member, "video quotient CC diverged from member-graph CC")
  }

  test("local union-find CC == distributed star contraction on the same graph") {
    import spark.implicits._
    // adversarial mix: a long id-scrambled chain (the shape that broke
    // hook-and-jump), a clique, singletons, and a non-doc edge that
    // the id-closure contract must drop on BOTH paths
    val chain = (0L until 200L).map(i => (i * 7919 % 1000, (i + 1) * 7919 % 1000))
      .filter { case (a, b) => a != b }
    val clique = for (a <- 2000L to 2006L; b <- (a + 1) to 2006L) yield (a, b)
    val ghost = Seq((3000L, 999999L)) // 999999 not in docs
    val pairs = (chain ++ clique ++ ghost).toDF("id_a", "id_b")
    val docs = ((0L until 1000L) ++ (2000L to 2006L) ++ Seq(3000L, 4000L))
      .toDF("doc_id")
    val local = TextOps.dedupClusters(docs, pairs)
      .as[(Long, Long)].collect().toMap
    // bound 0 forces the distributed loop
    val (dist, moved) = graft.model.BoundedLocal.forcing(0L) {
      TextOps.dedupClusters(docs, pairs).as[(Long, Long)].collect().toMap
    }
    assert(moved >= 1, "the forced bound never reached the CC gate")
    assert(local == dist, "local union-find diverged from star contraction")
    // spot invariants: clique collapses to its minimum; ghost edge
    // dropped (3000 stays a singleton); untouched docs self-label
    assert(local(2006L) == 2000L)
    assert(local(3000L) == 3000L)
    assert(local(4000L) == 4000L)
  }

  test("video shingles: trimmed-head twin invisible to aligned matching, caught by shingles") {
    import spark.implicits._
    // base: 4 frames; twin: frames 1..3 at indices 0..2 (head cut)
    val id = 11L
    val base = (0 until 4).map(f => (id, f.toLong, Multimodal.syntheticPngFrame(id, f)))
    val twin = (0 until 3).map(f => (id + (1L << 41), f.toLong, Multimodal.syntheticPngFrame(id, f + 1)))
    val pool = (base ++ twin).toDF("doc_id", "frame_idx", "payload")
    val sigs = Multimodal.frameHashes(pool)
    // aligned face: frame j vs frame j are DIFFERENT source frames —
    // the twin must not majority-match (the blind spot by design)
    val aligned = Multimodal.videoNearDupPairs(sigs, maxHamming = 0)
      .as[(Long, Long, Long)].collect()
    assert(!aligned.exists { case (a, b, _) => a == id && b == id + (1L << 41) },
      "aligned matching unexpectedly paired the shifted twin")
    // shingle face: grams (h1,h2),(h2,h3) are shared exactly
    val sh = Multimodal.sequenceShinglePairs(sigs, k = 2)
      .as[(Long, Long, Long)].collect()
    assert(sh.exists { case (a, b, n) => a == id && b == id + (1L << 41) && n == 2L },
      s"shingle face missed the trimmed-head twin or miscounted: ${sh.toSeq}")
    // k = 3 grams: base (f0..f2),(f1..f3); twin (f1..f3) -> 1 shared
    val sh3 = Multimodal.sequenceShinglePairs(sigs, k = 3)
      .as[(Long, Long, Long)].collect()
    assert(sh3.exists { case (a, b, n) => a == id && b == id + (1L << 41) && n == 1L },
      s"k=3 shingles wrong: ${sh3.toSeq}")
  }

  test("audio shingles: trimmed-head twin invisible to the whole-clip fp, caught by energy shingles") {
    import spark.implicits._
    val id = 7L // audio-shaped id (id % 3 == 1), total = 207*2 = 414 samples
    val wav = Multimodal.syntheticWav(id)
    val trimmed = Multimodal.trimWav(wav, 64)
    assert(trimmed.length == wav.length - 128)
    // the trimmed payload still parses: window j energy == source j+1
    val pool = spark.createDataset(Seq(
      Multimodal.MediaRow(id, "audio", wav),
      Multimodal.MediaRow(id + (1L << 42), "audio", trimmed)))
    val e = Multimodal.wavWindowEnergy(pool, window = 64)
      .select(col("doc_id"), col("win"), col("energy"))
      .as[(Long, Long, Long)].collect()
    val src = e.filter(_._1 == id).map(r => r._2 -> r._3).toMap
    val twin = e.filter(_._1 != id).map(r => r._2 -> r._3).toMap
    assert(twin.nonEmpty && twin.forall { case (w, en) => src(w + 1) == en },
      "trimmed windows are not the source's shifted by one")
    // whole-clip fingerprints diverge (different sample sets)...
    val fps = Multimodal.audioFingerprints(pool).as[(Long, Long)].collect().toMap
    assert(java.lang.Long.bitCount(fps(id) ^ fps(id + (1L << 42))) > 2,
      "whole-clip fp unexpectedly survives a 64-sample trim")
    // ...but the energy shingles share every twin gram
    val sh = Multimodal.sequenceShinglePairs(
      spark.createDataset(e.toSeq).toDF("doc_id", "win", "energy"), k = 2)
      .as[(Long, Long, Long)].collect()
    assert(sh.exists { case (a, b, n) =>
      a == id && b == id + (1L << 42) && n == twin.size - 1 },
      s"energy shingles missed the trimmed twin: ${sh.toSeq}")
    // trimWav on a non-wav is the identity (fresh copy)
    val raw = "plain bytes".getBytes
    assert(java.util.Arrays.equals(Multimodal.trimWav(raw), raw))
  }

  test("videoNearDupPairsDelta: base pairs + delta == full recompute, disjoint") {
    import spark.implicits._
    // base corpus: videos plus in-base exact dups (the memoized pair
    // mass); new arrivals: an exact re-upload of a base video
    // (new-vs-base evidence), two mutual copies (new-new evidence,
    // including the double-emission path the delta's distinct must
    // collapse), and genuinely fresh content (no evidence)
    val ids = (1L to 15L)
    def frames(id: Long, key: Long): Seq[(Long, Long, Array[Byte])] = {
      val nf = 2 + (id % 4).toInt
      (0 until nf).map(f => (key, f.toLong, Multimodal.syntheticPngFrame(id, f)))
    }
    val base = ids.flatMap(id => frames(id, id)) ++
      ids.filter(_ % 3 == 0).flatMap(id => frames(id, id + 1000))
    val nw = frames(4L, 2004L) ++
      frames(7L, 2007L) ++ frames(7L, 3007L) ++
      frames(1000L, 9001L)
    val sigsBase = Multimodal.frameHashes(base.toDF("doc_id", "frame_idx", "payload"))
    val sigsNew = Multimodal.frameHashes(nw.toDF("doc_id", "frame_idx", "payload"))
    val sigsAll = Multimodal.frameHashes(
      (base ++ nw).toDF("doc_id", "frame_idx", "payload"))
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.as[(Long, Long, Long)].collect().toSet
    val full = pairSet(Multimodal.videoNearDupPairs(sigsAll, maxHamming = 2))
    val basePairs = pairSet(Multimodal.videoNearDupPairs(sigsBase, maxHamming = 2))
    val delta = pairSet(
      Multimodal.videoNearDupPairsDelta(sigsNew, sigsBase, maxHamming = 2))
    assert(basePairs.intersect(delta).isEmpty, "delta re-emitted a base-base pair")
    assert(basePairs.union(delta) == full,
      s"memo+delta != full: missing ${full -- basePairs -- delta}, " +
        s"extra ${(basePairs ++ delta) -- full}")
    assert(delta.exists { case (a, b, _) => a == 4L && b == 2004L },
      "new-vs-base re-upload evidence missing from the delta")
    assert(delta.exists { case (a, b, _) => a == 2007L && b == 3007L },
      "new-vs-new copy evidence missing from the delta")
    assert(!delta.exists { case (a, b, _) => a == 9001L || b == 9001L },
      "fresh content must produce no delta evidence")
  }

  test("unified dedup endpoints: re-encode AND head-cut twins cluster with their base") {
    import spark.implicits._
    // VIDEO: base (4 frames), blue-LSB re-encode twin (+2^40, aligned
    // evidence), head-cut twin (+2^41, shingle evidence), plus an
    // unrelated video. One CC over the UNION of aligned quorum pairs
    // and shingle quorum pairs must co-label BOTH twins with the base
    // — the dedup-matrix contract the per-evidence faces stop short of.
    val id = 11L
    val base = (0 until 4).map(x => (id, x.toLong, Multimodal.syntheticPngFrame(id, x)))
    val reenc = (0 until 4).map(x => (id + (1L << 40), x.toLong,
      Multimodal.perturbPngFrame(Multimodal.syntheticPngFrame(id, x))))
    val headcut = (0 until 3).map(x => (id + (1L << 41), x.toLong,
      Multimodal.syntheticPngFrame(id, x + 1)))
    val other = (0 until 3).map(x => (23L, x.toLong, Multimodal.syntheticPngFrame(23L, x)))
    val pool = (base ++ reenc ++ headcut ++ other).toDF("doc_id", "frame_idx", "payload")
    val sigs = Multimodal.frameHashes(pool)
    val aligned = Multimodal.videoNearDupPairs(sigs, maxHamming = 2)
      .select(col("id_a"), col("id_b"))
    val shingled = Multimodal.sequenceShingleQuorumPairs(sigs, k = 2)
      .select(col("id_a"), col("id_b"))
    val sigVec = sigs.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("frame_idx"), col("fp")))).as("sig"))
    val labels = TextOps.dedupClustersBySig(
        pool.select(col("doc_id")).distinct(), sigVec,
        aligned.unionByName(shingled))
      .as[(Long, Long)].collect().toMap
    assert(labels(id + (1L << 40)) == labels(id), "re-encode twin split from base")
    assert(labels(id + (1L << 41)) == labels(id), "head-cut twin split from base")
    assert(labels(23L) != labels(id), "unrelated video merged into the base cluster")
    // AUDIO analog: whole-clip fp pairs (catch the 1-ulp twin) +
    // window-energy shingle quorum pairs (catch the 64-sample trim)
    val aid = 7L
    val wav = Multimodal.syntheticWav(aid)
    val apool = spark.createDataset(Seq(
      Multimodal.MediaRow(aid, "audio", wav),
      Multimodal.MediaRow(aid + (1L << 40), "audio", Multimodal.perturbWav(wav)),
      Multimodal.MediaRow(aid + (1L << 42), "audio", Multimodal.trimWav(wav, 64)),
      Multimodal.MediaRow(13L, "audio", Multimodal.syntheticWav(13L))))
    val asigs = Multimodal.audioFingerprints(apool).toDF("doc_id", "fp")
    val apr = TextOps.hammingPairs(asigs.toDF("id", "sig"), sigBits = 64, maxHamming = 2)
      .toDF("id_a", "id_b", "hamming").select(col("id_a"), col("id_b"))
    val aen = Multimodal.wavWindowEnergy(apool, window = 64)
      .select(col("doc_id"), col("win"), col("energy"))
    val ash = Multimodal.sequenceShingleQuorumPairs(aen, k = 2)
      .select(col("id_a"), col("id_b"))
    val alab = TextOps.dedupClustersBySig(
        apool.toDF().select(col("doc_id")), asigs, apr.unionByName(ash))
      .as[(Long, Long)].collect().toMap
    assert(alab(aid + (1L << 40)) == alab(aid), "1-ulp audio twin split from base")
    assert(alab(aid + (1L << 42)) == alab(aid), "trimmed audio twin split from base")
    assert(alab(13L) != alab(aid), "unrelated clip merged into the base cluster")
  }

  test("fleissKappa: hand cases exact; incomplete design yields zero rows") {
    import spark.implicits._
    def kap(rows: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long, Long, Long, Double)] =
      graft.text.PrefOps.fleissKappa(
          rows.toDF("item_id", "rater_id", "category"))
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    // perfect agreement: kappa = 1 exactly
    val perfect = kap(Seq((1L, 0L, 0L), (1L, 1L, 0L), (2L, 0L, 1L), (2L, 1L, 1L)))
    assert(perfect == Seq((2L, 2L, 2L, 4L, 8L, 1.0)), s"got $perfect")
    // hand case: P-bar = 1/2, Pe = 5/8, kappa = -1/3
    val hand = kap(Seq((1L, 0L, 0L), (1L, 1L, 0L), (2L, 0L, 0L), (2L, 1L, 1L)))
    assert(hand.size == 1 && hand.head._6 == -0.333333,
      s"kappa should round to -0.333333, got $hand")
    assert(hand.head._4 == 2L && hand.head._5 == 10L) // A and B exact
    // incomplete design (item 2 rated once): zero rows, never a wrong kappa
    val incomplete = kap(Seq((1L, 0L, 0L), (1L, 1L, 0L), (2L, 0L, 1L)))
    assert(incomplete.isEmpty)
    // the synthetic rating table is complete by construction
    val docs = (0L until 40L).map(id => id).toDF("doc_id")
    val r = graft.text.PrefOps.syntheticRatings(docs, raters = 5, cats = 4)
    assert(r.count() == 200)
    val k = graft.text.PrefOps.fleissKappa(r)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(k.length == 1 && k.head._1 == 40L && k.head._2 == 5L)
    assert(k.head._6 > 0.0 && k.head._6 < 1.0) // noisy but above chance
  }

  test("fleissKappa survives the int64 kappa-numerator ceiling (decimal widening)") {
    import spark.implicits._
    // N = 400k items x 5 raters, perfect agreement: the pre-widening
    // int64 path computed a_num·N²·n² = 500·N³ ≈ 3.2e19 > 2^63 here,
    // so ANSI Spark threw ArithmeticException on any production-scale
    // annotation table. The decimal(38,0) kappa terms must survive
    // and return exactly 1.0 (perfect agreement is exact: numerator
    // 375·N³ equals denominator 375·N³).
    val n = 400000L
    val ratings = spark.range(n).select(
        col("id").as("item_id"),
        explode(expr("sequence(0, 4)")).as("rater_id"))
      .select(col("item_id"), col("rater_id").cast("long").as("rater_id"),
        (col("item_id") % 4).as("category"))
    val k = graft.text.PrefOps.fleissKappa(ratings)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(k.length == 1, s"expected one kappa row, got ${k.toSeq}")
    assert(k.head._1 == n && k.head._2 == 5L && k.head._6 == 1.0,
      s"kappa must be exactly 1.0 at N=$n, got ${k.head}")
  }

  test("filterFunnel: first-gate attribution, monotone survivors, exact corpus share") {
    import spark.implicits._
    // masks: 0 = clean, 1 = dies at gate 0, 4 = gate 2, 64 = gate 6,
    // 5 = gates 0 and 2 -> attributed to gate 0 (first-gate rule)
    val audit = Seq(
      (1L, 30L, 0L, true), (2L, 5L, 1L, false), (3L, 30L, 4L, false),
      (4L, 30L, 64L, false), (5L, 5L, 5L, false)
    ).toDF("doc_id", "n_words", "reason_mask", "keep")
    val f = graft.text.TextOps.filterFunnel(audit)
      .orderBy("stage")
      .as[(Long, String, Long, Long, Long, Long)].collect().toSeq
    assert(f.map(_._2) == Seq("word_count", "mean_word_len", "alpha_ratio",
      "stopwords", "top_word_mass", "dup_trigrams", "language"))
    assert(f(0) == ((0L, "word_count", 5L, 3L, 2L, 600000L)))
    assert(f(2) == ((2L, "alpha_ratio", 3L, 2L, 1L, 400000L)))
    assert(f(6) == ((6L, "language", 2L, 1L, 1L, 200000L)))
    // survivors never increase along the funnel; n_in chains to the
    // previous stage's n_out
    assert(f.sliding(2).forall { case Seq(a, b) => b._3 == a._4 })
  }

  test("image entropy: flat fill reads zero, analytic reference matches, junk drops") {
    import spark.implicits._
    // a flat single-color image has exactly one luma level -> entropy 0
    val flat = new java.awt.image.BufferedImage(6, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 6) flat.setRGB(x, y, 0x336699)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(flat, "png", bos)
    val flatRow = Multimodal.MediaRow(1L, "image", bos.toByteArray)
    // independent reference for a synthetic PNG: pixel formula ->
    // integer luma histogram -> folded entropy
    val id = 37L
    val (w, h) = (16 + (id % 32).toInt, 16 + (id % 17).toInt)
    val hist = new Array[Long](256)
    for (y <- 0 until h; x <- 0 until w) {
      val v = ((x * 31 + y * 7 + id) & 0xFFFFFF).toInt
      val luma = (299 * ((v >> 16) & 0xFF) + 587 * ((v >> 8) & 0xFF) + 114 * (v & 0xFF)) / 1000
      hist(luma) += 1
    }
    val n = w.toLong * h
    val clnc = hist.filter(_ > 0).map(c => c * math.log(c.toDouble)).sum
    val expEnt = BigDecimal(math.log(n.toDouble) - clnc / n)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val media = spark.createDataset(Seq(
      flatRow,
      Multimodal.MediaRow(id, "image", Multimodal.syntheticPng(id)),
      Multimodal.MediaRow(9L, "image", "not an image".getBytes)))
    val got = Multimodal.imageEntropy(media)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq(1L, 37L)) // junk row dropped
    assert(got(0) == ((1L, 24L, 1L, 0.0)))
    assert(got(1)._2 == n && got(1)._4 == expEnt)
    assert(got(1)._3 == hist.count(_ > 0))
  }

  test("VAD segments: islands merge maximal active runs, gate is exact, docs isolated") {
    import spark.implicits._
    // hand energy table: doc 1 windows 0,1 active / 2 idle / 3,4 active;
    // doc 2 all idle except window 7 (also proves docs don't bleed)
    val e = Seq(
      (1L, 0, 10L, 1000L), (1L, 1, 10L, 900L), (1L, 2, 10L, 500L),
      (1L, 3, 10L, 501L), (1L, 4, 10L, 2000L),
      (2L, 6, 10L, 100L), (2L, 7, 10L, 999L)
    ).toDF("doc_id", "win", "n_samples", "energy")
    // threshold 50/sample -> active iff energy > 500
    val segs = Multimodal.vadSegments(e, thresholdPerSample = 50L)
      .orderBy("doc_id", "seg_start")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(segs == Seq(
      (1L, 0L, 1L, 2L, 1900L),  // windows 0-1 merged
      (1L, 3L, 4L, 2L, 2501L),  // idle window 2 splits the runs
      (2L, 7L, 7L, 1L, 999L)))  // strict gate: 100 <= 500 idle, 999 > 500 active
    // boundary: energy == threshold*n is NOT active (strict >)
    val b = Seq((1L, 0, 10L, 500L)).toDF("doc_id", "win", "n_samples", "energy")
    assert(Multimodal.vadSegments(b, 50L).count() == 0)
  }

  test("prefCycles: rock-paper-scissors triad reads fully cyclic; transitive chain reads zero") {
    import spark.implicits._
    // duelCut-shaped input: (i, j, winner, n) with i < j
    def audit(rows: Seq[(String, String, String, Long)]) =
      graft.text.PrefOps.prefCyclesFrom(rows.toDF("i", "j", "winner", "n"))
        .as[(Long, Long, Long, Long, Long)].collect().head
    // r beats s, s beats p... classic intransitive triad: p>r, r>s, s>p
    val rps = audit(Seq(
      ("p", "r", "p", 3L), ("r", "s", "r", 3L), ("p", "s", "s", 3L)))
    assert(rps == ((3L, 3L, 1L, 1L, 1000000L)))
    // transitive: a>b, b>c, a>c — one triangle, zero cycles
    val chain = audit(Seq(
      ("a", "b", "a", 2L), ("b", "c", "b", 2L), ("a", "c", "a", 2L)))
    assert(chain == ((3L, 3L, 1L, 0L, 0L)))
    // a tied pair is undecided: its triangle disappears but the
    // contestants still count
    val tied = audit(Seq(
      ("a", "b", "a", 2L), ("a", "b", "b", 2L),
      ("b", "c", "b", 2L), ("a", "c", "a", 2L)))
    assert(tied == ((3L, 2L, 0L, 0L, 0L)))
    // split-vote majority still decides: 2-1 for a
    val maj = audit(Seq(
      ("a", "b", "a", 2L), ("a", "b", "b", 1L),
      ("b", "c", "c", 2L), ("a", "c", "c", 2L)))
    // a>b, c>b, c>a: chain edges a→b, c→b... orientations: w_ab=T, w_bc=F, w_ac=F
    // not cyclic (c beats both): one triangle, zero cycles
    assert(maj == ((3L, 3L, 1L, 0L, 0L)))
  }

  test("AVI: frames inside LIST('rec ') wrappers decode like bare movi chunks") {
    // interleaved VfW files wrap frame groups in rec sub-lists; wrap
    // the whole movi body of a synthetic AVI in one and expect an
    // identical parse
    val avi = Multimodal.syntheticAvi(5L)
    def idxOf(tag: String): Int = {
      val t = tag.getBytes
      avi.indices.find(i => i + 4 <= avi.length &&
        avi(i) == t(0) && avi(i + 1) == t(1) && avi(i + 2) == t(2) && avi(i + 3) == t(3)).get
    }
    val moviType = idxOf("movi") // LIST header sits 8 bytes before
    val listStart = moviType - 8
    def u32(off: Int): Int =
      (avi(off) & 0xFF) | ((avi(off + 1) & 0xFF) << 8) |
        ((avi(off + 2) & 0xFF) << 16) | ((avi(off + 3) & 0xFF) << 24)
    val oldSize = u32(listStart + 4) // includes the 4-byte 'movi' type
    val body = java.util.Arrays.copyOfRange(avi, moviType + 4, listStart + 8 + oldSize)
    val out = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
      out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
    }
    out.write(avi, 0, listStart) // everything before the movi list
    out.write("LIST".getBytes); le32(4 + 12 + body.length); out.write("movi".getBytes)
    out.write("LIST".getBytes); le32(4 + body.length); out.write("rec ".getBytes)
    out.write(body)
    val wrapped = out.toByteArray
    // patch the RIFF size (grew by the 12-byte rec header)
    val total = wrapped.length - 8
    wrapped(4) = (total & 0xFF).toByte; wrapped(5) = ((total >> 8) & 0xFF).toByte
    wrapped(6) = ((total >> 16) & 0xFF).toByte; wrapped(7) = ((total >> 24) & 0xFF).toByte
    assert(Multimodal.decodeAvi(wrapped) == Multimodal.decodeAvi(avi),
      "rec-wrapped AVI parsed differently from the bare form")
  }

  test("RIFF walkers terminate on adversarial size fields and random bytes") {
    // a u32 chunk size near 4 GiB wraps negative through .toInt — an
    // unclamped walker would step backwards and loop forever. Sizes
    // are clamped to the bytes present, so every parse terminates.
    def withSize(base: Array[Byte], off: Int, size: Long): Array[Byte] = {
      val b = base.clone()
      b(off) = (size & 0xFF).toByte; b(off + 1) = ((size >> 8) & 0xFF).toByte
      b(off + 2) = ((size >> 16) & 0xFF).toByte; b(off + 3) = ((size >> 24) & 0xFF).toByte
      b
    }
    val wav = Multimodal.syntheticWav(3L)
    // poison the fmt chunk size (offset 16) and the data size (offset 40)
    for (poison <- Seq(0xFFFFFFFFL, 0x80000000L, 0x7FFFFFFFL)) {
      Multimodal.decodeWav(withSize(wav, 16, poison)) // must return, any result
      Multimodal.decodeWav(withSize(wav, 40, poison))
    }
    val avi = Multimodal.syntheticAvi(3L)
    for (poison <- Seq(0xFFFFFFFFL, 0x80000000L)) {
      // RIFF size, first LIST size, and a movi chunk size
      Multimodal.decodeAvi(withSize(avi, 4, poison))
      Multimodal.decodeAvi(withSize(avi, 16, poison))
    }
    // random bytes wearing RIFF headers parse to None, never hang/throw
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 50) {
      val junk = Array.fill(200)(rnd.nextInt(256).toByte)
      "RIFF".getBytes.copyToArray(junk, 0)
      "WAVE".getBytes.copyToArray(junk, 8)
      Multimodal.decodeWav(junk)
      "AVI ".getBytes.copyToArray(junk, 8)
      assert(Multimodal.decodeAvi(junk).isEmpty)
    }
  }

  test("WAV/AVI feature kernels are stream-transparent (stateless mapPartitions)") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft-media-stream").toFile
    val rows = (0L until 30L).map { i =>
      if (i % 2 == 0) Multimodal.MediaRow(i, "audio", Multimodal.syntheticWav(i))
      else Multimodal.MediaRow(i, "video", Multimodal.syntheticAvi(i))
    }
    val batch = spark.createDataset(rows)
    batch.toDF().write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("media_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.BinaryType)))
    def stream() = spark.readStream.schema(schema).parquet(srcDir.getAbsolutePath)
      .as[Multimodal.MediaRow]
    for ((name, batchDf, streamDf) <- Seq(
        ("wav", Multimodal.audioFeatures(batch), Multimodal.audioFeatures(stream())),
        ("avi", Multimodal.videoFeatures(batch), Multimodal.videoFeatures(stream())))) {
      val q = streamDf.writeStream.format("memory").queryName(s"media_$name")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val streamed = spark.table(s"media_$name").collect().map(_.toSeq).toSet
      val want = batchDf.collect().map(_.toSeq).toSet
      assert(streamed == want && streamed.nonEmpty, s"$name parity")
    }
  }

  test("AVI: synthetic MJPEG container parses headers, counts frames, decodes real JPEGs") {
    for (id <- Seq(0L, 2L, 5L, 8L, 23L, 777L)) {
      val avi = Multimodal.syntheticAvi(id)
      assert(Multimodal.looksLikeAvi(avi))
      val m = Multimodal.decodeAvi(avi).get
      val expW = 16 + (id % 13).toInt; val expH = 16 + (id % 7).toInt
      assert(m.width == expW && m.height == expH)
      assert(m.nFrames == 2 + (id % 4).toInt)
      assert(m.fps == Seq(10, 20, 25, 40, 50)((id % 5).toInt))
      // decoded first-frame dims (from the JPEG bytes) match the header
      assert(m.frame0Width == expW && m.frame0Height == expH)
    }
    assert(Multimodal.decodeAvi("RIFFxxxxAVI ".getBytes).isEmpty)
    assert(Multimodal.decodeAvi(Multimodal.syntheticPng(3L)).isEmpty)
    // frame explode kernel: one row per frame, decoded dims, non-AVI skipped
    val media = spark.createDataset(Seq(
      Multimodal.MediaRow(9L, "video", Multimodal.syntheticAvi(9L)),
      Multimodal.MediaRow(1L, "audio", Multimodal.syntheticWav(1L))))
    val out = Multimodal.sampleAviFrames(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expN = 2 + (9L % 4).toInt
    assert(out.map(_._1).toSet == Set(9L) && out.length == expN)
    assert(out.forall(t => t._3 == 16 + 9 % 13 && t._4 == 16 + 9 % 7))
  }

  test("stratified sampling: deterministic, monotone in rate, strata independent, default rate applied") {
    val docsS = (0L until 400L).map(i =>
      (i, s"text $i", Seq("en", "de", "es", "fr")(( i % 4).toInt))).toDF("doc_id", "text", "lang")
    def ids(rates: Map[String, Double]) =
      TextOps.stratifiedSample(docsS, rates, defaultRate = 1.0, salt = "s1")
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"))).toSet
    val a = ids(Map("en" -> 0.5, "de" -> 0.2))
    // deterministic: same call, same set
    assert(a == ids(Map("en" -> 0.5, "de" -> 0.2)))
    // default rate: unlisted strata fully kept
    assert(a.count(_._2 == "es") == 100 && a.count(_._2 == "fr") == 100)
    // rates land near expectation (hash-uniformity sanity)
    assert(math.abs(a.count(_._2 == "en") - 50) < 25 && math.abs(a.count(_._2 == "de") - 20) < 15)
    // monotone: raising one stratum's rate only ADDS docs there and
    // never resamples the others
    val b = ids(Map("en" -> 0.8, "de" -> 0.2))
    assert(a.filter(_._2 == "en").subsetOf(b.filter(_._2 == "en")))
    assert(a.filter(_._2 != "en") == b.filter(_._2 != "en"))
  }

  test("entropy features: closed-form values for degenerate, uniform, and skewed distributions") {
    val d = Seq(
      (0L, "spam spam spam spam"),  // one type -> entropy 0
      (1L, "a bb ccc dddd"),        // uniform over 4 -> ln 4; mean len 2.5
      (2L, "x x x y"),              // skewed: -(3/4 ln 3/4 + 1/4 ln 1/4)
      (3L, ""))                     // no tokens -> dropped
      .toDF("doc_id", "text")
    val out = TextOps.entropyFeatures(d)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out.keySet == Set(0L, 1L, 2L))
    assert(out(0L) == ((4L, 1L, 0.0, 4.0)))
    assert(out(1L)._1 == 4L && out(1L)._2 == 4L)
    assert(math.abs(out(1L)._3 - math.log(4.0)) < 1e-6 && out(1L)._4 == 2.5)
    val skew = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert(math.abs(out(2L)._3 - skew) < 1e-6)
  }

  test("repetition features: looping text scores high, distinct text zero, short docs defined") {
    val docsR = Seq(
      (0L, "spam spam spam spam spam spam spam spam"),   // one distinct 3-gram
      (1L, "a b c d e f g h"),                           // all 3-grams distinct
      (2L, "x y"),                                       // no 3-grams
      (3L, "")                                           // no tokens at all
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionFeatures(docsR).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out(0L) == ((6L, 1L, 0.833333, 1.0)))        // 8 tokens of one kind, rounded 6
    assert(out(1L) == ((6L, 6L, 0.0, 0.125)))           // top token 1/8
    assert(out(2L) == ((0L, 0L, 0.0, 0.5)))
    assert(out(3L) == ((0L, 0L, 0.0, 0.0)))
  }

  test("PII scrub: emails, IPv4s, and long digit runs redacted with exact counts; clean text preserved") {
    val pii = Seq(
      (0L, "mail alice.smith+x@corp.example.org now"),
      (1L, "host 192.168.1.254 and 10.0.0.1 up"),
      (2L, "acct 123456789012 ok, short 12345678 kept"),
      (3L, "mixed bob@10.2.3.4.net from 172.16.254.3 acct 999888777666"),
      (4L, "nothing to redact here")
    ).toDF("doc_id", "text")
    val out = TextOps.scrubPii(pii).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(0L) == (("mail <EMAIL> now", 1L, 0L, 0L)))
    assert(out(1L) == (("host <IP> and <IP> up", 0L, 2L, 0L)))
    // \d{9,} takes the 12-digit run, leaves the 8-digit one
    assert(out(2L) == (("acct <NUM> ok, short 12345678 kept", 0L, 0L, 1L)))
    // the email eats its IP-shaped host; the bare IP and account remain
    assert(out(3L) == (("mixed <EMAIL> from <IP> acct <NUM>", 1L, 1L, 1L)))
    assert(out(4L) == (("nothing to redact here", 0L, 0L, 0L)))
  }

  test("language id is deterministic with stable tie-break") {
    val out = TextOps.languageId(docsDf).collect()
    assert(out.length == 5)
    // doc 3 has zero markers everywhere -> tie broken to first lang asc
    val d3 = out.find(_.getLong(0) == 3L).get
    assert(d3.getString(1) == "de" && d3.getLong(2) == 0L)
  }

  test("cmsTokenFreq: exact top counts, est >= exact always, tie-break and limit honored") {
    val d = Seq(
      (0L, "alpha alpha alpha beta beta gamma"),
      (1L, "alpha beta delta delta"),
      (2L, "epsilon zeta")).toDF("doc_id", "text")
    val out = TextOps.cmsTokenFreq(d, d = 4, w = 512, topK = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // exact counts: alpha 4, beta 3, delta 2, then gamma/epsilon/zeta 1
    // (limit 4 cuts at delta; ties below never enter)
    val m = out.map(t => t._1 -> t._2).toMap
    assert(m == Map("alpha" -> 4L, "beta" -> 3L, "delta" -> 2L, "epsilon" -> 1L),
      s"top-4 wrong: ${out.toSeq}")
    assert(out.forall(t => t._3 >= t._2 && t._4 == t._3 - t._2), s"CMS under-counted: ${out.toSeq}")
  }

  test("piiInventory: per-source rollup, sequential counting, affected share in exact ppm") {
    val d = Seq(
      (0L, "A", "mail me at a@b.co please"),
      (1L, "A", "nothing here"),
      (2L, "B", "host 1.2.3.4 ref 123456789"),
      (3L, "B", "clean"),
      (4L, "B", "also clean")).toDF("doc_id", "source", "text")
    val out = TextOps.piiInventory(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(out("A") == ((2L, 1L, 1L, 0L, 0L, 500000L)), s"A: ${out("A")}")
    assert(out("B") == ((3L, 1L, 0L, 1L, 1L, 333333L)), s"B: ${out("B")}")
    // an email's IP-shaped host never double-counts (sequential order)
    val seq = Seq((0L, "C", "x@10.1.2.34mail.com y")).toDF("doc_id", "source", "text")
    val c = TextOps.piiInventory(seq).collect().head
    assert(c.getLong(3) == 1L && c.getLong(4) == 0L, s"sequential: $c")
  }

  test("qualityAudit: reason bits fire independently as pure-integer gates; keep = mask 0") {
    val good = (Seq("the", "of") ++ (1 to 23).map(i => f"word$i%02d")).mkString(" ")
    val d = Seq(
      (0L, good, "en"),            // all gates pass
      (1L, "hi", "en"),            // words(1) + meanlen(2) + stop(8) + top(16) = 27
      (2L, good, "de"),            // language only = 64
      (3L, ("x y z " * 10).trim, "en")) // meanlen(2)+stop(8)+top(16)+rep(32) = 58
      .toDF("doc_id", "text", "lang")
    val out = TextOps.qualityAudit(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(0L) == ((25L, 0L, true)), s"good doc: ${out(0L)}")
    assert(out(1L) == ((1L, 27L, false)), s"short doc: ${out(1L)}")
    assert(out(2L) == ((25L, 64L, false)), s"lang doc: ${out(2L)}")
    assert(out(3L) == ((30L, 58L, false)), s"loop doc: ${out(3L)}")
  }

  test("gopherRules: each gate fires independently; keep is the conjunction") {
    val d = Seq(
      // passes all: 20 short alpha words incl. 2 stopwords
      (0L, (Seq("the", "of") ++ (1 to 18).map(i => s"word$i")).mkString(" ")),
      // too few words
      (1L, "the of alpha beta"),
      // mean word length too high: 20 long words + stopwords
      (2L, (Seq("the", "of") ++ (1 to 18).map(_ => "superlongtokenhere123")).mkString(" ")),
      // not enough alphabetic words: mostly numbers
      (3L, (Seq("the", "of", "abc") ++ (1 to 17).map(i => (i * 11).toString)).mkString(" ")),
      // only one distinct stopword
      (4L, (Seq("the") ++ (1 to 19).map(i => s"word$i")).mkString(" "))
    ).toDF("doc_id", "text")
    val out = TextOps.gopherRules(d)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8), r.getBoolean(9)))).toMap
    assert(out(0L) == ((true, true, true, true, true)), s"doc0: ${out(0L)}")
    assert(out(1L)._1 == false && out(1L)._5 == false)
    assert(out(2L)._2 == false && out(2L)._5 == false, s"doc2: ${out(2L)}")
    assert(out(3L)._3 == false && out(3L)._5 == false, s"doc3: ${out(3L)}")
    assert(out(4L)._4 == false && out(4L)._5 == false, s"doc4: ${out(4L)}")
  }

  test("cmsCells (occurrence path) equals the count-then-sum cells of cmsTokenFreq's route") {
    val d = Seq(
      (0L, "alpha alpha beta gamma gamma gamma"),
      (1L, "alpha beta beta delta")).toDF("doc_id", "text")
    val occ = TextOps.cmsCells(d, d = 4, w = 512)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    // independent recomputation: per-token exact counts scattered into
    // the same 9-bit windows
    val counts = Map("alpha" -> 3L, "beta" -> 3L, "gamma" -> 3L, "delta" -> 1L)
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = scala.collection.mutable.Map.empty[(Int, Int), Long].withDefaultValue(0L)
    for ((w, c) <- counts) {
      val h = java.lang.Long.parseLong(
        md.digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
      for (j <- 0 until 4) want((j, ((h >>> (j * 9)) & 511L).toInt)) += c
    }
    assert(occ == want.toMap, s"cells diverge:\n$occ\n$want")
  }

  test("cmsTokenFreq: single-row sketch over a wide vocabulary must show collisions (overest > 0)") {
    // 2000 distinct tokens into 512 buckets with d = 1: the probed
    // bucket almost surely holds other tokens, so SOME top token
    // over-estimates; with d = 4 the same corpus should overestimate
    // strictly less in total (more rows to take the min over)
    val docs = Seq.tabulate(100) { i =>
      (i.toLong, (0 until 40).map(j => s"tok${(i * 40 + j) % 2000}").mkString(" "))
    }.toDF("doc_id", "text")
    def total(dd: Int) = TextOps.cmsTokenFreq(docs, d = dd, w = 512, topK = 50)
      .agg(sum(col("overest"))).collect()(0).getLong(0)
    val o1 = total(1); val o4 = total(4)
    assert(o1 > 0L, "d=1 over 2000 tokens should collide somewhere in the top 50")
    assert(o4 <= o1, s"more sketch rows must not increase overestimate: d4=$o4 d1=$o1")
  }

  test("patchIntensitySums: real PNG decode reproduces the analytic patch sums; edge remainders dropped") {
    import spark.implicits._
    val ids = Seq(0L, 7L) // id 0: 16x16 -> 2x2 patches; id 7: 23x23 -> 2x2 (7px remainders dropped)
    val media = ids.map(id => Multimodal.MediaRow(id, "image", Multimodal.syntheticPng(id)))
      .toDS()
    val out = Multimodal.patchIntensitySums(media, patch = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
    def expected(id: Long, pj: Int, pi: Int): Long = {
      var s = 0L
      for (y <- pj * 8 until pj * 8 + 8; x <- pi * 8 until pi * 8 + 8) {
        val v = (x * 31 + y * 7 + id) & 0xFFFFFF
        s += ((v >> 16) & 0xFF) + ((v >> 8) & 0xFF) + (v & 0xFF)
      }
      s
    }
    val wantKeys = for (id <- ids; pj <- 0 until 2; pi <- 0 until 2) yield (id, pj, pi)
    assert(out.keySet == wantKeys.toSet, s"patch grid wrong: ${out.keySet}")
    for ((id, pj, pi) <- wantKeys)
      assert(out((id, pj, pi)) == expected(id, pj, pi), s"patch ($id,$pj,$pi)")
  }

  test("bigramPmi: hand-computed counts and ln-chain PMI, minCount prunes, short docs contribute none") {
    val d = Seq((0L, "a b a b a b"), (1L, "a b a b a b"), (2L, "x")).toDF("doc_id", "text")
    val out = TextOps.bigramPmi(d, minCount = 5L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    // uni: a=6 b=6 x=1 -> n_u=13; bigrams: (a,b)x6 (b,a)x4 -> n_b=10;
    // minCount 5 keeps only (a,b)
    assert(out.keySet == Set(("a", "b")), s"got ${out.keySet}")
    val want = math.log(6) + math.log(13) + math.log(13) -
      math.log(6) - math.log(6) - math.log(10)
    assert(out(("a", "b")) == ((6L, math.rint(want * 1e6) / 1e6)), s"pmi: ${out(("a", "b"))}")
  }

  test("dedupThresholdSweep: one join at base threshold, correct bucket counts at each cut") {
    val out = TextOps.dedupThresholdSweep(docsDf, thresholds = Seq(0.7, 0.85, 1.0))
      .collect().map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // jaccards: (0,1)=1.0, (0,2)=(1,2)=7/9, (0,4)=(1,4)=8/9, (2,4)=7/10
    assert(out(0.7) == ((6L, 4L)), s"t=0.7: ${out(0.7)}")
    assert(out(0.85) == ((3L, 3L)), s"t=0.85: ${out(0.85)}")
    assert(out(1.0) == ((1L, 2L)), s"t=1.0: ${out(1.0)}")
  }

  test("leakageSafeSplit: whole clusters move together; splits are the salted bucket cuts") {
    // 3 clusters: {0,1,2} -> 0, {3,4} -> 3, {5} -> 5
    val clusters = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L), (4L, 3L), (5L, 5L))
      .toDF("doc_id", "cluster_id")
    val out = TextOps.leakageSafeSplit(clusters, testPct = 30, valPct = 30, salt = "s1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == 6)
    // no cluster straddles: every member of a cluster has ITS split
    val byCluster = out.groupBy(_._2).map { case (c, rows) => c -> rows.map(_._3).distinct }
    assert(byCluster.values.forall(_.size == 1), s"cluster straddles splits: $byCluster")
    // the split IS the salted 60-bit md5 bucket of the cluster id
    def bucketOf(c: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"s1:$c".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    for ((_, c, s) <- out) {
      val b = bucketOf(c)
      val want = if (b < 30) "test" else if (b < 60) "val" else "train"
      assert(s == want, s"cluster $c bucket $b: got $s want $want")
    }
  }

  test("noveltyCurve: first batch all-new, later batch splits into new vs carried grams") {
    val d = Seq(
      (0L, "a b c"),       // bucket 0: gram abc
      (1L, "a b c d"),     // bucket 0: abc, bcd
      (2L, "a b c x"),     // bucket 1: abc (carried), bcx (new)
      (3L, "b c d e")      // bucket 1: bcd (carried), cde (new)
    ).toDF("doc_id", "text")
    val out = TextOps.noveltyCurve(d, n = 3, bucketSize = 2L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(0L) == ((2L, 2L, 1.0)), s"bucket 0: ${out(0L)}")
    assert(out(1L) == ((4L, 2L, 0.5)), s"bucket 1: ${out(1L)}")
  }

  test("sourceOverlapMatrix: hand-computed intersections, zero pairs present, gramless source absent") {
    val d = Seq(
      (0L, "sa", "a b c d"),   // grams: "a b c", "b c d"
      (1L, "sb", "a b c x"),   // grams: "a b c", "b c x"
      (2L, "sc", "p q r"),     // gram:  "p q r"
      (3L, "sd", "x y")        // no trigram -> source absent entirely
    ).toDF("doc_id", "source", "text")
    val out = TextOps.sourceOverlapMatrix(d, n = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out.keySet == Set(("sa", "sb"), ("sa", "sc"), ("sb", "sc")), s"grid wrong: ${out.keySet}")
    assert(out(("sa", "sb")) == ((1L, math.rint(1.0 / 3 * 1e6) / 1e6, 0.5)))
    assert(out(("sa", "sc")) == ((0L, 0.0, 0.0)))
    assert(out(("sb", "sc")) == ((0L, 0.0, 0.0)))
  }

  test("knnPageRank: matches an in-test integer power iteration exactly; hub outranks leaves") {
    // star 0-{1,2,3} plus a 4-5 pair: hub 0 must outrank the leaves,
    // and every rank_units must equal the reference integer recursion
    val ann = Seq((0L, 1L), (0L, 2L), (0L, 3L), (4L, 5L)).toDF("query_id", "cand_id")
    val out = VectorOps.knnPageRank(ann, iters = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // reference: same symmetric edges, same integer ops
    val edges = Seq(0L -> 1L, 0L -> 2L, 0L -> 3L, 4L -> 5L).flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val nodes = edges.map(_._1).distinct.sorted
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val base = 1000000000000L / nodes.size
    val tele = 15L * base / 100L
    var r = nodes.map(_ -> base).toMap
    for (_ <- 0 until 3) {
      val s = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / deg(src) }.sum
      }
      r = nodes.map(n => n -> (tele + 85L * s.getOrElse(n, 0L) / 100L)).toMap
    }
    assert(out.keySet == nodes.toSet)
    for (n <- nodes) {
      assert(out(n)._1 == deg(n), s"degree($n)")
      assert(out(n)._2 == r(n), s"rank_units($n): got ${out(n)._2}, want ${r(n)}")
    }
    assert(out(0L)._2 > out(1L)._2, "hub must outrank leaf")
    assert(out(1L)._2 == out(2L)._2 && out(2L)._2 == out(3L)._2, "symmetric leaves must tie")
  }

  test("knnLabelPropagation: matches an in-test synchronous LPA; bridged triangles separate") {
    // two triangles bridged by one edge: LPA must keep them as two
    // communities (CC would fuse them through the bridge), and every
    // label must equal the reference synchronous recursion
    val ann = Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L), (3L, 5L), (4L, 5L), (2L, 3L))
      .toDF("query_id", "cand_id")
    val out = VectorOps.knnLabelPropagation(ann, iters = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // reference: same symmetric edges, neighbor majority, ties to min
    val edges = Seq(0L -> 1L, 0L -> 2L, 1L -> 2L, 3L -> 4L, 3L -> 5L, 4L -> 5L, 2L -> 3L)
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
    val nodes = edges.map(_._1).distinct.sorted
    var lbl = nodes.map(n => n -> n).toMap
    for (_ <- 0 until 4) {
      lbl = nodes.map { n =>
        val votes = edges.filter(_._2 == n).map { case (src, _) => lbl(src) }
          .groupBy(identity).map { case (l, v) => (l, v.size) }
        n -> votes.toSeq.maxBy { case (l, c) => (c, -l) }._1
      }.toMap
    }
    assert(out.keySet == nodes.toSet)
    for (n <- nodes)
      assert(out(n)._1 == lbl(n), s"label($n): got ${out(n)._1}, want ${lbl(n)}")
    val comms = out.groupBy(_._2._1).view.mapValues(_.keySet).toMap
    assert(comms.keySet.size == 2, s"expected 2 communities, got $comms")
    assert(comms.values.toSet == Set(Set(0L, 1L, 2L), Set(3L, 4L, 5L)),
      s"triangles must separate across the bridge: $comms")
    for ((n, (_, sz)) <- out) assert(sz == 3L, s"comm_size($n)")
  }

  test("knnKCore: peel cascade removes the pendant chain round by round, keeps the clique") {
    // 4-clique {0,1,2,3} + pendant chain 3-4-5. k=2: round 1 peels 5
    // (degree 1), round 2 peels 4 (its only surviving neighbor is 3),
    // the clique survives as the 2-core
    val ann = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 4L), (4L, 5L)).toDF("query_id", "cand_id")
    val out = VectorOps.knnKCore(ann, k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 2L, 5L -> 1L))
    // k=4: only node 3 (degree 4) survives round 1, then has no
    // surviving edges -> peeled round 2; nothing is a 4-core
    val out4 = VectorOps.knnKCore(ann, k = 4, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out4 === Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 1L))
  }

  test("graph family reliable=true routes through checkpoint() and matches localCheckpoint results") {
    // the OrderOps durability contract extended to the iterative graph
    // ops: on a preemptible cluster the lineage cut must be able to
    // land on reliable storage instead of executor-local blocks
    val sc = spark.sparkContext
    val prior = sc.getCheckpointDir
    val ann = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 4L), (4L, 5L)).toDF("query_id", "cand_id")
    // without a checkpoint dir the reliable path must fail LOUDLY
    // before running anything (Spark's own error fires mid-job)
    if (prior.isEmpty)
      intercept[IllegalArgumentException] {
        VectorOps.knnKCore(ann, k = 2, rounds = 3, reliable = true)
      }
    val dir = java.nio.file.Files.createTempDirectory("graft-gckpt").toString
    sc.setCheckpointDir(dir)
    try {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSet
      assert(rows(VectorOps.knnKCore(ann, k = 2, rounds = 3, reliable = true)) ==
        rows(VectorOps.knnKCore(ann, k = 2, rounds = 3)),
        "durable checkpoint changed the k-core result")
      assert(rows(VectorOps.knnLabelPropagation(ann, iters = 4, reliable = true)) ==
        rows(VectorOps.knnLabelPropagation(ann, iters = 4)),
        "durable checkpoint changed the LPA result")
      val docs = (0L until 8L).map(i => (i, s"d$i")).toDF("doc_id", "text")
      val pairs = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("id_a", "id_b")
      assert(rows(TextOps.dedupClusters(docs, pairs, reliable = true)) ==
        rows(TextOps.dedupClusters(docs, pairs)),
        "durable checkpoint changed the CC result")
    } finally prior.foreach(sc.setCheckpointDir)
  }

  test("knnAssortativity: matches a direct Pearson computation; star is perfectly disassortative") {
    // star 0-{1,2,3,4}: every edge joins degree 4 to degree 1 -> r = -1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("query_id", "cand_id")
    val rStar = VectorOps.knnAssortativity(star).collect()(0)
    assert(rStar.getLong(0) == 8L && rStar.getDouble(1) == -1.0)
    // mixed graph: compare against an in-test double-precision Pearson
    // over the same directed edge list
    val es = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 4L), (3L, 5L), (4L, 5L))
    val out = VectorOps.knnAssortativity(es.toDF("query_id", "cand_id")).collect()(0)
    val sym = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val deg = sym.groupBy(_._1).map { case (k, v) => k -> v.size.toDouble }
    val xs = sym.map { case (s, _) => deg(s) }
    val ys = sym.map { case (_, d) => deg(d) }
    val n = xs.size.toDouble
    val num = n * xs.zip(ys).map { case (x, y) => x * y }.sum - xs.sum * ys.sum
    val den = math.sqrt((n * xs.map(x => x * x).sum - xs.sum * xs.sum) *
      (n * ys.map(y => y * y).sum - ys.sum * ys.sum))
    assert(out.getLong(0) == sym.size.toLong)
    assert(math.abs(out.getDouble(1) - math.rint(num / den * 1e6) / 1e6) < 2e-6,
      s"got ${out.getDouble(1)}, want ${num / den}")
    // uniform-degree graph (a 4-cycle) has zero variance -> NULL
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("query_id", "cand_id")
    assert(VectorOps.knnAssortativity(cyc).collect()(0).isNullAt(1))
  }

  test("knnKCore: cores nest and every core member keeps >= k in-core neighbors") {
    // pseudo-random 30-node graph: the (k+1)-core must sit inside the
    // k-core, and each k-core member must have >= k neighbors that are
    // themselves in the core (the defining property, checked against
    // the raw edge list rather than the operator's own arithmetic)
    val rnd = new scala.util.Random(7)
    val es = Seq.fill(120)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 != p._2).distinct
    val ann = es.toDF("query_id", "cand_id")
    val sym = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val core = (2 to 4).map { k =>
      k -> VectorOps.knnKCore(ann, k = k, rounds = 12)
        .collect().filter(_.getLong(1) == 0L).map(_.getLong(0)).toSet
    }.toMap
    assert(core(2).nonEmpty, "degenerate fixture: empty 2-core")
    assert(core(3).subsetOf(core(2)) && core(4).subsetOf(core(3)),
      s"cores must nest: ${core.view.mapValues(_.size).toMap}")
    for (k <- 2 to 4; n <- core(k))
      assert(sym.count { case (s, d) => s == n && core(k)(d) } >= k,
        s"node $n in the $k-core has fewer than $k in-core neighbors")
  }

  test("minhashJaccardEst: exact dups estimate 1.0, error bounded, est consistent with n_eq") {
    val out = TextOps.minhashJaccardEst(docsDf, numHashes = 64, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(out.contains((0L, 1L)), s"exact dup pair missing from candidates: ${out.keySet}")
    val (nEq01, est01, exact01, err01) = out((0L, 1L))
    assert(nEq01 == 64L && est01 == 1.0 && exact01 == 1.0 && err01 == 0.0)
    for (((a, b), (nEq, est, exact, err)) <- out) {
      assert(nEq >= 0L && nEq <= 64L)
      assert(est == math.rint(nEq / 64.0 * 1e6) / 1e6, s"est_j not n_eq/64 for ($a,$b)")
      // 64-hash estimator: sd <= 1/(2*sqrt(64)) = 0.0625; 5 sigma guard
      assert(err <= 0.35, s"estimator error implausibly large for ($a,$b): est=$est exact=$exact")
    }
  }

  test("hllDistinctGrams: exact counts right, error within sketch bound, short docs drop out") {
    // src0: 400 distinct trigrams from a rolling token stream; src1:
    // small (12 grams -> linear-counting range); src2: only a too-short
    // doc, so it must be ABSENT from the output (no grams at all)
    val longText = (0 until 402).map(i => s"w${i * 7 % 997}").mkString(" ")
    val d = Seq(
      (0L, "src0", longText),
      (1L, "src1", "a b c d e f g h i j k l m n"),
      (2L, "src2", "x y")).toDF("doc_id", "source", "text")
    val rows = TextOps.hllDistinctGrams(d, n = 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(rows.keySet == Set("src0", "src1"), s"src2 must be absent: ${rows.keySet}")
    assert(rows("src0")._1 == 400L && rows("src1")._1 == 12L)
    // m=256 -> rse ~6.5%; allow 3 sigma on the large source, and the
    // linear-counting regime on the tiny one is typically tighter
    assert(rows("src0")._3 < 0.20, s"src0 rel_err too high: ${rows("src0")}")
    assert(rows("src1")._3 < 0.30, s"src1 rel_err too high: ${rows("src1")}")
  }

  test("hllDistinctGrams: estimate is partitioning-invariant (mergeable registers)") {
    val d = Seq.tabulate(40) { i =>
      (i.toLong, s"s${i % 2}", (0 until 20).map(j => s"t${(i * 31 + j * 7) % 211}").mkString(" "))
    }.toDF("doc_id", "source", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      TextOps.hllDistinctGrams(df, n = 3).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).sortBy(_._1).toSeq
    val a = run(d.repartition(1))
    val b = run(d.repartition(13, col("doc_id")))
    assert(a == b, s"estimate depends on partitioning:\n$a\n$b")
    assert(a.forall(_._3 > 0.0))
  }

  test("multi-probe LSH dominates single-probe recall (candidate superset)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 200)
    def mean(df: org.apache.spark.sql.DataFrame) = {
      val rows = df.collect().map(_.getAs[Double]("recall"))
      rows.sum / rows.length
    }
    val single = mean(VectorOps.annRecallAtK(e, numPlanes = 8, dims = 64, k = 5))
    val mp = mean(VectorOps.multiProbeRecallAtK(e, numPlanes = 8, dims = 64, k = 5))
    // the probe set contains the query's own bucket, so the candidate
    // set is a superset and per-query hits can only grow
    assert(mp >= single, s"multi-probe $mp < single $single")
    assert(mp > 0.0)
  }

  test("knnTriangles on a hand graph: counts and coefficients exact") {
    // directed ann rows for the undirected graph {1-2, 2-3, 1-3, 3-4}:
    // one triangle (1,2,3), node 4 pendant. Direction and duplicates
    // must not matter (symmetrize + distinct).
    val ann = Seq((1L, 2L), (3L, 2L), (1L, 3L), (4L, 3L), (2L, 1L))
      .toDF("query_id", "cand_id")
    val out = VectorOps.knnTriangles(ann).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((2L, 1L, 1.0)))
    assert(out(2L) == ((2L, 1L, 1.0)))
    assert(out(3L) == ((3L, 1L, 0.333333)))
    assert(out(4L) == ((1L, 0L, 0.0)))
  }

  test("knnLinkPrediction on hand graphs: wedge scores, anti-join, AA units exact") {
    // path 1-2-3 plus pendant 3-4: non-adjacent distance-2 pairs are
    // (1,3) via 2 and (2,4) via 3, both with cn=1 and deg(z)=2 ->
    // aa = round(1e9/ln 2)/1e9 = 1.442695; tie broken by (a,b)
    val ann = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("query_id", "cand_id")
    val out = VectorOps.knnLinkPrediction(ann, topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(out == Seq((1L, 3L, 1L, 1.442695), (2L, 4L, 1L, 1.442695)), s"got $out")
    // topK cuts on the total order: k=1 keeps the (a,b)-smaller pair
    val top1 = VectorOps.knnLinkPrediction(ann, topK = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top1 == Seq((1L, 3L)))
    // adjacent pairs never appear, even with many shared neighbors:
    // K4 minus nothing — every pair adjacent -> empty report
    val k4 = (for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j))
      .toDF("query_id", "cand_id")
    assert(VectorOps.knnLinkPrediction(k4, topK = 10).count() == 0L)
    // two common neighbors beat one: square 1-2-3-4-1 (no diagonals):
    // (1,3) and (2,4) each have cn=2 and beat nothing else; deg all 2
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("query_id", "cand_id")
    val sout = VectorOps.knnLinkPrediction(sq, topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(sout == Seq((1L, 3L, 2L, 2.885390), (2L, 4L, 2L, 2.885390)), s"got $sout")
  }

  test("knnTransitivity on hand graphs: triangle/wedge ratio exact") {
    // {1-2, 2-3, 1-3, 3-4}: 1 triangle; wedges = Σ d(d-1)/2 over
    // degrees (2,2,3,1) = 1+1+3+0 = 5 -> transitivity 3/5
    val ann = Seq((1L, 2L), (3L, 2L), (1L, 3L), (4L, 3L), (2L, 1L))
      .toDF("query_id", "cand_id")
    val r = VectorOps.knnTransitivity(ann).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((1L, 5L, 0.6)))
    // a star has wedges but no triangles -> exactly 0.0, not NULL
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("query_id", "cand_id")
    val s = VectorOps.knnTransitivity(star).collect()(0)
    assert((s.getLong(0), s.getLong(1), s.getDouble(2)) == ((0L, 3L, 0.0)))
    // a complete K4 closes every wedge -> exactly 1.0
    val k4 = (for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j))
      .toDF("query_id", "cand_id")
    val k = VectorOps.knnTransitivity(k4).collect()(0)
    assert((k.getLong(0), k.getLong(1), k.getDouble(2)) == ((4L, 12L, 1.0)))
  }

  test("knnModularity: hand-computed Newman Q on bridged triangles; K4 single community reads 0") {
    // two triangles bridged by one edge; LPA finds {0,1,2} / {3,4,5}.
    // sym edges 2m = 14, intra (directed) = 12, degrees (2,2,3,3,2,2)
    // -> D_A = D_B = 7, sum D^2 = 98.
    // Q = 12/14 - 98/196 = 5/14; micro face: round(5/14 * 1e6) = 357143
    val ann = Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L), (3L, 5L), (4L, 5L), (2L, 3L))
      .toDF("query_id", "cand_id")
    val r = VectorOps.knnModularity(ann, iters = 4).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((14L, 2L, 0.357143)))
    // K4 converges to one community: intra = 2m, sum D^2 = (2m)^2
    // -> Q = 1 - 1 = 0 exactly
    val k4 = (for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j))
      .toDF("query_id", "cand_id")
    val q4 = VectorOps.knnModularity(k4, iters = 4).collect()(0)
    assert((q4.getLong(0), q4.getLong(1), q4.getDouble(2)) == ((12L, 1L, 0.0)))
  }

  test("knnBfsDepths: path graph from an md5-seed walks one node per round; off-component unreached") {
    // md5("27") starts with '0' (seed); 1..6 do not. Path 27-1-2-3-4
    // yields one node per depth; the 5-6 component has no seed and
    // must be absent from the histogram.
    val ann = Seq((27L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L))
      .toDF("query_id", "cand_id")
    val out = VectorOps.knnBfsDepths(ann, maxDepth = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((0L, 1L), (1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)))
    // depth cap: maxDepth = 2 stops the walk at distance 2
    val capped = VectorOps.knnBfsDepths(ann, maxDepth = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(capped == Seq((0L, 1L), (1L, 1L), (2L, 1L)))
  }

  test("graph-family hybrid: local kernels == forced-distributed rounds (A/B)") {
    // the bounded-local gate contract (the CC A/B precedent):
    // labels, depth histograms, peel rounds and the modularity score
    // must be identical whichever side of the bound the graph lands on.
    // Mixed shape: a 100-node chain (adversarial for propagation), a
    // 7-clique, a star, one bridge — enough md5-'0' BFS seeds exist in
    // 0..199 for a non-trivial histogram.
    val chain = (0L until 99L).map(i => (i, i + 1))
    val clique = for (a <- 150L to 156L; b <- (a + 1) to 156L) yield (a, b)
    val star = (161L to 170L).map(b => (160L, b))
    val ann = (chain ++ clique ++ star ++ Seq((99L, 150L)))
      .toDF("query_id", "cand_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    def forced[A](f: => A): A = {
      val (r, moved) = graft.model.BoundedLocal.forcing(0L)(f)
      assert(moved >= 1, "the forced bound never reached the graph gate")
      r
    }
    val lpaL = rows(VectorOps.knnLabelPropagation(ann, iters = 4))
    val lpaD = forced(rows(VectorOps.knnLabelPropagation(ann, iters = 4)))
    assert(lpaL == lpaD, "LPA local diverged from distributed")
    val modL = rows(VectorOps.knnModularity(ann, iters = 4))
    val modD = forced(rows(VectorOps.knnModularity(ann, iters = 4)))
    assert(modL == modD, "modularity local diverged from distributed")
    val bfsL = rows(VectorOps.knnBfsDepths(ann, maxDepth = 4))
    val bfsD = forced(rows(VectorOps.knnBfsDepths(ann, maxDepth = 4)))
    assert(bfsL == bfsD, "BFS local diverged from distributed")
    assert(bfsL.nonEmpty, "BFS fixture must seed at least one node")
    val kcL = rows(VectorOps.knnKCore(ann, k = 2, rounds = 6))
    val kcD = forced(rows(VectorOps.knnKCore(ann, k = 2, rounds = 6)))
    assert(kcL == kcD, "k-core local diverged from distributed")
  }

  test("bradley-terry hybrid: local MM fit == forced-distributed rounds (A/B)") {
    // the bounded-local gate contract: strengths, games/wins and the
    // upset report are identical whichever side of the bound the duel
    // table lands on. Sources s0..s4 with deterministic varying token
    // counts so wins are asymmetric and several MM rounds move p.
    val docs = (0L until 60L).map { i =>
      (i, s"s${i % 5}", Seq.fill((i % 7 + 1).toInt)("w").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val duels = PrefOps.duelCut(docs)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    def forced[A](f: => A): A = {
      val (r, moved) = graft.model.BoundedLocal.forcing(0L)(f)
      assert(moved >= 1, "the forced bound never reached the duel gate")
      r
    }
    val btL = rows(PrefOps.bradleyTerryFrom(duels, iters = 3))
    val btD = forced(rows(PrefOps.bradleyTerryFrom(duels, iters = 3)))
    assert(btL == btD, "BT local fit diverged from distributed")
    assert(btL.nonEmpty)
    val upL = rows(PrefOps.upsetReportFrom(duels, iters = 3))
    val upD = forced(rows(PrefOps.upsetReportFrom(duels, iters = 3)))
    assert(upL == upD, "upset report local diverged from distributed")
  }
}
