package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.geom.{CrsTransformer, GridMapping}
import graft.io.TileIO
import graft.kernel.{Interp, Window}
import graft.model.{Lineage, Policies, Tile}
import graft.model.Policies.Options
import graft.ops.{ReprojectOp, TileGather}
import graft.text.TextOps

/** Per-iteration facts a workload records besides its spans: counts
  * and sizes, each with its unit.
  */
final class Facts {
  val values = mutable.LinkedHashMap.empty[String, (String, mutable.ArrayBuffer[Double])]
  def add(name: String, unit: String, v: Double): Unit =
    values.getOrElseUpdate(name, (unit, mutable.ArrayBuffer.empty[Double]))._2 += v
}

/** One workload: its inputs (made in `setup`), the pipeline one
  * iteration runs through graft's public APIs (`iterate`, timed), and
  * the output check (`check`, untimed). `check` also releases what the
  * iteration materialized.
  */
abstract class Workload {
  def name: String
  /** Work units of one iteration and their name (for `items_per_s`). */
  def items: Long
  def itemName: String
  /** Input sizes, for the log line. */
  def inputs: Seq[(String, Double)]
  def setup(): Unit
  def iterate(iter: Int, tr: Tracer, facts: Facts): Unit
  /** Returns the checksum and the list of failed checks. */
  def check(iter: Int, tr: Tracer, facts: Facts): (Seq[(String, Double)], Seq[String])
  /** Checks of the set-up inputs, run once after `setup`. */
  def setupChecks(): Seq[String] = Nil
  /** Calls timed in their own root span after a traced iteration. */
  def probes(iter: Int, tr: Tracer): Unit = ()
}

object Workload {
  def rel(a: Double, b: Double): Double = math.abs(a - b) / math.max(1.0, math.abs(b))

  /** Sums per-tile partial sums in sorted tile order, so the total does
    * not depend on the order Spark returned the tiles in.
    */
  def orderedSums(rows: Seq[(String, Int, Int, Long, Double)]): Seq[(String, Double)] =
    rows.sortBy(r => (r._1, r._2, r._3)).groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (v, rs) =>
      val sorted = rs.sortBy(r => (r._2, r._3))
      var s = 0.0
      sorted.foreach(r => s += r._5)
      Seq(s"valid_$v" -> sorted.map(_._4).sum.toDouble, s"sum_$v" -> s)
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def policies(interp: Int): Map[String, Policies.VarPolicy] =
    Gen.Vars.map(v => v -> Policies.resolve(v, Policies.F64, interp = Options.of(interp))).toMap

  /** Kernel for `ops.gather`: sums the assembled window and nothing
    * else, so the span times shuffle, window assembly and encoders.
    */
  val sumKernel: (String, Int, Int, Int, Window) => Tile = (v, b, dtj, dti, win) => {
    var s = 0.0; var k = 0
    while (k < win.data.length) { val x = win.data(k); if (!x.isNaN) s += x; k += 1 }
    Tile(v, b, dtj, dti, 1, 1, Array(s))
  }

  def runGather(tiles: Dataset[Tile], srcGm: GridMapping, dst: GridMapping,
      windowOf: (Int, Int) => TileGather.WindowRow): Double = {
    val spark = tiles.sparkSession
    import spark.implicits._
    TileGather.gatherWithWindows(tiles, srcGm, dst.numTilesX, dst.numTilesY, windowOf, sumKernel)
      .map(_.data(0)).collect().sum
  }
}

/** Regular UTM 32N grid -> EPSG:3035 at the same resolution, bilinear,
  * written with `TileIO.writeTiles`.
  */
final class ReprojectWorkload(spark: SparkSession, seed: Long, n: Int, workDir: Path)
    extends Workload {
  import Workload._
  val name = "reproject"
  val geom: Gen.ReprojectGeom = Gen.reprojectGeom(n)
  private val pol = policies(Interp.BILINEAR)
  private val outPath = workDir.resolve("reproject-out").toString
  private var src: Dataset[Tile] = _

  def items: Long = geom.dst.width.toLong * geom.dst.height * Gen.Vars.size
  def itemName = "target px x vars"
  def inputs: Seq[(String, Double)] = Seq(
    "src_width" -> n.toDouble, "src_height" -> n.toDouble,
    "dst_width" -> geom.dst.width.toDouble, "dst_height" -> geom.dst.height.toDouble,
    "vars" -> Gen.Vars.size.toDouble, "nan_share" -> Gen.NanShare)

  def setup(): Unit = {
    if (src != null) Lineage.release(src)
    src = Lineage.cutDs(Gen.rasterTiles(spark, seed, geom.src), reliable = false)
  }

  def iterate(iter: Int, tr: Tracer, facts: Facts): Unit = {
    val out = tr.span("ops.reproject", iter) {
      val o = ReprojectOp.reproject(src, geom.src, geom.dst, pol)
      if (tr.enabled) Lineage.cutDs(o, reliable = false) else o
    }
    tr.span("io.write", iter)(TileIO.writeTiles(out, outPath, geom.dst))
    if (tr.enabled) Lineage.release(out)
    facts.add("io.write_mb", "MB", dirBytes(Paths.get(outPath)) / (1024.0 * 1024.0))
    facts.add("geom.transform_calls", "count (computed: target px x vars)", items.toDouble)
  }

  /** ReprojectOp's window plan (inverse transform_bounds of each target
    * tile); valid while the source needs no downscale prepass, which
    * `setupChecks` asserts.
    */
  private def windowOf: (Int, Int) => TileGather.WindowRow = {
    val s = geom.src; val d = geom.dst; val inv = CrsTransformer(d.crs, s.crs)
    (dtj: Int, dti: Int) => {
      val (bx0, by0, bx1, by1) = d.xyBboxOfTile(dtj, dti)
      val (sx0, sy0, sx1, sy1) = inv.transformBounds(bx0, by0, bx1, by1)
      val cx0 = s.xMin + s.xRes / 2; val cy0 = s.yMax - s.yRes / 2
      val ci0 = math.max(0, math.floor((sx0 - cx0) / s.xRes).toInt)
      val ci1 = math.min(s.width, math.ceil((sx1 - cx0) / s.xRes).toInt + 1)
      val cj0 = math.max(0, math.floor((cy0 - sy1) / s.yRes).toInt)
      val cj1 = math.min(s.height, math.ceil((cy0 - sy0) / s.yRes).toInt + 1)
      if (ci0 >= ci1 || cj0 >= cj1) TileGather.WindowRow(dtj, dti, -1, -1, -1, -1)
      else TileGather.WindowRow(dtj, dti, ci0, cj0, ci1, cj1)
    }
  }

  override def probes(iter: Int, tr: Tracer): Unit =
    tr.span("ops.gather", iter)(runGather(src, geom.src, geom.dst, windowOf))

  override def setupChecks(): Seq[String] = {
    val inv = CrsTransformer(geom.dst.crs, geom.src.crs)
    val (_, gm2) = ReprojectOp.downscaleSource(src, geom.src, geom.dst, inv, pol)
    if (gm2 != geom.src) Seq("reproject: source unexpectedly takes the downscale prepass") else Nil
  }

  private val Stride = 16

  def check(iter: Int, tr: Tracer, facts: Facts): (Seq[(String, Double)], Seq[String]) = {
    import spark.implicits._
    val (ds, gm) = TileIO.readTiles(spark, outPath)
    val fails = mutable.ArrayBuffer.empty[String]
    if (!gm.isClose(geom.dst) || gm.width != geom.dst.width || gm.height != geom.dst.height)
      fails += s"reproject: sidecar grid mapping $gm != ${geom.dst}"
    val stride = Stride
    val rows = ds.map { t =>
      var nValid = 0L; var s = 0.0; var k = 0
      while (k < t.data.length) { val x = t.data(k); if (!x.isNaN) { nValid += 1; s += x }; k += 1 }
      val samples = for (j <- 5 until t.h by stride; i <- 7 until t.w by stride) yield t.data(j * t.w + i)
      (t.varName, t.tj, t.ti, nValid, s, samples.toArray)
    }.collect()
    val nTiles = geom.dst.numTiles * Gen.Vars.size
    if (rows.length != nTiles) fails += s"reproject: ${rows.length} tiles read back, expected $nTiles"
    val sums = orderedSums(rows.map(r => (r._1, r._2, r._3, r._4, r._5)).toSeq)
    // the footprints cover about the same area (same resolution, small
    // scale distortion); a NaN source pixel voids up to 4 bilinear outputs
    for (v <- Gen.Vars) {
      val share = sums.toMap.getOrElse(s"valid_$v", 0.0) / (n.toDouble * n)
      if (share < 0.97 || share > 1.01) fails += f"reproject: valid share of $v is $share%.4f"
    }
    // independent recomputation of sampled pixels: inverse transform,
    // then bilinear over the generator's own source values
    val inv = CrsTransformer(geom.dst.crs, geom.src.crs)
    val s = geom.src; val d = geom.dst
    def srcVal(v: Int, i: Int, j: Int): Double =
      if (i < 0 || j < 0 || i >= s.width || j >= s.height) Double.NaN else Gen.rasterValue(seed, v, i, j)
    var bad = 0; var compared = 0
    rows.foreach { case (vn, tj, ti, _, _, samples) =>
      val v = Gen.Vars.indexOf(vn)
      val h = d.tileH(tj); val w = d.tileW(ti)
      var k = 0
      for (j <- 5 until h by stride; i <- 7 until w by stride) {
        val gi = ti * d.tileWidth + i; val gj = tj * d.tileHeight + j
        val (sx, sy) = inv.transformPoint(d.xMin + (gi + 0.5) * d.xRes, d.yMax - (gj + 0.5) * d.yRes)
        val fx = (sx - s.xMin) / s.xRes - 0.5; val fy = (s.yMax - sy) / s.yRes - 0.5
        val x0 = math.floor(fx).toInt; val x1 = math.ceil(fx).toInt
        val y0 = math.floor(fy).toInt; val y1 = math.ceil(fy).toInt
        val u = fx - x0; val w8 = fy - y0
        val a = srcVal(v, x0, y0) + u * (srcVal(v, x1, y0) - srcVal(v, x0, y0))
        val b = srcVal(v, x0, y1) + u * (srcVal(v, x1, y1) - srcVal(v, x0, y1))
        val expect = a + w8 * (b - a)
        val got = samples(k)
        compared += 1
        if (!(expect.isNaN && got.isNaN) && !(rel(got, expect) <= 1e-9)) bad += 1
        k += 1
      }
    }
    if (bad > 0) fails += s"reproject: $bad of $compared sampled pixels differ from the recomputed bilinear value"
    (sums, fails.toSeq)
  }
}

/** MinHash-LSH near-dup pairs -> connected-component keepers -> BPE
  * training over the keepers.
  */
final class DedupWorkload(spark: SparkSession, seed: Long, nDocs: Int) extends Workload {
  val name = "dedup"
  val NumHashes = 64
  val Bands = 16
  val Threshold = 0.8
  val Merges = 50
  private var docs: DataFrame = _
  private var live = List.empty[Dataset[_]]
  private var pairs: DataFrame = _
  private var keepers: DataFrame = _
  private var merges: Array[(Long, String, String, Long)] = _

  def items: Long = nDocs.toLong
  def itemName = "docs"
  def inputs: Seq[(String, Double)] = Seq(
    "docs" -> nDocs.toDouble, "vocab" -> Gen.Vocab.toDouble, "zipf_s" -> Gen.ZipfS,
    "min_tokens" -> Gen.MinTokens.toDouble, "max_tokens" -> Gen.MaxTokens.toDouble,
    "near_dup_share" -> Gen.CopyShare, "edit_share" -> Gen.EditShare)

  def setup(): Unit = {
    if (docs != null) Lineage.release(docs)
    docs = Lineage.cut(Gen.corpus(spark, seed, nDocs), reliable = false)
  }

  private def cut(df: DataFrame): DataFrame = {
    val c = Lineage.cut(df, reliable = false); live = c :: live; c
  }

  def iterate(iter: Int, tr: Tracer, facts: Facts): Unit = {
    import spark.implicits._
    pairs = tr.span("text.lsh", iter)(cut(TextOps.minhashLshPairs(docs, NumHashes, Bands, Threshold)))
    keepers = tr.span("text.cc", iter)(cut(TextOps.dedupKeepers(docs, pairs)))
    merges = tr.span("text.bpe", iter)(
      TextOps.bpeTrain(docs.join(keepers, Seq("doc_id"), "left_semi"), Merges)
        .as[(Long, String, String, Long)].collect())
  }

  def check(iter: Int, tr: Tracer, facts: Facts): (Seq[(String, Double)], Seq[String]) = {
    import spark.implicits._
    val fails = mutable.ArrayBuffer.empty[String]
    val ps = pairs.select(col("id_a"), col("id_b"), col("jaccard")).as[(Long, Long, Double)].collect()
    val keep = keepers.select(col("doc_id").cast("long")).as[Long].collect().toSet
    facts.add("text.lsh_pairs", "count", ps.length)
    facts.add("text.cc_edges", "count", ps.length)
    facts.add("text.keepers", "count", keep.size)

    // every verified pair is a real near-duplicate
    val words = Gen.vocabulary
    val sets = mutable.HashMap.empty[Long, Set[String]]
    def tokSet(id: Long): Set[String] = sets.getOrElseUpdate(id, Gen.docRanks(seed, id).map(words(_)).toSet)
    def jac(a: Long, b: Long): Double = {
      val x = tokSet(a); val y = tokSet(b); val i = (x intersect y).size
      i.toDouble / (x.size + y.size - i)
    }
    val badPairs = ps.count { case (a, b, j) => a >= b || jac(a, b) < Threshold || math.abs(jac(a, b) - j) > 1e-6 }
    if (badPairs > 0) fails += s"dedup: $badPairs verified pairs are not near-duplicates at $Threshold"
    // recall of the planted copies that are clearly above the threshold
    val pairSet = ps.map(p => (p._1, p._2)).toSet
    val planted = (1L until nDocs).flatMap { id =>
      val s = Gen.copySource(seed, id)
      if (s >= 0 && jac(s, id) >= 0.9) Some((s, id)) else None
    }
    val found = planted.count(pairSet.contains)
    if (planted.isEmpty || found < 0.99 * planted.size)
      fails += s"dedup: LSH found $found of ${planted.size} planted near-duplicates"
    // keepers are the smallest id of each connected component
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    ps.foreach { case (a, b, _) => val ra = find(a); val rb = find(b); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val expectKeep = (0L until nDocs).filter(id => find(id) == id).toSet
    if (keep != expectKeep) fails += s"dedup: ${keep.size} keepers, union-find over the pairs gives ${expectKeep.size}"
    // the merge table: all merges learned, ranks dense, and the winning
    // count never rises (a merge cannot create a pair more frequent than itself)
    if (merges.length != Merges) fails += s"dedup: ${merges.length} merges learned, expected $Merges"
    val ranks = merges.map(_._1).sorted.toSeq
    if (ranks != ranks.indices.map(_ + ranks.headOption.getOrElse(0L))) fails += "dedup: merge ranks are not dense"
    val byRank = merges.sortBy(_._1)
    if (byRank.sliding(2).exists(w => w.length == 2 && w(1)._4 > w(0)._4))
      fails += "dedup: a merge count rises along the merge table"
    val md = java.security.MessageDigest.getInstance("SHA-256")
    byRank.foreach(m => md.update(s"${m._1}\t${m._2}\t${m._3}\t${m._4}\n".getBytes("UTF-8")))
    val hash = java.nio.ByteBuffer.wrap(md.digest()).getLong >>> 11 // 53 bits: exact as a double
    live.foreach(Lineage.release)
    live = Nil
    (Seq("pairs" -> ps.length.toDouble, "keepers" -> keep.size.toDouble, "merge_hash" -> hash.toDouble),
      fails.toSeq)
  }
}
