package graftbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.geom.{Crs, CrsTransformer, GridMapping}
import graft.model.Tile

/** Seeded input generators. Every value is a pure function of
  * (seed, position), so inputs are generated distributed with
  * `spark.range(...).map` and any pixel or document can be recomputed
  * on the driver when an output is checked.
  */
object Gen {

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, a: Long, b: Long, c: Long = 0L): Long =
    mix(mix(mix(mix(seed) ^ a) ^ b) ^ c)
  /** Uniform in [0, 1). */
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  val Vars: Seq[String] = Seq("a", "b")

  // ---------------------------------------------------------------
  // reproject: a regular UTM 32N grid, smooth field + hashed noise,
  // ~0.1% NaN
  // ---------------------------------------------------------------

  val Utm32n: Crs = Crs.fromString("EPSG:32632")
  val Laea: Crs = Crs.fromString("EPSG:3035")
  val TileSize = 256
  val NanShare = 0.001

  final case class ReprojectGeom(src: GridMapping, dst: GridMapping)

  /** Source `n` x `n` at 100 m in UTM 32N; target at 100 m in LAEA
    * covering the source footprint.
    */
  def reprojectGeom(n: Int): ReprojectGeom = {
    val res = 100.0
    val src = GridMapping.regular(n, n, 400000.0, 5700000.0 - n * res, res, res, Utm32n,
      tileSize = Some((TileSize, TileSize)))
    val (x0, y0, x1, y1) = CrsTransformer(Utm32n, Laea)
      .transformBounds(src.xMin, src.yMin, src.xMax, src.yMax)
    val dx0 = math.floor(x0 / res) * res; val dy0 = math.floor(y0 / res) * res
    val w = math.ceil((x1 - dx0) / res).toInt; val h = math.ceil((y1 - dy0) / res).toInt
    ReprojectGeom(src, GridMapping.regular(w, h, dx0, dy0, res, res, Laea,
      tileSize = Some((TileSize, TileSize))))
  }

  /** Source pixel value; NaN on about [[NanShare]] of pixels. */
  def rasterValue(seed: Long, v: Int, gi: Int, gj: Int): Double = {
    val h = hash(seed, v, gi, gj)
    if (unit(h) < NanShare) Double.NaN
    else {
      val p = unit(hash(seed, v, -1, -1)) * 2 * math.Pi
      val q = unit(hash(seed, v, -2, -2)) * 2 * math.Pi
      50.0 + 20.0 * math.sin(2 * math.Pi * gi / 173.0 + p) * math.cos(2 * math.Pi * gj / 211.0 + q) +
        0.01 * (gi - gj) + 0.5 * (unit(mix(h)) - 0.5)
    }
  }

  def rasterTile(seed: Long, gm: GridMapping, v: Int, tj: Int, ti: Int): Tile = {
    val h = gm.tileH(tj); val w = gm.tileW(ti)
    val data = new Array[Double](h * w)
    var j = 0
    while (j < h) {
      var i = 0
      while (i < w) {
        data(j * w + i) = rasterValue(seed, v, ti * gm.tileWidth + i, tj * gm.tileHeight + j)
        i += 1
      }
      j += 1
    }
    Tile(Vars(v), 0, tj, ti, h, w, data)
  }

  def rasterTiles(spark: SparkSession, seed: Long, gm: GridMapping): Dataset[Tile] = {
    import spark.implicits._
    val nTx = gm.numTilesX; val nT = gm.numTiles; val g = gm
    spark.range(0L, nT.toLong * Vars.size, 1L, nT * Vars.size)
      .map { id =>
        val t = (id % nT).toInt
        rasterTile(seed, g, (id / nT).toInt, t / nTx, t % nTx)
      }
  }

  // ---------------------------------------------------------------
  // swath: a rotated, slightly curved geographic swath with 2D
  // lon/lat images and smooth analytic fields of (lon, lat); the
  // kernel probes of rectify's kernels run over one of its tiles
  // ---------------------------------------------------------------

  val Geographic: Crs = Crs.fromString("EPSG:4326")
  val SwathStep = 0.0025 // degrees per swath pixel
  val SwathTheta: Double = math.toRadians(12.0)
  val SwathLon0 = 5.0
  val SwathLat0 = 52.0

  def swathLon(n: Int, i: Int, j: Int): Double =
    SwathLon0 + SwathStep * (i * math.cos(SwathTheta) + j * math.sin(SwathTheta) +
      0.05 * j.toDouble * j / n)
  def swathLat(n: Int, i: Int, j: Int): Double =
    SwathLat0 - SwathStep * (-i * math.sin(SwathTheta) + j * math.cos(SwathTheta))

  /** The analytic field variable `v` samples at (lon, lat). */
  def swathField(seed: Long, v: Int, lon: Double, lat: Double): Double = {
    val p = unit(hash(seed, v, -3, -3)) * 2 * math.Pi
    val q = unit(hash(seed, v, -4, -4)) * 2 * math.Pi
    val wl = 100 * SwathStep
    100.0 + 10.0 * math.sin(2 * math.Pi * (lon - SwathLon0) / wl + p) *
      math.cos(2 * math.Pi * (lat - SwathLat0) / wl + q)
  }

  /** Regular geographic target `coarsen`x coarser than the swath step,
    * covering the swath footprint (bounds from its edge pixels).
    */
  def rectifyTarget(n: Int, coarsen: Int): GridMapping = {
    val edge = (0 until n).flatMap(k => Seq((k, 0), (k, n - 1), (0, k), (n - 1, k)))
    val lons = edge.map { case (i, j) => swathLon(n, i, j) }
    val lats = edge.map { case (i, j) => swathLat(n, i, j) }
    val res = coarsen * SwathStep
    val x0 = math.floor(lons.min / res) * res; val y0 = math.floor(lats.min / res) * res
    val w = math.ceil((lons.max - x0) / res).toInt; val h = math.ceil((lats.max - y0) / res).toInt
    GridMapping.regular(w, h, x0, y0, res, res, Geographic, tileSize = Some((TileSize, TileSize)))
  }

  // ---------------------------------------------------------------
  // dedup: a Zipf corpus with planted near-duplicates
  // ---------------------------------------------------------------

  val Vocab = 30000
  val ZipfS = 1.0
  val MinTokens = 100
  val MaxTokens = 400
  val CopyShare = 0.15
  val EditShare = 0.03

  /** Cumulative Zipf weights over ranks 1..[[Vocab]]. */
  lazy val zipfCdf: Array[Double] = {
    val c = new Array[Double](Vocab)
    var acc = 0.0
    var k = 0
    while (k < Vocab) { acc += 1.0 / math.pow(k + 1, ZipfS); c(k) = acc; k += 1 }
    c
  }

  def zipfRank(u: Double): Int = {
    val cdf = zipfCdf
    val target = u * cdf(Vocab - 1)
    var lo = 0; var hi = Vocab - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < target) lo = mid + 1 else hi = mid }
    lo
  }

  /** Word of rank `k`: 3 to 10 lowercase letters. The vocabulary is the
    * same for every seed (the seed draws the documents), so which words
    * dominate the MinHash minima, and with them the LSH candidate load
    * and the BPE vocabulary, does not change from seed to seed.
    */
  def word(k: Int): String = {
    val h0 = hash(0L, 0x77, k)
    val len = 3 + (h0 >>> 60).toInt % 8
    val sb = new StringBuilder(len)
    var h = h0; var t = 0
    while (t < len) { sb.append(('a' + ((h >>> 3) % 26).toInt).toChar); h = mix(h); t += 1 }
    sb.toString
  }

  /** Source of a planted near-duplicate, or -1 for an original. */
  def copySource(seed: Long, id: Long): Long =
    if (id > 0 && unit(hash(seed, 0x51, id)) < CopyShare)
      (unit(hash(seed, 0x52, id)) * id).toLong
    else -1L

  def docRanks(seed: Long, id: Long): Array[Int] = {
    val src = copySource(seed, id)
    if (src < 0) {
      val n = MinTokens + (mix(hash(seed, 0x53, id)) >>> 1) % (MaxTokens - MinTokens + 1)
      Array.tabulate(n.toInt)(t => zipfRank(unit(hash(seed, 0x54, id, t))))
    } else {
      val r = docRanks(seed, src)
      var t = 0
      while (t < r.length) {
        if (unit(hash(seed, 0x55, id, t)) < EditShare) r(t) = zipfRank(unit(hash(seed, 0x56, id, t)))
        t += 1
      }
      r
    }
  }

  def docText(seed: Long, words: Array[String], id: Long): String =
    docRanks(seed, id).map(words(_)).mkString(" ")

  val vocabulary: Array[String] = Array.tabulate(Vocab)(word)

  def corpus(spark: SparkSession, seed: Long, nDocs: Int): DataFrame = {
    import spark.implicits._
    val words = vocabulary
    val parts = math.max(1, spark.sparkContext.defaultParallelism * 4)
    spark.range(0L, nDocs.toLong, 1L, parts)
      .map(id => (id, docText(seed, words, id)))
      .toDF("doc_id", "text")
  }
}
